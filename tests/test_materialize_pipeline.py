"""Graph store MERGE/lineage semantics + full-pipeline resume (FIXTURES.md T5).

Resume contract: run the job, kill it after the first committed partitions,
rerun — previously committed partitions are skipped and the final quad set
has no duplicates (identical to an uninterrupted run).
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from rio_spark.operators.materialize import GraphStore
from rio_spark.pipeline import run_pipeline
from rio_spark.sources.entity_dictionary import entity_dictionary
from rio_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    conformance_meta,
    synthetic_transcripts_pdf,
)
from rio_spark.testing.corpus import load_corpus

CORPUS = load_corpus()
N_CONVS = 120
# Spark jobs one run_pipeline group submits in test_pipeline_group_job_budget,
# as measured on 4 cores. The same group submitted 29 while local frames came
# from Python lists, MERGE computed its batch twice and cached a plan that
# scans the store, and manifest-named reads of more than 32 files ran a
# listing job.
JOB_BUDGET = 19


def quads(pdf_rows):
    return pd.DataFrame(
        pdf_rows, columns=["doc_id", "subject", "predicate", "object", "graph"]
    )


def test_merge_is_idempotent(spark, tmp_path):
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    batch = spark.createDataFrame(
        quads([("d", "<s>", "<p>", "<o>", None), ("d", "<s>", "<p>", "<o2>", "<g>")])
    )
    assert store.merge(spark, batch) == 2
    assert store.merge(spark, batch) == 0  # re-merge adds nothing
    assert store.graph(spark).count() == 2
    more = spark.createDataFrame(quads([("d", "<s>", "<p>", "<o3>", None)]))
    assert store.merge(spark, more) == 1
    assert store.graph(spark).count() == 3


def test_merge_prunes_buckets(spark, tmp_path):
    store = GraphStore(str(tmp_path / "store"), n_buckets=8)
    b1 = spark.createDataFrame(quads([("d", f"<s{i}>", "<p>", "<o>", None) for i in range(50)]))
    store.merge(spark, b1)
    # a single-subject batch must only scan its own bucket
    b2 = spark.createDataFrame(quads([("d", "<s1>", "<p>", "<oNEW>", None)]))
    assert store.merge(spark, b2) == 1


def test_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    store = GraphStore(str(tmp_path / "store"), n_buckets=8)
    batch = spark.createDataFrame(
        quads([("d", f"<s{i}>", "<p>", "<o>", None) for i in range(200)])
    ).repartition(8)
    assert store.merge(spark, batch) == 200
    files = store._live_files()
    buckets = {f.split("/", 1)[0] for f in files}
    assert len(buckets) == 8
    assert len(files) == len(buckets)
    more = spark.createDataFrame(
        quads([("d", f"<s{i}>", "<p>", "<o2>", None) for i in range(3)])
    ).repartition(8)
    assert store.merge(spark, more) == 3
    added = set(store._live_files()) - set(files)
    assert len(added) == len({f.split("/", 1)[0] for f in added}) <= 3


@pytest.fixture(scope="module")
def pipeline_inputs(spark):
    pdf, _ = synthetic_transcripts_pdf(N_CONVS, CORPUS)
    transcripts = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()
    meta = conformance_meta(N_CONVS, CORPUS)
    meta_df = spark.createDataFrame(
        meta[["conv_id", "format", "base_iri"]].where(pd.notnull(meta), None)
    )
    return transcripts, meta_df, entity_dictionary(spark)


@pytest.fixture(scope="module")
def parquet_transcripts(spark, pipeline_inputs, tmp_path_factory):
    """The pipeline inputs' transcripts read from parquet, as the product
    reads them. (With a cached DataFrame as input, AQE plans one table-cache
    stage per reader and reuses no exchange above them.)"""
    path = str(tmp_path_factory.mktemp("transcripts") / "t")
    pipeline_inputs[0].write.parquet(path)
    return spark.read.parquet(path)


def test_pipeline_end_to_end_and_resume(spark, tmp_path, pipeline_inputs):
    transcripts, meta_df, dictionary = pipeline_inputs

    # uninterrupted reference run
    full_store = GraphStore(str(tmp_path / "full"), n_buckets=8)
    rep_full = run_pipeline(
        spark, transcripts, full_store, "snap1", meta_df, dictionary, n_groups=4
    )
    assert rep_full.groups_committed == 4
    assert rep_full.triples_merged > 0
    full = full_store.graph(spark)
    n_full = full.count()
    assert (
        full.dropDuplicates(["subject", "predicate", "object", "graph"]).count() == n_full
    )

    # killed-after-2-groups run, then resume
    part_store = GraphStore(str(tmp_path / "resumed"), n_buckets=8)
    rep1 = run_pipeline(
        spark, transcripts, part_store, "snap1", meta_df, dictionary,
        n_groups=4, stop_after_groups=2,
    )
    assert rep1.groups_committed == 2
    rep2 = run_pipeline(
        spark, transcripts, part_store, "snap1", meta_df, dictionary, n_groups=4
    )
    assert rep2.groups_skipped == 2  # lineage skipped committed partitions
    assert rep2.groups_committed == 2
    resumed = part_store.graph(spark)
    assert resumed.count() == n_full
    # exact same quad set as the uninterrupted run
    key = ["subject", "predicate", "object", "graph"]
    assert resumed.select(key).exceptAll(full.select(key)).isEmpty()
    assert full.select(key).exceptAll(resumed.select(key)).isEmpty()
    # error rows were observed (corrupt convs exist in the corpus)
    assert rep_full.error_rows > 0


def test_lineage_rows_recorded(spark, tmp_path, pipeline_inputs):
    transcripts, meta_df, dictionary = pipeline_inputs
    store = GraphStore(str(tmp_path / "lin"), n_buckets=4)
    run_pipeline(spark, transcripts, store, "snapA", meta_df, dictionary, n_groups=3)
    lin = store.lineage(spark).toPandas()
    assert set(lin.partition_hash) == {"g0000", "g0001", "g0002"}
    assert (lin.triple_count >= 0).all()
    # second snapshot id reprocesses (lineage is per input snapshot)
    run_pipeline(spark, transcripts, store, "snapB", meta_df, dictionary, n_groups=3)
    lin2 = store.lineage(spark).toPandas()
    assert len(lin2) == 6
    snapB = lin2[lin2.input_snapshot_id == "snapB"]
    assert (snapB.triple_count == 0).all()  # nothing new: merge dedups


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_merge_leaves_no_cached_frame(spark, tmp_path, monkeypatch):
    """MERGE owns its cached new rows: a commit that raises still leaves the
    session's cache manager empty."""
    spark.catalog.clearCache()
    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    assert store.merge(spark, spark.createDataFrame(quads([("d", "<s>", "<p>", "<o>", None)]))) == 1

    def failing_commit(self, *args, **kwargs):
        raise OSError("manifest write failed")

    monkeypatch.setattr(GraphStore, "_commit", failing_commit)
    batch = spark.createDataFrame(quads([("d", "<s>", "<p>", "<o2>", None)]))
    with pytest.raises(OSError, match="manifest write failed"):
        store.merge(spark, batch)
    assert _cache_is_empty(spark)


def test_pipeline_parses_each_rdf_conversation_once(spark, tmp_path, pipeline_inputs, monkeypatch):
    """Every RDF-labelled conversation reaches the kernel stage exactly once
    per run, however many actions the group's canonicalization and MERGE
    take — also against a non-empty store, where MERGE adds its bounds scan
    and anti-join."""
    import rio_spark.pipeline as pipeline

    transcripts, meta_df, dictionary = pipeline_inputs
    store = GraphStore(str(tmp_path / "store"), n_buckets=8)
    first = run_pipeline(spark, transcripts, store, "first", meta_df, dictionary, n_groups=2)
    assert first.triples_merged > 0 and first.error_rows > 0

    parsed = spark.sparkContext.accumulator(0)
    extract = pipeline.extract_triples

    def counted_extract(docs, *args, **kwargs):
        def count(batches):
            for batch in batches:
                parsed.add(batch.num_rows)
                yield batch

        return extract(docs.mapInArrow(count, docs.schema), *args, **kwargs)

    monkeypatch.setattr(pipeline, "extract_triples", counted_extract)
    again = run_pipeline(spark, transcripts, store, "again", meta_df, dictionary, n_groups=2)
    n_rdf = meta_df.filter(F.col("format").isNotNull()).count()
    assert parsed.value == n_rdf
    assert again.error_rows == first.error_rows
    assert again.triples_merged == 0


def test_pipeline_leaves_no_cached_frame(spark, tmp_path, pipeline_inputs):
    """The group frame's lifetime ends inside the group step: after a run
    the session's cache manager holds nothing."""
    transcripts, meta_df, dictionary = pipeline_inputs
    spark.catalog.clearCache()
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    rep = run_pipeline(spark, transcripts, store, "s", meta_df, dictionary, n_groups=1)
    assert rep.triples_merged > 0
    assert _cache_is_empty(spark)


def _row_counter(spark):
    """A pass-through ``mapInArrow`` and the accumulator it adds every row
    it passes to: wrapped around a frame, it counts how often the frame's
    rows are computed."""
    seen = spark.sparkContext.accumulator(0)

    def wrap(df):
        def count(batches):
            for batch in batches:
                seen.add(batch.num_rows)
                yield batch

        return df.mapInArrow(count, df.schema)

    return seen, wrap


def test_merge_into_non_empty_store_reads_its_input_once(spark, tmp_path):
    """MERGE computes its input once: the bounds aggregate and the
    anti-join share one persisted batch."""
    schema = "doc_id string, subject string, predicate string, object string, graph string"
    rows = [("d", f"<http://e/s{i}>", "<http://p/x>", f'"{i % 3}"', None) for i in range(40)]
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    assert store.merge(spark, spark.createDataFrame(rows[:20], schema)) == 20
    seen, wrap = _row_counter(spark)
    assert store.merge(spark, wrap(spark.createDataFrame(rows, schema))) == 20
    assert seen.value == len(rows)


def test_pipeline_reads_each_transcript_row_once_per_group(
    spark, tmp_path, pipeline_inputs, parquet_transcripts
):
    """The extraction and linking branches share one assembly: each group
    reads its transcripts once (every group scans the whole input, whose
    group filter sits above the counter)."""
    _, meta_df, dictionary = pipeline_inputs
    transcripts = parquet_transcripts
    seen, wrap = _row_counter(spark)
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    rep = run_pipeline(spark, wrap(transcripts), store, "s", meta_df, dictionary, n_groups=2)
    assert rep.triples_merged > 0
    assert seen.value == 2 * transcripts.count()


def test_pipeline_drops_turns_without_conv_id(spark, tmp_path):
    """A turn with a NULL conv_id belongs to no document and merges no
    quad. Linked, it would become a NULL-subject quad that MERGE's
    anti-join never matches, so every rerun would merge it again."""
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    transcripts = spark.createDataFrame(
        [("conv_a", 0, "user", "Alice Johnson flew to Paris", None, ts),
         (None, 0, "user", "Bob Smith flew to Tokyo", None, ts)],
        TRANSCRIPT_SCHEMA,
    )
    dictionary = entity_dictionary(spark)
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    first = run_pipeline(spark, transcripts, store, "s1", dictionary=dictionary, n_groups=1)
    assert first.triples_merged > 0
    assert store.graph(spark).filter(F.col("subject").isNull()).count() == 0
    again = run_pipeline(spark, transcripts, store, "s2", dictionary=dictionary, n_groups=1)
    assert again.triples_merged == 0


def test_pipeline_group_job_budget(
    spark, tmp_path, pipeline_inputs, parquet_transcripts, monkeypatch
):
    """One group into a store whose touched buckets hold more than 32 live
    files submits a fixed, small number of Spark jobs: no listing job for
    MERGE's manifest-named read, no job to build a local frame, one
    assembly and one MERGE batch."""
    _, meta_df, dictionary = pipeline_inputs
    transcripts = parquet_transcripts
    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    for k in range(9):  # 9 merges x 4 buckets; '!' and '~' bound every batch
        store.merge(spark, spark.createDataFrame(
            [(f"<{c}{i}>", "<http://p/x>", f'"{k}"', None) for c in "!~" for i in range(20)],
            "subject string, predicate string, object string, graph string",
        ))
    scanned = []
    real = GraphStore._read_files

    def spy(self, sp, files):
        scanned.append(len(files))
        return real(self, sp, files)

    monkeypatch.setattr(GraphStore, "_read_files", spy)
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-job-budget", "one run_pipeline group")
    try:
        rep = run_pipeline(spark, transcripts, store, "s", meta_df, dictionary, n_groups=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline-job-budget"))
    assert rep.triples_merged > 0
    assert max(scanned) > 32
    assert n_jobs <= JOB_BUDGET, n_jobs


def test_streaming_pipeline_matches_batch_and_resumes(spark, tmp_path, pipeline_inputs):
    """run_streaming_pipeline over the same transcripts landed as 2 files
    builds the same quad set as run_pipeline, records one lineage row per
    micro-batch (plus a ``batch-<id>-errors`` row when it has error rows),
    leaves no cached frame, and a restart on the same checkpoint merges
    nothing."""
    from rio_spark.streaming.materialize import run_streaming_pipeline

    transcripts, meta_df, dictionary = pipeline_inputs
    key = ["subject", "predicate", "object", "graph"]
    batch_store = GraphStore(str(tmp_path / "batch"), n_buckets=4)
    rep = run_pipeline(spark, transcripts, batch_store, "b", meta_df, dictionary, n_groups=2)

    landing = tmp_path / "landing"
    for i in range(2):  # complete conversations per file
        transcripts.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == i).coalesce(1).write.parquet(
            str(landing / f"f{i}")
        )
    store = GraphStore(str(tmp_path / "stream"), n_buckets=4)

    def replay():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(landing))
        )
        run_streaming_pipeline(
            stream, store, "s", str(tmp_path / "ckpt"), meta_df, dictionary
        ).awaitTermination()

    spark.catalog.clearCache()
    replay()
    assert _cache_is_empty(spark)
    streamed = store.graph(spark).select(key)
    batched = batch_store.graph(spark).select(key)
    assert streamed.count() == batched.count() > 0
    assert streamed.exceptAll(batched).isEmpty() and batched.exceptAll(streamed).isEmpty()
    lin = store.lineage(spark).toPandas()
    errs = lin.partition_hash.str.endswith("-errors")
    assert sorted(lin.partition_hash[~errs]) == ["batch-0", "batch-1"]
    assert int(lin.triple_count[~errs].sum()) == rep.triples_merged
    assert int(lin.triple_count[errs].sum()) == rep.error_rows > 0

    snapshot = store.current_snapshot()
    replay()  # same checkpoint: both files already processed
    assert store.current_snapshot() == snapshot
    assert len(store.lineage(spark).toPandas()) == len(lin)


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    """compact() must cut per-bucket file counts without changing a single
    quad, leave under-threshold buckets alone, keep lineage untouched, and
    leave MERGE dedup working against the rewritten files."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    # 6 incremental merges -> >= 6 files per touched bucket
    for i in range(6):
        batch = spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(20)],
            "subject string, predicate string, object string, graph string",
        )
        store.merge(spark, batch)
    store.commit_lineage(spark, "snap-c", "gX", 120)

    def rows():
        return sorted(
            map(tuple, store.graph(spark).select(
                "subject", "predicate", "object", "graph", "p_bucket").collect())
        )

    def live_files_per_bucket():
        from collections import Counter
        return Counter(f.split("/", 1)[0] for f in store._live_files())

    before_rows, before_files = rows(), live_files_per_bucket()
    assert max(before_files.values()) >= 6

    report = store.compact(spark, min_files=4, target_rows_per_file=10_000)
    assert report, "no bucket compacted"
    after_files = live_files_per_bucket()
    for bdir, (fb, fa) in ((f"p_bucket={b}", v) for b, v in report.items()):
        assert after_files[bdir] == fa < fb
    assert rows() == before_rows
    assert store.lineage(spark).count() == 1
    # pre-compaction files stay on disk for pinned snapshots until expiry;
    # after expiry only the live file set remains
    assert len(store._list_data_files()) > sum(after_files.values())
    assert store.expire_snapshots(keep_last=1) > 0
    assert len(store._list_data_files()) == sum(after_files.values())
    assert rows() == before_rows
    # merge after compaction still dedups against the rewritten files
    dup = spark.createDataFrame(
        [("<http://e/s0_0>", "<http://p/x>", '"0"', None)],
        "subject string, predicate string, object string, graph string",
    )
    assert store.merge(spark, dup) == 0


def test_snapshot_commit_crash_windows(spark, tmp_path):
    """The manifest commit protocol makes every crash window a no-op: data
    files without a manifest are invisible orphans, an un-flipped manifest
    is inert (and can never collide with the next commit), and the CURRENT
    flip itself is one atomic rename. Reads are pure and snapshot-pinned."""
    import json
    from pathlib import Path

    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=1)
    for i in range(3):
        batch = spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(10)],
            "subject string, predicate string, object string, graph string",
        )
        store.merge(spark, batch)

    def rows(snapshot=None):
        return sorted(
            map(tuple, store.graph(spark, snapshot=snapshot).select(
                "subject", "predicate", "object", "graph").collect())
        )

    expected = rows()
    assert len(expected) == 30
    cur = store.current_snapshot()

    # crash window 1: data files appended but no manifest committed — the
    # orphan is invisible to readers and swept by expiry
    bucket = Path(store.graph_dir) / "p_bucket=0"
    orphan_src = next(bucket.glob("*.parquet"))
    orphan = bucket / "part-orphan-from-crashed-merge.parquet"
    orphan.write_bytes(orphan_src.read_bytes())
    assert rows() == expected
    assert orphan.exists()  # pure read: nothing deleted

    # crash window 2: manifest written but CURRENT not flipped — inert, and
    # the next commit numbers past it (max-on-disk + 1, no collision)
    stray_n = cur + 7
    (store.manifests_dir / f"manifest-{stray_n}.json").write_text(json.dumps(
        {"snapshot": stray_n, "parent": cur, "op": "merge",
         "files": [], "n_files": 0, "committed_at": 0.0}
    ))
    assert rows() == expected
    assert store.merge(spark, spark.createDataFrame(
        [("<http://e/new>", "<http://p/x>", '"n"', None)],
        "subject string, predicate string, object string, graph string",
    )) == 1
    assert store.current_snapshot() == stray_n + 1
    assert len(rows()) == 31

    # expiry sweeps the orphan and the stray manifest's era but keeps the
    # live snapshot intact
    removed = store.expire_snapshots(keep_last=1)
    assert removed >= 1 and not orphan.exists()
    assert len(rows()) == 31


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    """Each merge/compact is one atomic snapshot: readers pinned to an old
    snapshot keep reading it through later merges, compactions, AND the
    compaction's file rewrite (old files stay until expiry); expired
    snapshots raise."""
    import pytest as _pytest

    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=1)

    def merge_batch(i, n=10):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(n)],
            "subject string, predicate string, object string, graph string",
        ))

    merge_batch(0)
    s0 = store.current_snapshot()
    for i in range(1, 6):
        merge_batch(i)
    s5 = store.current_snapshot()
    assert store.graph(spark, snapshot=s0).count() == 10
    assert store.graph(spark, snapshot=s5).count() == 60

    # compaction flips metadata only: the pre-compact snapshot still reads
    # its ORIGINAL files, the live snapshot reads the rewrite, contents equal
    report = store.compact(spark, min_files=4, target_rows_per_file=10_000)
    assert 0 in report
    assert store.graph(spark, snapshot=s5).count() == 60
    assert store.graph(spark).count() == 60
    ops = {s["snapshot"]: s["op"] for s in store.snapshots()}
    assert ops[store.current_snapshot()] == "compact"

    # expiry drops the old manifests; time travel to them now raises
    store.expire_snapshots(keep_last=1)
    with _pytest.raises(ValueError, match="expired"):
        store.graph(spark, snapshot=s0)
    assert store.graph(spark).count() == 60


def _devolved_legacy_store(spark, tmp_path):
    """Build a 3-merge store, then devolve it to the pre-manifest layout
    crashed mid-compaction by the OLD code (complete rewrite staged in
    p_bucket=0.compacting, live dir renamed away; stale .old leftover)."""
    import shutil
    from pathlib import Path

    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    for i in range(3):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(10)],
            "subject string, predicate string, object string, graph string",
        ))
    expected = sorted(map(tuple, store.graph(spark).select(
        "subject", "predicate", "object").collect()))

    shutil.rmtree(store.manifests_dir)
    root = Path(store.graph_dir)
    (root / "p_bucket=0").rename(root / "p_bucket=0.compacting")
    (root / "p_bucket=1.old").mkdir()             # post-swap leftover
    return store, root, expected


def test_legacy_read_refuses_staged_swap_then_migrates(spark, tmp_path):
    """Pure reads must NOT silently serve a partial bucket set from a
    legacy store with interrupted-compaction staging dirs (r5 advice):
    they fail loudly; migrate_legacy() is the read-only consumer's
    recovery entry point and loses nothing."""
    import pytest

    store, root, expected = _devolved_legacy_store(spark, tmp_path)

    with pytest.raises(RuntimeError, match="migrate_legacy"):
        store.graph(spark).count()
    # the refusing read stayed pure: staging dirs untouched
    assert (root / "p_bucket=0.compacting").exists()
    assert (root / "p_bucket=1.old").exists()

    store.migrate_legacy()
    assert (root / "p_bucket=0").exists()
    assert not (root / "p_bucket=0.compacting").exists()
    assert not (root / "p_bucket=1.old").exists()
    got = sorted(map(tuple, store.graph(spark).select(
        "subject", "predicate", "object").collect()))
    assert got == expected
    assert [s["op"] for s in store.snapshots()] == ["bootstrap"]


def test_legacy_store_migration_recovers_old_swap_dirs(spark, tmp_path):
    """The first WRITE on the new format must promote the staging dir,
    bootstrap the file set as a snapshot, and lose nothing — no explicit
    migrate_legacy() call needed on the write path."""
    store, root, expected = _devolved_legacy_store(spark, tmp_path)

    assert store.merge(spark, spark.createDataFrame(
        [("<http://e/new>", "<http://p/x>", '"n"', None)],
        "subject string, predicate string, object string, graph string",
    )) == 1
    assert (root / "p_bucket=0").exists()
    assert not (root / "p_bucket=0.compacting").exists()
    assert not (root / "p_bucket=1.old").exists()
    got = sorted(map(tuple, store.graph(spark).select(
        "subject", "predicate", "object").collect()))
    assert got == sorted(expected + [("<http://e/new>", "<http://p/x>", '"n"')])
    ops = [s["op"] for s in store.snapshots()]
    assert ops[0] == "bootstrap" and ops[-1] == "merge"


def test_snapshots_df_metadata_table(spark, tmp_path):
    """snapshots_df is the store's Iceberg-style metadata table: one row per
    manifest with op lineage, file deltas vs the parent, byte footprint of
    live files (null once expiry has swept a referenced file), and exactly
    one is_current row."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    assert store.snapshots_df(spark).count() == 0  # empty store: empty table

    def merge_batch(i, n=10):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(n)],
            "subject string, predicate string, object string, graph string",
        ))

    for i in range(3):
        merge_batch(i)
    store.compact(spark, min_files=2, target_rows_per_file=10_000)

    rows = {r["snapshot"]: r for r in store.snapshots_df(spark).collect()}
    snaps = store.snapshots()
    assert set(rows) == {s["snapshot"] for s in snaps}
    cur = store.current_snapshot()
    assert [n for n, r in rows.items() if r["is_current"]] == [cur]
    assert rows[cur]["op"] == "compact"
    # parent chain matches the manifests; merge rows only ever add files
    for s in snaps:
        assert rows[s["snapshot"]]["parent"] == s["parent"]
        assert rows[s["snapshot"]]["n_files"] == s["n_files"]
        if s["op"] == "merge":
            assert rows[s["snapshot"]]["removed_files"] == 0
            assert rows[s["snapshot"]]["added_files"] > 0
    # compaction swapped files: both deltas nonzero, content bytes live
    # (the empty init snapshot truthfully reports 0 bytes)
    assert rows[cur]["added_files"] > 0 and rows[cur]["removed_files"] > 0
    assert all(
        r["bytes"] and r["bytes"] > 0
        for r in rows.values() if r["n_files"] > 0
    )

    # expiry sweeps files older snapshots referenced exclusively: their
    # bytes go null (manifest kept only for the surviving tail), while the
    # kept snapshot still stats fully
    first = min(rows)
    store.expire_snapshots(keep_last=1)
    kept = {r["snapshot"]: r for r in store.snapshots_df(spark).collect()}
    assert first not in kept
    assert kept[cur]["bytes"] and kept[cur]["bytes"] > 0


def test_graph_as_of_timestamp_time_travel(spark, tmp_path):
    """graph(as_of=ts) is TIMESTAMP-AS-OF time travel: it reads the newest
    snapshot committed at or before ts, refuses a ts older than all
    history, and refuses snapshot+as_of together."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    for i in range(2):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}>", "<http://p/x>", f'"{i}"', None)],
            "subject string, predicate string, object string, graph string",
        ))
    snaps = store.snapshots()
    merges = [s for s in snaps if s["op"] == "merge"]
    t_first, t_second = merges[0]["committed_at"], merges[1]["committed_at"]

    # pinned between the two merges: only the first triple is visible
    assert store.snapshot_as_of(t_first) == merges[0]["snapshot"]
    mid = store.graph(spark, as_of=(t_first + t_second) / 2)
    assert [r["object"] for r in mid.collect()] == ['"0"']
    # at-or-after the second commit: both visible (<= boundary is inclusive)
    assert store.graph(spark, as_of=t_second).count() == 2
    assert store.graph(spark, as_of=t_second + 1e6).count() == 2

    with pytest.raises(ValueError, match="no snapshot committed"):
        store.snapshot_as_of(snaps[0]["committed_at"] - 1.0)
    with pytest.raises(ValueError, match="at most one"):
        store.graph(spark, snapshot=0, as_of=t_first)


def test_files_df_rollback_and_incremental_scan(spark, tmp_path):
    """The maintenance/CDC surface: files_df is the Iceberg-style
    ``table.files`` (footer row counts, byte sizes, snapshot-pinned),
    rollback is one more crash-safe commit that restores an old file
    list, and added_quads is the incremental append scan — merge deltas
    only, compaction-invariant, refusing expired history."""
    from rio_spark.operators.materialize import GraphStore

    def batch(i, n):
        return spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(n)],
            "subject string, predicate string, object string, graph string",
        )

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    store.merge(spark, batch(0, 8))
    snap0 = store.current_snapshot()
    store.merge(spark, batch(1, 5))

    # files_df: footer row counts sum to the live quad count, per snapshot
    fd = store.files_df(spark).toPandas()
    assert fd["rows"].sum() == 13 and (fd["bytes"] > 0).all()
    assert set(fd["bucket"]) <= {0, 1}
    assert sorted(fd["file"]) == store._live_files()
    assert store.files_df(spark, snapshot=snap0).toPandas()["rows"].sum() == 8

    # incremental scan: (snap0, current] is exactly the second batch;
    # compaction rewrites files but adds no quads to the delta
    def added_subjects(since):
        return sorted(
            r["subject"] for r in store.added_quads(spark, since).collect()
        )
    b1_subjects = sorted(f"<http://e/s1_{j}>" for j in range(5))
    assert added_subjects(snap0) == b1_subjects
    store.compact(spark, min_files=2, target_rows_per_file=10_000)
    assert added_subjects(snap0) == b1_subjects
    store.merge(spark, batch(2, 3))
    assert len(added_subjects(snap0)) == 8  # b1 + b2
    assert store.added_quads(spark, store.current_snapshot()).count() == 0
    assert len(added_subjects(-1)) == 13 + 3  # full history from before init

    # rollback: CURRENT flips to snap0's file list via a NEW commit;
    # history stays readable and a re-merge dedups against the rolled-back
    # live set (so the rolled-back-over quads genuinely re-add)
    store.rollback(snap0)
    assert store.graph(spark).count() == 8
    cur = {r["snapshot"]: r for r in store.snapshots_df(spark).collect()}
    current_row = [r for r in cur.values() if r["is_current"]][0]
    assert current_row["op"] == "rollback"
    assert store.graph(spark, snapshot=snap0 + 1).count() == 13  # history intact
    assert store.merge(spark, batch(1, 5)) == 5

    with pytest.raises(ValueError):
        store.rollback(9999)
    # a range containing the rollback is not append-only: the re-merged
    # quads would double-count, so the delta is refused outright
    with pytest.raises(ValueError, match="append-only"):
        store.added_quads(spark, snap0)
    # keep_last=0 would silently keep everything (snaps[-0:] is the whole
    # list) — refused loudly instead
    with pytest.raises(ValueError, match="keep_last"):
        store.expire_snapshots(keep_last=0)
    # expiry cuts incremental history: deltas needing an expired parent fail
    store.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        store.added_quads(spark, -1)


def test_store_maintenance_cli(spark, tmp_path, monkeypatch, capsys):
    """The maintenance CLI is a thin JSON-emitting wrapper over the tested
    store methods: every subcommand runs against a real store in-process
    and prints one parseable line."""
    import json as _json

    from jobs.store_maintenance import main as maint_main
    from rio_spark.operators.materialize import GraphStore

    root = str(tmp_path / "store")
    store = GraphStore(root, n_buckets=2)
    for i in range(3):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(4)],
            "subject string, predicate string, object string, graph string",
        ))
    snap0 = [s["snapshot"] for s in store.snapshots() if s["op"] == "merge"][0]

    def run(*argv):
        monkeypatch.setattr("sys.argv", ["store_maintenance.py", *argv])
        assert maint_main() == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert len(run("snapshots", "--store", root)["snapshots"]) == 4
    files = run("files", "--store", root)
    assert files["rows"] == 12 and files["n_files"] >= 2
    assert run("delta", "--store", root, "--since", str(snap0))["quads_added"] == 8
    compacted = run("compact", "--store", root, "--min-files", "2")
    assert compacted["buckets_rewritten"]
    rb = run("rollback", "--store", root, "--to", str(snap0))
    assert store.graph(spark).count() == 4 and rb["new_snapshot"] > snap0
    assert run("expire", "--store", root, "--keep-last", "1")["data_files_deleted"] > 0


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Tags are named, expiry-protected snapshot refs: graph(tag=) reads
    the pinned version, expire keeps a tagged snapshot and all its files
    while sweeping untagged history, and dropping the tag releases it."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    for i in range(3):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://e/s{i}_{j}>", "<http://p/x>", f'"{j}"', None) for j in range(4)],
            "subject string, predicate string, object string, graph string",
        ))
    merges = [s["snapshot"] for s in store.snapshots() if s["op"] == "merge"]

    assert store.create_tag("v1", merges[0]) == merges[0]
    store.create_tag("latest")  # defaults to CURRENT
    assert store.tags() == {"v1": merges[0], "latest": merges[-1]}
    assert store.graph(spark, tag="v1").count() == 4

    with pytest.raises(ValueError, match="already points"):
        store.create_tag("v1", merges[1])
    with pytest.raises(ValueError, match="unknown tag"):
        store.graph(spark, tag="nope").count()
    with pytest.raises(ValueError, match="at most one"):
        store.graph(spark, snapshot=merges[0], tag="v1")

    # snapshots_df carries the refs
    sd = {r["snapshot"]: r["tags"] for r in store.snapshots_df(spark).collect()}
    assert sd[merges[0]] == ["v1"] and sd[merges[-1]] == ["latest"]

    # expiry keeps the tagged snapshot and its files; untagged middle goes
    store.expire_snapshots(keep_last=1)
    kept = {s["snapshot"] for s in store.snapshots()}
    assert merges[0] in kept and merges[1] not in kept
    assert store.graph(spark, tag="v1").count() == 4  # files intact

    # dropping the tag releases it to the next expiry
    store.drop_tag("v1")
    with pytest.raises(ValueError, match="unknown tag"):
        store.drop_tag("v1")
    store.expire_snapshots(keep_last=1)
    assert merges[0] not in {s["snapshot"] for s in store.snapshots()}
    assert store.graph(spark).count() == 12  # live untouched throughout


def test_commit_conflict_tripwire(spark, tmp_path):
    """A commit planned against a base snapshot refuses to flip CURRENT if
    another writer committed meanwhile (optimistic-concurrency detection);
    sequential writers through separate handles never trip it."""
    from rio_spark.operators.materialize import CommitConflict, GraphStore

    root = str(tmp_path / "store")
    a, b = GraphStore(root, n_buckets=2), GraphStore(root, n_buckets=2)

    def batch(i):
        return spark.createDataFrame(
            [(f"<http://e/s{i}>", "<http://p/x>", '"v"', None)],
            "subject string, predicate string, object string, graph string",
        )

    assert a.merge(spark, batch(0)) == 1
    assert b.merge(spark, batch(1)) == 1  # sequential handles: no conflict

    # writer A plans against CURRENT, writer B commits in between -> A must
    # refuse (its file list would silently drop B's rows)
    base = a.current_snapshot()
    files_planned = set(a._live_files(base))
    assert b.merge(spark, batch(2)) == 1
    with pytest.raises(CommitConflict, match="planned against"):
        a._commit(files_planned, "merge", expect_parent=base)
    # B's row survived and the store is still consistent
    assert a.graph(spark).count() == 3
    assert a.merge(spark, batch(3)) == 1  # fresh read plans cleanly


def test_merge_skips_files_via_manifest_subject_bounds(spark, tmp_path, monkeypatch):
    """Manifest column bounds give file-level skipping WITHIN a bucket: a
    merge's anti-join never reads live files whose [min,max] subject range
    cannot overlap the batch, dedup stays exact across the pruned scan,
    and compaction/rollback carry the bounds forward."""
    from rio_spark.operators.materialize import GraphStore

    def batch(prefix, n=6):
        return spark.createDataFrame(
            [(f"<http://{prefix}/s{j}>", "<http://p/x>", f'"{j}"', None) for j in range(n)],
            "subject string, predicate string, object string, graph string",
        )

    store = GraphStore(str(tmp_path / "store"), n_buckets=1)  # one bucket: only
    store.merge(spark, batch("aaa"))                          # bounds can prune
    store.merge(spark, batch("zzz"))
    m = store._read_manifest(store.current_snapshot())
    assert set(m["bounds"]) == set(m["files"])  # every live file has bounds

    scanned: list[list[str]] = []
    real = GraphStore._read_files

    def spy(self, spark_, files):
        scanned.append(list(files))
        return real(self, spark_, files)

    monkeypatch.setattr(GraphStore, "_read_files", spy)

    # batch inside the aaa range: the zzz files must be skipped, dedup exact
    dup_and_new = spark.createDataFrame(
        [("<http://aaa/s0>", "<http://p/x>", '"0"', None),
         ("<http://aaa/sNEW>", "<http://p/x>", '"n"', None)],
        "subject string, predicate string, object string, graph string",
    )
    assert store.merge(spark, dup_and_new) == 1
    anti_scan = scanned[0]
    assert anti_scan
    live_bounds = m["bounds"]
    assert all(live_bounds[f][0] < "<http://b" for f in anti_scan if f in live_bounds), (
        "a zzz-range file leaked into the pruned anti-join scan")

    # out-of-range batch scans nothing at all (empty file list, still exact)
    scanned.clear()
    assert store.merge(spark, batch("mmm", 2)) == 2
    assert scanned[0] == []

    monkeypatch.undo()
    # compaction recomputes bounds for rewritten files; dedup still exact
    store.compact(spark, min_files=2, target_rows_per_file=10_000)
    m2 = store._read_manifest(store.current_snapshot())
    assert set(m2["bounds"]) == set(m2["files"])
    assert store.merge(spark, batch("zzz")) == 0  # all dups found post-compact
    # rollback carries the target's bounds
    store.rollback(store.current_snapshot() - 1)
    m3 = store._read_manifest(store.current_snapshot())
    assert m3["op"] == "rollback" and set(m3["bounds"]) == set(m3["files"])


def test_merge_into_pre_bounds_manifest_scans_all(spark, tmp_path):
    """Backward compat: a manifest written before subject bounds existed
    (no "bounds" key) degrades to bucket-level pruning — every live file
    of the touched buckets is scanned and dedup stays exact."""
    import json as _json

    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=1)
    store.merge(spark, spark.createDataFrame(
        [("<http://aaa/s0>", "<http://p/x>", '"0"', None)],
        "subject string, predicate string, object string, graph string",
    ))
    # strip the bounds key in place, as an old-format store would look
    n = store.current_snapshot()
    p = store.manifests_dir / f"manifest-{n}.json"
    m = _json.loads(p.read_text())
    del m["bounds"]
    p.write_text(_json.dumps(m))

    dup_and_new = spark.createDataFrame(
        [("<http://aaa/s0>", "<http://p/x>", '"0"', None),
         ("<http://zzz/s9>", "<http://p/x>", '"9"', None)],
        "subject string, predicate string, object string, graph string",
    )
    assert store.merge(spark, dup_and_new) == 1  # dedup exact without bounds
    assert store.graph(spark).count() == 2
    # the new commit records bounds for files it added; the old file stays
    # unbounded (absent from the dict) and is simply always scanned
    m2 = store._read_manifest(store.current_snapshot())
    assert set(m2["bounds"]) < set(m2["files"])


def test_delete_where_copy_on_write(spark, tmp_path):
    """delete_where rewrites only the files containing matches, keeps
    every non-matching quad (including NULL-condition rows), leaves the
    old snapshot time-travelable until expiry, and records fresh bounds
    for the rewritten files."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    store.merge(spark, spark.createDataFrame(
        [(f"<http://aaa/s{j}>", "<http://p/x>", f'"{j}"', None) for j in range(6)]
        + [(f"<http://zzz/s{j}>", "<http://p/x>", f'"{j}"', "<http://g/1>") for j in range(4)],
        "subject string, predicate string, object string, graph string",
    ))
    pre = store.current_snapshot()
    pre_files = set(store._live_files(pre))

    # retract one entity: only its file(s) rewrite, the rest carry over
    n = store.delete_where(spark, F.col("subject") == "<http://aaa/s3>")
    assert n == 1
    assert store.graph(spark).count() == 9
    subjects = {r["subject"] for r in store.graph(spark).collect()}
    assert "<http://aaa/s3>" not in subjects and "<http://aaa/s2>" in subjects
    m = store._read_manifest(store.current_snapshot())
    assert m["op"] == "delete"
    assert set(m["bounds"]) == set(m["files"])  # rewritten files re-bounded
    assert pre_files & set(m["files"])  # untouched files carried by reference
    assert store.graph(spark, snapshot=pre).count() == 10  # time travel intact

    # graph-scoped delete: NULL graph rows must survive a graph == match
    n = store.delete_where(spark, F.col("graph") == "<http://g/1>")
    assert n == 4
    assert store.graph(spark).count() == 5
    assert {r["graph"] for r in store.graph(spark).collect()} == {None}

    # no-match is a no-op commit-wise
    cur = store.current_snapshot()
    assert store.delete_where(spark, F.col("subject") == "<http://nope>") == 0
    assert store.current_snapshot() == cur

    # deleting everything leaves an empty live set, history still readable
    assert store.delete_where(spark, F.lit(True)) == 5
    assert store.graph(spark).count() == 0
    assert store.graph(spark, snapshot=pre).count() == 10
    # physical erasure = delete + expire
    store.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="unknown or expired"):
        store.graph(spark, snapshot=pre).count()
    assert store._list_data_files() == set()


def test_merge_pruning_is_invisible_to_results(spark, tmp_path, monkeypatch):
    """Differential: a store merging with zone-map file skipping must be
    bit-identical (per-batch merge counts AND final quad set) to a control
    store forced to scan every bucket file — pruning may only skip files
    that provably cannot matter."""
    import random

    from rio_spark.operators.materialize import GraphStore

    rng = random.Random(11)
    universe = [
        (f"<http://{p}/s{i}>", "<http://p/x>", f'"{v}"', None)
        for p in ("aaa", "mmm", "zzz") for i in range(6) for v in range(2)
    ]
    pruned = GraphStore(str(tmp_path / "pruned"), n_buckets=2)
    control = GraphStore(str(tmp_path / "control"), n_buckets=2)

    for step in range(6):
        batch = spark.createDataFrame(
            rng.sample(universe, rng.randint(2, 8)),
            "subject string, predicate string, object string, graph string",
        )
        n1 = pruned.merge(spark, batch)
        with monkeypatch.context() as m:
            m.setattr(GraphStore, "_may_contain",
                      staticmethod(lambda bounds, lo, hi: True))
            n2 = control.merge(spark, batch)
        assert n1 == n2, f"step {step}: merge counts diverged"

    key = ["subject", "predicate", "object", "graph"]
    a = set(map(tuple, pruned.graph(spark).select(key).collect()))
    b = set(map(tuple, control.graph(spark).select(key).collect()))
    assert a == b


def test_bucket_spec_is_persisted_store_metadata(spark, tmp_path):
    """n_buckets is table metadata, not a per-process choice: a writer
    reopening the store with a different (or default) constructor value
    must bucket with the persisted spec, or MERGE dedup would silently
    break on mis-bucketed subjects."""
    from rio_spark.operators.materialize import GraphStore

    root = str(tmp_path / "store")
    batch = [(f"<http://e/s{j}>", "<http://p/x>", f'"{j}"', None) for j in range(30)]
    schema = "subject string, predicate string, object string, graph string"

    a = GraphStore(root, n_buckets=3)
    assert a.merge(spark, spark.createDataFrame(batch, schema)) == 30

    # reopened with the DEFAULT (64): the persisted spec must win
    b = GraphStore(root)
    assert b.n_buckets == 3
    assert b.merge(spark, spark.createDataFrame(batch, schema)) == 0  # exact dedup
    assert b.merge(spark, spark.createDataFrame(
        [("<http://e/sNEW>", "<http://p/x>", '"n"', None)], schema)) == 1
    # everything landed in the spec's bucket range
    assert {r["p_bucket"] for r in b.graph(spark).select("p_bucket").distinct().collect()} <= {0, 1, 2}
    assert b.graph(spark).count() == 31


def test_rebucket_evolves_the_partition_spec(spark, tmp_path):
    """rebucket rewrites the live set under a new modulus in one atomic
    flip: content identical, new spec governs later merges from any
    handle, dedup stays exact across the evolution, and pre-rebucket
    snapshots time-travel under their own layout."""
    from rio_spark.operators.materialize import GraphStore

    root = str(tmp_path / "store")
    schema = "subject string, predicate string, object string, graph string"
    batch = [(f"<http://e/s{j}>", "<http://p/x>", f'"{j}"', None) for j in range(40)]

    store = GraphStore(root, n_buckets=2)
    store.merge(spark, spark.createDataFrame(batch, schema))
    pre = store.current_snapshot()

    store.rebucket(spark, 8)
    assert store.n_buckets == 8
    assert store.graph(spark).count() == 40
    buckets = {r["p_bucket"] for r in store.graph(spark).select("p_bucket").distinct().collect()}
    assert buckets - {0, 1}  # actually spread beyond the old modulus
    # content bit-identical to the pre-rebucket snapshot
    key = ["subject", "predicate", "object", "graph"]
    assert store.graph(spark).select(key).exceptAll(
        store.graph(spark, snapshot=pre).select(key)).isEmpty()
    # dedup exact across the evolution, from a fresh default-ctor handle
    b = GraphStore(root)
    assert b.n_buckets == 8
    assert b.merge(spark, spark.createDataFrame(batch, schema)) == 0
    assert b.merge(spark, spark.createDataFrame(
        [("<http://e/sNEW>", "<http://p/x>", '"n"', None)], schema)) == 1
    # same-modulus rebucket is a no-op commit-wise
    cur = store.current_snapshot()
    assert store.rebucket(spark, 8) == cur

    # rolling back OVER the rebucket restores the old spec with the old
    # files: later merges/lookups hash with the target's modulus again
    store.rollback(pre)
    assert store.n_buckets == 2
    assert store.merge(spark, spark.createDataFrame(batch, schema)) == 0
    assert store.lookup(spark, ["<http://e/s3>"]).count() == 1


def test_lookup_point_read_prunes_files(spark, tmp_path, monkeypatch):
    """lookup(subjects) returns exactly the filter-equivalent quads while
    planning only the subjects' bucket files whose bounds can contain
    them — the point-read mirror of merge's pruning."""
    from rio_spark.operators.materialize import GraphStore

    store = GraphStore(str(tmp_path / "store"), n_buckets=2)
    for p in ("aaa", "mmm", "zzz"):
        store.merge(spark, spark.createDataFrame(
            [(f"<http://{p}/s{j}>", "<http://p/x>", f'"{j}"', None) for j in range(8)],
            "subject string, predicate string, object string, graph string",
        ))

    want = ["<http://aaa/s1>", "<http://aaa/s2>"]
    expected = sorted(
        map(tuple, store.graph(spark).filter(F.col("subject").isin(want))
            .select("subject", "predicate", "object", "graph").collect())
    )

    scanned = []
    real = GraphStore._read_files

    def spy(self, sp, files):
        scanned.append(list(files))
        return real(self, sp, files)

    monkeypatch.setattr(GraphStore, "_read_files", spy)
    got = sorted(
        map(tuple, store.lookup(spark, want)
            .select("subject", "predicate", "object", "graph").collect())
    )
    assert got == expected and len(got) == 2
    m = store._read_manifest(store.current_snapshot())
    # the aaa merge's files only: zzz/mmm files are bounds-excluded
    assert 0 < len(scanned[0]) < len(m["files"])
    assert all(m["bounds"][f][0].startswith("<http://aaa") for f in scanned[0])

    assert store.lookup(spark, []).count() == 0
    assert store.lookup(spark, ["<http://nope/x>"]).count() == 0
