"""Graph-table materialization with MERGE-style dedup, snapshots, lineage,
and resume (K6).

Production design (SURVEY.md §4.3): an Iceberg table partitioned by
``bucket(N, subject)`` + ``graph``, written with ``MERGE INTO`` on the quad
key, one lineage row per committed input partition. The Iceberg runtime jar
is not on this image's classpath, so the same contract — including the
TRANSACTIONAL part — is implemented on parquet with Iceberg's own recipe,
a manifest-committed snapshot layer:

* data files    — parquet parts under ``graph/p_bucket=N/`` (hidden-
                  partitioning analogue of ``bucket(N, subject)``); files
                  are append-only and NEVER mutated or renamed;
* snapshots     — ``_manifests/manifest-<n>.json`` lists the exact data
                  files of snapshot ``n``; ``_manifests/CURRENT`` holds the
                  live snapshot number and is flipped by an atomic
                  ``os.replace`` — the ONLY mutation visible to readers;
* MERGE         — anti-join against the live quad set restricted to the
                  incoming buckets (file-level pruning straight from the
                  manifest), append the new files, commit a new manifest;
* compaction    — rewrites a fragmented bucket into new files and commits a
                  manifest that swaps them in; a METADATA flip, invisible
                  to readers, old snapshots still readable (time travel);
* lineage       — parquet table (input_snapshot_id, partition_hash,
                  triple_count, committed_at); a partition is the unit of
                  commit AND of resume: reruns anti-join the input
                  partition list against lineage and skip committed ones;
* expiry        — ``expire_snapshots(keep_last=k)`` drops old manifests and
                  deletes data files no kept snapshot references (also
                  garbage-collects orphans from crashed writes).

Crash safety falls out of the commit protocol: every mutation is
(1) append data files — invisible, no manifest references them;
(2) write ``manifest-<n+1>.json`` — inert until referenced;
(3) atomically flip ``CURRENT``.
A crash in any window leaves the store exactly at the previous snapshot;
there is nothing to recover, only orphan files for expiry to sweep.  Reads
are PURE (r4 ADVICE) and fully snapshot-isolated: ``graph()`` pins a
manifest and reads exactly its file list, so a reader racing a live
compaction or merge sees a consistent snapshot, never a partial bucket.
Single-writer per store for the WRITE paths (merge/compact/expire), as with
Iceberg's optimistic single-commit semantics — and commits carry
base-snapshot validation (``CommitConflict``) so a broken contract is
detected, not silently absorbed.  Snapshot management mirrors Iceberg's:
time travel by snapshot / TIMESTAMP AS OF / tag, ``rollback``, expiry-
protected tags, ``snapshots_df``/``files_df`` metadata tables, an
incremental append scan (``added_quads``), and per-file subject bounds in
the manifest for zone-map file skipping on MERGE.

Known scaling delta vs real Iceberg, on purpose: each snapshot is ONE
JSON manifest naming every live file — fine to ~10^5 files per store
(with compaction keeping file counts near one per bucket), while Iceberg
splits manifests per partition-spec region behind a manifest list to go
beyond. At that point the answer is the Iceberg runtime (`MERGE INTO` +
hidden partitioning), which this class's contract was shaped to swap
into the moment the jar exists on the image.
"""

from __future__ import annotations

import json
import os
import re
import time
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

QUAD_KEY = ["subject", "predicate", "object", "graph"]
# strict bucket-dir name: `p_bucket=N` only — stray staging/temp dirs must
# never parse as buckets
_BUCKET_DIR_RE = re.compile(r"^p_bucket=(\d+)$")
_MANIFEST_RE = re.compile(r"^manifest-(\d+)\.json$")
# Each table's one schema definition, in Arrow: small driver-side frames are
# built with ``spark.createDataFrame(pa.Table)``, a LocalRelation that needs
# no Spark job and no Python worker to evaluate (a Python list becomes a
# PythonRDD, one job per evaluation). The parquet reads pass the same schema
# as a Spark StructType, which skips Spark's schema-inference job (one 1-task
# job per read).
LINEAGE_SCHEMA = pa.schema([
    ("input_snapshot_id", pa.string()), ("partition_hash", pa.string()),
    ("triple_count", pa.int64()), ("committed_at", pa.float64()),
])
_GRAPH_SCHEMA = pa.schema(
    [(c, pa.string()) for c in QUAD_KEY] + [("p_bucket", pa.int32())]
)
_LINEAGE_READ_SCHEMA = from_arrow_schema(LINEAGE_SCHEMA)
_GRAPH_READ_SCHEMA = from_arrow_schema(_GRAPH_SCHEMA)


_UNCHECKED = object()  # _commit sentinel: "caller did not capture a base"


class CommitConflict(RuntimeError):
    """CURRENT moved between a writer reading its base snapshot and
    committing — the single-writer contract was broken (see _commit)."""


class GraphStore:
    def __init__(self, root: str, n_buckets: int = 64):
        self.root = Path(root)
        self._ctor_n_buckets = n_buckets
        self._manifest_cache: dict[int, dict] = {}
        self.graph_dir = str(self.root / "graph")
        self.lineage_dir = str(self.root / "lineage")
        self.manifests_dir = self.root / "_manifests"

    @property
    def n_buckets(self) -> int:
        """The store's bucket-spec: PERSISTED metadata, like Iceberg's
        partition spec — NOT a per-process choice.  The constructor arg
        applies only to a store with no spec on disk yet; an existing
        store's spec always wins, because a writer bucketing subjects with
        the wrong modulus would scatter quads into buckets the MERGE
        anti-join never scans, silently breaking dedup.

        Resolution order: the CURRENT manifest's ``n_buckets`` stamp (so
        :meth:`rebucket`'s spec change rides the same atomic CURRENT flip
        as its file swap — no window where spec and layout disagree), then
        the ``SPEC`` file (published durably by the first commit), then
        the constructor argument."""
        cur = self.current_snapshot()
        if cur is not None:
            return self._spec_of(self._read_manifest(cur))
        p = self.manifests_dir / "SPEC"
        if p.exists():
            return int(json.loads(p.read_text())["n_buckets"])
        return self._ctor_n_buckets

    # -- snapshot metadata ----------------------------------------------------

    def current_snapshot(self) -> int | None:
        cur = self.manifests_dir / "CURRENT"
        if not cur.exists():
            return None
        return int(cur.read_text().strip())

    def snapshots(self) -> list[dict]:
        """All committed snapshot manifests, oldest first (time travel index)."""
        if not self.manifests_dir.exists():
            return []
        out = []
        for p in sorted(self.manifests_dir.iterdir()):
            m = _MANIFEST_RE.match(p.name)
            if m:
                out.append(json.loads(p.read_text()))
        return sorted(out, key=lambda d: d["snapshot"])

    def _read_manifest(self, n: int) -> dict:
        # manifests are immutable once written, so a tiny cache makes the
        # n_buckets property / merge / lookup reads O(1) re-parses instead
        # of re-reading a multi-MB file-list JSON per access; existence is
        # still checked every hit so expiry keeps raising in-process
        p = self.manifests_dir / f"manifest-{n}.json"
        if not p.exists():
            self._manifest_cache.pop(n, None)
            raise ValueError(f"unknown or expired snapshot {n}")
        m = self._manifest_cache.get(n)
        if m is None:
            m = json.loads(p.read_text())
            if len(self._manifest_cache) >= 8:
                self._manifest_cache.pop(next(iter(self._manifest_cache)))
            self._manifest_cache[n] = m
        return m

    def _spec_of(self, manifest: dict) -> int:
        """The bucket modulus a manifest's FILES are laid out under: its
        own stamp, else the original SPEC file (every unstamped manifest
        predates rebucket, and only rebucket ever changes the spec), else
        the constructor value."""
        stamped = manifest.get("n_buckets")
        if stamped is not None:
            return int(stamped)
        p = self.manifests_dir / "SPEC"
        if p.exists():
            return int(json.loads(p.read_text())["n_buckets"])
        return self._ctor_n_buckets

    def _list_data_files(self) -> set[str]:
        """All parquet parts on disk, as graph_dir-relative paths."""
        root = Path(self.graph_dir)
        if not root.exists():
            return set()
        return {
            f"{d.name}/{f.name}"
            for d in root.iterdir()
            if d.is_dir() and _BUCKET_DIR_RE.match(d.name)
            for f in d.iterdir()
            if f.name.endswith(".parquet")
        }

    def _live_files(self, snapshot: int | None = None) -> list[str]:
        """graph_dir-relative data files of ``snapshot`` (default: CURRENT).
        Legacy stores (data on disk, NO ``_manifests`` dir at all) fall back
        to the disk listing — a pure read; the first write commits a
        bootstrap manifest.  Once ``_manifests`` exists, the disk listing is
        never trusted: a missing/un-flipped CURRENT means no snapshot was
        ever committed, so the store reads as empty (on-disk files are
        orphans of a crashed write, possibly torn)."""
        n = self.current_snapshot() if snapshot is None else snapshot
        if n is None:
            if snapshot is None and not self.manifests_dir.exists():
                # legacy store: refuse to serve a PARTIAL bucket set — a
                # pre-manifest compaction that crashed mid-swap leaves
                # .compacting/.old staging dirs whose content the plain disk
                # listing would silently drop (r5 ADVICE).  Recovery is a
                # write-path concern; reads stay pure and fail loudly.
                if self._legacy_swap_dirs():
                    raise RuntimeError(
                        f"legacy store at {self.graph_dir} has interrupted-"
                        "compaction staging dirs (*.compacting/*.old); run "
                        "migrate_legacy() (or any write) to recover before reading"
                    )
                return sorted(self._list_data_files())  # legacy store
            return []
        return self._read_manifest(n)["files"]

    def _commit(self, files: set[str], op: str,
                expect_parent: int | None | object = _UNCHECKED,
                bounds: dict[str, list] | None = None,
                n_buckets: int | None = None) -> int:
        """Write manifest-(n+1) then atomically flip CURRENT. Numbering is
        max-on-disk + 1 (not CURRENT + 1), so a crashed commit that left an
        un-flipped manifest can never collide.

        ``expect_parent`` is the optimistic-concurrency tripwire (Iceberg's
        base-snapshot validation): a writer passes the snapshot it PLANNED
        against, and the commit refuses if CURRENT moved meanwhile —
        otherwise the late flip would silently orphan the interleaved
        writer's committed rows.  This DETECTS the documented single-writer
        contract being broken; it does not serialize writers (the
        check-then-flip window remains — true multi-writer needs a
        catalog CAS, which is the Iceberg-runtime path)."""
        if expect_parent is not _UNCHECKED:
            cur = self.current_snapshot()
            if cur != expect_parent:
                raise CommitConflict(
                    f"concurrent commit detected: planned against snapshot "
                    f"{expect_parent} but CURRENT is now {cur}; re-read and "
                    "retry the operation"
                )
        self.manifests_dir.mkdir(parents=True, exist_ok=True)
        spec = self.manifests_dir / "SPEC"
        if not spec.exists():
            # freeze the bucket spec with the first commit: every later
            # writer buckets with THIS modulus regardless of what its
            # constructor was told (see the n_buckets property)
            self._durable_write(spec, json.dumps({"n_buckets": self.n_buckets}))
        nums = [
            int(_MANIFEST_RE.match(p.name).group(1))
            for p in self.manifests_dir.iterdir()
            if _MANIFEST_RE.match(p.name)
        ]
        n = (max(nums) + 1) if nums else 0
        manifest = {
            "snapshot": n,
            "parent": self.current_snapshot(),
            "op": op,
            "files": sorted(files),
            "n_files": len(files),
            "committed_at": time.time(),
            # every snapshot records the spec its files are bucketed with
            # (Iceberg: snapshot -> partition-spec reference); rebucket is
            # the one op that passes a NEW value
            "n_buckets": self.n_buckets if n_buckets is None else n_buckets,
        }
        if bounds is not None:
            # per-file [min, max] subject bounds (Iceberg manifest column
            # bounds): lets merge skip files whose range cannot contain a
            # batch subject. Absent for files whose stats weren't captured
            # (legacy/bootstrap) — skipping degrades gracefully to
            # bucket-level pruning for those.
            manifest["bounds"] = {f: bounds[f] for f in files if f in bounds}
        # durable-before-visible (r5 ADVICE): the manifest must be ON DISK —
        # tmp + rename + fsync of file AND directory — before CURRENT can
        # name it, else a power loss could persist the CURRENT flip around a
        # torn manifest and leave the store unreadable.  Process crashes were
        # already safe; this closes the power-loss window too.
        self._durable_write(self.manifests_dir / f"manifest-{n}.json", json.dumps(manifest))
        # a freshly-written number must never serve a stale cache entry:
        # manifest numbering restarts at 0 when a devolved legacy store
        # re-bootstraps under a live handle
        self._manifest_cache.pop(n, None)
        self._durable_write(self.manifests_dir / "CURRENT", str(n))  # the atomic commit
        return n

    @staticmethod
    def _durable_write(path: Path, data: str) -> None:
        """Crash-durable publish: write a temp file, fsync it, atomically
        rename over ``path``, fsync the parent directory (the rename itself
        is only durable once the directory entry is)."""
        tmp = path.with_name(path.name + ".tmp")
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(path.parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _bootstrap_if_legacy(self) -> None:
        """Writer-path entry hook, two jobs:

        * NEW store (no ``_manifests`` dir, no data): commit an EMPTY
          snapshot 0 BEFORE the first data write.  This is what makes the
          crashed-first-merge window safe: once the init manifest exists,
          data files on disk that no manifest references are always
          orphans of a crashed write (possibly torn parquet) and stay
          invisible — they are never mistaken for a legacy store's content.
        * LEGACY store (data files but no ``_manifests`` dir — written by
          the pre-manifest format): finish any rename-swap the OLD
          compact() may have left mid-crash (``p_bucket=N.compacting`` /
          ``.old`` staging dirs — promote a complete rewrite whose live
          dir is gone, drop stale staging/old next to a live dir), then
          commit the on-disk file set as snapshot 0.
        """
        if self.manifests_dir.exists():
            return
        if self._list_data_files() or self._legacy_swap_dirs():
            self._recover_legacy_swap_dirs()
            self._commit(self._list_data_files(), "bootstrap")
        else:
            self._commit(set(), "init")

    def migrate_legacy(self) -> None:
        """Explicit migration entry point for read-only consumers of a
        pre-manifest store (the read path refuses stores with interrupted-
        compaction staging dirs rather than serve a partial bucket set)."""
        self._bootstrap_if_legacy()

    def _legacy_swap_dirs(self) -> list[Path]:
        root = Path(self.graph_dir)
        if not root.exists():
            return []
        return [
            d for d in root.iterdir()
            if d.name.endswith((".compacting", ".old")) and d.is_dir()
        ]

    def _recover_legacy_swap_dirs(self) -> None:
        """Migration-only recovery for the pre-manifest format's atomic-
        rename compaction (the new format never creates these dirs):
        staging next to a live dir is stale (drop); staging without a live
        dir is a complete rewrite that crashed between renames (promote);
        ``.old`` without a live dir is the originals mid-rollback (restore);
        ``.old`` next to a live dir is post-swap leftovers (drop)."""
        import shutil

        root = Path(self.graph_dir)
        for staging in sorted(root.glob("p_bucket=*.compacting")):
            live = staging.with_name(staging.name[: -len(".compacting")])
            if live.exists():
                shutil.rmtree(staging)
            else:
                staging.rename(live)
        for old in sorted(root.glob("p_bucket=*.old")):
            live = old.with_name(old.name[: -len(".old")])
            if live.exists():
                shutil.rmtree(old)
            else:
                old.rename(live)

    # -- reads (pure: never mutate the store) ---------------------------------

    def _read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        if not files:
            return spark.createDataFrame(_GRAPH_SCHEMA.empty_table())
        paths = [f"{self.graph_dir}/{f}" for f in files]
        return (spark.read.schema(_GRAPH_READ_SCHEMA)
                .option("basePath", self.graph_dir).parquet(*paths))

    def graph(self, spark: SparkSession, snapshot: int | None = None,
              as_of: float | None = None, tag: str | None = None) -> DataFrame:
        """The quad set of ``snapshot`` (default: the live snapshot) —
        snapshot-isolated: exactly the pinned manifest's files are read, so
        concurrent merges/compactions are invisible. ``snapshot=<n>`` is
        time travel to any unexpired snapshot; ``as_of=<unix ts>`` is the
        ``TIMESTAMP AS OF`` form, resolved via :meth:`snapshot_as_of`;
        ``tag=<name>`` reads a named ref (:meth:`create_tag`)."""
        if sum(x is not None for x in (snapshot, as_of, tag)) > 1:
            raise ValueError("pass at most one of snapshot, as_of, tag")
        if as_of is not None:
            snapshot = self.snapshot_as_of(as_of)
        if tag is not None:
            tags = self.tags()
            if tag not in tags:
                raise ValueError(f"unknown tag {tag!r}; have {sorted(tags)}")
            snapshot = tags[tag]
        return self._read_files(spark, self._live_files(snapshot))

    def lookup(self, spark: SparkSession, subjects: list[str],
               snapshot: int | None = None) -> DataFrame:
        """Every quad about the given subjects — the KG point-read ("all
        facts about entity X"), file-pruned exactly like MERGE's
        anti-join: only files of the subjects' buckets whose manifest
        bounds can contain one of them are planned, so a lookup into a
        billion-file store touches a handful of files.  The subjects'
        buckets come from the JVM-side xxhash64 over a local Arrow frame
        (never reimplemented driver-side, where a drifting copy would
        silently read the wrong buckets; the optimizer folds the projection
        into the local relation, so no Spark job runs); the scan then
        filters with ``isin`` (pushed to parquet row groups)."""
        if not subjects:
            return self._read_files(spark, [])
        n = self.current_snapshot() if snapshot is None else snapshot
        live = self._live_files(n)
        if not live:
            return self._read_files(spark, [])
        m = self._read_manifest(n) if n is not None else {}
        known_bounds = m.get("bounds", {})
        # the PINNED manifest's layout spec, never the current one: time
        # travel across a rebucket must hash with the old modulus
        spec = self._spec_of(m) if m else self.n_buckets
        per_bucket: dict[str, tuple[str, str]] = {}
        rows = spark.createDataFrame(
            pa.table({"subject": pa.array(subjects, pa.string())})
        ).select(
            "subject",
            F.pmod(F.xxhash64("subject"), F.lit(spec)).cast("int").alias("b"),
        ).collect()
        for r in rows:
            key = f"p_bucket={r['b']}"
            lo, hi = per_bucket.get(key, (r["subject"], r["subject"]))
            per_bucket[key] = (min(lo, r["subject"]), max(hi, r["subject"]))
        scoped = [
            f for f in live
            if (bb := per_bucket.get(f.split("/", 1)[0])) is not None
            and self._may_contain(known_bounds.get(f), bb[0], bb[1])
        ]
        return self._read_files(spark, scoped).filter(
            F.col("subject").isin(subjects)
        )

    # -- named refs -----------------------------------------------------------

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): {name: snapshot}.  A tagged
        snapshot — and every data file it references — survives
        :meth:`expire_snapshots` until the tag is dropped, which is how a
        published dataset version (a training-corpus release, an audit
        point) is pinned while routine expiry GCs the rest."""
        p = self.manifests_dir / "tags.json"
        if not p.exists():
            return {}
        return {k: int(v) for k, v in json.loads(p.read_text()).items()}

    def create_tag(self, name: str, snapshot: int | None = None) -> int:
        """Tag ``snapshot`` (default CURRENT) as ``name``.  Refuses an
        existing name (drop it first — re-pointing a published ref should
        be loud) and an unknown/expired snapshot.  Durable like a commit:
        the tags file is published with the same fsync+rename protocol."""
        tags = self.tags()
        if name in tags:
            raise ValueError(f"tag {name!r} already points at {tags[name]}")
        if snapshot is None:
            snapshot = self.current_snapshot()
            if snapshot is None:
                raise ValueError("empty store: nothing to tag")
        self._read_manifest(snapshot)  # raises for unknown/expired
        tags[name] = snapshot
        self._durable_write(self.manifests_dir / "tags.json", json.dumps(tags))
        return snapshot

    def drop_tag(self, name: str) -> None:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"unknown tag {name!r}")
        del tags[name]
        self._durable_write(self.manifests_dir / "tags.json", json.dumps(tags))

    def snapshot_as_of(self, ts: float) -> int:
        """The newest snapshot committed at or before unix time ``ts`` —
        Iceberg's ``TIMESTAMP AS OF`` resolution over the manifest log.
        Raises if every unexpired snapshot is newer than ``ts`` (the
        history needed to answer has been expired or never existed)."""
        eligible = [s for s in self.snapshots() if s["committed_at"] <= ts]
        if not eligible:
            raise ValueError(
                f"no snapshot committed at or before {ts}: history starts "
                "later or was expired"
            )
        return max(eligible, key=lambda s: s["committed_at"])["snapshot"]

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot log as a DataFrame — the Iceberg-style
        ``table.snapshots`` metadata table for this store: one row per
        committed manifest with its op, parent, file/byte footprint, and
        the added/removed file deltas vs the parent snapshot.  Built from
        manifests only (bounded metadata, never scans data files' content);
        ``bytes`` stats each referenced file and is null for a file deleted
        by a later expire (the manifest outlives the data it referenced
        only when a newer kept snapshot still references part of it)."""
        snaps = self.snapshots()
        by_n = {s["snapshot"]: set(s["files"]) for s in snaps}
        cur = self.current_snapshot()
        tags_of: dict[int, list[str]] = {}
        for name, n in sorted(self.tags().items()):
            tags_of.setdefault(n, []).append(name)
        root = Path(self.graph_dir)
        rows = []
        for s in snaps:
            files = by_n[s["snapshot"]]
            # a parent expired out from under a tagged/kept snapshot: its
            # file set is unknowable, so the deltas are null, not "added
            # everything" (which a maintenance scheduler would act on)
            parent_gone = s["parent"] is not None and s["parent"] not in by_n
            parent_files = by_n.get(s["parent"], set()) if s["parent"] is not None else set()
            sizes = [
                (root / f).stat().st_size if (root / f).exists() else None
                for f in files
            ]
            rows.append((
                s["snapshot"], s["parent"], s["op"],
                float(s["committed_at"]), s["n_files"],
                sum(b for b in sizes if b is not None) if all(
                    b is not None for b in sizes) else None,
                None if parent_gone else len(files - parent_files),
                None if parent_gone else len(parent_files - files),
                s["snapshot"] == cur,
                tags_of.get(s["snapshot"], []),
            ))
        return spark.createDataFrame(
            rows,
            "snapshot int, parent int, op string, committed_at double, "
            "n_files int, bytes long, added_files int, removed_files int, "
            "is_current boolean, tags array<string>",
        )

    def files_df(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        """The live data files of ``snapshot`` (default CURRENT) as a
        DataFrame — the Iceberg-style ``table.files`` metadata table: one
        row per file with its bucket, byte size and parquet row count (read
        from the footer, never scanning data pages).  This is the input a
        maintenance scheduler needs to pick compaction candidates
        (fragmented buckets, undersized files) without touching the data.
        Bounded metadata work on the driver: one footer read per live file,
        the same cost class as planning a scan of the snapshot."""
        import pyarrow.parquet as pq

        root = Path(self.graph_dir)
        rows = []
        for f in self._live_files(snapshot):
            p = root / f
            rows.append((
                f,
                int(_BUCKET_DIR_RE.match(f.split("/", 1)[0]).group(1)),
                p.stat().st_size,
                pq.ParquetFile(p).metadata.num_rows,
            ))
        return spark.createDataFrame(
            rows, "file string, bucket int, bytes long, rows long"
        )

    def rollback(self, to_snapshot: int) -> int:
        """Roll the table back to ``to_snapshot``: commit a NEW manifest
        whose file list is the target's (op ``rollback``), then flip
        CURRENT — Iceberg's ``rollback_to_snapshot``.  History is never
        rewritten: the rolled-back-over snapshots stay readable until
        expiry, and the rollback itself is one more crash-safe commit.
        Raises for an unknown or expired target; a target manifest that
        survived expiry always has all its data files on disk (expiry
        deletes a manifest and its exclusively-referenced files
        together)."""
        base = self.current_snapshot()
        target = self._read_manifest(to_snapshot)
        # carry the TARGET's bucket spec, not the current one: rolling back
        # over a rebucket must restore the modulus its files are laid out
        # under, or later merges/lookups hash into buckets that don't exist
        return self._commit(set(target["files"]), "rollback", expect_parent=base,
                            bounds=target.get("bounds", {}),
                            n_buckets=self._spec_of(target))

    def added_quads(
        self, spark: SparkSession, since: int, until: int | None = None
    ) -> DataFrame:
        """The quads appended by merge commits in ``(since, until]`` —
        Iceberg's incremental append scan, the read path of a downstream
        consumer that materializes deltas instead of re-reading 100 TB.
        Merges append only files of genuinely-new quads (MERGE dedups
        against the live set), so under the store's single-writer linear
        history the union of their added files IS the delta.  Compaction
        (rewrites, no new logical rows) contributes nothing by
        construction.  A range containing a ``rollback`` or ``delete``
        commit is REFUSED (Iceberg's incremental scan does the same for
        overwrite ranges): a rollback makes re-merged quads genuinely
        re-append (double-counted delta) and a delete's retractions are
        invisible to an append stream — a consumer must fall back to a
        full read, as :class:`~rio_spark.operators.incremental.
        IncrementalPredicateCounts` does.  Also raises when the range
        needs a delta whose parent manifest was expired — the history to
        answer is gone, a silent partial delta would be worse."""
        by_n = {s["snapshot"]: s for s in self.snapshots()}
        if until is None:
            until = self.current_snapshot()
            if until is None:
                return self._read_files(spark, [])
        bad_ops = {
            n: by_n[n]["op"] for n in by_n
            if since < n <= until and by_n[n]["op"] in ("rollback", "delete")
        }
        if bad_ops:
            raise ValueError(
                f"({since}, {until}] is not an append-only range — it "
                f"contains {bad_ops}; the incremental delta is undefined, "
                "re-read the snapshot instead"
            )
        # surviving manifests alone can HIDE an expired delete/rollback
        # inside the range (r6 ADVICE: expire_snapshots over merge->delete->
        # compact left bad_ops empty and returned a silently partial delta).
        # Walk the parent chain from `until` down to `since`: every link in
        # (since, until] must still be in the log — a missing link means the
        # history needed to classify the range is gone, so refuse.
        if since < until:
            node = until
            while node != since:
                s = by_n.get(node)
                if s is None:
                    raise ValueError(
                        f"cannot compute the delta over ({since}, {until}]: "
                        f"snapshot {node} in the parent chain was expired "
                        "(or never existed) — incremental history starts "
                        "later; re-read the snapshot instead"
                    )
                node = s["parent"]
                if node is None:
                    # reached the root: valid only when `since` addresses
                    # the empty pre-history (the from-the-beginning scan)
                    if since < s["snapshot"]:
                        break
                    raise ValueError(
                        f"cannot compute the delta over ({since}, {until}]: "
                        f"snapshot {since} is not an ancestor of {until}"
                    )
        files: list[str] = []
        for n in sorted(by_n):
            if not (since < n <= until):
                continue
            s = by_n[n]
            if s["op"] not in ("merge", "bootstrap"):
                continue
            parent = s["parent"]
            if parent is None:
                files.extend(s["files"])
                continue
            if parent not in by_n:
                raise ValueError(
                    f"cannot compute the delta of snapshot {n}: its parent "
                    f"{parent} was expired — incremental history starts later"
                )
            files.extend(sorted(set(s["files"]) - set(by_n[parent]["files"])))
        return self._read_files(spark, files)

    def lineage(self, spark: SparkSession) -> DataFrame:
        if not Path(self.lineage_dir).exists():
            return spark.createDataFrame(LINEAGE_SCHEMA.empty_table())
        return spark.read.schema(_LINEAGE_READ_SCHEMA).parquet(self.lineage_dir)

    def committed_partitions(self, spark: SparkSession, snapshot_id: str) -> set[str]:
        if not Path(self.lineage_dir).exists():
            return set()
        lin = self.lineage(spark)
        return {
            r["partition_hash"]
            for r in lin.filter(F.col("input_snapshot_id") == snapshot_id)
            .select("partition_hash")
            .distinct()
            .collect()
        }

    # -- writes ---------------------------------------------------------------

    def _bucketed(self, triples: DataFrame) -> DataFrame:
        # the cast pins every data file to ``_GRAPH_SCHEMA``, which the reads
        # name instead of inferring: an all-NULL column of an untyped input
        # frame would otherwise be written as a parquet BOOLEAN column
        return triples.select(
            *(F.col(c).cast("string").alias(c) for c in QUAD_KEY),
            F.pmod(F.xxhash64("subject"), F.lit(self.n_buckets)).cast("int").alias("p_bucket"),
        )

    def _file_bounds(self, files) -> dict[str, list]:
        """[min, max] of the ``subject`` column per file, read from parquet
        footer statistics (no data pages).  Files without usable stats are
        simply absent — pruning then falls back to bucket-level for them.
        Parquet writers may truncate string stats, but the spec requires a
        truncated max to still be >= every value (and min <= every value),
        so an overlap test against these bounds can over-include, never
        wrongly exclude."""
        import pyarrow.parquet as pq

        root = Path(self.graph_dir)
        out: dict[str, list] = {}
        for f in files:
            try:
                md = pq.ParquetFile(root / f).metadata
                idx = next(
                    (i for i in range(md.num_columns)
                     if md.row_group(0).column(i).path_in_schema == "subject"),
                    None,
                ) if md.num_row_groups else None
                if idx is None:
                    continue
                lo = hi = None
                ok = True
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    if not (isinstance(st.min, str) and isinstance(st.max, str)):
                        ok = False  # undecodable/truncated-to-binary stats
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if ok and lo is not None:
                    out[f] = [lo, hi]
            except Exception:
                # stats are an optimization: a file whose footer can't be
                # read cleanly just gets no bounds (scanned every time),
                # never a failed commit
                continue
        return out

    @staticmethod
    def _may_contain(bounds: list | None, lo: str, hi: str) -> bool:
        """Can a file with subject ``bounds`` hold a subject in [lo, hi]?
        Unknown bounds -> must be scanned."""
        return bounds is None or (bounds[0] <= hi and bounds[1] >= lo)

    def merge(self, spark: SparkSession, triples: DataFrame) -> int:
        """MERGE semantics: insert quads not already present. Returns rows
        added. The anti-join reads only the live FILES of the buckets the
        incoming batch touches, further skipping files whose manifest
        subject bounds cannot overlap the batch (zone-map file skipping —
        no directory listing, no partition discovery, no footer reads on
        the read path), so merge cost scales with batch size, not table
        size. New rows are clustered by ``p_bucket`` before the append, so a
        commit writes one file per touched bucket (at most ``n_buckets``);
        that also bounds the files every later merge scans and reads
        footers of. The append + manifest flip is the Iceberg commit: a
        crash anywhere leaves the previous snapshot live and at most orphan
        files for expiry.

        The input is read once: the bucketed, deduplicated batch is the one
        persisted frame, which the bounds aggregate and the anti-join both
        scan, and which is unpersisted before the call returns. The added
        rows are counted by an observation on the append itself, so there
        is no separate counting pass. The persisted batch never scans the
        store, so the append does not make Spark re-list the store's files
        to refresh a cached plan."""
        self._bootstrap_if_legacy()
        base = self.current_snapshot()  # the snapshot this merge plans against
        live = self._live_files(base)
        known_bounds = (
            self._read_manifest(base).get("bounds", {}) if base is not None else {}
        )
        batch = self._bucketed(triples).dropDuplicates(QUAD_KEY).persist()
        try:
            new_rows = batch
            if live:
                # bucket-level prune (which buckets the batch touches) PLUS
                # file-level skip inside each bucket via the manifest's
                # subject bounds — both from one bounded driver-side agg of
                # the batch
                batch_bounds = {
                    f"p_bucket={r['p_bucket']}": (r["lo"], r["hi"])
                    for r in batch.groupBy("p_bucket").agg(
                        F.min("subject").alias("lo"), F.max("subject").alias("hi")
                    ).collect()
                }
                scoped_files = [
                    f for f in live
                    if (bb := batch_bounds.get(f.split("/", 1)[0])) is not None
                    and self._may_contain(known_bounds.get(f), bb[0], bb[1])
                ]
                scoped = self._read_files(spark, scoped_files).select(QUAD_KEY).alias("ex")
                # null-safe equality on graph: the default graph is NULL and
                # a plain equi-join would re-insert it forever
                cond = (
                    (F.col("b.subject") == F.col("ex.subject"))
                    & (F.col("b.predicate") == F.col("ex.predicate"))
                    & (F.col("b.object") == F.col("ex.object"))
                    & F.col("b.graph").eqNullSafe(F.col("ex.graph"))
                )
                new_rows = batch.alias("b").join(scoped, cond, "left_anti")
            added_rows = Observation("merge_added")
            before = self._list_data_files()
            # one task per bucket: the partitioned append writes one file per
            # task per bucket, so unclustered rows would write up to
            # (shuffle partitions x touched buckets) files per commit
            new_rows.repartition("p_bucket").observe(
                added_rows, F.count(F.lit(1)).alias("n")
            ).write.mode("append").partitionBy("p_bucket").parquet(self.graph_dir)
            n = added_rows.get["n"]
            if n:
                added = self._list_data_files() - before
                self._commit(
                    set(live) | added, "merge", expect_parent=base,
                    bounds={**known_bounds, **self._file_bounds(added)},
                )
            return n
        finally:
            batch.unpersist()

    def commit_lineage(
        self, spark: SparkSession, snapshot_id: str, partition_hash: str, triple_count: int
    ) -> None:
        row = {"input_snapshot_id": snapshot_id, "partition_hash": partition_hash,
               "triple_count": triple_count, "committed_at": time.time()}
        spark.createDataFrame(
            pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA)
        ).write.mode("append").parquet(self.lineage_dir)

    # -- maintenance -----------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 8,
        target_rows_per_file: int = 1_000_000,
    ) -> dict[int, tuple[int, int]]:
        """Small-file compaction: every incremental merge appends one file
        per touched bucket, so a long-lived store accumulates
        thousands of KB-sized files per bucket and scan/planning cost
        explodes — THE standing maintenance problem of incremental lakehouse
        tables.  Buckets at or above ``min_files`` live files are rewritten
        into ``ceil(rows / target_rows_per_file)`` files.

        Returns {bucket: (files_before, files_after)}.  Only oversized
        buckets are touched (cost scales with fragmentation, not table
        size), contents are bit-preserved (pinned by tests), and lineage is
        untouched — compaction is invisible to resume.  This is Iceberg's
        ``rewrite_data_files``: new files are written, then ONE manifest
        commit swaps them in atomically.  Readers racing the compaction
        keep their pinned snapshot (old files stay on disk until
        ``expire_snapshots``), so there is no partial-bucket window at all.
        """
        import math
        from collections import defaultdict

        self._bootstrap_if_legacy()
        base = self.current_snapshot()
        live = self._live_files(base)
        bounds = dict(
            self._read_manifest(base).get("bounds", {}) if base is not None else {}
        )
        per_bucket: dict[str, list[str]] = defaultdict(list)
        for f in live:
            per_bucket[f.split("/", 1)[0]].append(f)
        report: dict[int, tuple[int, int]] = {}
        files = set(live)
        changed = False
        for bdir, bfiles in sorted(per_bucket.items()):
            if len(bfiles) < min_files:
                continue
            bucket = int(_BUCKET_DIR_RE.match(bdir).group(1))
            df = self._read_files(spark, bfiles)
            n = df.count()
            n_out = max(1, math.ceil(n / target_rows_per_file))
            before = self._list_data_files()
            df.repartition(n_out).write.mode("append").partitionBy(
                "p_bucket"
            ).parquet(self.graph_dir)
            added = self._list_data_files() - before
            files = (files - set(bfiles)) | added
            for f in bfiles:
                bounds.pop(f, None)
            bounds.update(self._file_bounds(added))
            changed = True
            report[bucket] = (len(bfiles), len(added))
        if changed:
            self._commit(files, "compact", expect_parent=base, bounds=bounds)
        return report

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Partition evolution: rewrite the live quad set under a new
        bucket modulus and flip to it atomically (op ``rebucket``) — how a
        store that outgrew its bucket count (merge batches now touch every
        file of hot buckets) scales its layout without downtime.  Readers
        racing the rewrite keep their pinned snapshot; old snapshots stay
        time-travelable under their own recorded spec until expiry.

        Honest delta vs Iceberg: Iceberg's spec evolution applies the new
        spec to FUTURE data only and plans scans per-manifest-spec; this
        store keeps ONE live spec by rewriting once (the MERGE anti-join's
        bucket prune assumes a single modulus over the live set), trading
        a one-time full rewrite — the same cost as a full compaction — for
        a read path with no mixed-spec planning."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        self._bootstrap_if_legacy()
        base = self.current_snapshot()
        if new_n_buckets == self.n_buckets:
            return base
        live = self._live_files(base)
        before = self._list_data_files()
        if live:
            df = self._read_files(spark, live).select(
                "subject", "predicate", "object", "graph",
                F.pmod(F.xxhash64("subject"), F.lit(new_n_buckets))
                .cast("int").alias("p_bucket"),
            )
            df.write.mode("append").partitionBy("p_bucket").parquet(self.graph_dir)
        added = self._list_data_files() - before
        return self._commit(
            added, "rebucket", expect_parent=base,
            bounds=self._file_bounds(added), n_buckets=new_n_buckets,
        )

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Copy-on-write DELETE (Iceberg's delete-with-rewrite): drop every
        live quad matching ``condition`` (a Column over subject/predicate/
        object/graph/p_bucket) and commit the result as a new snapshot.
        Returns the number of quads deleted.

        Two passes: one filter-pushdown scan over the live set finds the
        files that CONTAIN matches (parquet row-group stats prune it), then
        only those files are rewritten without the matching rows and
        swapped in one manifest commit (op ``delete``) — an entity
        retraction rewrites one bucket's files, not the table.  Untouched
        files are carried by reference; their bounds survive; rewritten
        files get fresh bounds.  Rows where ``condition`` evaluates NULL
        are KEPT (delete only what provably matches).

        Retention caveat, stated because retraction is usually a LEGAL
        erasure: the deleted quads remain readable via time travel until
        ``expire_snapshots`` drops every snapshot that references the old
        files — true physical erasure is delete_where + expiry."""
        self._bootstrap_if_legacy()
        base = self.current_snapshot()
        live = self._live_files(base)
        if not live:
            return 0
        # abspath, NOT resolve(): Hadoop qualifies paths against the cwd
        # without following symlinks, so a resolved root would mismatch
        # input_file_name() on any symlinked store path
        root = os.path.abspath(self.graph_dir)
        df = self._read_files(spark, live).withColumn(
            "__file", F.input_file_name()
        )
        touched_abs = {
            r["__file"] for r in
            df.filter(condition).select("__file").distinct().collect()
        }
        if not touched_abs:
            return 0

        def rel(uri: str) -> str:
            # input_file_name() yields a URI: strip the scheme and undo
            # percent-encoding so exotic path characters still map back to
            # the manifest's plain relative paths
            from urllib.parse import unquote

            p = unquote(uri.removeprefix("file://").removeprefix("file:"))
            return p[len(root) + 1:]

        touched = sorted(rel(u) for u in touched_abs)
        unknown = set(touched) - set(live)
        if unknown:
            raise RuntimeError(
                f"delete_where could not map scanned files back to the "
                f"manifest: {sorted(unknown)[:3]} — store path mismatch"
            )
        # null-safe negation: a NULL condition (e.g. graph == "<g>" on the
        # default graph's NULL) must KEEP the row, not silently delete it
        kept_rows = self._read_files(spark, touched).filter(
            ~F.coalesce(condition, F.lit(False))
        )
        n_before = self._read_files(spark, touched).count()
        n_after = kept_rows.count()
        before_disk = self._list_data_files()
        if n_after:
            kept_rows.write.mode("append").partitionBy("p_bucket").parquet(
                self.graph_dir
            )
        added = self._list_data_files() - before_disk
        bounds = dict(
            self._read_manifest(base).get("bounds", {}) if base is not None else {}
        )
        for f in touched:
            bounds.pop(f, None)
        bounds.update(self._file_bounds(added))
        self._commit(
            (set(live) - set(touched)) | added, "delete",
            expect_parent=base, bounds=bounds,
        )
        return n_before - n_after

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop all but the newest ``keep_last`` snapshots and delete every
        data file no kept snapshot references — including orphans from
        crashed writes (files on disk that no manifest ever committed).
        Returns the number of data files deleted.  Write-path maintenance
        (single-writer): running it concurrently with a live merge would
        sweep the merge's not-yet-committed files."""
        if keep_last < 1:
            # snaps[-0:] would slice the WHOLE list — a silent keep-everything
            # no-op inverting the caller's "maximal cleanup" intent
            raise ValueError("keep_last must be >= 1 (CURRENT is always kept)")
        snaps = self.snapshots()
        if not snaps:
            return 0
        cur = self.current_snapshot()
        # tagged snapshots are pinned: a named ref (training-corpus release,
        # audit point) must outlive routine expiry until the tag is dropped
        keep = ({s["snapshot"] for s in snaps[-keep_last:]} | {cur}
                | set(self.tags().values()))
        referenced: set[str] = set()
        for s in snaps:
            if s["snapshot"] in keep:
                referenced |= set(s["files"])
            else:
                (self.manifests_dir / f"manifest-{s['snapshot']}.json").unlink()
        removed = 0
        for f in self._list_data_files() - referenced:
            (Path(self.graph_dir) / f).unlink()
            removed += 1
        return removed
