"""Host facts, the Spark session, inputs, and one workload's timed and
checked ``run_pipeline`` calls."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

# The heap and core count are pinned here, not taken from rio_spark's
# defaults, so a change of those defaults does not move the numbers.
HEAP_GB = 2
HEAP = f"{HEAP_GB}g"
# JVM off-heap, Python workers and the benchmark itself, beside the heap
HEADROOM_BYTES = 2 << 30

# n_convs: conversations one pipeline call reads; n_groups: run_pipeline's
# partition groups.  Fixed per workload, so every seed does the same work.
WORKLOADS = {
    "rdf_dense": {"n_convs": 150, "n_groups": 1},
    "chat_mix": {"n_convs": 300, "n_groups": 1},
}
SETUP_REPEATS = 3
META_SCHEMA = "conv_id string, format string, base_iri string"
QUAD_COLUMNS = ("subject", "predicate", "object", "graph")


class HostError(RuntimeError):
    """The benchmark cannot produce trustworthy numbers on this host."""


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


# -- host facts and processes ------------------------------------------------

def meminfo() -> dict[str, int]:
    out = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        key, val = line.split(":", 1)
        out[key] = int(val.split()[0]) * 1024
    return out


def _proc_stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        table[int(d)] = stat[stat.rindex(")") + 2:].split()
    return table


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, f in table.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) summed over the Spark JVM and its Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in descendants()) / 1024


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the Python worker processes under the
    JVM (with the CPU of workers they have reaped)."""
    tick = os.sysconf("SC_CLK_TCK")
    table = _proc_stats()
    total = 0
    for pid in descendants():
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        f = table.get(pid)
        if f and comm.startswith("python"):
            total += sum(int(x) for x in f[11:15])
    return total / tick


def host_facts(seed: int, corpus_sha: str, cores: int) -> dict:
    import pyarrow
    import pyspark

    mem = meminfo()
    commit = None
    if (REPO / ".git").exists():  # a plain source checkout has no commit
        try:
            commit = subprocess.run(
                ["git", "-C", str(REPO), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except OSError:
            pass
    src = hashlib.sha256()
    for f in sorted((REPO / "rio_spark").rglob("*.py")):
        src.update(f.relative_to(REPO).as_posix().encode() + b"\0" + f.read_bytes())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "mem_total_mb": mem["MemTotal"] >> 20,
        "mem_available_mb": mem["MemAvailable"] >> 20,
        "heap": HEAP,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "rio_spark_sha256": src.hexdigest(),
        "seed": seed,
        "w3c_style_sha256": corpus_sha,
    }


# -- Spark session -----------------------------------------------------------

def start_spark(work: Path, cores: int, trace: bool):
    from rio_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{HEAP}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="kgbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    kids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if Path(f"/proc/{p}").exists()
                and _proc_stats().get(p, ["Z"])[0] != "Z"]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- inputs ------------------------------------------------------------------

def write_inputs(work: Path, tag: str, rows, meta) -> tuple[Path, Path]:
    """Transcripts and the format frame as parquet, in the product's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tpath, mpath = work / f"{tag}_transcripts", work / f"{tag}_meta"
    for p in (tpath, mpath):
        shutil.rmtree(p, ignore_errors=True)
        p.mkdir(parents=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
    }), tpath / "part-0.parquet")
    mcols = list(zip(*meta)) if meta else [[], [], []]
    pq.write_table(pa.table({
        "conv_id": pa.array(mcols[0], pa.string()),
        "format": pa.array(mcols[1], pa.string()),
        "base_iri": pa.array(mcols[2], pa.string()),
    }), mpath / "part-0.parquet")
    return tpath, mpath


def kernel_parsers() -> dict:
    from rio_spark import kernels

    return {
        "nt": lambda text, base: kernels.parse_ntriples(text),
        "nq": lambda text, base: kernels.parse_nquads(text),
        "ttl": kernels.parse_turtle,
        "trig": kernels.parse_trig,
    }


# -- the expected output, computed on the driver ------------------------------

def driver_parse(docs) -> tuple[dict[str, list[tuple]], int]:
    """conv_id -> triple rows ``(doc_id, s, p, o, g)``, and the number of
    error rows, of the documents parsed on the driver by
    ``parse_document``, the function the extraction UDF applies."""
    from rio_spark.operators.extract import parse_document

    rows, n_err = {}, 0
    for conv, fmt, text, base in docs:
        rows[conv], errs = parse_document(conv, fmt, text, base)
        n_err += len(errs)
    return rows, n_err


def alias_mapping(rows) -> dict[str, str]:
    """node -> canonical for every node of an owl:sameAs component that is
    not its canonical; the canonical is the component's lexicographic min
    (union-find, the driver-side twin of ``canonical_mapping``)."""
    from rio_spark.operators.canonicalize import OWL_SAMEAS

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for _, s, p, o, _ in rows:
        if p == OWL_SAMEAS:
            a, b = find(s), find(o)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {x: r for x in parent if (r := find(x)) != x}


def canonical_quads(rows, mapping: dict[str, str]) -> set[tuple]:
    """The distinct quads ``canonicalize`` + ``dedup_triples`` make of the
    rows under ``mapping``: subject and object rewritten, sameAs self loops
    dropped."""
    from rio_spark.operators.canonicalize import OWL_SAMEAS

    out = set()
    for _, s, p, o, g in rows:
        s, o = mapping.get(s, s), mapping.get(o, o)
        if not (p == OWL_SAMEAS and s == o):
            out.add((s, p, o, g))
    return out


def quads_digest(quads) -> tuple[int, int]:
    """(row count, XOR of a 64-bit hash of every row): equal for equal
    multisets of quads, whatever their order."""
    h = 0
    for q in quads:
        h ^= int.from_bytes(hashlib.blake2b(repr(tuple(q)).encode(), digest_size=8).digest(), "big")
    return len(quads), h


@dataclass
class Expected:
    triples: int  # triple rows extraction yields
    errors: int   # error rows extraction yields
    # rdf_dense only: the quads the first delivery of the re-sent
    # conversations left in the store, the quads a call then adds, and the
    # store's digest after that call
    base: set[tuple] = field(default_factory=set)
    merged: int | None = None
    digest: tuple[int, int] | None = None


def expected_output(wl: gen.Workload, docs) -> Expected:
    """What the pipeline must produce on ``wl``: the base store its first
    delivery of the re-sent conversations leaves, and what one call on the
    whole input then adds to it."""
    parsed, n_err = driver_parse(docs)
    rows = [r for rs in parsed.values() for r in rs]
    if wl.name != "rdf_dense":
        # chat_mix's linked quads have no driver-side twin
        return Expected(len(rows), n_err)
    first = [r for c in sorted(wl.resent) for r in parsed[c]]
    base = canonical_quads(first, alias_mapping(first))
    out = canonical_quads(rows, alias_mapping(rows))
    return Expected(len(rows), n_err, base, len(out - base), quads_digest(out | base))


class Bench:
    """One workload in one Spark session: setup, timed calls, checks."""

    def __init__(self, name: str, seed: int, trace: bool):
        self.name, self.seed, self.trace = name, seed, trace
        self.cfg = WORKLOADS[name]
        self.cores = len(os.sched_getaffinity(0))
        self.calls = 0
        self.failures: list[str] = []
        self.ref_digest = None
        self.base_count = 0
        self.spark = None
        # everything the run writes stays under the checkout; the Spark JVM
        # and its Python workers inherit this environment
        self.work = REPO / ".kgbench_work" / f"{name}-{seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        os.environ["RIO_SPARK_DRIVER_MEM"] = HEAP
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def close(self) -> None:
        """Stop Spark (if still running) and delete the work directory."""
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)

    # -- setup ---------------------------------------------------------------

    def setup(self, warm_up: bool) -> float:
        """Session start, input generation/write (median of SETUP_REPEATS),
        the expected output and the base store (rdf_dense); with
        ``warm_up``, one pipeline call too."""
        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.cores, self.trace)
        session_s = time.perf_counter() - t0
        gen_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.wl = gen.make_workload(self.name, self.seed, self.cfg["n_convs"], REPO)
            self.tpath, self.mpath = write_inputs(self.work, "in", self.wl.rows, self.wl.meta)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.docs = gen.documents(self.wl)
        self.expect = expected_output(self.wl, self.docs)
        expect_s = time.perf_counter() - t
        t = time.perf_counter()
        self._load_frames()
        if self.expect.base:
            self._build_base(self.expect.base)
        if warm_up:
            self.checked_call("warm-up")
        rest_s = time.perf_counter() - t
        log(f"setup: session {session_s:.2f}s gen+write {statistics.median(gen_times):.2f}s "
            f"expected output {expect_s:.2f}s base store/warm-up {rest_s:.2f}s")
        return session_s + statistics.median(gen_times) + expect_s + rest_s

    def _load_frames(self) -> None:
        from rio_spark.sources.entity_dictionary import entity_dictionary

        self.transcripts = self.spark.read.parquet(str(self.tpath))
        self.docs_meta = self.spark.read.schema(META_SCHEMA).parquet(str(self.mpath))
        self.dictionary = entity_dictionary(self.spark)

    def _build_base(self, quads: set[tuple]) -> None:
        """The pristine base store: ``quads``, what the first delivery of
        the re-sent conversations left, merged into an empty store by
        ``GraphStore.merge``, the call that delivery's ``run_pipeline`` makes
        (same bucketing, same files)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from rio_spark.operators.materialize import GraphStore

        path = self.work / "base_quads"
        path.mkdir()
        cols = list(zip(*sorted(quads, key=lambda q: (*q[:3], q[3] or ""))))
        pq.write_table(pa.table({
            name: pa.array(col, pa.string()) for name, col in zip(QUAD_COLUMNS, cols)
        }), path / "part-0.parquet")
        base = GraphStore(str(self.work / "base_store"))
        self.base_count = base.merge(self.spark, self.spark.read.parquet(str(path)))
        dig, want = self.digest(base), quads_digest(quads)
        self.fail_if("base store", [] if dig == want else [
            f"base store digest {dig} != driver-side expectation {want}"])

    # -- one call ------------------------------------------------------------

    def fresh_store(self, dirname: str = "store"):
        """A copy of the pristine base store, or an empty store if the
        workload has none."""
        from rio_spark.operators.materialize import GraphStore

        path = self.work / dirname
        shutil.rmtree(path, ignore_errors=True)
        if self.base_count:
            shutil.copytree(self.work / "base_store", path)
        return GraphStore(str(path))

    @staticmethod
    def digest(store) -> tuple[int, int]:
        """quads_digest of the store's live snapshot, read on the driver
        from the files its manifest names (a Spark scan of hundreds of
        small files would cost seconds per check)."""
        import pyarrow.parquet as pq

        cur = store.current_snapshot()
        files = next(s["files"] for s in store.snapshots() if s["snapshot"] == cur)
        quads = []
        for f in files:
            t = pq.ParquetFile(Path(store.graph_dir) / f).read(columns=list(QUAD_COLUMNS))
            quads.extend(zip(*(t.column(c).to_pylist() for c in QUAD_COLUMNS)))
        return quads_digest(quads)

    def pipeline(self, store, snapshot_id: str = "bench"):
        from rio_spark.pipeline import run_pipeline

        return run_pipeline(
            self.spark, self.transcripts, store, snapshot_id, self.docs_meta,
            self.dictionary, n_groups=self.cfg["n_groups"],
        )

    def check_store(self, label: str, store, merged: int, errors: int) -> tuple[int, int]:
        """The checks every end-to-end call gets; a failed one is recorded."""
        dig = self.digest(store)
        bad = []
        if dig[0] != self.base_count + merged:
            bad.append(f"store holds {dig[0]} quads, expected {self.base_count} + {merged} merged")
        if self.expect.merged is not None and merged != self.expect.merged:
            bad.append(f"merged {merged} quads, driver-side expectation {self.expect.merged}")
        if self.expect.digest is not None:
            if dig != self.expect.digest:
                bad.append(f"digest {dig} != driver-side expectation {self.expect.digest}")
        elif self.ref_digest is None:
            self.ref_digest = dig
        elif dig != self.ref_digest:
            bad.append(f"digest {dig} != first call's {self.ref_digest}")
        if errors != self.expect.errors:
            bad.append(f"{errors} error rows, driver-side parse gives {self.expect.errors}")
        rerun = self.pipeline(store)
        if rerun.groups_skipped != self.cfg["n_groups"] or rerun.triples_merged != 0:
            bad.append(f"same-snapshot rerun skipped {rerun.groups_skipped}/"
                       f"{self.cfg['n_groups']} groups and merged {rerun.triples_merged}")
        self.fail_if(label, bad)
        return dig

    def fail_if(self, label: str, problems: list[str]) -> None:
        self.calls += 1
        if problems:
            self.failures.append(f"{label}: " + "; ".join(problems))
            log(f"CHECK FAILED {label}: {problems}")

    def checked_call(self, label: str) -> tuple[float, tuple, object]:
        store = self.fresh_store()
        t = time.perf_counter()
        report = self.pipeline(store)
        wall = time.perf_counter() - t
        dig = self.check_store(label, store, report.triples_merged, report.error_rows)
        log(f"{label}: {wall:.3f}s merged={report.triples_merged} errors={report.error_rows}")
        return wall, dig, report

    # -- end-to-end ----------------------------------------------------------

    def run_e2e(self, seconds: float) -> dict:
        """pipeline_s is the session's first call, as a run of
        jobs/run_pipeline.py makes it: a batch job pays the cold JVM on
        every run.  Calls made while ``seconds`` lasts after it run warm;
        they are checked and recorded, not part of pipeline_s."""
        setup_s = self.setup(warm_up=False)
        walls, merged = [], []
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            wall, _, report = self.checked_call(f"call {len(walls)}")
            walls.append(wall)
            merged.append(report.triples_merged)
        rss = peak_rss_mb()
        pipeline_s = walls[0]
        # triples_per_s is reported here, not as a BENCHMARK.json metric: it
        # is a seed-dependent count over pipeline_s, so it spreads more
        emit({"kgbench": "samples", "workload": self.name, "pipeline_s": pipeline_s,
              "warm_pipeline_s": walls[1:], "triples_merged": merged[0],
              "triples_per_s": merged[0] / pipeline_s})
        return {
            "setup_s": (setup_s, "s"),
            "pipeline_s": (pipeline_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        }

def preflight() -> str:
    """Fail before any number is produced when the inputs or the heap are
    not there; returns the hash of the in-repo document set."""
    _, sha = gen.load_w3c(REPO)
    if not (REPO / "rio_spark" / "pipeline.py").is_file():
        raise HostError(f"{REPO / 'rio_spark'} is missing")
    avail = meminfo()["MemAvailable"]
    if avail < (HEAP_GB << 30) + HEADROOM_BYTES:
        raise HostError(
            f"MemAvailable {avail >> 20} MB cannot hold a {HEAP} heap plus "
            f"{HEADROOM_BYTES >> 20} MB headroom"
        )
    return sha
