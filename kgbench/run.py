#!/usr/bin/env python3
"""Layered benchmark of rio_spark's product path, ``run_pipeline``.

    python3 kgbench/run.py --workload rdf_dense --seed 1 --seconds 5 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 5 --trace 0

``--trace 0`` times the session's first ``run_pipeline`` call, on a fresh
copy of the workload's store, with no instrumentation, and prints the
end-to-end metrics.  ``--trace 1`` enables Spark's event log, makes a
warm-up call, runs one ``run_pipeline`` call under a job group, then calls
each layer's public function in turn on materialized inputs, and prints
the per-layer metrics.  Every call's output
is checked; see kgbench/README.md for the metrics and the checks.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it record the
host, the inputs, every timed sample and (traced) every span.  Progress
goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path(__file__).resolve().parents[1])]

try:
    import gen  # noqa: E402  (benchmark-local modules)
    import harness  # noqa: E402
    from harness import REPO, WORKLOADS, emit, log  # noqa: E402
except ModuleNotFoundError as e:  # not run from the root of a checkout
    sys.exit(f"kgbench: {e}; run it from the root of a rio_spark checkout")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_one(name: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        corpus_sha = harness.preflight()
    except (gen.CorpusMissing, harness.HostError) as e:
        print(f"kgbench: {e}", file=sys.stderr)
        return 2
    bench = harness.Bench(name, seed, trace)
    emit({"kgbench": "facts", "workload": name, "trace": int(trace),
          **harness.host_facts(seed, corpus_sha, bench.cores)})
    try:
        if trace:
            from layers import run_traced

            metrics = run_traced(bench, seconds)
        else:
            metrics = bench.run_e2e(seconds)
    finally:
        bench.close()
    for f in bench.failures:
        log(f"failed: {f}")
    failed = len(bench.failures)
    emit(result_line(failed == 0, bench.calls, failed, metrics))
    return 0


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload of BENCHMARK.json, one after another, each in its own
    process (one Spark process at a time)."""
    names = [w["name"] for w in json.loads((REPO / "BENCHMARK.json").read_text())["workloads"]]
    attempted = failed = 0
    metrics: dict = {}
    for name in names:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if out.returncode != 0 or not lines:
            log(f"{name} exited with {out.returncode}")
            return out.returncode or 1
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        emit({"kgbench": "workload", "workload": name,
              "failed_fraction": res["failed"] / res["attempted"], **res})
        for k, v in res["metrics"].items():
            metrics[f"{name}.{k}"] = (v["value"], v["unit"])
    emit(result_line(failed == 0, attempted, failed, metrics))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
