"""Seeded closed-loop benchmark of the link-graph engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process, one Spark session from
``get_spark`` on ``local[<cores>]`` with the engine's defaults, one
client: each query starts when the previous one has returned.  Every
query's output is checked against expected values computed during
set-up.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``); the line before
it describes the run: seed, input shape, latencies.

Everything the run writes (Spark scratch, checkpoints, temp files)
goes under ``.perfbench_work/`` in the repository and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("transcripts-pipeline", "powerlaw-iterative", "motif-hub")
# Untimed queries before the timed loop: the cold one, which set-up
# includes, and one more while the JIT compiles.  The second query is
# within ~15% of later ones; a third would not fit the run's budget.
WARMUP_QUERIES = 2
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples beyond it)`` for the highest
    nearest-rank percentile with at least ten samples beyond it; the
    maximum (percentile 100, none beyond) when no percentile has."""
    ordered = sorted(samples)
    n = len(ordered)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return ordered[rank - 1], p, n - rank
    return ordered[-1], 100.0, 0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this process plus the Spark JVM, in MB."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def start_session(work: Path):
    from grandiso_networkx_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            ),
            # one traced query can run ~200 jobs; keep every job and
            # stage of a run readable from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Loop:
    """Closed loop of one client over a workload's queries."""

    def __init__(self, spark, wl, baseline: set[int]) -> None:
        self.spark, self.wl, self.baseline = spark, wl, baseline

    def one(self, tracer) -> tuple[float, bool, dict | None]:
        """Run, check and clean up after one query: (latency, ok, layers)."""
        from perfbench.trace import isolate

        t0 = time.perf_counter()
        try:
            out = self.wl.query(tracer)
        except Exception:
            traceback.print_exc()
            out = None
        latency = time.perf_counter() - t0
        bad = ["raised"] if out is None else self.wl.check(out)
        if bad:
            print(f"perfbench: wrong output from {', '.join(bad)}", file=sys.stderr)
        layers = tracer.finish_query() if tracer.enabled else None
        self.wl.after_query()
        isolate(self.spark, self.baseline)
        return latency, not bad, layers

    def run(self, tracers: list, seconds: float) -> list[tuple]:
        """Queries, cycling through ``tracers``, until the next one would
        end past ``seconds``: one ``(latency, ok, layers)`` each."""
        out: list[tuple] = []
        start = time.perf_counter()
        while True:
            out.append(self.one(tracers[len(out) % len(tracers)]))
            typical = statistics.median(r[0] for r in out)
            if time.perf_counter() - start + typical > seconds:
                return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from perfbench.trace import Tracer, layer_report, persisted_rdd_ids
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work)
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[workload](spark, seed, str(work))
        gen_s, oracle_s = wl.prepare()
        loop = Loop(spark, wl, persisted_rdd_ids(spark.sparkContext))
        plain = Tracer(spark, enabled=False)
        warm = [loop.one(plain) for _ in range(WARMUP_QUERIES)]
        setup_s = start_s + gen_s + oracle_s + warm[0][0]
        # A traced run alternates traced and untraced queries; the
        # difference of their medians is the tracing overhead.
        tracers = [Tracer(spark, enabled=True), plain] if trace else [plain]
        records = loop.run(tracers, seconds)
        peak = peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        stop_session(spark)

    lat = [r[0] for r in records]
    attempted = len(records)
    failed = sum(1 for r in records if not r[1])
    p50 = statistics.median(lat)
    tail_s, tail_p, beyond = tail(lat)
    print(json.dumps({
        "workload": workload,
        "seed": seed,
        "input": wl.shape,
        "setup": {"session_s": start_s, "gen_s": gen_s, "oracle_s": oracle_s},
        "warmup_s": [r[0] for r in warm],
        "latencies_s": lat,
        "traced": [r[2] is not None for r in records],
        "query_tail": {"percentile": tail_p, "samples_beyond": beyond, "samples": len(lat)},
        "fail_ratio": failed / attempted,
        "peak_rss_mb": peak,
    }))
    if trace:
        traced = [r[0] for r in records if r[2] is not None]
        untraced = [r[0] for r in records if r[2] is None]
        overhead = statistics.median(traced) - statistics.median(untraced) if untraced else 0.0
        metrics = layer_report([r[2] for r in records if r[2] is not None], {
            "session.start_s": start_s,
            "session.peak_rss_mb": peak,
            "sources.gen_s": gen_s,
            "sources.rows": wl.rows,
            "trace.overhead_s": overhead,
        })
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "query_p50_s": {"value": p50, "unit": "s"},
            "query_tail_s": {"value": tail_s, "unit": "s"},
            "input_rows_per_s": {"value": wl.rows * attempted / sum(lat), "unit": "rows/s"},
            "pass_ratio": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    return {
        "correct": failed == 0 and all(r[1] for r in warm),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "grandiso_networkx_spark" / "__init__.py").is_file():
        print(f"perfbench: no grandiso_networkx_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the launcher JVM that spark-submit starts first writes to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
