"""Repository benchmark: KG graph construction and corpus curation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process is the only client: it starts
one Spark session (``local[N]``, N = usable cores), makes the workload's
inputs from ``--seed``, sets up ``SETUPS`` times (session start, engine
warm-up, lookup structures) and reports the median as ``setup_s``.  It then
runs timed operations in a closed loop until ``--seconds`` of operation
time have passed and at least ``MIN_OPS`` ran, and checks every
operation's output.  There is no untimed warm-up operation: the first
operation after set-up is measured as a user's first job would run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The line before it records the
environment, the inputs and the raw per-operation timings.  Scratch data
lives under ``.bench_run/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

SETUPS = 2  # the first also starts the JVM; the second reuses it
MIN_OPS = 1  # timed operations per run
REQUIRED = ("deduce_spark/spark/kg.py", "jobs/build_kg.py",
            "jobs/curate_corpus.py",
            "data/cache/lookup_structs_2ac432b4ec9e0f78.pkl")
END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
              "op_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
              "ok_ratio": "ratio"}


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def source_digest(root: Path) -> str:
    """Digest of the program's sources (the checkout need not be a git
    repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for sub in ("deduce_spark", "jobs"):
        for f in sorted((root / sub).rglob("*.py")):
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(root: Path, spark, master: str, seed: int) -> dict:
    import pyspark

    from deduce_spark.kernel.config import DEFAULT_CONFIG_PATH

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "commit": git_commit(root),
        "source_digest": source_digest(root),
        "reference_config_present": DEFAULT_CONFIG_PATH.exists(),
    }


def configure_env(root: Path, work: Path) -> dict:
    """Keep every file the run writes inside ``work``; returns Spark conf."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM in the tree (the launcher and Spark's) keeps its temp files
    # here, and writes no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a 2 GiB JVM heap holds these inputs; the session default is 8 GiB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child
    process to end."""
    from pyspark import SparkContext

    from perfbench import procstat

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in procstat.descendants():
        if not procstat.wait_gone(pid, 30):
            os.kill(pid, 9)
            procstat.wait_gone(pid, 10)


def measure(args, root: Path, work: Path) -> tuple[dict, dict]:
    from deduce_spark.spark import session

    from perfbench import procstat
    from perfbench.trace import Tracer, metric_unit, per_layer_names
    from perfbench.workloads import WORKLOADS

    conf = configure_env(root, work)
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    wl = WORKLOADS[args.workload](root, work, args.seed)
    phase_s: dict[str, float] = {}  # untimed phases, for the detail line
    t_phase = time.perf_counter()
    inputs = wl.generate()
    phase_s["generate"] = time.perf_counter() - t_phase

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()

    setup_s = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                if tracer:
                    tracer.harvest(spark.sparkContext)
                spark.stop()
            t0 = time.perf_counter()
            with tracer.traced_phase("setup") if tracer else nullcontext():
                spark = session.get_spark(master=master, app_name="perfbench",
                                          extra_conf=conf)
                wl.load()
            setup_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        env = environment(root, spark, master, args.seed)
        t_phase = time.perf_counter()
        wl.prepare(spark)
        phase_s["prepare"] = time.perf_counter() - t_phase

        def run_op(i: int, traced: bool) -> tuple[float, int]:
            wl.before_op(i)
            t0 = time.perf_counter()
            try:
                with tracer.operation(wl.job) if traced else nullcontext():
                    n = wl.op(spark, i)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                problems[i] = ["raised"]
                n = 0
            return time.perf_counter() - t0, n

        problems: dict[int, list[str]] = {}
        window = procstat.Window()
        op_s, rows = [], 0
        window.start()
        while len(op_s) < MIN_OPS or sum(op_s) < args.seconds:
            dt, n = run_op(len(op_s), traced=tracer is not None)
            op_s.append(dt)
            rows += n
        window.stop()

        attempted = len(op_s)
        t_phase = time.perf_counter()
        extra: dict[str, float] = {}
        for i in range(attempted):
            if i not in problems:
                problems[i] = wl.check(spark, i)
            for k, v in wl.layer_counts(i).items():
                extra[k] = extra.get(k, 0.0) + v / attempted
        phase_s["check"] = time.perf_counter() - t_phase
        if tracer:
            tracer.harvest(spark.sparkContext)
    finally:
        if tracer:
            tracer.uninstall()
        t_phase = time.perf_counter()
        stop_spark(spark)
        phase_s["stop"] = time.perf_counter() - t_phase

    failures = [f"op {i}: {p}" for i, ps in sorted(problems.items()) for p in ps]
    failed = sum(1 for ps in problems.values() if ps)
    tail, pct, n = tail_latency(op_s)
    if tracer:
        values = tracer.metrics(SETUPS, len(op_s), op_s, extra)
        metrics = {k: {"value": values[k], "unit": metric_unit(k)}
                   for k in per_layer_names()}
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "rows_per_s": rows / sum(op_s),
            "op_p50_s": statistics.median(op_s),
            "op_tail_s": tail,
            "cpu_s": window.cpu_s,
            "peak_rss_mb": window.peak_rss_mb,
            "ok_ratio": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {
        "workload": args.workload, "env": env, "inputs": inputs,
        "setup_s_all": setup_s, "op_s_all": op_s,
        "op_tail": {"percentile": pct, "samples": n},
        "failures": failures, "steal_s": window.steal_s, "phase_s": phase_s,
        "peak_rss_parts_mb": window.peak_parts,
    }
    result = {"correct": not failures, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help=f"operation time to measure (at least {MIN_OPS} ops)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    missing = [p for p in REQUIRED if not (root / p).exists()]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(root / "jobs")]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = root / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        detail, result = measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
