"""ETL-engine benchmark entry point.

    python3 etlbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds one local Spark session with
``local[nproc]``, generates the workload's inputs from ``--seed``, sets
up its tables, then runs ``round(S / nominal_cycle_s)`` passes (at
least one) over the workload's op cycle, so a pass's work is fixed and
its counters repeat exactly for a given seed. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``); its times are wall times less the time the hypervisor
withheld (see ``steal.py``). The line before it carries the host
context, raw wall times included. Traced
runs also write every op, span, job and store delta as JSON lines under
``.etlbench_out/``.

Everything the run writes stays under the checkout: inputs, tables,
Spark's scratch space and temp files live in ``.etlbench_work/``, which
is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".etlbench_work")
OUT = os.path.join(ROOT, ".etlbench_out")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_incremental", "etl_bulk", "read_recon", "stream_ivm"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate() -> None:
    """Point every temp and scratch location of Python, the JVM and
    Spark's workers into the work directory."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVMs (spark-submit's launcher too) would otherwise keep a
    # perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(nproc: int):
    from x_spark.session import get_session

    tmp = os.path.join(WORK, "tmp")
    return get_session(
        "etlbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # a fixed young generation and a pre-sized heap keep the
            # JVM's resident size from following G1's timing-driven
            # young-generation resizing, so peak RSS repeats run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:NewSize=256m -XX:MaxNewSize=256m -XX:TieredStopAtLevel=1"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """High-water RSS of this process plus the JVM."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    pids = ["self"]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    return sum(hwm_kb(p) for p in pids) / 1024.0


def host_context(spark, nproc: int, load_start) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc, "loadavg_start": load_start, "loadavg_end": list(os.getloadavg()),
        "spark": spark.version, "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def latency_summary(by_kind: dict[str, list[float]]) -> dict:
    """Per op type: sample count, median, and the highest percentile
    with at least ten samples beyond it (None below 20 samples)."""
    out = {}
    for kind, xs in by_kind.items():
        n = len(xs)
        tail = None
        if n >= 20:
            q = int(100 * (1 - 10 / n))
            tail = {"percentile": q, "ms": statistics.quantiles(xs, n=100)[q - 1]}
        out[kind] = {"samples": n, "p50_ms": statistics.median(xs), "tail": tail}
    return out


def end_to_end(wl, setup_s: float, wall_s: float, rss: float) -> dict:
    # op types differ in cost by up to 10x; the median of the pooled
    # samples sits in the gap between two types and jumps with either
    # one, so each type gets its own median and the types weigh equally
    p50 = statistics.mean(statistics.median(xs) for xs in wl.latencies_ms().values())
    rows = sum(op["rows"] for op in wl.bench.ops)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall_s, "unit": "s"},
        "op_p50_ms": {"value": p50, "unit": "ms"},
        "rows_per_s": {"value": rows / wall_s, "unit": "rows/s"},
        "write_amp": {"value": wl.write_amp(), "unit": "ratio"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    from etlbench.steal import cpu_ticks, stolen_share

    ticks_start = cpu_ticks()
    load_start = list(os.getloadavg())
    try:
        import x_spark  # noqa: F401
    except ImportError as e:
        print(f"etlbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    isolate()
    from etlbench.layers import per_layer
    from etlbench.tracing import Tracer
    from etlbench.workloads import WORKLOADS, Bench

    nproc = len(os.sched_getaffinity(0))
    cls = WORKLOADS[args.workload]
    cycles = max(1, round(args.seconds / cls.nominal_cycle_s))
    spark = start_session(nproc)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = Bench(spark, tracer, WORK)
        wl = cls(bench, args.seed, cycles)
        try:
            wl.setup()
            raw_setup_s, ticks0 = time.perf_counter() - t_start, cpu_ticks()
            setup_stolen = stolen_share(ticks_start, ticks0)
            tracer.skip_jobs()
            tracer.install()
            bench.timed = True
            ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            wl.timed()
            raw_wall_s = time.perf_counter() - t0
            timed_stolen = stolen_share(ticks0, cpu_ticks())
            bench.timed = False
            problems = wl.check()
            setup_s = raw_setup_s * (1 - setup_stolen)
            wall_s = raw_wall_s * (1 - timed_stolen)
        finally:
            tracer.uninstall()
            wl.close()
        for p in problems:
            print(f"etlbench: {p}", file=sys.stderr)
        ops = bench.ops
        failed = sum(not op["ok"] for op in ops) + len(problems)
        attempted = len(ops) + 1  # the final-state check counts as one more
        details = None
        if args.trace:
            metrics, details = per_layer(wl, tracer, wall_s)
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}.jsonl"), ops)
        else:
            metrics = end_to_end(wl, setup_s, wall_s, peak_rss_mb(spark))
        context = host_context(spark, nproc, load_start)
        context.update(workload=args.workload, seed=args.seed, cycles=cycles, ops=len(ops),
                       raw_setup_s=raw_setup_s, raw_wall_s=raw_wall_s,
                       setup_stolen=setup_stolen, timed_stolen=timed_stolen,
                       write_amp=wl.write_amp(), latency=latency_summary(wl.latencies_ms()),
                       layer_details=details)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
