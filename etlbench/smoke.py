"""Smoke test of the benchmark itself, at tiny scale.

    python3 etlbench/smoke.py

Runs every workload (the ones ``BENCHMARK.json`` lists and
``etl_bulk``) once untraced and twice traced with the same seed and one
pass each, with row counts cut to a tiny size. It checks that exactly
the metrics ``BENCHMARK.json`` names are emitted, each with its unit,
that every output check passes, and that the counters repeat exactly
between the two traced runs: Spark jobs per op type, ``txlog.commits``,
``txlog.bytes_written`` and ``write_amp`` (the byte counts of
``stream_ivm`` to within 1%, see ``UNORDERED_EPOCHS``).
Exits 1 on the first workload that fails. Takes a few minutes: each
run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
# The file stream source orders the engine's chunk files by modification
# time, and the chunks are written in the same instant, so which rows
# land in which epoch varies between runs. The final view is the same,
# but intermediate files differ by a few bytes: here bytes agree to 1%.
UNORDERED_EPOCHS = {"stream_ivm"}
BYTE_COUNTERS = ("txlog.bytes_written", "write_amp")

def shrink() -> None:
    """Cut every workload's inputs to a tiny size."""
    from etlbench import workloads as w

    w.EtlIncremental.BATCH_ROWS = 200
    w.EtlBulk.N_ROWS = 4000
    w.ReadRecon.N_ROWS = 2000
    w.ReadRecon.LOG_ROWS = 20
    w.StreamIvm.N_EVENTS = 800
    w.StreamIvm.N_USERS = 50
    w.StreamIvm.CHUNKS = 2


def child(workload: str, trace: str) -> int:
    sys.path.insert(0, ROOT)
    shrink()
    from etlbench import run

    return run.main(["--workload", workload, "--seed", str(SEED), "--seconds", "0.1",
                     "--trace", trace])


def run_once(workload: str, trace: int) -> tuple[dict, dict, list[dict]]:
    p = subprocess.run([sys.executable, os.path.abspath(__file__), "--child", workload, str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-4000:]}")
    lines = p.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    dump = []
    if trace:
        with open(os.path.join(ROOT, ".etlbench_out", f"{workload}-seed{SEED}.jsonl")) as fh:
            dump = [json.loads(line) for line in fh]
    return result, context, dump


def expect_units(metrics: dict, units: dict[str, str], what: str) -> None:
    for name, unit in units.items():
        if name not in metrics:
            raise AssertionError(f"{what}: metric {name} missing")
        if metrics[name]["unit"] != unit:
            raise AssertionError(f"{what}: {name} unit {metrics[name]['unit']!r} != {unit!r}")
        if not isinstance(metrics[name]["value"], (int, float)):
            raise AssertionError(f"{what}: {name} value is not a number")
    extra = set(metrics) - set(units)
    if extra:
        raise AssertionError(f"{what}: unexpected metrics {sorted(extra)}")


def counters(result: dict, context: dict, dump: list[dict]) -> dict:
    op_kind = {r["id"]: r["kind"] for r in dump if r["type"] == "op"}
    jobs = Counter(op_kind[r["op"]] for r in dump if r["type"] == "job")
    m = result["metrics"]
    return {"spark.jobs by op type": dict(jobs),
            "txlog.commits": m["txlog.commits"]["value"],
            "txlog.bytes_written": m["txlog.bytes_written"]["value"],
            "write_amp": context["write_amp"]}


def check_workload(workload: str, e2e_units: dict[str, str], layer_units: dict[str, str]) -> None:
    plain, _, _ = run_once(workload, 0)
    expect_units(plain["metrics"], e2e_units, f"{workload} untraced")
    seen = []
    for _ in range(2):
        result, context, dump = run_once(workload, 1)
        expect_units(result["metrics"], layer_units, f"{workload} traced")
        seen.append(counters(result, context, dump))
    for res in (plain, result):
        if not res["correct"] or res["failed"]:
            raise AssertionError(f"{workload}: output check failed: {res}")
    a, b = seen
    tol = 0.01 if workload in UNORDERED_EPOCHS else 0.0
    same = all(a[k] == b[k] for k in a if k not in BYTE_COUNTERS) and all(
        abs(a[k] - b[k]) <= tol * abs(a[k]) for k in BYTE_COUNTERS)
    if not same:
        raise AssertionError(f"{workload}: counters differ between runs:\n{a}\n{b}")
    print(f"ok {workload}: {seen[0]}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for workload in [w["name"] for w in spec["workloads"]] + ["etl_bulk"]:
        try:
            check_workload(workload, e2e_units, layer_units)
        except AssertionError as e:
            print(f"FAIL {e}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2], sys.argv[3]))
    sys.exit(main())
