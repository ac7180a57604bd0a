"""Benchmark of the esmarc_spark KG engine: one command, several workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. Workloads (sizes, reasons and the
layer -> end-to-end predictions in ``workloads.json``):
``incremental_backfill`` and ``cold_query_suite``. Each is a closed loop
with one caller on ``local[<cores this process may use>]``.

Per invocation:

1. the workload's seeded inputs are generated in a child process (once
   per seed and size; later runs reuse them from ``.perfbench_work``);
2. set-up (session start, reader open, warm-up) runs ``setup_reps``
   times, stopping and restarting the SparkContext in between; the median
   is ``setup_s``;
3. ``--trace 0``: operations run back to back until ``--seconds`` have
   passed (the cold suite runs its one first-execution pass), each
   operation's output is checked outside the timed region, and the
   end-to-end metrics are reported as medians over the operations.
   ``--trace 1``: the traced procedure of ``tracing.py`` runs instead and
   reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every invocation
also appends one entry, with its run context, to ``history.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

from common import (
    BENCH, ROOT, SPEC, WORKLOADS, adopt_orphans, cpus, end_processes, package_present,
    prepare_env,
)

HISTORY = BENCH / "history.jsonl"
MIN_OPS = 2
END_TO_END = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def calibrate(spark) -> float:
    """bench.py's fixed pure-JVM probe, scaled to a third of its rows and
    timed on its first execution to keep runs short (machine state,
    recorded in the history only)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, cpus() * 2).agg(
        F.sum(F.xxhash64("id").cast("decimal(38,0)"))
    ).collect()
    return time.perf_counter() - t0


def run_context(spark) -> dict:
    import pyspark

    from esmarc_spark.deploy import package_zip

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "cpus": cpus(),
        "pyspark": pyspark.__version__,
        "commit": commit,
        "package_zip": os.path.basename(package_zip()),
        "calibration_sec": calibrate(spark),
    }


def ensure_inputs(workload: str, seed: int) -> dict:
    import gen

    try:
        return gen.workload_inputs(None, workload, seed)
    except gen.NotGenerated:
        pass
    done = subprocess.run(
        [sys.executable, str(BENCH / "gen.py"), "--workload", workload,
         "--seed", str(seed)],
        cwd=ROOT, stdout=subprocess.PIPE, timeout=600, check=True, text=True,
    )
    return json.loads(done.stdout.strip().splitlines()[-1])


def set_up(workload_cls, inputs: dict, seed: int, reps: int, event_dir=None):
    """Run set-up ``reps`` times (fresh SparkContext each time, the last
    one kept); returns (spark, workload, per-rep seconds)."""
    from common import start_spark

    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{workload_cls.name}", event_dir)
        wl = workload_cls(spark, inputs, seed)
        wl.setup()
        times.append(time.perf_counter() - t0)
        if rep < reps - 1:
            spark.stop()
    return spark, wl, times


def settle(spark) -> None:
    """Start each operation from a comparable heap (untimed): drop the
    Python handles of earlier plans, then collect the JVM heap so Spark's
    ContextCleaner releases their cached and checkpointed blocks."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


def measure(wl, seconds: float) -> dict:
    """Closed loop until the operations' own timed walls add up to
    ``seconds``, and for at least ``MIN_OPS`` operations, so every run ends
    in the same heap state (the cold suite makes its single pass); output
    checks run outside the timed walls. Returns the timings of the
    operations that completed, the check results, and the attempted and
    failed counts."""
    from workloads import CheckFailed

    out = {"ops": [], "checks": [], "attempted": 0, "failed": 0}

    def check() -> bool:
        try:
            out["checks"].append(wl.verify())
            return True
        except CheckFailed as exc:
            print(f"wrong output: {exc}", file=sys.stderr)
        except Exception:  # the loop must keep running and report it
            traceback.print_exc()
        return False

    timed = 0.0
    give_up = time.perf_counter() + 6 * seconds
    while True:
        settle(wl.spark)
        out["attempted"] += 1
        try:
            out["ops"].append(wl.op())
            timed += out["ops"][-1]["wall"]
            if wl.verify_each and not check():
                out["failed"] += 1
        except Exception:  # the loop must keep running and report it
            out["failed"] += 1
            traceback.print_exc()
        enough = timed >= seconds and out["attempted"] >= MIN_OPS
        if wl.single_pass or enough or time.perf_counter() > give_up:
            break
    if not wl.verify_each and out["ops"] and not check():
        # one check covers every call of a deterministic operation
        out["failed"] = out["attempted"]
    return out


def end_to_end(ops: list[dict], setup: list[float], rss: float) -> dict:
    values = {
        "wall_s": statistics.median(o["wall"] for o in ops) if ops else 0.0,
        "setup_s": statistics.median(setup),
        "peak_rss_mb": rss,
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in END_TO_END}


def main() -> int:
    ap = argparse.ArgumentParser(description="esmarc_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not package_present():
        print("perfbench: the esmarc_spark package and __spark_entry__.py must "
              "sit beside perfbench/ (run from the root of a checkout)",
              file=sys.stderr)
        return 2
    prepare_env()
    from workloads import WORKLOAD_CLASSES

    inputs = ensure_inputs(args.workload, args.seed)
    cls = WORKLOAD_CLASSES[args.workload]
    entry = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "input_hash": inputs["hash"],
             "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    if args.trace:
        import tracing

        spark, wl, setup = set_up(cls, inputs, args.seed, 1, tracing.event_dir())
        state = tracing.run(spark, wl)
    else:
        spark, wl, setup = set_up(cls, inputs, args.seed, SPEC["setup_reps"])
        run = measure(wl, args.seconds)
        result = {
            "correct": run["failed"] == 0 and bool(run["checks"]),
            "attempted": run["attempted"],
            "failed": run["failed"],
            "metrics": end_to_end(run["ops"], setup, peak_rss_mb(spark)),
        }
        entry["ops"] = run["ops"]
        entry["checks"] = run["checks"]
    entry["setup_reps_s"] = setup
    entry.update(run_context(spark))
    spark.stop()
    if args.trace:
        result = tracing.finish(state, HISTORY, entry["package_zip"])
        entry["spans"] = state["spans"]
    entry["error_rate"] = result["failed"] / max(result["attempted"], 1)
    entry.update(result)
    with open(HISTORY, "a") as f:
        f.write(json.dumps(entry) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # a terminated run still ends its JVM and workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        code = main()
    finally:
        end_processes()
    sys.exit(code)
