"""Paths, sizing and the Spark session shared by the benchmark's scripts.

Everything the benchmark writes (generated inputs, Spark scratch space,
incremental outputs, event logs) lives under ``.perfbench_work`` at the
root of the checkout; nothing goes to the system temp directory.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
SPEC = json.loads((BENCH / "workloads.json").read_text())
WORKLOADS = tuple(SPEC["workloads"])


def package_present() -> bool:
    return (ROOT / "esmarc_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def cpus() -> int:
    """The cores this process may run on (what ``nproc`` prints, without
    its OMP_NUM_THREADS override); passed to ``get_spark`` explicitly so
    its 32-thread default never applies."""
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every temp-file user (Python, the package zip, Spark, the
    JVM) into the work directory; call before pyspark starts a JVM."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    import tempfile

    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(app: str, event_dir: str | None = None):
    """``get_spark`` on local[cpus] with the benchmark's small footprint;
    with ``event_dir`` Spark also writes an uncompressed event log there
    (the UI stays off)."""
    from esmarc_spark.session import get_spark

    tmp = WORK / "tmp"
    # a fixed-size heap under the parallel collector: peak RSS and GC cost
    # then follow the work, not heap-resizing heuristics (with G1 and a
    # growing heap, peak RSS differed by ~30% between identical runs)
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms3g -XX:+UseParallelGC"
        ),
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, cpus=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): the JVM's ``pyspark.daemon`` workers and a
    generator child's JVM then stay this process's children when their
    parents exit, so ``end_processes`` can wait for every one of them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            kids.append(int(name))
    return kids


def end_processes(grace: float = 60.0) -> None:
    """Stop Spark, end the driver JVM and wait until every process this
    one started, directly or not, has exited; what is still running after
    ``grace`` seconds is terminated, then killed."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # a broken context must not keep the JVM alive
                pass
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the JVM exits when its stdin reaches EOF
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(grace)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        now = time.monotonic()
        if now > deadline + 10:
            sig = signal.SIGKILL
        elif now > deadline:
            sig = signal.SIGTERM
        if sig is not None:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
