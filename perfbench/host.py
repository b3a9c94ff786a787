"""Fit the Spark session to the host through the session's own
environment knobs, start it, and sample set-up time: the session is
started ``SETUP_SAMPLES`` times one after another, and the last one
runs the workload.

Every knob is set here, before any JVM starts, so a run never depends on
what the calling shell exported:

- ``SPARK_GRAFT_CPUS``: the CPUs this process may run on (``nproc``);
- ``SPARK_DRIVER_MEMORY``: ``DRIVER_MEMORY``; the session pre-touches the
  whole heap, and the default 16g does not start on a 15 GB host;
- ``SPARK_LOCAL_DIRS``: shuffle and spill space inside the work dir, so
  a run writes only inside its checkout and its spill never sits in
  RAM-backed ``/dev/shm``;
- ``SPARK_GRAFT_CONF``: no console progress bars; with tracing, an
  uncompressed event log (the container has no zstd reader);
- ``SPARK_GRAFT_EVENTLOG`` / ``SPARK_GRAFT_EVENTLOG_DIR``: the traced
  pass only.
"""

from __future__ import annotations

import os
import subprocess
import time

DRIVER_MEMORY = "1g"
SETUP_SAMPLES = 2  # sequential session starts per run; setup_s is their median


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_bytes(spec: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    return int(spec[:-1]) * units[spec[-1].lower()]


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def configure(root: str, work: str) -> dict[str, str]:
    """Set the session knobs in ``os.environ`` and return them."""
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CONF": "spark.ui.showConsoleProgress=false",
        # Python workers import frizbee_spark from the checkout root
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    for k in ("SPARK_GRAFT_XMS", "SPARK_GRAFT_EVENTLOG"):
        os.environ.pop(k, None)
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def enable_event_log(work: str) -> str:
    """Event log on for the next session; returns its directory."""
    d = os.path.join(work, "events")
    os.environ["SPARK_GRAFT_EVENTLOG"] = "1"
    os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = d
    os.environ["SPARK_GRAFT_CONF"] += ";spark.eventLog.compress=false"
    return d


def check_memory() -> None:
    need = _heap_bytes(DRIVER_MEMORY) + (512 << 20)
    have = mem_available_bytes()
    if have < need:
        raise SystemExit(
            f"perfbench: {have >> 20} MB available, {need >> 20} MB needed to "
            f"start a Spark session with a pre-touched {DRIVER_MEMORY} heap; "
            f"not starting")


def _warm(spark) -> None:
    """First job of a session: a Python worker on every core, loading the
    kernel modules, plus one JVM aggregate."""
    def load(batches):
        import frizbee_spark.functions.hashing  # noqa: F401
        import frizbee_spark.functions.wavefront  # noqa: F401

        yield from batches

    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 4 * n, 1, n).mapInPandas(load, "id long").count()
    spark.range(100_000).selectExpr("sum(id)").collect()


def start_session() -> tuple[object, float, float]:
    """``(spark, jvm_start_s, setup_s)``; exits with a message instead of a
    JVM crash report when the session does not come up."""
    from frizbee_spark.session import get_spark

    t0 = time.perf_counter()
    try:
        spark = get_spark("perfbench")
    except Exception as e:  # py4j / gateway start failures
        raise SystemExit(f"perfbench: Spark session did not start: {e!r}") from e
    t1 = time.perf_counter()
    _warm(spark)
    return spark, t1 - t0, time.perf_counter() - t0


def stop_jvm(proc: subprocess.Popen) -> None:
    """End the gateway JVM of stopped sessions, and its Python workers: it
    exits when its standard input closes. The next session then starts a
    new JVM."""
    from pyspark import SparkContext

    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def sample_setups(n: int) -> tuple[object, float, list[float]]:
    """Start the session ``n`` times, one after another, stopping all but
    the last. Returns the last session, its JVM start time, and the set-up
    time of every start."""
    samples = []
    for i in range(n):
        spark, jvm_s, setup_s = start_session()
        samples.append(setup_s)
        if i < n - 1:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            stop_jvm(jvm)
    return spark, jvm_s, samples
