"""Set-up: from process start until the engine's session is ready.

A set-up sample is the time from this process's start (read from
``/proc``, so interpreter start and imports count) until
``session.get_spark`` returns, plus a warm-up: the bronze stage over a
tiny generated ``events`` table (the process's first query) and one job
that starts the Python workers.
"""

from __future__ import annotations

import os
import shlex
import time

WARMUP_ROWS = 2000
WARMUP_USERS = 20


def since_process_start() -> float:
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - started


def launch_env(work: str, event_log_dir: str | None = None) -> dict:
    """Point every temporary path of the driver JVM and its Python workers
    into ``work`` and set the launch-time Spark conf. The engine's own
    session settings (``SPARK_GRAFT_*``) are left at their defaults."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the spark-submit launcher JVM would otherwise leave perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return conf


def ready_session(warm_dir: str):
    """Start the engine's session and warm it up. Returns the session and
    the sample: ``start_s`` (process start to ``get_spark`` returning) and
    ``warm_s`` (the warm-up)."""
    import gen
    from pipeline_mf_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    start_s = since_process_start()
    t0 = time.perf_counter()

    from pipeline_mf_etl_spark.pipeline import bronze_layer
    from pipeline_mf_etl_spark.sources.readers import load_table
    from workloads import digest

    gen.write_events(0, warm_dir, WARMUP_ROWS, WARMUP_USERS)
    digest(bronze_layer(load_table(spark, warm_dir, "events")))
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").collect()
    return spark, {"start_s": start_s, "warm_s": time.perf_counter() - t0}


def shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
