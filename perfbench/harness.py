"""Session set-up, timing helpers and teardown shared by the workloads.

Every file the benchmark or Spark writes goes under one work directory
inside the checkout (Spark local dirs, JVM temp dir, warehouse, event logs,
sinks); the directory is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEM = "2g"


def submit_args(work: str, event_dir: str | None = None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that keep the JVM's temp files in ``work`` and
    optionally turn on the uncompressed event log."""
    tmp = os.path.join(work, "tmp")
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if event_dir:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir={event_dir}",
                 "--conf spark.eventLog.compress=false"]
    return " ".join(args + ["pyspark-shell"])


def child_env(work: str, event_dir: str | None = None) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "KGPIPE_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData -Djava.io.tmpdir="
                               + os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": submit_args(work, event_dir),
    })
    return env


class Bench:
    """One benchmark process: the work directory, the program's resources
    and the current Spark session."""

    def __init__(self, work: str):
        from kgpipe.config import PipelineConfig
        from kgpipe.resources import (
            Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows)

        self.work = work
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ.update(child_env(work))
        self.gaz = Gazetteer.from_rows(builtin_gazetteer_rows())
        self.bl = builtin_blacklist_terms()
        self.cfg = PipelineConfig()
        self.spark = None

    def setup(self, warm_rows: list, event_dir: str | None = None):
        """``session.get_spark`` plus a warm-up job that spawns the Python
        workers and broadcasts the gazetteer. Returns (get_spark_s,
        warmup_s)."""
        import pandas as pd

        from kgpipe.pair import fused_triples
        from kgpipe.schemas import TRANSCRIPTS_SCHEMA
        from kgpipe.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=MASTER,
                               shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        df = self.spark.createDataFrame(pd.DataFrame(warm_rows),
                                        TRANSCRIPTS_SCHEMA).repartition(CORES)
        noop(fused_triples(df, self.gaz, self.bl, self.cfg))
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM the driver launched, and wait for
        them and the Python workers the JVM started (the JVM exits when its
        stdin closes; its workers then outlive it by a moment)."""
        from pyspark import SparkContext

        from proctree import TreeSampler

        tree = TreeSampler(interval=3600)  # one sample: who is running now
        tree.stop()
        self.stop()

        gw = SparkContext._gateway  # noqa: SLF001
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any wait failure: kill it
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        tree.wait_gone(30, keep=os.getpid())

    def group(self, name: str | None) -> None:
        """Label the following jobs in the event log."""
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str, suffix: str = ".parquet"):
    """(file count, total bytes) of the data files under ``path``."""
    n = size = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
