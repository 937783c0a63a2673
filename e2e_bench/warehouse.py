"""Spark start-up and shutdown, and warehouse helpers."""

from __future__ import annotations

import os
import subprocess
import time

from pyspark.sql import SparkSession

from bgg_data_warehouse_spark import io
from bgg_data_warehouse_spark.session import get_spark

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the tables GameReader reads
SERVED_TABLES = (
    "game_profile",
    "games_features",
    "player_count_recommendations",
    "game_neighbors",
    "game_similarity_search",
    "bgg_predictions",
    "bgg_game_coordinates",
    "fetched_responses",
)


def start_spark(cpus: int, local_dir: str) -> SparkSession:
    """A local session whose Python workers import the package from the
    checkout, whatever the working directory.

    The package does not ship itself to executors: the ``parse_responses``
    UDF fails with ``ModuleNotFoundError`` unless the worker's
    ``PYTHONPATH`` holds the repo root. The benchmark sets it here and
    checks it once, before any timing, instead of fixing the package.
    """
    path = os.pathsep.join(p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONPATH"] = path
    spark = get_spark(
        "e2e-bench",
        cpus=cpus,
        extra_conf={
            "spark.executorEnv.PYTHONPATH": path,
            "spark.driver.memory": "2g",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(local_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            # keep every job and stage of a run for the traced run's counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    _check_executor_import(spark)
    return spark


def _check_executor_import(spark: SparkSession) -> None:
    def where(_):
        import bgg_data_warehouse_spark

        yield os.path.dirname(os.path.dirname(bgg_data_warehouse_spark.__file__))

    try:
        roots = set(spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect())
    except Exception as exc:  # the worker traceback names the missing module
        raise SystemExit(f"executors cannot import the package: {exc}") from exc
    if roots != {REPO_ROOT}:
        raise SystemExit(f"executors import the package from {roots}, not {REPO_ROOT}")


def read_tables(spark: SparkSession, root: str, names) -> dict:
    return {n: io.read_table(spark, root, n) for n in names if io.table_exists(root, n)}


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def stop_spark(spark: SparkSession) -> None:
    """Stop Spark and wait for its JVM to exit. Jobs still running (a
    query's abandoned broadcast, say) get a few seconds to finish first."""
    sc = spark.sparkContext
    deadline = time.monotonic() + 10
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    sc.cancelAllJobs()
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
