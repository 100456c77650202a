"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def scaled_split_sizes(input_bytes: int, cores: int) -> tuple[int, int]:
    """(maxPartitionBytes, advisoryPartitionSizeInBytes) sized so the input
    fans out to >= ~3 scan tasks per core and post-shuffle coalescing keeps
    at least core-level parallelism, clamped to the standard production
    sizes (a 100 TB input on any realistic cluster still gets 128 MB / 64 MB;
    the clamp only engages when the input is small relative to the cores —
    exactly the local-bench regime, where 64 MB advisory coalesces a
    compute-heavy applyInPandas stage down to a handful of partitions and
    caps its parallelism; measured in BENCH.md)."""
    scan = max(4 << 20, min(128 << 20, input_bytes // (3 * cores) or (4 << 20)))
    adv = max(1 << 20, min(64 << 20, input_bytes // (4 * cores) or (1 << 20)))
    return scan, adv


def get_spark(
    app: str = "dynaalign-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
    input_bytes_hint: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    if input_bytes_hint:
        scan_b, adv_b = scaled_split_sizes(input_bytes_hint, shuffle_partitions)
        extra = {
            "spark.sql.files.maxPartitionBytes": str(scan_b),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(adv_b),
            **(extra or {}),
        }
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting — the band self-join
        # and suffix sort both benefit.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # split scans finer than the 128 MB default: the narrow map stages
        # (signature UDF, band explode) inherit scan parallelism, and a
        # ~3 GB input would otherwise fan out to only ~21 tasks — below the
        # core count, capping speedup of every scan-rooted stage
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # all row-level compute goes through Arrow-batched pandas UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # FAIR job scheduling: the tier-overlap paths (background() below)
        # materialize the pixel/substring edge sets from a background thread
        # (scheduler pool "tier") while the caption stages run; FAIR shares
        # task slots between the two job trees instead of queueing the tier
        # behind a saturated caption stage. Single-threaded callers are unaffected
        # (one job at a time behaves identically under FIFO and FAIR).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def background(fn: Callable[[], T]) -> Callable[[], T]:
    """Start fn() on a background thread whose Spark jobs go to the FAIR
    scheduler pool "tier" (see get_spark) -> join(), which waits for the
    thread and returns fn's result or re-raises its error.

    The thread is a pyspark.InheritableThread, so it keeps the caller's
    job group and other local properties. In PySpark's pinned-thread mode
    (default since 3.2) each Python thread maps to its own JVM thread, so
    the pool property scopes to this thread's jobs only; under a FIFO-mode
    context it is a no-op and the jobs still fill idle task slots."""
    from pyspark import InheritableThread, SparkContext

    out: dict = {}

    def run() -> None:
        SparkContext.getOrCreate().setLocalProperty("spark.scheduler.pool", "tier")
        try:
            out["result"] = fn()
        except BaseException as e:  # re-raised by join() in the caller
            out["error"] = e

    th = InheritableThread(target=run, daemon=True)
    th.start()

    def join() -> T:
        th.join()
        if "error" in out:
            raise out["error"]
        return out["result"]

    return join
