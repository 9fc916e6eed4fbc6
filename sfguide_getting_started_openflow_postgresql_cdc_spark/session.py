"""SparkSession factory.

Replaces the reference's warehouse provisioning
(``sql/1.snowflake_setup.sql:26-29`` — MEDIUM warehouse, auto-suspend) with
SparkSession configuration: AQE for runtime re-planning, shuffle
partitions sized to the local core count, UTC session timezone so
timestamp semantics match a TZ-naive warehouse (and the DuckDB oracle).

At cluster scale the same builder applies; only ``master`` and the
shuffle-partition count change (rule of thumb: 2-3x total executor cores,
or rely on AQE coalescing which is enabled here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the memory available now, capped at 24g: a fixed large heap
    on a small box lets the JVM grow until the kernel kills it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return "24g"
    return f"{max(1024, min(24 * 1024, kb // 2048))}m"


def get_spark(
    app_name: str = "cdc-analytics-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism.
    ``SPARK_DRIVER_MEMORY`` sets the Spark driver heap (default: half of
    ``MemAvailable``, at most 24g).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(jobs) -> list:
    """Run independent jobs from driver threads so their Spark jobs
    schedule concurrently (SparkSession is thread-safe) instead of each
    paying its own scheduling floor in turn. Returns the results in
    order. Jobs inherit the caller's local properties (job group,
    description, pool), so cancelling the group — a streaming query's
    ``stop()`` — reaches them. Every job runs to completion (siblings
    are not cancelled, so a failure may leave any subset of the jobs'
    writes on disk); then the first failure raises, the others attached
    as notes."""
    if len(jobs) <= 1:
        return [j() for j in jobs]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    if session is not None:
        inherit = inheritable_thread_target(session)
        jobs = [inherit(j) for j in jobs]
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(f"concurrent job also failed: {other!r}")
        raise errors[0]
    return [f.result() for f in futures]
