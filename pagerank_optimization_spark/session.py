"""SparkSession factory.

The reference's "session" is `mpiexec -n 4` + OpenMP thread count
(run_test_rig.sh:82, tuned_variant_openmp.c:102). Here parallelism is
executor threads (`local[N]` in the sandbox); the same builder serves a real
cluster via spark-submit where master/memory come from the environment.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def iterative_conf(spark: SparkSession, shuffle_partitions: int | None = None):
    """Conf scope for fixed-shape iterative loops (PageRank/CC/LPA
    supersteps): AQE's per-stage adaptive re-planning is pure scheduling
    overhead when every superstep has the same plan over the same sizes —
    measured 2.2× per-superstep latency at local scale. Restored on exit;
    one-shot analytical queries keep AQE (skew-join, coalescing).

    ``shuffle_partitions``: align the loop's groupBy/join shuffle width
    with the operator's (scale-adaptive) partition count — with AQE off
    inside the loop nothing else coalesces the session-wide default, so a
    tiny graph's every aggregation would still fan out
    ``spark.sql.shuffle.partitions`` tasks AND mis-align with the
    canonical state layout (an extra exchange per superstep). Restored on
    exit."""
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, "true")
    sprev = spark.conf.get(skey)
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(skey, str(int(shuffle_partitions)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(skey, sprev)


def default_driver_memory() -> str:
    """Half of the memory this process may use — the cgroup limit when one
    is set, else physical RAM — as a JVM size string. The other half is
    left for JVM off-heap use, the Python workers and the OS: a fixed
    large default lets the heap outgrow a small machine until the kernel
    OOM-kills the JVM."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return f"{max(1, total // 2 // 2**30)}g"


def get_spark(
    app_name: str = "pagerank-optimization-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - Arrow enabled: every pandas UDF exchange is columnar (the Spark analog
      of the reference's AVX2 vectorization, tuned_variant_simd.c:282-310).
    - AQE enabled: runtime coalescing + skew-join splitting (the reference
      ignores skew entirely; Kronecker graphs are power-law).
    - UTC timezone pinned for DuckDB-oracle parity.
    - Driver heap: ``SPARK_DRIVER_MEMORY`` if set, else
      ``default_driver_memory()``.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
