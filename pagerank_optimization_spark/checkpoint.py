"""Per-superstep checkpoint / resume / metrics (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

The reference has no persistence at all — its 'state' is the `buff[2m]`
ping-pong buffer (pagerank.h:40-45) that dies with the process. Here every
superstep lands durably:

    <root>/<run_id>/ranks/superstep=<s>/   rank vector AFTER superstep s
    <root>/<run_id>/lineage/               (superstep, partition_id, rows,
                                            min_id, max_id) per partition
    <root>/<run_id>/metrics/               (superstep, l1_delta,
                                            edges_processed, wall_ms,
                                            dangling_mass, n_partitions)

Every caller saves a ``(key, value)`` frame — PageRank ``(id, pr)`` or
``(vid, pr)``, CC/LPA ``(entity, label)`` — and the lineage ``min_id`` /
``max_id`` are taken over its FIRST column, so the manager needs no key
setting and works for every kernel's key space.

Write ordering is the commit protocol: ranks first, lineage second, the
metrics row LAST — a superstep is complete iff its metrics row exists, so
a kill between writes can never yield a half-trusted superstep. ``resume``
finds the max complete superstep and restarts after it; the resumed run is
float64-bitwise identical to an uninterrupted one (parquet round-trips
float64 exactly). All three tables are Parquet.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, run_id: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id
        self.base = f"{self.root}/{run_id}"

    # -- paths --------------------------------------------------------------
    def _ranks_path(self, superstep: int) -> str:
        return f"{self.base}/ranks/superstep={superstep}"

    @property
    def _metrics_path(self) -> str:
        return f"{self.base}/metrics"

    @property
    def _lineage_path(self) -> str:
        return f"{self.base}/lineage"

    # -- write side ---------------------------------------------------------
    def save(self, superstep: int, frame: DataFrame, metrics_row: dict[str, Any]) -> None:
        """Commit the ``(key, value)`` state after ``superstep``."""
        key = frame.columns[0]
        frame.write.mode("overwrite").parquet(self._ranks_path(superstep))
        lin = (
            frame.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(key).cast("string").alias("min_id"),
                F.max(key).cast("string").alias("max_id"),
            )
            .withColumn("superstep", F.lit(superstep))
        )
        lin.write.mode("append").parquet(self._lineage_path)
        row = dict(metrics_row)
        row.setdefault("superstep", superstep)
        row["run_id"] = self.run_id
        row["wall_clock"] = time.time()
        self.spark.createDataFrame([json.dumps(row)], "string").selectExpr(
            "from_json(value, 'superstep INT, l1_delta DOUBLE, edges_processed BIGINT, "
            "wall_ms DOUBLE, dangling_mass DOUBLE, dangling_mass_next DOUBLE, "
            "n_partitions INT, run_id STRING, wall_clock DOUBLE') AS r"
        ).select("r.*").write.mode("append").parquet(self._metrics_path)

    # -- read side ----------------------------------------------------------
    def last_complete_superstep(self) -> int | None:
        try:
            m = self.spark.read.parquet(self._metrics_path)
        except Exception:  # path absent → fresh run  # noqa: BLE001
            return None
        row = m.agg(F.max("superstep")).collect()[0]
        return None if row[0] is None else int(row[0])

    def last_metrics(self) -> dict[str, Any] | None:
        """Metrics row of the max complete superstep (for bitwise-exact
        restoration of loop-carried scalars like the dangling mass)."""
        last = self.last_complete_superstep()
        if last is None:
            return None
        rows = self.metrics().filter(F.col("superstep") == last).collect()
        return rows[0].asDict() if rows else None

    def resume(self) -> tuple[int, DataFrame] | None:
        """→ (next_superstep, ranks_after_last_complete) or None (fresh)."""
        last = self.last_complete_superstep()
        if last is None:
            return None
        ranks = self.spark.read.parquet(self._ranks_path(last))
        return last + 1, ranks

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path)

    def lineage_table(self) -> DataFrame:
        return self.spark.read.parquet(self._lineage_path)
