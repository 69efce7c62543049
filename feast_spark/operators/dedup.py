"""Latest-row dedup (arg-max per entity key) and related helpers.

Reference semantics: ``pull_latest_from_table_or_query`` window-dedup
(spark_offline_store/spark.py:79-147) and SparkDedupNode
(compute_engines/spark/nodes.py:264-301): per entity key keep the row
with greatest event timestamp, ties broken by greatest created
timestamp.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_row_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "event_timestamp",
    created_col: str | None = None,
    tie_breaker_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep one row per ``keys``: max ``ts_col``, then max ``created_col``.

    ``tie_breaker_cols`` adds deterministic final ordering for exact
    reproducibility when duplicate (key, ts, created) rows exist.
    Physical plan: single hash shuffle on ``keys`` + running window rank —
    no join. At scale this is the canonical "latest snapshot"
    materialization step; AQE skew-join settings do not apply (no join),
    so hot keys are bounded by the window sort, which is linear per key.
    """
    order = [F.col(ts_col).desc()]
    if created_col:
        order.append(F.col(created_col).desc())
    order += [F.col(c).desc() for c in tie_breaker_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__feast_rn", F.row_number().over(w))
        .filter(F.col("__feast_rn") == 1)
        .drop("__feast_rn")
    )

