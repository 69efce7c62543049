"""SparkSession factory with the engine's required configuration.

The reference pins UTC sessions and Arrow transfers
(spark_offline_store/tests/data_source.py:33-40,
infra/compute_engines/spark/utils.py:26); we do the same, plus AQE for
runtime re-planning (skew joins, partition coalescing) which is the
scale-path backstop for hot-key skew.

The JVM-wide cache of compiled whole-stage-codegen classes
(``spark.sql.codegen.cache.maxEntries``, LRU, Spark default 100) is
sized for a store session. One FeatureStore round trip (three-view
``get_historical_features``, ``materialize``, ``materialize_incremental``,
``materialize_online`` and ``get_online_features``) uses 109 distinct
classes, more than the default holds, so nearly every lookup missed and
each round trip recompiled 66 of them (Janino, about 14 ms each
on a 4-vCPU host); under a C1-only JIT the recompiled classes filled
the 48 MB code cache within a minute. At 1000 entries a second identical
round trip compiles nothing; the driver's peak RSS did not move.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "feast_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession configured for the engine.

    ``parallelism`` maps to ``local[N]``; default comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores. Shuffle
    partitions default to the same N so local runs don't pay for 200
    empty reducers; a real cluster deployment would size this to
    ~2-3x total executor cores and rely on AQE coalescing.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The engine targets ANSI-off arithmetic (wrap-around hash math in
        # fingerprinting; DuckDB-oracle parity uses explicit pmod instead).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("FEAST_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # a static conf: it sizes the cache when the JVM first compiles
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def collect_bounded(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as an Arrow table on the driver, or ``None`` when it has
    more than ``max_rows`` rows. The collect reads at most one row past
    the bound, so an oversized input costs ``max_rows + 1`` rows, not
    its size; an empty input is an empty table with ``df``'s schema."""
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table
