"""Iceberg catalog wiring for the 10^12-row deployment target.

The reference's ``expedia`` provider configures
``org.apache.iceberg.spark.SparkCatalog`` with a Hive metastore and
``handle-timestamp-without-timezone`` (repo_config.py:261-268). This
helper produces the same session conf; the actual Iceberg runtime jar
is not present in this sandbox, so usage is gated — everything else in
the engine reads through ``spark.table(...)`` / ``SparkSource(table=)``
and therefore works unchanged once the catalog resolves.

Why Iceberg at scale: hidden partitioning (``days(event_timestamp)`` +
``bucket(N, doc_id)``) gives partition pruning for the PIT window
filter and co-located buckets for the as-of join without user-visible
partition columns; snapshot isolation gives reproducible training-set
retrieval (read a pinned snapshot-id while backfills append).
"""

from __future__ import annotations

def iceberg_session_conf(
    catalog_name: str = "feast",
    warehouse: str | None = None,
    catalog_type: str = "hive",
    uri: str | None = None,
) -> dict[str, str]:
    """Session conf dict for an Iceberg catalog (pass as
    ``get_spark(extra_conf=...)`` or ``spark-submit --conf``)."""
    conf = {
        f"spark.sql.catalog.{catalog_name}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog_name}.type": catalog_type,
        f"spark.sql.catalog.{catalog_name}.handle-timestamp-without-timezone": "true",
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    if warehouse:
        conf[f"spark.sql.catalog.{catalog_name}.warehouse"] = warehouse
    if uri:
        conf[f"spark.sql.catalog.{catalog_name}.uri"] = uri
    return conf


def iceberg_available(spark) -> bool:
    """True when the Iceberg runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def create_sequences_table_ddl(
    table: str, bucket_docs: int = 64
) -> str:
    """DDL for the canonical token-sequence table with hidden
    partitioning tuned for the engine's access patterns: daily partitions
    prune the PIT window scan; doc_id buckets co-locate each entity's
    history for the as-of join and latest-dedup shuffles."""
    return f"""
CREATE TABLE {table} (
  doc_id string,
  tokens array<int>,
  n_tok int,
  source string,
  event_timestamp timestamp,
  created timestamp
)
USING iceberg
PARTITIONED BY (days(event_timestamp), bucket({bucket_docs}, doc_id))
TBLPROPERTIES (
  'write.distribution-mode' = 'hash',
  'write.target-file-size-bytes' = '134217728'
)
""".strip()
