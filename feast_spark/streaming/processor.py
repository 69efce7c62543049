"""Structured Streaming ingest for stream feature views.

Reference: SparkKafkaProcessor (infra/contrib/spark_kafka_processor.py)
— readStream from Kafka, JSON/Avro decode, column pruning, foreachBatch
micro-batch sink with latest-per-key pandas dedup and retry/backoff
(:338-417, retry :56-111), checkpointLocation for resume (:399).

Improvements over the reference, per SURVEY §2.9:
* the stored-but-never-applied ``watermark_delay_threshold``
  (data_source.py:44-63) is actually honored via ``withWatermark``;
* per-batch dedup is a Spark window (distributed), not a driver pandas
  ``sort_values().groupby().nth(0)``;
* streaming tumbling/sliding/session window aggregations exist
  (absent in the reference's stream path).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.core.transformation import apply_transformation
from feast_spark.operators.dedup import latest_row_dedup
from feast_spark.operators.windows import agg_fn, tumbling_agg


def decode_json_payload(raw: DataFrame, schema_ddl: str, value_col: str = "value") -> DataFrame:
    """Kafka-style payload decode: binary value → JSON → columns
    (reference spark_kafka_processor.py:246-262 uses exactly
    from_json + select("table.*"))."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), schema_ddl).alias("__t")
    ).select("__t.*")


@dataclass
class StreamProcessor:
    """Micro-batch stream ingest: source → rename/prune → watermark →
    foreachBatch(dedup → retrying sink)."""

    spark: SparkSession
    join_keys: Sequence[str]
    timestamp_field: str = "event_timestamp"
    created_timestamp_column: str | None = None
    field_mapping: dict[str, str] = field(default_factory=dict)
    keep_columns: Sequence[str] | None = None
    watermark_delay: str | None = None  # e.g. "30 seconds"
    udf: Callable[[DataFrame], DataFrame] | str | None = None
    sink: Callable[[DataFrame, int], None] | None = None
    checkpoint_location: str | None = None
    max_retries: int = 3
    backoff_seconds: float = 0.1
    dedup_per_batch: bool = True

    # -------------------------------------------------------------- sources
    def from_kafka(self, bootstrap_servers: str, topic: str, schema_ddl: str) -> DataFrame:
        raw = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", "latest")
            .load()
        )
        return decode_json_payload(raw, schema_ddl)

    def from_files(self, path: str, schema, file_format: str = "parquet") -> DataFrame:
        return (
            self.spark.readStream.schema(schema).format(file_format).load(path)
        )

    # ------------------------------------------------------------ transforms
    def prepare(self, df: DataFrame) -> DataFrame:
        """Field-map renames + column pruning + watermark (reference
        :302-336 for rename/prune). ``udf`` may be a callable or a
        SQL string with an ``{input}`` placeholder, run by the same
        dispatcher as batch views (``apply_transformation``)."""
        if self.field_mapping:
            from feast_spark.core.source import apply_field_mapping

            df = apply_field_mapping(df, self.field_mapping)
        if self.udf is not None:
            df = apply_transformation(self.udf, df)
        if self.keep_columns:
            df = df.select(*self.keep_columns)
        if self.watermark_delay:
            df = df.withWatermark(self.timestamp_field, self.watermark_delay)
        return df

    # ----------------------------------------------------------------- sink
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.dedup_per_batch and self.join_keys:
            batch_df = latest_row_dedup(
                batch_df,
                list(self.join_keys),
                self.timestamp_field,
                self.created_timestamp_column,
            )
        if self.sink is None:
            return
        attempt = 0
        while True:
            try:
                self.sink(batch_df, batch_id)
                return
            except Exception:
                attempt += 1
                if attempt > self.max_retries:
                    raise
                time.sleep(self.backoff_seconds * (2 ** (attempt - 1)))

    def start(
        self,
        stream_df: DataFrame,
        *,
        output_mode: str = "update",
        processing_time: str | None = None,
        available_now: bool = False,
        query_name: str | None = None,
    ):
        """writeStream.foreachBatch pipeline (reference :338-417)."""
        prepared = self.prepare(stream_df)
        writer = prepared.writeStream.outputMode(output_mode).foreachBatch(
            self._process_batch
        )
        if self.checkpoint_location:
            writer = writer.option("checkpointLocation", self.checkpoint_location)
        if query_name:
            writer = writer.queryName(query_name)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()


def stream_tumbling_agg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    aggs: Sequence[tuple[str, str]],
    window_seconds: int,
    slide_seconds: int | None = None,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming windowed aggregation with watermark-driven late-data
    handling and state eviction."""
    return tumbling_agg(
        df.withWatermark(ts_col, watermark_delay),
        keys,
        ts_col,
        aggs,
        window_seconds,
        slide_seconds,
    )

def stream_session_agg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    aggs: Sequence[tuple[str, str]],
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming sessionization via ``F.session_window`` (inactivity-gap
    session state kept by the engine, closed at watermark)."""
    wm = df.withWatermark(ts_col, watermark_delay)
    exprs = [agg_fn(fn)(col).alias(f"{fn}_{col}") for fn, col in aggs] + [
        F.count(F.lit(1)).alias("n_events")
    ]
    out = wm.groupBy(
        *keys, F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("__s")
    ).agg(*exprs)
    return out.select(
        *keys,
        F.col("__s.start").alias("session_start"),
        F.col("__s.end").alias("session_end"),
        *[f"{fn}_{col}" for fn, col in aggs],
        "n_events",
    )


def stream_enrich(
    stream_df: DataFrame,
    features: DataFrame,
    join_keys: list[str],
    feature_cols: list[str] | None = None,
    *,
    stream_ts_col: str = "event_timestamp",
    feature_ts_col: str = "event_timestamp",
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    sink=None,
    checkpoint_location: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """Stream-side feature enrichment: PIT-join each micro-batch of the
    stream (as the spine) against a batch feature table, then hand the
    enriched batch to ``sink(batch_df, batch_id)``.

    The reference's streaming path has NO join operator at all
    (spark_kafka_processor.py:338-417 only writes) — this closes that
    gap with the exact offline as-of semantics (TTL cutoff,
    latest-before, created tie-break), so online-enriched streams and
    offline training frames are computed by the SAME operator: zero
    training/serving logic skew. Each micro-batch is a bounded spine, so
    the batch PIT join applies unchanged; the feature side is re-read
    per batch (pass a table-backed frame so pruning reaches the scan).
    """
    from feast_spark.operators.asof_join import point_in_time_join

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        enriched = point_in_time_join(
            batch_df,
            features,
            join_keys,
            feature_cols,
            spine_ts_col=stream_ts_col,
            feature_ts_col=feature_ts_col,
            created_col=created_col,
            ttl_seconds=ttl_seconds,
        )
        if sink is not None:
            sink(enriched, batch_id)

    if query_name is None:
        # unique default: two concurrent enrich streams in one session
        # must not collide on the query name
        import uuid

        query_name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    writer = stream_df.writeStream.queryName(query_name).foreachBatch(process)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark_delay: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact deduplication by key.

    ``within_watermark=True`` (default) uses
    ``dropDuplicatesWithinWatermark`` — state for a key is EVICTED once
    the watermark passes it, so state size is bounded by (keys arriving
    within one watermark window), the only formulation that survives an
    unbounded 10¹²-event stream. Duplicate events separated by more
    than the watermark delay are NOT deduplicated — that is the
    documented trade-off, matching at-least-once ingestion where
    retries arrive within seconds. ``within_watermark=False`` uses
    plain ``dropDuplicates`` (exact across the whole stream, state
    grows without bound — only for bounded backfills).

    The reference's foreachBatch pandas dedup
    (spark_kafka_processor.py:402-406) deduplicates only WITHIN each
    micro-batch; this operator deduplicates ACROSS batches with bounded
    state — strictly stronger semantics at the same cost class.

    NOTE: the watermark is applied ONLY on the within-watermark path.
    A watermark on the exact path would make Spark's streaming dedup
    operator silently DROP late rows (its watermark predicate filters
    events older than the watermark even when the event-time column is
    not a dedup key) — data loss, not just missed dedup, on a backfill
    whose micro-batches arrive out of event-time order."""
    cols = [*keys]
    if within_watermark:
        return df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            cols
        )
    return df.dropDuplicates(cols)
