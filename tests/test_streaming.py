"""Structured Streaming: file-source micro-batch ingest with per-batch
dedup, retrying sink, checkpoint resume; streaming window/session aggs."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark import datagen
from feast_spark.streaming.processor import (
    StreamProcessor,
    decode_json_payload,
    stream_session_agg,
    stream_tumbling_agg,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("event_timestamp", T.TimestampType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("n_tok", T.IntegerType()),
    ]
)


def _write_batches(spark, path):
    pdf = datagen.token_sequences(n_docs=20, versions_per_doc=3, seed=9)[
        ["doc_id", "event_timestamp", "created", "n_tok"]
    ]
    sdf = datagen.to_spark(spark, pdf)
    sdf.coalesce(2).write.mode("overwrite").parquet(path)
    return pdf


def test_foreachbatch_ingest_dedup_and_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pdf = _write_batches(spark, src)

    received: list[pd.DataFrame] = []

    proc = StreamProcessor(
        spark,
        join_keys=["doc_id"],
        created_timestamp_column="created",
        sink=lambda df, bid: received.append(df.toPandas()),
        checkpoint_location=ckpt,
    )
    stream = proc.from_files(src, SCHEMA)
    q = proc.start(stream, available_now=True)
    q.awaitTermination(120)
    got = pd.concat(received, ignore_index=True)
    # per-batch latest-per-key dedup: one row per doc_id (single batch)
    assert got["doc_id"].nunique() == len(got)
    # latest row won: compare against pandas argmax
    exp = (
        pdf.sort_values(["event_timestamp", "created"], kind="mergesort")
        .groupby("doc_id")
        .tail(1)
    )
    m = got.set_index("doc_id")["n_tok"].to_dict()
    for _, r in exp.iterrows():
        assert m[r.doc_id] == r.n_tok

    # checkpoint resume: restarting with same checkpoint reprocesses nothing
    received.clear()
    q2 = proc.start(proc.from_files(src, SCHEMA), available_now=True)
    q2.awaitTermination(120)
    assert sum(len(b) for b in received) == 0


def test_sink_retry_then_fail(spark, tmp_path):
    src = str(tmp_path / "src2")
    _write_batches(spark, src)
    calls = {"n": 0}

    def flaky(df, bid):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient")
        df.count()

    proc = StreamProcessor(
        spark,
        join_keys=["doc_id"],
        created_timestamp_column="created",
        sink=flaky,
        max_retries=3,
        backoff_seconds=0.01,
    )
    q = proc.start(proc.from_files(src, SCHEMA), available_now=True)
    q.awaitTermination(120)
    assert calls["n"] == 3  # two failures + one success


def test_sql_string_udf_stream(spark, tmp_path):
    """A SQL-string udf over ``{input}`` runs on the stream, and its
    staging temp view is gone once the query is analysed."""
    src = str(tmp_path / "src_sql")
    schema = "doc_id string, event_timestamp timestamp, va double"
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b"],
                "event_timestamp": [pd.Timestamp("2024-01-01")] * 2,
                "va": [1.0, 2.0],
            }
        )
    ).coalesce(1).write.parquet(src)
    received: list[pd.DataFrame] = []
    proc = StreamProcessor(
        spark,
        join_keys=["doc_id"],
        udf="SELECT doc_id, event_timestamp, va * 3 AS va FROM {input}",
        sink=lambda df, bid: received.append(df.toPandas()),
    )
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    q = proc.start(proc.from_files(src, schema), available_now=True)
    q.awaitTermination(120)
    got = pd.concat(received, ignore_index=True).sort_values("doc_id")
    assert got["va"].tolist() == [3.0, 6.0]
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before


def test_decode_json_payload(spark):
    raw = spark.createDataFrame(
        [(bytes(f'{{"doc_id":"d{i}","n_tok":{i}}}', "utf8"),) for i in range(5)],
        ["value"],
    )
    got = decode_json_payload(raw, "doc_id string, n_tok int").toPandas()
    assert got["n_tok"].tolist() == list(range(5))


def test_stream_tumbling_agg_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src3")
    pdf = _write_batches(spark, src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = stream_tumbling_agg(
        stream, ["doc_id"], "event_timestamp", [("sum", "n_tok")], 6 * 3600
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("agg_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from agg_out").toPandas()
    # batch oracle
    from feast_spark.operators.windows import tumbling_agg

    exp = tumbling_agg(
        datagen.to_spark(spark, pdf), ["doc_id"], "event_timestamp", [("sum", "n_tok")], 6 * 3600
    ).toPandas()
    k = ["doc_id", "window_start"]
    g = got.sort_values(k).reset_index(drop=True)
    e = exp.sort_values(k).reset_index(drop=True)
    assert len(g) == len(e)
    assert np.array_equal(g["sum_n_tok_21600s"].values, e["sum_n_tok_21600s"].values)


def test_stream_session_agg(spark, tmp_path):
    src = str(tmp_path / "src4")
    ts0 = pd.Timestamp("2024-01-01", tz="UTC")
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 4,
            "event_timestamp": [
                ts0,
                ts0 + pd.Timedelta(minutes=5),
                ts0 + pd.Timedelta(hours=2),
                ts0 + pd.Timedelta(hours=2, minutes=10),
            ],
            "created": [ts0] * 4,
            "n_tok": [1, 2, 3, 4],
        }
    )
    datagen.to_spark(spark, pdf).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = stream_session_agg(
        stream, ["doc_id"], "event_timestamp", 1800, [("sum", "n_tok")]
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess_out").toPandas().sort_values("session_start")
    assert len(got) == 2
    assert got["sum_n_tok"].tolist() == [3, 7]
    assert got["n_events"].tolist() == [2, 2]


def test_stream_feature_view_ingest_to_retrieval(spark, tmp_path):
    """Full loop: file stream -> StreamFeatureView ingest (foreachBatch
    append to offline source) -> PIT retrieval sees the streamed rows."""
    from feast_spark.core.feature_view import Entity, StreamFeatureView
    from feast_spark.core.source import ParquetSource
    from feast_spark.core.store import FeatureStore

    src = str(tmp_path / "stream_src")
    offline = str(tmp_path / "offline_sink")
    pdf = _write_batches(spark, src)

    store = FeatureStore(spark)
    view = StreamFeatureView(
        name="seq_stream",
        source=ParquetSource(offline, created_timestamp_column="created"),
        entities=[Entity("doc_id")],
    )
    store.apply(view)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = store.start_stream_ingest(
        "seq_stream",
        stream,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    # retrieval over the streamed-in offline table
    spine = (
        pdf[["doc_id"]].drop_duplicates().assign(
            event_timestamp=pdf["event_timestamp"].max() + pd.Timedelta(hours=1)
        )
    )
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["seq_stream:n_tok"]
    ).to_df()
    assert len(got) == spine["doc_id"].nunique()
    assert got["n_tok"].notna().all()
    # latest-per-key dedup happened during ingest (one batch => one row/doc)
    assert spark.read.parquet(offline).count() == pdf["doc_id"].nunique()


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer: state carries the open session
    across micro-batches; a later-batch event beyond the gap closes and
    emits it exactly once."""
    import os

    from feast_spark.streaming.stateful import stateful_sessionize

    src = str(tmp_path / "stateful_src")
    os.makedirs(src, exist_ok=True)
    ts0 = pd.Timestamp("2024-01-01", tz="UTC")
    b1 = pd.DataFrame(
        {
            "doc_id": ["a", "a", "b"],
            "event_timestamp": [ts0, ts0 + pd.Timedelta(minutes=5), ts0],
            "created": [ts0] * 3,
            "n_tok": [1, 2, 3],
        }
    )
    b2 = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "event_timestamp": [ts0 + pd.Timedelta(hours=3)] * 2,
            "created": [ts0] * 2,
            "n_tok": [4, 5],
        }
    )
    datagen.to_spark(spark, b1).coalesce(1).write.mode("append").parquet(src)
    datagen.to_spark(spark, b2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = stateful_sessionize(stream, ["doc_id"], "event_timestamp", 1800)
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("stateful_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from stateful_out").toPandas().sort_values("doc_id")
    # exactly the two first-batch sessions closed by the 3h-later events
    assert len(got) == 2
    a = got[got.doc_id == "a"].iloc[0]
    assert a["n_events"] == 2 and a["session_end"] - a["session_start"] == pd.Timedelta(minutes=5)
    b = got[got.doc_id == "b"].iloc[0]
    assert b["n_events"] == 1


def test_stream_enrich_pit_join_per_batch(spark, tmp_path):
    """Stream-side PIT enrichment: each micro-batch joins the latest
    valid feature value (as-of, TTL) and lands enriched."""
    import pandas as pd

    from feast_spark import datagen
    from feast_spark.streaming.processor import stream_enrich

    ts0 = pd.Timestamp("2024-01-01")
    feats = pd.DataFrame(
        {
            "doc_id": ["a", "a", "b"],
            "event_timestamp": [ts0, ts0 + pd.Timedelta(hours=2), ts0],
            "val": [1.0, 2.0, 30.0],
        }
    )
    events = pd.DataFrame(
        {
            "doc_id": ["a", "a", "b", "ghost"],
            "event_timestamp": [
                ts0 + pd.Timedelta(hours=1),   # sees val=1
                ts0 + pd.Timedelta(hours=3),   # sees val=2
                ts0 + pd.Timedelta(days=40),   # TTL-expired -> NULL
                ts0 + pd.Timedelta(hours=1),   # unknown key -> NULL
            ],
        }
    )
    src = str(tmp_path / "stream_src")
    datagen.to_spark(spark, events).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id string, event_timestamp timestamp")
        .parquet(src)
    )
    out_dir = str(tmp_path / "enriched")

    def sink(df, _bid):
        df.write.mode("append").parquet(out_dir)

    q = stream_enrich(
        stream,
        datagen.to_spark(spark, feats),
        ["doc_id"],
        ["val"],
        ttl_seconds=30 * 86400,
        sink=sink,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas().set_index(
        ["doc_id", "event_timestamp"]
    )["val"]
    assert got[("a", ts0 + pd.Timedelta(hours=1))] == 1.0
    assert got[("a", ts0 + pd.Timedelta(hours=3))] == 2.0
    assert pd.isna(got[("b", ts0 + pd.Timedelta(days=40))])
    assert pd.isna(got[("ghost", ts0 + pd.Timedelta(hours=1))])


def test_stream_dedup_within_watermark_across_batches(spark, tmp_path):
    """Duplicates arriving in DIFFERENT micro-batches (within the
    watermark window) are dropped — stronger than the reference's
    per-batch pandas dedup. State is watermark-bounded."""
    from feast_spark.streaming.processor import stream_dedup

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    ts = pd.Timestamp("2024-01-01 00:00:00")
    batch1 = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "event_timestamp": [ts, ts + pd.Timedelta(seconds=5)],
            "created": [ts, ts],
            "n_tok": [1, 2],
        }
    )
    batch2 = pd.DataFrame(
        {
            "doc_id": ["a", "c"],  # 'a' is a cross-batch duplicate
            "event_timestamp": [ts, ts + pd.Timedelta(seconds=9)],
            "created": [ts, ts],
            "n_tok": [1, 3],
        }
    )
    import os

    os.makedirs(src, exist_ok=True)
    datagen.to_spark(spark, batch1).coalesce(1).write.mode("append").parquet(src)
    datagen.to_spark(spark, batch2).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    deduped = stream_dedup(stream, ["doc_id"], "event_timestamp", "10 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    assert sorted(got["doc_id"]) == ["a", "b", "c"]  # one 'a' only
