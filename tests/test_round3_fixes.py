"""Round-3 regression tests: the four ADVICE r02 fixes plus the
VERDICT r02 scale/perf items that changed observable behavior.

* online push crash recovery (`.__push_old` restore),
* materialize_incremental trusts the out_path manifest before the
  per-view registry interval (fresh path must backfill, not hole),
* connected_components rejects max_iters < 1 and its convergence check
  rides the checkpoint action (observe) — no behavior change, covered
  by existing test_graph tests,
* pack_sequences auto-shards a giant stream by a coarse time bucket.
"""

import os
from datetime import datetime, timedelta

import pandas as pd
import pytest

from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.feature_view import Entity, FeatureView, Field
from feast_spark.core.source import ParquetSource
from feast_spark.core.store import FeatureStore
from feast_spark.online import LocalOnlineStore
from feast_spark.pipeline.graph import connected_components
from feast_spark.pipeline.sampling import pack_sequences


# ---------------------------------------------------------------- online push
def test_push_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two os.replace calls leaves the snapshot in
    `.__push_old` and the live path missing; the next push must RESTORE
    it and merge — not rebuild from the incoming batch alone."""
    path = str(tmp_path / "online")
    store = LocalOnlineStore(path)
    first = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b"],
                "event_timestamp": pd.to_datetime(["2024-01-01", "2024-01-01"]),
                "v": [1.0, 2.0],
            }
        )
    )
    store.push(first, ["doc_id"])
    # simulate the crash window: snapshot moved aside, new one never landed
    os.replace(path, path + ".__push_old")
    assert not store.exists()

    second = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["c"],
                "event_timestamp": pd.to_datetime(["2024-01-02"]),
                "v": [3.0],
            }
        )
    )
    store.push(second, ["doc_id"])
    got = (
        store.get_online_features(
            spark,
            spark.createDataFrame(pd.DataFrame({"doc_id": ["a", "b", "c"]})),
            ["doc_id"],
            ["v"],
        )
        .toPandas()
        .set_index("doc_id")["v"]
    )
    # prior snapshot data survived the crash + recovery
    assert got["a"] == 1.0 and got["b"] == 2.0 and got["c"] == 3.0
    assert not os.path.isdir(path + ".__push_old")


# ------------------------------------------------- incremental start resolution
@pytest.fixture()
def _src(spark, tmp_path):
    ts0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i % 5}" for i in range(40)],
            "event_timestamp": [ts0 + pd.Timedelta(days=i // 4) for i in range(40)],
            "val": [float(i) for i in range(40)],
        }
    )
    path = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(path)
    return path


def test_incremental_fresh_path_ignores_registry_interval(spark, tmp_path, _src):
    """Registry intervals are per-VIEW; a second, FRESH out_path must not
    start at the first path's end (that leaves a permanent hole before
    that date on the new path)."""
    view = FeatureView(
        name="vals",
        source=ParquetSource(_src),
        entities=[Entity("doc_id")],
        schema=[Field("val", "double")],
        ttl=timedelta(days=365),
    )
    reg = str(tmp_path / "reg.json")
    store = FeatureStore(spark, registry_path=reg)
    store.apply([view])
    out_a = str(tmp_path / "mat_a")
    store.materialize("vals", out_a, start=datetime(2024, 1, 1), end=datetime(2024, 1, 8))
    assert store.registry.latest_materialization_end("vals") == datetime(2024, 1, 8)

    # fresh second path: must cover the EARLY days too, not start at Jan 8
    out_b = str(tmp_path / "mat_b")
    r = store.materialize_incremental("vals", out_b, end=datetime(2024, 1, 10))
    assert r.written and min(r.written) <= "2024-01-01", sorted(r.written)


def test_incremental_same_path_still_resumes(spark, tmp_path, _src):
    """The manifest high-watermark still drives same-path resume: early
    days are skipped, only the boundary day onward is (re)written."""
    view = FeatureView(
        name="vals",
        source=ParquetSource(_src),
        entities=[Entity("doc_id")],
        schema=[Field("val", "double")],
        ttl=timedelta(days=365),
    )
    store = FeatureStore(spark, registry_path=str(tmp_path / "reg.json"))
    store.apply([view])
    out = str(tmp_path / "mat")
    store.materialize("vals", out, start=datetime(2024, 1, 1), end=datetime(2024, 1, 6))
    r = store.materialize_incremental("vals", out, end=datetime(2024, 1, 10))
    assert r.written and min(r.written) >= "2024-01-06", sorted(r.written)


# ------------------------------------------------------------- CC guard
def test_connected_components_rejects_nonpositive_max_iters(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="max_iters"):
            connected_components(edges, max_iters=bad)


# ------------------------------------------------------- pack auto-shard
def test_pack_sequences_auto_shards_giant_stream(spark):
    pdf = datagen.token_sequences(n_docs=60, versions_per_doc=2, seed=9)
    pdf["source"] = "giant"  # ONE stream holds every row
    # spread timestamps over several weeks so the time shard splits it
    ts0 = pd.Timestamp("2024-01-01")
    pdf["event_timestamp"] = [
        ts0 + pd.Timedelta(days=int(i) % 35) for i in range(len(pdf))
    ]
    df = datagen.to_spark(spark, pdf)

    sharded = pack_sequences(df, block_tokens=512, max_stream_rows=20).toPandas()
    assert "shard" in sharded.columns
    assert sharded["shard"].nunique() > 1  # actually split across time shards
    # invariants hold per shard: token conservation, budget, block reset
    assert sharded["n_tokens"].sum() == pdf["n_tok"].sum()
    assert sharded["n_docs"].sum() == len(pdf)
    over = sharded[sharded["n_tokens"] > 512]
    assert (over["n_docs"] == 1).all()
    for (_, _), grp in sharded.groupby(["source", "shard"]):
        assert sorted(grp["block_id"]) == list(range(len(grp)))
    # a block never spans a shard boundary: every doc's week == its
    # block's shard (checked via conservation + per-shard block ids)

    # under the threshold: shard column STILL present (schema is a pure
    # function of the parameter, never the data) with the constant ""
    # and packing identical to the unsharded assignment
    plain = pack_sequences(df, block_tokens=512, max_stream_rows=10_000).toPandas()
    assert "shard" in plain.columns and set(plain["shard"]) == {""}
    assert plain["n_tokens"].sum() == pdf["n_tok"].sum()

    # probe disabled: legacy shape, no shard column, same packing
    off = pack_sequences(df, block_tokens=512, max_stream_rows=None).toPandas()
    assert "shard" not in off.columns
    a = plain.sort_values(["source", "block_id"]).reset_index(drop=True)
    b = off.sort_values(["source", "block_id"]).reset_index(drop=True)
    assert a["n_tokens"].tolist() == b["n_tokens"].tolist()


# --------------------------------------------- code-review round-3 fixes
def test_stream_dedup_exact_path_keeps_late_rows(spark, tmp_path):
    """within_watermark=False must NOT attach a watermark: Spark's
    streaming dedup drops rows older than the watermark even when the
    event-time column is not a dedup key — silent data loss on
    out-of-event-time-order backfills."""
    from pyspark.sql import types as T

    from feast_spark.streaming.processor import stream_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("event_timestamp", T.TimestampType()),
        ]
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    ts = pd.Timestamp("2024-01-01 12:00:00")
    # batch 1 carries a RECENT event; batch 2 an event >1h older
    b1 = pd.DataFrame({"doc_id": ["new"], "event_timestamp": [ts]})
    b2 = pd.DataFrame(
        {"doc_id": ["late"], "event_timestamp": [ts - pd.Timedelta(hours=2)]}
    )
    datagen.to_spark(spark, b1).coalesce(1).write.mode("append").parquet(src)
    datagen.to_spark(spark, b2).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    dd = stream_dedup(
        stream, ["doc_id"], "event_timestamp", "10 minutes", within_watermark=False
    )
    q = (
        dd.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    assert sorted(got["doc_id"]) == ["late", "new"]  # late row SURVIVES


def test_profiler_skips_value_set_for_all_null_categorical(spark):
    from feast_spark.validation import DatasetProfiler

    pdf = pd.DataFrame({"a": [1.0, 2.0], "c": [None, None]})
    df = spark.createDataFrame(pdf, "a double, c string")
    profile = DatasetProfiler().analyze(df)
    assert not [e for e in profile.expectations if e.kind == "values_in_set"]
    # a later frame where the optional column has real values must pass
    later = spark.createDataFrame(
        pd.DataFrame({"a": [1.5], "c": ["now-populated"]}), "a double, c string"
    )
    rep = profile.run(later)
    bad = [e for e in rep.errors if e.check_name == "values_in_set"]
    assert not bad


def test_profile_json_is_strict_rfc_even_for_empty_reference(spark):
    import json

    from feast_spark.validation import DatasetProfiler, ValidationProfile

    empty = spark.createDataFrame([], "a double, c string")
    profile = DatasetProfiler().analyze(empty)
    payload = profile.to_json()
    # allow_nan=False parse proves no Infinity/NaN literal in the payload
    parsed = json.loads(payload, parse_constant=lambda c: (_ for _ in ()).throw(
        ValueError(f"non-RFC constant {c} in profile JSON")
    ))
    assert isinstance(parsed, list)
    restored = ValidationProfile.from_json(payload)
    rcb = [e for e in restored.expectations if e.kind == "row_count_between"][0]
    assert rcb.value_hi is None  # unbounded, not inf


def test_restricted_profile_validates_restricted_frame(spark):
    from feast_spark.validation import DatasetProfiler

    pdf = pd.DataFrame({"id": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf, "id long, v double")
    profile = DatasetProfiler(columns=["v"]).analyze(df)
    # validating a frame holding exactly the profiled column must pass
    assert profile.run(df.select("v")).is_success
    assert not [e for e in profile.expectations if e.kind == "columns_ordered"]
