"""Round-2 parity additions: ODFV python/SQL modes, view-level SQL
transformations, online TTL expiry, online push merge, online vector
retrieval (VERDICT r01 next-round items #7 and #9).
"""

from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest

from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.feature_view import (
    Entity,
    FeatureView,
    Field,
    OnDemandFeatureView,
)
from feast_spark.core.source import DataFrameSource
from feast_spark.core.store import FeatureStore
from feast_spark.online import LocalOnlineStore


@pytest.fixture(scope="module")
def store_with_view(spark):
    ts0 = pd.Timestamp("2024-01-01")
    feats = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(20)],
            "event_timestamp": [ts0 + pd.Timedelta(hours=i) for i in range(20)],
            "val": [float(i) for i in range(20)],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(20)],
            "event_timestamp": [ts0 + pd.Timedelta(days=2)] * 20,
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="vals",
                source=DataFrameSource(df=datagen.to_spark(spark, feats)),
                entities=[Entity("doc_id")],
            )
        ]
    )
    return store, datagen.to_spark(spark, spine)


def test_odfv_python_mode(spark, store_with_view):
    store, spine = store_with_view
    store.apply(
        [
            OnDemandFeatureView(
                name="py_adj",
                mode="python",
                udf=lambda d: {"adj": [v * 3.0 + 1.0 for v in d["val"]]},
                schema=[Field("adj", "double")],
            )
        ]
    )
    got = store.get_historical_features(spine, ["vals:val", "py_adj"]).to_df()
    assert (got["adj"] == got["val"] * 3.0 + 1.0).all()


def test_odfv_sql_mode(spark, store_with_view):
    store, spine = store_with_view
    store.apply(
        [
            OnDemandFeatureView(
                name="sql_adj",
                mode="sql",
                udf="SELECT *, val * 10.0 AS adj10 FROM {input}",
                schema=[Field("adj10", "double")],
            )
        ]
    )
    got = store.get_historical_features(spine, ["vals:val", "sql_adj"]).to_df()
    assert (got["adj10"] == got["val"] * 10.0).all()


def test_view_level_sql_udf(spark):
    ts0 = pd.Timestamp("2024-01-01")
    feats = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "event_timestamp": [ts0, ts0],
            "val": [1.0, 2.0],
        }
    )
    spine = pd.DataFrame(
        {"doc_id": ["a", "b"], "event_timestamp": [ts0 + pd.Timedelta(days=1)] * 2}
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="doubled",
                source=DataFrameSource(df=datagen.to_spark(spark, feats)),
                entities=[Entity("doc_id")],
                udf="SELECT doc_id, event_timestamp, val * 2 AS val2 FROM {input}",
            )
        ]
    )
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["doubled:val2"]
    ).to_df()
    assert sorted(got["val2"]) == [2.0, 4.0]


def test_online_ttl_expiry(spark, tmp_path):
    now = datetime(2024, 6, 1, tzinfo=timezone.utc)
    rows = pd.DataFrame(
        {
            "doc_id": ["fresh", "stale"],
            "event_timestamp": [
                pd.Timestamp(now) - pd.Timedelta(hours=1),
                pd.Timestamp(now) - pd.Timedelta(days=10),
            ],
            "val": [1.0, 2.0],
        }
    )
    store = LocalOnlineStore(str(tmp_path / "online"))
    store.push_online(datagen.to_spark(spark, rows), ["doc_id"])
    req = datagen.to_spark(spark, pd.DataFrame({"doc_id": ["fresh", "stale"]}))
    got = (
        store.get_online_features(
            spark, req, ["doc_id"], ["val"], ttl_seconds=86400, now=now
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc["fresh", "val"] == 1.0
    assert pd.isna(got.loc["stale", "val"])  # expired -> NULL, still a row
    # without ttl the stale row is served
    got2 = (
        store.get_online_features(spark, req, ["doc_id"], ["val"])
        .toPandas()
        .set_index("doc_id")
    )
    assert got2.loc["stale", "val"] == 2.0


def test_online_push_merges_latest(spark, tmp_path):
    ts0 = pd.Timestamp("2024-01-01")
    base = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "event_timestamp": [ts0, ts0],
            "val": [1.0, 2.0],
        }
    )
    store = LocalOnlineStore(str(tmp_path / "online2"))
    store.push_online(datagen.to_spark(spark, base), ["doc_id"])
    newer = pd.DataFrame(
        {
            "doc_id": ["b", "c"],
            "event_timestamp": [ts0 + pd.Timedelta(days=1)] * 2,
            "val": [20.0, 30.0],
        }
    )
    store.push(datagen.to_spark(spark, newer), ["doc_id"])
    req = datagen.to_spark(spark, pd.DataFrame({"doc_id": ["a", "b", "c"]}))
    got = (
        store.get_online_features(spark, req, ["doc_id"], ["val"])
        .toPandas()
        .set_index("doc_id")["val"]
    )
    assert got["a"] == 1.0 and got["b"] == 20.0 and got["c"] == 30.0


def test_retrieve_online_documents(spark, tmp_path):
    ts0 = pd.Timestamp("2024-01-01")
    docs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "cats"),
            (2, [0.9, 0.1], "kittens"),
            (3, [0.0, 1.0], "finance"),
        ],
        "doc_id long, embedding array<double>, title string",
    ).withColumn("event_timestamp", F.lit(ts0))
    store = LocalOnlineStore(str(tmp_path / "docs"))
    store.push_online(docs, ["doc_id"])
    hits = store.retrieve_online_documents(spark, [1.0, 0.0], top_k=2).toPandas()
    assert hits["neighbor_id"].tolist() == [1, 2]
    assert hits["title"].tolist() == ["cats", "kittens"]


def test_saved_dataset_roundtrip_with_metadata(spark, tmp_path, store_with_view):
    store0, spine = store_with_view
    store = FeatureStore(spark, registry_path=str(tmp_path / "reg.json"))
    store._views = store0._views  # reuse registered view
    job = store.get_historical_features(spine, ["vals:val"])
    ds = store.create_saved_dataset(job, "train_v1", str(tmp_path / "ds"), ["vals:val"])
    assert ds.metadata.row_count == 20
    assert ds.metadata.features == ["vals:val"]
    assert ds.metadata.min_event_timestamp is not None

    # fresh store on the same registry retrieves it by name
    store2 = FeatureStore(spark, registry_path=str(tmp_path / "reg.json"))
    back = store2.get_saved_dataset("train_v1")
    assert back.metadata.row_count == 20
    assert back.to_spark_df(spark).count() == 20


def test_feature_logger_contract(spark, tmp_path):
    from feast_spark.materialize.feature_logging import FeatureLogger

    logger = FeatureLogger(str(tmp_path / "log"), service_name="svc")
    batch1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "doc_id string, val double"
    )
    assert logger.log(batch1, log_timestamp="2024-01-01 10:00:00") == 2
    # aligned append works (int -> double cast)
    batch2 = spark.createDataFrame([("c", 3)], "doc_id string, val int")
    assert logger.log(batch2, log_timestamp="2024-01-02 10:00:00") == 1
    # schema drift is an error
    bad = spark.createDataFrame([("d", 1.0, "x")], "doc_id string, val double, extra string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        logger.log(bad)
    full = logger.read(spark)
    assert full.count() == 3
    one_day = logger.read(spark, "2024-01-01")
    assert one_day.count() == 2


def test_store_materialize_online_and_serve(spark, tmp_path):
    ts0 = pd.Timestamp("2024-01-01")
    feats = pd.DataFrame(
        {
            "doc_id": ["a", "a", "b"],
            "event_timestamp": [ts0, ts0 + pd.Timedelta(hours=5), ts0],
            "val": [1.0, 2.0, 30.0],
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="ov",
                source=DataFrameSource(df=datagen.to_spark(spark, feats)),
                entities=[Entity("doc_id")],
                ttl=timedelta(days=30),
            )
        ]
    )
    online = str(tmp_path / "ov_online")
    n = store.materialize_online("ov", online)
    assert n == 2  # latest per key
    req = pd.DataFrame({"doc_id": ["a", "b", "ghost"]})
    got = (
        store.get_online_features(["ov:val"], req, online, now=ts0 + pd.Timedelta(days=1))
        .toPandas()
        .set_index("doc_id")["val"]
    )
    assert got["a"] == 2.0 and got["b"] == 30.0 and pd.isna(got["ghost"])
    # past the TTL everything expires
    got2 = (
        store.get_online_features(["ov:val"], req, online, now=ts0 + pd.Timedelta(days=90))
        .toPandas()["val"]
    )
    assert got2.isna().all()


def test_incremental_recovers_midday_boundary(spark, tmp_path):
    """A previous end that fell MID-day must not permanently lose the
    tail of that day (code-review finding r2)."""
    from datetime import datetime

    from feast_spark.core.source import ParquetSource

    ts0 = pd.Timestamp("2024-03-01")
    rows = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "event_timestamp": [
                ts0 + pd.Timedelta(hours=6),   # day 1 morning
                ts0 + pd.Timedelta(hours=18),  # day 1 evening (the tail)
                ts0 + pd.Timedelta(days=1, hours=3),
            ],
            "val": [1.0, 2.0, 3.0],
        }
    )
    src = str(tmp_path / "src")
    datagen.to_spark(spark, rows).write.parquet(src)
    reg = str(tmp_path / "reg.json")
    out = str(tmp_path / "mat")
    store = FeatureStore(spark, registry_path=reg)
    store.apply(
        [
            FeatureView(
                name="mv",
                source=ParquetSource(src),
                entities=[Entity("doc_id")],
            )
        ]
    )
    # first window ends mid-day: only the morning row of day 1 lands
    store.materialize("mv", out, start=datetime(2024, 3, 1), end=datetime(2024, 3, 1, 12))
    got1 = spark.read.option("basePath", out).parquet(f"{out}/day=*")
    assert got1.count() == 1
    # incremental must re-cover the boundary day IN FULL
    store.materialize_incremental("mv", out, end=datetime(2024, 3, 3))
    got2 = spark.read.option("basePath", out).parquet(f"{out}/day=*").toPandas()
    assert sorted(got2["doc_id"]) == ["a", "b", "c"]


def test_registry_accepts_string_timestamps(spark, tmp_path):
    from feast_spark.core.registry import FileRegistry

    reg = FileRegistry(str(tmp_path / "r.json"))
    reg.apply_materialization("v", "2024-01-01", "2024-02-01")
    assert reg.latest_materialization_end("v").year == 2024
    reg.apply_materialization("v", None, "2024-03-01T10:30:00")
    assert reg.latest_materialization_end("v").month == 3


def test_online_push_evolves_schema(spark, tmp_path):
    ts0 = pd.Timestamp("2024-01-01")
    store = LocalOnlineStore(str(tmp_path / "evo"))
    store.push_online(
        datagen.to_spark(
            spark,
            pd.DataFrame(
                {"doc_id": ["a"], "event_timestamp": [ts0], "f1": [1.0]}
            ),
        ),
        ["doc_id"],
    )
    # new column f2 must survive the merge, not be silently dropped
    store.push(
        datagen.to_spark(
            spark,
            pd.DataFrame(
                {
                    "doc_id": ["b"],
                    "event_timestamp": [ts0],
                    "f1": [2.0],
                    "f2": [20.0],
                }
            ),
        ),
        ["doc_id"],
    )
    req = datagen.to_spark(spark, pd.DataFrame({"doc_id": ["a", "b"]}))
    got = (
        store.get_online_features(spark, req, ["doc_id"], ["f1", "f2"])
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc["b", "f2"] == 20.0
    assert pd.isna(got.loc["a", "f2"])


def test_sql_odfv_with_brace_literals(spark, store_with_view):
    store, spine = store_with_view
    store.apply(
        [
            OnDemandFeatureView(
                name="brace",
                mode="sql",
                udf="SELECT *, map('k', val)['k'] AS mapped, named_struct('x', val).x AS sx "
                    "FROM {input}",
                schema=[Field("mapped", "double"), Field("sx", "double")],
            )
        ]
    )
    got = store.get_historical_features(spine, ["vals:val", "brace:mapped"]).to_df()
    assert (got["mapped"] == got["val"]).all()
    assert "sx" not in got.columns  # unrequested declared output is dropped


def test_merge_asof_non_utc_session_timezone(spark):
    """Timestamps never round-trip through pandas in the as-of join, so
    a DST session timezone cannot shift them."""
    from feast_spark.operators.asof_join import point_in_time_join

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # 2024-11-03 01:30 PT is ambiguous (fall-back hour)
        feats = spark.createDataFrame(
            [("a", "2024-11-03 08:30:00", 1.0), ("a", "2024-11-03 10:30:00", 2.0)],
            "doc_id string, ts_str string, val double",
        ).select(
            "doc_id",
            F.to_timestamp("ts_str").alias("event_timestamp"),
            "val",
        )
        spine = spark.createDataFrame(
            [("a", "2024-11-03 09:00:00"), ("a", "2024-11-03 11:00:00")],
            "doc_id string, ts_str string",
        ).select("doc_id", F.to_timestamp("ts_str").alias("event_timestamp"))
        got = (
            point_in_time_join(spine, feats, ["doc_id"], ["val"])
            .toPandas()
            .sort_values("event_timestamp")
        )
        assert got["val"].tolist() == [1.0, 2.0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_store_retrieval_latest_values(spark, store_with_view):
    """FeatureStore retrieval: each spine doc (two days after every
    feature row, no TTL) gets its own doc's only value."""
    store, spine = store_with_view
    got = store.get_historical_features(spine, ["vals:val"]).to_df()
    assert dict(zip(got["doc_id"], got["val"])) == {f"d{i}": float(i) for i in range(20)}
    assert len(got) == 20


def test_materialize_aggregated_view(spark, tmp_path):
    """A view with an Aggregation spec materializes AGGREGATED values
    (reference feature_builder aggregate node), not raw rows."""
    from feast_spark.core.feature_view import Aggregation

    ts0 = pd.Timestamp("2024-01-01")
    rows = pd.DataFrame(
        {
            "doc_id": ["a"] * 4 + ["b"] * 2,
            "event_timestamp": [ts0 + pd.Timedelta(hours=h) for h in (1, 2, 30, 31)]
            + [ts0 + pd.Timedelta(hours=1), ts0 + pd.Timedelta(hours=2)],
            "val": [1.0, 2.0, 4.0, 8.0, 10.0, 20.0],
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="agg_view",
                source=DataFrameSource(df=datagen.to_spark(spark, rows)),
                entities=[Entity("doc_id")],
                aggregations=[Aggregation("val", "sum", time_window=timedelta(days=1))],
            )
        ]
    )
    out = str(tmp_path / "aggmat")
    store.materialize("agg_view", out)
    got = (
        spark.read.option("basePath", out)
        .parquet(f"{out}/day=*")
        .toPandas()
        .sort_values(["doc_id", "event_timestamp"])
    )
    # day-1 window for 'a' sums 1+2, day-2 window sums 4+8; 'b' one window
    assert got["sum_val_86400s"].tolist() == [3.0, 12.0, 30.0]

    # online push of the same aggregated view serves the LATEST window
    online = str(tmp_path / "aggonline")
    store.materialize_online("agg_view", online)
    req = pd.DataFrame({"doc_id": ["a", "b"]})
    served = (
        store.get_online_features(["agg_view:sum_val_86400s"], req, online)
        .toPandas()
        .set_index("doc_id")["sum_val_86400s"]
    )
    assert served["a"] == 12.0 and served["b"] == 30.0


def test_to_remote_storage_returns_file_list(spark, tmp_path, store_with_view):
    store, spine = store_with_view
    job = store.get_historical_features(spine, ["vals:val"])
    files = job.to_remote_storage(str(tmp_path / "staged"))
    assert files and all(f.endswith(".parquet") for f in files)
    assert spark.read.parquet(str(tmp_path / "staged")).count() == 20


def test_materialize_online_two_views_shared_root(spark, tmp_path):
    """Two views materialized under one online root must not clobber each
    other (per-view sub-snapshots; code-review finding r2b)."""
    ts0 = pd.Timestamp("2024-01-01")
    store = FeatureStore(spark)
    for name, col, vals in (("va", "f1", [1.0, 2.0]), ("vb", "f2", [10.0, 20.0])):
        pdf = pd.DataFrame(
            {
                "doc_id": ["a", "b"],
                "event_timestamp": [ts0, ts0],
                col: vals,
            }
        )
        store.apply(
            [
                FeatureView(
                    name=name,
                    source=DataFrameSource(df=datagen.to_spark(spark, pdf)),
                    entities=[Entity("doc_id")],
                )
            ]
        )
    root = str(tmp_path / "online_root")
    store.materialize_online("va", root)
    store.materialize_online("vb", root)
    got = (
        store.get_online_features(["va:f1", "vb:f2"], pd.DataFrame({"doc_id": ["a", "b"]}), root)
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc["a", "f1"] == 1.0 and got.loc["a", "f2"] == 10.0
    assert got.loc["b", "f1"] == 2.0 and got.loc["b", "f2"] == 20.0


def test_ttl_infinite_view_not_partition_pruned(spark, tmp_path):
    """ttl=None (infinite) must serve arbitrarily old features even from
    a date-partitioned source (code-review finding r2b: the partition
    lower bound used to apply unconditionally)."""
    from feast_spark.core.source import ParquetSource

    old_ts = pd.Timestamp("2020-01-01")
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"],
            "event_timestamp": [old_ts],
            "pday": [old_ts.date()],
            "val": [42.0],
        }
    )
    src = str(tmp_path / "psrc")
    df = datagen.to_spark(spark, pdf).withColumn("pday", F.to_date("event_timestamp"))
    df.write.partitionBy("pday").parquet(src)
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="oldv",
                source=ParquetSource(src, date_partition_column="pday"),
                entities=[Entity("doc_id")],
                ttl=None,
            )
        ]
    )
    spine = pd.DataFrame(
        {"doc_id": ["a"], "event_timestamp": [pd.Timestamp("2024-06-01")]}
    )
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["oldv:val"]
    ).to_df()
    assert got["val"].tolist() == [42.0]


def test_windowed_agg_prune_does_not_truncate_window(spark):
    """Spine-bounds pruning must widen by the aggregation window: rows
    older than spine_min - ttl can still belong to a joinable window
    (code-review finding r2b)."""
    from feast_spark.core.feature_view import Aggregation

    ts0 = pd.Timestamp("2024-01-10 00:00:00")
    rows = pd.DataFrame(
        {
            "doc_id": ["a", "a"],
            # both rows inside the SAME 24h window [Jan 9 00:00, Jan 10);
            # the first is far before spine_min - ttl
            "event_timestamp": [
                pd.Timestamp("2024-01-09 01:00:00"),
                pd.Timestamp("2024-01-09 23:00:00"),
            ],
            "val": [5.0, 7.0],
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="wagg",
                source=DataFrameSource(df=datagen.to_spark(spark, rows)),
                entities=[Entity("doc_id")],
                ttl=timedelta(hours=2),
                aggregations=[Aggregation("val", "sum", time_window=timedelta(days=1))],
            )
        ]
    )
    # spine at Jan 10 01:00 -> joinable window end Jan 10 00:00 (within
    # 2h ttl); its true sum is 5 + 7 = 12
    spine = pd.DataFrame({"doc_id": ["a"], "event_timestamp": [ts0 + pd.Timedelta(hours=1)]})
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["wagg:sum_val_86400s"]
    ).to_df()
    assert got["sum_val_86400s"].tolist() == [12.0]


def test_plain_agg_view_skips_pruning(spark):
    """Whole-history (non-windowed) aggregates must not be computed over
    a pruned input — the sum covers ALL history."""
    from feast_spark.core.feature_view import Aggregation

    rows = pd.DataFrame(
        {
            "doc_id": ["a"] * 3,
            "event_timestamp": pd.to_datetime(
                ["2020-01-01", "2022-01-01", "2024-01-01"]
            ),
            "val": [1.0, 2.0, 4.0],
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="hist",
                source=DataFrameSource(df=datagen.to_spark(spark, rows)),
                entities=[Entity("doc_id")],
                ttl=timedelta(days=30),
                aggregations=[Aggregation("val", "sum")],
            )
        ]
    )
    spine = pd.DataFrame(
        {"doc_id": ["a"], "event_timestamp": [pd.Timestamp("2024-01-15")]}
    )
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["hist:sum_val"]
    ).to_df()
    assert got["sum_val"].tolist() == [7.0]


def test_rolling_agg_exclusive_keeps_same_second_history(spark):
    """include_current=False excludes only identical timestamps, not the
    whole current second (code-review finding r2b)."""
    from feast_spark.operators.windows import rolling_agg

    rows = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:00:00.200", 1.0),
            ("a", "2024-01-01 10:00:00.800", 2.0),
        ],
        "doc_id string, ts_str string, val double",
    ).select("doc_id", F.to_timestamp("ts_str").alias("ts"), "val")
    got = (
        rolling_agg(rows, ["doc_id"], "ts", [("sum", "val")], 3600, include_current=False)
        .toPandas()
        .sort_values("ts")
    )
    # first row: no earlier events; second row: the strictly-earlier
    # same-second event must count
    assert pd.isna(got["sum_val_trailing3600s"].iloc[0])
    assert got["sum_val_trailing3600s"].iloc[1] == 1.0


def test_field_mapping_duplicate_rejected(spark):
    from feast_spark.core.source import DataFrameSource, apply_field_mapping

    df = spark.createDataFrame([(1, 2)], "a int, event_timestamp int")
    with pytest.raises(ValueError, match="duplicate column"):
        apply_field_mapping(df, {"a": "event_timestamp"})
    src = DataFrameSource(df=df, field_mapping={"a": "event_timestamp"})
    with pytest.raises(ValueError, match="duplicate column"):
        src.load(spark)


def test_registry_stream_view_roundtrip(tmp_path):
    from feast_spark.core.feature_view import StreamFeatureView
    from feast_spark.core.registry import FileRegistry
    from feast_spark.core.source import ParquetSource

    reg = FileRegistry(str(tmp_path / "r.json"))
    reg.apply_view(
        StreamFeatureView(
            name="sv",
            source=ParquetSource("/tmp/x"),
            entities=[Entity("doc_id")],
            stream_source={"topic": "events"},
            watermark_delay="30 seconds",
        )
    )
    back = FileRegistry(str(tmp_path / "r.json")).load_view("sv")
    assert isinstance(back, StreamFeatureView)
    assert back.watermark_delay == "30 seconds"
    assert back.stream_source == {"topic": "events"}


def test_registry_tz_aware_interval_normalized_to_utc(tmp_path):
    from feast_spark.core.registry import FileRegistry

    reg = FileRegistry(str(tmp_path / "r.json"))
    plus2 = timezone(timedelta(hours=2))
    reg.apply_materialization("v", None, datetime(2024, 1, 2, 0, 30, tzinfo=plus2))
    # 00:30+02:00 == 2024-01-01 22:30 UTC — stored naive-UTC
    assert reg.latest_materialization_end("v") == datetime(2024, 1, 1, 22, 30)


def test_validation_unique_key_with_null_keys(spark):
    from feast_spark.validation import Expect, ValidationProfile

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), (None, 3.0)], "k string, v double"
    )
    rep = ValidationProfile([Expect("unique_key", columns=["k"])]).validate(df)
    assert rep["passed"], rep  # three unique rows, one with a NULL key


def test_validation_unknown_kind_fails_fast(spark):
    from feast_spark.validation import Expect, ValidationProfile

    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="unknown expectation kind"):
        ValidationProfile([Expect("row_cnt_min", value=1)]).validate(df)
