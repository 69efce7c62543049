"""FeatureStore API: multi-view PIT retrieval vs oracle, full feature
names, ODFV transforms, aggregation specs, entity mapping, derived
views, error paths."""

from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.feature_view import (
    Aggregation,
    Entity,
    FeatureService,
    FeatureView,
    Field,
    OnDemandFeatureView,
)
from feast_spark.core.source import DataFrameSource, ParquetSource
from feast_spark.core.store import FeatureStore
from tests.oracle import expected_pit_df


@pytest.fixture(scope="module")
def fixtures(spark):
    seqs = datagen.token_sequences(n_docs=50, versions_per_doc=4, seed=7)
    stats = datagen.doc_stats(n_docs=50, hours=48, seed=13)
    glob = datagen.global_stats(days=14, seed=17)
    spine = datagen.entity_spine(seqs, n_rows=120, seed=11)
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="sequences",
                source=DataFrameSource(
                    df=datagen.to_spark(spark, seqs),
                    created_timestamp_column="created",
                ),
                entities=[Entity("doc_id")],
                ttl=timedelta(days=3),
            ),
            FeatureView(
                name="stats",
                source=DataFrameSource(
                    df=datagen.to_spark(spark, stats),
                    created_timestamp_column="created",
                ),
                entities=[Entity("doc_id")],
                ttl=None,
            ),
            FeatureView(
                name="globals",
                source=DataFrameSource(
                    df=datagen.to_spark(spark, glob),
                    created_timestamp_column="created",
                ),
                entities=[],
                ttl=None,
            ),
        ]
    )
    return store, spine, seqs, stats, glob


def _naive(s):
    return pd.to_datetime(s, utc=True).dt.tz_localize(None)


_T0 = pd.Timestamp("2024-01-01")


def _tiny_frame(spark, col, values):
    """Docs 'a', 'b', … with one ``col`` value each at ``_T0``."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [chr(ord("a") + i) for i in range(len(values))],
                "event_timestamp": [_T0] * len(values),
                col: [float(v) for v in values],
            }
        )
    )


def _tiny_view(spark, name, col, values, **kw):
    return FeatureView(
        name=name,
        source=DataFrameSource(df=_tiny_frame(spark, col, values)),
        entities=[Entity("doc_id")],
        **kw,
    )


def _tiny_spine(spark, key="doc_id"):
    return spark.createDataFrame(
        pd.DataFrame({key: ["a", "b"], "event_timestamp": [_T0 + pd.Timedelta(hours=1)] * 2})
    )


def test_multi_view_retrieval_matches_oracle(spark, fixtures):
    store, spine, seqs, stats, glob = fixtures
    job = store.get_historical_features(
        datagen.to_spark(spark, spine),
        ["sequences:n_tok", "stats:quality_score", "globals:total_docs"],
    )
    got = job.to_df()
    assert len(got) == len(spine)

    sp = spine.copy()
    sp["event_timestamp"] = _naive(sp["event_timestamp"])
    sq = seqs.copy()
    sq["event_timestamp"] = _naive(sq["event_timestamp"])
    sq["created"] = _naive(sq["created"])
    exp1 = expected_pit_df(
        sp, sq, ["doc_id"], created_col="created",
        ttl_seconds=3 * 86400, feature_cols=["n_tok"],
    )
    st = stats.copy()
    st["event_timestamp"] = _naive(st["event_timestamp"])
    st["created"] = _naive(st["created"])
    exp2 = expected_pit_df(
        sp, st, ["doc_id"], created_col="created", feature_cols=["quality_score"]
    )

    key = ["doc_id", "event_timestamp"]
    g = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    e1 = exp1.sort_values(key, kind="mergesort").reset_index(drop=True)
    e2 = exp2.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert np.allclose(
        g["n_tok"].astype(float).fillna(-1), e1["n_tok"].astype(float).fillna(-1)
    )
    assert np.allclose(
        g["quality_score"].astype(float).fillna(-1),
        e2["quality_score"].astype(float).fillna(-1),
        rtol=1e-6,
    )
    # entityless view: every spine row at/after the first global row gets a value
    gl_min = _naive(glob["event_timestamp"]).min()
    has = g[g["event_timestamp"] >= gl_min]
    assert has["total_docs"].notna().all()


def test_full_feature_names(spark, fixtures):
    store, spine, *_ = fixtures
    got = store.get_historical_features(
        datagen.to_spark(spark, spine.head(20)),
        ["sequences:n_tok", "stats:quality_score"],
        full_feature_names=True,
    ).to_df()
    assert "sequences__n_tok" in got.columns
    assert "stats__quality_score" in got.columns

    # two views that both expose `val`: the chained spine already holds
    # the first view's `val` when the second joins
    small = FeatureStore(spark)
    small.apply([_tiny_view(spark, "va_view", "val", [1.0, 2.0]),
                 _tiny_view(spark, "vb_view", "val", [10.0, 20.0])])
    refs = ["va_view:val", "vb_view:val"]
    with pytest.raises(ValueError, match="full_feature_names=True"):
        small.get_historical_features(_tiny_spine(spark), refs)
    got = small.get_historical_features(
        _tiny_spine(spark), refs, full_feature_names=True
    ).to_df().sort_values("doc_id")
    assert got["va_view__val"].tolist() == [1.0, 2.0]
    assert got["vb_view__val"].tolist() == [10.0, 20.0]


def test_odfv(spark, fixtures):
    store, spine, *_ = fixtures

    def plus100(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"quality_plus_100": pdf["quality_score"] + 100.0})

    store.apply(
        OnDemandFeatureView(
            name="adjusted",
            udf=plus100,
            schema=[Field("quality_plus_100", "double")],
        )
    )
    got = store.get_historical_features(
        datagen.to_spark(spark, spine.head(30)),
        ["stats:quality_score", "adjusted:quality_plus_100"],
    ).to_df()
    m = got["quality_plus_100"].notna()
    assert np.allclose(
        got.loc[m, "quality_plus_100"], got.loc[m, "quality_score"].astype(float) + 100.0
    )


def test_odfv_missing_request_col_raises(spark, fixtures):
    store, spine, *_ = fixtures
    store.apply(
        OnDemandFeatureView(
            name="needs_req",
            udf=lambda pdf: pd.DataFrame({"x": pdf["not_there"]}),
            schema=[Field("x", "double")],
            request_schema=[Field("not_there", "double")],
        )
    )
    with pytest.raises(ValueError, match="request column"):
        store.get_historical_features(
            datagen.to_spark(spark, spine.head(5)), ["needs_req:x"]
        )


def test_aggregation_spec(spark, fixtures):
    store, spine, seqs, *_ = fixtures
    view = FeatureView(
        name="seq_agg",
        source=DataFrameSource(
            df=datagen.to_spark(spark, seqs), created_timestamp_column="created"
        ),
        entities=[Entity("doc_id")],
        aggregations=[
            Aggregation("n_tok", "sum", timedelta(hours=24)),
            Aggregation("n_tok", "count", timedelta(hours=24)),
        ],
    )
    store.apply(view)
    got = store.get_historical_features(
        datagen.to_spark(spark, spine), ["seq_agg"]
    ).to_df()
    assert "sum_n_tok_86400s" in got.columns and "count_n_tok_86400s" in got.columns
    # oracle: latest closed 24h window before each spine ts
    sq = seqs.copy()
    sq["event_timestamp"] = _naive(sq["event_timestamp"])
    sq["bucket_end"] = sq["event_timestamp"].map(
        lambda t: pd.Timestamp((int(t.timestamp()) // 86400 + 1) * 86400, unit="s")
    )
    wins = (
        sq.groupby(["doc_id", "bucket_end"])["n_tok"].agg(["sum", "count"]).reset_index()
    )
    sp = spine.copy()
    sp["event_timestamp"] = _naive(sp["event_timestamp"])
    g = got.sort_values(["doc_id", "event_timestamp"], kind="mergesort").reset_index(drop=True)
    checked = 0
    for _, r in g.iterrows():
        cand = wins[
            (wins.doc_id == r.doc_id) & (wins.bucket_end <= r.event_timestamp)
        ]
        if len(cand):
            best = cand.sort_values("bucket_end").iloc[-1]
            assert r["sum_n_tok_86400s"] == best["sum"], (r.doc_id, r.event_timestamp)
            checked += 1
        else:
            assert pd.isna(r["sum_n_tok_86400s"])
    assert checked > 10


def test_entity_mapping(spark, fixtures):
    store, spine, *_ = fixtures
    base = store.get_feature_view("stats")
    renamed = store.with_join_key_map(base, {"doc_id": "origin_id"}, name="origin_stats")
    store.apply(renamed)
    sp = spine.head(20).rename(columns={"doc_id": "origin_id"})
    got = store.get_historical_features(
        datagen.to_spark(spark, sp), ["origin_stats:view_count"]
    ).to_df()
    assert "view_count" in got.columns and len(got) == len(sp)


def test_feature_service(spark, fixtures):
    store, spine, *_ = fixtures
    store.apply(FeatureService(name="svc", features=["sequences:n_tok"]))
    got = store.get_historical_features(
        datagen.to_spark(spark, spine.head(10)), store._services["svc"]
    ).to_df()
    assert "n_tok" in got.columns


def test_derived_view(spark, fixtures):
    store, spine, seqs, *_ = fixtures
    parent = store.get_feature_view("sequences")

    def double_tok(df):
        return df.withColumn("n_tok2", F.col("n_tok") * 2).select(
            "doc_id", "event_timestamp", "created", "n_tok2"
        )

    child = FeatureView(
        name="seq_derived",
        source=DataFrameSource(df=None, created_timestamp_column="created"),
        entities=[Entity("doc_id")],
        source_views=[parent],
        udf=double_tok,
        ttl=timedelta(days=3),
    )
    store.apply(child)
    got = store.get_historical_features(
        datagen.to_spark(spark, spine),
        ["sequences:n_tok", "seq_derived:n_tok2"],
    ).to_df()
    m = got["n_tok2"].notna()
    assert m.any()
    assert np.array_equal(
        got.loc[m, "n_tok2"].astype(int), got.loc[m, "n_tok"].astype(int) * 2
    )


def test_store_materialize_and_persist(spark, fixtures, tmp_path):
    store, spine, seqs, *_ = fixtures
    out = str(tmp_path / "mat_store")
    res = store.materialize("sequences", out)
    assert res.rows > 0 and res.written
    # idempotent rerun
    res2 = store.materialize("sequences", out)
    assert not res2.written

    job = store.get_historical_features(
        datagen.to_spark(spark, spine.head(10)), ["sequences:n_tok"]
    )
    job.persist("saved_training_set")
    assert spark.sql("select count(*) from saved_training_set").first()[0] == 10
    staged = str(tmp_path / "staged")
    job.to_remote_storage(staged)
    assert spark.read.parquet(staged).count() == 10


def test_sorted_view_materialization(spark, fixtures, tmp_path):
    from feast_spark.core.feature_view import SortedFeatureView

    store, _, seqs, *_ = fixtures
    view = SortedFeatureView(
        name="seq_sorted",
        source=DataFrameSource(
            df=datagen.to_spark(spark, seqs), created_timestamp_column="created"
        ),
        entities=[Entity("doc_id")],
        sort_keys=[("doc_id", "ASC"), ("event_timestamp", "DESC")],
    )
    store.apply(view)
    out = str(tmp_path / "sorted_view")
    store.materialize("seq_sorted", out)
    back = spark.read.parquet(out)
    # no dedup: every source row written
    assert back.count() == len(seqs)
    chk = back.select("doc_id", "event_timestamp", F.spark_partition_id().alias("p")).toPandas()
    for (_, _), grp in chk.groupby(["p", "doc_id"]):
        ts = grp["event_timestamp"].values
        assert (ts[:-1] >= ts[1:]).all()


def test_sql_string_entity_df(spark, fixtures):
    """Reference parity: the spine can be a SQL string."""
    store, spine, *_ = fixtures
    datagen.to_spark(spark, spine.head(15)).createOrReplaceTempView("spine_view")
    got = store.get_historical_features(
        "SELECT doc_id, event_timestamp FROM spine_view",
        ["sequences:n_tok"],
    ).to_df()
    assert len(got) == 15 and "n_tok" in got.columns


def test_odfv_with_request_data(spark, fixtures):
    """ODFV combining a retrieved feature with a request-time column
    (reference RequestSource, data_source.py:588)."""
    store, spine, *_ = fixtures

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"boosted": pdf["quality_score"].astype(float) * pdf["boost"]}
        )

    store.apply(
        OnDemandFeatureView(
            name="boosted_view",
            udf=combine,
            schema=[Field("boosted", "double")],
            request_schema=[Field("boost", "double")],
        )
    )
    req = spine.head(20).copy()
    req["boost"] = 2.0
    got = store.get_historical_features(
        datagen.to_spark(spark, req),
        ["stats:quality_score", "boosted_view:boosted"],
    ).to_df()
    m = got["boosted"].notna()
    assert np.allclose(
        got.loc[m, "boosted"], got.loc[m, "quality_score"].astype(float) * 2.0
    )


def test_entity_mapping_applies_udf_once(spark):
    """The mapped view serves the base view's transformed values: its
    source is the resolved frame, so the udf does not run again."""
    store = FeatureStore(spark)
    base = _tiny_view(
        spark, "doubled", "val", [10.0, 20.0],
        udf=lambda df: df.withColumn("val", F.col("val") * 2),
    )
    store.apply(base)
    store.apply(store.with_join_key_map(base, {"doc_id": "origin_id"}, name="origin_doubled"))
    got = store.get_historical_features(_tiny_spine(spark), ["doubled:val"]).to_df()
    mapped = store.get_historical_features(
        _tiny_spine(spark, "origin_id"), ["origin_doubled:val"]
    ).to_df()
    assert got.sort_values("doc_id")["val"].tolist() == [20.0, 40.0]
    assert mapped.sort_values("origin_id")["val"].tolist() == [20.0, 40.0]


_TWO_PARENT_SQL = (
    "SELECT a.doc_id, a.event_timestamp, a.va + b.vb AS v "
    "FROM {input0} a JOIN {input1} b "
    "ON a.doc_id = b.doc_id AND a.event_timestamp = b.event_timestamp"
)


def _sql_store(spark):
    store = FeatureStore(spark)
    pa = _tiny_view(spark, "pa", "va", [1.0, 2.0])
    pb = _tiny_view(spark, "pb", "vb", [10.0, 20.0])
    store.apply(
        [
            pa,
            pb,
            FeatureView(
                name="d",
                source=DataFrameSource(df=None),
                entities=[Entity("doc_id")],
                source_views=[pa, pb],
                udf=_TWO_PARENT_SQL,
            ),
            OnDemandFeatureView(
                name="o",
                udf="SELECT *, v * 10 AS v10 FROM {input}",
                schema=[Field("v10", "double")],
                mode="sql",
            ),
        ]
    )
    return store


def test_derived_view_sql_two_parents(spark):
    """A SQL-string derived view over two parents: ``{input0}`` and
    ``{input1}`` name the parents' frames in order."""
    got = _sql_store(spark).get_historical_features(_tiny_spine(spark), ["d:v"]).to_df()
    assert got.sort_values("doc_id")["v"].tolist() == [11.0, 22.0]


def test_sql_transformations_leave_no_temp_views(spark):
    """SQL-string transformations stage their inputs as temp views only
    while the query is analysed: a retrieval with a SQL view and a SQL
    ODFV leaves the session catalog as it found it."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    got = _sql_store(spark).get_historical_features(
        _tiny_spine(spark), ["d:v", "o:v10"]
    ).to_df()
    assert got.sort_values("doc_id")["v10"].tolist() == [110.0, 220.0]
    after = temp_views()
    assert not {n for n in after if n.startswith(("__view_input_", "__odfv_input_"))}
    assert after == before


def test_store_round_trip_compiles_once(spark, fixtures, tmp_path):
    """A second identical store round trip (three-view retrieval,
    materialize, online push and lookup, into fresh output paths)
    compiles no whole-stage-codegen class: the JVM codegen cache holds
    every class the first one compiled."""
    _, spine, seqs, stats, glob = fixtures
    paths = {n: str(tmp_path / n) for n in ("seqs", "stats", "glob")}
    for n, pdf in zip(paths, (seqs, stats, glob)):
        datagen.to_spark(spark, pdf).write.parquet(paths[n])
    store = FeatureStore(spark)
    store.apply([
        FeatureView("seqs", ParquetSource(paths["seqs"], created_timestamp_column="created"),
                    entities=[Entity("doc_id")], ttl=timedelta(days=3)),
        FeatureView("stats", ParquetSource(paths["stats"]), entities=[Entity("doc_id")],
                    ttl=timedelta(days=2),
                    aggregations=[Aggregation("view_count", "sum", timedelta(days=1))]),
        FeatureView("glob", ParquetSource(paths["glob"], created_timestamp_column="created")),
    ])
    spine_df = datagen.to_spark(spark, spine)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def round_trip(k):
        job = store.get_historical_features(
            spine_df, ["seqs:n_tok", "stats:sum_view_count_86400s", "glob:total_docs"]
        )
        rows = job.to_spark_df().collect()
        store.materialize("seqs", str(tmp_path / f"offline{k}"))
        online = str(tmp_path / f"online{k}")
        store.materialize_online("seqs", online)
        served = store.get_online_features(["seqs:n_tok"], spine_df, online, now=_T0).collect()
        return sorted(map(str, rows)), sorted(map(str, served))

    first = round_trip(1)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    assert round_trip(2) == first
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled
