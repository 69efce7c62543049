"""Regression tests for spine-lineage independence (VERDICT r01 #1,
ADVICE high).

The failure mode being guarded: an internal spine row id numbered by
``monotonically_increasing_id`` was evaluated independently in each
plan branch — with a nondeterministic shuffle in the spine lineage
(round-robin repartition, AQE-coalesced reads) or with the accumulated
multi-view frame reused as a spine, the two evaluations disagreed and
features silently attached to wrong rows (1778/2000 wrong rows for the
2nd view under the shuffle-join regime, autoBroadcastJoinThreshold=-1).
The as-of join now carries whole spine rows through one union-scan, so
no id exists to disagree; these end-to-end cases keep it that way.
"""

from datetime import timedelta

import pandas as pd
import pytest

from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.feature_view import Entity, FeatureView
from feast_spark.core.source import DataFrameSource
from feast_spark.core.store import FeatureStore
from feast_spark.operators.asof_join import point_in_time_join
from tests.oracle import expected_pit_df


@pytest.mark.parametrize("strategy", ["join_dedup", "merge_asof"])
def test_pit_join_round_robin_spine_matches_oracle(spark, strategy):
    """VERDICT's named regression: PIT join over a round-robin
    ``repartition(8)``-ed spine must still match the pandas oracle."""
    feats = datagen.token_sequences(n_docs=40, versions_per_doc=4, seed=3)
    spine = datagen.entity_spine(feats, n_rows=120, seed=5)
    sdf = datagen.to_spark(spark, spine).repartition(8)
    fdf = datagen.to_spark(spark, feats)
    got = point_in_time_join(
        sdf,
        fdf,
        ["doc_id"],
        ["n_tok"],
        created_col="created",
        ttl_seconds=3 * 86400,
        strategy=strategy,
    ).toPandas()
    exp = expected_pit_df(
        spine,
        feats,
        ["doc_id"],
        created_col="created",
        ttl_seconds=3 * 86400,
        feature_cols=["n_tok"],
    )
    exp["event_timestamp"] = pd.to_datetime(exp["event_timestamp"], utc=True).dt.tz_localize(None)
    key = ["doc_id", "event_timestamp", "n_tok"]
    got_s = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    exp_s = exp.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(got_s) == len(spine)
    pd.testing.assert_frame_equal(got_s[key], exp_s[key], check_dtype=False)


def test_multi_view_shuffle_join_regime(spark):
    """ADVICE-high reproduction: two-view retrieval with broadcast joins
    disabled (pure shuffle-join regime). Previously the 2nd view's
    features were wrong/null for ~89% of rows."""
    ts0 = pd.Timestamp("2024-01-01")
    n = 2000
    feats_a = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(n)],
            "event_timestamp": [ts0 + pd.Timedelta(hours=i % 48) for i in range(n)],
            "a_val": [float(i) for i in range(n)],
        }
    )
    feats_b = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(n)],
            "event_timestamp": [ts0 + pd.Timedelta(hours=i % 48) for i in range(n)],
            "b_val": [float(10 * i) for i in range(n)],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(n)],
            "event_timestamp": [ts0 + pd.Timedelta(days=30)] * n,
        }
    )
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(
                name="va",
                source=DataFrameSource(df=datagen.to_spark(spark, feats_a)),
                entities=[Entity("doc_id")],
                ttl=None,
            ),
            FeatureView(
                name="vb",
                source=DataFrameSource(df=datagen.to_spark(spark, feats_b)),
                entities=[Entity("doc_id")],
                ttl=None,
            ),
        ]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = store.get_historical_features(
            datagen.to_spark(spark, spine).repartition(8),
            ["va:a_val", "vb:b_val"],
        ).to_df()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(got) == n
    assert got["a_val"].notna().all() and got["b_val"].notna().all()
    wrong = got[got["b_val"] != 10 * got["a_val"]]
    assert wrong.empty, f"{len(wrong)} rows mis-joined"
    idx = got["doc_id"].str.slice(1).astype(int)
    assert (got["a_val"].to_numpy() == idx.to_numpy().astype(float)).all()
