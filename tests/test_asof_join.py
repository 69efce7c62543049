"""PIT/as-of join correctness vs the brute-force oracle, on the
BASELINE.json-shaped token-sequence data.

Checks (per BASELINE.md correctness baseline): zero temporal leakage,
TTL expiry, latest-before + created tie-break (backfill), left-join NULL
preservation, exact token-array equality per row.
"""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from feast_spark import datagen
from feast_spark.operators.asof_join import point_in_time_join
from tests.oracle import expected_pit_df

TTL = 3 * 24 * 3600  # 3 days


@pytest.fixture(scope="module")
def data(spark):
    feats = datagen.token_sequences(n_docs=60, versions_per_doc=5, seed=7)
    spine = datagen.entity_spine(feats, n_rows=150, seed=11)
    return (
        datagen.to_spark(spark, spine),
        datagen.to_spark(spark, feats),
        spine,
        feats,
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["tokens"] = out["tokens"].map(
        lambda a: None if a is None or (isinstance(a, float) and np.isnan(a)) else tuple(int(x) for x in a)
    )
    out["n_tok"] = out["n_tok"].astype("float64")
    for c in ("event_timestamp",):
        out[c] = pd.to_datetime(out[c]).dt.tz_localize(None) if out[c].dt.tz is not None else out[c]
    return out.sort_values(["doc_id", "event_timestamp", "n_tok"], kind="mergesort").reset_index(
        drop=True
    )


def _expected(spine_pd, feats_pd, ttl):
    exp = expected_pit_df(
        spine_pd,
        feats_pd,
        ["doc_id"],
        created_col="created",
        ttl_seconds=ttl,
        feature_cols=["tokens", "n_tok", "source"],
    )
    exp["event_timestamp"] = pd.to_datetime(exp["event_timestamp"], utc=True).dt.tz_localize(None)
    return _normalize(exp)


@pytest.mark.parametrize("strategy", ["join_dedup", "merge_asof", "broadcast"])
@pytest.mark.parametrize("ttl", [TTL, None])
def test_pit_join_matches_oracle(spark, data, strategy, ttl):
    """Every legacy strategy name is accepted, ignored, and gives the
    oracle's rows."""
    spine_df, feats_df, spine_pd, feats_pd = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["tokens", "n_tok", "source"],
        created_col="created",
        ttl_seconds=ttl,
        strategy=strategy,
    ).toPandas()
    assert len(got) == len(spine_pd), "spine multiplicity must be preserved"
    exp = _expected(spine_pd, feats_pd, ttl)
    gotn = _normalize(got)
    pd.testing.assert_frame_equal(
        gotn[["doc_id", "event_timestamp", "tokens", "n_tok", "source"]],
        exp[["doc_id", "event_timestamp", "tokens", "n_tok", "source"]],
        check_dtype=False,
    )


def test_no_temporal_leakage(spark, data):
    spine_df, feats_df, *_ = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["n_tok"],
        created_col="created",
        ttl_seconds=None,
        include_feature_ts=True,
    ).toPandas()
    joined = got.dropna(subset=["__feature_ts"])
    assert (joined["__feature_ts"] <= joined["event_timestamp"]).all()


def test_ttl_expiry(spark, data):
    spine_df, feats_df, *_ = data
    got = point_in_time_join(
        spine_df,
        feats_df,
        ["doc_id"],
        ["n_tok"],
        created_col="created",
        ttl_seconds=3600,
        include_feature_ts=True,
    ).toPandas()
    joined = got.dropna(subset=["__feature_ts"])
    gap = (joined["event_timestamp"] - joined["__feature_ts"]).dt.total_seconds()
    assert (gap <= 3600).all() and (gap >= 0).all()


def test_unknown_keys_yield_nulls(spark, data):
    spine_df, feats_df, spine_pd, _ = data
    got = point_in_time_join(
        spine_df, feats_df, ["doc_id"], ["n_tok"], created_col="created"
    ).toPandas()
    ghosts = got[got["doc_id"].str.startswith("ghost_")]
    assert len(ghosts) == (spine_pd["doc_id"].str.startswith("ghost_")).sum()
    assert ghosts["n_tok"].isna().all()


def test_backfill_created_tiebreak(spark):
    """Reference backfill test semantics
    (test_universal_historical_retrieval.py:546-641): same event_ts twice
    → row with later created wins; later event_ts with earlier created
    still wins on event_ts."""
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "doc_id": ["a", "a", "a", "a"],
            "event_timestamp": [ts, ts, ts + pd.Timedelta(hours=1), ts + pd.Timedelta(hours=1)],
            "created": [
                ts + pd.Timedelta(hours=5),
                ts + pd.Timedelta(hours=9),  # later created wins at same ets
                ts + pd.Timedelta(hours=2),
                ts + pd.Timedelta(hours=1),
            ],
            "val": [1, 2, 3, 4],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": ["a", "a"],
            "event_timestamp": [ts + pd.Timedelta(minutes=30), ts + pd.Timedelta(hours=2)],
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, ["doc_id"], ["val"], created_col="created")
        .toPandas()
        .sort_values("event_timestamp")
    )
    assert got["val"].tolist() == [2, 3]


def test_entityless_view(spark):
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "event_timestamp": [ts, ts + pd.Timedelta(days=1)],
            "created": [ts, ts + pd.Timedelta(days=1)],
            "total": [10, 20],
        }
    )
    spine = pd.DataFrame(
        {
            "doc_id": ["x", "y"],
            "event_timestamp": [ts + pd.Timedelta(hours=1), ts + pd.Timedelta(days=2)],
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, [], ["total"], created_col="created")
        .toPandas()
        .sort_values("doc_id")
    )
    assert got["total"].tolist() == [10, 20]


def test_composite_key_pit(spark):
    """PIT join on two join keys (entity composite)."""
    ts = pd.Timestamp("2024-01-05")
    feats = pd.DataFrame(
        {
            "tenant": ["t1", "t1", "t2", "t2"],
            "doc_id": ["a", "a", "a", "b"],
            "event_timestamp": [ts, ts + pd.Timedelta(hours=1)] * 2,
            "created": [ts] * 4,
            "val": [1, 2, 3, 4],
        }
    )
    spine = pd.DataFrame(
        {
            "tenant": ["t1", "t2", "t2", "t3"],
            "doc_id": ["a", "a", "b", "a"],
            "event_timestamp": [ts + pd.Timedelta(hours=2)] * 4,
        }
    )
    sdf, fdf = datagen.to_spark(spark, spine), datagen.to_spark(spark, feats)
    got = (
        point_in_time_join(sdf, fdf, ["tenant", "doc_id"], ["val"], created_col="created")
        .toPandas()
        .sort_values(["tenant", "doc_id"])
    )
    assert got["val"].fillna(-1).tolist() == [2, 3, 4, -1]


def test_null_keys_never_match(spark):
    """NULL never equals a key: spine rows with a NULL join key get NULL
    features even when feature rows with a NULL key exist (the
    conditional join's inner-join semantics); a NULL in ONE of two keys
    is enough. Feature rows with a NULL ts never match either."""
    ts = datetime(2024, 1, 5)
    feats = spark.createDataFrame(
        [
            (None, "x", ts, 1),
            ("a", None, ts, 2),
            ("a", "x", ts, 3),
            ("a", "x", None, 4),
            ("b", "x", None, 5),
        ],
        "doc_id string, tenant string, event_timestamp timestamp, val int",
    )
    spine = spark.createDataFrame(
        [
            (None, "x", ts + timedelta(hours=1)),
            ("a", None, ts + timedelta(hours=1)),
            ("a", "x", ts + timedelta(hours=1)),
            ("b", "x", ts + timedelta(hours=1)),
            ("a", "x", None),
        ],
        "doc_id string, tenant string, event_timestamp timestamp",
    )
    for keys in (["doc_id", "tenant"], ["doc_id"]):
        got = point_in_time_join(spine, feats, keys, ["val"]).toPandas()
        assert len(got) == 5
        by_row = {
            (r.doc_id, r.tenant, pd.isna(r.event_timestamp)): r.val
            for r in got.itertuples()
        }
        assert pd.isna(by_row[(None, "x", False)]), keys
        assert pd.isna(by_row[("b", "x", False)]), keys
        assert pd.isna(by_row[("a", "x", True)]), keys  # NULL spine ts
        assert by_row[("a", "x", False)] == 3, keys
        if len(keys) == 2:
            assert pd.isna(by_row[("a", None, False)])
        else:  # tenant is not a key: the latest doc_id='a' row matches
            assert by_row[("a", None, False)] == 3


def test_duplicate_spine_rows_keep_multiplicity(spark):
    ts = datetime(2024, 1, 5)
    feats = spark.createDataFrame(
        [("a", ts, 1)], "doc_id string, event_timestamp timestamp, val int"
    )
    spine = spark.createDataFrame(
        [("a", ts)] * 3 + [("z", ts)] * 2, "doc_id string, event_timestamp timestamp"
    )
    got = point_in_time_join(spine, feats, ["doc_id"], ["val"]).toPandas()
    assert sorted(got["val"].fillna(-1).tolist()) == [-1, -1, 1, 1, 1]


def test_strategy_names_and_ignored_options(spark):
    """``strategy`` and ``spine_assume_unique`` are accepted and ignored:
    every former strategy name runs the one union-scan, keyed or
    entityless; a name that never existed raises."""
    ts = datetime(2024, 1, 5)
    feats = spark.createDataFrame(
        [("a", ts, 1)], "doc_id string, event_timestamp timestamp, val int"
    )
    spine = spark.createDataFrame([("a", ts)], "doc_id string, event_timestamp timestamp")
    for unique in (None, True, False, "probe"):
        got = point_in_time_join(
            spine, feats, ["doc_id"], ["val"], spine_assume_unique=unique
        ).toPandas()
        assert got["val"].tolist() == [1]
    for strategy in ("auto", "join_dedup", "merge_asof", "broadcast", "range_union"):
        for keys in (["doc_id"], []):
            got = point_in_time_join(spine, feats, keys, ["val"], strategy=strategy)
            assert [r.val for r in got.collect()] == [1], (strategy, keys)
    with pytest.raises(ValueError, match="unknown strategy"):
        point_in_time_join(spine, feats, ["doc_id"], ["val"], strategy="sort_merge")


def test_multi_view_pit_join_chains_views(spark, data):
    """Two views chained onto one spine equal two independent joins;
    ``prefix`` names the outputs ``prefix__name``."""
    from feast_spark.operators.asof_join import multi_view_pit_join

    spine_df, feats_df, spine_pd, feats_pd = data
    opts = {"created_col": "created", "ttl_seconds": TTL}
    got = multi_view_pit_join(
        spine_df,
        [
            (feats_df, ["doc_id"], {**opts, "feature_cols": ["n_tok"], "prefix": "a"}),
            (feats_df, ["doc_id"], {**opts, "feature_cols": ["source"]}),
        ],
    ).toPandas()
    assert len(got) == len(spine_pd)
    exp = _expected(spine_pd, feats_pd, TTL)
    got = got.rename(columns={"a__n_tok": "n_tok"})
    got["tokens"] = None
    key = ["doc_id", "event_timestamp", "n_tok", "source"]
    gotn = _normalize(got)
    pd.testing.assert_frame_equal(gotn[key], exp[key], check_dtype=False)
