"""Online snapshot store: push latest + bucket-pruned point lookups."""

import os
from datetime import timedelta

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.feature_view import Entity, FeatureView
from feast_spark.core.source import DataFrameSource
from feast_spark.core.store import FeatureStore
from feast_spark.materialize.jobs import MaterializationManifest, materialize_view, read_materialized
from feast_spark.online import N_BUCKETS, LocalOnlineStore


def test_push_and_get_online(spark, tmp_path):
    store = LocalOnlineStore(str(tmp_path / "online"))
    pdf = datagen.token_sequences(n_docs=30, versions_per_doc=4, seed=6)
    df = datagen.to_spark(spark, pdf)
    n = store.push_online(df, ["doc_id"], created_col="created")
    assert n == pdf["doc_id"].nunique()

    req = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["doc_00000001", "doc_00000002", "nope"]})
    )
    got = store.get_online_features(spark, req, ["doc_id"], ["n_tok", "source"]).toPandas()
    assert len(got) == 3
    assert got.set_index("doc_id")["n_tok"].isna()["nope"]
    # served value equals the pandas latest-row oracle
    exp = (
        pdf.sort_values(["event_timestamp", "created"], kind="mergesort")
        .groupby("doc_id")
        .tail(1)
        .set_index("doc_id")["n_tok"]
    )
    for d in ("doc_00000001", "doc_00000002"):
        assert got.set_index("doc_id")["n_tok"][d] == exp[d]


def _new_jobs(spark, fn):
    """Run ``fn`` and return (its result, the Spark jobs it launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None) or []) - before)


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_push_online_observes_count_without_caching(spark, tmp_path):
    """The write job itself counts the rows: nothing stays persisted,
    the count matches the files, and each bucket is one file."""
    path = str(tmp_path / "online")
    df = datagen.to_spark(spark, datagen.token_sequences(n_docs=40, versions_per_doc=3, seed=8))
    cached = _persisted(spark)
    n = LocalOnlineStore(path).push_online(df, ["doc_id"], created_col="created")
    assert _persisted(spark) == cached
    assert n == spark.read.parquet(path).count() == 40
    buckets = [d for d in os.listdir(path) if d.startswith("__bucket=")]
    assert buckets
    for d in buckets:
        assert len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]) == 1


def test_write_paths_job_counts(spark, tmp_path):
    """One-chunk materialize is the distinct-days pass plus one write
    (4 jobs with AQE, was 7 with the read-back count); push_online is
    the dedup shuffle, the bucket shuffle and the write (3, was 6 with
    the cached count)."""
    df = datagen.to_spark(spark, datagen.token_sequences(n_docs=30, versions_per_doc=4, seed=6))
    res, jobs = _new_jobs(
        spark,
        lambda: materialize_view(spark, df, str(tmp_path / "mat"), ["doc_id"], created_col="created"),
    )
    assert jobs <= 4
    back = read_materialized(spark, str(tmp_path / "mat"))
    assert res.rows == back.count()
    per_day = {str(r["day"]): r["count"] for r in back.groupBy("day").count().collect()}
    manifest = MaterializationManifest(str(tmp_path / "mat")).load()
    assert {d: e["rows"] for d, e in manifest.items()} == per_day
    n, jobs = _new_jobs(
        spark, lambda: LocalOnlineStore(str(tmp_path / "on")).push_online(df, ["doc_id"], created_col="created")
    )
    assert jobs <= 3 and n == 30


def test_store_online_lookup_keeps_request_rows(spark, tmp_path):
    """Each view's snapshot is joined straight onto the request rows:
    duplicated, NULL and unknown keys keep one row each, values equal
    the latest-row oracle, and a TTL-expired key serves NULL."""
    rng = np.random.default_rng(11)
    now = pd.Timestamp("2024-02-01")
    docs = [f"d{i}" for i in range(10)]

    def versions(col, n, max_age_h):
        return pd.DataFrame(
            {
                "doc_id": np.repeat(docs, n),
                # distinct ages so the latest row per key is unique
                "event_timestamp": now
                - pd.to_timedelta(rng.choice(max_age_h * 60, len(docs) * n, replace=False), unit="min"),
                col: rng.normal(size=len(docs) * n),
            }
        )

    va, vb = versions("f1", 4, 24 * 20), versions("f2", 3, 24)
    vb.loc[vb["doc_id"] == "d9", "event_timestamp"] -= pd.Timedelta(days=10)
    store = FeatureStore(spark)
    store.apply(
        [
            FeatureView(name="va", source=DataFrameSource(df=datagen.to_spark(spark, va)), entities=[Entity("doc_id")]),
            FeatureView(
                name="vb",
                source=DataFrameSource(df=datagen.to_spark(spark, vb)),
                entities=[Entity("doc_id")],
                ttl=timedelta(days=2),
            ),
        ]
    )
    root = str(tmp_path / "online")
    store.materialize_online("va", root)
    store.materialize_online("vb", root)
    keys = ["d1", "d1", "d2", None, "nope", "d9", "d3", "d3", "d3"]
    req = spark.createDataFrame(
        pd.DataFrame({"rid": range(len(keys)), "doc_id": keys}), "rid long, doc_id string"
    )
    got = store.get_online_features(["va:f1", "vb:f2"], req, root, now=now).toPandas()
    assert sorted(got["rid"]) == list(range(len(keys)))
    got = got.set_index("rid")

    def latest(pdf, col):
        return pdf.sort_values("event_timestamp").groupby("doc_id").tail(1).set_index("doc_id")[col]

    f1, f2 = latest(va, "f1"), latest(vb, "f2")
    for rid, key in enumerate(keys):
        assert got.loc[rid, "doc_id"] == key
        if key is None or key == "nope":
            assert pd.isna(got.loc[rid, "f1"]) and pd.isna(got.loc[rid, "f2"])
            continue
        assert got.loc[rid, "f1"] == f1[key]
        if key == "d9":
            assert pd.isna(got.loc[rid, "f2"])  # latest row older than the 2-day TTL
        else:
            assert got.loc[rid, "f2"] == f2[key]
    # the second view's bucket collect does not re-run the first view's
    # join: Spark drops a left join under a distinct of left-side columns
    one = store.get_online_features(["va:f1"], req, root, now=now)
    buckets = one.select(F.pmod(F.hash("doc_id"), F.lit(N_BUCKETS))).distinct()
    assert "Join" not in buckets._jdf.queryExecution().optimizedPlan().toString()


def test_schemaless_online_lookup_reads_snapshot_once(spark, tmp_path):
    """A view without a schema serves every snapshot column but its keys
    and timestamps, from one read of its snapshot: the same columns and
    the same Spark jobs as naming the feature."""
    pdf = datagen.token_sequences(n_docs=20, versions_per_doc=3, seed=7)[
        ["doc_id", "event_timestamp", "n_tok"]
    ]
    store = FeatureStore(spark)
    store.apply(FeatureView(name="v", source=DataFrameSource(df=datagen.to_spark(spark, pdf)),
                            entities=[Entity("doc_id")]))
    root = str(tmp_path / "online")
    store.materialize_online("v", root)
    req = spark.createDataFrame(pd.DataFrame({"doc_id": ["doc_00000001", "nope"]}))
    named, named_jobs = _new_jobs(spark, lambda: store.get_online_features(["v:n_tok"], req, root))
    every, every_jobs = _new_jobs(spark, lambda: store.get_online_features(["v"], req, root))
    assert every.columns == named.columns == ["doc_id", "n_tok"]
    assert every_jobs == named_jobs
    assert sorted(map(tuple, every.collect())) == sorted(map(tuple, named.collect()))
