"""Plan-shape regression tests: the optimizations we rely on at scale
must actually appear in the physical plan — filter pushdown to the
parquet scan, broadcast joins for small sides, one shuffle and one sort
per as-of join."""

import re
from datetime import timedelta

import pytest

from pyspark.sql import functions as F

from feast_spark.core.feature_view import Entity, FeatureView
from feast_spark.core.source import ParquetSource
from feast_spark.core.store import FeatureStore
from feast_spark.operators.asof_join import point_in_time_join

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _final(df) -> str:
    """The plan as run: adaptive execution's final plan after an action,
    where stage reuse shows."""
    df.collect()
    return _plan(df).split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def ev(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_spine_bounds_push_into_scan(spark, ev):
    """FeatureStore pre-filters each feature scan to the spine window —
    the filter must reach the parquet reader (PushedFilters)."""
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="clicks",
            source=ParquetSource(f"{SF}/events.parquet", timestamp_field="ts"),
            entities=[Entity("user_id")],
            ttl=timedelta(days=7),
            udf=lambda df: df.filter(F.col("event_type") == "click"),
        )
    )
    spine = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("event_timestamp")
    )
    job = store.get_historical_features(spine, ["clicks:value"])
    # default maxMetadataStringLength truncates the PushedFilters list
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = _plan(job.to_spark_df())
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert "PushedFilters" in plan
    # the ts window bounds derived from the spine must be pushed down
    assert "LessThanOrEqual(ts" in plan, plan[:2000]
    assert "GreaterThanOrEqual(ts" in plan


def _assert_union_scan(out) -> None:
    """ONE hash shuffle of spine + feature rows on the join key and ONE
    sort feeding the running window — no row-id stamp, conditional join
    or join back, no Arrow cogroup and no broadcast."""
    plan = _plan(out)
    assert len(re.findall(r"\bExchange hashpartitioning\(user_id", plan)) == 1, plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert "FlatMapCoGroupsIn" not in plan
    assert "BroadcastExchange" not in plan


def _clicks_asof(ev, strategy: str):
    spine = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("event_timestamp")
    )
    feats = ev.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("event_timestamp"), "value"
    )
    return point_in_time_join(
        spine, feats, ["user_id"], ["value"], ttl_seconds=86400, strategy=strategy
    )


@pytest.mark.parametrize("strategy", ["auto", "join_dedup", "broadcast"])
def test_point_in_time_join_one_exchange_one_sort(spark, ev, strategy):
    """Every legacy strategy name is ignored: the plan is the one
    union-scan."""
    _assert_union_scan(_clicks_asof(ev, strategy))


def test_merge_asof_shuffle_count(spark, ev):
    """strategy='merge_asof' is ignored too: one shuffle, no Arrow
    cogroup."""
    _assert_union_scan(_clicks_asof(ev, "merge_asof"))


def test_entityless_store_retrieval_has_no_arrow_cogroup(spark, ev):
    """An entityless view is retrieved by the same union-scan over an
    unpartitioned window — no JVM↔Python round trip."""
    store = FeatureStore(spark)
    store.apply(
        FeatureView(
            name="all_clicks",
            source=ParquetSource(f"{SF}/events.parquet", timestamp_field="ts"),
            ttl=timedelta(days=7),
            udf=lambda df: df.filter(F.col("event_type") == "click").select("ts", "value"),
        )
    )
    spine = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("event_timestamp")
    )
    plan = _plan(store.get_historical_features(spine, ["all_clicks:value"]).to_spark_df())
    assert "FlatMapCoGroupsIn" not in plan, plan
    assert "Window [last(" in plan, plan


def test_column_pruning_reaches_scan(spark):
    """Selecting 2 columns must not read the full documents schema."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select("doc_id", "lang")
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_window_group_limit_for_latest_dedup(spark, ev):
    """latest_row_dedup must compile to WindowGroupLimit (top-1 per key
    without full sort materialization) on Spark 4."""
    from feast_spark.operators.dedup import latest_row_dedup

    out = latest_row_dedup(
        ev.select("user_id", "ts", "value"), ["user_id"], "ts"
    )
    assert "WindowGroupLimit" in _plan(out)


def test_iceberg_conf_wiring(spark):
    """Iceberg helper produces the reference's catalog conf shape
    (repo_config.py:261-268); actual catalog use is gated on the runtime
    jar, absent in this sandbox."""
    from feast_spark.core.iceberg import (
        create_sequences_table_ddl,
        iceberg_available,
        iceberg_session_conf,
    )

    conf = iceberg_session_conf("feast", warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.feast"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.feast.handle-timestamp-without-timezone"] == "true"
    assert conf["spark.sql.catalog.feast.warehouse"] == "/tmp/wh"
    ddl = create_sequences_table_ddl("feast.db.seqs")
    assert "PARTITIONED BY (days(event_timestamp), bucket(64, doc_id))" in ddl
    assert iceberg_available(spark) in (True, False)  # gated, no jar here


def test_per_row_curation_ops_have_no_exchange(spark):
    """gopher_quality_rules, pii_scrub, and chunk_sequences are
    per-row/flatMap only — a shuffle appearing in their plans would be
    a scale regression (these run over every document of the corpus)."""
    from feast_spark.pipeline.sampling import chunk_sequences
    from feast_spark.pipeline.text import gopher_quality_rules, pii_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        gopher_quality_rules(docs),
        pii_scrub(docs),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan[:1500]
    seqs = docs.selectExpr(
        "doc_id", "array(1,2,3,4,5,6,7,8) as tokens"
    )
    plan = _plan(chunk_sequences(seqs, max_len=4, overlap=1, n_tok_col=None))
    assert "Exchange" not in plan, plan[:1500]


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must reach the corpus join as a
    broadcast — a sort-merge join here would shuffle the whole corpus
    on shingle, exactly what the operator exists to avoid."""
    from feast_spark.pipeline.text import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.limit(5)
    plan = _plan(decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]
    # the corpus posting side must NOT be hash-shuffled on the shingle
    # column for the join (only the per-doc count aggregate shuffles on id)
    assert "hashpartitioning(__s" not in plan, plan[:2000]


def test_unigram_logprob_totals_are_broadcast_lazy(spark):
    """unigram_logprob_score keeps the corpus totals INSIDE the lazy
    plan (broadcast nested-loop of a 1-row frame) — no eager driver
    action at build time."""
    from feast_spark.pipeline.text import unigram_logprob_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = unigram_logprob_score(docs)  # plan build must launch no job
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_simhash_pairs_plan_has_one_join(spark):
    """The SimHash pair finder joins the segment rows with themselves
    once and nothing else: no join restoring zero-word documents as NULL
    signatures it would drop again."""
    from feast_spark.pipeline.dedup_text import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _optimized(simhash_pairs(docs))
    assert len(re.findall(r"\bJoin\b", plan)) == 1, plan


def test_embedding_dup_pairs_reads_corpus_once(spark):
    """The LSH path's two self-join sides read one bucket shuffle (the
    second as a ReusedExchange): one corpus scan, one signature pass and
    one cosine pass."""
    from feast_spark.pipeline.similarity import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _final(embedding_dup_pairs(emb, threshold=0.3))
    assert plan.count("FileScan") == 1 and "ReusedExchange" in plan, plan
    assert plan.count("ArrowEvalPython") == 2, plan


@pytest.mark.parametrize("finder", ["lsh_topk", "ivf_topk"])
def test_topk_index_runs_once_per_side(spark, finder):
    """The index UDF runs once on the query side and once on the corpus
    side, the cosine UDF once: no filter re-evaluates a UDF output."""
    from feast_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _final(getattr(similarity, finder)(emb.filter(F.col("vec_id") < 20), emb, k=3))
    assert plan.count("ArrowEvalPython [run(") == 2, plan
    assert plan.count("ArrowEvalPython [dot_fn(") == 1, plan
