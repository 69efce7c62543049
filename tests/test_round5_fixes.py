"""Round-5 regression pins for the ADVICE r04 fixes.

- tokenizer NULL-text convention ([] / 0, matching the DuckDB oracles)
  is pinned in test_tokenize.py / test_bpe.py (assertions updated);
- adaptive-shard reserved working columns are refused (previously an
  input already carrying e.g. ``__nsplit`` silently corrupted shard
  assignment via the withColumn/drop dance);
- the dedup-spans span-count predicate no longer relies on Or
  short-circuiting to avoid element_at(cov, 0) (covered by the existing
  test_dedup_spans suite running against the rewritten predicate; an
  explicit first-word-covered case is added here).
"""

import pytest
from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.pipeline.dedup_text import remove_duplicate_spans
from feast_spark.pipeline.sampling import pack_sequences


@pytest.mark.parametrize("bad", ["__l0", "__over1", "__nsplit", "__rf_0", "__rt0"])
def test_pack_sequences_rejects_reserved_working_columns(spark, bad):
    pdf = datagen.token_sequences(n_docs=8, versions_per_doc=1, seed=5)
    df = datagen.to_spark(spark, pdf).withColumn(bad, F.lit(1))
    with pytest.raises(ValueError, match="collide with adaptive-shard"):
        pack_sequences(df, block_tokens=512, max_stream_rows=4)


def test_pack_sequences_allows_benign_dunder_columns(spark):
    # the guard is a tight pattern, not a blanket __-prefix ban
    pdf = datagen.token_sequences(n_docs=8, versions_per_doc=1, seed=5)
    df = datagen.to_spark(spark, pdf).withColumn("__label", F.lit("x"))
    blocks = pack_sequences(df, block_tokens=512, max_stream_rows=4)
    assert blocks.count() > 0


def test_dedup_spans_counts_span_starting_at_word_zero(spark):
    # duplicated 4-gram at position 0 of both docs: the span-count
    # filter's i == 0 branch must fire without evaluating
    # element_at(cov, 0)
    df = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta unique one two three"),
            ("b", "alpha beta gamma delta other four five six"),
        ],
        "doc_id string, text string",
    )
    out = remove_duplicate_spans(df, ngram=4).orderBy("doc_id").collect()
    # keeper doc retains its text; the other loses the leading 4 words
    spans = {r["doc_id"]: r["n_dup_spans"] for r in out}
    removed = {r["doc_id"]: r["n_removed_words"] for r in out}
    assert sorted(spans.values()) == [0, 1]
    assert sorted(removed.values()) == [0, 4]
    scrubbed = next(r for r in out if r["n_dup_spans"] == 1)
    assert not scrubbed["text_deduped"].startswith("alpha")


def test_dedup_spans_plan_has_no_gram_window(spark):
    # VERDICT r04 #3: the r04 form ran Window.partitionBy(gh), sending
    # every occurrence of a hot gram to ONE task. The r05 form must
    # mark duplicates via a map-side-combinable aggregate + join — the
    # only Window-free plan shape. (The scrub epilogue uses no window
    # either, so the whole plan must be Window-free.)
    df = spark.createDataFrame(
        [("a", "one two three four five six seven eight nine")],
        "doc_id string, text string",
    )
    out = remove_duplicate_spans(df, ngram=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan
    # and the duplicate-marking aggregate is present
    assert "count(" in plan and "min(" in plan


def test_scrub_contaminated_token_spans(spark):
    from feast_spark.pipeline.dedup_text import scrub_contaminated_token_spans

    # bench doc holds ids [1..8]; train doc a embeds that exact window
    # at positions 2..9; train doc b shares no 4-gram with the bench
    bench = spark.createDataFrame(
        [("x", [1, 2, 3, 4, 5, 6, 7, 8])], "doc_id string, tokens array<int>"
    )
    train = spark.createDataFrame(
        [
            ("a", [90, 91, 1, 2, 3, 4, 5, 6, 7, 8, 92]),
            ("b", [1, 2, 3, 90, 5, 6, 7, 91]),
            ("c", [7, 7]),  # shorter than the gram
        ],
        "doc_id string, tokens array<int>",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_contaminated_token_spans(train, bench, ngram=4).collect()
    }
    assert out["a"]["n_tok_in"] == 11
    assert out["a"]["n_hit_spans"] == 1
    assert out["a"]["n_removed_tokens"] == 8
    assert list(out["a"]["tokens_clean"]) == [90, 91, 92]
    assert out["b"]["n_removed_tokens"] == 0
    assert list(out["b"]["tokens_clean"]) == [1, 2, 3, 90, 5, 6, 7, 91]
    assert out["c"]["n_removed_tokens"] == 0 and out["c"]["n_hit_spans"] == 0
    # original ids column is preserved alongside the scrubbed one
    assert list(out["a"]["tokens"]) == [90, 91, 1, 2, 3, 4, 5, 6, 7, 8, 92]


def _brute_removal_set(docs: dict, min_len: int, all_lengths: bool):
    """Reference removal set: positions covered by a duplicated window
    of length exactly ``min_len`` (the gram algorithm), or of ANY
    length >= min_len (the suffix-array threshold formulation) when
    ``all_lengths``. Duplicated = occurs at >= 2 distinct (doc, pos)."""
    from collections import Counter

    lengths = (
        range(min_len, max((len(w) for w in docs.values()), default=0) + 1)
        if all_lengths
        else [min_len]
    )
    removed = set()
    for ln in lengths:
        counts = Counter()
        occs = []
        for d, words in docs.items():
            for i in range(len(words) - ln + 1):
                key = tuple(words[i : i + ln])
                counts[key] += 1
                occs.append((d, i, key))
        for d, i, key in occs:
            if counts[key] >= 2:
                removed.update((d, p) for p in range(i, i + ln))
    return removed


def test_dedup_runs_matches_threshold_formulation(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from feast_spark.pipeline.dedup_text import remove_duplicate_runs

    vocab = ["aa", "bb", "cc", "dd"]

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12),
            min_size=2,
            max_size=5,
        )
    )
    def check(word_lists):
        docs = {str(i): w for i, w in enumerate(word_lists)}
        L = 3
        exact_l = _brute_removal_set(docs, L, all_lengths=False)
        threshold = _brute_removal_set(docs, L, all_lengths=True)
        # cover equivalence: the gram algorithm IS the >=L formulation
        assert exact_l == threshold
        df = spark.createDataFrame(
            [(d, " ".join(w)) for d, w in docs.items()],
            "doc_id string, text string",
        )
        out = remove_duplicate_runs(df, min_len=L).collect()
        for r in out:
            kept = [
                w
                for p, w in enumerate(docs[r["doc_id"]])
                if (r["doc_id"], p) not in threshold
            ]
            assert r["text_deduped"] == " ".join(kept)
            assert r["n_removed_words"] == sum(
                1 for d, _ in threshold if d == r["doc_id"]
            )

    check()


def test_remove_duplicate_token_runs(spark):
    from feast_spark.pipeline.dedup_text import remove_duplicate_token_runs

    run = list(range(100, 106))  # duplicated 6-token run, >= min_len 4
    df = spark.createDataFrame(
        [
            ("a", [1, 2] + run + [3]),
            ("b", run + [4, 5, 6]),
            ("c", [7, 8, 9, 10, 11]),  # unique
        ],
        "doc_id string, tokens array<int>",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_token_runs(df, min_len=4).collect()
    }
    # scrub-all: BOTH occurrences of the duplicated run are removed
    assert list(out["a"]["tokens_deduped"]) == [1, 2, 3]
    assert out["a"]["n_removed_tokens"] == 6 and out["a"]["n_dup_spans"] == 1
    assert list(out["b"]["tokens_deduped"]) == [4, 5, 6]
    assert out["b"]["n_removed_tokens"] == 6
    assert list(out["c"]["tokens_deduped"]) == [7, 8, 9, 10, 11]
    assert out["c"]["n_removed_tokens"] == 0
    # the plan is Window-free (skew-proof agg+join form)
    plan = remove_duplicate_token_runs(
        df, min_len=4
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan


def test_remove_duplicate_token_runs_leaves_nothing_cached(spark):
    """The id-gram stream (min_len x the token count) is not persisted
    by default, so repeated calls do not pile up cached copies."""
    from feast_spark.pipeline.dedup_text import remove_duplicate_token_runs

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4, 5, 6]), ("b", [9, 2, 3, 4, 5, 8])],
        "doc_id string, tokens array<int>",
    )
    cached = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    out = remove_duplicate_token_runs(df, min_len=4)
    assert out.count() == 2
    assert [r["tokens_deduped"] for r in out.orderBy("doc_id").collect()] == [[1, 6], [9, 8]]
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == cached


def test_entityless_union_scan(spark):
    from datetime import datetime, timedelta

    from feast_spark.operators.asof_join import point_in_time_join

    t0 = datetime(2024, 1, 1)
    feats = spark.createDataFrame(
        [
            # duplicate ts, created breaks the tie (idx 1 must win)
            (t0 + timedelta(hours=1), t0 + timedelta(minutes=1), 10.0),
            (t0 + timedelta(hours=1), t0 + timedelta(minutes=2), 11.0),
            (t0 + timedelta(hours=5), t0 + timedelta(minutes=3), 50.0),
            (t0 + timedelta(days=3), t0 + timedelta(minutes=4), 99.0),
        ],
        "event_timestamp timestamp, created timestamp, gval double",
    )
    spine = spark.createDataFrame(
        [
            (1, t0),                          # before any feature -> null
            (2, t0 + timedelta(hours=1)),     # equal ts: inclusive, max-created
            (3, t0 + timedelta(hours=6)),     # between features
            (4, t0 + timedelta(days=2)),      # TTL(1d) expires the hour-5 row
            (5, t0 + timedelta(days=4)),      # latest feature
        ],
        "sid long, event_timestamp timestamp",
    )
    rows = point_in_time_join(
        spine, feats, [], ["gval"], created_col="created", ttl_seconds=86400,
        include_feature_ts=True,
    ).collect()
    assert {r["sid"]: r["gval"] for r in rows} == {1: None, 2: 11.0, 3: 50.0, 4: None, 5: 99.0}
    assert {r["sid"]: r["__feature_ts"] for r in rows} == {
        1: None,
        2: t0 + timedelta(hours=1),
        3: t0 + timedelta(hours=5),
        4: None,
        5: t0 + timedelta(days=3),
    }


def test_entityless_union_scan_empty_features(spark):
    from datetime import datetime

    from feast_spark.operators.asof_join import point_in_time_join

    spine = spark.createDataFrame(
        [(1, datetime(2024, 1, 1))], "sid long, event_timestamp timestamp"
    )
    feats = spark.createDataFrame(
        [], "event_timestamp timestamp, created timestamp, gval double"
    )
    out = point_in_time_join(spine, feats, [], ["gval"], created_col="created").collect()
    assert len(out) == 1 and out[0]["gval"] is None


def test_entityless_union_scan_bulk_matches_oracle(spark):
    """5k spine x 2k features, no join key: the result matches the
    brute-force oracle with AQE off and an odd shuffle partition count —
    it must not depend on those physical choices."""
    from feast_spark.operators.asof_join import point_in_time_join
    from pyspark.sql import functions as SF
    from tests.oracle import expected_pit_df

    feats = (
        spark.range(2000)
        .select(
            SF.timestamp_seconds(1700000000 + SF.col("id") * 311).alias(
                "event_timestamp"
            ),
            SF.timestamp_seconds(1700000000 + SF.col("id")).alias("created"),
            (SF.col("id") * 1.5).alias("gval"),
        )
    )
    spine = spark.range(5000).select(
        SF.col("id").alias("sid"),
        SF.timestamp_seconds(1700000000 + SF.pmod(SF.col("id") * 7919, SF.lit(700000))).alias(
            "event_timestamp"
        ),
    )
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "7"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        got = point_in_time_join(
            spine, feats, [], ["gval"], created_col="created", ttl_seconds=7 * 86400
        ).toPandas()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    exp = expected_pit_df(
        spine.toPandas(),
        feats.toPandas(),
        [],
        created_col="created",
        ttl_seconds=7 * 86400,
        feature_cols=["gval"],
    )
    assert len(got) == 5000
    assert dict(zip(got["sid"], got["gval"].fillna(-1))) == dict(
        zip(exp["sid"], exp["gval"].fillna(-1))
    )


def test_dedup_spans_cache_grams_off_matches(spark):
    """The persisted gram stream only saves work: a result whose cached
    grams were dropped before the action recomputes the same rows as one
    that reads them from the cache."""
    df = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta unique one two three"),
            ("b", "alpha beta gamma delta other four five six"),
            ("c", "no duplicated grams in this document at all"),
        ],
        "doc_id string, text string",
    )
    kept = remove_duplicate_spans(df, ngram=4).orderBy("doc_id")
    assert "InMemoryRelation" in kept._jdf.queryExecution().withCachedData().toString()
    on = kept.collect()
    dropped = remove_duplicate_spans(df, ngram=4).orderBy("doc_id")
    spark.catalog.clearCache()
    plan = dropped._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan
    assert dropped.collect() == on
