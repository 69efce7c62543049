"""Passage-level exact-substring dedup (remove_duplicate_spans)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_spark.pipeline.dedup_text import remove_duplicate_spans

SF = "/root/testdata/sf0.001"


def _run(spark, rows, **kw):
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = remove_duplicate_spans(df, **kw).orderBy("doc_id")
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_keep_first_preserves_canonical_copy(spark):
    got = _run(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": ["x a b c d y", "p a b c d q", "a b c d"],
        },
        ngram=4,
    )
    # doc 1 holds the (min doc_id, min pos) occurrence — untouched
    assert got[1]["n_removed_words"] == 0
    assert got[1]["text_deduped"] == "x a b c d y"
    assert got[2]["n_removed_words"] == 4 and got[2]["text_deduped"] == "p q"
    assert got[3]["n_removed_words"] == 4 and got[3]["text_deduped"] == ""
    assert got[2]["n_dup_spans"] == 1


def test_scrub_mode_removes_all_occurrences(spark):
    got = _run(
        spark,
        {"doc_id": [1, 2], "text": ["x a b c d y", "p a b c d q"]},
        ngram=4,
        keep_first=False,
    )
    assert got[1]["n_removed_words"] == 4
    assert got[2]["n_removed_words"] == 4
    assert got[1]["text_deduped"] == "x y"


def test_overlapping_grams_merge_into_one_span(spark):
    # 'a b c d e' shared: doc 2 has TWO duplicated 4-grams (abcd, bcde)
    # whose covered ranges overlap -> ONE merged span of 5 words
    got = _run(
        spark,
        {"doc_id": [1, 2], "text": ["a b c d e", "z a b c d e z"]},
        ngram=4,
    )
    assert got[2]["n_dup_spans"] == 1
    assert got[2]["n_removed_words"] == 5
    assert got[2]["text_deduped"] == "z z"


def test_disjoint_spans_counted_separately(spark):
    base = "a b c d"
    other = "w x y z"
    got = _run(
        spark,
        {
            "doc_id": [1, 2],
            "text": [f"{base} {other}", f"{base} mm nn oo pp {other}"],
        },
        ngram=4,
    )
    assert got[2]["n_dup_spans"] == 2
    assert got[2]["n_removed_words"] == 8
    assert got[2]["text_deduped"] == "mm nn oo pp"


def test_short_docs_and_whitespace_normalization(spark):
    got = _run(
        spark,
        {"doc_id": [1, 2], "text": ["one two three", "  one\t two   three  "]},
        ngram=4,
    )
    # both shorter than ngram: untouched, but whitespace-normalized
    for d in (1, 2):
        assert got[d]["n_removed_words"] == 0
        assert got[d]["text_deduped"] == "one two three"
        assert got[d]["n_words"] == 3


def test_within_doc_repetition_detected(spark):
    rep = "a b c d " * 2 + "a b c d"
    got = _run(spark, {"doc_id": [1], "text": [rep]}, ngram=4)
    # 12 words; positions with duplicated grams cover everything except
    # the first occurrence of each distinct gram
    assert got[1]["n_removed_words"] > 0
    assert got[1]["n_words"] == 12


def test_guards(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}))
    with pytest.raises(ValueError, match="ngram"):
        remove_duplicate_spans(df, ngram=1)
    with pytest.raises(ValueError, match="min_count"):
        remove_duplicate_spans(df, min_count=1)
    with pytest.raises(ValueError, match="internal column"):
        remove_duplicate_spans(df.withColumn("__words", F.lit("")))


def test_corpus_run_is_consistent(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = remove_duplicate_spans(docs)
    agg = out.agg(
        F.sum("n_removed_words").alias("rm"),
        F.sum("n_words").alias("nw"),
        F.min(F.col("n_removed_words")).alias("mn"),
    ).first()
    assert 0 < agg["rm"] < agg["nw"]
    assert agg["mn"] >= 0
    # removed words really left the text
    chk = out.select(
        (
            F.size(F.filter(F.split(F.col("text_deduped"), " "), lambda x: x != ""))
            == F.col("n_words") - F.col("n_removed_words")
        ).alias("ok")
    )
    assert chk.filter(~F.col("ok")).count() == 0


# ---------------------------------------------------------------------------
# scrub_contaminated_spans (span-level decontamination)
# ---------------------------------------------------------------------------

def test_scrub_contaminated_removes_only_benchmark_spans(spark):
    from feast_spark.pipeline.dedup_text import scrub_contaminated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail words"),
            (2, "completely different content with no benchmark overlap x"),
            (3, "lead a b c d e f g h"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("prefix a b c d e f g h suffix",)], "text string"
    )
    out = {
        r["doc_id"]: r
        for r in scrub_contaminated_spans(docs, bench, ngram=8).collect()
    }
    assert out[1]["text_clean"] == "tail words"
    assert out[1]["n_hit_spans"] == 1 and out[1]["n_removed_words"] == 8
    assert out[2]["n_hit_spans"] == 0 and out[2]["n_removed_words"] == 0
    assert out[2]["text_clean"].startswith("completely different")
    assert out[3]["text_clean"] == "lead"


def test_scrub_contaminated_empty_benchmark_is_noop(spark):
    from feast_spark.pipeline.dedup_text import scrub_contaminated_spans

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id < 0")  # empty
    row = scrub_contaminated_spans(docs, bench, ngram=8).head()
    assert row["n_removed_words"] == 0
    assert row["text_clean"] == docs.head()["text"]


def test_scrub_contaminated_benchmark_doc_scrubs_itself(spark):
    from feast_spark.pipeline.dedup_text import scrub_contaminated_spans

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9")], "doc_id long, text string"
    )
    out = scrub_contaminated_spans(docs, docs, ngram=8).head()
    # grams at 0 and 1 cover every word
    assert out["n_removed_words"] == 9 and out["text_clean"] == ""


def test_scrub_contaminated_guards(spark):
    import pytest as _pytest
    from feast_spark.pipeline.dedup_text import scrub_contaminated_spans

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="ngram"):
        scrub_contaminated_spans(docs, docs, ngram=1)


# ---------------------------------------------------------------------------
# One span core: words and token ids, physical choices
# ---------------------------------------------------------------------------

def _corpus(n_docs, vocab, seed, max_len=14):
    import random

    rnd = random.Random(seed)
    return [
        (d, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, max_len))))
        for d in range(n_docs)
    ]


def test_word_and_id_spaces_agree(spark):
    """Mapping each distinct word to one id, the text and id operators mark
    and scrub the same positions. The ids are chosen so that they collide
    when joined without a separator ('1,12' vs '11,2')."""
    from feast_spark.pipeline.dedup_text import (
        remove_duplicate_runs,
        remove_duplicate_token_runs,
        scrub_contaminated_spans,
        scrub_contaminated_token_spans,
    )

    ids = {"aa": 1, "bb": 11, "cc": 12, "dd": 2, "ee": 112}
    word = {i: w for w, i in ids.items()}
    rows = _corpus(12, list(ids), seed=3) + [(12, ""), (13, "  aa\tbb  ")]
    bench_rows = _corpus(3, list(ids), seed=4)
    text = spark.createDataFrame(rows, "doc_id long, text string")
    bench_text = spark.createDataFrame(bench_rows, "doc_id long, text string")

    def as_ids(rs):
        return spark.createDataFrame(
            [(d, [ids[w] for w in t.split()]) for d, t in rs],
            "doc_id long, tokens array<int>",
        )

    cases = [
        (
            remove_duplicate_runs(text, min_len=3),
            remove_duplicate_token_runs(as_ids(rows), min_len=3),
            "n_dup_spans", "text_deduped", "tokens_deduped",
        ),
        (
            scrub_contaminated_spans(text, bench_text, ngram=3),
            scrub_contaminated_token_spans(as_ids(rows), as_ids(bench_rows), ngram=3),
            "n_hit_spans", "text_clean", "tokens_clean",
        ),
    ]
    for by_text, by_ids, spans, text_out, ids_out in cases:
        t = {r["doc_id"]: r for r in by_text.collect()}
        i = {r["doc_id"]: r for r in by_ids.collect()}
        assert t.keys() == i.keys() == {d for d, _ in rows}
        assert sum(r["n_removed_words"] for r in t.values()) > 0
        for d in t:
            assert t[d]["n_words"] == i[d]["n_tok_in"]
            assert t[d][spans] == i[d][spans]
            assert t[d]["n_removed_words"] == i[d]["n_removed_tokens"]
            assert t[d][text_out] == " ".join(word[x] for x in i[d][ids_out])


def test_keep_first_independent_of_input_order(spark):
    """The keeper of each repeated gram is the smallest (doc_id, position)
    occurrence, whatever order and partitioning the input arrives in."""
    df = spark.createDataFrame(
        _corpus(300, ["aa", "bb", "cc", "dd", "ee"], seed=5, max_len=20),
        "doc_id long, text string",
    )
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "7"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        shuffled = df.orderBy(F.rand(11)).repartition(7)
        one = remove_duplicate_spans(df.coalesce(1), ngram=3).collect()
        many = remove_duplicate_spans(shuffled, ngram=3).collect()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert sorted(one) == sorted(many)
    assert 0 < sum(r["n_removed_words"] for r in one) < sum(r["n_words"] for r in one)
