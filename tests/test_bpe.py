"""BPE apply + learn: unit semantics, Spark-vs-independent-reference
property tests, and learner agreement with an in-process trainer."""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import feast_spark.pipeline.bpe as bpe_mod
from feast_spark.pipeline.bpe import (
    DEFAULT_MERGES,
    bpe_encode,
    bpe_learn,
)
from feast_spark.pipeline.tokenize import PRETOKEN_PATTERN

_PAT = re.compile(PRETOKEN_PATTERN)


def _ref_bpe_word(word, ranks):
    """Independent reference: GPT-2-style — compute the SET of current
    pairs, pick the min-rank one, merge in a single scan, repeat."""
    toks = tuple(word)
    while len(toks) > 1:
        pairs = {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)}
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, (first, second) = min(ranked)
        new, i = [], 0
        while i < len(toks):
            if (
                i < len(toks) - 1
                and toks[i] == first
                and toks[i + 1] == second
            ):
                new.append(first + second)
                i += 2
            else:
                new.append(toks[i])
                i += 1
        toks = tuple(new)
    return list(toks)


def _ref_encode(text, merges, max_word_len=16):
    ranks = {p: i for i, p in enumerate(merges)}
    out = []
    for word in _PAT.findall(text.lower()):
        if len(word) > max_word_len or len(word) < 2:
            out.append(word)
        else:
            out.extend(_ref_bpe_word(word, ranks))
    return out


def _encode_one(spark, text, **kw):
    df = spark.createDataFrame([(text,)], "text string")
    return list(bpe_encode(df, **kw).head()["tokens"])


def test_overlapping_pair_merges_left_to_right(spark):
    assert _encode_one(spark, "aaa", merges=[("a", "a")]) == ["aa", "a"]


def test_all_occurrences_merge_in_one_step(spark):
    assert _encode_one(spark, "abab", merges=[("a", "b")]) == ["ab", "ab"]
    assert _encode_one(
        spark, "abab", merges=[("a", "b"), ("ab", "ab")]
    ) == ["abab"]


def test_lowest_rank_pair_wins(spark):
    # (b,c) outranks (a,b): abc -> a + bc, and (a,bc) is not a merge
    assert _encode_one(spark, "abc", merges=[("b", "c"), ("a", "b")]) == [
        "a",
        "bc",
    ]
    # flipped priority: abc -> ab + c
    assert _encode_one(spark, "abc", merges=[("a", "b"), ("b", "c")]) == [
        "ab",
        "c",
    ]


def test_long_word_bypasses_merging(spark):
    word = "a" * 17
    assert _encode_one(spark, word, merges=[("a", "a")]) == [word]


def test_punctuation_and_case_and_null(spark):
    df = spark.createDataFrame(
        [("The thing!",), (None,), ("",)], "text string"
    )
    rows = bpe_encode(df).collect()
    assert rows[0]["tokens"][0] == "the"
    assert "!" in rows[0]["tokens"]
    # NULL text coalesces to [] — the DuckDB oracle's convention
    # (ADVICE r04 pinned this; previously NULL -> NULL diverged latently)
    assert rows[1]["tokens"] == []
    assert rows[2]["tokens"] == []


def test_rejects_bad_merge_tables(spark):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="empty merge side"):
        bpe_encode(df, merges=[("a", "")])
    with pytest.raises(ValueError, match="duplicate pair"):
        bpe_encode(df, merges=[("a", "b"), ("a", "b")])


_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("abcdefghint orse0123 .,!?-#éAB\t"),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(_texts)
def test_spark_matches_reference_on_random_text(spark, texts):
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(texts)), "text": texts}))
    rows = bpe_encode(df).orderBy("i").select("tokens").collect()
    for text, row in zip(texts, rows):
        assert list(row["tokens"]) == _ref_encode(text, DEFAULT_MERGES), text


def test_tokens_reconstruct_words(spark):
    """Concatenating each word's tokens must rebuild the word exactly
    (BPE never drops or alters characters for words within the length
    cap)."""
    texts = ["the customers were winding down", "supply and demand, 2019!"]
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(texts)), "text": texts}))
    rows = bpe_encode(df).orderBy("i").collect()
    for text, row in zip(texts, rows):
        assert "".join(row["tokens"]) == "".join(_PAT.findall(text.lower()))


def _ref_learn(texts, n_merges, min_freq=2, max_word_len=16):
    """Independent in-process trainer: word-frequency dict, pair
    Counter per round, lexicographic tie-break."""
    words = Counter(
        w
        for t in texts
        for w in _PAT.findall(t.lower())
        if 2 <= len(w) <= max_word_len
    )
    merges = []
    for _ in range(n_merges):
        ranks = {p: i for i, p in enumerate(merges)}
        counts = Counter()
        for w, f in words.items():
            toks = _ref_bpe_word(w, ranks)
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] += f
        if not counts:
            break
        # max weight, then lexicographically smallest pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        merges.append(best[0])
    return merges


def test_learn_matches_reference_trainer(spark):
    texts = [
        "the theme of the thesis",
        "the theme is the thing",
        "these themes thin out",
        "a theory of everything",
    ] * 3
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = bpe_learn(df, n_merges=12, min_freq=2)
    assert got == _ref_learn(texts, 12, min_freq=2)
    assert got[0] == ("t", "h")  # 'th' dominates this corpus


def test_learn_driver_and_distributed_paths_agree(spark, monkeypatch):
    texts = [
        "the theme of the thesis",
        "banana bandana and sandbars",
        "supercalifragilistic but short words win",
    ] * 2
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    local = bpe_learn(df, n_merges=10, min_freq=2, with_freqs=True)
    monkeypatch.setattr(bpe_mod, "DRIVER_LEARN_BUDGET", 0)
    dist = bpe_learn(df, n_merges=10, min_freq=2, with_freqs=True)
    assert local == dist
    assert len(local) > 0 and all(f >= 2 for *_, f in local)


def test_learn_driver_gate_counts_merges(spark, monkeypatch):
    """The driver path is gated on vocab rows × merges, not rows alone:
    13 distinct words at 200 merges exceed a budget of 13 × 100, so the
    distributed loop runs — and learns the same merges as a budget of 0,
    which admits no vocabulary."""
    texts = [
        "the theme of the thesis",
        "banana bandana and sandbars",
        "supercalifragilistic but short words win",
    ] * 2
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    kw = dict(n_merges=200, min_freq=4, with_freqs=True)
    monkeypatch.setattr(bpe_mod, "DRIVER_LEARN_BUDGET", 0)
    dist = bpe_learn(df, **kw)

    def no_driver_loop(*args):
        raise AssertionError("driver path taken")

    monkeypatch.setattr(bpe_mod, "_best_pair_local", no_driver_loop)
    monkeypatch.setattr(bpe_mod, "DRIVER_LEARN_BUDGET", 13 * 100)
    assert bpe_learn(df, **kw) == dist
    assert len(dist) > 0
    # 13 × 200 <= 26 × 100: the same vocab takes the driver path
    monkeypatch.setattr(bpe_mod, "DRIVER_LEARN_BUDGET", 26 * 100)
    with pytest.raises(AssertionError, match="driver path"):
        bpe_learn(df, **kw)


def test_learn_min_freq_stops_early(spark):
    df = spark.createDataFrame([("ab ab cd",)], "text string")
    # (a,b) appears twice, (c,d) once -> only one merge at min_freq=2
    assert bpe_learn(df, n_merges=10, min_freq=2) == [("a", "b")]


def test_learned_merges_compress_training_corpus(spark):
    texts = ["tokenization tokenizer tokens token"] * 4
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    merges = bpe_learn(df, n_merges=8, min_freq=2)
    toks = bpe_encode(df, merges=merges).head()["tokens"]
    raw_chars = sum(len(w) for w in _PAT.findall(texts[0]))
    assert len(toks) < raw_chars  # merges actually fire on the corpus
