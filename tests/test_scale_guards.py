"""Guards against driver-side collects on adaptive/exact side-paths
(VERDICT r01 "What's wrong" #2/#3): the dense n-gram path must gate on
estimated matrix BYTES (docs x vocab), and exact embedding dedup must
refuse corpora beyond its broadcast bound. The one bounded collect
behind these gates, ``session.collect_bounded``, runs one job whatever
the answer.
"""

import pandas as pd
import pytest

from feast_spark import datagen
from feast_spark.pipeline import dedup_text
from feast_spark.pipeline.bpe import bpe_learn
from feast_spark.pipeline.similarity import embedding_dup_pairs
from feast_spark.session import collect_bounded


def _new_jobs(spark, fn):
    """Run ``fn`` and return (its result, the Spark jobs it launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None) or []) - before)


def test_collect_bounded_bound_and_one_job(spark):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id long, s string")
    empty, jobs = _new_jobs(spark, lambda: collect_bounded(df.filter("id < 0"), 5))
    assert jobs == 1
    assert empty is not None and empty.num_rows == 0
    assert empty.schema.names == ["id", "s"]
    full, jobs = _new_jobs(spark, lambda: collect_bounded(df, 5))
    assert jobs == 1
    assert sorted(full["id"].to_pylist()) == [0, 1, 2, 3, 4]
    over, jobs = _new_jobs(spark, lambda: collect_bounded(df, 4))
    assert jobs == 1
    assert over is None


def test_bpe_driver_path_job_count(spark):
    """The driver path is one bounded collect of the word table: 3 jobs
    with AQE, where a count followed by a collect ran 5."""
    texts = [
        "the theme of the thesis",
        "banana bandana and sandbars",
        "supercalifragilistic but short words win",
    ] * 2
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    merges, jobs = _new_jobs(spark, lambda: bpe_learn(df, n_merges=10, min_freq=2))
    assert merges
    assert jobs == 3


@pytest.fixture(scope="module")
def small_vocab_docs(spark):
    # many docs over a tiny shared vocabulary -> small n_vocab, so the
    # old vocab-only gate would always choose the dense/collect path
    texts = ["alpha beta gamma", "beta gamma delta", "alpha beta delta"]
    pdf = pd.DataFrame(
        {"doc_id": list(range(60)), "text": [texts[i % 3] for i in range(60)]}
    )
    return datagen.to_spark(spark, pdf)


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df.collect()
    }


def test_dense_gate_routes_to_posting_join(spark, small_vocab_docs, monkeypatch):
    boom = lambda *a, **k: (_ for _ in ()).throw(AssertionError("dense path taken"))
    monkeypatch.setattr(dedup_text, "_jaccard_gram", boom)
    # budget of 1 byte -> must fall back to the posting join despite the
    # tiny vocabulary
    monkeypatch.setattr(dedup_text, "DENSE_BUDGET_BYTES", 1)
    out = dedup_text.ngram_jaccard_pairs(small_vocab_docs, n=2, threshold=0.9)
    assert out.count() > 0  # duplicates exist and the posting path found them


def test_dense_and_posting_paths_agree(spark, small_vocab_docs, monkeypatch):
    dense = dedup_text.ngram_jaccard_pairs(small_vocab_docs, n=2, threshold=0.5)
    # a dense collect over its row bound falls back to the posting join
    monkeypatch.setattr(dedup_text, "collect_bounded", lambda df, max_rows: None)
    fallback = dedup_text.ngram_jaccard_pairs(small_vocab_docs, n=2, threshold=0.5)
    monkeypatch.setattr(dedup_text, "DENSE_BUDGET_BYTES", 1)
    posting = dedup_text.ngram_jaccard_pairs(small_vocab_docs, n=2, threshold=0.5)
    assert _pairs_set(dense) == _pairs_set(posting) == _pairs_set(fallback)


def test_exact_embedding_dups_enforces_bound(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_exact_rows"):
        embedding_dup_pairs(df, threshold=0.9, exact=True, max_exact_rows=10)
    # under the bound it still runs
    out = embedding_dup_pairs(df, threshold=0.999, exact=True, max_exact_rows=100)
    assert out.count() >= 0


def test_max_doc_freq_prunes_consistently(spark, monkeypatch):
    """Sizes and intersections must be computed over the SAME pruned
    shingle space: identical docs stay jaccard=1.0 even when most of
    their shingles are pruned as hot (third review pass finding)."""
    # 'common alpha beta' bigrams appear in every doc (hot); the twin
    # docs additionally share unique content
    twins = "unique gamma delta epsilon zeta"
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(12)),
            "text": [f"common alpha beta filler{i}" for i in range(10)]
            + [f"common alpha beta {twins}", f"common alpha beta {twins}"],
        }
    )
    df = datagen.to_spark(spark, pdf)
    monkeypatch.setattr(dedup_text, "DENSE_BUDGET_BYTES", 1)
    out = dedup_text.ngram_jaccard_pairs(df, n=2, threshold=0.99, max_doc_freq=5).toPandas()
    pairs = set(zip(out["id_a"], out["id_b"]))
    assert ("10", "11") in pairs or (10, 11) in pairs, out
    row = out[(out["id_a"].astype(str) == "10")].iloc[0]
    assert row["jaccard"] == 1.0


def test_simhash_pairs_rejects_bad_blocking(spark):
    pdf = pd.DataFrame({"doc_id": [1], "text": ["hello world"]})
    df = datagen.to_spark(spark, pdf)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup_text.simhash_pairs(df, max_hamming=4, blocks=4)
