"""Similarity search + multimodal plumbing tests."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from feast_spark.pipeline.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    ivf_topk,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _numpy_topk(pdf, qids, k=5):
    mat = np.stack(pdf["embedding"].map(np.asarray, na_action=None).values).astype(np.float64)
    ids = pdf["vec_id"].values
    norm = np.linalg.norm(mat, axis=1)
    out = {}
    for qid in qids:
        qi = np.where(ids == qid)[0][0]
        cos = mat @ mat[qi] / (norm * norm[qi])
        order = sorted(
            [(round(c, 6), -i) for i, c in zip(ids, cos) if i != qid], reverse=True
        )
        out[qid] = [(-i, c) for c, i in order[:k]]
    return out


def test_brute_force_topk_vs_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    got = brute_force_topk(queries, emb, k=5).toPandas()
    exp = _numpy_topk(emb.toPandas(), range(10), k=5)
    for qid in range(10):
        g = got[got.query_id == qid].sort_values("rank")
        assert [int(x) for x in g["neighbor_id"]] == [i for i, _ in exp[qid]]
        assert np.allclose(g["cosine"].values, [c for _, c in exp[qid]], atol=2e-6)


def test_lsh_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, emb, k=5).toPandas()
    approx = lsh_topk(queries, emb, k=5, n_planes=4, dim=64, multiprobe=2).toPandas()
    # recall@5 of the bucketed search vs exact (multiprobe=2 probes 11/16
    # buckets; measured 0.95 on this corpus vs 0.16 single-probe)
    hits = tot = 0
    for qid in range(20):
        e = set(exact[exact.query_id == qid]["neighbor_id"])
        a = set(approx[approx.query_id == qid]["neighbor_id"])
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.9
    # every returned neighbor shares the query's bucket → scores must
    # match the exact cosine for those pairs
    m = approx.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_a", "_e"))
    assert np.allclose(m["cosine_a"], m["cosine_e"], atol=1e-6)


def test_ivf_topk_runs(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_topk(queries, emb, k=5, n_cells=8, nprobe=2).toPandas()
    assert set(got["query_id"]) == set(range(10))
    assert (got["rank"] <= 5).all()


def _numpy_dup_pairs(emb, threshold):
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray).values).astype(np.float64)
    ids = pdf["vec_id"].values
    norm = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norm, norm)
    iu = np.triu_indices(len(ids), k=1)
    return {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i, j in zip(*iu)
        if round(sims[i, j], 6) >= threshold
    }


def test_embedding_dup_pairs_exact_path(spark, emb):
    # 0.8 pins the empty case (no pair of this corpus is that close);
    # 0.3 pins a non-empty pair set (920 pairs at sf0.001)
    sizes = []
    for threshold in (0.8, 0.3):
        got = embedding_dup_pairs(emb, threshold=threshold, exact=True).toPandas()
        exp = _numpy_dup_pairs(emb, threshold)
        assert len(got) == len(exp)
        assert set(zip(got["id_a"], got["id_b"])) == exp
        sizes.append(len(exp))
    assert sizes[0] == 0 < sizes[1]


def test_embedding_dup_pairs_lsh_path_within_exact(spark, emb):
    """The default LSH-blocked path finds a subset of the exact pairs,
    each with the exact path's cosine."""
    exact = embedding_dup_pairs(emb, threshold=0.3, exact=True).toPandas()
    lsh = embedding_dup_pairs(emb, threshold=0.3).toPandas()
    assert len(lsh) > 0
    m = lsh.merge(exact, on=["id_a", "id_b"], how="left", suffixes=("_l", "_e"))
    assert m["cosine_e"].notna().all()
    assert (m["cosine_l"] == m["cosine_e"]).all()


def test_ivf_topk_probing_every_cell_is_exact(spark, emb):
    """With ``nprobe == n_cells`` every corpus row is reranked, so IVF
    returns the brute-force top-k: same neighbors, ranks and cosines."""
    queries = emb.filter(F.col("vec_id") < 10)
    cols = ["query_id", "rank", "neighbor_id", "cosine"]
    exact = brute_force_topk(queries, emb, k=5).toPandas()[cols]
    ivf = ivf_topk(queries, emb, k=5, n_cells=8, nprobe=8).toPandas()[cols]
    exact = exact.sort_values(cols[:2]).reset_index(drop=True)
    ivf = ivf.sort_values(cols[:2]).reset_index(drop=True)
    assert len(exact) == 50
    assert exact.equals(ivf), (exact, ivf)


def test_multimodal_plumbing(spark):
    import pandas as pd

    from feast_spark.pipeline.multimodal import (
        attach_blob_metadata,
        decode_image,
        frame_sample,
        image_features,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(10)],
            "blob": [bytes([i] * (100 + i)) for i in range(10)],
        }
    )
    df = spark.createDataFrame(pdf)
    meta = attach_blob_metadata(df).toPandas()
    assert (meta["blob_bytes"] == [100 + i for i in range(10)]).all()
    assert meta["blob_sha"].nunique() == 10

    feats = image_features(df, decoder="fake").toPandas()
    assert len(feats) == 10
    assert all(len(v) == 16 for v in feats["features"])
    # deterministic across runs
    feats2 = image_features(df, decoder="fake").toPandas()
    m = feats.sort_values("doc_id").reset_index(drop=True)
    m2 = feats2.sort_values("doc_id").reset_index(drop=True)
    assert np.allclose(
        np.stack(m["features"].map(np.asarray)), np.stack(m2["features"].map(np.asarray))
    )

    frames = frame_sample(df, n_frames=3).toPandas()
    assert len(frames) == 30
    assert frames.groupby("doc_id")["frame_idx"].count().eq(3).all()

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", decoder="real")
