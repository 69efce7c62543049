"""Iterative algorithms: connected components (pairs -> dedup groups)
and distributed k-means (cluster purity vs embedding labels)."""

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from feast_spark.pipeline.graph import (
    assign_clusters,
    connected_components,
    dedup_groups_from_pairs,
    kmeans,
)

SF = "/root/testdata/sf0.001"


def test_connected_components_chains(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    edges = spark.createDataFrame(
        pd.DataFrame(
            {"id_a": [1, 2, 3, 10, 20, 20, 21], "id_b": [2, 3, 4, 11, 21, 22, 22]}
        )
    )
    got = connected_components(edges).toPandas().set_index("id")["component"]
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == got[22] == 20


def test_dedup_groups_from_pairs(spark):
    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0, 1, 5], "id_b": [1, 2, 6]}))
    got = (
        dedup_groups_from_pairs(docs, pairs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got["group_id"].tolist() == [0, 0, 0, 3, 4, 5, 5, 7]
    assert got["keep"].tolist() == [True, False, False, True, True, True, False, True]


def _gaussians(spark):
    """500 rows around 5 well-separated centers, ``true_c`` the center."""
    rng = np.random.default_rng(5)
    centers = rng.normal(0, 10, size=(5, 16))
    rows = []
    for i in range(500):
        c = i % 5
        rows.append((i, (centers[c] + rng.normal(0, 0.5, 16)).tolist(), c))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding", "true_c"]))


def test_kmeans_recovers_clusters(spark):
    # the provided embeddings table is label-unstructured (measured:
    # same-label pairs are no more similar than random), so test
    # cluster RECOVERY on properly separated synthetic gaussians
    emb = _gaussians(spark)
    assign, cents = kmeans(emb, k=5, iters=10)
    got = assign.join(emb.select("vec_id", "true_c"), on="vec_id").toPandas()
    purity = (
        got.groupby("cluster")["true_c"]
        .agg(lambda s: s.value_counts().iloc[0] / len(s))
        .mean()
    )
    assert purity > 0.95, purity
    # determinism
    _, cents2 = kmeans(emb, k=5, iters=10)
    assert np.allclose(np.array(cents), np.array(cents2))


def test_kmeans_assignments_match_returned_centroids(spark):
    """Stopped before convergence, the assignments are still the
    nearest-centroid labels of the centroids it returns."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assign, cents = kmeans(emb, k=8, iters=2)
    got = assign.toPandas().sort_values("vec_id").reset_index(drop=True)
    exp = assign_clusters(emb, cents).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert len(got) == emb.count()
    assert got["vec_id"].tolist() == exp["vec_id"].tolist()
    assert got["cluster"].tolist() == exp["cluster"].tolist()


def test_kmeans_one_job_per_iteration(spark):
    """The init sample is one job and each Lloyd iteration one more,
    each a single stage: no join and no shuffle in the iteration plan.
    Two iterations never converge (the first moves every centroid off
    its sample point), so both run."""
    emb = _gaussians(spark)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    kmeans(emb, k=5, iters=2)
    jobs = set(tracker.getJobIdsForGroup(None) or []) - before
    assert len(jobs) == 1 + 2, jobs
    assert all(len(tracker.getJobInfo(j).stageIds) == 1 for j in jobs)


def test_connected_components_long_path_pointer_doubling(spark):
    """A 60-node path has diameter 59 — plain 1-hop propagation needs ~59
    rounds; pointer doubling must converge within 10."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    comps = connected_components(edges, max_iters=10).toPandas()
    assert (comps["component"] == 0).all()
    assert len(comps) == 60


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=1)


def test_assign_clusters_matches_brute_force(spark):
    import numpy as np

    from feast_spark.pipeline.graph import assign_clusters

    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8)
    cents = rng.randn(4, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    got = assign_clusters(df, [list(map(float, c)) for c in cents]).toPandas()
    got = got.sort_values("vec_id").reset_index(drop=True)
    d = np.round(((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(2), 6)
    assert got["cluster"].tolist() == d.argmin(1).astype(int).tolist()
