"""Iterative distributed algorithms for the curation pipeline.

* ``connected_components`` — min-label propagation WITH pointer
  doubling (label := label(label) each round, the shortcutting step of
  the classic hybrid CC algorithms) over an edge list. The dedup
  families emit near-duplicate PAIRS; deduplication needs GROUPS — the
  transitive closure. Each iteration is three hash joins + a
  min-aggregate; the doubling step halves remaining chain lengths, so
  convergence is O(log(diameter)) — 20 iterations cover diameters up to
  ~2^20, and near-dup graphs are overwhelmingly tiny cliques (3-5
  rounds in practice). If the loop ever exhausts ``max_iters`` with
  labels still changing it RAISES (never returns unconverged labels —
  a split component would let leakage_safe_split put near-duplicates
  on both sides of a train/test split).
* ``kmeans`` and ``assign_clusters`` — one nearest-centroid kernel,
  ``_nearest`` (exact squared distances rounded to 6 digits, the
  smaller cluster id winning a tie), run on each Arrow batch.
  ``assign_clusters`` is the E-step against fixed centroids, one
  vectorized UDF over the corpus. Each Lloyd iteration of ``kmeans`` is
  one scan whose pandas map emits per-partition ``(cluster, sum,
  count)`` rows the driver adds up (no join, no shuffle); its returned
  assignments are ``assign_clusters`` against its returned centroids.
  Deterministic seeded init (hash-ordered sample).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_spark.pipeline.similarity import _seeded_sample, _stack, _vector_udf


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Label every vertex with the minimum vertex id of its component.

    Returns (id, component). Plan per round: (1) propagate each vertex's
    current label across edges — ONE join + one min-aggregate over the
    self-loop-augmented edge list (the (u,u) row carries the vertex's
    own label through the same aggregate, so the old formulation's
    separate labels-side left join is gone: ``min`` over
    {own ∪ neighbors} IS ``least(own, neighbor_min)`` and the self-loop
    row doubles as the ``__old`` carrier for the convergence metric),
    (2) pointer-double: ``component := component(component)`` (one
    self-join) — the shortcutting step that makes long chains collapse
    in O(log diameter) rounds instead of O(diameter). Stops when no
    label changed; raises RuntimeError if ``max_iters`` is exhausted
    while labels are still changing.

    The per-round convergence check is FREE: the old label rides along
    and an ``observe()`` metric counts changes during the SAME action
    that materializes the round's localCheckpoint — one Spark job per
    round total, no separate join + count action (halves the job count
    vs the naive re-join formulation).
    """
    from pyspark.sql import Observation

    if max_iters < 1:
        # a skipped loop would return identity labels (fully split
        # components) without tripping the non-convergence guard
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    verts = sym.select(F.col("u").alias("id")).distinct()
    # self-loop-augmented edge list: one (u,u) row per vertex. The loop
    # row folds the vertex's OWN label into the neighbor min (so no
    # separate labels join is needed) and, tagged by v == u, carries the
    # pre-round label out of the aggregate for the convergence metric.
    sym_loops = sym.unionByName(
        verts.select(F.col("id").alias("u"), F.col("id").alias("v"))
    ).persist()
    labels = verts.withColumn("component", F.col("id")).persist()
    changed = 0
    for it in range(max_iters):
        propagated = (
            sym_loops.join(labels.withColumnRenamed("id", "v"), on="v")
            .groupBy("u")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("v") == F.col("u"), F.col("component"))
                ).alias("__old"),
            )
            .withColumnRenamed("u", "id")
        )
        # pointer doubling: follow the label one more hop. Labels are
        # vertex ids, so looking the label up in the label table jumps
        # component -> component(component), halving chain lengths.
        hop = propagated.select(
            F.col("id").alias("component"), F.col("component").alias("__c2")
        )
        # localCheckpoint (not persist): `propagated` references `labels`
        # twice, so without truncation the logical plan DOUBLES per round
        # — by round ~10 plan-tree handling alone OOMs the driver. The
        # checkpoint materializes the (small: one row per vertex) label
        # table and resets the lineage to constant size per round.
        obs = Observation(f"cc_round_{it}")
        checkpointed = (
            propagated.join(hop, on="component", how="left")
            .select(
                "id",
                F.coalesce("__c2", "component").alias("component"),
                "__old",
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("component") != F.col("__old"), F.lit(1))
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"])
        labels.unpersist()
        labels = checkpointed.select("id", "component")
        if changed == 0:
            break
    sym_loops.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            f"({changed} labels still changing) — components may be split; "
            "raise max_iters"
        )
    return labels


def dedup_groups_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign every document a dedup group id (component representative;
    singletons map to themselves) and a keep flag (True for the group
    representative = min id)."""
    comps = connected_components(pairs, src, dst)
    out = docs.select(F.col(id_col)).join(
        comps.withColumnRenamed("id", id_col), on=id_col, how="left"
    )
    out = out.withColumn("group_id", F.coalesce("component", F.col(id_col))).drop(
        "component"
    )
    return out.withColumn("keep", F.col(id_col) == F.col("group_id"))


def _nearest(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid: the exact squared distance
    per pair (no expansion identity — ``m·m − 2m·c + c·c`` loses ~1e-12
    and can flip the rounding), rounded to 6 digits, the smaller
    centroid index winning a tie (``argmin`` takes the first minimum).
    Any engine computing the same rounded distances — the DuckDB oracle
    of ``assign_clusters`` — picks the same centroid whatever its float
    summation order. One centroid at a time keeps the temporary at
    rows × dim, not rows × k × dim."""
    d = np.stack([((m - cj) ** 2).sum(axis=1) for cj in c], axis=1)
    return np.round(d, 6).argmin(axis=1).astype(np.int32)


def assign_clusters(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, cluster)``: each row's nearest of FIXED centroids (the
    k-means E-step as a standalone, cross-engine-deterministic
    operator), ``_nearest`` over each Arrow batch — one corpus scan, no
    shuffle."""
    c = np.asarray(centroids, dtype=np.float64)
    near = _vector_udf("struct<cluster: int>", c.shape[1], lambda m: {"cluster": _nearest(m, c)})
    return df.select(id_col, near(F.col(vec_col))["cluster"].alias("cluster"))


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd k-means. Returns (assignments df (id, cluster),
    final centroid list).

    Init: farthest-point picks over a hash-ordered seeded sample
    (k-means++-style spread without RNG; plain hash-min init splits
    true clusters when two seeds land in one — measured 0.90 vs 1.0
    purity on separated gaussians). Each iteration is one corpus scan
    and one Spark job, with no join and no shuffle: a pandas map labels
    each Arrow batch with ``_nearest`` and emits one ``(cluster, sum,
    count)`` row per cluster and partition, which the driver adds up.
    An empty cluster keeps its centroid; the loop stops early once no
    centroid moves. The assignments are ``assign_clusters`` against the
    returned centroids."""
    pool = _seeded_sample(df, vec_col, max(32 * k, 256), seed)
    chosen = [0]
    d2 = ((pool - pool[0]) ** 2).sum(1)
    while len(chosen) < min(k, len(pool)):
        chosen.append(int(d2.argmax()))
        d2 = np.minimum(d2, ((pool - pool[chosen[-1]]) ** 2).sum(1))
    cents = pool[chosen]
    vecs = df.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        c = cents

        def partial(batches):
            s, n = np.zeros_like(c), np.zeros(len(c), np.int64)
            for pdf in batches:
                if len(pdf):
                    m = _stack(pdf["v"])
                    hit = _nearest(m, c)[:, None] == np.arange(len(c))
                    s += hit.T @ m
                    n += hit.sum(axis=0)
            yield pd.DataFrame({"cluster": np.arange(len(c)), "s": list(s), "n": n})

        s, n = np.zeros_like(cents), np.zeros(len(cents))
        for r in vecs.mapInPandas(partial, "cluster int, s array<double>, n long").collect():
            s[r["cluster"]] += r["s"]
            n[r["cluster"]] += r["n"]
        new = np.where(n[:, None] > 0, s / np.maximum(n, 1)[:, None], cents)
        moved = not np.allclose(new, cents, atol=1e-9)
        cents = new
        if not moved:
            break
    return assign_clusters(df, cents, id_col, vec_col), [list(map(float, c)) for c in cents]
