"""Iterative ML on the engine's vector primitives: distributed k-means.

The catalog query ``kmeans_lloyd_step`` pins ONE exact Lloyd iteration
against a DuckDB oracle; this module is the full trainer loop around the
same step. Engine extension (the reference has no clustering; its embedding
work stops at pgvector top-k — ``generate_embeddings.py``).

Scale design — the standard distributed k-means (what Spark MLlib does,
re-expressed on the DataFrame API):
* centroids live on the DRIVER as a k×dim float list (k ≤ thousands — tiny)
  and enter each round as broadcast literals, so every round's plan is a
  CONSTANT-SIZE expression over the base table: no lineage growth, no
  localCheckpoint needed (contrast ``graph.connected_components_star``,
  whose per-round state is a distributed edge set).
* assignment is map-side: squared-L2 to each centroid as an ascending-index
  fold (bit-stable), argmin via array_min over (dist, cid) structs with cid
  tiebreak.
* the update is ONE keyed aggregate per round: posexplode the assigned
  vectors, decimal-exact per-(cluster, dim) means — partition-invariant, so
  the whole trainer is deterministic under any repartitioning.
* per round: 1 shuffle (the update agg) + 1 small collect (k×dim means) + 1
  scalar agg (inertia). Rounds are data-independent of each other's plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import lit_doubles


def _sq_l2(vec_col, centroid: list[float]):
    """Squared L2 between an array<double> column and a literal centroid,
    folded in ascending index order (same accumulation contract as the
    cosine/oracle fold in plans/queries.py)."""
    lit_c = lit_doubles(centroid)
    return F.aggregate(
        F.zip_with(vec_col, lit_c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add (cluster, dist): argmin of squared-L2 over the literal centroids,
    ties broken by the lower cluster id. A corrupt vector — NULL, NULL
    element, or a length that doesn't match the centroids — gets NULL
    cluster/dist: its distances are all-or-partially NULL, and the
    struct-min would otherwise 'assign' it to whichever centroid the NULL
    ordering happens to favor."""
    dim = len(centroids[0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pairs = F.array(
        *[
            F.struct(_sq_l2(v, c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_min(pairs)
    valid = (
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & (F.size(F.col(vec_col)) == F.lit(dim))
    )
    return df.withColumn("cluster", F.when(valid, best["cid"])).withColumn(
        "dist", F.when(valid, best["d"])
    )


def kmeans(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]], list[float]]:
    """Lloyd's k-means over an embedding column: at most ``max_iter``
    rounds, stopping early once no centroid coordinate moves by 1e-6.

    Deterministic end to end: seeds are the k rows with the LOWEST ids,
    assignment ties break on cluster id, and the update means fold through
    DECIMAL, so the result is identical under any input partitioning.
    Empty clusters keep their previous centroid (standard fallback).

    Returns ``(assignments, centroids, inertia_history)`` where
    ``assignments`` is ``df`` plus (cluster, dist), ``centroids`` is the
    final k×dim list, and ``inertia_history`` has one total-squared-distance
    entry per iteration (non-increasing by Lloyd's monotonicity).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # NULL contract: rows with a NULL vector or any NULL element are
    # excluded from training (standard trainer behavior). Without this,
    # a NULL among the k lowest-id seeds crashes seed extraction, and a
    # NULL element biases its (cluster, dim) mean — sum() skips NULLs
    # while count(1) counts the row.
    df = df.filter(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    # Ragged contract: the canonical dim is the lowest-id valid row's
    # length; wrong-length vectors are excluded like other corrupt shapes
    # (a ragged row would get NULL distances and, un-gated, its shorter/
    # longer explode would corrupt the per-(cluster, dim) means and crash
    # the centroid update on a NULL cluster id).
    dim_row = (
        df.select(F.col(id_col), F.size(F.col(vec_col)).alias("d"))
        .orderBy(id_col)
        .limit(1)
        .collect()
    )
    if not dim_row:
        raise ValueError("no valid vectors to train on")
    df = df.filter(F.size(F.col(vec_col)) == int(dim_row[0]["d"]))
    seed_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds row count {len(seed_rows)}")
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]
    history: list[float] = []

    for _ in range(max_iter):
        assigned = _assign(df, vec_col, centroids)
        ex = assigned.select(
            "cluster", "dist", F.posexplode(vec_col).alias("dim", "x")
        )
        stats = (
            ex.groupBy("cluster", "dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (
                    F.sum(F.col("x").cast("double").cast("decimal(27,12)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("mean"),
                # within one (cluster, dim) group each vector appears once,
                # so sum(dist) is already the cluster's total distance; the
                # dim==0 slice below reads it exactly once per cluster. The
                # sum folds through DECIMAL so inertia, like the means, is
                # partition-invariant (a double sum would drift by ulps
                # with partial-aggregation order)
                F.sum(F.col("dist").cast("decimal(30,10)"))
                .cast("double")
                .alias("dist_total"),
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty-cluster fallback
        per_cluster: dict[int, float] = {}
        for r in stats:
            new_centroids[r["cluster"]][r["dim"]] = r["mean"]
            if r["dim"] == 0:
                per_cluster[r["cluster"]] = r["dist_total"]
        # accumulate in cluster order — collect() row order varies with
        # partitioning and float addition is not associative
        history.append(sum(per_cluster[c] for c in sorted(per_cluster)))
        moved = max(
            abs(a - b)
            for nc, oc in zip(new_centroids, centroids)
            for a, b in zip(nc, oc)
        )
        centroids = new_centroids
        if moved < 1e-6:
            break

    return _assign(df, vec_col, centroids), centroids, history
