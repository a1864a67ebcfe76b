"""Connected components for near-dup clustering (engine extension).

Pairwise near-dup verdicts (MinHash/SimHash/embedding pairs) only say "a
looks like b"; deduping a corpus needs the TRANSITIVE clusters — if a~b and
b~c, all three are one group and one representative survives. The reference
has no equivalent (its pandas dedup is exact-key only); every large-scale
training-data pipeline needs this step after candidate verification.

Algorithm: iterative min-label propagation — every node starts labeled with
itself; each round every node takes the min label among itself and its
neighbors; fixpoint = components labeled by their smallest member. Rounds
needed = graph diameter, and near-dup graphs are shallow (dup clusters are
dense and tiny), so a handful of rounds suffices. Each round is one
shuffle-on-node join + a map-side min-agg.

Loop mechanics that matter (measured at sf0.1):
* the edge input is cached ONCE before the loop — otherwise every round
  re-executes the upstream pipeline that produced the edges (for near-dup
  input that is the whole MinHash-LSH cascade);
* a round's labels are cache()d, not materialized: the round's convergence
  aggregate fills the lazy cache in its own job, where ``ckpt.materialize``
  would run one more job per round first (``neardup_clusters`` converges
  in one round at sf0.01 and sf0.1: 14 jobs against 15), and ``unpersist``
  frees the superseded round;
* convergence is detected from the monotone label sum (labels only ever
  decrease), one scalar agg per round instead of a diff join;
* lineage grows by one join per round and is bounded by ``max_iter``; for
  billion-edge general graphs prefer the alternating small-star/large-star
  variant (same join primitive, fewer rounds) and periodic reliable
  checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import materialize, release


class ConvergenceError(RuntimeError):
    """Raised when a bounded iterative algorithm hits ``max_iter`` without
    reaching its fixpoint. A dedicated type so callers can distinguish
    "needs more rounds / a different strategy" from unrelated runtime
    failures (Arrow, conf, codegen) that must surface, not trigger a
    silent re-run."""


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """→ (node, cluster_id): cluster_id = min node id reachable from node.

    Deterministic for any partitioning (min is order-insensitive). Raises if
    ``max_iter`` rounds do not reach the fixpoint — for near-dup clusters
    that means the candidate graph is pathological (e.g. unblocked pairs)
    and should be inspected, not silently mislabeled.

    Input normalization matches ``connected_components_star`` exactly:
    NULL-endpoint edges and self-loops are dropped, so a node whose every
    edge is junk does not appear in the output. Without this the two
    variants diverge on dirty input (propagation would emit a NULL node
    labeled by its neighbors, and self-loop-only singletons), and a
    caller switching variants would silently change the result shape.
    """
    e = (
        edges.select(src, dst)
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .filter(F.col(src) != F.col(dst))
        .cache()
    )
    e.count()
    # The per-round join probes sym on ``nbr``; pre-partitioning the cached
    # symmetric edge list on that key means each round shuffles only the
    # (small) label table — the edge side's exchange happens once, here.
    sym = (
        e.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .union(e.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .repartition("nbr")
        .cache()
    )
    # Round 0 fused into initialization: label(node) = min(node, min(nbrs))
    # comes straight off one aggregation over the symmetric edges — the
    # separate distinct-nodes shuffle (plus a whole propagation round) that
    # a label=node start would need collapses into this single groupBy.
    labels = (
        sym.groupBy("node")
        .agg(F.min(F.least(F.col("node"), F.col("nbr"))).alias("label"))
        .cache()
    )

    # Convergence metric: labels only ever decrease, so for NUMERIC ids a
    # monotone decimal sum detects change with one scalar agg per round.
    # For non-numeric ids (string doc keys/URLs are legal — min/least
    # compare lexicographically) a sum would crash under ANSI or, worse,
    # silently read None==None as instant convergence — fall back to the
    # exact diff-join check there.
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)

    def _sum(df):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    def _diff_changed(new, old) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
            > 0
        )

    prev_sum = _sum(labels) if numeric_ids else None
    if not numeric_ids:
        labels.count()  # materialize the cache

    try:
        for _ in range(max_iter):
            # min over {self} ∪ neighbors in ONE aggregation: route neighbor
            # labels through the edge join, union the node's own label in,
            # min-agg — 2 label-sized shuffles/round vs 3 for the
            # join→agg→left-join-back shape (measured ~30% faster rounds),
            # and no left-join NULL handling needed.
            nbr_labels = sym.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            ).select("node", "label")
            new_labels = (
                nbr_labels.union(labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .cache()
            )
            if numeric_ids:
                new_sum = _sum(new_labels)  # materializes
                converged = new_sum == prev_sum
                prev_sum = new_sum
            else:
                new_labels.count()  # materialize before the diff join
                converged = not _diff_changed(new_labels, labels)
            # the superseded round is no longer referenced — bound cache at 2
            labels.unpersist()
            labels = new_labels
            if converged:
                # break lineage through the cached chain before unpersisting
                final = materialize(labels)
                return final.select("node", F.col("label").alias("cluster_id"))
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} rounds — "
            "candidate graph diameter is unexpectedly large"
        )
    finally:
        e.unpersist()
        sym.unpersist()
        labels.unpersist()


# ---------------------------------------------------------------------------
# Alternating large-star / small-star connected components
# ---------------------------------------------------------------------------

def _sym(e: DataFrame) -> DataFrame:
    return e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )


def _min_over_neighborhood(directed: DataFrame) -> DataFrame:
    """(node, m): m = min(node ∪ its listed neighbors)."""
    return directed.groupBy("node").agg(
        F.min(F.least(F.col("node"), F.col("nbr"))).alias("m")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every LARGER neighbor of each node to the neighborhood min."""
    sym = _sym(e)
    m = _min_over_neighborhood(sym)
    # Keep the distinct: an A/B at sf0.1 showed dropping it is ~10% SLOWER
    # (duplicate edges inflate the small-star aggregate more than the
    # dedup shuffle costs), and it bounds intermediate growth.
    return (
        sym.join(m, "node")
        .filter(F.col("nbr") > F.col("node"))
        .select(F.col("nbr").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint, then connect each node and
    its smaller neighbors to their collective min."""
    oriented = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("nbr")
    )
    m = _min_over_neighborhood(oriented)
    joined = oriented.join(m, "node")
    return (
        joined.select(F.col("nbr").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("node").alias("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """→ (node, cluster_id) — same contract as ``connected_components`` but
    via alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm).

    Min-label propagation needs rounds ∝ component DIAMETER; star rounds
    contract paths doubly-exponentially (O(log²) worst case), so this is
    the variant for pathological high-diameter graphs (chains of near-dups,
    linked-page graphs) where propagation would crawl. Per round: two
    groupBy-min shuffles + two joins over the CURRENT edge set — which the
    star steps actively SHRINK toward one edge per non-root node, so later
    rounds get cheaper; convergence is an order-invariant (count, xor-hash)
    signature compare, one scalar agg per round, no diff join.

    Self-loops are dropped; nodes whose every edge is a self-loop don't
    appear (match the candidate-pair producers, which emit src < dst).
    """
    b = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .cache()
    )

    def sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).collect()[0]
        return (row["c"], row["x"])

    cur, cur_sig = b, sig(b)
    converged = False
    try:
        for _ in range(max_iter):
            # Each star references its input several times (sym union + the
            # min join), so lineage grows MULTIPLICATIVELY per round;
            # materializing each round cuts it, which cache() cannot (cached
            # plans keep their full logical tree and round ~7 explodes
            # Spark's plan bookkeeping). The superseded round is released;
            # the returned DataFrame reads the final one.
            nxt = materialize(_small_star(_large_star(cur)))
            if cur is not b:
                release(cur)
            cur = nxt
            new_sig = sig(cur)
            if new_sig == cur_sig:
                converged = True
                return (
                    _sym(cur)
                    .groupBy("node")
                    .agg(F.min(F.least(F.col("node"), F.col("nbr"))).alias("cluster_id"))
                )
            cur_sig = new_sig
        raise ConvergenceError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    finally:
        b.unpersist()
        if not converged and cur is not b:
            # no DataFrame escapes on the error path (ConvergenceError or a
            # mid-round failure), and a caller may catch ConvergenceError
            # and keep the session running
            release(cur)
