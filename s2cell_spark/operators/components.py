"""Distributed connected components — dup-cluster resolution (ENGINE).

Near-duplicate detection (dedup.py: exact Jaccard / MinHash-LSH / SimHash
/ SRP) emits PAIRS; production dedup needs CLUSTERS — one canonical doc
per transitively-connected group. That closure is the one step in the
pipeline no single join can express.

Algorithm: the alternating large-star / small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
literature, cf. PAPERS.md), which converges in O(log n) rounds on ANY
graph shape, not O(diameter) like naive label propagation — at 10^12
docs a chain of pairwise near-dups (common with templated boilerplate)
would make propagation unbounded while star-alternation stays ~40 rounds
even at 2^40 nodes. Each round is two groupBy-min + join passes — plain
shuffles, no driver-side graph. Per-round ``localCheckpoint`` truncates
the iterative plan lineage (otherwise Catalyst re-analyzes a
geometrically growing tree); convergence is detected by an exact
(count, decimal-sum-of-xxhash64) fingerprint of the canonical edge set —
decimal sum so ANSI mode can't overflow.

Output: (node, component) with component = MIN node id of the component,
for every node incident to an edge; singletons never enter the edge set
and are handled by the caller's left join (see dup_clusters query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(e: DataFrame) -> DataFrame:
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cast(xxhash64(u, v) AS DECIMAL(38,0)))").alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(node, component) for all nodes of `edges`; component = min node.

    Near-dup edge sets are usually TINY next to the corpus (pairs, not
    pages), but each star round is ~6 shuffles — at the session's default
    partition count the per-round fixed cost (task launch × partitions ×
    shuffles × rounds) dwarfs the actual work. The shuffle width is
    therefore scoped to the measured edge count (~1 partition per 100k
    edges, capped at the session default) by swapping the session conf
    around the loop and restoring it afterwards; every action of this
    operator, including the final label materialization, runs inside the
    guarded block (the function returns a localCheckpoint). Benched
    13.9 s → see BENCH/MICRO.md on the 47-query suite's worst entry.
    Callers sharing the session with CONCURRENT actions should pass
    ``shuffle_partitions`` explicitly instead.
    """
    spark = edges.sparkSession
    e = _canon(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    prev = _fingerprint(e)
    if prev[0] == 0:
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is None:
        shuffle_partitions = max(2, min(int(old_parts), int(prev[0] // 100_000) + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return _star_rounds(e, prev, max_rounds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over the undirected edge set."""
    from s2cell_spark.plans.joins import broadcast_if_small

    # large-star: every neighbor v > u links to m = min(N(u) ∪ {u})
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    e = (
        sym.join(broadcast_if_small(m), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star: orient u >= v; every smaller neighbor (and u) links
    # to the neighborhood min
    o = _canon(e)
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(broadcast_if_small(mins), "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_rounds(e: DataFrame, prev: tuple, max_rounds: int) -> DataFrame:
    for _ in range(max_rounds):
        # checkpoint every round: a round reads `e` on both sides of its
        # first join, so an unmaterialized `e` would drag the previous
        # round's plan into this one. A converged graph is a fixed point, so an
        # unchanged fingerprint ends the loop one round after convergence.
        e = _star_round(e).localCheckpoint(eager=True)
        cur = _fingerprint(_canon(e))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_rounds} rounds")

    # converged: e is a set of min-rooted stars (u -> root); materialize
    # inside the caller's scoped-conf block
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
        .localCheckpoint(eager=True)
    )
