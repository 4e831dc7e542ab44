"""Iterative connected components — the dedup-clustering step that turns
near-duplicate PAIRS into groups (keep one doc per component at corpus
scale), and the canonical "iterative algorithm" shape (driver loop over
distributed joins, convergence check, lineage truncation).

Algorithm: parallel label propagation to the minimum reachable id.
Each round: component[n] ← min(component[n], min over neighbors
component[neighbor]); converged when no label changes. Rounds are
O(diameter); every round is one shuffle join + aggregate. localCheckpoint
truncates the lineage so plans don't grow with iterations (the classic
iterative-Spark footgun).

Oracle: DuckDB WITH RECURSIVE reachability (min reachable node id) over
the same edges — a fully independent formulation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One representative iteration's physical plan per iterative operator,
# captured on round 0 of the most recent run. localCheckpoint truncates
# lineage, so the FINAL DataFrame's plan is a bare scan — without this
# hook the plan audit (scripts/plan_audit.py) could not see the join
# shape actually executed every round.
LAST_ITERATION_PLANS: dict[str, str] = {}


def _capture_iteration_plan(name: str, iteration: int, df: DataFrame) -> None:
    if iteration != 0:
        return
    try:
        LAST_ITERATION_PLANS[name] = (
            df._jdf.queryExecution().executedPlan().toString())
    except Exception:  # audit hook must never break the operator
        pass


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """(node, component) for the undirected graph given by edge pairs;
    component = min node id in the component.

    The convergence check is FUSED into the update pass: the update join
    already sees old and new label side by side, so a changed flag rides
    through an ``observe()`` aggregate and the eager localCheckpoint that
    materializes the round doubles as the action that collects it — one
    job per round, not update + compare (the round-3 finding).

    Labels travel one hop per round, so a component of diameter d needs
    d + 1 rounds; raises RuntimeError if ``max_iter`` rounds pass
    without a round that changes nothing."""
    from pyspark.sql import Observation

    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .distinct())
    sym = sym.localCheckpoint()
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    labels = labels.localCheckpoint()

    for i in range(max_iter):
        neighbor_min = (sym.join(labels, sym["b"] == labels["node"])
                        .groupBy(F.col("a").alias("node"))
                        .agg(F.min("component").alias("nmin")))
        new_comp = F.least(F.col("component"),
                           F.coalesce(F.col("nmin"), F.col("component")))
        updated = (labels.join(neighbor_min, "node", "left")
                   .select("node", new_comp.alias("component"),
                           # labels only ever decrease, so < is "changed"
                           (new_comp < F.col("component"))
                           .cast("long").alias("_changed")))
        obs = Observation()
        updated = (updated.observe(obs, F.sum("_changed").alias("changed"))
                   .drop("_changed"))
        _capture_iteration_plan("connected_components", i, updated)
        labels = updated.localCheckpoint()
        if not obs.get["changed"]:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within "
        f"max_iter={max_iter} rounds")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → clusters: (doc_id, cluster_id, cluster_size,
    keep) where keep marks the representative (min doc id)."""
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (comp.join(sizes, "component")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"),
                    "cluster_size",
                    (F.col("node") == F.col("component")).alias("keep")))


def transitive_closure_pairs(edges: DataFrame, src: str = "src",
                             dst: str = "dst",
                             max_iter: int = 32) -> DataFrame:
    """Set-semantics closure — (src, dst) only, no hop distance: the
    ``pred+`` lowering for path queries (paths.py), which discard
    distance anyway. Same path-doubling round structure as
    transitive_closure but the per-round merge is a 2-column DISTINCT
    instead of a 3-column min-aggregate — less shuffle data and a
    cheaper aggregate per round."""
    return transitive_closure(edges, src=src, dst=dst,
                              max_iter=max_iter, with_distance=False)


def _private_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` for planning and running an iterative loop:
    a clone, so it carries every SQL conf, temp view and UDF of the
    caller, with adaptive execution and columnar cache compression off.
    The SparkContext and CacheManager are shared, so a cache built here
    serves the caller; the caller's own conf is never written."""
    child = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    return child


def _in_session(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a DataFrame of ``session``."""
    jds = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jds, session)


def _round_width(rows: int, row_bytes: float, advisory: int,
                 floor: int, cap: int) -> int:
    """Shuffle width of a closure round over ``rows`` paths of
    ``row_bytes`` each: about ``advisory`` bytes per partition, never
    fewer than ``floor`` partitions nor more than ``cap``. Monotone in
    ``rows``, so the width only grows as the closure does."""
    return min(cap, max(floor, math.ceil(rows * row_bytes / advisory)))


def _cached_bytes(df: DataFrame) -> int:
    """In-memory size of ``df``'s materialized cache, as loaded."""
    cached = (df.sparkSession._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(df._jdf).get())
    return cached.cachedRepresentation().cacheBuilder() \
        .sizeInBytesStats().value()


def transitive_closure(edges: DataFrame, src: str = "src",
                       dst: str = "dst", max_iter: int = 32,
                       with_distance: bool = True) -> DataFrame:
    """Directed transitive closure with shortest hop distance — the
    relational property-path ``pred+`` operator: (src, dst, dist) for
    every reachable pair. Path-doubling iteration (paths ∘ paths, min
    merge): O(log diameter) rounds — and driver round-trips — instead
    of O(diameter); per-round cost is a closure self-join, which beats
    edge-at-a-time for long thin graphs and is bounded by the final
    closure size either way. Cycles are safe: a pair's shortest-hop
    distance is present from the round the pair first appears (both
    halves of the shortest path exist inductively), so the count
    fixpoint is also the distance fixpoint. Raises RuntimeError if
    ``max_iter`` rounds pass without reaching it.

    ``with_distance=False`` drops the dist column and merges with a
    plain DISTINCT (set semantics — see transitive_closure_pairs).

    Rounds persist src-partitioned CACHED DataFrames instead of
    localCheckpoints: an InMemoryRelation PRESERVES its output
    partitioning through Catalyst (a checkpoint's LogicalRDD does not),
    so each round's b-side join input (keyed on src) and the merge's
    groupBy clustering (src ⊆ {src, dst}) are satisfied for free —
    two exchanges per round instead of three, and the fixpoint count()
    doubles as the cache-materializing action (measured ~35% faster at
    sf0.1; BENCH/BASELINE.md §6).

    The loop is planned and run in a private child session
    (_private_session) with adaptive execution off. Each round is a
    cache built on the previous round's cache; under AQE a cached
    round holds its predecessor's adaptive plan (final AND initial)
    three times over, so the nested plan grew ~6x per round (round 4:
    157 k plan lines, 9.3 k InMemoryTableScans) and AQE re-walked it
    after every stage: round times 0.42 → 2.73 s at flat rows, and a
    driver OutOfMemoryError on a 64-node chain (7 rounds), where the
    plan string outgrew the heap. Non-adaptive rounds run in a flat
    0.47–0.58 s, and the cached round reports hashpartitioning(src),
    which is what makes the rounds partition-preserving. Round caches
    are read once, so the child also stores them uncompressed. Measured
    warm on 4 CPUs over 2,000 chains, every 33rd of them long: 16-turn
    tails (22.8 k pairs) 7.1–7.3 s → 2.7–3.8 s; 32-turn tails (45.7 k
    pairs) 21.8–23.5 s → 3.5–4.6 s.
    Rejected: an eager localCheckpoint per round (loses the
    partitioning, one more job per round, no CPU gain) and switching
    AQE off on the caller's session (a session-global race).

    Without AQE nothing coalesces a shuffle, so every stage of every
    round runs exactly as many tasks as its width; a width pinned at
    spark.sql.shuffle.partitions spent most of a small closure's CPU
    on per-task overhead. The width is therefore sized from the data
    (_round_width): the seed is spread over ``floor`` =
    min(cap, defaultParallelism) partitions, and each round over
    enough partitions to hold its rows at
    spark.sql.adaptive.advisoryPartitionSizeInBytes apiece, between
    ``floor`` and ``cap`` = spark.sql.shuffle.partitions. Row counts
    are the exact per-round fixpoint counts; the row size is measured
    once, on the loaded seed cache. Closure rows only grow, so the
    width only grows. Measured warm on 4 CPUs at 32 shuffle partitions
    (a 27.6 k-pair closure, 5 rounds): a property-path call ran 411 →
    75 tasks, and the closure's task CPU fell 3.2 → 1.2 s.
    Rejected: re-reading each round cache's Catalyst stats (right after
    the round's count() they still hold the plan estimate, so round 1
    got the cap, and the width changes added an exchange per round:
    slower than a constant width), and a fixed defaultParallelism
    (the same here, but not sized to the data: a large closure would
    get oversized partitions)."""
    caller = edges.sparkSession
    spark = _private_session(caller)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min(cap, spark.sparkContext.defaultParallelism)
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    name = ("transitive_closure" if with_distance
            else "transitive_closure_pairs")

    def _round(paths, i, width):
        cols = [F.col("a.src").alias("src"), F.col("b.dst").alias("dst")]
        if with_distance:
            cols.append((F.col("a.dist") + F.col("b.dist")).alias("dist"))
        comp = (paths.alias("a")
                .join(paths.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(*cols))
        merged = paths.unionByName(comp).repartition(width, "src")
        if with_distance:
            merged = merged.groupBy("src", "dst").agg(
                F.min("dist").alias("dist"))
        else:
            merged = merged.distinct()
        _capture_iteration_plan(name, i, merged)
        merged = merged.persist()
        return merged, merged.count()

    # truncate the upstream lineage ONCE (the input may be a heavy
    # extraction pipeline — without this, every round's cached plan
    # embeds it), then cache rounds with persist() so partitioning
    # survives. eager=False: the checkpoint materializes INSIDE the
    # first paths job instead of as its own full pass over the edges.
    e = (_in_session(edges, spark)
         .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .localCheckpoint(eager=False))
    if with_distance:
        e = e.withColumn("dist", F.lit(1))
    paths = (e.repartition(floor, "src")
             .dropDuplicates(["src", "dst"]).persist())
    n = paths.count()
    row_bytes = _cached_bytes(paths) / max(n, 1)
    # path doubling: composing paths with paths covers depth 2^k after
    # k rounds
    for i in range(max_iter):
        width = _round_width(n, row_bytes, advisory, floor, cap)
        merged, m = _round(paths, i, width)
        if m == n:
            merged.unpersist(False)
            return _in_session(paths, caller)
        paths.unpersist(False)
        paths, n = merged, m
    paths.unpersist(False)
    raise RuntimeError(
        f"{name} did not converge within max_iter={max_iter} rounds")


def transitive_closure_oracle(edges_sql: str) -> str:
    """Recursive-CTE twin with min-distance group at the end.

    The recursive arm is bounded by ``dist < count(edges)``: shortest
    paths are simple, so every true min distance is ≤ |E| and the bound
    never cuts a result row — but it guarantees termination on CYCLIC
    edge sets, where the unbounded UNION (which dedupes on
    (src,dst,dist)) would loop forever producing ever-larger dists."""
    return f"""
WITH RECURSIVE e AS ({edges_sql}),
reach(src, dst, dist) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.src, e.dst, r.dist + 1
  FROM reach r JOIN e ON e.src = r.dst
  WHERE r.dist < (SELECT count(*) FROM e)
)
SELECT src, dst, min(dist)::INT AS dist FROM reach GROUP BY 1, 2
""".strip()


def dedup_keep_list(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup pipeline's end artifact: one keep/drop row for EVERY
    document — clustered docs keep only their representative, singletons
    (never in any pair) keep themselves. A left join of the corpus
    against the (tiny) cluster table; at 100 TB the cluster side stays
    proportional to the duplicate population, not the corpus."""
    clusters = dedup_clusters(pairs)
    return (docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
                F.coalesce("cluster_size", F.lit(1).cast("long"))
                .alias("cluster_size"),
                F.coalesce("keep", F.lit(True)).alias("keep")))


def dedup_keep_list_oracle(pairs_sql: str, table: str = "documents") -> str:
    inner = dedup_clusters_oracle(pairs_sql)
    return f"""
WITH clusters AS ({inner})
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_size, 1)::BIGINT AS cluster_size,
       coalesce(c.keep, TRUE) AS keep
FROM {table} d LEFT JOIN clusters c USING (doc_id)
""".strip()


def dedup_clusters_oracle(pairs_sql: str) -> str:
    """Recursive-CTE oracle over the SAME pair set."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
),
comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT c.n AS doc_id, c.component AS cluster_id,
       s.cluster_size::BIGINT AS cluster_size,
       c.n = c.component AS keep
FROM comp c JOIN sizes s USING (component)
""".strip()
