"""Connected components + group-representative selection.

The reference labels components on the driver with
``scipy.sparse.csgraph.connected_components``
(/root/reference/string_grouper/string_grouper.py:851-904).  Here the
canonical edge set is built in Spark and fetched by one bounded action: up
to ``_DRIVER_MAX_EDGES`` edges it is labelled on the driver by a numpy
hook-and-compress kernel (``_driver_components``; scipy is not a
dependency).  A larger edge set runs the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as DataFrame transforms in a driver loop: O(log n) rounds, each
``localCheckpoint``-ed to cut lineage and released once the next round is
materialized (at cluster scale, swap in a table-backed checkpoint via
checkpoint.StageCheckpointer).

Component label = minimum node id in the component on both paths —
deterministic, so group ids are stable across partitionings, cluster sizes
and the path taken.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..config import GROUP_REP_CENTROID, MatchConfig
from .similarity import LEFT, RIGHT, SIM

NODE = "node"
COMPONENT = "component"

# canonical edge sets up to this size are labelled on the driver: 2,000,000
# int64 pairs are 32 MB there, and one collect costs less than the job
# scheduling of even one star round.  Larger sets run the star rounds.
_DRIVER_MAX_EDGES = 2_000_000


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """(u,v) multiset -> distinct unordered pairs as (hi=a > lo=b), no loops."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("a"), F.least(u, v).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the canonical edge set is a union of DISJOINT min-rooted
    stars — the large/small-star fixed point the label extraction assumes.

    Condition on canonical (a > b) edges: (1) no node appears on both the
    member ('a') and center ('b') side, and (2) every member has exactly one
    center.  Sufficiency: on such a graph one more large-star + small-star
    round provably re-emits the same edges, so iterating further is pure
    cost.  This replaces the previous fingerprint-equality stop, which had
    to RUN the extra round to observe that nothing changed — one whole
    round (≈5 exchanges + a checkpoint materialization) saved per
    connected_components call, and a plain-wrong-labels guard: a
    hypothetical non-star fixed point now raises at ``max_iterations``
    instead of silently passing fingerprint equality into the star-shaped
    label extraction.  Cost: one count-aggregation + limit-1 job over the
    (checkpointed) edge set per round.

    Invariant the round loop relies on: this check scans EVERY row of
    ``edges``.  Its aggregation's map stage is the job that materializes each
    round's lazy checkpoint before ``_large_star`` and ``_small_star`` read it
    twice.  A cheaper check that reads only part of the edges (a pre-filter
    under the limit, a sample, skipping a round) would let those two reads
    compute the unmaterialized partitions twice, re-running the round.
    ``test_connected_components_reads_input_edges_once`` counts the input
    side of this: each input edge row is evaluated once per call.
    """
    # ONE scan of the edge set: explode each edge into its two (node, side)
    # rows inside the same task.  The two-legged union formulation read the
    # edges twice — and with the lazy per-round checkpoints both legs can
    # race to compute a not-yet-cached partition, paying the reduce-side
    # canonicalization twice on the round's first (materializing) job.
    sides = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("n"), F.lit(1).alias("ia")),
                F.struct(F.col("b").alias("n"), F.lit(0).alias("ia")),
            )
        ).alias("s")
    ).select("s.n", "s.ia")
    viol = (
        sides.groupBy("n")
        .agg(F.sum("ia").alias("na"), F.sum(1 - F.col("ia")).alias("nb"))
        .where((F.col("na") > 0) & ((F.col("nb") > 0) | (F.col("na") > 1)))
    )
    return viol.isEmpty()


def _release(checkpointed: DataFrame) -> None:
    """Drop a ``localCheckpoint``-ed frame's blocks now instead of at the
    ContextCleaner's next GC pass.  Only for a frame no live plan reads."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to min(Γ(u) ∪ {u})."""
    # symmetrize in one scan (explode, not self-union — see _is_star_forest)
    g = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    m = g.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    bigger = g.where(F.col("v") > F.col("u")).join(m, "u")
    return _canonical_undirected(bigger.select(F.col("v").alias("u"), F.col("m").alias("v")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient high->low; connect all smaller neighbors (and self) to the min."""
    m = edges.groupBy("a").agg(F.min("b").alias("m"))
    j = edges.join(m, "a")
    to_min = j.select(F.col("b").alias("u"), F.col("m").alias("v"))
    center = m.select(F.col("a").alias("u"), F.col("m").alias("v"))
    return _canonical_undirected(to_min.unionAll(center))


def _driver_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Edge endpoint arrays -> (distinct ids ascending, component = min id).

    Hook-and-compress on dense indices (``np.unique``'s inverse).  Hook:
    every edge whose endpoints have different roots hooks the larger root
    under the smaller one (``np.minimum.at``: a root hooked by several edges
    takes the smallest).  Compress: pointer jumping until every node points
    at its root.  Parents only ever point to smaller indices, so each root is
    its tree's minimum index, i.e. its minimum id.  A tree with a crossing
    edge hooks, is hooked into, or — when every neighbour hooked under a
    smaller root elsewhere — sees that smaller root and hooks next round; so
    the trees of a component at least halve every two rounds: O(log n)
    rounds, on chains and hubs alike.  An edge inside one tree never crosses
    again and is dropped.
    """
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = np.arange(len(ids))
    u, v = inv[: len(a)], inv[len(a):]
    while len(u):
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        u, v, ru, rv = u[cross], v[cross], ru[cross], rv[cross]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return ids, ids[parent]


def connected_components(
    edges: DataFrame,
    nodes: Optional[DataFrame] = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Edge list (any two numeric columns = endpoints) -> (node, component).

    ``nodes``: optional 1-column DataFrame of all node ids; isolated nodes
    become singleton components.  Component id = min node id in component;
    both columns keep the endpoint type.  ``max_iterations`` bounds the star
    rounds, which run only above ``_DRIVER_MAX_EDGES`` canonical edges.
    """
    ec = edges.columns
    u, v = F.col(ec[0]), F.col(ec[1])
    # LAZY localCheckpoint: the first action over it (the bounded fetch
    # below) materializes it as a side effect, so the upstream edge plan is
    # evaluated once whichever path follows.  An eager checkpoint would run
    # a SEPARATE materialization pass first.  Self-loops are dropped above
    # the checkpoint, not below: a filter on the greatest/least projection is
    # pushed beneath it and evaluates the endpoint expressions a second time.
    ckpt = (
        edges.select(F.greatest(u, v).alias("a"), F.least(u, v).alias("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    cur = ckpt.where(F.col("a") != F.col("b"))
    # one action both bounds and fetches the edge set.  Its local limit keeps
    # at most _DRIVER_MAX_EDGES + 1 rows of each partition for the
    # single-partition exchange, so on a large graph it moves up to that many
    # rows per partition before the star rounds start.
    head = cur.limit(_DRIVER_MAX_EDGES + 1).toArrow()
    if head.num_rows <= _DRIVER_MAX_EDGES:
        _release(ckpt)
        ids, comp = _driver_components(
            head.column("a").to_numpy(), head.column("b").to_numpy()
        )
        # explicit schema: an empty edge set has no rows to infer one from
        dtype = ckpt.schema["a"].dataType
        labels = edges.sparkSession.createDataFrame(
            pa.table({NODE: ids, COMPONENT: comp}),
            StructType([StructField(NODE, dtype), StructField(COMPONENT, dtype)]),
        )
    else:
        labels = _star_labels(cur, ckpt, max_iterations)
    if nodes is not None:
        nc = nodes.columns[0]
        singletons = nodes.select(F.col(nc).alias(NODE)).join(
            labels, NODE, "left_anti"
        ).withColumn(COMPONENT, F.col(NODE))
        labels = labels.unionAll(singletons)
    return labels


def _star_labels(cur: DataFrame, ckpt: DataFrame, max_iterations: int) -> DataFrame:
    """Large/small-star rounds from the canonical edge set ``cur``, a view of
    the materialized checkpoint ``ckpt`` -> (node, component) for every node
    on an edge."""
    # ``ckpt`` was materialized by the bounded fetch; each round after it is
    # checkpointed lazily and materialized by the star-forest check that
    # runs right after (see _is_star_forest).  The loop can only exit
    # through a check on the final ``cur`` (or raise), so the returned label
    # plan always reads fully-materialized checkpoint blocks — callers may
    # release upstream caches as soon as connected_components returns.

    # converged the moment the edges are a disjoint star forest (checked
    # BEFORE each round too: an already-star input pays no round at all);
    # see _is_star_forest for why this saves one full round per call
    done = None
    for _ in range(max_iterations + 1):
        star = _is_star_forest(cur)
        if done is not None:
            # the check just materialized cur, so the round it was built
            # from is dead: only the final round outlives the call
            _release(done)
        if star:
            break
        done = ckpt
        cur = ckpt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")

    # Fixed point is a union of stars: 'a' (hi) members point at 'b' = center.
    # A center can appear on the 'b' side only.
    # one scan: each star edge yields its member row and its center row
    # (explode, not a two-legged self-union — see _is_star_forest)
    return (
        cur.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias(NODE), F.col("b").alias(COMPONENT)),
                    F.struct(F.col("b").alias(NODE), F.col("b").alias(COMPONENT)),
                )
            ).alias("m")
        )
        .select(f"m.{NODE}", f"m.{COMPONENT}")
        .groupBy(NODE)
        .agg(F.min(COMPONENT).alias(COMPONENT))
    )


def group_labels(
    edges: DataFrame,
    nodes: DataFrame,
    cfg: MatchConfig,
) -> DataFrame:
    """Reference ``_deduplicate`` semantics (SG:851-904) on an edge DataFrame.

    ``edges``: (master_side, dupe_side, similarity) edge MULTISET as produced
    by the match pipeline after symmetrize (includes the diagonal).  Duplicate
    entries contribute repeatedly to the centroid weight — exactly like the
    reference's csr construction which sums duplicate (i,j) entries.

    Returns (node, group_rep) where group_rep is the representative's row id:
      * 'first'    -> smallest row id in the component (pandas transform('first')
                      over position-ordered rows, SG:872-873)
      * 'centroid' -> row with the largest similarity row-sum (SG:875-881);
                      ties -> smallest row id (pandas idxmax keeps first max).

    'centroid' reads the edges twice (CC input, then the weights), so it
    materializes them ONCE first with an eager ``localCheckpoint`` and both
    consumers read those blocks: a lazy upstream plan (gram join, top-n,
    symmetry repair) would otherwise run once per consumer.  'first' reads
    the edges only once and stays lazy.
    """
    if cfg.group_rep == GROUP_REP_CENTROID:
        edges = edges.localCheckpoint(eager=True)
    simple = edges.where(F.col(LEFT) != F.col(RIGHT)).select(
        F.col(LEFT).alias("u"), F.col(RIGHT).alias("v")
    )
    comp = connected_components(simple, nodes)

    if cfg.group_rep == GROUP_REP_CENTROID:
        weights = edges.groupBy(LEFT).agg(F.sum(SIM).alias("_weight")).select(
            F.col(LEFT).alias(NODE), "_weight"
        )
        ranked = comp.join(weights, NODE, "left").withColumn(
            "_weight", F.coalesce(F.col("_weight"), F.lit(0.0))
        )
        # argmax weight, tie -> min node, as one MIN-of-struct: negating the
        # (non-negative) weight makes lexicographic struct-min equal the
        # row_number()-over-(weight desc, node asc) pick
        pick = F.min(F.struct((-F.col("_weight")).alias("_o"), F.col(NODE).alias("_n")))
        # groupBy + join instead of a row_number window over COMPONENT: a
        # boilerplate MEGACOMPONENT would land in one window sort task, while
        # the aggregation combines map-side and AQE can skew-split the join
        reps = (
            ranked.groupBy(COMPONENT)
            .agg(pick.alias("_p"))
            .select(COMPONENT, F.col("_p._n").alias("group_rep"))
        )
        return comp.join(reps, COMPONENT).select(NODE, "group_rep")
    # 'first' rep = smallest node id in the component, which IS the
    # component label (connected_components' min-id invariant) — no
    # aggregation or join needed at all
    return comp.select(NODE, F.col(COMPONENT).alias("group_rep"))
