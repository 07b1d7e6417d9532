"""Distributed hierarchy flattening by pointer jumping (path doubling).

Multilevel hierarchies — org charts, BOM part explosions, category
trees — are normally flattened depth-by-depth: Spark 4's WITH RECURSIVE
(see plans/relational.py::sql_recursive_hierarchy for the native form)
and any hand-rolled loop both execute one LEVEL per round, O(D) shuffle
rounds for a depth-D tree. Pointer jumping halves the remaining distance
every round instead: each node's ancestor pointer is advanced to its
ancestor's ancestor, so a depth-D forest converges in ceil(log2 D)
rounds. At 100 TB a random-recursive-tree-shaped hierarchy over 2e11
nodes has expected depth ~e*ln(n) ≈ 71, i.e. 7 self-join rounds instead
of 71 — and each round is an ordinary shuffled equi-join that AQE can
re-plan.

The same doubling carries path aggregates along for free: ``depth``
accumulates additively and ``units`` (per-edge multiplicities, the BOM
quantity rollup) multiplicatively, preserving the invariant that a row
(node, anc, depth, units) always describes the path segment node→anc.

Reference tie-in: the reference (dkwkehgud77/kafka-avro-pipeline-java)
has no hierarchical queries — this is north-star surface for the
warehouse side of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pointer_jump(
    edges: DataFrame,
    roots: DataFrame,
    *,
    node: str = "node",
    parent: str = "par",
    units: str | None = None,
    max_rounds: int = 12,
) -> DataFrame:
    """Flatten a forest to (node, root, depth[, units]) rows.

    ``edges`` holds one row per non-root node: (node, parent[, units]),
    where every parent id must itself appear as a node (in ``edges`` or
    ``roots``) — dangling parents would drop their subtree at the first
    jump. ``roots`` holds one id per tree root in a column named
    ``node``. ``units``, when given, names a per-edge multiplicity
    column; the result carries the PRODUCT of multiplicities along the
    node→root path (kept in LongType — callers with q>2 or depth beyond
    ~60 should pre-cast to decimal(38,0)).

    Each round advances every pointer to its ancestor's ancestor via one
    self-equi-join, then localCheckpoints (eager: materialization doubles
    as the round's single action) so the next round's plan doesn't
    re-derive all previous rounds. Convergence detection rides the SAME
    action as the jump (r13, guide §1/§2.4): an ``Observation`` on the
    joined rows counts pointers whose ancestor was still a non-root —
    locally decidable inside the join because an ancestor is a root iff
    its own hop row is a self-map (roots map to themselves; a non-root's
    pointer strictly ascends, so ``j_anc == j_node`` ⟺ root). The
    previous form ran a SECOND driver action per round (left-anti join
    against the root set + count) — 2 jobs and an extra broadcast join
    per round, measured at ~0.3-0.5 s/round across the four hierarchy
    queries. A converged state makes the next jump an exact identity
    (every pointer self-maps with depth 0 / units 1), so looping until
    the observed pending count is zero computes the same fixpoint.
    """
    from pyspark.sql import Observation
    unit_col = F.col(units).cast("long") if units else F.lit(1).cast("long")
    state = (
        roots.select(
            F.col(node).alias("node"),
            F.col(node).alias("anc"),
            F.lit(0).alias("depth"),
            F.lit(1).cast("long").alias("units"),
        )
        .unionByName(
            edges.select(
                F.col(node).alias("node"),
                F.col(parent).alias("anc"),
                F.lit(1).alias("depth"),
                unit_col.alias("units"),
            )
        )
        .localCheckpoint(eager=True)
    )
    root_set = roots.select(F.col(node).alias("r_node"))
    pending = None
    for _ in range(max_rounds):
        hop = state.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("depth").alias("j_depth"),
            F.col("units").alias("j_units"),
        )
        # Root rows self-map with depth 0 / units 1, so converged rows are
        # fixed points of the jump; inner join is total because every anc
        # id is a node row by the documented contract. The observation
        # counts rows whose ancestor was NOT yet a root at jump time
        # (j_anc != j_node ⟺ anc is a non-root) and fires on the eager
        # checkpoint's materialization — no second action.
        obs = Observation()
        state = (
            state.join(hop, state["anc"] == F.col("j_node"), "inner")
            .observe(
                obs,
                F.sum(
                    F.when(F.col("j_anc") != F.col("j_node"), 1).otherwise(0)
                ).alias("pending"),
            )
            .select(
                "node",
                F.col("j_anc").alias("anc"),
                (F.col("depth") + F.col("j_depth")).alias("depth"),
                (F.col("units") * F.col("j_units")).alias("units"),
            )
            .localCheckpoint(eager=True)
        )
        pending = obs.get["pending"]
        if not pending:
            break
    else:
        # the last observation counted pending pointers BEFORE the final
        # jump, which may itself have converged the forest — re-check
        # against the root set before raising (each jump doubles pointer
        # reach, so max_rounds jumps cover depth ≤ 2^max_rounds). With
        # max_rounds <= 0 no observation ever ran (pending is None) and
        # the state is the raw initial pointers — treat "unknown" like
        # "pending" and let the anti-join decide (r14, ADVICE r13: the
        # old `if pending and ...` silently returned the unconverged
        # initial state in that case).
        if (pending is None or pending) and state.join(
            root_set, state["anc"] == F.col("r_node"), "left_anti"
        ).count():
            raise RuntimeError(
                f"pointer_jump did not converge in {max_rounds} jumps "
                f"(depth > 2^{max_rounds}); raise max_rounds"
            )
    out = state.withColumnRenamed("anc", "root")
    if units is None:
        out = out.drop("units")
    return out


def part_forest(spark: SparkSession, part: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic synthetic forest over the part table (shared by the
    hierarchy plans and their DuckDB oracles): nodes with p_partkey < 8
    are roots; every other node's parent is ``GREATEST(
    portable_hash64(key) % key, MIN(p_partkey))`` — strictly smaller than
    the node, so the graph is acyclic by construction, and shaped like a
    random recursive tree (expected depth ~e*ln n). The GREATEST clamp
    makes the construction independent of the key ORIGIN: bare
    ``hash % key`` lands on 0 for ~ln n keys, which only exists as a node
    on a 0-based domain — on a 1-based table those subtrees would silently
    drop out of pointer_jump's inner join. The min key comes from a 1-row
    broadcast aggregate (no driver collect); on the 0-based test data the
    clamp is the identity, so both engines' forests are unchanged. The
    key domain must still be CONTIGUOUS for parents to exist as nodes.
    Edge multiplicity q = 1 + hash('q:'||key) % 2 ∈ {1, 2}.

    DuckDB mirror (see plans/hierarchy.py oracles)::

        GREATEST(CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
                      AS BIGINT) % p_partkey,
                 (SELECT MIN(p_partkey) FROM part))
    """
    from ..functions.hashing import portable_hash64

    key = F.col("p_partkey")
    roots = part.where(key < 8).select(key.alias("node"))
    min_key = F.broadcast(part.agg(F.min(key).alias("__min_key")))
    edges = (
        part.where(key >= 8)
        .crossJoin(min_key)
        .select(
            key.alias("node"),
            F.greatest(
                portable_hash64(key.cast("string")) % key, F.col("__min_key")
            ).alias("par"),
            (
                1
                + portable_hash64(F.concat(F.lit("q:"), key.cast("string")))
                % 2
            ).alias("q"),
        )
    )
    return edges, roots


#: broadcast the 2^i-pointer side of the closure joins while it fits
#: comfortably in an executor hash relation (~16 bytes/row of payload);
#: above this the rounds fall back to shuffled joins. Row counts come
#: from the previous round's Observation, so the decision is exact, not
#: an estimate.
_CLOSURE_BROADCAST_ROWS = 5_000_000


def transitive_closure(
    edges: DataFrame,
    *,
    node: str = "node",
    parent: str = "par",
    max_rounds: int = 12,
) -> DataFrame:
    """All (node, anc, dist) ancestor pairs of a forest — the materialized
    path table dimension teams denormalize org/category trees into — by
    BINARY-DECOMPOSITION doubling (r14, guide §2.4/§3.1). The r13 form
    Cᵢ₊₁ = distinct(Cᵢ ∪ (Cᵢ ⋈ Cᵢ)) produced each pair once per split
    point and re-shuffled + re-materialized the ENTIRE accumulated
    closure every round to deduplicate. This form keeps two tables:

    - ``state``: all pairs with dist ≤ 2^i — a narrow UNION of per-round
      increment checkpoints, never re-shuffled or re-materialized;
    - ``ptr``: each node's EXACT 2^i-th proper ancestor (≤ one row per
      node, shrinking as shallow nodes drop out).

    Round i emits inc = state ⋈ ptr (dist d' + 2^i, d' ∈ [1, 2^i] — the
    unique decomposition of every dist in (2^i, 2^(i+1)], so each pair is
    generated EXACTLY once and no distinct is needed) and the next
    pointer table ptr' = ptr ⋈ ptr (dist exactly 2^(i+1)). Both ride one
    tagged union → one eager checkpoint → one action per round, with the
    increment/pointer counts observed on that same action; the pointer
    side broadcasts while its observed row count stays under
    ``_CLOSURE_BROADCAST_ROWS``, making the per-round join shuffle-free
    at any scale where the frontier fits an executor. Convergence: an
    empty increment (no path longer than 2^i) or an empty pointer table
    (no node deep enough for another doubling) ends the loop. Output size
    is Σ depth(node) rows — linear in nodes for the log-depth forests
    hash-shaped hierarchies produce; each output row is materialized
    once, versus ~log D times under the r13 re-checkpoint-the-world form."""
    from pyspark.sql import Observation

    obs0 = Observation()
    inc = (
        edges.select(
            F.col(node).alias("node"),
            F.col(parent).alias("anc"),
            F.lit(1).alias("dist"),
        )
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    state, ptr, n_ptr = inc, inc, obs0.get["n"]
    if not n_ptr:
        return state
    for _ in range(max_rounds):
        p = ptr.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("dist").alias("j_dist"),
        )
        if n_ptr <= _CLOSURE_BROADCAST_ROWS:
            p = F.broadcast(p)
        new_pairs = state.join(p, state["anc"] == F.col("j_node"), "inner")
        new_ptr = ptr.join(p, ptr["anc"] == F.col("j_node"), "inner")
        obs = Observation()
        both = (
            new_pairs.select(
                "node",
                F.col("j_anc").alias("anc"),
                (F.col("dist") + F.col("j_dist")).alias("dist"),
                F.lit(False).alias("_tc_ptr"),
            )
            .unionByName(
                new_ptr.select(
                    "node",
                    F.col("j_anc").alias("anc"),
                    (F.col("dist") + F.col("j_dist")).alias("dist"),
                    F.lit(True).alias("_tc_ptr"),
                )
            )
            .observe(
                obs,
                F.sum(F.when(F.col("_tc_ptr"), 0).otherwise(1)).alias("n_inc"),
                F.sum(F.when(F.col("_tc_ptr"), 1).otherwise(0)).alias("n_ptr"),
            )
            .localCheckpoint(eager=True)
        )
        counts = obs.get
        if not counts["n_inc"]:
            return state  # no path longer than 2^i exists
        state = state.unionByName(
            both.where(~F.col("_tc_ptr")).drop("_tc_ptr")
        )
        n_ptr = counts["n_ptr"]
        if not n_ptr:
            return state  # max depth < 2^(i+1): state now covers it all
        ptr = both.where(F.col("_tc_ptr")).drop("_tc_ptr")
    raise RuntimeError(
        f"transitive_closure did not converge in {max_rounds} rounds"
    )
