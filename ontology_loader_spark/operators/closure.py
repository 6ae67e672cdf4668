"""J1/J2/J3 — direct assertion selection and reflexive transitive
ancestor closure.

Reference semantics (``ontology_processor.py:152-211``):

- Relevant entities = ``adapter.entities()`` (``:168``) passing the F1
  ontology filter. oaklib's ``BasicOntologyInterface.entities`` defaults
  ``filter_obsoletes=True``, so the closure domain **excludes obsolete
  terms** (quirk Q6): obsolete classes get no reflexive closure row and
  no relations, even though they appear in the class set via
  ``adapter.obsoletes()`` (``:141``).
- J1 direct edges (``:174-181``): keep edges whose *subject* is
  relevant AND predicate ∈ {rdfs:subClassOf, BFO:0000050}; the object
  is NOT filtered (quirk Q2).
- J2 closure (``:189-199``): per entity, ``adapter.ancestors(entity,
  reflexive=True, predicates=...)`` — reflexive (quirk Q1), traverses
  the edge graph *through* foreign-ontology intermediates, and filters
  only the emitted ancestor with F1 (``:198-199``, quirk Q2 asymmetry).
- J3 projection (``:202-205``): ``(entity,
  'entailed_isa_partof_closure', ancestor)`` with per-entity set
  dedup (quirk Q4: closure rows unique per subject).

Spark-first design: the reference runs one recursive SQLite traversal
*per entity* (``:197``). We instead compute ONE global closure as a
driver-side fixpoint (``operators/fixpoint.py``): path doubling
(repeated squaring of the pair relation, O(log2 depth) rounds) for the
full closure, and semi-naive frontier BFS (each round joins the newly
reached pairs against the broadcastable predicate-filtered edge set and
anti-joins out pairs already reached) for the delta cones of
incremental maintenance. ``localCheckpoint()`` every round truncates
lineage so plan depth stays O(1) instead of O(depth) (SURVEY.md
§4.2.1). Root/hub ancestors concentrate on few keys; the distinct
inside the loop shuffles on (subject, object) pairs which are
well-spread, so no salting is needed here (the pair key, not the hot
ancestor key, is the shuffle key).

At 100 TB-scale the edge set (ontology graph) is small (≤ millions of
rows) while the *pair* accumulator can reach |terms| × depth; both stay
distributed — nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.operators.curie import matches_ontology
from ontology_loader_spark.operators.fixpoint import semi_naive, until_stable
from ontology_loader_spark.partitioning import state_partitions
from ontology_loader_spark.schemas import (
    CLOSURE_PREDICATE,
    DEFAULT_PREDICATES,
    ONTOLOGY_RELATION_TYPE,
)


def relevant_entities(term_dict: DataFrame, ontology: str) -> DataFrame:
    """Q6 — the closure domain: non-obsolete term ids passing F1.

    ``adapter.entities()`` at ``ontology_processor.py:168`` inherits
    oaklib's ``filter_obsoletes=True`` default, so obsolete terms are
    NOT part of the closure domain (they surface only in the class set
    through ``adapter.obsoletes()``). Both filters are plain Catalyst
    predicates — pushed to the term-dictionary scan."""
    return (
        term_dict.filter(~F.coalesce(F.col("is_obsolete"), F.lit(False)))
        .select("id")
        .filter(matches_ontology(F.col("id"), ontology))
    )


def select_hierarchy_edges(
    edges: DataFrame, predicates: tuple[str, ...] = DEFAULT_PREDICATES
) -> DataFrame:
    """Predicate-filtered edge set — pushed down to the scan."""
    return edges.filter(F.col("predicate").isin(*predicates)).select(
        "subject", "predicate", "object"
    )


def direct_relations(
    edges: DataFrame,
    relevant: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """J1 — direct assertions: subject ∈ relevant AND predicate ∈ set,
    object unfiltered (Q2). Broadcast hash semi-join: the relevant-id
    set is the small build side (``ontology_processor.py:174-181``)."""
    return (
        select_hierarchy_edges(edges, predicates)
        .join(
            F.broadcast(relevant.withColumnRenamed("id", "subject")),
            "subject",
            "left_semi",
        )
        .select(
            "subject",
            "predicate",
            "object",
            F.lit(ONTOLOGY_RELATION_TYPE).alias("type"),
        )
    )


def hierarchy_pairs(
    edges: DataFrame, predicates: tuple[str, ...] = DEFAULT_PREDICATES
) -> DataFrame:
    """Distinct ``(subject, object)`` pairs of the predicate-filtered
    hierarchy, checkpointed: the ontology edge set is small relative to
    the fact tables and is the probe side of every fixpoint round."""
    return (
        select_hierarchy_edges(edges, predicates)
        .select("subject", "object")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _closure_triples(pairs: DataFrame, ontology: str) -> DataFrame:
    """J3 projection of reached ``(s, o)`` pairs, F1-filtered on the
    emitted ancestor only (Q2)."""
    return pairs.filter(matches_ontology(F.col("o"), ontology)).select(
        F.col("s").alias("subject"),
        F.lit(CLOSURE_PREDICATE).alias("predicate"),
        F.col("o").alias("object"),
        F.lit(ONTOLOGY_RELATION_TYPE).alias("type"),
    )


def ancestor_closure(
    edges: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iterations: int = 64,
) -> DataFrame:
    """J2+J3 — reflexive transitive closure triples.

    Returns ``(subject, 'entailed_isa_partof_closure', object, type)``
    distinct per (subject, object), reproducing quirks Q1 (reflexive),
    Q2 (only the emitted ancestor is F1-filtered; traversal passes
    through foreign nodes), Q6 (domain excludes obsoletes — oaklib
    ``entities()`` default).

    Equivalent SQL (Spark 4 / DuckDB)::

        WITH RECURSIVE reach(s, o) AS (
            SELECT id, id FROM relevant
            UNION
            SELECT r.s, e.object FROM reach r JOIN hedges e ON r.o = e.subject
        )
        SELECT s, 'entailed_isa_partof_closure', o FROM reach
        WHERE <F1 on o>

    We keep the explicit driver loop (localCheckpoint per iteration)
    for lineage/checkpoint control (SURVEY.md §4.2.1). The kernel is
    path doubling: O(log2 depth) rounds keep the driver-side serial
    fraction negligible in the two-cluster-size scaling gate. The
    semi-naive frontier kernel is chosen only by
    :func:`incremental_closure_delete`, from the measured size of its
    re-derive cone.
    """
    return _closure_doubling(
        hierarchy_pairs(edges, predicates), relevant, ontology, max_iterations
    )


def _closure_frontier(
    hedges: DataFrame, relevant: DataFrame, ontology: str, max_iterations: int
) -> DataFrame:
    """Semi-naive BFS closure: O(depth) rounds, each joining the newly
    reached pairs against the broadcast edge set — cost follows the
    seeded cone, not the whole closure domain."""
    ids = relevant.select(F.col("id").alias("s"))
    # Reflexive seed (Q1): every relevant entity reaches itself.
    seed = ids.select(F.col("s"), F.col("s").alias("o")).localCheckpoint(eager=True)

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(
                F.broadcast(hedges), frontier["o"] == hedges["subject"], "inner"
            )
            .select(frontier["s"], hedges["object"].alias("o"))
            .distinct()
        )

    closure = semi_naive(
        seed, step, ["s", "o"], "ancestor_closure", max_iterations,
        bound="max_iterations",
    )
    return _closure_triples(closure, ontology)


def incremental_closure_update(
    edges: DataFrame,
    new_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iterations: int = 64,
    broadcast_edges_max: int = 5_000_000,
) -> DataFrame:
    """Maintain the reflexive transitive closure under edge ADDITIONS
    without recomputing from scratch — the new-ontology-version case
    the reconciliation pipeline exists for (a release typically adds a
    few hundred edges to a million-row closure).

    Delta-frontier semi-naive evaluation: a new pair can only arise as
    ``reach(s, a) ∘ new(a, b) ∘ reach(b, o)`` — reach into a new edge,
    extended onward. ``prior_closure`` alone cannot seed the reach-in
    side: quirk Q2 filters foreign objects at EMISSION, so a pair
    (s → foreign a) was never stored even though traversal passes
    through it. The seed is therefore a reverse BFS over the RAW
    (old ∪ new) edge set from the new edges' subjects — the number of
    PAIR rows iterated is proportional to the delta's ancestor cone,
    never the old closure — intersected with the closure domain. The
    forward fixpoint then iterates only the genuinely-new pairs
    against the full edge set, anti-joining out prior pairs.

    Each fixpoint step joins the frontier against the full hierarchy
    edge set: broadcast when that edge set is small enough
    (``broadcast_edges_max`` rows — ontology hierarchies are
    dictionary-bounded, so this is the common case), otherwise a plain
    shuffle join per iteration (AQE picks the strategy) — the frontier
    side stays delta-sized either way.

    ``prior_closure``: (subject, predicate, object, type) as produced
    by :func:`ancestor_closure` over ``edges``. Returns the closure of
    ``edges ∪ new_edges`` in the same shape, equal to a fresh
    :func:`ancestor_closure` run (pinned by a randomized test)."""
    all_hedges = hierarchy_pairs(edges.unionByName(new_edges), predicates)
    # one count over the checkpointed edge set decides the join
    # strategy for every fixpoint iteration below
    if all_hedges.count() <= broadcast_edges_max:
        hedges_side = F.broadcast(all_hedges)
    else:
        hedges_side = all_hedges
    new_h = hierarchy_pairs(new_edges, predicates)

    revreach = _reverse_reach(
        all_hedges, hedges_side, new_h.select("subject"), max_iterations,
        "incremental_closure_update",
    )

    # seed: (u ∈ closure domain) →* a, new edge a → b  ⇒  frontier (u, b)
    frontier = (
        revreach.join(
            F.broadcast(relevant.withColumnRenamed("id", "u")), "u", "left_semi"
        )
        .join(new_h.withColumnRenamed("subject", "a"), "a")
        .select(F.col("u").alias("s"), F.col("object").alias("o"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    known = prior_closure.select(
        F.col("subject").alias("s"), F.col("object").alias("o")
    ).localCheckpoint(eager=True)
    added = frontier.join(known, ["s", "o"], "left_anti").localCheckpoint(eager=True)

    def step(delta: DataFrame) -> DataFrame:
        return (
            delta.join(hedges_side, delta["o"] == all_hedges["subject"])
            .select(delta["s"], all_hedges["object"].alias("o"))
            .distinct()
            .join(known, ["s", "o"], "left_anti")
        )

    acc = semi_naive(
        added, step, ["s", "o"], "incremental_closure_update", max_iterations,
        bound="max_iterations",
    )
    return prior_closure.unionByName(_closure_triples(acc, ontology)).distinct()


def _reverse_reach(
    all_hedges: DataFrame,
    hedges_side,
    seeds: DataFrame,
    max_iterations: int,
    op_name: str,
) -> DataFrame:
    """Reverse BFS over the hierarchy edge set: revreach(u, a) ⇔
    u →* a over ``all_hedges``, seeded reflexively at each row of
    ``seeds`` (one column ``subject``). The pair count iterated is
    proportional to the seeds' ancestor cone, never the full closure —
    the property both incremental-maintenance directions rely on.
    ``hedges_side`` is ``all_hedges`` possibly wrapped in a broadcast
    hint (decided once by the caller for every iteration)."""
    seed = seeds.select(
        F.col("subject").alias("u"), F.col("subject").alias("a")
    ).distinct().localCheckpoint(eager=True)

    def step(delta: DataFrame) -> DataFrame:
        return (
            delta.join(hedges_side, delta["u"] == all_hedges["object"])
            .select(all_hedges["subject"].alias("u"), delta["a"])
            .distinct()
        )

    return semi_naive(
        seed, step, ["u", "a"], f"{op_name} reverse pass", max_iterations,
        bound="max_iterations",
    )


def incremental_closure_delete(
    edges: DataFrame,
    deleted_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iterations: int = 64,
    broadcast_edges_max: int = 5_000_000,
) -> DataFrame:
    """Maintain the closure under edge DELETIONS — the other half of
    ontology-release maintenance (a release retracts assertions as
    well as adding them; the reference recomputes from scratch, this
    keeps the untouched cone).

    Delete-cone invalidation + re-derive (the DRed shape specialized
    to reachability): a pair (s, o) can only LOSE a derivation if some
    path from ``s`` used a deleted edge, which requires ``s →* a`` over
    the OLD edge set for a deleted edge's subject ``a``. So:

    1. reverse BFS over the OLD hierarchy edges from the deleted
       edges' subjects — cost proportional to the delete cone;
    2. ``affected`` = those sources ∩ closure domain; every stored row
       of an affected subject is invalidated (over-delete);
    3. re-derive: a fresh closure restricted to the affected subjects
       over the remaining edge set. The kernel is dispatched on the
       MEASURED cone size: a small cone seeds a frontier BFS (cost ~
       the cone, O(depth) driver rounds); a cone covering most of the
       closure domain (a deletion near the roots — also the gate's
       random-slice case) switches to path-doubling, whose O(log2
       depth) rounds beat the frontier's O(depth) when the work is
       domain-sized anyway;
    4. untouched subjects' rows carry over verbatim.

    The union is disjoint by subject, so no distinct is needed.
    ``prior_closure`` must be the closure of ``edges``; returns the
    closure of ``edges − deleted_edges``, equal to a fresh
    :func:`ancestor_closure` run (randomized-delta test + gate)."""
    old_h = hierarchy_pairs(edges, predicates)
    if old_h.count() <= broadcast_edges_max:
        hedges_side = F.broadcast(old_h)
    else:
        hedges_side = old_h
    del_h = (
        select_hierarchy_edges(deleted_edges, predicates)
        .select("subject", "object")
        .distinct()
    )

    revreach = _reverse_reach(
        old_h, hedges_side, del_h.select("subject"), max_iterations,
        "incremental_closure_delete",
    )
    affected = (
        revreach.select(F.col("u").alias("id"))
        .distinct()
        .join(F.broadcast(relevant), "id", "left_semi")
        .localCheckpoint(eager=True)
    )

    kept = prior_closure.join(
        F.broadcast(affected.withColumnRenamed("id", "subject")),
        "subject",
        "left_anti",
    )
    # remove by full (s, p, o): a same-(s, o) edge under a predicate
    # not being deleted must keep its hierarchy pair alive
    remaining = edges.join(
        F.broadcast(
            deleted_edges.select("subject", "predicate", "object").distinct()
        ),
        ["subject", "predicate", "object"],
        "left_anti",
    )
    # both sides of the dispatch are dictionary-bounded counts (the
    # closure domain, not the corpus) — two cheap actions
    kernel = (
        _closure_doubling
        if affected.count() * 2 >= relevant.count()
        else _closure_frontier
    )
    rederived = kernel(
        hierarchy_pairs(remaining, predicates), affected, ontology, max_iterations
    )
    return kept.select(*prior_closure.columns).unionByName(rederived)


def _closure_doubling(
    hedges: DataFrame, relevant: DataFrame, ontology: str, max_iterations: int
) -> DataFrame:
    """Path-doubling reachability: square the pair relation until the
    fixpoint — reach(k+1) = reach(k) ∪ (reach(k) ⋈ reach(k)); pair
    count is the convergence test (one action per iteration)."""
    spark = hedges.sparkSession

    def step(reach: DataFrame, n: int) -> DataFrame:
        squared = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.o") == F.col("r.s"))
            .select(F.col("l.s").alias("s"), F.col("r.o").alias("o"))
        )
        # iteration-state width follows the observed pair count:
        # dictionary-scale graphs stay on a few tasks per round,
        # corpus-scale graphs fan out up to the session shuffle width
        return (
            reach.unionByName(squared)
            .distinct()
            .coalesce(state_partitions(spark, n * 2))
        )

    reach = until_stable(
        hedges.select(F.col("subject").alias("s"), F.col("object").alias("o")),
        step, "ancestor_closure", max_iterations, bound="max_iterations",
    )
    rel = relevant.select(F.col("id").alias("s"))
    reached = rel.join(reach, "s", "inner").select("s", "o")
    reflexive = rel.select("s", F.col("s").alias("o"))
    # a cycle can make s reach itself — dedup against the reflexive seed
    return _closure_triples(reflexive.unionByName(reached).distinct(), ontology)
