"""Identity canonicalization via connected components (SURVEY.md §2.9 G3).

The reference canonicalizes 1-hop (alt_id → primary, xref → id) inside the
dictionary (reference: src/phenoqc/mapping.py:223-262,294-313).  The engine
generalizes to transitive same-as closure over alt/xref/custom-mapping
edges: connected components computed by min-label propagation with one
pointer jump per round — pure DataFrame joins/aggregations, converging in
at most diameter + 1 rounds.

Component label = min(node id) lexicographically; the canonical id of a
component is then chosen as the primary-preferred member (see
``canonical_mapping``).
"""

from __future__ import annotations

import itertools
import warnings
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def _iterate(name: str, step, state, max_rounds: "int | None", converge: bool = True):
    """Drive one iterative operator; every loop in this module runs here.

    ``step(state, i, checkpoint)`` plans round ``i`` (1-based) and returns
    ``(state, delta)``; ``max_rounds=None`` leaves the loop unbounded, for
    loops that shrink their input every round.  A fixpoint is not one
    Catalyst plan, so each frame a round hands to the next goes through
    ``checkpoint`` (``localCheckpoint``); without it every round would
    re-plan and re-run all the rounds before it.

    - Convergence loop (``converge=True``): ``delta`` holds the round's
      changed or new rows.  The checkpoint is lazy and the round's single
      action is the full ``count()`` of ``delta``, which also materializes
      it, so a round is one action.  The count is a full one, not
      ``limit(1)``: a limited count escalates over partitions in several
      jobs and leaves a lazy checkpoint partly filled.  The loop stops at
      the first round whose count is 0.
    - Fixed-round loop (``converge=False``): there is no count, so the
      checkpoint is eager and ``delta`` is ignored.

    Each round's jobs carry ``spark.job.description = "<name> round <i>"``;
    the caller's description is restored afterwards.  Job groups are left
    to the caller.  Returns ``(state, rounds, converged)``.
    """
    sc = SparkSession.active().sparkContext
    outer = sc.getLocalProperty("spark.job.description")

    def checkpoint(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=not converge)

    try:
        rounds = itertools.count(1) if max_rounds is None else range(1, max_rounds + 1)
        for i in rounds:
            sc.setLocalProperty("spark.job.description", f"{name} round {i}")
            state, delta = step(state, i, checkpoint)
            if converge and delta.count() == 0:
                return state, i, True
        return state, max(max_rounds, 0), not converge
    finally:
        sc.setLocalProperty("spark.job.description", outer)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) with component = min member id of the node's CC.

    Implementation: min-label propagation over the symmetric edge list.
    Each round takes every node's minimum neighbour label (join + groupBy
    min), then one pointer jump (comp ← comp's comp, a self-join of the
    labels), and ends in one count of the changed labels.  At ``max_iter``
    it warns (``RuntimeWarning``) and returns the labels it has, which may
    split a component.
    """
    # undirected: keep each edge both ways, self-loops dropped.  One
    # distinct over the symmetric union suffices — a pre-distinct on the
    # raw edges would be a second full shuffle of the edge list for the
    # same result.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # every round joins against the edge list; without the persist each
    # round would re-run the full upstream lineage (for minhash_near_dedup
    # that is the whole LSH + verify pipeline)
    sym = sym.persist()
    # labels: start with each node's min neighbor (or itself)
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("comp"))
    )

    def round_(labels, i, checkpoint):
        # propagate: node's comp = min(own comp, neighbors' comps)
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b2"), sym.b == F.col("b2"))
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "node")
        )
        # carry the pre-round comp as _old so convergence is a filter over
        # the round's own frame, not a join of new labels against old
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                F.col("comp").alias("_old"),
            )
        )
        # pointer-jumping: comp = comp's comp (halves chain depth per round)
        jumped = checkpoint(
            new_labels.alias("l")
            .join(
                new_labels.select(
                    F.col("node").alias("cnode"), F.col("comp").alias("ccomp")
                ).alias("r"),
                F.col("l.comp") == F.col("r.cnode"),
                "left",
            )
            .select(
                F.col("l.node").alias("node"),
                F.least(
                    F.col("l.comp"), F.coalesce(F.col("r.ccomp"), F.col("l.comp"))
                ).alias("comp"),
                F.col("l._old").alias("_old"),
            )
        )
        return jumped, jumped.filter(F.col("comp") != F.col("_old"))

    labels, _, converged = _iterate("connected_components", round_, labels, max_iter)
    if not converged:
        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # labels are localCheckpoint-ed (materialized) — safe to free the edges
    sym.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


def canonical_mapping(
    edges: DataFrame,
    primaries: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, canonical_id): every same-as-connected node maps to one id.

    If ``primaries`` (single column ``id``) is given, the canonical id of a
    component is its minimal primary member when one exists (alt ids never
    become canonical); otherwise the min member.
    """
    cc = connected_components(edges, src, dst)
    if primaries is None:
        return cc.select("node", F.col("component").alias("canonical_id"))
    prim = primaries.select(F.col(primaries.columns[0]).alias("node")).withColumn(
        "_is_prim", F.lit(1)
    )
    tagged = cc.join(F.broadcast(prim), "node", "left")
    best = (
        tagged.filter(F.col("_is_prim") == 1)
        .groupBy("component")
        .agg(F.min("node").alias("prim_id"))
    )
    return (
        cc.join(best, "component", "left")
        .select(
            "node",
            F.coalesce(F.col("prim_id"), F.col("component")).alias("canonical_id"),
        )
    )


def graph_degree_stats(
    triples: DataFrame, subj: str = "subj", obj: str = "obj"
) -> DataFrame:
    """(entity, out_degree, in_degree): per-entity degree over the triple
    graph — the first materialized-graph diagnostic (hub entities, orphan
    nodes, degree skew feeding salting decisions).

    Two hash-groupBys on the entity keys + one full-outer merge of the
    (already aggregated, entity-sized) results — the fact table itself is
    aggregated before any join, so hub skew collapses map-side.
    """
    out_deg = triples.groupBy(F.col(subj).alias("entity")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = triples.groupBy(F.col(obj).alias("entity")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "entity", "full")
        .select(
            "entity",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def graph_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, n_triangles): per-node triangle count over the undirected
    simple graph of ``edges`` — the KG cohesion diagnostic behind
    clustering-coefficient / community-density checks.

    Degree-ordered orientation (the standard scale trick): orient every
    undirected edge from its LOWER-degree endpoint to the higher
    (ties by id), so each wedge is enumerated exactly once from its
    smallest-degree corner and the wedge join's per-key fan-out is
    bounded by O(sqrt(|E|)) even on hub-skewed graphs — a hub of degree d
    contributes wedges only through its (low-degree) neighbors, never
    d² pairs.  Plan: one degree aggregate, one map-side orientation, one
    self-join on the wedge pivot, one semi-join against the oriented edge
    set to close each wedge, one count per corner; each triangle is found
    once and credited to all three corners.  The oriented edges and the
    triangle list are each read by several branches, so both are lazy
    local checkpoints, filled by the first action on the result.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    deg = und.groupBy(F.col("a").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    # orient: keep (a,b) iff (deg(a), a) < (deg(b), b)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .filter((F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    # wedges pivoting at a: (a→b, a→c) with b < c in orientation order;
    # closing edge must be the ORIENTED (b,c) (b precedes c by construction)
    w1 = oriented.select(F.col("a").alias("p"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a").alias("p"), F.col("b").alias("y"))
    wedges = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        oriented.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    tris = wedges.join(closing, ["x", "y"], "left_semi").localCheckpoint(eager=False)
    counts = (
        tris.select(F.col("p").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.select(F.col("n").alias("node")).join(counts, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, degree, n_triangles, clustering_coeff): local clustering
    coefficient ``2·T / (d·(d-1))`` over the undirected simple graph —
    the density diagnostic next to :func:`graph_triangles` (d ≤ 1 nodes
    get coefficient 0.0).  One extra aggregate over the same oriented
    plan; no new shuffle class."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    tri = graph_triangles(edges, src, dst)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    weight: "str | None" = None,
    seeds: "list | None" = None,
    init_ranks: "DataFrame | None" = None,
) -> DataFrame:
    """(node, rank): fixed-iteration power-method PageRank over the
    directed edge list — entity importance on the materialized KG (e.g.
    picking representative entities, weighting canonical ids).

    Standard formulation: each round every node sends rank/out_degree
    along its out-edges; dangling (sink) mass and the teleport term are
    redistributed uniformly, so Σrank = 1 is invariant.  Per round: one
    join against the persisted (edge, out_degree) list + one groupBy sum,
    plus the dangling mass as a driver-side scalar (one double).  Each
    round's ranks feed two actions (the next round's dangling collect and
    its contribs join), so they are materialized once per round rather
    than recomputed twice.  Deterministic for a fixed ``iters``.

    ``weight`` names an edge-weight column (e.g. the triple confidence
    score): contributions become rank·w/Σw(out), parallel edges collapse
    by SUMMING weights, and a source whose total out-weight is 0 is
    treated as dangling.  ``weight=None`` is exactly the unweighted
    formulation above (w ≡ 1 ⇒ Σw(out) = out-degree).

    ``seeds`` switches to PERSONALIZED PageRank (entity relatedness:
    "which entities matter *relative to this phenotype set*"): the
    teleport vector becomes uniform over the seed set instead of over
    all nodes, dangling mass restarts at the seeds too, and the walk is
    initialized from the seed distribution.  Σrank = 1 still holds and
    rank decays with distance from the seeds (nodes unreachable from
    the seed set get exactly 0).  The seed list is broadcast-joined
    (bounded, driver-held — a seed set is a query parameter, not data);
    seeds absent from the graph raise.  Same per-round plan shape as
    the uniform case.

    ``init_ranks`` — a (node, rank) frame to WARM-START from (e.g. the
    previous crawl's ranks after an incremental edge delta): new nodes
    missing from it start at the teleport mass and the vector is
    renormalized to Σ=1, so a handful of power iterations from a
    near-fixpoint beats a cold run's ``iters`` — the incremental-refresh
    story for a 10¹²-edge graph where full recomputation per crawl is
    the actual cost driver.  With a fixed ``iters`` the result is only
    ≈ the cold fixpoint (residual shrinks ~|λ₂|ᵏ from the start point);
    callers wanting bit-equality to a cold run must run cold.
    """
    if weight is None:
        e = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .distinct()
            .withColumn("_w", F.lit(1.0))
        )
    else:
        e = (
            edges.select(
                F.col(src).alias("a"),
                F.col(dst).alias("b"),
                F.col(weight).cast("double").alias("_w"),
            )
            .filter(
                F.col("a").isNotNull() & F.col("b").isNotNull() & F.col("_w").isNotNull()
            )
            .groupBy("a", "b")
            .agg(F.sum("_w").alias("_w"))
        )
    nodes = e.select(F.col("a").alias("node")).union(
        e.select(F.col("b").alias("node"))
    ).distinct().persist()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("a").agg(F.sum("_w").alias("deg")).filter(F.col("deg") > 0)
    links = e.join(out_deg, "a").persist()
    base_nodes = None
    if seeds is not None:
        spark = edges.sparkSession
        ntype = nodes.schema["node"].dataType
        sschema = T.StructType([T.StructField("node", ntype)])
        seed_df = spark.createDataFrame(
            [(s,) for s in sorted(set(seeds))], sschema
        )
        ns = nodes.join(F.broadcast(seed_df), "node", "left_semi").count()
        if ns != seed_df.count():
            missing = [
                r.node
                for r in seed_df.join(nodes, "node", "left_anti").collect()
            ]
            raise ValueError(f"pagerank seeds absent from the graph: {missing}")
        base_nodes = (
            nodes.join(
                F.broadcast(seed_df.withColumn("_seed", F.lit(1))), "node", "left"
            )
            .select(
                "node",
                F.when(F.col("_seed").isNotNull(), F.lit(1.0 / ns))
                .otherwise(F.lit(0.0))
                .alias("_tp"),
            )
            .persist()
        )
        ranks = base_nodes.select("node", F.col("_tp").alias("rank"))
    else:
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    if init_ranks is not None:
        # warm start: prior ranks where known, the cold-start mass for
        # new nodes, renormalized to Σ=1 (the invariant every round
        # preserves); ranks for since-deleted nodes drop out via the
        # inner nodes frame
        prior = init_ranks.select("node", F.col("rank").cast("double").alias("_ir"))
        merged = (
            ranks.withColumnRenamed("rank", "_def")
            .join(prior, "node", "left")
            .select("node", F.coalesce(F.col("_ir"), F.col("_def")).alias("rank"))
        )
        tot = float(merged.agg(F.sum("rank").alias("t")).collect()[0].t or 1.0)
        ranks = merged.select(
            "node", (F.col("rank") / F.lit(tot)).alias("rank")
        ).localCheckpoint(eager=True)
    dangling_nodes = nodes.join(
        out_deg.withColumnRenamed("a", "node"), "node", "left_anti"
    ).persist()

    def round_(ranks, i, checkpoint):
        contribs = (
            links.join(ranks.withColumnRenamed("node", "a"), "a")
            .select(
                F.col("b").alias("node"),
                (F.col("rank") * F.col("_w") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        row = dangling_nodes.join(ranks, "node").agg(F.sum("rank").alias("d")).collect()[0]
        dangling = float(row.d or 0.0)
        if base_nodes is not None:
            # teleport + dangling restart both land on the seed
            # distribution _tp instead of the uniform 1/n vector
            ranks = base_nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.col("_tp") * F.lit((1.0 - damping) + damping * dangling)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        else:
            base = (1.0 - damping) / n + damping * dangling / n
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        return checkpoint(ranks), None

    ranks, _, _ = _iterate("pagerank", round_, ranks, iters, converge=False)
    links.unpersist()
    dangling_nodes.unpersist()
    if base_nodes is not None:
        base_nodes.unpersist()
    nodes.unpersist()
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
) -> DataFrame:
    """(node, hub, authority): Kleinberg HITS over the directed edge
    list — the natural web-KG dual of PageRank (pages are hubs, ontology
    terms are authorities; a good hub cites good authorities and vice
    versa).  Mutual power iteration with L2 normalization each half-step:
    ``auth = Aᵀ·hub / ‖·‖₂`` then ``hub = A·auth / ‖·‖₂``.

    Per half-step: one join of the persisted edge list against the
    node-sized score frame + one groupBy sum, then the norm as a
    driver-side scalar (like PageRank's dangling mass).  Nodes
    with no out-edges have hub 0, no in-edges authority 0 — both still
    appear.  Deterministic for fixed ``iters`` up to float summation
    order (oracle rounds to 6 dp, ~1e8× the divergence)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn("authority", F.lit(0.0))

    def round_(st, i, checkpoint):
        hub, _ = st
        raw_a = (
            e.join(hub.withColumnRenamed("node", "a").withColumnRenamed("h", "_s"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum("_s").alias("s"))
        )
        auth = nodes.join(raw_a, "node", "left").select(
            "node", F.coalesce("s", F.lit(0.0)).alias("x")
        )
        norm = float(auth.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).collect()[0][0])
        auth = auth.select("node", (F.col("x") / F.lit(norm)).alias("x"))
        raw_h = (
            e.join(auth.withColumnRenamed("node", "b").withColumnRenamed("x", "_s"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.sum("_s").alias("s"))
        )
        hub = nodes.join(raw_h, "node", "left").select(
            "node", F.coalesce("s", F.lit(0.0)).alias("h")
        )
        norm_h = float(hub.agg(F.sqrt(F.sum(F.col("h") * F.col("h")))).collect()[0][0])
        hub = hub.select("node", (F.col("h") / F.lit(norm_h)).alias("h"))
        return (checkpoint(hub), auth), None

    hub = nodes.select("node", F.lit(1.0).alias("h"))
    (hub, auth), _, _ = _iterate("hits", round_, (hub, None), iters, converge=False)
    out = hub.join(auth.withColumnRenamed("x", "authority"), "node").select(
        "node", F.col("h").alias("hub"), "authority"
    )
    e.unpersist()
    nodes.unpersist()
    return out


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10_000,
) -> DataFrame:
    """(node, coreness): k-core decomposition of the undirected simple
    graph — coreness k means the node survives in the maximal subgraph
    of minimum degree k but not k+1.  The KG robustness diagnostic
    complementing :func:`graph_triangles` (dense nucleus extraction,
    peel-layer pruning of weakly-attached entities before canonical-id
    election).

    Distributed peeling: each sweep removes every still-alive node whose
    remaining degree is ≤ k (including nodes isolated by earlier removals)
    and assigns it coreness k.  k starts at 0 and, once no alive node has
    degree ≤ k, rises to the lowest remaining degree — the level at which
    a one-step-at-a-time k would next peel.  The k-core is unique, so the
    result is deterministic regardless of execution order.  Each sweep is
    one degree aggregate over the remaining symmetric edge list, a 1-row
    broadcast of the peel level and two semi-joins; it ends when no node
    is left, and raises after ``max_rounds`` sweeps.  The sweep count is
    the graph's peel depth, shallow on hub-heavy web-KG graphs.
    Reference analogue: none (graph materialize extra)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )
    rem = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    rem = rem.localCheckpoint(eager=True)
    # every alive node carries the current peel level k
    alive = rem.select(F.col("a").alias("node")).distinct().withColumn(
        "_k", F.lit(0).cast("long")
    )
    out = edges.sparkSession.createDataFrame(
        [], f"node {dict(edges.dtypes)[src]}, coreness long"
    )

    def sweep(st, i, checkpoint):
        alive, rem, out = st
        deg = rem.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("_d"))
        cur = alive.join(deg, "node", "left").select(
            "node", "_k", F.coalesce("_d", F.lit(0)).alias("_d")
        )
        level = cur.agg(F.greatest(F.max("_k"), F.min("_d")).alias("_lvl"))
        tagged = checkpoint(
            cur.crossJoin(F.broadcast(level)).select(
                "node",
                F.col("_lvl").alias("_k"),
                (F.col("_d") <= F.col("_lvl")).alias("_peel"),
            )
        )
        peeled = tagged.filter(F.col("_peel"))
        alive = tagged.filter(~F.col("_peel")).select("node", "_k")
        rem = checkpoint(
            rem.join(alive.select(F.col("node").alias("a")), "a", "left_semi")
            .join(alive.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        out = out.union(peeled.select("node", F.col("_k").alias("coreness")))
        return (alive, rem, out), peeled

    (_, _, out), _, converged = _iterate("coreness", sweep, (alive, rem, out), max_rounds)
    if not converged:
        raise RuntimeError(f"coreness: did not converge in {max_rounds} sweeps")
    return out


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 50,
) -> DataFrame:
    """(node, distance): unweighted shortest-path distance from the
    ``sources`` node set (a DataFrame with a ``node`` column, distance 0)
    over the undirected simple graph — KG reachability/radius diagnostic
    (how far is every entity from the canonical seed set; unreachable
    nodes are absent from the result).

    Level-synchronous frontier expansion: each round joins the current
    frontier against the symmetric edge list, anti-joins already-visited
    nodes, and appends the new level — one join + one anti-join per
    level, ending in one count of the new level.  Rounds = graph
    diameter from the seed set, which is small on hub-heavy KGs (hubs
    compress distances).  Deterministic: BFS level sets are unique.

    ``max_depth`` caps the rounds: nodes farther than it are ABSENT from
    the result, indistinguishable from unreachable — raise it when the
    graph's diameter from the seeds could exceed the default (50 is far
    beyond any hub-heavy KG's diameter, which is what the default is
    sized for).  Reference analogue: none (graph materialize extra)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    rem = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    rem = rem.localCheckpoint(eager=True)
    visited = sources.select("node").distinct().localCheckpoint(eager=True)
    out = visited.select("node", F.lit(0).cast("long").alias("distance"))

    def level(st, d, checkpoint):
        visited, frontier, out = st
        nxt = checkpoint(
            rem.join(frontier.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        # visited and out stay flat unions of checkpointed levels
        out = out.union(nxt.select("node", F.lit(d).cast("long").alias("distance")))
        return (visited.union(nxt), nxt, out), nxt

    (_, _, out), _, _ = _iterate("bfs_distances", level, (visited, visited, out), max_depth)
    return out


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    max_fixpoint_iters: int = 100,
) -> DataFrame:
    """(node, scc_id) over the DIRECTED edge list, scc_id = the max member
    id of the node's strongly connected component.

    Directed cycles are structural signals on a KG: mutual same-as /
    subClassOf loops (terms that must canonicalize together even though
    the relation is directional), circular xref chains between
    ontologies, and redirect rings on the crawl graph.
    :func:`connected_components` ignores direction, so it over-merges;
    this is the directional refinement.

    Algorithm — trim + forward coloring + backward confirmation (the
    standard distributed "coloring" scheme, Orzan-style; no copied code):

    1. **Trim**: peel nodes with in-degree 0 or out-degree 0 in the
       active subgraph — singleton SCCs by definition.  Repeats until no
       node peels, which alone dissolves the whole DAG part of the graph
       (most of a KG) in ~depth rounds of cheap anti-joins.
    2. **Color**: propagate ``color(v) = max(v, max color over in-edges)``
       to fixpoint — color(v) = the max id that can reach v.  Every
       color class has exactly one root (color(r) = r), and r is the max
       id of its SCC.
    3. **Confirm backward**: within each color class, nodes that can
       reach their root (backward propagation of a boolean from the
       roots, restricted to same-color edges) form the root's SCC.
       Assign scc_id = color, remove, repeat from 1.

    Every confirmed node leaves the active set each round, so the outer
    loop runs at most #SCC-layers times; the documented worst case is a
    decreasing-id chain of cycles (O(condensation-depth) rounds — same
    frontier-bound family as :func:`bfs_distances`; no O(log n)
    single-plan SCC exists short of FW-BW divide-and-conquer, which
    recurses on driver-side subproblem lists and loses determinism of
    output order for no benefit at KG cycle sizes).  Assignments
    accumulate as per-round frames and union at the end.  Deterministic
    for any ``max_rounds`` / ``max_fixpoint_iters`` high enough to
    converge (raises if not).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def drop(nodes, e, gone, checkpoint):
        nodes = checkpoint(nodes.join(gone, "node", "left_anti"))
        e = checkpoint(
            e.join(nodes.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(nodes.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        return nodes, e

    def trim(st, j, checkpoint):
        # in-degree-0 or out-degree-0 nodes are singleton SCCs
        nodes, e, done = st
        srcs = e.select(F.col("a").alias("node")).distinct()
        dsts = e.select(F.col("b").alias("node")).distinct()
        trimmed = checkpoint(nodes.join(srcs.join(dsts, "node"), "node", "left_anti"))
        done = done + [trimmed.select("node", F.col("node").alias("scc_id"))]
        return (*drop(nodes, e, trimmed, checkpoint), done), trimmed

    def round_(st, i, checkpoint):
        # unbounded: every round but the last removes at least one node
        (nodes, e, done), _, _ = _iterate("scc trim", trim, st, None)

        # forward coloring to fixpoint: color(v) = max id reaching v
        def color(colors, j, checkpoint):
            nbr = (
                e.join(colors.withColumnRenamed("node", "a"), "a")
                .groupBy(F.col("b").alias("node"))
                .agg(F.max("color").alias("in_max"))
            )
            colors = checkpoint(
                colors.join(nbr, "node", "left").select(
                    "node",
                    F.greatest(
                        F.col("color"), F.coalesce(F.col("in_max"), F.col("color"))
                    ).alias("color"),
                    F.col("color").alias("_old"),
                )
            )
            return colors, colors.filter(F.col("color") != F.col("_old"))

        colors = nodes.select("node", F.col("node").alias("color"))
        colors, _, ok = _iterate("scc color", color, colors, max_fixpoint_iters)
        if not ok:
            raise RuntimeError(f"scc: coloring did not converge in {max_fixpoint_iters} iters")

        # backward confirmation: reach the root along same-color edges
        def confirm(st, j, checkpoint):
            reached, frontier = st
            # predecessors u of a reached node w, same color, not yet reached
            preds = checkpoint(
                e.join(frontier.withColumnRenamed("node", "b"), "b")
                .select(F.col("a").alias("node"), "color")
                .distinct()
                .join(colors.select("node", F.col("color").alias("ucolor")), "node")
                .filter(F.col("color") == F.col("ucolor"))
                .select("node", "color")
                .join(reached, "node", "left_anti")
            )
            return (reached.union(preds), preds), preds

        roots = colors.filter(F.col("node") == F.col("color")).select("node", "color")
        (reached, _), _, ok = _iterate("scc confirm", confirm, (roots, roots), max_fixpoint_iters)
        if not ok:
            raise RuntimeError(
                f"scc: confirmation did not converge in {max_fixpoint_iters} iters"
            )
        done = done + [reached.select("node", F.col("color").alias("scc_id"))]
        nodes, e = drop(nodes, e, reached, checkpoint)
        return (nodes, e, done), nodes

    (_, _, done), _, converged = _iterate("scc", round_, (nodes, e, []), max_rounds)
    if not converged:
        raise RuntimeError(f"scc: did not converge in {max_rounds} rounds")
    return reduce(DataFrame.union, done)


def _omega(col, t: int, r: int):
    """Deterministic Rademacher projection entry ω(node, t) = ±1/√r from
    the first md5 nibble — the same portable-hash trick the walk
    operators use (Spark ``F.md5`` ≡ Python ``hashlib.md5``, so twins
    replicate it exactly without an xxhash port)."""
    inv = 1.0 / (r ** 0.5)
    first = F.substring(F.md5(F.concat_ws(":", col.cast("string"), F.lit(str(t)))), 1, 1)
    return F.when(first.isin(*list("01234567")), F.lit(inv)).otherwise(F.lit(-inv))


def spectral_features(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    r: int = 8,
    weight: "str | None" = None,
) -> DataFrame:
    """(node, features array<double>): r-dimensional random-projection
    node features Y = A·Ω — each node's feature vector is the Rademacher
    sketch of its out-neighborhood (nodes with similar edge targets get
    similar features; the input half of a randomized-SVD range finder).

    Fully JVM: ω entries are md5-derived codegen expressions (no
    broadcast Ω matrix, no Python), Y is ONE hash aggregate with r sum
    columns — map-side partials bound the shuffle at O(r·partitions)
    per distinct source.  Deterministic and partitioning-invariant.
    """
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("_w")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    y = e.groupBy(F.col("a").alias("node")).agg(
        *[F.sum(F.col("_w") * _omega(F.col("b"), t, r)).alias(f"y{t}") for t in range(r)]
    )
    return y.select("node", F.array(*[F.col(f"y{t}") for t in range(r)]).alias("features"))


def spectral_sketch(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    r: int = 8,
    weight: "str | None" = None,
) -> "list[float]":
    """Top-r singular-value estimates of the (weighted) adjacency matrix
    via one pass of randomized subspace projection:
    σ̂ = sqrt(eig(ΩᵀAᵀAΩ) · r/n), i.e. the projected Gram spectrum
    rescaled to unit-norm projection columns (each ±1/√r column has
    squared norm n/r, n = #nodes with in-edges).

    A graph-level structural fingerprint (connectivity mass, hub
    dominance, effective rank) computable in TWO distributed matvecs —
    the kind of cheap spectrum probe that guides partitioning and
    embedding-rank choices before anyone pays for a real factorization:

    - Y = A·Ω   — the :func:`spectral_features` aggregate (one shuffle);
    - Z = AᵀY   — one join of the edge list with Y + one aggregate
      (contributions flow src→dst, i.e. the transpose product);
    - B = ΩᵀZ   — a single r×r aggregate row (r² sums), collected.

    The r×r eigensolve runs on the driver (numpy, bounded), exactly like
    PageRank's dangling scalar or the IVF codebook.  σ̂ are sketch
    ESTIMATES: Rayleigh-quotient-type values through non-orthogonal
    random directions, tracking the top σ for incoherent spectra but
    fluctuating O(σ₁·√(r/n)) — they can land slightly above σ₁, they
    are NOT bounds.  The differential twin replicates the identical
    projection densely, so the oracle checks the distributed matvec
    chain bit-for-bit, which is the part that can break.  Returns a
    plain sorted-desc Python list (bounded, r values).
    """
    import numpy as np

    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("_w")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    y = e.groupBy(F.col("a").alias("node")).agg(
        *[F.sum(F.col("_w") * _omega(F.col("b"), t, r)).alias(f"y{t}") for t in range(r)]
    )
    z = (
        e.join(y.withColumnRenamed("node", "a"), "a")
        .groupBy(F.col("b").alias("node"))
        .agg(*[F.sum(F.col("_w") * F.col(f"y{t}")).alias(f"z{t}") for t in range(r)])
        .persist()
    )
    n = z.count()
    if n == 0:
        z.unpersist()
        return [0.0] * r
    brow = z.agg(
        *[
            F.sum(_omega(F.col("node"), s, r) * F.col(f"z{t}")).alias(f"b_{s}_{t}")
            for s in range(r)
            for t in range(r)
        ]
    ).collect()[0]
    z.unpersist()
    B = np.array([[brow[f"b_{s}_{t}"] or 0.0 for t in range(r)] for s in range(r)])
    B = (B + B.T) / 2.0
    eig = np.linalg.eigvalsh(B)
    sig = np.sqrt(np.clip(eig * (r / n), 0.0, None))[::-1]
    return [float(v) for v in sig]


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
) -> DataFrame:
    """(node, label): community detection by synchronous label
    propagation over the undirected simple graph — groups densely
    interlinked KG entities (synonym clusters, topic hubs) beyond what
    exact same-as :func:`connected_components` merges.

    Deterministic variant of Raghavan et al.'s LPA: labels start as the
    node's own id; each round EVERY node simultaneously adopts the most
    frequent label among its neighbors, ties broken by the
    lexicographically smallest label.  Synchronous updates with a total
    tie-break order make a fixed-``iters`` run reproducible and
    partitioning-invariant (asynchronous LPA — the usual variant — is
    neither), at the cost of possible 2-cycles on bipartite structures;
    fixed ``iters`` caps those by construction.

    Per round: one join (symmetric edges × labels — the same edge-sized
    join as :func:`pagerank`) + one vote count groupBy on (node, label)
    + one per-node argmax via ``min_by(label, struct(-cnt, label))``
    (max count, then min label — one aggregate, no window sort).  All
    three map-side combine.  Hub skew: a hub's votes partial-aggregate map-side on (node, label), so
    a million-degree node shuffles one row per distinct neighbor label
    per map partition, not per edge.  Reference analogue: none (graph
    materialize extra)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def round_(labels, i, checkpoint):
        votes = (
            sym.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = votes.groupBy("a").agg(
            F.min_by("label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias(
                "label"
            )
        ).select(F.col("a").alias("node"), "label")
        return checkpoint(labels), None

    labels, _, _ = _iterate("label_propagation", round_, labels, iters, converge=False)
    return labels


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 1,
    walk_length: int = 3,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(start, walk, step, node): DETERMINISTIC random walks over the
    undirected simple graph — DeepWalk/node2vec-style corpus generation
    for graph-embedding training and ARROW-style (ICDE 2019) reachability
    sketching, where walk samples stand in for exact web-scale
    reachability.

    'Random' is a pure hash: at each step the walker at ``cur`` moves to
    neighbor index ``md5(cur|start|walk|step|seed) mod degree(cur)`` over
    the node's SORTED adjacency — rerun / partitioning / cluster-size
    invariant and recomputable in plain SQL (the
    ``deterministic_stratified_sample`` contract), so walk corpora are
    reproducible artifacts, not transient samples.

    Build once: the indexed adjacency (per-node sorted ``row_number`` —
    a per-node window; a hub's neighbor list sorts inside one task,
    the one-time cost any adjacency layout pays).  Per step: one join
    against the degree table (to size the modulus) + one equi-join on
    (node, idx) against the indexed adjacency.  The symmetrized simple graph has no dead ends, so every walk runs full
    length.  Output is one row per visited position, step 0 = start."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    from pyspark.sql import Window

    adj = sym.withColumn(
        "idx", F.row_number().over(Window.partitionBy("a").orderBy("b")) - 1
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    starts = (
        adj.select(F.col("a").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
        )
    )

    def round_(st, step, checkpoint):
        walks, out = st
        hashed = walks.join(deg, walks.node == deg.a).select(
            "start",
            "walk",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.col("node"),
                                F.col("start"),
                                F.col("walk").cast("string"),
                                F.lit(str(step)),
                                F.lit(str(seed)),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("deg"),
            ).alias("idx"),
            F.col("node"),
        )
        walks = checkpoint(
            hashed.join(adj, (hashed.node == adj.a) & (hashed.idx == adj.idx))
            .select("start", "walk", F.col("b").alias("node"))
        )
        out = out.unionByName(
            walks.select("start", "walk", F.lit(step).alias("step"), "node")
        )
        return (walks, out), None

    walks = starts.select("start", "walk", F.col("start").alias("node"))
    out = walks.select("start", "walk", F.lit(0).alias("step"), "node")
    (_, out), _, _ = _iterate("random_walks", round_, (walks, out), walk_length, converge=False)
    return out


def node2vec_walks(
    edges: DataFrame,
    walks_per_node: int = 1,
    walk_length: int = 3,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(start, walk, step, node): SECOND-ORDER biased walks (node2vec,
    Grover & Leskovec 2016) over the undirected simple graph — the
    return parameter ``p`` and in-out parameter ``q`` bias each step by
    where the walker CAME from: candidate weight is 1/p to return to the
    previous node, 1 to move to a common neighbor of (prev, cur)
    (BFS-ish), 1/q to move outward (DFS-ish); the first step is uniform.

    Deterministic like :func:`random_walks`: the step draw is
    ``u = double(md5(cur|start|walk|step|seed)) / 16^15`` and the chosen
    candidate is the first (in sorted-neighbor order) whose running
    weight sum exceeds ``u × total`` — a pure function of the walker
    state, so corpora reproduce across reruns and partitionings (the
    pure-Python twin in the tests replicates the float ops bit-for-bit).

    Cost per step: one adjacency join fans each walker out to its
    FULL candidate set (degree-sized — inherent to second-order biasing,
    which must score every neighbor), one left join against the edge set
    flags common neighbors of (prev, cur), and a per-walker running-sum
    window picks the winner.  Single-node
    node2vec pays the same per-walker degree cost plus an O(V·d²)
    alias-table prebuild this formulation skips.

    HONEST scale caveat: on hub-skewed graphs the per-step fan-out is
    Σ walkers-at-node × degree(node) — once many walkers sit on a
    million-degree hub, one step materializes walkers×degree candidate
    rows, which no biasing formulation survives without subsampling.
    For hub-heavy KG graphs use :func:`random_walks` (first-order, O(1)
    per step via the index draw, no fan-out) or pre-cap hub adjacency
    (degree-capped candidate subsampling) before calling this; node2vec
    biasing earns its cost on bounded-degree graphs.  With ``p = q = 1``
    the distribution is unbiased but the hash mapping differs from
    :func:`random_walks`' index draw — they are distinct corpora."""
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    starts = (
        sym.select(F.col("a").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
        )
    )
    denom = float(16**15)

    def round_(st, step, checkpoint):
        walks, out = st
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("node"),
                            F.col("start"),
                            F.col("walk").cast("string"),
                            F.lit(str(step)),
                            F.lit(str(seed)),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long").cast("double")
            / F.lit(denom)
        )
        cand = (
            walks.withColumn("_u", u)
            .join(sym.select(F.col("a").alias("node"), F.col("b").alias("cand")), "node")
        )
        # common-neighbor flag: (prev, cand) is an edge
        common = sym.select(F.col("a").alias("prev"), F.col("b").alias("cand"), F.lit(1).alias("_adj"))
        cand = cand.join(common, ["prev", "cand"], "left")
        w = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("_adj").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        pw = Window.partitionBy("start", "walk")
        cw = pw.orderBy("cand").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored = cand.select(
            "start",
            "walk",
            "node",
            "cand",
            "_u",
            F.sum(w).over(cw).alias("_cum"),
            F.sum(w).over(pw).alias("_total"),
        )
        picked = (
            scored.filter(F.col("_cum") > F.col("_u") * F.col("_total"))
            .groupBy("start", "walk")
            .agg(
                F.min_by(F.struct(F.col("node").alias("prev"), F.col("cand")), "_cum").alias("_r")
            )
            .select("start", "walk", F.col("_r.prev").alias("prev"), F.col("_r.cand").alias("node"))
        )
        walks = checkpoint(picked)
        out = out.unionByName(
            walks.select("start", "walk", F.lit(step).alias("step"), "node")
        )
        return (walks, out), None

    walks = starts.select(
        "start", "walk", F.lit(None).cast("string").alias("prev"), F.col("start").alias("node")
    )
    out = walks.select("start", "walk", F.lit(0).alias("step"), "node")
    (_, out), _, _ = _iterate("node2vec_walks", round_, (walks, out), walk_length, converge=False)
    return out


def walks_to_skipgrams(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """(center, context, offset): skip-gram training pairs from a
    :func:`random_walks` corpus — every ordered pair of nodes within
    ``window`` steps of each other along the same walk (offset ≠ 0), the
    DeepWalk/node2vec recipe's second half (walks → co-occurrence pairs
    → embedding trainer).

    One self-equi-join on the walk id (start, walk) with a bounded
    |step difference| filter — never a cross join; a walk contributes
    ≤ 2·window pairs per position, so output is linear in the corpus.
    Deterministic because the walks are."""
    a = walks.select(
        F.col("start"), F.col("walk"),
        F.col("step").alias("_s1"), F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("start"), F.col("walk"),
        F.col("step").alias("_s2"), F.col("node").alias("context"),
    )
    return (
        a.join(b, ["start", "walk"])
        .withColumn("offset", F.col("_s2") - F.col("_s1"))
        .filter((F.col("offset") != 0) & (F.abs(F.col("offset")) <= window))
        .select("center", "context", "offset")
    )


def graph_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-community Newman modularity over the undirected simple graph:
    one row per community (label, n_nodes, degree_sum, intra_edges,
    contribution), where contribution = intra/m − (deg_sum/2m)² and the
    partition's modularity Q is SUM(contribution) — the standard quality
    score for a :func:`label_propagation` (or any) node partition, and
    the report-side check that detected communities are denser than
    chance.

    ``labels``: (node, label).  Cost: the symmetric edge list joins the
    label table twice (node-keyed broadcast when the label table is
    dimension-sized; shuffle join otherwise) + three hash aggregates —
    no iteration, all map-side combinable.  Intra-community edges are
    counted once per direction in the symmetric list and halved, so
    parallel-edge/self-loop noise is already dropped by the simple-graph
    normalization.  Deterministic.  Reference analogue: none (graph
    materialize extra)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.persist()
    m2 = sym.count()  # 2m (each undirected edge appears twice)
    if m2 == 0:
        sym.unpersist()
        return labels.select(
            F.col("label"),
            F.lit(0).cast("long").alias("n_nodes"),
            F.lit(0).cast("long").alias("degree_sum"),
            F.lit(0).cast("long").alias("intra_edges"),
            F.lit(0.0).alias("contribution"),
        ).limit(0)
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    per_node_deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    per_comm = (
        per_node_deg.join(la, "a")
        .groupBy(F.col("_la").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("_deg").alias("degree_sum"),
        )
    )
    intra = (
        sym.join(la, "a")
        .join(lb, "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("intra_edges"))
    )
    sym.unpersist()
    m = m2 / 2.0
    return (
        per_comm.join(intra, "label", "left")
        .fillna(0, ["intra_edges"])
        .select(
            "label",
            "n_nodes",
            "degree_sum",
            "intra_edges",
            (
                F.col("intra_edges") / F.lit(m)
                - (F.col("degree_sum") / F.lit(m2)) ** 2
            ).alias("contribution"),
        )
    )


def canonicalize_objects(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite triple objects through the canonical mapping (broadcast join —
    the mapping is ontology-sized, ~10⁵ rows, never the fact side)."""
    m = F.broadcast(mapping.withColumnRenamed("node", "obj"))
    return (
        triples.join(m, "obj", "left")
        .withColumn("obj", F.coalesce(F.col("canonical_id"), F.col("obj")))
        .drop("canonical_id")
    )


def ancestor_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 100,
) -> DataFrame:
    """(node, ancestor, depth): transitive closure of the ``is_a``
    subsumption DAG, depth = MINIMUM hop count ≥ 1 (direct parent = 1).
    Self-pairs are excluded; nodes appearing only as parents contribute
    ancestors, not rows.

    Semi-naive iteration: each round extends only the previous round's
    NEW pairs by one parent hop and anti-joins pairs already known; it
    ends in one count of the new pairs.  Rounds = hierarchy depth — ~16 for HPO-sized
    ontologies.  Because BFS discovers each (node, ancestor) pair first
    at its minimum depth, the depth column needs no post-aggregation.

    Scale posture: ontologies are DIMENSION data (10⁴–10⁵ terms, ~1.2
    edges/term), so the closure output — |terms| × avg-ancestor-set, ~2M
    rows for HPO — is computed once and then **broadcast** against
    billion-row fact tables (:func:`rollup_counts`); the iteration here
    is distributed for generality but never sits on the fact path.
    Cycles (ill-formed ontologies) cannot loop the iteration — the pair
    space is finite and the anti-join rejects rediscoveries — but
    members of a cycle reach themselves; those self-pairs are dropped,
    matching the DAG reading.  ``max_depth`` truncates deeper ancestry
    (absent rows, same contract as :func:`bfs_distances`).

    Reference analogue: none — the reference never reads the hierarchy
    (mapping.py builds flat surface-form dicts only); this powers the
    ancestor-category rollup view its per-term reports stop short of.
    """
    e = (
        edges.select(F.col(child).alias("node"), F.col(parent).alias("ancestor"))
        .filter(
            F.col("node").isNotNull()
            & F.col("ancestor").isNotNull()
            & (F.col("node") != F.col("ancestor"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # hop table for extension: (mid, ancestor) keyed by the node whose
    # parents we append
    hop = e.select(F.col("node").alias("mid"), F.col("ancestor").alias("anc2"))
    out = e.select("node", "ancestor", F.lit(1).cast("int").alias("depth"))

    def extend(st, i, checkpoint):
        out, delta = st
        nxt = checkpoint(
            delta.join(hop, delta["ancestor"] == hop["mid"])
            .select("node", F.col("anc2").alias("ancestor"))
            .filter(F.col("node") != F.col("ancestor"))
            .distinct()
            .join(out.select("node", "ancestor"), ["node", "ancestor"], "left_anti")
        )
        new = nxt.select("node", "ancestor", F.lit(i + 1).cast("int").alias("depth"))
        return (out.union(new), new), nxt

    (out, _), _, _ = _iterate("ancestor_closure", extend, (out, out), max_depth - 1)
    return out


def rollup_counts(
    facts: DataFrame,
    closure: DataFrame,
    term_col: str = "term",
    distinct_col: "str | None" = None,
    include_self: bool = True,
) -> DataFrame:
    """(ancestor, n): fact counts rolled up the subsumption hierarchy —
    every fact annotated with term t counts toward t (when
    ``include_self``) and toward each ancestor of t.  The standard
    ontology reporting view ("how many records under *Abnormality of the
    cardiovascular system*"), which per-term counts understate because
    annotations attach at the leaves.

    ``distinct_col``: count DISTINCT values of that column per ancestor
    (e.g. records annotated with two siblings count once for the shared
    parent) instead of fact rows.

    Scale shape: the closure is dimension-sized and **broadcast**; the
    fact side is touched by one map-side inner join (each fact row fans
    out to its term's ancestor set — bounded by hierarchy size, not
    corpus size) followed by a single hash aggregate.  Plain counts
    partial-aggregate map-side; distinct counts shuffle (ancestor,
    distinct_col) pairs once — both fact-partition-parallel with no
    driver involvement.
    """
    anc = closure.select(F.col("node").alias(term_col), "ancestor")
    val = F.col(distinct_col) if distinct_col is not None else F.lit(1)
    contrib = facts.join(F.broadcast(anc), term_col).select(
        "ancestor", val.alias("_v")
    )
    if include_self:
        # self contribution straight from the fact row — terms with no
        # hierarchy edges (absent from the closure) still count
        contrib = contrib.union(
            facts.select(F.col(term_col).alias("ancestor"), val.alias("_v"))
        )
    agg = (
        F.countDistinct("_v") if distinct_col is not None else F.count(F.lit(1))
    )
    return contrib.groupBy("ancestor").agg(agg.alias("n"))


def term_pair_similarity(
    pairs: DataFrame,
    closure: DataFrame,
    a_col: str = "term_a",
    b_col: str = "term_b",
) -> DataFrame:
    """(term_a, term_b, n_common, jaccard): ontology semantic similarity
    of term pairs as the Jaccard of their ancestor sets (each set
    includes the term itself) — the standard subsumption-based measure
    for "how related are these two mappings" (sibling terms share a
    parent, unrelated branches only the root), used to grade
    entity-linking near-misses beyond exact-match P/R.

    Scale shape: ancestor sets are built ONCE from the dimension-sized
    closure (one groupBy) and **broadcast**; the pair table — which may
    be fact-scale, e.g. every (produced, expected) disagreement from a
    linking run — is touched by two map-side joins and per-row JVM array
    intersections.  No fact-side shuffle.  Set semantics make the result
    independent of ``collect_set`` ordering.  Terms absent from the
    closure fall back to the singleton {self} (roots and isolated terms
    score 0 against everything but themselves).
    """
    sets = (
        closure.groupBy("node")
        .agg(F.collect_set("ancestor").alias("_anc"))
        .select("node", F.array_union(F.array("node"), F.col("_anc")).alias("_set"))
    )
    sa = sets.select(F.col("node").alias(a_col), F.col("_set").alias("_sa"))
    sb = sets.select(F.col("node").alias(b_col), F.col("_set").alias("_sb"))
    out = (
        pairs.join(F.broadcast(sa), a_col, "left")
        .join(F.broadcast(sb), b_col, "left")
        .withColumn("_sa", F.coalesce(F.col("_sa"), F.array(F.col(a_col))))
        .withColumn("_sb", F.coalesce(F.col("_sb"), F.array(F.col(b_col))))
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    return out.select(
        a_col,
        b_col,
        inter.alias("n_common"),
        (inter.cast("double") / union).alias("jaccard"),
    )


def term_ic(
    facts: DataFrame,
    closure: DataFrame,
    term_col: str = "term",
    distinct_col: "str | None" = None,
) -> DataFrame:
    """(term, n, ic): corpus information content of every ontology term —
    ``ic = -ln(p)`` with ``p = rollup-frequency(term) / total`` where the
    rollup frequency counts annotations on the term OR any descendant
    (:func:`rollup_counts`) and ``total`` is the corpus annotation count
    (distinct ``distinct_col`` values when given, fact rows otherwise).
    The standard Resnik (1995) corpus IC: rare, specific terms score
    high; a root subsuming every annotation scores exactly 0.

    Terms with zero rolled-up annotations are ABSENT (their IC is
    undefined on this corpus) — downstream consumers treat them as
    contributing no common-ancestor information.

    Scale shape: :func:`rollup_counts`'s broadcast-closure fan-out plus
    one corpus-total aggregate attached via a broadcast 1-row cross join
    — the whole IC table stays dimension-sized (≤ |ontology|) no matter
    the fact-table size, which is what lets :func:`resnik_lin_similarity`
    broadcast it back against fact-scale pair lists.

    Reference analogue: none — the reference (mapping.py) stops at flat
    surface-form dictionaries; IC-weighted semantic similarity is the
    Phenomizer-family measure its HPO use case points at (Köhler 2009).
    """
    counts = rollup_counts(facts, closure, term_col=term_col, distinct_col=distinct_col)
    total_agg = (
        F.countDistinct(distinct_col) if distinct_col is not None else F.count(F.lit(1))
    )
    total = facts.agg(total_agg.cast("double").alias("_N"))
    return counts.crossJoin(F.broadcast(total)).select(
        F.col("ancestor").alias("term"),
        "n",
        (-F.log(F.col("n") / F.col("_N"))).alias("ic"),
    )


def resnik_lin_similarity(
    pairs: DataFrame,
    ic: DataFrame,
    closure: DataFrame,
    a_col: str = "term_a",
    b_col: str = "term_b",
) -> DataFrame:
    """pairs.* + (ic_a, ic_b, resnik, lin): IC-based semantic similarity
    of term pairs — ``resnik = IC(most-informative common ancestor)``
    (ancestor-or-self; 0.0 when the pair shares no IC-bearing ancestor)
    and ``lin = 2·resnik / (ic_a + ic_b)`` (0..1 normalized; 1.0 for
    identical terms, NULL when either term has no corpus IC, 0.0 when
    both ICs are 0, i.e. both terms are annotation-covering roots).
    Input columns pass through, so fact-scale tables (every entity-link
    disagreement, every candidate term pair) can be scored in place.

    Scale shape: ancestor-or-self sets with IC attached are built ONCE
    from the dimension-sized closure × IC join, collapsed to one array
    per term, and **broadcast**; the pair table is touched by two
    map-side joins, a JVM ``array_intersect`` (struct equality — IC is
    functionally dependent on the ancestor id), and an ``array_max``
    fold.  No fact-side shuffle, no explode: the MICA search is a
    per-row set intersection bounded by ontology depth.
    """
    ic_anc = ic.select(F.col("term").alias("ancestor"), "ic")
    aos = closure.select("node", "ancestor").union(
        ic.select(F.col("term").alias("node"), F.col("term").alias("ancestor"))
    )
    sets = (
        aos.join(F.broadcast(ic_anc), "ancestor")
        .groupBy("node")
        .agg(F.collect_set(F.struct("ancestor", "ic")).alias("_set"))
    )
    sa = sets.select(F.col("node").alias(a_col), F.col("_set").alias("_sa"))
    sb = sets.select(F.col("node").alias(b_col), F.col("_set").alias("_sb"))
    ia = ic.select(F.col("term").alias(a_col), F.col("ic").alias("ic_a"))
    ib = ic.select(F.col("term").alias(b_col), F.col("ic").alias("ic_b"))
    out = (
        pairs.join(F.broadcast(sa), a_col, "left")
        .join(F.broadcast(sb), b_col, "left")
        .join(F.broadcast(ia), a_col, "left")
        .join(F.broadcast(ib), b_col, "left")
    )
    mica = F.array_max(
        F.transform(F.array_intersect("_sa", "_sb"), lambda x: x["ic"])
    )
    resnik = F.when(
        F.col("_sa").isNull() | F.col("_sb").isNull(), F.lit(0.0)
    ).otherwise(F.coalesce(mica, F.lit(0.0)))
    out = out.withColumn("resnik", resnik)
    denom = F.col("ic_a") + F.col("ic_b")
    lin = (
        F.when(F.col(a_col) == F.col(b_col), F.lit(1.0))
        .when(F.col("ic_a").isNull() | F.col("ic_b").isNull(), F.lit(None).cast("double"))
        .when(denom > 0, F.lit(2.0) * F.col("resnik") / denom)
        .otherwise(F.lit(0.0))
    )
    return out.withColumn("lin", lin).drop("_sa", "_sb")


def bma_similarity(
    pairs: DataFrame,
    annotations: DataFrame,
    ic: DataFrame,
    closure: DataFrame,
    entity_a: str = "entity_a",
    entity_b: str = "entity_b",
    entity_col: str = "entity",
    term_col: str = "term",
    metric: str = "resnik",
) -> DataFrame:
    """(entity_a, entity_b, sim_ab, sim_ba, bma): Phenomizer-style
    best-match-average similarity between two entities' annotation SETS
    (Köhler 2009 — the clinical HPO patient-similarity measure):
    ``sim_ab`` averages, over entity_a's terms, the best ``metric``
    score (:func:`resnik_lin_similarity`'s ``resnik`` or ``lin``)
    against ANY of entity_b's terms; ``sim_ba`` is the mirror;
    ``bma`` is their mean (the symmetric form).

    Entities absent from ``annotations`` produce no row (an empty set
    has no best match) — filter the pair list upstream if that matters.
    Annotation rows are deduplicated on (entity, term) so repeated
    mentions don't weight the average.

    Scale shape: this is the fact-scale consumer the dimension-side
    design exists for.  The candidate pair list (from blocking /
    same-cluster grouping upstream) joins each side's annotation set —
    two shuffles keyed on entity id; per-pair term cross products are
    bounded by annotation-set size squared (HPO patients carry ~10-20
    terms), scored map-side against the broadcast ancestor-set arrays,
    then collapsed by two (pair, term) hash aggregates.  Nothing
    ontology- or corpus-global ever shuffles with the pairs.
    """
    if metric not in ("resnik", "lin"):
        raise ValueError(f"metric must be 'resnik' or 'lin', got {metric!r}")
    ta = annotations.select(
        F.col(entity_col).alias(entity_a), F.col(term_col).alias("term_a")
    ).distinct()
    tb = annotations.select(
        F.col(entity_col).alias(entity_b), F.col(term_col).alias("term_b")
    ).distinct()
    tp = pairs.join(ta, entity_a).join(tb, entity_b)
    scored = resnik_lin_similarity(tp, ic, closure).select(
        entity_a, entity_b, "term_a", "term_b", F.col(metric).alias("_s")
    )
    best_a = scored.groupBy(entity_a, entity_b, "term_a").agg(F.max("_s").alias("_m"))
    avg_a = best_a.groupBy(entity_a, entity_b).agg(F.avg("_m").alias("sim_ab"))
    best_b = scored.groupBy(entity_a, entity_b, "term_b").agg(F.max("_s").alias("_m"))
    avg_b = best_b.groupBy(entity_a, entity_b).agg(F.avg("_m").alias("sim_ba"))
    return avg_a.join(avg_b, [entity_a, entity_b]).select(
        entity_a,
        entity_b,
        "sim_ab",
        "sim_ba",
        ((F.col("sim_ab") + F.col("sim_ba")) / 2).alias("bma"),
    )


def soft_link_pr(
    produced: DataFrame,
    gold: DataFrame,
    ic: DataFrame,
    closure: DataFrame,
    key_col: str = "url",
    term_col: str = "term",
) -> DataFrame:
    """One-row linking scorecard: exact AND ontology-aware soft
    precision/recall of produced (key, term) links against a gold set.
    Exact P/R is the north-star match rate; the soft pair credits each
    produced link with its best Lin similarity against the same key's
    gold terms (an exact hit scores 1.0, a sibling term most of a point,
    an unrelated branch ~0) — so "how wrong are the misses" is measured,
    not just counted.  Soft ≥ exact always; the gap is the near-miss
    mass an exact scorer throws away.

    Columns: n_produced, n_gold, n_exact, precision_exact, recall_exact,
    soft_precision, soft_recall (averages over distinct produced / gold
    links; keys with no counterpart score 0 — unmatched links are pure
    errors on both measures).

    Scale shape: both sides dedup to distinct (key, term) and join ONLY
    on the key (per-key link sets are small — one page yields a handful
    of phenotype mentions), scored map-side by
    :func:`resnik_lin_similarity`'s broadcast IC-struct sets, then
    collapse through (key, term) hash aggregates into 1-row averages
    combined by broadcast cross joins.  Nothing corpus-global shuffles.
    """
    p = produced.select(
        F.col(key_col).alias("_k"), F.col(term_col).alias("term_a")
    ).distinct()
    g = gold.select(
        F.col(key_col).alias("_k"), F.col(term_col).alias("term_b")
    ).distinct()

    def _soft(left, right, lcol, rcol):
        # avg over left links of best lin vs the same key's right terms
        cand = left.join(right, "_k", "left")
        scored = resnik_lin_similarity(cand, ic, closure, lcol, rcol)
        best = scored.groupBy("_k", lcol).agg(
            F.coalesce(F.max("lin"), F.lit(0.0)).alias("_m")
        )
        return best.agg(
            F.count(F.lit(1)).alias("_n"), F.avg("_m").alias("_soft")
        )

    pm = _soft(p, g, "term_a", "term_b").select(
        F.col("_n").alias("n_produced"), F.col("_soft").alias("soft_precision")
    )
    rm = _soft(g, p, "term_b", "term_a").select(
        F.col("_n").alias("n_gold"), F.col("_soft").alias("soft_recall")
    )
    ex = (
        p.join(
            g,
            (p["_k"] == g["_k"]) & (p["term_a"] == g["term_b"]),
        )
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        pm.crossJoin(F.broadcast(rm))
        .crossJoin(F.broadcast(ex))
        .select(
            "n_produced",
            "n_gold",
            "n_exact",
            (F.col("n_exact") / F.col("n_produced")).alias("precision_exact"),
            (F.col("n_exact") / F.col("n_gold")).alias("recall_exact"),
            "soft_precision",
            "soft_recall",
        )
    )


def neighborhood_overlap(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: "int | None" = None,
) -> DataFrame:
    """(node_a, node_b, common, jaccard, adamic_adar) for every
    UNDIRECTED node pair sharing ≥ ``min_common`` neighbors — the
    classical link-prediction / entity-suggestion scores over the KG
    (which unlinked term pairs co-occur through many shared documents or
    xref hubs; Adamic-Adar down-weights promiscuous hubs by 1/ln(deg)).

    Shape: symmetric edge list → per-hub neighbor-pair enumeration
    (one self-join on the hub key) → one (a, b) hash aggregate; degrees
    join back broadcast-sized or shuffled as Catalyst picks.  The
    candidate fan-out through a hub z is C(deg z, 2) — that IS the
    output semantics, so the guard is ``max_degree``: hubs above it are
    skipped as common-neighbor witnesses (the standard recall-vs-cost
    cut; a "the"-like hub witnesses every pair and scores none of them
    meaningfully anyway, its AA weight already ≈ 0).

    Pairs are canonical (node_a < node_b); self-pairs excluded; a common
    neighbor always has degree ≥ 2, so ln(deg) > 0 and Adamic-Adar is
    well-defined.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    hub = sym.select(F.col("a").alias("z"), F.col("b").alias("n")).join(
        deg.select(F.col("node").alias("z"), F.col("deg").alias("zdeg")), "z"
    )
    if max_degree is not None:
        hub = hub.filter(F.col("zdeg") <= max_degree)
    pairs = (
        hub.alias("l")
        .join(hub.alias("r"), (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n")))
        .select(
            F.col("l.n").alias("node_a"),
            F.col("r.n").alias("node_b"),
            F.col("l.zdeg").alias("zdeg"),
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(1.0 / F.log(F.col("zdeg"))).alias("aa"),
        )
        .filter(F.col("common") >= min_common)
    )
    out = (
        pairs.join(deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da")), "node_a")
        .join(deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db")), "node_b")
        .select(
            "node_a",
            "node_b",
            "common",
            F.round(F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6).alias(
                "jaccard"
            ),
            F.round(F.col("aa"), 6).alias("adamic_adar"),
        )
    )
    return out


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node_a, node_b) — the k-truss of the undirected simple graph:
    the maximal subgraph in which EVERY edge closes ≥ k−2 triangles
    (within the subgraph).  A stronger cohesion filter than k-core:
    cores keep hubs with many weak one-off neighbors, trusses demand the
    neighbors also interlink — the "tightly corroborated region" of a
    KG (entities whose relations are mutually triangulated) and the
    standard community-core primitive.

    Iterative peeling: per round, per-edge triangle SUPPORT is computed
    by enumerating triangles on a DEGREE-ORDERED orientation (each edge
    points from its lower-(degree, id) endpoint to the higher — the
    compact-forward scheme :func:`graph_triangles` uses): wedges are
    expanded only at a node's OUT-neighbors, so per-node fan-out is
    bounded by the graph's arboricity, not its max degree.  This is the
    difference between feasible and impossible on a real KG edge list —
    a hub entity with 10⁶ id-ordered successors generates ~10¹² wedges
    under naive a<b orientation, but near-zero out-wedges under degree
    ordering because every hub edge points INTO the hub.  Each triangle
    is found once (its unique (deg, id)-minimum apex), charged to its
    three edges via a 3-way union + hash aggregate; every edge with
    support < k−2 drops and the loop repeats on the survivors until a
    fixpoint (removals cascade, exactly like the k-core node peel); each
    round ends in one count of the dropped edges.  Degrees are recomputed
    per round (peeling changes them).  Deterministic; raises if
    ``max_rounds`` is exceeded.
    """
    if k < 3:
        raise ValueError("ktruss: k must be ≥ 3")
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull() & (F.col("x") != F.col("y"))
    )
    und = (
        e.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def peel(und, i, checkpoint):
        # degree-ordered orientation of the surviving edges: lo -> hi by
        # (degree, id); recomputed per round because peeling shifts degrees
        sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
        ranked = (
            und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
            .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        )
        ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
        kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        # read three times by the triangle plan below
        o = checkpoint(
            ranked.select(
                F.when(ka < kb, ka).otherwise(kb).alias("s"),
                F.when(ka < kb, kb).otherwise(ka).alias("t"),
            )
        )
        w1 = o.select(F.col("s").alias("p"), F.col("t").alias("u"))
        w2 = o.select(F.col("s").alias("p"), F.col("t").alias("v"))
        # wedges at apex p over its (few) out-neighbors, u < v in
        # (deg, id) order, closed by oriented edge (u, v) → triangle
        tris = (
            w1.join(w2, "p")
            .filter(F.col("u") < F.col("v"))
            .join(
                o.select(F.col("s").alias("u"), F.col("t").alias("v")),
                ["u", "v"],
                "left_semi",
            )
            .select(F.col("p.n").alias("p"), F.col("u.n").alias("u"), F.col("v.n").alias("v"))
        )

        def _edge(x, y):
            return [F.least(x, y).alias("a"), F.greatest(x, y).alias("b")]

        support = (
            tris.select(*_edge(F.col("p"), F.col("u")))
            .unionByName(tris.select(*_edge(F.col("p"), F.col("v"))))
            .unionByName(tris.select(*_edge(F.col("u"), F.col("v"))))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("supp"))
        )
        tagged = checkpoint(
            und.join(support, ["a", "b"], "left").select(
                "a", "b", (F.coalesce(F.col("supp"), F.lit(0)) >= k - 2).alias("_keep")
            )
        )
        return tagged.filter(F.col("_keep")).select("a", "b"), tagged.filter(~F.col("_keep"))

    und, _, converged = _iterate("ktruss", peel, und, max_rounds)
    if not converged:
        raise RuntimeError(f"ktruss: did not converge in {max_rounds} rounds")
    return und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b"))


def resolve_redirects(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 64,
) -> DataFrame:
    """(src, final_url, hops, unresolved) — terminal-target resolution of
    a crawl redirect map by pointer doubling: every redirect SOURCE is
    followed through the chain (301/308 hops, URL aliases, shorteners)
    to the first node that is not itself a redirect source.  The step a
    web-KG needs before page-level identity: edges, anchors, and CDX
    captures keyed on intermediate hops all collapse onto the terminal
    URL (reference analogue: none — the reference QCs tabular records;
    this is the crawl-graph identity layer, same role as
    :func:`connected_components` but over a DIRECTED functional graph
    where the canonical element is the chain END, not the min member).

    Semantics:

    - the map is made functional first (a crawl can record two targets
      for one source across captures): deterministic ``min(dst)`` wins;
    - ``final_url``/``hops`` are the terminal node and the exact chain
      length for resolved sources;
    - sources on (or draining into) a redirect CYCLE never terminate:
      they come back ``unresolved=true`` with NULL final/hops — callers
      drop or quarantine them (serving them would loop a fetcher).
      Chains of length ≤ ``max_hops`` are guaranteed resolved; doubling
      may overshoot past ``max_hops`` for longer acyclic chains (they
      resolve too — ``unresolved`` is strictly cycles/pathological).

    Scale shape: pointer doubling — each round composes the
    partially-resolved map with ITSELF (one self-join keyed on the
    current position), so a length-L chain resolves in ⌈log₂ L⌉ rounds,
    not L; at most ``ceil(log2(max_hops))+1`` rounds, each one shuffle
    ending in one count of the unresolved sources.  State is one row per
    redirect source forever — never per (source × hop) like a naive
    transitive closure.
    """
    import math

    m = (
        redirects.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )
    state = m.select(
        "src",
        F.col("dst").alias("cur"),
        F.lit(1).cast("long").alias("hops"),
        F.lit(False).alias("done"),
    ).localCheckpoint(eager=True)
    rounds = max(1, int(math.ceil(math.log2(max(2, max_hops)))) + 1)

    def double(state, i, checkpoint):
        jump = state.select(
            F.col("src").alias("j_src"),
            F.col("cur").alias("j_cur"),
            F.col("hops").alias("j_hops"),
        )
        advanced = F.col("j_src").isNotNull() & ~F.col("done")
        state = checkpoint(
            state.join(jump, state.cur == F.col("j_src"), "left")
            .select(
                "src",
                F.when(advanced, F.col("j_cur")).otherwise(F.col("cur")).alias("cur"),
                F.when(advanced, F.col("hops") + F.col("j_hops"))
                .otherwise(F.col("hops"))
                .alias("hops"),
                # a position with no outgoing entry is terminal
                (F.col("done") | F.col("j_src").isNull()).alias("done"),
            )
        )
        return state, state.filter(~F.col("done"))

    # a cycle never resolves, so an unconverged end is the contract, not an error
    state, _, _ = _iterate("resolve_redirects", double, state, rounds)
    return state.select(
        "src",
        F.when(F.col("done"), F.col("cur")).alias("final_url"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        (~F.col("done")).alias("unresolved"),
    )


def cocitation_project(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_df: int | None = None,
    min_weight: int = 1,
) -> DataFrame:
    """(node_a, node_b, weight) — the co-citation projection of a
    bipartite edge list: two LEFT nodes connect with weight = how many
    RIGHT nodes they share.  This is how a page–page similarity graph is
    built from the page→term triple edges (and a term–term one from the
    transpose): community detection / LPA on the RAW bipartite list just
    welds everything through the hubs, while the projection carries the
    actual co-citation signal.

    Scale shape: one self-join keyed on the right-hand node + one hash
    aggregate.  A right-hand hub with degree d emits d²/2 pairs — the
    quadratic hub wall every projection has — so ``max_df`` drops
    right nodes above that document frequency BEFORE the join (same
    rationale as the PMI/TF-IDF df-cut: a term cited by everyone
    carries no co-citation signal; the df computation is one cheap
    aggregate on the projection side).  ``min_weight`` prunes the long
    tail of single-shared-term pairs after the aggregate.  Deterministic;
    pairs are emitted once with ``node_a < node_b``.
    """
    e = edges.select(F.col(src).alias("l"), F.col(dst).alias("r")).filter(
        F.col("l").isNotNull() & F.col("r").isNotNull()
    ).distinct()
    if max_df is not None:
        keep = (
            e.groupBy("r")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("r")
        )
        e = e.join(keep, "r")
    pairs = (
        e.alias("x")
        .join(e.alias("y"), "r")
        .filter(F.col("x.l") < F.col("y.l"))
        .groupBy(F.col("x.l").alias("node_a"), F.col("y.l").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    if min_weight > 1:
        pairs = pairs.filter(F.col("weight") >= min_weight)
    return pairs
