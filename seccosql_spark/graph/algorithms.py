"""Graph analytics built on the message-passing / iteration substrate.

The reference ships the substrate (``messagePassing`` + ``Recursion``,
SeccoGraphFrame.scala:104-146) and its benchmark suite runs PageRank-shaped
iteration matrices (``benchmark/testcases/graphAnalytic.scala``, disabled).
These are the standard algorithms expressed on our substrate; every round is
a distributed DataFrame plan (join on src + groupBy dst = two shuffles),
checkpointed per round.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seccosql_spark.operators.recursion import checkpoint, iterate


def _nodes(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    return (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
    )


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(id, in_degree, out_degree) — one pass, two partial aggregations."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        _nodes(edges, src, dst)
        .join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .select(
            "id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
    )


PAGERANK_SCALE = 10**12
PAGERANK_DAMPING_NUM = 85
PAGERANK_DAMPING_DEN = 100


def pagerank(
    edges: DataFrame,
    rounds: int = 5,
    damping_num: int = PAGERANK_DAMPING_NUM,
    damping_den: int = PAGERANK_DAMPING_DEN,
    scale: int = PAGERANK_SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank, `rounds` synchronous supersteps. Returns (id, rank).

    Arithmetic is exact fixed-point: rank mass is a BIGINT scaled by
    `scale`, and every division is integer division (Spark ``DIV`` ==
    DuckDB ``//`` on non-negative BIGINTs), so the result is fully
    deterministic — independent of partitioning, aggregation order, and
    engine — and hash-matches a closed-form SQL oracle. Float PageRank
    (the usual formulation) is order-dependent across group sums, which
    is exactly what a distributed differential test cannot tolerate.

    Dangling mass is redistributed uniformly via a 1-row aggregate
    crossJoined into the update (no driver collect in the loop; the
    1-row side becomes a broadcast nested-loop join).

    Note: because every division floors, total rank mass strictly
    decreases each round — ranks are a deterministic approximation whose
    sum is slightly below 1.0. Acceptable for differential testing; not
    for consumers expecting an exact probability distribution.
    """
    # Materialize the pruned edge list and the O(n) degree vector ONCE (r16,
    # guide §2.4/§5): both are consumed in EVERY superstep (edges in the
    # contribution join, out_deg twice — shares + dangling), and an
    # unmaterialized plan re-derives the caller's edge pipeline per use.
    e, _ = checkpoint(edges.select(src, dst))
    nodes, got = checkpoint(_nodes(e, src, dst))
    n_nodes = got["__n"]
    out_deg, _ = checkpoint(
        e.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    )
    # (1-d)/n at fixed point; Python bigints keep it exact at plan time.
    base_fp = (damping_den - damping_num) * scale // (damping_den * n_nodes)
    init = nodes.select("id", F.lit(scale // n_nodes).cast("long").alias("v"))

    def step(state: DataFrame) -> DataFrame:
        # per-source share: v DIV deg (dangling nodes drop out of the inner join)
        shares = state.join(out_deg, "id").select(
            F.col("id").alias("__sid"), F.expr("v DIV deg").alias("t")
        )
        contrib = (
            e.join(shares, F.col(src) == F.col("__sid"))
            .groupBy(F.col(dst).alias("id"))
            .agg(F.sum("t").cast("long").alias("c"))
        )
        dangling = (
            state.join(out_deg, "id", "left")
            .filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("__dang"))
        )
        return (
            nodes.crossJoin(dangling)
            .join(contrib, "id", "left")
            .select(
                "id",
                F.expr(
                    f"CAST({base_fp} + ({damping_num} * (coalesce(c, CAST(0 AS BIGINT))"
                    f" + (__dang DIV {n_nodes}))) DIV {damping_den} AS BIGINT)"
                ).alias("v"),
            )
        )

    out = iterate(init, step, rounds)
    return out.select("id", (F.col("v").cast("double") / F.lit(float(scale))).alias("rank"))


def connected_components_star(
    edges: DataFrame, max_rounds: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds vs O(diameter) for min-label propagation,
    which is the difference between ~5 and ~50 shuffle rounds on a long
    duplicate-chain graph at corpus scale. Each round is two
    groupBy-min + join passes over a shrinking edge set; all BIGINT, so
    results are deterministic and identical to connected_components().

    One job per round: the round's edge count rides its checkpoint, and the
    exact set-equality probe runs only when that count equals the previous
    round's. The node set comes from the unfiltered edges, so a node whose
    only edge is a self-loop is its own component."""
    canon, got = checkpoint(
        edges.select(F.col(src).cast("long").alias("x"), F.col(dst).cast("long").alias("y"))
        .selectExpr("least(x, y) AS lo", "greatest(x, y) AS hi")
        .distinct(),
        F.expr("count_if(lo <> hi) AS __e"),
    )
    e, n_e = canon.filter("lo <> hi"), got["__e"]
    all_nodes = (
        canon.select(F.col("lo").alias("id")).unionByName(canon.select(F.col("hi").alias("id")))
    ).distinct()

    def _sym(pairs: DataFrame) -> DataFrame:
        return pairs.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            pairs.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    for _ in range(max_rounds):
        sym = _sym(e)
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
        )
        sym2 = _sym(large.distinct())
        # small-star: every neighbor v <= u (plus u) links to
        # min({v ∈ N(u): v <= u} ∪ {u})
        small_nb = sym2.filter(F.col("v") < F.col("u"))
        smins = small_nb.groupBy("u").agg(F.min("v").alias("m"))
        small, got = checkpoint(
            small_nb.join(smins, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .unionByName(smins.select(F.col("u").alias("x"), F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
            .distinct()
        )
        # fixpoint: the edge relation stopped changing (both are distinct sets,
        # so equal counts + empty difference is an exact check)
        done = got["__n"] == n_e and small.exceptAll(e).isEmpty()
        e, n_e = small, got["__n"]
        if done:
            break
    # at fixpoint every edge is (component-min, member)
    comp = e.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    return all_nodes.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def _sym_neighbors(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct undirected neighbor pairs (a, b): both orientations of every
    edge, deduplicated — the simple-graph view used by the neighborhood
    analytics below."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )


def kcore(
    edges: DataFrame, k: int, max_rounds: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, degree) of the k-core: iteratively peel nodes of degree < k from
    the undirected simple graph until fixpoint. Degree recomputation each
    round touches only surviving edges (semi-join on the alive set), so a
    round is two hash joins + one aggregation; rounds needed = peel depth
    (typically << max_rounds). Integer-only — deterministic."""
    if max_rounds < 1:
        raise ValueError(f"kcore needs max_rounds >= 1, got {max_rounds}")
    nb, _ = checkpoint(_sym_neighbors(edges, src, dst))
    alive, got = checkpoint(nb.select(F.col("a").alias("id")).distinct())
    for _ in range(max_rounds):
        n_prev = got["__n"]
        deg = (
            nb.join(alive.select(F.col("id").alias("a")), "a")
            .join(alive.select(F.col("id").alias("b")), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        survivors, got = checkpoint(deg.filter(F.col("degree") >= k))
        if got["__n"] in (n_prev, 0):
            return survivors
        alive = survivors.select("id")
    return survivors


def ktruss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 32,
    src: str = "src",
    dst: str = "dst",
    stats: list | None = None,
) -> DataFrame:
    """(a, b, support) edges of the k-truss: the maximal subgraph in which
    every edge closes >= k-2 triangles — the EDGE-cohesion analog of kcore
    (reference lineage: the I-series analytics family,
    benchmark/testcases/graphAnalytic.scala). Peel edges whose support
    (triangles within the CURRENT subgraph) falls below k-2 until fixpoint;
    `support` in the output is computed within the final truss.

    Triangles are enumerated ONCE on the canonical a<b edge set (two hash
    joins — never the full wedge set of the symmetric view). After that,
    supports are maintained INCREMENTALLY (VERDICT r07 finding 2): each
    peel round joins only the delta — the edges being removed — against the
    current edge set to find the triangles they destroy, and decrements the
    two surviving partner edges of each. Per-round cost is proportional to
    the removed edges' triangle counts, not the graph's; a triangle whose
    edges die in the same round is distinct-ed so it decrements once. State
    is the shrinking (a, b, support) set, checkpointed each round; the
    round's peel count rides that SAME checkpoint (``recursion.checkpoint``),
    so a peel round costs exactly one action, and shuffle partitions are
    re-derived from the observed remainder size per round (scale-adaptive,
    clamped to the session's configured value).
    Raises on budget exhaustion instead of returning a non-truss.

    If ``stats`` is a list, appends one dict per peel round with
    ``n_removed`` (delta edges) and ``n_destroyed`` (triangles enumerated
    that round) — the scale-shape evidence that rounds after the first do
    delta-sized work. Costs two extra checkpoint jobs per round; leave None
    in production."""
    if k < 3:
        raise ValueError(f"ktruss needs k >= 3, got {k}")
    if max_rounds < 1:
        raise ValueError(f"ktruss needs max_rounds >= 1, got {max_rounds}")
    spark = edges.sparkSession
    _pf_release, _tune_parts = _enter_parallelism_first_off(spark)

    def _ckpt_peel(df: DataFrame):
        """Checkpoint the (a, b, support) state with the NEXT round's peel
        count riding the same action — one job per round."""
        out, got = checkpoint(df, F.expr(f"count_if(support < {k - 2}) AS __peel"))
        return out, got["__n"], got["__peel"] or 0

    def _edge_roles(tri: DataFrame) -> DataFrame:
        """The three edges of each canonical triangle (a < b < c)."""
        return (
            tri.select("a", "b")
            .unionByName(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
            .unionByName(tri.select("a", F.col("c").alias("b")))
        )

    try:
        e, _ = checkpoint(
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

        # one-time full enumeration: initial per-edge supports (0 for edges
        # in no triangle — materialized via left join so they peel in round 1)
        bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
        ac = e.select("a", F.col("b").alias("c"))
        tri0 = e.join(bc, "b").join(ac, ["a", "c"])  # (a < b < c)
        sup0 = _edge_roles(tri0).groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        state, n_edges, n_peel = _ckpt_peel(
            e.join(sup0, ["a", "b"], "left").na.fill({"support": 0})
        )
        _tune_parts(n_edges)
        for _ in range(max_rounds):
            if n_peel == 0:
                return state.select(
                    F.col("a").cast("long"), F.col("b").cast("long"),
                    F.col("support").cast("long"),
                )
            removed = state.filter(F.col("support") < k - 2).select("a", "b")
            n_removed = n_peel
            keep = state.filter(F.col("support") >= k - 2)
            if stats is not None:
                removed, _ = checkpoint(removed)
            # triangles (in the PRE-removal graph) containing >= 1 removed
            # edge: join the delta into each of the three edge roles;
            # distinct so a triangle losing 2-3 edges at once is destroyed
            # exactly once
            e_cur = state.select("a", "b")
            ebc = e_cur.select(F.col("a").alias("b"), F.col("b").alias("c"))
            eac = e_cur.select("a", F.col("b").alias("c"))
            r_bc = removed.select(F.col("a").alias("b"), F.col("b").alias("c"))
            r_ac = removed.select("a", F.col("b").alias("c"))
            destroyed = (
                removed.join(ebc, "b").join(eac, ["a", "c"])       # delta in ab role
                .unionByName(e_cur.join(r_bc, "b").join(eac, ["a", "c"]))  # bc role
                .unionByName(e_cur.join(r_ac, "a").join(ebc, ["b", "c"]))  # ac role
                .distinct()
            )
            if stats is not None:
                destroyed, got = checkpoint(destroyed)
                stats.append({"n_removed": n_removed, "n_destroyed": got["__n"]})
            dec = (
                _edge_roles(destroyed)
                .join(removed, ["a", "b"], "left_anti")  # dying edges need no update
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("__dec"))
            )
            state, n_edges, n_peel = _ckpt_peel(
                keep.join(dec, ["a", "b"], "left")
                .select(
                    "a", "b",
                    (F.col("support") - F.coalesce(F.col("__dec"), F.lit(0))).alias("support"),
                )
            )
            _tune_parts(n_edges)
    finally:
        _pf_release()
    raise RuntimeError(
        f"ktruss did not converge within max_rounds={max_rounds} "
        f"(peel depth exceeds the budget); raise max_rounds"
    )


def sssp(
    weighted_edges: DataFrame,
    source: int,
    max_rounds: int = 64,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """(id, dist) single-source shortest paths over positive integer edge
    weights: synchronous Bellman-Ford, stopping as soon as a relaxation round
    improves nothing. Distances are BIGINTs — exact, engine-independent. Each
    round is one join on src + one min-aggregation on dst (two shuffles) and
    one job: the merged state carries each node's previous distance, and the
    count of improved nodes is observed on its checkpoint."""
    edges, _ = checkpoint(
        weighted_edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).cast("long").alias("w")
        )
    )
    state, _ = checkpoint(
        edges.sparkSession.sql(f"SELECT CAST({source} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist")
    )
    for _ in range(max_rounds):
        relaxed = (
            state.join(edges, state["id"] == edges["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .selectExpr("id", "dist", "CAST(NULL AS BIGINT) AS old")
        )
        merged, got = checkpoint(
            state.selectExpr("id", "dist", "dist AS old")
            .unionByName(relaxed)
            .groupBy("id")
            .agg(F.expr("min(dist) AS dist"), F.expr("min(old) AS old")),
            F.expr("count_if(old IS NULL OR dist < old) AS __imp"),
        )
        state = merged.select("id", "dist")
        if got["__imp"] == 0:
            break
    return state


def label_propagation(
    edges: DataFrame, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, label) after `rounds` SYNCHRONOUS label-propagation supersteps on
    the undirected simple graph. Every node adopts the most frequent label
    among its neighbors, ties broken by the smallest label — a total order,
    so unlike textbook async LPA the result is deterministic and
    differentially testable. Fixed round count (community detection has no
    natural fixpoint: labels can oscillate)."""
    nb, _ = checkpoint(_sym_neighbors(edges, src, dst))
    win = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("label").asc())

    def step(state: DataFrame) -> DataFrame:
        return (
            nb.join(state.select(F.col("id").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("id", "label")
        )

    init = nb.select(F.col("a").alias("id")).distinct().select("id", F.col("id").alias("label"))
    return iterate(init, step, rounds)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, triangles, wedges) per vertex on the undirected simple graph:
    `triangles` = adjacent neighbor pairs, `wedges` = deg*(deg-1)/2. Both are
    exact BIGINTs — the coefficient is their ratio, left to the caller so the
    differential gate never compares floats. Plan: the neighbor-pair join is
    bounded by triangle count (each neighbor pair probes one hash lookup)."""
    nb, _ = checkpoint(_sym_neighbors(edges, src, dst))
    deg = nb.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pair = (
        nb.select(F.col("a").alias("v"), F.col("b").alias("n1"))
        .join(nb.select(F.col("a").alias("v"), F.col("b").alias("n2")), "v")
        .filter(F.col("n1") < F.col("n2"))
    )
    tri = (
        pair.join(
            nb.select(F.col("a").alias("n1"), F.col("b").alias("n2")), ["n1", "n2"]
        )
        .groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.expr("CAST(deg * (deg - 1) DIV 2 AS BIGINT)").alias("wedges"),
        )
    )


def common_neighbors(
    edges: DataFrame, top: int = 20, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(u, v, common) — the `top` non-ordered vertex pairs ranked by shared
    undirected neighbors (the classic link-prediction score), ties broken by
    (u, v) so the LIMIT set is deterministic. One self-join on the neighbor
    relation keyed by the shared neighbor; at scale the hub-neighbor skew is
    the risk, mitigated the same way as wedge counting (cap/salt hot b's
    upstream if degree distribution demands it)."""
    nb = _sym_neighbors(edges, src, dst)
    return (
        nb.select(F.col("b").alias("via"), F.col("a").alias("u"))
        .join(nb.select(F.col("b").alias("via"), F.col("a").alias("v")), "via")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
        .orderBy(F.col("common").desc(), "u", "v")
        .limit(top)
    )


def connected_components(
    edges: DataFrame, max_rounds: int = 50, src: str = "src", dst: str = "dst",
    strict: bool = False,
) -> DataFrame:
    """(id, component): min-id label propagation to fixpoint over the
    undirected graph. Integer-only — deterministic. Converges in O(diameter)
    rounds; the change-count action doubles as the per-round checkpoint.
    ``strict=True`` RAISES when the budget runs out before fixpoint — a
    component with diameter > max_rounds would otherwise be silently split
    (the budget discipline of the other iterative kernels)."""
    if max_rounds < 1:
        raise ValueError(f"connected_components needs max_rounds >= 1, got {max_rounds}")
    # Materialize the symmetric edge view ONCE (r16, guide §2.4/§5): it is
    # joined every round (plus the strict probe), and an unmaterialized plan
    # re-derives the caller's whole edge pipeline per round — for the LSH
    # near-dup clustering rows that was the full shingle/signature/band/verify
    # chain once per propagation round. O(2|E|) rows of 2 pruned columns, the
    # same bound connected_components_star already materializes.
    sym, _ = checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    )
    # node set = distinct sources of the symmetric view (both orientations
    # are present, so this is src ∪ dst without another upstream derivation)
    state, _ = checkpoint(
        sym.select(F.col("a").alias("id")).distinct().select("id", F.col("id").alias("component"))
    )
    for _ in range(max_rounds):
        candidates = (
            sym.join(state.select(F.col("id").alias("a"), "component"), "a")
            .select(F.col("b").alias("id"), "component")
            .groupBy("id")
            .agg(F.min("component").alias("new_component"))
        )
        # one job per round: the changed-label count rides the checkpoint
        improved, got = checkpoint(
            state.join(candidates, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("new_component", F.col("component"))).alias(
                    "next"
                ),
                "component",
            ),
            F.expr("count_if(next < component) AS __ch"),
        )
        n_changed = got["__ch"]
        state = improved.select("id", F.col("next").alias("component"))
        if n_changed == 0:
            break
    else:
        if strict and n_changed:
            # The last budgeted round made progress, which is NOT proof of
            # non-convergence: a dup-chain whose diameter equals max_rounds
            # converges on exactly that round and a zero-change confirming
            # round never ran (ADVICE r09). One extra change-count PROBE
            # (propagate, count strict improvements, discard) separates
            # "converged on the wire" from "still spreading" before raising.
            probe = (
                sym.join(state.select(F.col("id").alias("a"), "component"), "a")
                .select(F.col("b").alias("id"), "component")
                .groupBy("id")
                .agg(F.min("component").alias("new_component"))
                .join(state, "id")
                .filter(F.col("new_component") < F.col("component"))
                .count()
            )
            if probe:
                raise RuntimeError(
                    f"connected_components: still {probe} labels changing after "
                    f"{max_rounds} rounds; raise max_rounds (component diameter "
                    "exceeds the budget)"
                )
    return state


def strongly_connected_components_closure(
    edges: DataFrame, max_rounds: int = 50, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, scc) via full transitive closure + mutual-reachability min — the
    small-graph oracle kernel. Exact, but materializes O(n·reach) reach
    pairs; `strongly_connected_components` (coloring, below) is the scale
    path and is differentially tested against this on random graphs.
    `strict=True` makes a diameter > max_rounds raise instead of silently
    splitting components (ADVICE r05)."""
    from seccosql_spark.operators.recursion import bounded_fixpoint

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))

    def step(delta: DataFrame) -> DataFrame:
        return (
            delta.alias("d")
            .join(e.alias("e"), F.col("d.b") == F.col("e.a"))
            .select(F.col("d.a").alias("a"), F.col("e.b").alias("b"))
        )

    reach = bounded_fixpoint(e, step, max_rounds=max_rounds, strict=True)
    back = reach.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = reach.intersect(back)  # v→*u and u→*v, v != u (unless self-loop path)
    best = mutual.groupBy("a").agg(F.min("b").alias("m"))
    return (
        _nodes(edges, src, dst)
        .join(best.withColumnRenamed("a", "id"), "id", "left")
        .select("id", F.least(F.col("id"), F.coalesce("m", F.col("id"))).alias("scc"))
    )


def _local_scc(nodes: list[int], edge_pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Iterative Tarjan over a collected remainder: [(id, min-member-id)].
    Pure so the serial finish is unit-testable without a Spark job."""
    adj: dict[int, list[int]] = {}
    for a, b in edge_pairs:
        adj.setdefault(a, []).append(b)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    out: list[tuple[int, int]] = []
    counter = 0
    for root in nodes:
        if root in index:
            continue
        # explicit DFS stack of (vertex, next-neighbor-offset)
        work: list[list[int]] = [[root, 0]]
        while work:
            frame = work[-1]
            v, pi = frame
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            nbrs = adj.get(v, ())
            descended = False
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    frame[1] = pi
                    work.append([w, 0])
                    descended = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            frame[1] = pi
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                comp: list[int] = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                out.extend((w, m) for w in comp)
    return out


_PF_KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
_SP_KEY = "spark.sql.shuffle.partitions"
# Target shuffle rows per partition for fixpoint state (narrow (id, color)
# rows, ~16-32 bytes each -> ~2M rows is a few tens of MB per partition —
# inside the guide's 100MB-1GB advisory once overheads are counted, and
# small enough that a 1B-node state still fans out over ~500 partitions).
# Overridable per deployment: spark.seccosql.fixpoint.rowsPerPartition.
_FIXPOINT_ROWS_PER_PARTITION = 2_000_000
_FP_ROWS_KEY = "spark.seccosql.fixpoint.rowsPerPartition"
# Finish-Computations-Serially threshold (Salihoglu & Widom VLDB'14 §FCS —
# the same paper this SCC kernel's shape comes from): once the remainder is
# at most this many edges, collect it and finish with serial Tarjan instead
# of paying O(diameter) more latency-bound distributed rounds. 100k edges is
# ~1.6 MB collected — the same order as Spark's default broadcast threshold —
# and after trim the node count is bounded by the edge count, so the collect
# is provably small. 0 disables (pure distributed path, used by the
# round-shape unit tests).
_LOCAL_FINISH_EDGES = 100_000
_LF_KEY = "spark.seccosql.fixpoint.localFinishEdges"
_PF_LOCK = threading.Lock()
# per-SparkSession depth/saved-value, keyed by the live session object so
# two sessions' overlapping kernel runs each get their own override and
# restore (ADVICE r14: a module-global depth let the second session run
# without the setting and restored only the first). Keys hold the session
# alive only for the duration of the run: the matching release pops them.
_PF_STATE: dict[int, list] = {}


def _enter_parallelism_first_off(spark):
    """Depth-counted, per-session conf override for the fixpoint kernels:
    the OUTERMOST kernel run on a given SparkSession saves that session's
    current values and sets parallelismFirst='false'; only the matching
    release restores them. Reentrant and thread-safe per session, and
    independent across sessions. Returns (release, tune_partitions):
    ``release`` for a try/finally, and ``tune_partitions(n_rows)`` to
    re-derive spark.sql.shuffle.partitions from the OBSERVED round state
    size (guide §2: make partitioning scale-adaptive — derive from input
    size, never a constant tuned for one deployment). The derived count is
    clamped to [1, saved session value]: big early rounds keep the
    deployment's parallelism, shrunken remainders stop paying hundreds of
    empty-task launches per round (measured r16: 60-row SCC state under 32
    static partitions spent 2.6x the kernel's wall time on task launches).
    Rows-per-partition is conf-overridable (``_FP_ROWS_KEY``)."""
    key = id(spark)
    with _PF_LOCK:
        st = _PF_STATE.get(key)
        if st is None:
            st = _PF_STATE[key] = [
                0,
                spark.conf.get(_PF_KEY, None),
                spark,
                spark.conf.get(_SP_KEY, None),
            ]
            spark.conf.set(_PF_KEY, "false")
        st[0] += 1
    try:
        saved_parts = int(st[3])
    except (TypeError, ValueError):
        try:
            saved_parts = int(spark.sparkContext.defaultParallelism)
        except Exception:  # conf-only session doubles in unit tests
            saved_parts = 200
    try:
        rows_per_part = int(spark.conf.get(_FP_ROWS_KEY, ""))
    except (TypeError, ValueError):
        rows_per_part = _FIXPOINT_ROWS_PER_PARTITION

    def tune_partitions(n_rows: int) -> None:
        parts = max(1, min(saved_parts, -(-int(n_rows) // rows_per_part)))
        with _PF_LOCK:
            if _PF_STATE.get(key) is not None:
                spark.conf.set(_SP_KEY, str(parts))

    def release() -> None:
        with _PF_LOCK:
            st = _PF_STATE.get(key)
            if st is None:
                return
            st[0] -= 1
            if st[0] == 0:
                del _PF_STATE[key]
                for k, saved in ((_PF_KEY, st[1]), (_SP_KEY, st[3])):
                    if saved is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, saved)

    return release, tune_partitions


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 200,
    src: str = "src",
    dst: str = "dst",
    stats: dict | None = None,
    local_finish_edges: int | None = None,
) -> DataFrame:
    """(id, scc): DIRECTED strongly-connected components, exactly — the
    directed sibling of `connected_components`. scc = min id of the
    component (same labeling as the closure oracle).

    Method — trim + forward-max coloring + same-color backward reach (the
    Pregel SCC shape, Salihoglu & Widom VLDB'14 "Optimizing Graph Algorithms
    on Pregel-like Systems"; reference lineage: the I-series analytics,
    benchmark/testcases/graphAnalytic.scala:11-557). Outer passes over the
    shrinking remainder graph:

      1. TRIM: any node with no in-edge or no out-edge in the remainder is a
         singleton SCC — peel to fixpoint (kills chains/trees in
         O(depth) rounds of two aggregations each).
      2. COLOR: propagate color(v) = max{u : u →* v} forward to fixpoint
         (O(diameter) rounds of one join + one max-aggregation). Roots are
         nodes with color(v) = v.
      3. BACKWARD REACH: from each root c, walk reversed edges restricted to
         color class c; the reached set IS SCC(c). (Exactness: color(v)=c
         means c→*v; if also v→*c then every node on the v→c path is
         mutually reachable with c, hence same color — so the restriction
         loses nothing, and mutual reachability with the root is exactly
         SCC membership.)
      4. Label found SCCs with their min member id, remove them, repeat.

    Scale: state is O(n) (id, color) rows and the per-round work is one
    edge-relation join — reach-pairs are NEVER materialized, unlike the
    closure kernel. Rounds: each inner fixpoint is ≤ the remainder's
    diameter; outer passes are bounded by the condensation-DAG depth (each
    pass removes every root's SCC — at minimum the SCC of the largest
    remaining id — plus everything trim peels). `max_rounds` bounds every
    INNER fixpoint; non-convergence raises (no silent truncation).
    `stats`, when given, is filled with round/pass counters and the largest
    materialized state (for the no-quadratic-intermediate test).

    Serial finish (r16, guide §1.2 "the distributed algorithm" — and the
    FCS optimization of the same Salihoglu & Widom paper): once the
    remainder is ≤ ``local_finish_edges`` edges (None → conf ``_LF_KEY``,
    default 100k ≈ 1.6 MB), it is collected and finished with one serial
    Tarjan pass instead of O(diameter) more latency-bound rounds. The check
    sits AFTER the trim fixpoint, where every remaining node has in- and
    out-degree ≥ 1, so nodes ≤ edges and the collect is provably bounded by
    the threshold. 0 disables (pure distributed path).

    Job economy (VERDICT r13 task 3 — on a fixpoint kernel the cost driver
    is JOB COUNT, not data): every convergence/emptiness probe rides the
    round's own materialization via ``Observation`` metrics (one action
    per round — no separate count()/isEmpty() jobs); the trim probe is ONE
    flagged outer join off a single union-aggregate of the edge endpoints
    (the old srcs.distinct ∩ dsts.distinct shape paid three shuffles); and
    narrow derivations of checkpointed frames (color init, roots, the
    backward-reach union) are never re-checkpointed.

    Ids must be integral (byte/short/int/long): the kernel orders and casts
    ids to long, so string-id graphs raise TypeError here rather than
    silently becoming NULL-keyed components after the cast (ADVICE r06).
    For arbitrary id types use `strongly_connected_components_closure`."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    for col in (src, dst):
        dt = edges.schema[col].dataType
        if not isinstance(dt, integral):
            raise TypeError(
                f"strongly_connected_components requires integral vertex ids; "
                f"column {col!r} is {dt.simpleString()} — use "
                f"strongly_connected_components_closure for non-numeric ids"
            )
    st = {"outer_passes": 0, "trim_rounds": 0, "color_rounds": 0, "bw_rounds": 0,
          "max_state_rows": 0}
    spark = edges.sparkSession
    # Fixpoint rounds are many small actions over O(n) state: let AQE
    # coalesce them by its advisory partition SIZE instead of keeping
    # parallelism up (parallelismFirst trades per-stage latency for
    # parallelism that tiny per-round states cannot use; large states
    # still split by size). Scoped via a depth-counted, lock-guarded
    # save/restore (review r14): two overlapping kernel runs on one
    # session must not leave the conf permanently overridden. r16: the
    # same scope now also re-derives shuffle.partitions per round from the
    # OBSERVED remainder edge count (AQE coalescing fixes the read side of
    # each exchange but every map stage still launched a full static
    # partition fan-out of reducers' worth of shuffle writers; on a tiny
    # remainder that task-launch overhead was ~2.6x the kernel's real
    # work). Clamped to the session's configured value, so large graphs
    # keep full parallelism and the driver's low-core bench is unaffected.
    _pf_release, _tune_parts = _enter_parallelism_first_off(spark)
    if local_finish_edges is None:
        try:
            local_finish_edges = int(spark.conf.get(_LF_KEY, ""))
        except (TypeError, ValueError):
            local_finish_edges = _LOCAL_FINISH_EDGES

    def _ckpt(df: DataFrame, *metrics):
        """``checkpoint`` plus the max_state_rows accounting, which reads the
        row count every checkpoint observes anyway."""
        out, got = checkpoint(df, *metrics)
        st["max_state_rows"] = max(st["max_state_rows"], got["__n"])
        return out, got

    try:
        ecast = edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        e0, got = _ckpt(ecast.filter(F.col("a") != F.col("b")).distinct())
        # every in-kernel shuffle is bounded by the remainder edge count;
        # size reducer counts from it (re-tuned as the remainder shrinks)
        n_erem = got["__n"]
        _tune_parts(n_erem)
        # ALL nodes, including self-loop-only ones (their edges are dropped
        # from e0): with no in/out edge in the remainder, the FIRST trim
        # round peels them as singleton SCCs — which lets the final result
        # be the plain union of the found parts, with no restore join
        # re-scanning the raw edge source. Left LAZY: the first trim round's
        # flagged join materializes it (and observes its count) anyway.
        all_nodes = _nodes(ecast, "a", "b")
        n_rem: int | None = None  # unknown until the first trim observation

        done_parts: list[DataFrame] = []
        rem_nodes = all_nodes  # (id)
        rem_e = e0  # (a, b)
        # Outer termination is structural (every pass removes >= 1 SCC); the cap
        # is a runaway guard only — #SCCs <= #nodes, and passes <= condensation depth.
        for _ in range(1_000_000):
            if n_rem == 0:
                break
            st["outer_passes"] += 1
            # -- 1. trim to fixpoint: peel nodes lacking an in- or out-edge.
            # One aggregation derives interior-ness for both endpoints at once;
            # one flagged outer join materializes the partition of rem_nodes,
            # and the trimmed/kept sides are narrow filters of that checkpoint.
            # Raises at budget exhaustion like the other two fixpoints — the
            # documented contract is "max_rounds bounds every INNER fixpoint;
            # non-convergence raises" (ADVICE r06).
            converged = False
            for _t in range(max_rounds + 1):
                interior = (
                    rem_e.select(F.col("a").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i"))
                    .unionByName(
                        rem_e.select(F.col("b").alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
                    )
                    .groupBy("id")
                    .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                    .filter((F.col("o") == 1) & (F.col("i") == 1))
                    .select("id", F.lit(1).alias("__keep"))
                )
                marked, got = _ckpt(
                    rem_nodes.join(interior, "id", "left"),
                    F.sum(F.when(F.col("__keep").isNull(), 1).otherwise(0)).alias("__tr"),
                )
                n_trimmed = got["__tr"] or 0
                n_rem = got["__n"] - n_trimmed
                if n_trimmed == 0:
                    # nothing peeled: marked IS the remainder, already
                    # checkpointed — reuse it so a lazy first-pass
                    # rem_nodes never recomputes inside the color rounds
                    rem_nodes = marked.select("id")
                    converged = True
                    break
                st["trim_rounds"] += 1
                trimmed = marked.filter(F.col("__keep").isNull()).select("id")
                done_parts.append(trimmed.select("id", F.col("id").alias("scc")))
                rem_nodes = marked.filter(F.col("__keep") == 1).select("id")
                if n_rem == 0:
                    break
                rem_e, got_e = _ckpt(
                    rem_e.join(trimmed.withColumnRenamed("id", "a"), "a", "left_anti")
                    .join(trimmed.withColumnRenamed("id", "b"), "b", "left_anti")
                    .select("a", "b")
                )
                n_erem = got_e["__n"]
                _tune_parts(n_erem)
            if not converged and n_rem > 0:
                raise RuntimeError(
                    f"SCC trim did not reach fixpoint within max_rounds={max_rounds} "
                    f"(remainder peeling depth exceeds the budget); raise max_rounds"
                )
            if n_rem == 0:
                break
            # -- FCS serial finish: after trim every remaining node has in-
            # and out-degree >= 1, so n_rem <= n_erem and both collects are
            # bounded by the threshold. One serial Tarjan pass replaces
            # O(diameter) coloring + backward-reach rounds of driver latency.
            if local_finish_edges and n_erem <= local_finish_edges:
                pairs = [(r[0], r[1]) for r in rem_e.select("a", "b").collect()]
                ids = sorted(r[0] for r in rem_nodes.select("id").collect())
                st["local_finish_edges"] = len(pairs)
                done_parts.append(
                    spark.createDataFrame(
                        _local_scc(ids, pairs), "id BIGINT, scc BIGINT"
                    )
                )
                n_rem = 0
                break
            # -- 2. forward-max coloring to fixpoint (one job per round: the
            # changed-label count rides the round's own materialization)
            color = rem_nodes.select("id", F.col("id").alias("color"))
            converged = False
            for _c in range(max_rounds):
                st["color_rounds"] += 1
                cand = (
                    rem_e.join(color.withColumnRenamed("id", "a"), "a")
                    .groupBy(F.col("b").alias("id"))
                    .agg(F.max("color").alias("nc"))
                )
                merged, got = _ckpt(
                    color.join(cand, "id", "left")
                    .select(
                        "id",
                        F.greatest(F.col("color"), F.coalesce("nc", F.col("color"))).alias("next"),
                        "color",
                    ),
                    F.sum((F.col("next") > F.col("color")).cast("long")).alias("__ch"),
                    # root count rides along: with the per-frontier counts it
                    # gives |bw| arithmetically, so the LAST pass needs no
                    # remainder-count action at all
                    F.sum((F.col("next") == F.col("id")).cast("long")).alias("__rt"),
                )
                color = merged.select("id", F.col("next").alias("color"))
                n_roots = got["__rt"] or 0
                if (got["__ch"] or 0) == 0:
                    converged = True
                    break
            if not converged:
                raise RuntimeError(
                    f"SCC coloring did not converge within max_rounds={max_rounds} "
                    f"(remainder diameter exceeds the budget); raise max_rounds"
                )
            # -- 3. backward reach from roots, restricted to same-color edges.
            # bw is a union of checkpointed frontiers — never re-checkpointed.
            ce, _ = _ckpt(
                rem_e.join(color.select(F.col("id").alias("a"), F.col("color").alias("ca")), "a")
                .join(color.select(F.col("id").alias("b"), F.col("color").alias("cb")), "b")
                .filter(F.col("ca") == F.col("cb"))
                .select("a", "b", F.col("ca").alias("color"))
            )
            bw = color.filter(F.col("id") == F.col("color"))  # roots: (id, color)
            n_bw = n_roots
            converged = False
            for _b in range(max_rounds + 1):
                # distinct + anti-join, not exceptAll: bw rows are unique by
                # construction, so the anti-join is multiset-equivalent and
                # plans as a plain (AQE-broadcastable) join instead of
                # exceptAll's count-tagged union aggregate
                preds, got = _ckpt(
                    ce.join(bw.select(F.col("id").alias("b"), "color"), ["b", "color"])
                    .select(F.col("a").alias("id"), "color")
                    .distinct()
                    .join(bw, ["id", "color"], "left_anti")
                )
                if got["__n"] == 0:
                    converged = True
                    break
                st["bw_rounds"] += 1
                n_bw += got["__n"]
                bw = bw.unionByName(preds)
            if not converged:
                raise RuntimeError(
                    f"SCC backward reach did not converge within max_rounds={max_rounds}; "
                    f"raise max_rounds"
                )
            # -- 4. found SCCs: members of bw per color class, labeled min(id).
            # bw holds EXACTLY the nodes this pass removes, and every row of
            # it was counted on materialization — so the new remainder size
            # is pure arithmetic, and on the last pass (n_rem hits 0) neither
            # the remainder update nor the found frame needs an action: the
            # found rows are narrow over already-checkpointed frontiers plus
            # one labels aggregate the caller's action pays once.
            labels = bw.groupBy("color").agg(F.min("id").alias("scc"))
            found = bw.join(labels, "color").select("id", "scc")
            n_rem -= n_bw
            if n_rem == 0:
                done_parts.append(found)
                break
            found, _ = _ckpt(found)
            done_parts.append(found)
            rem_nodes, _ = _ckpt(
                rem_nodes.join(found.select("id"), "id", "left_anti")
            )
            rem_e, got_e = _ckpt(
                rem_e.join(found.select(F.col("id").alias("a")), "a", "left_anti")
                .join(found.select(F.col("id").alias("b")), "b", "left_anti")
                .select("a", "b")
            )
            _tune_parts(got_e["__n"])
        if stats is not None:
            stats.update(st)
    finally:
        _pf_release()
    if not done_parts:
        return all_nodes.select("id", F.col("id").alias("scc"))
    # every node was peeled or colored into exactly one found part (self-
    # loop-only nodes included — trim handled them), so the result is the
    # plain union of checkpointed parts: the caller's action is narrow
    return _union_all(done_parts)


def hits(
    edges: DataFrame, rounds: int = 2, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, hub, auth) after `rounds` UNNORMALIZED HITS power iterations
    (Kleinberg 1999) on the directed edge set: h_0 = 1 everywhere, then per
    round a(v) = Σ h(u) over in-edges (u, v) followed by h(u) = Σ a(v) over
    out-edges. Without the norm step the scores are exact BIGINT path
    counts — the ranking is identical to normalized HITS (normalization is
    a per-round global scalar) and the determinism discipline matches the
    rest of this module: no floats, no RNG, a SQL oracle can unroll it.

    Overflow guard (ADVICE r08): path counts grow like (degree^2)^rounds,
    and Spark's non-ANSI BIGINT arithmetic WRAPS silently where an oracle
    errors. Before each half-round the incoming vector's max is checked
    against (2^63-1)/|E| — a sum of at most |E| terms each <= that bound
    cannot wrap — and the kernel raises OverflowError instead of returning
    wrong scores. The max rides the vector's own checkpoint, so the guard
    costs no job.

    Per round: two broadcast-or-hash edge joins + two aggregations keyed on
    the node id; state is the O(n) (id, h) vector, checkpointed per round.
    Nodes missing from a side (no in- or out-edges) carry explicit zeros so
    every engine agrees on the full vector."""
    if rounds < 1:
        raise ValueError(f"hits needs rounds >= 1, got {rounds}")
    # materialized once (r16): e feeds two joins per round, and its count
    # seeds the overflow guard — an unmaterialized plan re-derives the
    # caller's edge pipeline per use
    e, got = checkpoint(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct())
    safe_max = (2**63 - 1) // max(got["__n"], 1)
    nodes, _ = checkpoint(
        e.select(F.col("s").alias("id")).unionByName(e.select(F.col("d").alias("id"))).distinct()
    )
    h, h_max = nodes.select("id", F.lit(1).cast("long").alias("h")), 1

    def _half_round(vec: DataFrame, vec_max: int, col: str, key: str, out_key: str, out: str):
        """Guard ``vec``'s observed max, then sum its scores over the edges
        into the other side's vector, checkpointed with that vector's max
        absolute score observed for the next guard."""
        if vec_max > safe_max:
            raise OverflowError(
                f"hits: unnormalized {col}-scores reached {vec_max}; the next "
                f"summation of up to |E| terms may exceed int64 (safe max "
                f"{safe_max}). Reduce rounds or normalize externally."
            )
        summed = (
            e.join(vec.withColumnRenamed("id", key), key)
            .groupBy(F.col(out_key).alias("id"))
            .agg(F.sum(col).alias(out))
        )
        res, got = checkpoint(
            nodes.join(summed, "id", "left")
            .select("id", F.coalesce(out, F.lit(0)).cast("long").alias(out)),
            F.expr(f"max(abs({out})) AS __mx"),
        )
        return res, got["__mx"] or 0

    for _ in range(rounds):
        a, a_max = _half_round(h, h_max, "h", "s", "d", "a")
        h, h_max = _half_round(a, a_max, "a", "d", "s", "h")
    return (
        h.join(a, "id")
        .select(F.col("id").cast("long"), F.col("h").alias("hub"), F.col("a").alias("auth"))
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    rounds: int = 3,
    damping_num: int = PAGERANK_DAMPING_NUM,
    damping_den: int = PAGERANK_DAMPING_DEN,
    scale: int = PAGERANK_SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: identical exact fixed-point recurrence to
    `pagerank`, except the teleport AND the dangling redistribution return
    all mass to the `sources` set (uniformly within it) instead of to every
    node — the similarity-to-seed ranking behind related-item and local
    community queries. Same BIGINT determinism contract: integer DIV
    everywhere, so an unrolled SQL oracle hash-matches bit-for-bit.

    The source set rides the plan as an IN literal (seed sets are small by
    definition — a user, a page, a seed community); everything else is the
    same two-shuffle per-round shape as global PageRank."""
    seeds = sorted(set(int(s) for s in sources))
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    n_s = len(seeds)
    in_s = F.col("id").isin(seeds)
    # same once-materialized static relations as global pagerank (r16)
    e, _ = checkpoint(edges.select(src, dst))
    nodes, _ = checkpoint(_nodes(e, src, dst))
    out_deg, _ = checkpoint(
        e.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    )
    base_fp = (damping_den - damping_num) * scale // (damping_den * n_s)
    init = nodes.select(
        "id", F.when(in_s, F.lit(scale // n_s)).otherwise(F.lit(0)).cast("long").alias("v")
    )

    def step(state: DataFrame) -> DataFrame:
        shares = state.join(out_deg, "id").select(
            F.col("id").alias("__sid"), F.expr("v DIV deg").alias("t")
        )
        contrib = (
            e.join(shares, F.col(src) == F.col("__sid"))
            .groupBy(F.col(dst).alias("id"))
            .agg(F.sum("t").cast("long").alias("c"))
        )
        dangling = (
            state.join(out_deg, "id", "left")
            .filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("__dang"))
        )
        seed_list = ", ".join(str(s) for s in seeds)
        return (
            nodes.crossJoin(dangling)
            .join(contrib, "id", "left")
            .select(
                "id",
                F.expr(
                    f"CAST((CASE WHEN id IN ({seed_list}) THEN {base_fp} ELSE 0 END)"
                    f" + ({damping_num} * (coalesce(c, CAST(0 AS BIGINT))"
                    f" + (CASE WHEN id IN ({seed_list}) THEN __dang DIV {n_s} ELSE 0 END)))"
                    f" DIV {damping_den} AS BIGINT)"
                ).alias("v"),
            )
        )

    out = iterate(init, step, rounds)
    return out.select("id", (F.col("v").cast("double") / F.lit(float(scale))).alias("rank"))


def maximal_independent_set(
    edges: DataFrame, max_rounds: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, in_mis) — a maximal independent set via DETERMINISTIC Luby
    (Luby 1986 with hash priorities instead of coin flips): every node's
    priority is the string md5(id)||'|'||zero-padded id (total order,
    collision-free by the id suffix); each round, every undecided node
    strictly smaller than all its undecided neighbors joins the MIS and
    knocks its neighbors out. Expected O(log n) rounds; each round is two
    joins + one aggregation over the shrinking undecided set, two jobs (the
    winners and the undecided set, whose observed count is the convergence
    test); the winners of all rounds are unioned once at the end.
    Deterministic — same MIS on any engine/partitioning, so an unrolled SQL
    oracle hash-matches. Raises at budget instead of returning a
    non-maximal set."""
    if max_rounds < 1:
        raise ValueError(f"need max_rounds >= 1, got {max_rounds}")
    nb, _ = checkpoint(_sym_neighbors(edges, src, dst))
    pr = F.concat(
        F.md5(F.col("id").cast("string")),
        F.lit("|"),
        F.lpad(F.col("id").cast("string"), 20, "0"),
    )
    und, _ = checkpoint(nb.select(F.col("a").alias("id")).distinct().select("id", pr.alias("pr")))
    all_nodes = und.select("id")
    wins = []
    for _ in range(max_rounds):
        nmin = (
            nb.join(und.select(F.col("id").alias("a")), "a")
            .join(und.select(F.col("id").alias("b"), F.col("pr").alias("pr_b")), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("pr_b").alias("mn"))
        )
        win, _ = checkpoint(
            und.join(nmin, "id", "left")
            .filter(F.col("mn").isNull() | (F.col("pr") < F.col("mn")))
            .select("id")
        )
        wins.append(win)
        removed = (
            nb.join(win.select(F.col("id").alias("a")), "a")
            .select(F.col("b").alias("id"))
            .distinct()
        )
        und, got = checkpoint(und.join(win, "id", "left_anti").join(removed, "id", "left_anti"))
        if got["__n"] == 0:
            return all_nodes.join(
                _union_all(wins).withColumn("__m", F.lit(1)), "id", "left"
            ).select(
                F.col("id").cast("long"), F.col("__m").isNotNull().alias("in_mis")
            )
    raise RuntimeError(
        f"maximal_independent_set did not converge within max_rounds={max_rounds}"
    )


def maximal_matching(
    edges: DataFrame, max_rounds: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(a, b, in_matching) — a maximal matching via the deterministic
    local-min rule (the edge analog of hash-priority Luby): each round, an
    undecided edge whose priority (md5 of its canonical endpoint string,
    made total by an id suffix) is the strict minimum at BOTH endpoints
    joins the matching, and all edges touching its endpoints drop out.
    Expected O(log n) rounds; per round one vertex-keyed min aggregation +
    one join over the shrinking edge set, two jobs (the winners and the
    undecided set, whose observed count is the convergence test).
    Deterministic on any engine, so an unrolled SQL oracle hash-matches."""
    if max_rounds < 1:
        raise ValueError(f"need max_rounds >= 1, got {max_rounds}")
    e0, _ = checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumn(
            "pr",
            F.concat(
                F.md5(F.concat(F.col("a").cast("string"), F.lit("|"), F.col("b").cast("string"))),
                F.lit("|"),
                F.lpad(F.col("a").cast("string"), 20, "0"),
                F.lpad(F.col("b").cast("string"), 20, "0"),
            ),
        )
    )
    und = e0
    wins = []
    for _ in range(max_rounds):
        vmin = (
            und.select(F.col("a").alias("v"), "pr")
            .unionByName(und.select(F.col("b").alias("v"), "pr"))
            .groupBy("v")
            .agg(F.min("pr").alias("mn"))
        )
        win, _ = checkpoint(
            und.join(vmin.withColumnsRenamed({"v": "a", "mn": "ma"}), "a")
            .join(vmin.withColumnsRenamed({"v": "b", "mn": "mb"}), "b")
            .filter((F.col("pr") == F.col("ma")) & (F.col("pr") == F.col("mb")))
            .select("a", "b")
        )
        wins.append(win)
        mv = (
            win.select(F.col("a").alias("v"))
            .unionByName(win.select(F.col("b").alias("v")))
            .distinct()
        )
        und, got = checkpoint(
            und.join(mv.withColumnsRenamed({"v": "a"}), "a", "left_anti")
            .join(mv.withColumnsRenamed({"v": "b"}), "b", "left_anti")
        )
        if got["__n"] == 0:
            return e0.select("a", "b").join(
                _union_all(wins).withColumn("__m", F.lit(1)), ["a", "b"], "left"
            ).select(
                F.col("a").cast("long"), F.col("b").cast("long"),
                F.col("__m").isNotNull().alias("in_matching"),
            )
    raise RuntimeError(
        f"maximal_matching did not converge within max_rounds={max_rounds}"
    )
