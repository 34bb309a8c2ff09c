"""Graph analytics beyond the reference's I1-I3 shapes: k-core peeling,
weighted single-source shortest paths, synchronous label propagation, local
clustering coefficients, and common-neighbor link prediction — the standard
production graph-mining kit, each expressed on the engine's iteration
substrate (graph/algorithms.py) with an exact DuckDB oracle.

Determinism discipline: every algorithm is integer-only (BIGINT distances /
counts / labels), ties are broken by a total order, and fixpoint loops have
oracle formulations that are invariant to extra rounds (peeling rounds
no-op once converged; the SSSP walk-closure mins over all path lengths), so
driver hash-compares are exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from seccosql_spark.graph.algorithms import (
    clustering_coefficient,
    common_neighbors,
    kcore,
    label_propagation,
    sssp,
)
from seccosql_spark.queries.graph import EDGES_ORACLE, EDGES_SPARK, EDGES_SPARSE
from seccosql_spark.registration import register
from seccosql_spark.session import SeccoSession

# Undirected simple-graph neighbor pairs (both orientations, deduplicated) —
# the shared CTE prefix of every oracle here. Parameterized on the edge CTE.
_NB = """nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL
    SELECT dst AS a, src AS b FROM e
  )
)"""

# Small positive weights derived deterministically from edge multiplicity:
# keeps SSSP distances tiny (bounded walk-closure oracle) in both engines.
WEIGHTED_EDGES_SPARK = """
SELECT CAST(l_partkey % 60 AS BIGINT) AS src,
       CAST(l_suppkey % 60 AS BIGINT) AS dst,
       CAST(count(*) % 7 + 1 AS BIGINT) AS weight
FROM lineitem
WHERE l_partkey % 60 <> l_suppkey % 60
GROUP BY 1, 2
"""

KCORE_K = 4
KCORE_UNROLL = 10  # >= peel depth on every sf; extra rounds are no-ops


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling: alive_{r+1} = nodes with >= k surviving neighbors in
    the subgraph induced by alive_r. Once the alive set is stable, further
    rounds are identities, so any unroll >= the true peel depth is exact.

    alive CTEs are MATERIALIZED: each level references the previous one
    twice, so DuckDB's default inlining would expand to 2^rounds scan
    subtrees (measured 215 s at sf0.01 vs 0.06 s materialized, identical
    rows — the same trap _ktruss_oracle hit at 3^rounds)."""
    parts = [f"WITH e AS MATERIALIZED ({EDGES_SPARSE}),\n{_NB},\n"]
    parts.append("alive0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM nb)")
    for r in range(1, rounds + 1):
        parts.append(
            f""",
alive{r} AS MATERIALIZED (
  SELECT id FROM (
    SELECT nb.a AS id, count(*) AS d
    FROM nb
    JOIN alive{r - 1} x ON nb.a = x.id
    JOIN alive{r - 1} y ON nb.b = y.id
    GROUP BY nb.a
  ) WHERE d >= {k}
)"""
        )
    parts.append(
        f"""
SELECT nb.a AS id, count(*) AS degree
FROM nb
JOIN alive{rounds} x ON nb.a = x.id
JOIN alive{rounds} y ON nb.b = y.id
GROUP BY nb.a
HAVING count(*) >= {k}"""
    )
    return "".join(parts)


@register("g_kcore", _kcore_oracle(KCORE_K, KCORE_UNROLL))
def g_kcore(sess: SeccoSession):
    """k-core decomposition (k=4) by iterative peeling on the sparse graph —
    degree recomputation is two hash joins per round against the shrinking
    alive set; rounds = peel depth, not a fixed budget."""
    edges = sess.spark.sql(EDGES_SPARSE)
    return sess.from_spark(kcore(edges, KCORE_K))


KTRUSS_K = 4
KTRUSS_UNROLL = 8  # >= peel depth on every sf (measured 5 at sf0.01); extra rounds are no-ops


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled edge peeling: e_{r} = edges of e_{r-1} whose support
    (triangles inside e_{r-1}) is >= k-2. Once stable, further rounds are
    identities, so any unroll >= the true peel depth is exact; the final
    sup CTE yields each surviving edge's support WITHIN the truss.

    Every per-round CTE is MATERIALIZED: each level references the previous
    one three times, so DuckDB's default CTE inlining would expand to
    3^rounds copies of the base scan (observed as fd exhaustion at unroll
    8); materialization keeps the oracle linear in `rounds`."""
    parts = [
        f"WITH e AS MATERIALIZED ({EDGES_SPARSE}),\n"
        "e0 AS MATERIALIZED "
        "(SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
tri{r} AS MATERIALIZED (
           SELECT e1.a, e1.b, e2.c
           FROM e{r - 1} e1
           JOIN (SELECT a AS b, b AS c FROM e{r - 1}) e2 USING (b)
           JOIN (SELECT a, b AS c FROM e{r - 1}) e3 USING (a, c)),
sup{r} AS MATERIALIZED (
           SELECT a, b, count(*) AS support FROM (
             SELECT a, b FROM tri{r}
             UNION ALL SELECT b AS a, c AS b FROM tri{r}
             UNION ALL SELECT a, c AS b FROM tri{r})
           GROUP BY a, b HAVING count(*) >= {k - 2}),
e{r} AS MATERIALIZED (SELECT a, b FROM sup{r})"""
        )
    parts.append(
        f"""
SELECT a, b, CAST(support AS BIGINT) AS support FROM sup{rounds}"""
    )
    return "".join(parts)


@register("g_ktruss", _ktruss_oracle(KTRUSS_K, KTRUSS_UNROLL), headline=True)
def g_ktruss(sess: SeccoSession):
    """k-truss (k=4) on the sparse graph — the edge-cohesion sibling of
    g_kcore: iteratively peel edges closing < 2 triangles until fixpoint
    (graph/algorithms.ktruss; measured peel depth 5 at sf0.01, 451 -> 384
    edges). Output is each truss edge with its within-truss support."""
    from seccosql_spark.graph.algorithms import ktruss

    edges = sess.spark.sql(EDGES_SPARSE)
    return sess.from_spark(ktruss(edges, KTRUSS_K))


SSSP_ORACLE = f"""
WITH RECURSIVE e AS ({WEIGHTED_EDGES_SPARK}),
walk(id, d) AS (
  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
  UNION
  SELECT e.dst AS id, w.d + e.weight AS d
  FROM walk w JOIN e ON e.src = w.id
  WHERE w.d + e.weight <= 400
)
SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
"""


@register("g_sssp_weighted", SSSP_ORACLE)
def g_sssp_weighted(sess: SeccoSession):
    """Weighted SSSP from node 0: synchronous Bellman-Ford with exact BIGINT
    distances, converging in O(shortest-path hop count) rounds. The oracle is
    the bounded walk-closure (all path lengths, then MIN) — equivalent
    because the cap (400) far exceeds every true distance on this graph."""
    edges = sess.spark.sql(WEIGHTED_EDGES_SPARK)
    return sess.from_spark(sssp(edges, source=0))


def _lp_round(prev: str, this: str) -> str:
    return f"""
{this} AS (
  SELECT id, label FROM (
    SELECT nb.a AS id, l.label AS label,
           row_number() OVER (PARTITION BY nb.a ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM nb JOIN {prev} l ON nb.b = l.id
    GROUP BY nb.a, l.label
  ) WHERE rn = 1
)"""


LP_ORACLE = (
    f"WITH e AS ({EDGES_ORACLE}),\n{_NB},\n"
    "lp0 AS (SELECT DISTINCT a AS id, a AS label FROM nb)"
    + ","
    + _lp_round("lp0", "lp1")
    + ","
    + _lp_round("lp1", "lp2")
    + "\nSELECT id, label FROM lp2"
)


@register("g_label_propagation", LP_ORACLE)
def g_label_propagation(sess: SeccoSession):
    """Two synchronous label-propagation supersteps (neighbor-mode labels,
    min-label tiebreak — a total order, so deterministic, unlike textbook
    async LPA). Each round: one join + one count aggregate + one
    row_number window."""
    edges = sess.spark.sql(EDGES_SPARK)
    return sess.from_spark(label_propagation(edges, rounds=2))


CLUSTERING_ORACLE = f"""
WITH e AS ({EDGES_SPARSE}),
{_NB},
deg AS (SELECT a AS id, count(*) AS deg FROM nb GROUP BY a),
tri AS (
  SELECT p.v AS id, count(*) AS t
  FROM (SELECT n1.a AS v, n1.b AS nb1, n2.b AS nb2
        FROM nb n1 JOIN nb n2 ON n1.a = n2.a AND n1.b < n2.b) p
  JOIN nb ew ON ew.a = p.nb1 AND ew.b = p.nb2
  GROUP BY p.v
)
SELECT deg.id, CAST(coalesce(t, 0) AS BIGINT) AS triangles,
       CAST(deg * (deg - 1) // 2 AS BIGINT) AS wedges
FROM deg LEFT JOIN tri ON deg.id = tri.id
"""


@register("g_clustering_coeff", CLUSTERING_ORACLE)
def g_clustering_coeff(sess: SeccoSession):
    """Local clustering coefficient inputs per vertex: exact (triangles,
    wedges) BIGINT pair — the float ratio is the caller's one division, kept
    out of the differential gate. Neighbor-pair probe join is bounded by the
    triangle count."""
    edges = sess.spark.sql(EDGES_SPARSE)
    return sess.from_spark(clustering_coefficient(edges))


COMMON_NB_ORACLE = f"""
WITH e AS ({EDGES_ORACLE}),
{_NB}
SELECT u, v, common FROM (
  SELECT n1.a AS u, n2.a AS v, count(*) AS common
  FROM nb n1 JOIN nb n2 ON n1.b = n2.b AND n1.a < n2.a
  GROUP BY n1.a, n2.a
)
ORDER BY common DESC, u, v LIMIT 20
"""


@register("g_common_neighbors", COMMON_NB_ORACLE)
def g_common_neighbors(sess: SeccoSession):
    """Top-20 vertex pairs by shared-neighbor count (link prediction).
    Self-join keyed on the shared neighbor; (common, u, v) total order keeps
    the LIMIT set exact."""
    edges = sess.spark.sql(EDGES_SPARK)
    return sess.from_spark(common_neighbors(edges, top=20))


SCC_ORACLE = f"""
WITH RECURSIVE e AS ({EDGES_SPARSE}),
r(a, b) AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r.a, e.dst AS b FROM r JOIN e ON r.b = e.src
),
n AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION SELECT dst AS v FROM e)),
m AS (SELECT r1.a AS v, min(r1.b) AS mm
      FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
      GROUP BY r1.a)
SELECT n.v AS id, CAST(least(n.v, coalesce(m.mm, n.v)) AS BIGINT) AS scc
FROM n LEFT JOIN m ON n.v = m.v
"""


@register("g_scc", SCC_ORACLE, headline=True)
def g_scc(sess: SeccoSession):
    """DIRECTED strongly-connected components on the sparse graph — the
    directed completion of the components family (`g_connected_components`
    merges one-way links; this must not). Scalable trim + coloring +
    backward-reach kernel (graph/algorithms.py strongly_connected_components
    — O(n) state, no reach-pair materialization); the oracle replays the
    semantics independently with a recursive closure + mutual-reachability
    min."""
    from seccosql_spark.graph.algorithms import strongly_connected_components

    edges = sess.spark.sql(EDGES_SPARSE)
    return sess.from_spark(strongly_connected_components(edges))


HITS_ORACLE = f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS d FROM ({EDGES_ORACLE}) t),
n AS (SELECT DISTINCT id FROM (SELECT s AS id FROM e UNION ALL SELECT d FROM e)),
a1r AS (SELECT d AS id, CAST(count(*) AS BIGINT) AS a FROM e GROUP BY d),
a1 AS (SELECT n.id, coalesce(a1r.a, 0) AS a FROM n LEFT JOIN a1r USING (id)),
h1r AS (SELECT e.s AS id, CAST(sum(a1.a) AS BIGINT) AS h
        FROM e JOIN a1 ON e.d = a1.id GROUP BY e.s),
h1 AS (SELECT n.id, coalesce(h1r.h, 0) AS h FROM n LEFT JOIN h1r USING (id)),
a2r AS (SELECT e.d AS id, CAST(sum(h1.h) AS BIGINT) AS a
        FROM e JOIN h1 ON e.s = h1.id GROUP BY e.d),
a2 AS (SELECT n.id, coalesce(a2r.a, 0) AS a FROM n LEFT JOIN a2r USING (id)),
h2r AS (SELECT e.s AS id, CAST(sum(a2.a) AS BIGINT) AS h
        FROM e JOIN a2 ON e.d = a2.id GROUP BY e.s),
h2 AS (SELECT n.id, coalesce(h2r.h, 0) AS h FROM n LEFT JOIN h2r USING (id))
SELECT n.id, h2.h AS hub, a2.a AS auth
FROM n JOIN h2 USING (id) JOIN a2 USING (id)
"""


@register("g_hits_2rounds", HITS_ORACLE)
def g_hits_2rounds(sess: SeccoSession):
    """HITS hubs & authorities (Kleinberg 1999), two unnormalized power
    iterations in exact BIGINT arithmetic — unnormalized scores are path
    counts, so the ranking matches normalized HITS while staying
    engine-exact (`graph/algorithms.hits`). Per round two node-keyed edge
    joins + aggregations; the oracle unrolls both rounds with explicit
    zero-filled vectors so the full (id, hub, auth) output hash-matches."""
    from seccosql_spark.graph.algorithms import hits

    return sess.from_spark(hits(sess.spark.sql(EDGES_SPARK), rounds=2))


def _ppr_oracle(
    rounds: int,
    seeds: tuple[int, ...],
) -> str:
    from seccosql_spark.graph.algorithms import (
        PAGERANK_DAMPING_DEN,
        PAGERANK_DAMPING_NUM,
        PAGERANK_SCALE,
    )

    num, den, scale = PAGERANK_DAMPING_NUM, PAGERANK_DAMPING_DEN, PAGERANK_SCALE
    n_s = len(seeds)
    s_list = ", ".join(str(s) for s in sorted(seeds))
    base_fp = (den - num) * scale // (den * n_s)
    parts = [
        f"WITH e AS ({EDGES_ORACLE}),\n",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),\n",
        "deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),\n",
        f"v0 AS (SELECT id, CAST(CASE WHEN id IN ({s_list})"
        f" THEN {scale // n_s} ELSE 0 END AS BIGINT) AS v FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
c{r} AS (SELECT e.dst AS id, CAST(SUM(v.v // d.deg) AS BIGINT) AS c
         FROM e JOIN v{p} v ON e.src = v.id JOIN deg d ON e.src = d.id
         GROUP BY e.dst),
g{r} AS (SELECT CAST(coalesce(SUM(v.v), 0) AS BIGINT) AS dang
         FROM v{p} v LEFT JOIN deg d ON v.id = d.id WHERE d.id IS NULL),
v{r} AS (SELECT nodes.id,
                CAST((CASE WHEN nodes.id IN ({s_list}) THEN {base_fp} ELSE 0 END)
                     + ({num} * (coalesce(c.c, 0)
                        + (CASE WHEN nodes.id IN ({s_list}) THEN g{r}.dang // {n_s} ELSE 0 END)))
                       // {den} AS BIGINT) AS v
         FROM nodes CROSS JOIN g{r}
         LEFT JOIN c{r} c ON nodes.id = c.id)"""
        )
    from seccosql_spark.graph.algorithms import PAGERANK_SCALE as _sc

    parts.append(f"\nSELECT id, CAST(v AS DOUBLE) / {float(_sc)} AS rank FROM v{rounds}")
    return "".join(parts)


PPR_SEEDS = (0, 7, 13)


@register("g_personalized_pagerank", _ppr_oracle(3, PPR_SEEDS))
def g_personalized_pagerank(sess: SeccoSession):
    """Personalized PageRank from a 3-node seed set, 3 supersteps: teleport
    and dangling mass return only to the seeds, ranking every node by
    proximity to them — the related-item / local-community query. Same
    exact fixed-point BIGINT arithmetic as the global row, so the unrolled
    oracle hash-matches bit-for-bit
    (`graph/algorithms.personalized_pagerank`)."""
    from seccosql_spark.graph.algorithms import personalized_pagerank

    return sess.from_spark(
        personalized_pagerank(sess.spark.sql(EDGES_SPARK), list(PPR_SEEDS), rounds=3)
    )


def _mis_oracle(rounds: int) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({EDGES_ORACLE}),",
        """nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e
  )
),
n0 AS (SELECT DISTINCT a AS id,
              md5(CAST(a AS VARCHAR)) || '|' || lpad(CAST(a AS VARCHAR), 20, '0') AS pr
       FROM nb),
u0 AS (SELECT id, pr FROM n0)""",
    ]
    for r in range(rounds):
        parts.append(f""",
nm{r} AS (SELECT n.a AS id, min(u2.pr) AS mn
          FROM nb n JOIN u{r} u1 ON n.a = u1.id JOIN u{r} u2 ON n.b = u2.id
          GROUP BY n.a),
w{r} AS MATERIALIZED (SELECT u.id FROM u{r} u LEFT JOIN nm{r} m ON u.id = m.id
          WHERE m.id IS NULL OR u.pr < m.mn),
r{r} AS (SELECT DISTINCT n.b AS id FROM nb n JOIN w{r} w ON n.a = w.id),
u{r + 1} AS MATERIALIZED (
  SELECT u.id, u.pr FROM u{r} u
  WHERE u.id NOT IN (SELECT id FROM w{r}) AND u.id NOT IN (SELECT id FROM r{r}))""")
    wins = " UNION ALL ".join(f"SELECT id FROM w{r}" for r in range(rounds))
    parts.append(f""",
mis AS ({wins})
SELECT n0.id, (mis.id IS NOT NULL) AS in_mis
FROM n0 LEFT JOIN (SELECT DISTINCT id FROM mis) mis ON n0.id = mis.id""")
    return "".join(parts)


@register("g_maximal_independent_set", _mis_oracle(8))
def g_maximal_independent_set(sess: SeccoSession):
    """Deterministic Luby maximal independent set: hash priorities replace
    coin flips, so every engine computes the SAME maximal set — each round
    the locally-minimal undecided nodes join and eliminate their neighbors
    (`graph/algorithms.maximal_independent_set`, expected O(log n) rounds).
    The oracle unrolls 8 rounds (a fixpoint no-ops thereafter) and
    materializes each level against DuckDB's CTE inliner."""
    from seccosql_spark.graph.algorithms import maximal_independent_set

    return sess.from_spark(
        maximal_independent_set(sess.spark.sql(EDGES_SPARK))
    )


MODULARITY_ORACLE = f"""
WITH e AS MATERIALIZED ({EDGES_ORACLE}),
nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e
  )
),
deg AS (SELECT a AS id, count(*) AS d FROM nb GROUP BY a),
m2 AS (SELECT count(*) AS m2 FROM nb),
comm AS (SELECT id, id % 4 AS c FROM deg),
intra AS (SELECT count(*) AS w
          FROM nb JOIN comm x ON nb.a = x.id JOIN comm y ON nb.b = y.id
          WHERE x.c = y.c),
dsum AS (SELECT c, CAST(sum(d) AS BIGINT) AS dc FROM deg JOIN comm USING (id) GROUP BY c),
parts AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sq FROM dsum)
SELECT round(CAST(intra.w AS DOUBLE) / m2.m2
             - CAST(parts.sq AS DOUBLE) / m2.m2 / m2.m2, 6) AS modularity
FROM intra CROSS JOIN m2 CROSS JOIN parts
"""


@register("g_modularity_mod4", MODULARITY_ORACLE)
def g_modularity_mod4(sess: SeccoSession):
    """Newman modularity of a fixed partition (communities = id mod 4):
    Q = (intra-edge fraction) - (expected fraction from degrees) over the
    undirected neighbor multiset — the quality metric every community
    detector optimizes, here as exact integer sums (intra count, degree
    sums, 2m) with one rounded double at the very end. Two aggregations +
    one broadcast-friendly membership join; the partition is a fixed rule
    so both engines derive it identically."""
    from seccosql_spark.graph.algorithms import _sym_neighbors
    from seccosql_spark.operators.recursion import checkpoint

    nb, got = checkpoint(_sym_neighbors(sess.spark.sql(EDGES_SPARK)))
    deg = nb.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    m2 = got["__n"]
    comm = deg.select("id", (F.col("id") % 4).alias("c"))
    intra = (
        nb.join(comm.withColumnsRenamed({"id": "a", "c": "ca"}), "a")
        .join(comm.withColumnsRenamed({"id": "b", "c": "cb"}), "b")
        .filter(F.col("ca") == F.col("cb"))
        .count()
    )
    sq = (
        deg.join(comm, "id")
        .groupBy("c")
        .agg(F.sum("d").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("sq"))
        .collect()[0]["sq"]
    )
    out = sess.spark.range(1).select(
        F.round(
            F.lit(float(intra)) / F.lit(float(m2))
            - F.lit(float(sq)) / F.lit(float(m2)) / F.lit(float(m2)),
            6,
        ).alias("modularity")
    )
    return sess.from_spark(out)


ASSORT_ORACLE = f"""
WITH e AS MATERIALIZED ({EDGES_ORACLE}),
nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e
  )
),
deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY a),
p AS (SELECT da.d AS x, db.d AS y
      FROM nb JOIN deg da ON nb.a = da.id JOIN deg db ON nb.b = db.id),
s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM p)
SELECT CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6)
            ELSE NULL END AS assortativity
FROM s
"""


@register("g_degree_assortativity", ASSORT_ORACLE)
def g_degree_assortativity(sess: SeccoSession):
    """Degree assortativity (Newman 2002): Pearson correlation of endpoint
    degrees over the symmetric edge set — do hubs link to hubs? Same
    integer-power-sum discipline as stats_corr_by_source (n, Σx, Σy, Σxy,
    Σx², Σy² exact in DECIMAL(38,0)/HUGEINT — BIGINT sums wrap on
    hub-heavy graphs; one double expression at the end), so both
    engines agree bit-for-bit. One degree aggregation + two broadcast
    degree joins + one global aggregate."""
    from seccosql_spark.graph.algorithms import _sym_neighbors

    nb = _sym_neighbors(sess.spark.sql(EDGES_SPARK)).localCheckpoint(eager=True)
    deg = nb.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    p = (
        nb.join(deg.withColumnsRenamed({"id": "a", "d": "x"}), "a")
        .join(deg.withColumnsRenamed({"id": "b", "d": "y"}), "b")
    )
    # power sums in DECIMAL(38,0): n*sxx on a hub-heavy graph wraps int64
    # (Spark wraps SILENTLY with ANSI off, and a wrapped-negative variance
    # would read as the zero-variance NULL guard) — the oracle is HUGEINT
    d = "decimal(38,0)"
    s = p.agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum(F.col("x").cast(d)).cast(d).alias("sx"),
        F.sum(F.col("y").cast(d)).cast(d).alias("sy"),
        F.sum((F.col("x").cast(d) * F.col("y")).cast(d)).cast(d).alias("sxy"),
        F.sum((F.col("x").cast(d) * F.col("x")).cast(d)).cast(d).alias("sxx"),
        F.sum((F.col("y").cast(d) * F.col("y")).cast(d)).cast(d).alias("syy"),
    )
    # zero endpoint-degree variance (a REGULAR graph — e.g. the sf0.1
    # generator saturates to the complete graph) makes Pearson undefined:
    # guard to NULL instead of dividing by zero (found by the sf0.1 sweep —
    # Spark ANSI raises where DuckDB's IEEE double silently NaNs)
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return sess.from_spark(
        s.select(
            F.when(
                (vx > 0) & (vy > 0),
                F.round(
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                    / F.sqrt(vx.cast("double"))
                    / F.sqrt(vy.cast("double")),
                    6,
                ),
            ).alias("assortativity")
        )
    )


def _matching_oracle(rounds: int) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({EDGES_ORACLE}),",
        """e0 AS MATERIALIZED (
  SELECT a, b,
         md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)) || '|'
           || lpad(CAST(a AS VARCHAR), 20, '0') || lpad(CAST(b AS VARCHAR), 20, '0') AS pr
  FROM (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e WHERE src <> dst)
),
u0 AS (SELECT * FROM e0)""",
    ]
    for r in range(rounds):
        parts.append(f""",
vm{r} AS (SELECT v, min(pr) AS mn FROM (
            SELECT a AS v, pr FROM u{r} UNION ALL SELECT b AS v, pr FROM u{r})
          GROUP BY v),
w{r} AS MATERIALIZED (
  SELECT u.a, u.b FROM u{r} u
  JOIN vm{r} va ON u.a = va.v AND u.pr = va.mn
  JOIN vm{r} vb ON u.b = vb.v AND u.pr = vb.mn),
mv{r} AS (SELECT a AS v FROM w{r} UNION SELECT b AS v FROM w{r}),
u{r + 1} AS MATERIALIZED (
  SELECT u.* FROM u{r} u
  WHERE u.a NOT IN (SELECT v FROM mv{r}) AND u.b NOT IN (SELECT v FROM mv{r}))""")
    wins = " UNION ALL ".join(f"SELECT a, b FROM w{r}" for r in range(rounds))
    parts.append(f""",
mm AS ({wins})
SELECT e0.a, e0.b, (mm.a IS NOT NULL) AS in_matching
FROM e0 LEFT JOIN (SELECT DISTINCT a, b FROM mm) mm ON e0.a = mm.a AND e0.b = mm.b""")
    return "".join(parts)


@register("g_maximal_matching", _matching_oracle(8))
def g_maximal_matching(sess: SeccoSession):
    """Deterministic maximal matching (local-min edge priorities — the edge
    analog of the hash-priority MIS): per round, edges that are the strict
    priority minimum at both endpoints join the matching and knock out
    their endpoints' other edges (`graph/algorithms.maximal_matching`).
    Used in practice to pair near-duplicate documents one-to-one. The
    oracle unrolls 8 rounds, each level materialized."""
    from seccosql_spark.graph.algorithms import maximal_matching

    return sess.from_spark(maximal_matching(sess.spark.sql(EDGES_SPARK)))


# ---------------------------------------------------------------------------
# Jaccard link prediction: common-neighbor overlap normalized by the
# neighborhood union, over NON-adjacent pairs only (the actual prediction
# target — adjacent pairs are already links).
# ---------------------------------------------------------------------------

JACCARD_LP_ORACLE = f"""
WITH e AS MATERIALIZED ({EDGES_SPARSE}),
{_NB},
deg AS (SELECT a, count(*) AS d FROM nb GROUP BY a),
cn AS (SELECT n1.a AS u, n2.a AS v, count(*) AS common
       FROM nb n1 JOIN nb n2 ON n1.b = n2.b AND n1.a < n2.a
       GROUP BY n1.a, n2.a),
nonadj AS (SELECT cn.u, cn.v, cn.common
           FROM cn LEFT JOIN nb ON cn.u = nb.a AND cn.v = nb.b
           WHERE nb.a IS NULL)
SELECT u, v, CAST(common AS BIGINT) AS common,
       round(common / (du.d + dv.d - common), 6) AS jaccard
FROM nonadj JOIN deg du ON u = du.a JOIN deg dv ON v = dv.a
ORDER BY jaccard DESC, u, v LIMIT 20
"""


@register("g_jaccard_linkpred", JACCARD_LP_ORACLE)
def g_jaccard_linkpred(sess: SeccoSession):
    """Top-20 predicted links by neighborhood Jaccard |N(u)∩N(v)| /
    |N(u)∪N(v)| over non-adjacent pairs (Liben-Nowell & Kleinberg 2003).
    Candidate pairs come from the shared-neighbor join (bounded by wedge
    count, never all-pairs), adjacency is removed with a LEFT ANTI join on
    the symmetric edge set, degrees broadcast back. Integer counts; the
    single rounded division happens after the join, and the (jaccard, u, v)
    total order keeps the LIMIT set exact."""
    edges = sess.spark.sql(EDGES_SPARSE)
    nb = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    deg = nb.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    cn = (
        nb.select(F.col("a").alias("u"), "b")
        .join(nb.select(F.col("a").alias("v"), "b"), "b")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonadj = cn.join(
        nb.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return sess.from_spark(
        nonadj.join(F.broadcast(deg.withColumnsRenamed({"a": "u", "d": "du"})), "u")
        .join(F.broadcast(deg.withColumnsRenamed({"a": "v", "d": "dv"})), "v")
        .select(
            "u", "v",
            F.col("common").cast("long").alias("common"),
            F.round(
                F.col("common") / (F.col("du") + F.col("dv") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Bipartite co-visitation projection: users x (event_type, day) incidence
# from the events log, projected onto item-item co-occurrence counts — the
# "users who did X also did Y" graph behind recommendation candidates and
# behavioral-cohort analysis.
# ---------------------------------------------------------------------------

COVISIT_USER_CAP = 128  # drop hyperactive users before the per-user pair fanout

# Support threshold is RELATIVE (>= 10% of capped users) so the query keeps
# the same meaning at every scale factor: 10 * pair_support >= |users|.
COVISIT_ORACLE = f"""
WITH ui AS (
  SELECT DISTINCT user_id AS u,
         event_type || '@' || strftime(ts, '%Y-%m-%d') AS item
  FROM events
),
uok AS (SELECT u FROM ui GROUP BY u HAVING count(*) <= {COVISIT_USER_CAP}),
tot AS (SELECT count(*) AS nu FROM uok),
p AS (
  SELECT a.item AS i1, b.item AS i2, count(*) AS n_users
  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
  JOIN uok ON a.u = uok.u
  GROUP BY a.item, b.item
)
SELECT i1, i2, CAST(n_users AS BIGINT) AS n_users
FROM p CROSS JOIN tot WHERE 10 * n_users >= tot.nu
"""


@register("g_bipartite_covisit", COVISIT_ORACLE)
def g_bipartite_covisit(sess: SeccoSession):
    """Bipartite projection of the user->(event_type, day) incidence onto
    item pairs co-visited by >= 10% of (capped) users. The projection's
    classic scale hazard is the per-user quadratic fanout, so users above
    a {cap}-item cap are dropped FIRST (the standard power-user guard —
    deterministic, and at 100 TB it bounds the self-join to cap^2 rows per
    user); the remaining pair space is items^2, independent of event
    volume. All-integer output."""
    ui = (
        sess.spark.table("events")
        .select(
            F.col("user_id").alias("u"),
            F.concat_ws("@", "event_type", F.date_format("ts", "yyyy-MM-dd")).alias("item"),
        )
        .distinct()
    )
    uok = ui.groupBy("u").agg(F.count(F.lit(1)).alias("ni")).filter(
        F.col("ni") <= COVISIT_USER_CAP
    ).select("u")
    pruned = ui.join(F.broadcast(uok), "u")
    tot = uok.agg(F.count(F.lit(1)).alias("nu"))
    pairs = (
        pruned.select("u", F.col("item").alias("i1"))
        .join(pruned.select("u", F.col("item").alias("i2")), "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .filter(10 * F.col("n_users") >= F.col("nu"))
        .select("i1", "i2", F.col("n_users").cast("long").alias("n_users"))
    )
    return sess.from_spark(pairs)


# ---------------------------------------------------------------------------
# Deterministic random walks (graph-embedding sampling, DeepWalk/node2vec
# input stage)
# ---------------------------------------------------------------------------

def _walks_oracle(steps: int = 3) -> str:
    parts = [f"WITH e AS MATERIALIZED ({EDGES_SPARSE}),\n{_NB},\n"]
    parts.append("w0 AS (SELECT DISTINCT a AS seed, a AS v FROM nb)")
    for t in range(1, steps + 1):
        parts.append(f""",
w{t} AS (
  SELECT seed, b AS v FROM (
    SELECT w.seed, nb.b,
           row_number() OVER (
             PARTITION BY w.seed
             ORDER BY md5(concat_ws('|', w.seed, {t}, nb.b))) AS rn
    FROM w{t - 1} w JOIN nb ON w.v = nb.a) WHERE rn = 1)""")
    sel = ", ".join(f"w{t}.v AS v{t}" for t in range(1, steps + 1))
    joins = " ".join(f"JOIN w{t} USING (seed)" for t in range(2, steps + 1))
    parts.append(f"\nSELECT seed, {sel} FROM w1 {joins}")
    return "".join(parts)


@register("g_random_walks_3step", _walks_oracle(3))
def g_random_walks_3step(sess: SeccoSession):
    """Deterministic 3-step random walks from EVERY node — the sampling
    stage DeepWalk/node2vec feed to their skip-gram trainer (Perozzi et
    al. KDD'14): at step t the walk at node v moves to the neighbor u
    minimizing md5(seed|t|u), a hash-seeded choice that is uniform over
    the neighbor set yet REPLAYABLE from the same expression in both
    engines (the md5-uniform recipe every sampling row here uses — no RNG
    state, no engine-specific generators). One walk per seed node, each
    step one join + per-seed argmin: state is O(#walks), never the
    neighbor fan-out, and steps are bounded rounds — at 100 TB this is
    the standard iterative-join shape (walks partition by seed; the
    neighbor table is the big side, joined by key). Ties are impossible
    (distinct neighbors hash distinct strings), so the walk set is exact
    in the driver's hash compare."""
    spark = sess.spark
    e = spark.sql(EDGES_SPARSE)
    nb = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    cur = nb.select(F.col("a").alias("seed")).distinct().withColumn(
        "v", F.col("seed")
    )
    # the walk frame CARRIES its visited columns (seed, v1..vt, v) so each
    # step is exactly one join — rebuilding hop columns by re-joining the
    # per-step frames would re-execute the whole prefix chain per hop
    carried: list[str] = []
    for t in range(1, 4):
        w = Window.partitionBy("seed").orderBy("h")
        cur = (
            cur.join(nb, cur["v"] == nb["a"])
            .withColumn(
                "h",
                F.md5(F.concat_ws("|", F.col("seed"), F.lit(t), F.col("b"))),
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "seed", *carried,
                F.col("b").alias(f"v{t}"), F.col("b").alias("v"),
            )
        )
        carried.append(f"v{t}")
    return sess.from_spark(cur.select("seed", *carried))


WEDGE_CC_ORACLE = f"""
WITH e AS ({EDGES_SPARSE}),
{_NB},
w AS (
  SELECT n1.a AS v, n1.b AS n1b, n2.b AS n2b,
         (ew.a IS NOT NULL) AS closed,
         (substr(md5(CAST(n1.a AS VARCHAR) || '|' || CAST(n1.b AS VARCHAR)
                     || '|' || CAST(n2.b AS VARCHAR)), 1, 1) < '2') AS sampled
  FROM nb n1 JOIN nb n2 ON n1.a = n2.a AND n1.b < n2.b
  LEFT JOIN nb ew ON ew.a = n1.b AND ew.b = n2.b
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_wedges,
         CAST(sum(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT) AS exact_closed,
         CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS sampled_wedges,
         CAST(sum(CASE WHEN sampled AND closed THEN 1 ELSE 0 END) AS BIGINT)
             AS sampled_closed
  FROM w)
SELECT exact_wedges, exact_closed, sampled_wedges, sampled_closed,
       (abs(CAST(sampled_closed AS HUGEINT) * exact_wedges
            - CAST(exact_closed AS HUGEINT) * sampled_wedges) * 10
        <= CAST(sampled_wedges AS HUGEINT) * exact_wedges) AS within_band
FROM agg
"""


@register("g_wedge_sampled_cc", WEDGE_CC_ORACLE)
def g_wedge_sampled_cc(sess: SeccoSession):
    """Sampled global clustering coefficient (wedge sampling, Schank &
    Wagner 2005): estimate C = closed wedges / wedges from a ~12.5%
    deterministic md5-hash sample of the wedge set instead of checking
    closure on every wedge — at 100 TB the wedge set is the quadratic
    object (Σ deg²), and hash sampling cuts the closure-probe join's
    build side by 1/p while staying exactly replayable (no engine RNG,
    same discipline as g_betweenness_sampled's source sampling). One
    neighbor self-join enumerates wedges, one hash join probes closure;
    the sample flag is a projection, so the sampled estimator shares the
    single pass with the exact audit counts. The within-band verdict
    (|Ĉ − C| ≤ 0.1) is integer cross-multiplied in DECIMAL(38,0)/HUGEINT
    — never a float division in the gate."""
    spark = sess.spark
    e = spark.sql(EDGES_SPARSE)
    nb = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n1 = nb.select(F.col("a").alias("v"), F.col("b").alias("n1b"))
    n2 = nb.select(F.col("a").alias("v"), F.col("b").alias("n2b"))
    ew = nb.select(
        F.col("a").alias("n1b"), F.col("b").alias("n2b"), F.lit(True).alias("closed0")
    )
    w = (
        n1.join(n2, "v")
        .filter(F.col("n1b") < F.col("n2b"))
        .join(ew, ["n1b", "n2b"], "left")
        .select(
            F.coalesce("closed0", F.lit(False)).alias("closed"),
            (
                F.substring(
                    F.md5(F.concat_ws("|", F.col("v"), F.col("n1b"), F.col("n2b"))),
                    1,
                    1,
                )
                < "2"
            ).alias("sampled"),
        )
    )
    agg = w.agg(
        F.count(F.lit(1)).cast("long").alias("exact_wedges"),
        F.sum(F.col("closed").cast("long")).cast("long").alias("exact_closed"),
        F.sum(F.col("sampled").cast("long")).cast("long").alias("sampled_wedges"),
        F.sum((F.col("sampled") & F.col("closed")).cast("long"))
        .cast("long")
        .alias("sampled_closed"),
    )
    out = agg.select(
        "exact_wedges",
        "exact_closed",
        "sampled_wedges",
        "sampled_closed",
        F.expr(
            "abs(CAST(sampled_closed AS DECIMAL(38,0)) * exact_wedges"
            " - CAST(exact_closed AS DECIMAL(38,0)) * sampled_wedges) * 10"
            " <= CAST(sampled_wedges AS DECIMAL(38,0)) * exact_wedges"
        ).alias("within_band"),
    )
    return sess.from_spark(out)
