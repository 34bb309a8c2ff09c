"""Behavioral mining and data-profiling analytics (engine extensions beyond
SURVEY §2's reference surface — the event-sequence / customer-analytics
queries a production pipeline runs next to dedup and curation).

Queries here follow the registry's cross-engine discipline: decimal-sum for
any double aggregation, unique-key tiebreaks inside every window ORDER BY,
and integer outputs wherever a ratio would invite float drift. Each is one
or two hash shuffles — nothing all-pairs, nothing driver-side.

Scale notes per query are in the individual docstrings; the common shape is
"window over PARTITION BY user/customer" (one hash exchange, streams within
partitions) followed by a map-side-combined aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from seccosql_spark.registration import register
from seccosql_spark.session import SeccoSession


def _sql(name: str, sql: str, doc: str):
    """Register a query whose Spark side and DuckDB oracle run the SAME
    ANSI-SQL text (engine-portable subset only)."""

    @register(name, sql)
    def _q(sess: SeccoSession, _s=sql):
        return sess.sql(_s)

    _q.__name__ = name
    _q.__doc__ = doc
    return _q


# ---------------------------------------------------------------------------
# Event-sequence mining
# ---------------------------------------------------------------------------

_sql(
    "markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS prev_type, next_type, CAST(count(*) AS BIGINT) AS n
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
    """First-order Markov transition counts over per-user event sequences
    (prev event_type -> next event_type). Counts only — downstream
    probability normalization is a trivial per-prev_type ratio the caller
    applies; emitting integers keeps the cross-engine hash exact. Scale: one
    hash exchange on user_id for the lead() window, then a map-side-combined
    count on the (prev, next) pair — 25 output rows regardless of corpus
    size.""",
)


ATTRIBUTION_ORACLE = """
WITH tagged AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type
  FROM events
)
SELECT coalesce(touch_type, 'none') AS attributed_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value, 9) AS DECIMAL(28,9))) AS DOUBLE) AS attributed_value
FROM tagged
WHERE event_type = 'purchase'
GROUP BY coalesce(touch_type, 'none')
"""


@register("attribution_last_touch", ATTRIBUTION_ORACLE)
def attribution_last_touch(sess: SeccoSession):
    """Last-touch marketing attribution: each purchase is credited to the
    latest preceding view/click by the same user (strictly before it in the
    (ts, event_id) order); purchases with no prior touch fall into 'none'.

    Implementation: ``last(touch, ignorenulls=True)`` over a
    ROWS UNBOUNDED PRECEDING..1 PRECEDING frame — the frame excludes the
    purchase row itself, and ignore-nulls skips non-touch events without a
    self-join. Scale: ONE hash exchange on user_id; the frame is computed
    streaming within each partition (no buffering beyond the running last
    value), then a 3-row aggregation. The decimal-sum keeps the attributed
    revenue hash-exact across engines."""
    ev = sess.spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin("view", "click"), F.col("event_type"))
    out = (
        ev.withColumn("touch_type", F.last(touch, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("attributed_type"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Customer analytics
# ---------------------------------------------------------------------------

_sql(
    "rfm_segments",
    """
WITH cm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders
  GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
         CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_score
  FROM cm
)
SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers
FROM scored
GROUP BY r_score, f_score, m_score
""",
    """RFM (recency / frequency / monetary) customer segmentation: per-dim
    quintiles with the o_custkey tiebreak making every ntile assignment
    deterministic, then segment occupancy counts. The monetary dim is an
    exact decimal sum. Scale note: the three global ntile windows are each a
    single-partition sort over ONE ROW PER CUSTOMER (already aggregated) —
    acceptable to ~10^8 customers; beyond that the scale path is
    approx-quantile cutoffs broadcast as a 4-value literal per dim, which
    changes no downstream semantics.""",
)


# ---------------------------------------------------------------------------
# Data profiling
# ---------------------------------------------------------------------------

PROFILE_ORACLE = """
WITH t AS (SELECT * FROM orders)
SELECT 'o_orderkey' AS col_name,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_repr,
       CAST(max(o_orderkey) AS VARCHAR) AS max_repr
FROM t
UNION ALL
SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM t
UNION ALL
SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
       CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderdate', CAST(count(*) - count(o_orderdate) AS BIGINT),
       CAST(count(DISTINCT o_orderdate) AS BIGINT),
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
FROM t
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority), max(o_orderpriority)
FROM t
"""


@register("profile_columns", PROFILE_ORACLE)
def profile_columns(sess: SeccoSession):
    """Column profiler over `orders`: per column, null count, exact distinct
    count, and min/max rendered to a canonical string (integers verbatim,
    doubles via DECIMAL(18,2) so both engines print identically, timestamps
    via a fixed format string).

    Implementation: ONE wide aggregation computes all 6x4 metrics in a
    single pass (count-distinct columns each add a partial-agg expand, but
    the scan happens once), then `stack` unpivots the single result row to
    long format driver-side-free. Scale: one aggregation over the table; the
    unpivot operates on ONE row. The profiler is the standard pre-flight
    step before schema-evolution or quality gates on a new data drop."""
    t = sess.spark.table("orders")

    def metrics(col: str, repr_expr):
        return [
            (F.count("*") - F.count(col)).alias(f"{col}__nn"),
            F.countDistinct(col).alias(f"{col}__nd"),
            repr_expr(F.min(col)).alias(f"{col}__mn"),
            repr_expr(F.max(col)).alias(f"{col}__mx"),
        ]

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_dec = lambda c: c.cast("decimal(18,2)").cast("string")  # noqa: E731
    as_ts = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    plan = {
        "o_orderkey": as_str,
        "o_custkey": as_str,
        "o_orderstatus": as_str,
        "o_totalprice": as_dec,
        "o_orderdate": as_ts,
        "o_orderpriority": as_str,
    }
    aggs = [m for col, fmt in plan.items() for m in metrics(col, fmt)]
    one = t.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {col}__nn, {col}__nd, {col}__mn, {col}__mx" for col in plan
    )
    out = one.selectExpr(
        f"stack({len(plan)}, {stack_args}) AS (col_name, n_null, n_distinct, min_repr, max_repr)"
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Distributed linear algebra: top principal direction by power iteration
# ---------------------------------------------------------------------------

PCA_POWER_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
),
s1 AS MATERIALIZED (
  SELECT vec_id, CAST(sum(CAST(x * 1.0 AS DECIMAL(38,18))) AS DOUBLE) AS s
  FROM e GROUP BY vec_id
),
w1 AS MATERIALIZED (
  SELECT e.pos, sum(CAST(s1.s * e.x AS DECIMAL(38,18))) AS w
  FROM e JOIN s1 USING (vec_id) GROUP BY e.pos
),
v1 AS MATERIALIZED (
  SELECT pos, CAST(w AS DOUBLE)
              / (SELECT max(abs(CAST(w AS DOUBLE))) FROM w1) AS v
  FROM w1
),
s2 AS MATERIALIZED (
  SELECT e.vec_id, CAST(sum(CAST(e.x * v1.v AS DECIMAL(38,18))) AS DOUBLE) AS s
  FROM e JOIN v1 USING (pos) GROUP BY e.vec_id
),
w2 AS MATERIALIZED (
  SELECT e.pos, sum(CAST(s2.s * e.x AS DECIMAL(38,18))) AS w
  FROM e JOIN s2 USING (vec_id) GROUP BY e.pos
)
SELECT pos,
       round(CAST(w AS DOUBLE)
             / (SELECT max(abs(CAST(w AS DOUBLE))) FROM w2), 6) AS component
FROM w2
"""


def power_iterate_top_direction(emb_df, dim: int, rounds: int = 2):
    """Matrix-free power iteration toward the top right-singular direction
    of the row matrix in `emb_df` (columns: vec_id, embedding array<float>),
    v0 = all-ones: each round computes s = E v (per-row dot) then
    w = E^T s (per-component sum), normalized by max-|component| — no
    d x d covariance is ever materialized. Returns a DataFrame
    (pos 1-based INT, component = round(w / max|w|, 6)).

    Convergence is governed by the spectral gap: after k rounds the iterate
    aligns with the top direction up to O((lambda2/lambda1)^k). Callers on
    near-isotropic data (like the synthetic testdata embeddings) get the
    well-defined k-th iterate, not yet the eigenvector — see
    `test_power_iteration_recovers_planted_direction` for the convergence
    proof on a corpus with a real dominant direction.

    Cross-engine float discipline: every accumulating sum (the dots AND the
    component sums) is a DECIMAL(38,18) sum of identical-on-both-engines
    double products, so iteration results are hash-exact; the only double
    divisions are by a max (order-free) and happen identically. The
    between-round vector (dim values) is collected to the driver and
    re-broadcast as a literal — the same O(k x dim) driver hop the
    k-means/IVF family uses.

    Scale: the exploded (vec_id, pos, x) relation is corpus x dim rows;
    each round is two map-side-combined aggregations and one
    broadcast-sized join (the dim-row v). At 100 TB this is distributed
    matrix-free PCA: no step holds more than dim values outside the
    cluster. More rounds = more jobs, same memory."""
    # Tracked persist (dedup._tracked_persist) so long-lived sessions can
    # reclaim the exploded cache via release_caches() between invocations.
    from seccosql_spark.operators.dedup import _tracked_persist

    ex = _tracked_persist(
        emb_df.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
        ).select("vec_id", (F.col("pos0") + 1).cast("int").alias("pos"), "x")
    )

    def one_round(v: list[float]):
        varr = F.array(*[F.lit(float(c)) for c in v])
        s = ex.groupBy("vec_id").agg(
            F.sum((F.col("x") * F.element_at(varr, F.col("pos"))).cast("decimal(38,18)"))
            .cast("double")
            .alias("s")
        )
        return ex.join(s, "vec_id").groupBy("pos").agg(
            F.sum((F.col("s") * F.col("x")).cast("decimal(38,18)")).alias("w")
        )

    v = [1.0] * dim
    for _ in range(rounds - 1):
        w_rows = {r["pos"]: float(r["w"]) for r in one_round(v).collect()}
        m = max(abs(val) for val in w_rows.values())
        v = [w_rows[p] / m for p in range(1, dim + 1)]

    w_final = one_round(v)
    wall = Window.partitionBy()
    return w_final.select(
        "pos",
        F.round(
            F.col("w").cast("double")
            / F.max(F.abs(F.col("w").cast("double"))).over(wall),
            6,
        ).alias("component"),
    )


@register("embedding_pca_power2", PCA_POWER_ORACLE)
def embedding_pca_power2(sess: SeccoSession):
    """Two power-iteration rounds over the embeddings table (the oracle
    unrolls the identical algebra in SQL). On this near-isotropic synthetic
    corpus the 2-round iterate is NOT yet the eigenvector (spectral gap
    ~1.07 — convergence on a corpus with a genuine dominant direction is
    pinned by `test_power_iteration_recovers_planted_direction`); what the
    green driver row proves is the distributed matrix-free kernel itself:
    decimal-exact E v / E^T s rounds that two independent engines reproduce
    bit-identically. See `power_iterate_top_direction` for the scale
    story."""
    return sess.from_spark(
        power_iterate_top_direction(sess.spark.table("embeddings"), dim=64, rounds=2)
    )


# ---------------------------------------------------------------------------
# Market-basket affinity
# ---------------------------------------------------------------------------

_sql(
    "basket_part_pairs",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS support
FROM pairs
GROUP BY part_a, part_b
HAVING count(*) >= 2
""",
    """Market-basket co-occurrence: part pairs ordered together, with
    support >= 2. The pair generation is a SELF-EQUI-JOIN on the order key
    (never a cross join): with baskets bounded at ~13 items the per-order
    fan-out is <= 78 pairs, so the expansion is linear in order count. At
    100 TB the identical plan holds — one hash exchange on l_orderkey, pair
    fan-out map-side, then a map-side-combined count on the pair key; a
    pathological mega-basket would be capped upstream the same way the LSH
    bucket caps work (documented, not needed on TPC-H-shaped data).""",
)


# ---------------------------------------------------------------------------
# Incremental view maintenance (algebraic partial-aggregate merge)
# ---------------------------------------------------------------------------

IVM_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("ivm_q1_merge", IVM_ORACLE)
def ivm_q1_merge(sess: SeccoSession):
    """Incremental view maintenance for a Q1-style aggregate: the
    materialized state over the base partition (90% of lineitem) is MERGED
    with the partial state of a late-arriving delta (the remaining 10%)
    by re-aggregating the union of partial states — never rescanning the
    base fact. The oracle is the full recompute, so the green row IS the
    proof that the algebraic merge (sum-of-sums, count-of-counts) equals
    recomputation.

    Scale: this is the batch formulation of `foreach_batch_upsert`'s
    streaming MERGE — at 100 TB the base state is a few-thousand-row
    grouped table and each delta touches only its own partials; the merge
    step shuffles state rows, not facts. Decimal partial sums make the
    merge exact (float partial sums would NOT commute bit-identically)."""
    l = sess.spark.table("lineitem")

    def partial(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("p_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("p_price"),
            F.count("*").alias("p_n"),
        )

    base_state = partial(l.where(F.col("l_orderkey") % 10 != 0))
    delta_state = partial(l.where(F.col("l_orderkey") % 10 == 0))
    merged = (
        base_state.unionAll(delta_state)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").cast("double").alias("sum_qty"),
            F.sum("p_price").cast("double").alias("sum_price"),
            F.sum("p_n").cast("long").alias("n_rows"),
        )
    )
    return sess.from_spark(merged)


# ---------------------------------------------------------------------------
# Pareto / ABC revenue concentration
# ---------------------------------------------------------------------------

_sql(
    "pareto_abc_parts",
    """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS revenue
  FROM lineitem
  GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rev,
         sum(revenue) OVER () AS total_rev
  FROM rev
)
SELECT CASE WHEN cum_rev <= 0.80 * total_rev THEN 'A'
            WHEN cum_rev <= 0.95 * total_rev THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(revenue) AS DOUBLE) AS class_revenue
FROM ranked
GROUP BY 1
""",
    """Pareto / ABC analysis: parts ranked by net revenue, classified by
    cumulative share (A = first 80%, B = next 15%, C = tail). All shares
    compare DECIMAL-exactly (cum and total are exact decimal sums; the
    0.80/0.95 literals are decimal), so class boundaries cannot drift
    between engines; (revenue DESC, partkey) is a total order. Scale note:
    the ranking window is a single-partition sort over ONE ROW PER PART
    (post-aggregation) — fine to ~10^8 parts; past that the cutoff ranks
    come from a two-pass quantile-on-cumsum, same downstream semantics.""",
)


# ---------------------------------------------------------------------------
# Order interarrival analysis
# ---------------------------------------------------------------------------

INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         epoch_us(o_orderdate)
           - lag(epoch_us(o_orderdate))
             OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS gap_us
  FROM orders
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(g.gap_us) AS BIGINT) AS sum_gap_us,
       round(CAST(sum(g.gap_us) AS DOUBLE) / count(*) / 86400000000.0, 6)
         AS avg_gap_days
FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE g.gap_us IS NOT NULL
GROUP BY c.c_mktsegment
"""


@register("orders_interarrival", INTERARRIVAL_ORACLE)
def orders_interarrival(sess: SeccoSession):
    """Order interarrival gaps per market segment: per-customer consecutive
    order gaps (lag over the (o_orderdate, o_orderkey) total order), rolled
    up by segment. All accumulation is INTEGER microseconds (epoch_us both
    engines); the only double is a final ratio of exact integers, rounded.
    Scale: one hash exchange on custkey for the lag window, then a
    broadcast join to the customer dim and a 5-row aggregation."""
    from seccosql_spark.operators.timeutil import epoch_us

    spark = sess.spark
    o = spark.table("orders")
    c = spark.table("customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    eus = epoch_us(o, "o_orderdate")
    gaps = (
        o.select("o_custkey", (eus - F.lag(eus).over(w)).alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
    )
    out = (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
            F.round(
                F.sum("gap_us").cast("double") / F.count("*") / 86400000000.0, 6
            ).alias("avg_gap_days"),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Robust anomaly detection
# ---------------------------------------------------------------------------

_sql(
    "events_anomaly_mad",
    """
WITH med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events) r
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
),
dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY adev, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev) r
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
    """Robust anomaly flagging per event_type: |value - median| > 3 * MAD,
    with BOTH medians computed as the exact lower median via row_number
    selection (no interpolated percentile — interpolation is where engines
    drift). The (value, event_id) tiebreak makes the selected median row
    unique. Doubles appear only in identical-on-both-engines arithmetic
    (abs/compare/3*x), never in an accumulating sum. Scale: two window
    passes partitioned by event_type plus two broadcast-sized joins (one
    median row per type); the per-type partitions stream. Skewed types
    salt-split the window the same way the engine's skew utilities do.""",
)


# ---------------------------------------------------------------------------
# Exact percentile report
# ---------------------------------------------------------------------------

_sql(
    "events_value_percentiles",
    """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN rn = CAST(ceil(n * 0.90) AS BIGINT) THEN value END) AS p90,
       max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN value END) AS p99
FROM r
GROUP BY event_type
""",
    """Exact P50/P90/P99 per event_type — the SLO report — selected by rank
    (rn = ceil(n*p), the nearest-rank definition) rather than interpolated:
    the chosen value is an ACTUAL data point, bit-identical across engines
    (interpolated percentiles are where engines drift — same discipline as
    the MAD query's lower median). The (value, event_id) tiebreak totals
    the order. Scale: one hash exchange on event_type, rank + pick stream
    within partitions; skewed types salt-split as usual.""",
)


# ---------------------------------------------------------------------------
# Lakehouse reconciliation
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 97 <> 0
),
v2 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2))
           + CASE WHEN o_orderkey % 13 = 0 THEN CAST(1.00 AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END AS price
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT change_kind, CAST(count(*) AS BIGINT) AS n_rows
FROM (
  SELECT CASE WHEN v1.k IS NULL THEN 'added'
              WHEN v2.k IS NULL THEN 'removed'
              WHEN v1.status <> v2.status OR v1.price <> v2.price
                THEN 'changed'
              ELSE 'unchanged' END AS change_kind
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k) d
GROUP BY change_kind
"""


@register("snapshot_diff_orders", SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_orders(sess: SeccoSession):
    """Snapshot reconciliation (lakehouse table diff): classify every key as
    added / removed / changed / unchanged between two versions of `orders`
    (v1 and v2 are derived deterministically in-query: v1 drops every 97th
    key, v2 drops every 89th and bumps every 13th price — so all four
    classes are populated). The diff is ONE full-outer hash join on
    the primary key plus value comparison — the canonical pattern for CDC
    backfill validation. Prices compare as DECIMAL so 'changed' is exact.
    Scale: one shuffle on the key for each side; at 100 TB both sides would
    be bucketed on the key and the join becomes shuffle-free."""
    spark = sess.spark
    o = spark.table("orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    v1 = o.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        price.alias("price"),
    )
    v2 = o.where(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (
            price
            + F.when(
                F.col("o_orderkey") % 13 == 0, F.lit("1.00").cast("decimal(18,2)")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("price"),
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    kind = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(
            (F.col("a.status") != F.col("b.status"))
            | (F.col("a.price") != F.col("b.price")),
            "changed",
        )
        .otherwise("unchanged")
    )
    out = (
        j.select(kind.alias("change_kind"))
        .groupBy("change_kind")
        .agg(F.count("*").alias("n_rows"))
    )
    return sess.from_spark(out)


QUALITY_GATE_ORACLE = """
SELECT 'orders_fk_customer' AS check_name,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'customer_pk_unique',
       CAST((SELECT coalesce(sum(n - 1), 0) FROM
              (SELECT count(*) AS n FROM customer
               GROUP BY c_custkey HAVING count(*) > 1) d) AS BIGINT)
UNION ALL
SELECT 'events_user_not_null',
       CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT)
UNION ALL
SELECT 'orders_price_positive',
       CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
UNION ALL
SELECT 'documents_text_nonempty',
       CAST((SELECT count(*) FROM documents
             WHERE text IS NULL OR text = '') AS BIGINT)
"""


@register("quality_gate_audit", QUALITY_GATE_ORACLE)
def quality_gate_audit(sess: SeccoSession):
    """Declarative data-quality gate audit: one row per constraint with its
    violation count — FK orphans (LEFT ANTI joins), PK uniqueness (excess
    multiplicity), NOT NULL, range, and non-empty-text checks. This is the
    pre-ingest gate a pipeline runs on every new data drop before the
    expensive curation stages; a nonzero row fails the gate.

    Scale: each FK check is one anti join (broadcast when the dimension
    side is small, as customer/orders are relative to facts); the scalar
    checks are single-pass filters with map-side-combined counts. All
    checks are independent jobs unioned at 1 row each — at 100 TB they
    share scans via cache if run as a suite."""
    spark = sess.spark

    def cnt(df):
        return df.agg(F.count("*").alias("n_violations"))

    o, c, l, e, d = (
        spark.table("orders"),
        spark.table("customer"),
        spark.table("lineitem"),
        spark.table("events"),
        spark.table("documents"),
    )
    checks = [
        (
            "orders_fk_customer",
            cnt(o.join(c, o.o_custkey == c.c_custkey, "left_anti")),
        ),
        (
            "lineitem_fk_orders",
            cnt(l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")),
        ),
        (
            "customer_pk_unique",
            c.groupBy("c_custkey")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .agg(
                F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
                .cast("long")
                .alias("n_violations")
            ),
        ),
        ("events_user_not_null", cnt(e.where(F.col("user_id").isNull()))),
        ("orders_price_positive", cnt(o.where(F.col("o_totalprice") <= 0))),
        (
            "documents_text_nonempty",
            cnt(d.where(F.col("text").isNull() | (F.col("text") == ""))),
        ),
    ]
    parts = [
        df.select(F.lit(name).alias("check_name"), F.col("n_violations"))
        for name, df in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

BACKTEST_ORACLE = """
WITH hr AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hidx,
         sum(CAST(round(value, 9) AS DECIMAL(28,9))) AS sv
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
)
SELECT a.event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       round(CAST(sum(abs(a.sv - f.sv)) AS DOUBLE) / count(*), 6) AS mae
FROM hr a JOIN hr f
  ON a.event_type = f.event_type AND a.hidx = f.hidx + 168
GROUP BY a.event_type
"""


@register("events_seasonal_backtest", BACKTEST_ORACLE)
def events_seasonal_backtest(sess: SeccoSession):
    """Seasonal-naive forecast backtest: predict each hour's per-type value
    sum with the value from the same hour one week earlier (lag-168), and
    report the mean absolute error over all backtestable hours. The hourly
    series is an exact DECIMAL sum, the errors are decimal differences
    summed exactly, and the single double division happens once per output
    row — hash-stable across engines.

    Scale: one shuffle to build the hourly series (map-side combined), then
    a self-equi-join on (type, hidx) — at 100 TB the series table is
    hours x types rows, trivially broadcastable; the expensive part stays
    the first aggregation, which is the minimum any backtest needs."""
    from seccosql_spark.operators.timeutil import US_PER_HOUR, epoch_us

    ev = sess.spark.table("events")
    hr = (
        ev.withColumn("eus", epoch_us(ev, "ts"))
        .withColumn("hidx", F.expr(f"eus div {US_PER_HOUR}"))
        .groupBy("event_type", "hidx")
        .agg(F.sum(F.round(F.col("value"), 9).cast("decimal(28,9)")).alias("sv"))
    )
    a, f = hr.alias("a"), hr.alias("f")
    out = (
        a.join(
            f,
            (F.col("a.event_type") == F.col("f.event_type"))
            & (F.col("a.hidx") == F.col("f.hidx") + 168),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_hours"),
            F.round(
                F.sum(F.abs(F.col("a.sv") - F.col("f.sv"))).cast("double")
                / F.count("*"),
                6,
            ).alias("mae"),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Corpus novelty curve
# ---------------------------------------------------------------------------

NOVELTY_ORACLE = """
WITH wt AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
it AS (
  SELECT doc_id, source, ws,
         unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS i
  FROM wt
),
g AS (
  SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+7], ' ') AS gram
  FROM it
),
fst AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id, g.source,
         count(*) AS n_grams,
         sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN fst f ON g.gram = f.gram
  GROUP BY g.doc_id, g.source
),
decl AS (
  SELECT source, n_grams, n_novel,
         CAST(ntile(10) OVER (PARTITION BY source ORDER BY doc_id) AS INT)
           AS decile
  FROM per_doc
)
SELECT source, decile,
       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       CAST(sum(n_grams) AS BIGINT) AS n_grams
FROM decl
GROUP BY source, decile
"""


@register("text_novelty_curve", NOVELTY_ORACLE)
def text_novelty_curve(sess: SeccoSession):
    """Corpus novelty curve: for each source, in doc_id order, what
    fraction of each document's distinct 8-grams has never appeared in any
    earlier document? (n_novel/n_grams per doc_id-decile — emitted as exact
    integer sums.) A flattening curve is the standard diagnostic that a
    crawl has started re-collecting the same content — the go/no-go signal
    for continued ingestion.

    Scale: tokens are materialized as a column BEFORE the gram transform
    (r16: the inlined filter(split(text)) was re-evaluated inside the
    per-position lambda — O(tokens²) re-tokenization per document; as a
    named non-cheap multi-referenced projection CollapseProject keeps it
    evaluated once, the same discipline as dedup.py's hs column). Grams
    explode map-side ONCE; first-occurrence is a min window over the gram
    partition riding the same gram shuffle the old agg+join formulation
    paid twice (r16: the join-back formulation exploded the corpus twice —
    two parquet scans in the plan — and at scale the first-doc side of
    that join outgrows a broadcast, forcing a second gram shuffle anyway).
    Nothing is pairwise — the same discipline as the decontamination
    family. The ntile runs per source over per-doc rows."""
    d = sess.spark.table("documents")
    toked = d.select(
        "doc_id",
        "source",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws"),
    )
    grams = F.when(
        F.size("ws") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("ws") - 7, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice("ws", i, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select(
        "doc_id", "source", F.explode(F.array_distinct(grams)).alias("gram")
    )
    wgram = Window.partitionBy("gram")
    per_doc = (
        g.withColumn("first_doc", F.min("doc_id").over(wgram))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    out = (
        per_doc.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("source", "decile")
        .agg(
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.sum("n_grams").cast("long").alias("n_grams"),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Closeness centrality (multi-source frontier BFS)
# ---------------------------------------------------------------------------

from seccosql_spark.graph.algorithms import _union_all  # noqa: E402
from seccosql_spark.operators.recursion import checkpoint, semi_naive  # noqa: E402
from seccosql_spark.queries.graph import EDGES_SPARSE  # noqa: E402

CLOSENESS_ORACLE = f"""
WITH RECURSIVE e AS (SELECT src, dst FROM ({EDGES_SPARSE})),
nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL
    SELECT dst AS a, src AS b FROM e)
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM nb),
walk(s, id, d) AS (
  SELECT id AS s, id, 0 FROM nodes
  UNION
  SELECT w.s, nb.b, least(w.d + 1, 64) FROM walk w JOIN nb ON nb.a = w.id
),
dist AS (SELECT s, id, min(d) AS d FROM walk GROUP BY s, id)
SELECT s AS id,
       CAST(count(*) - 1 AS BIGINT) AS n_reached,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       round(CAST(count(*) - 1 AS DOUBLE) / sum(d), 6) AS closeness
FROM dist GROUP BY s
HAVING sum(d) > 0
"""


@register("g_closeness_centrality", CLOSENESS_ORACLE)
def g_closeness_centrality(sess: SeccoSession, source_fraction: float = 1.0,
                           max_rounds: int = 64):
    """Closeness centrality for every node of the sparse undirected graph:
    (reachable peers) / (sum of BFS distances to them), via ONE
    multi-source frontier BFS — all |V| sources advance together as
    (source, node, depth) state, each round joining only the new frontier
    against the symmetrized edges with a composite-key anti-join against
    the seen set. Integer distances; one rounded ratio per output row.

    Scale: per-round work is |frontier| x avg-degree — the same semi-naive
    discipline as `g_bfs_distances`, with the source dimension carried as
    data (no per-source jobs). All-sources closeness carries O(V^2) `seen`
    state like any exact formulation; on a 100x graph pass
    ``source_fraction`` < 1 and the SAME kernel computes exact closeness
    for a deterministic HASH-SAMPLED source subset (the standard
    estimator, Eppstein & Wang 2001) by filtering only the seed frontier —
    state drops to O(fV * V), nothing downstream changes, and the sampled
    rows equal the exact run's rows for those sources (pinned by
    ``test_closeness_sampled_sources_match_exact``). If the frontier is
    still live after ``max_rounds`` the kernel RAISES rather than silently
    dropping beyond-horizon nodes (the budget discipline of the other
    iterative kernels; the registry default of 64 matches the oracle's
    distance cap and the testdata graph's eccentricity)."""
    spark = sess.spark
    e = spark.sql(EDGES_SPARSE)
    nb, _ = checkpoint(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    seeds = nb.select(F.col("a").alias("s")).distinct()
    if source_fraction < 1.0:
        # deterministic hash sample of SOURCES only (per-source BFS state is
        # exact); xxhash64 so the pick is stable across runs and engines
        seeds = seeds.where(
            F.pmod(F.xxhash64(F.col("s")), F.lit(10000))
            < F.lit(int(round(source_fraction * 10000)))
        )

    def _expand(frontier, seen, _round):
        return (
            frontier.join(nb, frontier["id"] == nb["a"])
            .select("s", F.col("b").alias("id"), (F.col("d") + 1).alias("d"))
            .distinct()
            .join(
                seen.select(F.col("s").alias("__ss"), F.col("id").alias("__si")),
                (F.col("s") == F.col("__ss")) & (F.col("id") == F.col("__si")),
                "left_anti",
            )
        )

    seen, _ = semi_naive(
        seeds.select("s", F.col("s").alias("id"), F.lit(0).alias("d")), _expand, max_rounds,
        exhausted=f"closeness BFS still expanding after {max_rounds} rounds; "
        "raise max_rounds (graph eccentricity exceeds the budget)",
    )
    out = (
        seen.groupBy(F.col("s").alias("id"))
        .agg(
            (F.count("*") - 1).cast("long").alias("n_reached"),
            F.sum("d").cast("long").alias("sum_dist"),
        )
        .where(F.col("sum_dist") > 0)
        .select(
            "id",
            "n_reached",
            "sum_dist",
            F.round(F.col("n_reached").cast("double") / F.col("sum_dist"), 6).alias(
                "closeness"
            ),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Class-balanced downsampling
# ---------------------------------------------------------------------------

BALANCED_ORACLE = """
WITH counts AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS rn
  FROM embeddings
)
SELECT vec_id, label FROM ranked
WHERE rn <= (SELECT min(c) FROM counts)
"""


@register("sample_balanced_classes", BALANCED_ORACLE)
def sample_balanced_classes(sess: SeccoSession):
    """Class-balanced downsampling: every label keeps exactly
    min-class-size rows, selected by md5-hash order (deterministic,
    unbiased w.r.t. any feature, reproducible across engines and runs) —
    the standard pre-training rebalance for skewed label distributions.
    Scale: one count aggregation (broadcast scalar) plus one per-label
    window; heavily skewed labels salt the window the same way the skew
    utilities do."""
    emb = sess.spark.table("embeddings")
    m = emb.groupBy("label").agg(F.count("*").alias("c")).agg(F.min("c").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    out = (
        emb.select("vec_id", "label", F.row_number().over(w).alias("rn"))
        .join(F.broadcast(m))
        .where(F.col("rn") <= F.col("m"))
        .select("vec_id", "label")
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Per-source dataset card
# ---------------------------------------------------------------------------

DATA_CARD_ORACLE = """
WITH d AS (
  SELECT source, lang, md5(text) AS h,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
),
per_source AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM d GROUP BY source
),
lang_counts AS (
  SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang
),
entropy AS (
  SELECT lc.source,
         CAST(sum(CAST(lc.c AS DECIMAL(28,9))
                  * CAST(round(ln(CAST(lc.c AS DOUBLE) / ps.n_docs), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS sln,
         min(ps.n_docs) AS n_docs
  FROM lang_counts lc JOIN per_source ps ON lc.source = ps.source
  GROUP BY lc.source
)
SELECT ps.source,
       CAST(ps.n_docs AS BIGINT) AS n_docs,
       ps.n_exact_dups,
       ps.total_tokens,
       round(CAST(ps.total_tokens AS DOUBLE) / ps.n_docs, 6) AS avg_tokens,
       ps.n_langs,
       round(-e.sln / e.n_docs, 6) AS lang_entropy
FROM per_source ps JOIN entropy e ON ps.source = e.source
"""


@register("source_data_card", DATA_CARD_ORACLE)
def source_data_card(sess: SeccoSession):
    """Per-source dataset card — the datasheet a curation pipeline publishes
    with every corpus drop: document count, exact-duplicate count (md5),
    token totals and mean, language count, and the Shannon entropy of the
    language mix (high entropy = well-mixed, near-zero = monolingual).

    Entropy follows the established cross-engine ln discipline: each
    per-language ln(p) is rounded to DECIMAL(18,9) BEFORE the weighted
    decimal sum (order-independent), with one final double division. Scale:
    one scan feeds two source-keyed aggregations (docs-per-language is a
    map-side-combined count; the dup count rides the same per-source agg);
    nothing leaves the source partitioning until the 10-row join."""
    d = sess.spark.table("documents").select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tok"),
    )
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    lang_counts = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    entropy = (
        lang_counts.join(per_source.select("source", "n_docs"), "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.col("c").cast("decimal(28,9)")
                * F.round(
                    F.log(F.col("c").cast("double") / F.col("n_docs")), 9
                ).cast("decimal(18,9)")
            )
            .cast("double")
            .alias("sln"),
            F.min("n_docs").alias("nd"),
        )
    )
    out = per_source.join(entropy, "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_exact_dups").cast("long").alias("n_exact_dups"),
        "total_tokens",
        F.round(F.col("total_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "avg_tokens"
        ),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.round(-F.col("sln") / F.col("nd"), 6).alias("lang_entropy"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Point-in-time dimension lookup (time travel against the SCD2 history)
# ---------------------------------------------------------------------------

PIT_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, epoch_us(o_orderdate) AS ts, o_orderkey,
         CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, o_orderkey)
),
runs AS (
  SELECT o_custkey, o_orderstatus, ts,
         sum(chg) OVER (PARTITION BY o_custkey ORDER BY ts, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM ordered
),
iv AS (
  SELECT o_custkey, o_orderstatus, min(ts) AS valid_from_us
  FROM runs GROUP BY o_custkey, o_orderstatus, run_id
),
probe AS (
  SELECT lg.l_orderkey, lg.l_linenumber, lg.sts, lg.n_lines, lg.rev,
         o.o_custkey
  FROM (SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS sts,
               count(*) AS n_lines,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                 AS rev
        FROM lineitem
        GROUP BY l_orderkey, l_linenumber, epoch_us(l_shipdate)) lg
  JOIN orders o ON lg.l_orderkey = o.o_orderkey
),
cand AS (
  SELECT p.rev, p.n_lines, i.o_orderstatus,
         row_number() OVER (PARTITION BY p.l_orderkey, p.l_linenumber, p.sts
                            ORDER BY i.valid_from_us DESC,
                                     i.o_orderstatus DESC) AS rn
  FROM probe p JOIN iv i
    ON p.o_custkey = i.o_custkey AND i.valid_from_us <= p.sts
)
SELECT o_orderstatus AS pit_status,
       CAST(sum(n_lines) AS BIGINT) AS n_items,
       CAST(sum(rev) AS DOUBLE) AS revenue
FROM cand WHERE rn = 1
GROUP BY o_orderstatus
"""


@register("pit_status_lookup", PIT_ORACLE)
def pit_status_lookup(sess: SeccoSession):
    """Point-in-time dimension lookup (time travel): each shipped line item
    is joined to the customer's SCD2 status run that was CURRENT at ship
    time — the as-of rule is argmax over valid_from <= ship_ts, realized as
    max(struct(valid_from, status)) per probe (identical to the oracle's
    row_number DESC rule, including the status tiebreak when two runs share
    a start timestamp). Revenue rolls up by point-in-time status as exact
    decimals.

    This composes the engine's own SCD2 builder (`scd2_status_history`) as
    the dimension side — the standard warehouse pattern of building the
    history once and probing it from every fact. Scale: the probe-interval
    join is custkey-keyed (fan-out = runs per customer, small by
    construction); the argmax is a map-side-combinable struct max, NOT a
    window over the fact table; everything shuffles on custkey/probe keys
    only."""
    from seccosql_spark.operators.timeutil import epoch_us
    from seccosql_spark.queries.window_analytics import scd2_status_history

    spark = sess.spark
    iv = scd2_status_history(sess)
    iv = (iv.df if hasattr(iv, "df") else iv).select(
        "o_custkey", "o_orderstatus", "valid_from_us"
    )
    l, o = spark.table("lineitem"), spark.table("orders")
    # The synthetic lineitem does NOT enforce the TPC-H (orderkey,
    # linenumber) PK — pre-aggregate duplicates into one probe per
    # (key, ship hour) so no real line is silently dropped by the argmax.
    lg = (
        l.withColumn("sts", epoch_us(l, "l_shipdate"))
        .groupBy("l_orderkey", "l_linenumber", "sts")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("rev"),
        )
    )
    probe = lg.join(o, lg.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "sts", "n_lines", "rev", "o_custkey"
    )
    cand = probe.join(
        iv.withColumnRenamed("o_custkey", "iv_cust"),
        (F.col("o_custkey") == F.col("iv_cust"))
        & (F.col("valid_from_us") <= F.col("sts")),
    )
    best = cand.groupBy("l_orderkey", "l_linenumber", "sts").agg(
        F.max(F.struct("valid_from_us", "o_orderstatus")).alias("b"),
        F.first("rev").alias("rev"),
        F.first("n_lines").alias("n_lines"),
    )
    out = best.groupBy(F.col("b.o_orderstatus").alias("pit_status")).agg(
        F.sum("n_lines").cast("long").alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Cohort lifetime value
# ---------------------------------------------------------------------------

_sql(
    "orders_cohort_ltv",
    """
WITH first_order AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
),
monthly AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
           AS midx,
         count(*) AS n_orders,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
  GROUP BY f.cohort_m,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
)
SELECT cohort_m, midx,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(sum(rev) OVER (PARTITION BY cohort_m ORDER BY midx) AS DOUBLE)
         AS cum_revenue
FROM monthly
""",
    """Cohort lifetime value: customers grouped by first-order month
    (integer year*12+month index — no engine-specific month arithmetic),
    cumulative decimal revenue by months-since-first-order. The running
    window is per cohort over at most a few hundred month rows
    (post-aggregation), ordered by the unique midx. Scale: two hash
    aggregations and one join on custkey; the cumulative window touches
    cohort x month rows only.""",
)


# ---------------------------------------------------------------------------
# Entity resolution
# ---------------------------------------------------------------------------

_sql(
    "entity_resolution_blocked",
    """
WITH base AS (
  SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS nk FROM customer
),
dirty AS (
  SELECT rec_id + 1000000 AS rec_id,
         replace(name, 'Customer', 'Custmer') AS name, nk
  FROM base WHERE rec_id % 20 = 0
),
recs AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
keyed AS (SELECT rec_id, name, nk, right(name, 6) AS blk FROM recs),
pairs AS (
  SELECT a.rec_id AS a_id, b.rec_id AS b_id
  FROM keyed a JOIN keyed b
    ON a.blk = b.blk AND a.nk = b.nk AND a.rec_id < b.rec_id
  WHERE levenshtein(a.name, b.name) <= 2
),
canon AS (
  SELECT r.rec_id, coalesce(min(p.a_id), r.rec_id) AS entity_id
  FROM keyed r LEFT JOIN pairs p ON p.b_id = r.rec_id
  GROUP BY r.rec_id
)
SELECT CAST(n_members AS BIGINT) AS n_members,
       CAST(count(*) AS BIGINT) AS n_entities
FROM (SELECT entity_id, count(*) AS n_members FROM canon GROUP BY entity_id) m
GROUP BY n_members
""",
    """Blocked entity resolution over a deterministically dirtied customer
    corpus: every 20th customer gains a typo'd duplicate record
    ('Customer' -> 'Custmer', edit distance 1, shifted id); blocking on
    (name digit suffix, nationkey) confines candidate pairs to same-entity
    records, an edit-distance <= 2 verify confirms them, and min-id
    propagation assigns entity ids (exact here: the digit-suffix block key
    is unique per entity, so clusters are single pairs). Output: entity
    size histogram — duplicated customers resolve to 2-member entities, the
    rest stay singletons. Scale: candidates are BLOCKED equi-join pairs
    (never all-pairs; the block key carries ~1 record pair per entity), the
    verify predicate is JVM levenshtein, and the min-propagation is one
    aggregation — the same candidate-generation discipline as the LSH dedup
    family. For transitively-chained dirt the one-round min-id step
    generalizes to the large-star/small-star iteration already proven in
    dedup_cluster_canonical.""",
)


# ---------------------------------------------------------------------------
# Sampled betweenness centrality (Brandes 2001 on hash-sampled sources)
# ---------------------------------------------------------------------------

BETWEENNESS_K = 8  # unrolled BFS/back-prop depth budget (graph ecc <= 6)


def _betweenness_forward_sql(k: int) -> str:
    """Walk-count level k for the oracle: walks of length k from each seed.
    A walk of length == dist(s,v) is necessarily a shortest path, so
    sigma(s,v) is the walk count at exactly the BFS distance — no recursive
    aggregation needed (DuckDB disallows GROUP BY in a recursive term).
    HUGEINT: total walk counts grow like degree^k (~90^8 at sf0.1) even
    though the sigma actually consumed stays small."""
    return f"""
w{k} AS MATERIALIZED (
  SELECT w.s, nb.b AS id, CAST(sum(w.cnt) AS HUGEINT) AS cnt
  FROM w{k - 1} w JOIN nb ON nb.a = w.id
  GROUP BY w.s, nb.b)"""


def _betweenness_backward_sql(k: int) -> str:
    """Dependency back-propagation level k: delta(v) = sum over DAG
    successors w (neighbors one level deeper) of sig_v/sig_w * (1+delta_w).
    Cross-engine float discipline: each contribution is ONE double
    expression (identical association order in Spark), rounded to 9
    decimals, summed as DECIMAL — order-independent exact addition."""
    return f"""
c{k} AS MATERIALIZED (
  SELECT v.s, v.id,
         sum(CAST(round(CAST(v.sig AS DOUBLE) * (1.0 + CAST(dn.delta AS DOUBLE))
                        / CAST(wn.sig AS DOUBLE), 9) AS DECIMAL(28,9))) AS delta
  FROM sp v
  JOIN nb ON nb.a = v.id
  JOIN sp wn ON wn.s = v.s AND wn.id = nb.b AND wn.d = {k + 1}
  JOIN d{k + 1} dn ON dn.s = wn.s AND dn.id = wn.id
  WHERE v.d = {k}
  GROUP BY v.s, v.id),
d{k} AS MATERIALIZED (
  SELECT v.s, v.id, CAST(coalesce(c.delta, 0) AS DECIMAL(28,9)) AS delta
  FROM sp v LEFT JOIN c{k} c ON c.s = v.s AND c.id = v.id
  WHERE v.d = {k})"""


BETWEENNESS_ORACLE = (
    f"""
WITH e AS ({EDGES_SPARSE}),
nb AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL
    SELECT dst AS a, src AS b FROM e)
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM nb),
seeds AS MATERIALIZED (
  SELECT id AS s FROM nodes
  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
w0 AS MATERIALIZED (SELECT s, s AS id, CAST(1 AS HUGEINT) AS cnt FROM seeds),"""
    + ",".join(_betweenness_forward_sql(k) for k in range(1, BETWEENNESS_K + 1))
    + """,
lv AS MATERIALIZED (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT s, id, {k} AS d, cnt FROM w{k}" for k in range(0, BETWEENNESS_K + 1)
    )
    + f"""),
dist AS MATERIALIZED (SELECT s, id, min(d) AS d FROM lv GROUP BY s, id),
sp AS MATERIALIZED (
  SELECT lv.s, lv.id, lv.d, CAST(lv.cnt AS BIGINT) AS sig
  FROM lv JOIN dist ON lv.s = dist.s AND lv.id = dist.id AND lv.d = dist.d),
d{BETWEENNESS_K} AS MATERIALIZED (
  SELECT s, id, CAST(0 AS DECIMAL(28,9)) AS delta FROM sp WHERE d = {BETWEENNESS_K}),"""
    + ",".join(
        _betweenness_backward_sql(k) for k in range(BETWEENNESS_K - 1, -1, -1)
    )
    + f""",
bc AS (
  SELECT id, sum(delta) AS b FROM (
"""
    + "\n    UNION ALL\n".join(
        f"    SELECT id, delta FROM d{k}" for k in range(1, BETWEENNESS_K + 1)
    )
    + """
  ) GROUP BY id)
SELECT n.id,
       round(CAST(coalesce(bc.b, 0) AS DOUBLE), 6) AS bc
FROM nodes n LEFT JOIN bc ON bc.id = n.id
"""
)


@register("g_betweenness_sampled", BETWEENNESS_ORACLE)
def g_betweenness_sampled(sess: SeccoSession):
    """Sampled betweenness centrality (Brandes 2001, on a deterministic
    md5-hash-sampled ~25% source subset — the standard estimator, and the
    same sampling discipline as ``g_closeness_centrality``'s
    source_fraction; md5 rather than xxhash64 because the ORACLE must
    replay the pick and DuckDB has no xxhash64): for every node, the sum
    over sampled sources s of the dependency delta_s(v).

    Two phases, both multi-source with the source carried as data:
    FORWARD — the closeness-style frontier BFS, except the frontier also
    carries sigma (shortest-path counts): a new node's sigma is the SUM of
    its depth-d predecessors' sigmas (groupBy-sum where closeness used
    distinct), anti-joined against seen on the composite key. BACKWARD —
    per level from the deepest down, delta(v) = sum over DAG successors w
    (neighbors one level deeper) of sig_v/sig_w * (1 + delta_w); each
    contribution is one double expression rounded to 9 decimals and summed
    as DECIMAL(28,9), so the sum is order-independent and bit-identical in
    both engines (the decimal-sum-then-double discipline).

    Scale: forward state is O(fV * V) like sampled closeness; backward is
    one join per BFS level (2*ecc bounded rounds total), never a global
    recomputation. sigma stays BIGINT — on graphs where shortest-path
    counts could overflow, the same DECIMAL(38,0) lift as hits() applies
    upstream. Raises if the frontier is live after BETWEENNESS_K rounds
    (budget discipline); the oracle unrolls the same {BETWEENNESS_K}-level
    cap. The depth budget is deliberately NOT a parameter: the registered
    oracle is unrolled to exactly BETWEENNESS_K levels, so any other budget
    would silently desync engine from oracle (ADVICE r10) — a deeper graph
    needs BETWEENNESS_K itself raised, which regenerates the oracle too."""
    spark = sess.spark
    e = spark.sql(EDGES_SPARSE)
    nb, _ = checkpoint(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    nodes = nb.select(F.col("a").alias("id")).distinct()
    seeds = nodes.where(
        F.substring(F.md5(F.col("id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select(F.col("id").alias("s"))

    def _expand(frontier, seen, depth):
        cand = (
            frontier.join(nb, frontier["id"] == nb["a"])
            .groupBy("s", F.col("b").alias("nid"))
            .agg(F.sum("sig").cast("long").alias("sig"))
        )
        return (
            cand.join(
                seen.select(F.col("s").alias("__ss"), F.col("id").alias("__si")),
                (F.col("s") == F.col("__ss")) & (F.col("nid") == F.col("__si")),
                "left_anti",
            )
            .select("s", F.col("nid").alias("id"), F.lit(depth).alias("d"), "sig")
        )

    seen, depth = semi_naive(
        seeds.select(
            "s", F.col("s").alias("id"), F.lit(0).alias("d"), F.lit(1).cast("long").alias("sig")
        ),
        _expand,
        BETWEENNESS_K,
        exhausted=f"betweenness BFS still expanding after {BETWEENNESS_K} rounds; raise "
        "BETWEENNESS_K (regenerates the unrolled oracle to the same depth)",
    )

    # backward: delta at the deepest level is 0; one join per level walking up
    deltas = {
        depth: seen.where(F.col("d") == depth).select(
            "s", "id", F.lit(0).cast("decimal(28,9)").alias("delta")
        )
    }
    # stop at level 1: deltas[0] would be the SOURCES' own dependencies,
    # which betweenness never consumes (bc sums levels 1..depth only) —
    # computing it was one discarded full join+checkpoint per run
    for k in range(depth - 1, 0, -1):
        cur = seen.where(F.col("d") == k)
        down = seen.where(F.col("d") == k + 1).select(
            F.col("s").alias("ws"), F.col("id").alias("wid"),
            F.col("sig").alias("wsig"),
        ).join(
            deltas[k + 1].select(
                F.col("s").alias("ws"), F.col("id").alias("wid"), "delta"
            ),
            ["ws", "wid"],
        )
        contrib = (
            cur.join(nb, cur["id"] == nb["a"])
            .join(
                down,
                (F.col("s") == F.col("ws")) & (F.col("b") == F.col("wid")),
            )
            .select(
                "s",
                "id",
                F.round(
                    F.col("sig").cast("double")
                    * (F.lit(1.0) + F.col("delta").cast("double"))
                    / F.col("wsig").cast("double"),
                    9,
                )
                .cast("decimal(28,9)")
                .alias("c"),
            )
            .groupBy("s", "id")
            .agg(F.sum("c").alias("delta"))
        )
        deltas[k] = (
            cur.join(contrib, ["s", "id"], "left")
            .select(
                "s",
                "id",
                F.coalesce(F.col("delta"), F.lit(0))
                .cast("decimal(28,9)")
                .alias("delta"),
            )
            .localCheckpoint(eager=True)
        )

    if depth:
        bc = (
            _union_all([deltas[k] for k in range(1, depth + 1)])
            .groupBy("id")
            .agg(F.sum("delta").alias("b"))
        )
    else:
        bc = nodes.select("id", F.lit(0).cast("decimal(38,9)").alias("b")).limit(0)
    out = nodes.join(bc, "id", "left").select(
        "id",
        F.round(F.coalesce(F.col("b"), F.lit(0)).cast("double"), 6).alias("bc"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# CUSUM change-point detection over hourly event-type series
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS total
  FROM hc GROUP BY event_type),
cs AS (
  SELECT hc.event_type, hc.hr,
         sum(CAST(tot.n_hours AS DECIMAL(38,0)) * hc.c - tot.total)
           OVER (PARTITION BY hc.event_type ORDER BY hc.hr
                 ROWS UNBOUNDED PRECEDING) AS s
  FROM hc JOIN tot USING (event_type)),
ranked AS (
  SELECT event_type, hr, abs(s) AS dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(s) DESC, hr) AS rn
  FROM cs)
SELECT r.event_type,
       strftime(r.hr, '%Y-%m-%d %H:%M:%S') AS change_hour,
       CAST(r.dev AS BIGINT) AS max_dev,
       t.n_hours, t.total
FROM ranked r JOIN tot t USING (event_type)
WHERE r.rn = 1
"""


@register("events_cusum_changepoint", CUSUM_ORACLE)
def events_cusum_changepoint(sess: SeccoSession):
    """CUSUM change-point estimation per event_type: over the hourly count
    series, the cumulative deviation from the series mean S_k = Σ_{i<=k}
    (c_i - mean) peaks at the most likely level-shift point (Page 1954 /
    the standard offline CUSUM estimator argmax |S_k|). Mean is never
    materialized as a float — the whole statistic is cross-multiplied by
    n_hours (S'_k = Σ n·c_i - total, same argmax), accumulated in
    DECIMAL(38,0) because a BIGINT running sum of n·c wraps at plausible
    corpus scales and Spark wraps SILENTLY with ANSI off (the hits()/
    temperature-quota discipline). One hour-keyed aggregation, one
    broadcast-sized per-type scalar join, one running-frame window, one
    argmax window — no self-joins, holds at any history length."""
    spark = sess.spark
    ev = spark.table("events")
    hc = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("total"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = hc.join(tot, "event_type").withColumn(
        "s",
        F.sum(
            F.col("n_hours").cast("decimal(38,0)") * F.col("c") - F.col("total")
        ).over(w_run),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), "hr"
    )
    out = (
        cs.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("change_hour"),
            F.abs(F.col("s")).cast("long").alias("max_dev"),
            "n_hours",
            "total",
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view (delta algebra)
# ---------------------------------------------------------------------------

IVM_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("ivm_join_delta", IVM_JOIN_ORACLE)
def ivm_join_delta(sess: SeccoSession):
    """Join-view incremental maintenance — the sibling of `ivm_q1_merge`
    (which maintains an AGGREGATE view): for V = O ⋈ L, an arriving batch
    (ΔO, ΔL) is folded in as V' = V ∪ (ΔO ⋈ L_old) ∪ (O_old ⋈ ΔL) ∪
    (ΔO ⋈ ΔL) — the standard delta algebra, exact because the four terms
    partition O' × L' by which side of each input a row came from. The
    "arriving batch" is carved deterministically from the tables (orders
    with o_orderkey % 20 = 0, lineitems with l_orderkey % 30 = 0 — the
    moduli differ so the deltas overlap partially, exercising all four
    terms including ΔO ⋈ ΔL). The Spark side materializes the view the
    INCREMENTAL way; the oracle recomputes the join from scratch — a
    hash-mismatch means the delta algebra dropped or duplicated a row.
    Scale: the three delta joins touch |Δ|-proportional data (the whole
    point of IVM at 100 TB); the base-view term is the one full join any
    first materialization pays."""
    spark = sess.spark
    o = spark.table("orders").select("o_orderkey", "o_orderpriority")
    l = spark.table("lineitem").select("l_orderkey", "l_extendedprice")
    o_new = F.col("o_orderkey") % 20 == 0
    l_new = F.col("l_orderkey") % 30 == 0
    o_old, d_o = o.where(~o_new), o.where(o_new)
    l_old, d_l = l.where(~l_new), l.where(l_new)

    def j(left, right):
        return left.join(right, left["o_orderkey"] == right["l_orderkey"])

    view = (
        j(o_old, l_old)
        .unionByName(j(d_o, l_old))
        .unionByName(j(o_old, d_l))
        .unionByName(j(d_o, d_l))
    )
    out = view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("revenue"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Exponential time-decay engagement (exact dyadic fixed-point)
# ---------------------------------------------------------------------------

DECAY_ORACLE = """
WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
t AS (
  SELECT event_type,
         CAST((mx.m - epoch_us(ts)) // 86400000000 AS BIGINT) AS hl
  FROM events CROSS JOIN mx)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN hl <= 30 THEN CAST(1 AS BIGINT) << (30 - hl)
                     ELSE 0 END) AS BIGINT) AS decayed_fp30
FROM t GROUP BY event_type
"""


@register("events_decayed_engagement", DECAY_ORACLE)
def events_decayed_engagement(sess: SeccoSession):
    """Exponentially time-decayed engagement per event_type with a 24-hour
    half-life — the freshness-weighted popularity signal feed rankers and
    data-mixture schedulers use. The decay is EXACT, not a float pow():
    each event contributes 2^(30 - floor(age/halflife)) in fixed point
    (scaled by 2^30), so every term is a dyadic integer, the sum is plain
    BIGINT arithmetic, and the two engines cannot drift by a libm ulp the
    way exp(x·ln½) can. Events older than 30 half-lives quantize to zero
    (relative weight < 1e-9 — below any ranking's resolution). Age is
    integer microseconds against the corpus max (one 1-row collect, then a
    map-only projection + one aggregation; 2^30 × corpus-size sums fit
    BIGINT to ~8e9 events per type — past that, lift to DECIMAL(38,0) as
    per the hits() discipline)."""
    from seccosql_spark.operators.timeutil import epoch_us

    spark = sess.spark
    ev = spark.table("events")
    us = epoch_us(ev, "ts")
    max_us = ev.agg(F.max(us).alias("m")).collect()[0]["m"]
    # PySpark's shiftleft() only takes a Python int for numBits — route the
    # column-exponent shift through a SQL expression instead
    term = ev.select(
        # integer DIV, never double-divide-then-truncate (bucket discipline)
        "event_type", (F.lit(max_us) - us).alias("age_us")
    ).selectExpr(
        "event_type", "age_us DIV 86400000000 AS hl"
    ).selectExpr(
        "event_type",
        "CASE WHEN hl <= 30 THEN shiftleft(CAST(1 AS BIGINT), CAST(30 - hl AS INT)) "
        "ELSE CAST(0 AS BIGINT) END AS w",
    )
    out = term.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("w").cast("long").alias("decayed_fp30"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Exact OLS trend per group (integer power sums)
# ---------------------------------------------------------------------------

TREND_ORACLE = """
WITH c AS (
  SELECT o_orderpriority,
         CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS mi,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
m AS (
  SELECT o_orderpriority, mi, CAST(sum(cents) AS BIGINT) AS y
  FROM c GROUP BY o_orderpriority, mi),
agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(mi AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(mi AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(mi AS HUGEINT) * mi) AS HUGEINT) AS sxx
  FROM m GROUP BY o_orderpriority)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_months,
       CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR) AS slope_num,
       CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS VARCHAR) AS slope_den,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6)
            ELSE NULL END AS slope
FROM agg
"""


@register("orders_monthly_trend", TREND_ORACLE)
def orders_monthly_trend(sess: SeccoSession):
    """Exact OLS revenue trend per order priority: the least-squares slope
    of monthly revenue over the month index, computed ENTIRELY from integer
    power sums (n, Σx, Σy, Σxy, Σx²) in DECIMAL(38,0)/HUGEINT — the
    distributed-regression kernel where only the final slope takes one
    double division (round 6). No floats accumulate: month revenue is
    exact cents (floor(x·100+0.5) — CAST alone rounds in DuckDB but
    truncates in Spark), and the cross-multiplied numerator/denominator
    are emitted as exact decimals so the driver hash checks the integers,
    not just the quotient. Σxy at 100 TB: month-index ≤ ~1e3 × cents sums
    ~1e16 → 1e19 exceeds int64, hence the 38-digit discipline. Two
    aggregations, no window, no join."""
    spark = sess.spark
    o = spark.table("orders")
    c = o.select(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("mi"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    m = c.groupBy("o_orderpriority", "mi").agg(
        F.sum("cents").cast("long").alias("y")
    )
    d = "decimal(38,0)"
    agg = m.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum(F.col("mi").cast(d)).cast(d).alias("sx"),
        F.sum(F.col("y").cast(d)).cast(d).alias("sy"),
        F.sum((F.col("mi").cast(d) * F.col("y")).cast(d)).cast(d).alias("sxy"),
        F.sum((F.col("mi").cast(d) * F.col("mi")).cast(d)).cast(d).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d)
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d)
    out = agg.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_months"),
        # emitted as strings: 38-digit exact integers round-trip the
        # driver canonicalizer (pandas floats a DECIMAL column)
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"),
        # a single-month group has zero x-variance: slope undefined ->
        # NULL both engines (never an ANSI divide-by-zero)
        F.when(den > 0, F.round(num.cast("double") / den.cast("double"), 6))
        .alias("slope"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Content checksums per bucket (anti-entropy / replication audit)
# ---------------------------------------------------------------------------

def _h60_sql(expr: str) -> str:
    """DuckDB: first 15 hex chars of an md5-hex expression as a 60-bit int
    (fits BIGINT with headroom for the decimal summation) — the shared
    operators.hexint recipe."""
    from seccosql_spark.operators.hexint import hex_prefix_int_sql

    return hex_prefix_int_sql(expr, 15)


_CHECKSUM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_returnflag", "l_linestatus",
)

CHECKSUM_ORACLE = f"""
WITH m AS (
  SELECT l_orderkey % 16 AS bucket,
         md5(concat_ws('|', {", ".join(_CHECKSUM_COLS)})) AS hx
  FROM lineitem),
h AS (
  SELECT bucket, CAST({_h60_sql("hx")} AS BIGINT) AS h
  FROM m)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CAST(sum(CAST(h AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS content_sum
FROM h GROUP BY bucket
"""


@register("table_checksum_buckets", CHECKSUM_ORACLE)
def table_checksum_buckets(sess: SeccoSession):
    """Anti-entropy content checksums: per key-range bucket, row count plus
    an order-INDEPENDENT sum of 60-bit row digests — the replication /
    migration audit primitive (compare per-bucket checksums between two
    copies of a 100 TB table without moving rows; a mismatched bucket
    localizes the diff to 1/16 of the keyspace, recurse to narrow). Digest
    columns are exact-typed only (integers render identically in both
    engines; doubles would not), the per-row hash is md5-hex → 60-bit int
    (the md5-uniform recipe), and the bucket sum accumulates in
    DECIMAL(38,0) — 2^60 × row-count wraps int64 past ~8k rows per bucket.
    One map-only projection + one aggregation; emitted as a string because
    the driver canonicalizer floats DECIMAL columns."""
    spark = sess.spark
    l = spark.table("lineitem")
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *_CHECKSUM_COLS)), 1, 15), 16, 10
    ).cast("long")
    out = (
        l.select((F.col("l_orderkey") % 16).cast("long").alias("bucket"),
                 h.alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_sum"),
        )
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# RANGE-interval window: trailing 30-day order counts / revenue
# ---------------------------------------------------------------------------

RANGE_WINDOW_ORACLE = """
SELECT o_orderkey,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_30d,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
            AS BIGINT) AS cents_trailing_30d
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


@register("orders_trailing_30d_range", RANGE_WINDOW_ORACLE)
def orders_trailing_30d_range(sess: SeccoSession):
    """Time-based RANGE window frame — trailing-30-day order count and
    revenue per priority at every order's date. Every other window in the
    registry is a ROWS frame; RANGE BETWEEN INTERVAL is the frame type a
    calendar-trailing metric actually needs (peer rows at the same date
    aggregate together; gaps shorten the window's content, not its span),
    and both engines implement the identical SQL-standard semantics —
    exercised here as one SQL string on each side. Revenue is exact cents
    (floor(x*100+0.5) — CAST rounds in DuckDB, truncates in Spark). Scale:
    one hash exchange on the partition key; the frame is evaluated by a
    running two-pointer over each partition's sort, never a self-join."""
    return sess.from_spark(sess.spark.sql(RANGE_WINDOW_ORACLE))


# ---------------------------------------------------------------------------
# CDC merge-apply (the MERGE INTO semantics over an immutable base)
# ---------------------------------------------------------------------------

CDC_MERGE_ORACLE = """
WITH dels AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
upds AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1.0 AS o_totalprice, o_orderdate,
         '0-UPDATED' AS o_orderpriority
  FROM orders
  WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0),
ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, '9-NEW' AS o_orderpriority
  FROM orders
  WHERE o_orderkey % 101 = 0),
merged AS (
  SELECT * FROM orders o
  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM dels)
    AND o.o_orderkey NOT IN (SELECT o_orderkey FROM upds)
  UNION ALL SELECT * FROM upds
  UNION ALL SELECT * FROM ins)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM merged GROUP BY o_orderpriority
"""


@register("cdc_merge_apply", CDC_MERGE_ORACLE)
def cdc_merge_apply(sess: SeccoSession):
    """Change-data-capture MERGE semantics over an immutable parquet base —
    the lakehouse write path when the store has no transactional MERGE
    INTO: a change batch of deletes (key % 97), updates (key % 89, price
    +1.00 and priority rewritten), and inserts (shifted new keys, key %
    101) is folded in as base ANTI-JOIN (deletes ∪ update keys) ∪ updated
    rows ∪ inserts — exactly what MERGE INTO ... WHEN MATCHED THEN
    UPDATE/DELETE WHEN NOT MATCHED THEN INSERT computes, expressed as the
    composition every table format compiles it to. The change batch is
    carved deterministically from the table itself so both engines replay
    it. Scale: the anti-join is key-keyed (broadcastable while the batch
    is small, shuffle-hash beyond), the unions are metadata-only, and the
    result streams to the final aggregation — no window, no global sort.
    Sibling of `snapshot_diff_orders` (which DIFFS two snapshots; this
    APPLIES a batch) and `ivm_join_delta` (which maintains a VIEW)."""
    spark = sess.spark
    o = spark.table("orders")
    dels = o.where("o_orderkey % 97 = 0").select("o_orderkey")
    upds = o.where("o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderdate",
        F.lit("0-UPDATED").alias("o_orderpriority"),
    )
    ins = o.where("o_orderkey % 101 = 0").select(
        (F.col("o_orderkey") + F.lit(10000000)).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        F.lit("9-NEW").alias("o_orderpriority"),
    )
    touched = dels.unionByName(upds.select("o_orderkey"))
    merged = (
        o.join(touched, "o_orderkey", "left_anti")
        .select(*upds.columns)
        .unionByName(upds)
        .unionByName(ins)
    )
    out = merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
    )
    return sess.from_spark(out)


# ---------------------------------------------------------------------------
# Winsorized mean (robust aggregation with exact nearest-rank clamps)
# ---------------------------------------------------------------------------

WINSORIZED_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
bounds AS (
  SELECT event_type, n,
         max(CASE WHEN rn = (n + 19) // 20 THEN value END) AS lo,
         max(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS hi
  FROM ranked GROUP BY event_type, n)
SELECT r.event_type,
       CAST(r.n AS BIGINT) AS n_events,
       round(b.lo, 6) AS p05,
       round(b.hi, 6) AS p95,
       round(CAST(sum(CAST(round(
           CASE WHEN r.value < b.lo THEN b.lo
                WHEN r.value > b.hi THEN b.hi
                ELSE r.value END, 9) AS DECIMAL(28,9))) AS DOUBLE) / r.n, 6)
         AS winsorized_mean
FROM ranked r JOIN bounds b USING (event_type)
GROUP BY r.event_type, r.n, b.lo, b.hi
"""


@register("events_winsorized_mean", WINSORIZED_ORACLE)
def events_winsorized_mean(sess: SeccoSession):
    """Winsorized mean per event_type — the robust aggregate a metrics
    pipeline uses when a handful of outliers would swamp a plain mean:
    values clamped at the exact nearest-rank P05/P95 (ranks ceil(n/20) and
    ceil(19n/20) via integer DIV — never an interpolated percentile, the
    `events_anomaly_mad` discipline), then decimal-summed. Ties in the
    rank selection are broken by event_id so both engines pick the same
    threshold VALUE; the clamped doubles are identical per-row, rounded to
    9 decimals before the DECIMAL(28,9) sum (order-independent), and only
    the final mean is emitted as a rounded double. Scale: one hash
    exchange on event_type for the rank window, a broadcast-sized bounds
    join, one aggregation — no self-join, no global sort."""
    spark = sess.spark
    ev = spark.table("events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type", "n").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 19) DIV 20"), F.col("value"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) DIV 20"), F.col("value"))).alias("hi"),
    )
    clamped = (
        ranked.join(F.broadcast(bounds.drop("n")), "event_type")
        .withColumn(
            "cv",
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")),
        )
    )
    out = clamped.groupBy("event_type", "n", "lo", "hi").agg(
        F.round(
            F.sum(F.round(F.col("cv"), 9).cast("decimal(28,9)")).cast("double")
            / F.col("n"),
            6,
        ).alias("winsorized_mean"),
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round("lo", 6).alias("p05"),
        F.round("hi", 6).alias("p95"),
        "winsorized_mean",
    )
    return sess.from_spark(out)


FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

FK_AUDIT_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relation,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS fk_rows,
       CAST((SELECT count(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pkey} = c.{fkey})) AS BIGINT) AS orphans"""
    for name, child, fkey, parent, pkey in FK_EDGES
)


@register("fk_orphan_audit", FK_AUDIT_ORACLE)
def fk_orphan_audit(sess: SeccoSession):
    """Referential-integrity audit over EVERY foreign-key edge of the
    schema in one result: per edge, total child rows and orphan rows
    (child keys with no parent) — the first data-quality gate any 100 TB
    ingest runs, and the precondition for the PK-FK join-elimination
    planning `pkfk_star_planned` relies on. Each edge is a left ANTI join
    on the key (Catalyst broadcasts the small parents: nation/region/
    supplier are broadcast builds, the orders probe streams); counts are
    map-side partial aggregations, so the whole audit is one pass over
    each child table regardless of scale. On the synthetic testdata every
    edge is clean (0 orphans) — the row proves the audit, the generator
    proves the data."""
    spark = sess.spark
    parts = []
    for name, child, fkey, parent, pkey in FK_EDGES:
        c = spark.table(child)
        p = spark.table(parent)
        orphans = c.join(p, c[fkey] == p[pkey], "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("orphans")
        )
        total = c.agg(F.count(F.lit(1)).cast("long").alias("fk_rows"))
        parts.append(
            total.crossJoin(orphans).select(
                F.lit(name).alias("relation"), "fk_rows", "orphans"
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return sess.from_spark(out)


# Deterministic Poisson(1) bootstrap: per (row, replicate) weight w drawn by
# inverting the Poisson CDF at a 60-bit md5 hash — fixed integer cutoffs
# floor(CDF(k) * 2^60), identical literals in both engines, weights capped
# at 5 (P(w>5) < 1e-4 is folded into the top bucket).
_POIS_CUTS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)
_BOOT_B = 32


def _boot_weight_sql(hv: str) -> str:
    return (
        f"CASE WHEN {hv} < {_POIS_CUTS[0]} THEN 0 "
        + " ".join(
            f"WHEN {hv} < {c} THEN {k + 1}" for k, c in enumerate(_POIS_CUTS[1:])
        )
        + " ELSE 5 END"
    )


def _bootstrap_oracle() -> str:
    from seccosql_spark.operators.hexint import hex_prefix_int_sql

    hv = hex_prefix_int_sql(
        "md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(b.range AS VARCHAR))", 15
    )
    return f"""
WITH reps AS (
  SELECT b.range AS b, {_boot_weight_sql(f"CAST({hv} AS BIGINT)")} AS w,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders, range(0, {_BOOT_B}) b),
per AS (SELECT b, CAST(sum(w * cents) AS BIGINT) AS s,
               CAST(sum(w) AS BIGINT) AS n
        FROM reps GROUP BY b),
ranked AS (SELECT b, s, n, round(CAST(s AS DOUBLE) / n, 6) AS m,
                  row_number() OVER (ORDER BY round(CAST(s AS DOUBLE) / n, 6), b) AS rn
           FROM per),
point AS (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      // count(*) AS BIGINT) AS point_cents
          FROM orders)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates, point_cents,
       CAST((SELECT s // n FROM ranked WHERE rn = 2) AS BIGINT) AS ci_lo_cents,
       CAST((SELECT s // n FROM ranked WHERE rn = {_BOOT_B - 1}) AS BIGINT) AS ci_hi_cents,
       ((SELECT s // n FROM ranked WHERE rn = 2) <= point_cents
        AND point_cents <= (SELECT s // n FROM ranked WHERE rn = {_BOOT_B - 1}))
           AS point_in_ci
FROM point
"""


@register("sample_bootstrap_ci", _bootstrap_oracle())
def sample_bootstrap_ci(sess: SeccoSession):
    """Poisson bootstrap (Chamandy et al. 2012 — THE distributed bootstrap:
    no global resample, each row draws an independent Poisson(1)
    multiplicity per replicate) for a confidence interval on mean order
    value: B=32 replicates, per-row weights from a deterministic 60-bit
    md5 inverse-CDF draw (fixed integer cutoffs, replayed exactly by the
    oracle), CI = the 2nd/31st order statistics of the replicate means.
    The plan is map-only weighting (explode of 32 replicate ids) into one
    partial-aggregated groupBy(b) — 32 numbers of state regardless of
    table size. Replicate means are ranked on round(s/n, 6) with
    replicate-id tie-breaks (cross-engine float ranking discipline); the
    reported cent values are exact integer DIV."""
    spark = sess.spark
    orders = spark.table("orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    reps = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "cents",
        F.expr(
            _boot_weight_sql(
                "CAST(conv(substring(md5(concat_ws('|', "
                "CAST(o_orderkey AS STRING), CAST(b AS STRING))), 1, 15), 16, 10)"
                " AS BIGINT)"
            )
        ).alias("w"),
    )
    per = reps.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
        F.sum("w").cast("long").alias("n"),
    )
    ranked = per.select(
        "b", "s", "n", F.round(F.col("s").cast("double") / F.col("n"), 6).alias("m")
    ).withColumn("rn", F.row_number().over(Window.orderBy("m", "b")))
    point = orders.agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("point_cents")
    )
    lo = ranked.where(F.col("rn") == 2).select(
        F.expr("CAST(s DIV n AS BIGINT)").alias("ci_lo_cents")
    )
    hi = ranked.where(F.col("rn") == _BOOT_B - 1).select(
        F.expr("CAST(s DIV n AS BIGINT)").alias("ci_hi_cents")
    )
    out = (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            "point_cents",
            "ci_lo_cents",
            "ci_hi_cents",
            (
                (F.col("ci_lo_cents") <= F.col("point_cents"))
                & (F.col("point_cents") <= F.col("ci_hi_cents"))
            ).alias("point_in_ci"),
        )
    )
    return sess.from_spark(out)


KS_TEST_ORACLE = """
WITH pts AS (
  SELECT value,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ca,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS cb
  FROM events WHERE event_type IN ('view', 'click')),
g AS (SELECT value, CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb
      FROM pts GROUP BY value),
cum AS (SELECT
          sum(ca) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
          sum(cb) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
          sum(ca) OVER () AS t1,
          sum(cb) OVER () AS t2
        FROM g)
SELECT CAST(max(t1) AS BIGINT) AS n1, CAST(max(t2) AS BIGINT) AS n2,
       CAST(max(abs(CAST(c1 AS HUGEINT) * t2 - CAST(c2 AS HUGEINT) * t1))
            AS BIGINT) AS d_num,
       round(CAST(max(abs(CAST(c1 AS HUGEINT) * t2 - CAST(c2 AS HUGEINT) * t1))
                  AS DOUBLE) / (max(t1) * max(t2)), 6) AS d_stat,
       (CAST(max(abs(CAST(c1 AS HUGEINT) * t2 - CAST(c2 AS HUGEINT) * t1))
             AS HUGEINT) ** 2 * 1000000
        > CAST(1844164 AS HUGEINT) * (max(t1) + max(t2)) * max(t1) * max(t2))
           AS reject_at_95
FROM cum
"""


@register("events_ks_drift_test", KS_TEST_ORACLE)
def events_ks_drift_test(sess: SeccoSession):
    """Exact two-sample Kolmogorov–Smirnov test between the value
    distributions of 'view' and 'click' events — the distribution-drift
    gate a training pipeline runs between data snapshots before shipping
    a mix change. D = max_v |F1(v) - F2(v)| computed EXACTLY on the merged
    distinct-value grid: one aggregation onto the grid, cumulative counts
    by window, and the max taken over the integer numerator
    |c1*n2 - c2*n1| (never a float CDF difference — the d_stat double is
    derived once at the end, and the 95% rejection verdict
    D > 1.358*sqrt((n1+n2)/(n1*n2)) is squared into pure DECIMAL(38,0)/
    HUGEINT cross-multiplication). The grid is |distinct values| rows —
    at 100 TB you'd quantize values first; the test statistic itself is
    one sort-ordered pass, the same shape as the exact-percentile row."""
    ev = sess.spark.table("events").where(
        F.col("event_type").isin("view", "click")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        F.sum("ca").over(wcum).alias("c1"),
        F.sum("cb").over(wcum).alias("c2"),
        F.sum("ca").over(wall).alias("t1"),
        F.sum("cb").over(wall).alias("t2"),
    )
    num = F.abs(
        F.col("c1").cast("decimal(38,0)") * F.col("t2")
        - F.col("c2").cast("decimal(38,0)") * F.col("t1")
    )
    out = cum.agg(
        F.max("t1").cast("long").alias("n1"),
        F.max("t2").cast("long").alias("n2"),
        F.max(num).cast("long").alias("d_num"),
        F.round(
            F.max(num).cast("double") / (F.max("t1") * F.max("t2")), 6
        ).alias("d_stat"),
        (
            F.max(num).cast("decimal(38,0)")
            * F.max(num).cast("decimal(38,0)")
            * 1000000
            > F.lit(1844164).cast("decimal(38,0)")
            * (F.max("t1") + F.max("t2"))
            * F.max("t1")
            * F.max("t2")
        ).alias("reject_at_95"),
    )
    return sess.from_spark(out)
