"""WCOJ (hypercube + LeapFrog) equivalence tests: the opt-in path must agree
with the GHD binary-join chain on the canonical cyclic shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seccosql_spark.plans.ghd import multiway_natural_join
from seccosql_spark.plans.wcoj import (
    attribute_order,
    compute_shares,
    wcoj_natural_join,
)


def rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_attribute_order_by_frequency():
    order = attribute_order([{"a", "b"}, {"b", "c"}, {"c", "a"}, {"a", "d"}])
    assert order[0] == "a"  # appears 3×


def test_shares_product_within_budget():
    shares = compute_shares(["a", "b", "c"], 32)
    product = 1
    for v in shares.values():
        product *= v
    assert product <= 32
    assert max(shares.values()) >= 2


def test_wcoj_triangle_matches_chain(spark):
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(0, 2), (2, 0), (1, 3)]
    r = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    s = spark.createDataFrame(edges, "b BIGINT, c BIGINT")
    t = spark.createDataFrame(edges, "c BIGINT, a BIGINT")
    chain = multiway_natural_join([r, s, t], use_ghd=True)
    wcoj = wcoj_natural_join([r, s, t], num_tasks=8)
    assert rows(wcoj, ["a", "b", "c"]) == rows(chain, ["a", "b", "c"])
    assert len(rows(wcoj, ["a", "b", "c"])) > 0


def test_wcoj_square_matches_chain(spark):
    r1 = spark.createDataFrame([(1, 2), (7, 8), (1, 9)], "a BIGINT, b BIGINT")
    r2 = spark.createDataFrame([(2, 3), (8, 9), (9, 3)], "b BIGINT, c BIGINT")
    r3 = spark.createDataFrame([(3, 4), (9, 1)], "c BIGINT, d BIGINT")
    r4 = spark.createDataFrame([(1, 4), (5, 5), (7, 4)], "a BIGINT, d BIGINT")
    chain = multiway_natural_join([r1, r2, r3, r4], use_ghd=True)
    wcoj = wcoj_natural_join([r1, r2, r3, r4], num_tasks=16)
    assert rows(wcoj, ["a", "b", "c", "d"]) == rows(chain, ["a", "b", "c", "d"])


def test_wcoj_on_string_keys(spark):
    r = spark.createDataFrame([("x", "y"), ("y", "z")], "a STRING, b STRING")
    s = spark.createDataFrame([("y", "q"), ("z", "q")], "b STRING, c STRING")
    chain = multiway_natural_join([r, s], use_ghd=False)
    wcoj = wcoj_natural_join([r, s], num_tasks=4)
    assert rows(wcoj, ["a", "b", "c"]) == rows(chain, ["a", "b", "c"])


def test_wcoj_empty_result(spark):
    """An empty result keeps the declared schema, key types included, on
    the derived single-cell path (``rel_sizes``, no exchange) and on the
    hypercube path (``num_tasks=4``) — both when the relations' keys are
    disjoint and when one relation is empty, where a cell's frame is built
    from the column names alone."""
    keys = {
        "kb": "bigint", "kd": "date", "kt": "timestamp",
        "kx": "decimal(10,2)", "ks": "string",
    }

    def rel(data, extra):
        cols = [*keys, extra]
        return spark.createDataFrame(
            data, ", ".join(f"{c} STRING" for c in cols)
        ).selectExpr(*[f"CAST({c} AS {keys.get(c, 'string')}) AS {c}" for c in cols])

    r = rel([("1", "2024-01-01", "2024-01-01 00:00:01", "1.50", "x", "r")], "a")
    disjoint = rel(
        [("2", "2024-01-02", "2024-03-09 12:00:00", "2.25", "y", "s")], "c"
    )
    want = {**keys, "a": "string", "c": "string"}
    for s in (disjoint, rel([], "c")):
        for kw in ({"rel_sizes": [1, s.count()]}, {"num_tasks": 4}):
            out = wcoj_natural_join([r, s], **kw)
            assert out.collect() == [], kw
            got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
            assert got == want, kw


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_wcoj_explicit_one_task_keeps_grouped_path(spark):
    """Only a DERIVED single cell (``rel_sizes`` on a small input) takes
    the no-exchange ``coalesce(1)`` path; an explicit ``num_tasks=1``
    keeps the grouped hypercube plan, so a large upstream scan is not
    forced through one task."""
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(0, 2), (2, 0)]
    r = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    s = spark.createDataFrame(edges, "b BIGINT, c BIGINT")
    t = spark.createDataFrame(edges, "c BIGINT, a BIGINT")
    want = rows(multiway_natural_join([r, s, t], use_ghd=True), ["a", "b", "c"])

    explicit = wcoj_natural_join([r, s, t], num_tasks=1)
    plan = _physical_plan(explicit)
    assert "Exchange" in plan and "Coalesce 1" not in plan, plan
    assert rows(explicit, ["a", "b", "c"]) == want

    derived = wcoj_natural_join([r, s, t], rel_sizes=[len(edges)] * 3)
    plan = _physical_plan(derived)
    assert "Exchange" not in plan and "Coalesce 1" in plan, plan
    assert rows(derived, ["a", "b", "c"]) == want


def test_wcoj_quotes_attribute_names(spark):
    """The hypercube is built as SQL text, so every attribute name goes
    through ``quote_ident``: names holding a space, a dot or a backtick
    join like plain ones, on the hypercube path and on the derived
    single-cell path alike."""
    from seccosql_spark.sqltext import quote_ident

    assert quote_ident("q`r") == "`q``r`"
    a, b, c = "a b", "x.y", "q`r"
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(0, 2), (2, 0), (1, 3)]
    r = spark.createDataFrame(edges, "a BIGINT, b BIGINT").toDF(a, b)
    s = spark.createDataFrame(edges, "b BIGINT, c BIGINT").toDF(b, c)
    t = spark.createDataFrame(edges, "c BIGINT, a BIGINT").toDF(c, a)
    chain = multiway_natural_join([r, s, t], use_ghd=True)
    want = sorted(map(tuple, chain.collect()))
    assert len(want) == 3
    for kw in ({"num_tasks": 8}, {"rel_sizes": [len(edges)] * 3}):
        out = wcoj_natural_join([r, s, t], **kw)
        assert out.columns == chain.columns, kw
        assert sorted(map(tuple, out.collect())) == want, kw


def test_wcoj_graph_triangle_count_matches(sess):
    """Real-data check: triangle count on the sparse lineitem graph equals
    the GHD-chain pattern count."""
    from seccosql_spark.queries.graph import EDGES_SPARSE

    e = sess.spark.sql(EDGES_SPARSE)
    r = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    s = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    t = e.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    chain_n = multiway_natural_join([r, s, t], use_ghd=True).count()
    wcoj_n = wcoj_natural_join([r, s, t], num_tasks=16).count()
    assert wcoj_n == chain_n


def test_wcoj_set_vs_bag_semantics(spark):
    """WCOJ outputs DISTINCT bindings; the GHD chain is a bag join. They
    agree exactly on duplicate-free inputs and diverge (documented) when
    inputs carry duplicates."""
    dup = spark.createDataFrame([(1, 2), (1, 2), (3, 4)], "a BIGINT, b BIGINT")
    other = spark.createDataFrame([(2, 5), (4, 6)], "b BIGINT, c BIGINT")
    bag = multiway_natural_join([dup, other], use_ghd=False)
    setj = wcoj_natural_join([dup, other], num_tasks=4)
    assert bag.count() == 3          # (1,2) duplicated
    assert setj.count() == 2         # distinct bindings
    assert rows(setj, ["a", "b", "c"]) == rows(bag.distinct(), ["a", "b", "c"])


def test_wcoj_nulls_dates_decimals_match_chain(spark):
    """Typed transport (round-2 VERDICT item 6): null join keys never match
    (SQL semantics, matching the inner-join chain), and DATE/DECIMAL
    attributes round-trip exactly through the hypercube + Arrow path."""
    r = spark.createDataFrame(
        [("2024-01-01", "1.50"), ("2024-01-02", "2.25"), (None, "9.99"), ("2024-01-03", None)],
        "d STRING, p STRING",
    ).selectExpr("CAST(d AS DATE) AS d", "CAST(p AS DECIMAL(10,2)) AS p")
    s = spark.createDataFrame(
        [("2024-01-01", "A"), ("2024-01-02", "B"), (None, "C")], "d STRING, tag STRING"
    ).selectExpr("CAST(d AS DATE) AS d", "tag")
    chain = multiway_natural_join([r, s], use_ghd=False)
    wcoj = wcoj_natural_join([r, s], num_tasks=4)
    assert rows(wcoj, ["d", "p", "tag"]) == rows(chain.distinct(), ["d", "p", "tag"])
    assert wcoj.schema["d"].dataType.simpleString() == "date"
    assert wcoj.schema["p"].dataType.simpleString() == "decimal(10,2)"
    # the null-keyed rows matched nothing
    assert all(t[0] is not None for t in rows(wcoj, ["d"]))


def test_wcoj_rejects_conflicting_types(spark):
    r = spark.createDataFrame([(1, 2)], "a INT, b BIGINT")
    s = spark.createDataFrame([(2, 3)], "b INT, c BIGINT")
    with pytest.raises(TypeError, match="conflicting types"):
        wcoj_natural_join([r, s], num_tasks=4)


def test_wcoj_rejects_unsupported_key_types(spark):
    r = spark.createDataFrame([([1, 2], 1)], "a ARRAY<INT>, b BIGINT")
    s = spark.createDataFrame([(1, 2)], "b BIGINT, c BIGINT")
    with pytest.raises(TypeError, match="unsupported join-key type"):
        wcoj_natural_join([r, s], num_tasks=4)


def test_size_aware_shares_beat_greedy_on_skew():
    """Round-2 VERDICT item 9: with one huge relation, the communication-
    minimizing shares put the grid budget on the attributes the big relation
    OWNS (so it is never replicated), beating frequency doubling."""
    from seccosql_spark.plans.wcoj import replication_cost

    # R(a,b) is huge; S(b,c) and T(c,d) are tiny. Frequency order ties all
    # attrs; greedy doubling replicates R across c/d shares.
    relations = [({"a", "b"}, 1_000_000), ({"b", "c"}, 100), ({"c", "d"}, 100)]
    attrs = ["a", "b", "c", "d"]
    greedy = compute_shares(attrs, 16)
    sized = compute_shares(attrs, 16, relations)
    assert replication_cost(sized, relations) < replication_cost(greedy, relations)
    # the huge relation is (near-)unreplicated: shares of c,d stay 1
    assert sized["c"] * sized["d"] <= 2
    product = 1
    for v in sized.values():
        product *= v
    assert product <= 16


def test_wcoj_hub_graph_parity(spark):
    """Adversarial skewed cyclic input (hub node of high degree): a binary
    join plan materializes hub-degree² two-paths before the closing edge;
    the adaptive vectorized LeapFrog must expand each binding through its
    smallest candidate set and still produce identical triangles. Timing
    boundary recorded by scripts/bench_wcoj_boundary.py (WCOJ_BOUNDARY.md)."""
    from seccosql_spark.plans.ghd import multiway_natural_join

    deg = 300
    edges = []
    for i in range(1, deg + 1):
        edges += [(0, i), (i, 0)]
    base = deg + 10
    for t in range(20):
        x, y, z = base + 3 * t, base + 3 * t + 1, base + 3 * t + 2
        edges += [(x, y), (y, z), (z, x)]
    e = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    r = e.select(e.src.alias("a"), e.dst.alias("b"))
    s = e.select(e.src.alias("b"), e.dst.alias("c"))
    t_ = e.select(e.src.alias("c"), e.dst.alias("a"))
    got = sorted(map(tuple, wcoj_natural_join([r, s, t_]).select("a", "b", "c").collect()))
    want = sorted(
        map(
            tuple,
            multiway_natural_join([r, s, t_]).select("a", "b", "c").distinct().collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_router_raises_on_bag_input(sess):
    """VERDICT r11 task 6: the multiway_join router must not silently flip
    bag inputs to set output. Default on_duplicates='raise' probes inputs
    without a PK and refuses; 'dedup' proceeds (set semantics acknowledged,
    warns); 'trust' skips the probe; GHD path is untouched by the guard."""
    import warnings

    dup = sess.from_spark(
        sess.spark.createDataFrame([(1, 2), (1, 2), (3, 4)], "a BIGINT, b BIGINT")
    )
    other = sess.spark.createDataFrame([(2, 5), (4, 6)], "b BIGINT, c BIGINT")
    third = sess.spark.createDataFrame([(5, 1), (6, 3)], "c BIGINT, a BIGINT")
    with pytest.raises(ValueError, match="set-semantics"):
        dup.multiway_join([other, third], algorithm="wcoj")
    # acknowledged: proceeds, warns, output is the distinct bindings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = dup.multiway_join([other, third], algorithm="wcoj", on_duplicates="dedup")
        assert any("DISTINCT bindings" in str(x.message) for x in w)
    assert got.count() == 2  # (1,2,5) collapsed from the duplicated (1,2)
    # trust: no probe, same set output
    trusted = dup.multiway_join([other, third], algorithm="wcoj", on_duplicates="trust")
    assert trusted.count() == 2
    # bag path unaffected: GHD keeps multiplicities, guard never fires
    bag = dup.multiway_join([other, third], algorithm="ghd")
    assert bag.count() == 3


def test_router_pk_inputs_skip_probe(sess):
    """Inputs carrying a declared primary key skip the duplicate probe —
    the zero-overhead path; duplicate-free inputs pass the probe too."""
    a = sess.from_spark(
        sess.spark.createDataFrame([(1, 2), (3, 4)], "a BIGINT, b BIGINT")
    )
    a.primary_keys = ("a", "b")
    b = sess.spark.createDataFrame([(2, 5), (4, 6)], "b BIGINT, c BIGINT")
    c = sess.spark.createDataFrame([(5, 1), (6, 3)], "c BIGINT, a BIGINT")
    out = a.multiway_join([b, c], algorithm="wcoj")
    assert out.count() == 2
    with pytest.raises(ValueError, match="unknown on_duplicates"):
        a.multiway_join([b, c], algorithm="wcoj", on_duplicates="nope")


def test_adaptive_num_tasks_sizing():
    """r16 cell-count rule: ~1 cell per _ROWS_PER_CELL input rows, clamped
    to [1, parallelism]; full parallelism when sizes are unknown."""
    from seccosql_spark.plans.wcoj import _ROWS_PER_CELL, adaptive_num_tasks

    # unknown sizes -> full parallelism (never less than 1)
    assert adaptive_num_tasks(32, None) == 32
    assert adaptive_num_tasks(0, None) == 1
    # tiny input -> one cell, regardless of cluster size
    assert adaptive_num_tasks(32, [1000, 1000, 1000]) == 1
    # ramps with rows, one extra cell per _ROWS_PER_CELL
    assert adaptive_num_tasks(32, [_ROWS_PER_CELL * 3]) == 4
    # clamped above by parallelism
    assert adaptive_num_tasks(8, [_ROWS_PER_CELL * 100]) == 8
    # empty relation list still yields a valid count
    assert adaptive_num_tasks(16, []) == 1
