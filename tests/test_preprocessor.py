"""SQL dialect preprocessor unit tests: scanner, UNION BYUPDATE rewrite,
WITH RECURSIVE parsing (grammar: SQLParser.scala:328-374)."""

from __future__ import annotations

import pytest

from seccosql_spark.sql.preprocessor import (
    _find_top_level_keyword,
    _matching_paren,
    _parse_ctes,
    _split_recursive_body,
    rewrite_union_by_update,
)


def test_top_level_keyword_ignores_nested_and_quoted():
    sql = "SELECT ' UNION BYUPDATE ' FROM (SELECT 1 UNION BYUPDATE x (SELECT 2)) t"
    assert _find_top_level_keyword(sql, "UNION BYUPDATE") == -1


def test_matching_paren():
    s = "(a (b) c) d"
    assert _matching_paren(s, 0) == 8


def test_byupdate_rewrite_shape():
    out = rewrite_union_by_update("(SELECT a, b FROM t1) UNION BYUPDATE a (SELECT a, b FROM t2)")
    assert "LEFT ANTI JOIN" in out
    assert "USING (a)" in out
    assert out.count("SELECT a, b FROM t2") == 2


def test_byupdate_multiple_keys():
    out = rewrite_union_by_update("(SELECT * FROM t1) UNION BYUPDATE k1, k2 (SELECT * FROM t2)")
    assert "USING (k1, k2)" in out


def test_byupdate_requires_parens():
    with pytest.raises(ValueError):
        rewrite_union_by_update("SELECT 1 UNION BYUPDATE a (SELECT 2)")


def test_parse_ctes_two():
    ctes, main = _parse_ctes("a AS (SELECT 1), b(x, y) AS (SELECT 2, 3) SELECT * FROM b")
    assert [c.name for c in ctes] == ["a", "b"]
    assert ctes[1].cols == ["x", "y"]
    assert main.strip() == "SELECT * FROM b"


def test_split_recursive_body():
    body = "SELECT src, dst FROM e UNION SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src"
    split = _split_recursive_body(body, "r")
    assert split is not None
    base, step, is_all = split
    assert base == "SELECT src, dst FROM e"
    assert not is_all
    assert "JOIN e" in step


def test_split_non_recursive_returns_none():
    assert _split_recursive_body("SELECT 1 UNION SELECT 2", "r") is None


def test_replace_refs_word_bounded_and_quote_safe():
    from seccosql_spark.sql.preprocessor import _replace_refs

    out = _replace_refs(
        "SELECT reach2.x, 'reach' AS lit FROM reach JOIN reach2 ON reach.x = reach2.x",
        {"reach": "__v"},
    )
    assert out == "SELECT reach2.x, 'reach' AS lit FROM __v JOIN reach2 ON __v.x = reach2.x"


# -------------------------------------------- statement-scoped CTE bindings


def test_recursive_cte_does_not_shadow_catalog(sess):
    """A CTE named like a registered table must not corrupt the session
    catalog for later statements (round-2 VERDICT item 1)."""
    before = sess.spark.table("nation").count()
    out = sess.sql(
        """WITH RECURSIVE(3) nation(k) AS (
             SELECT CAST(0 AS INT) AS k
             UNION
             SELECT CAST(k + 1 AS INT) AS k FROM nation WHERE k < 3
           ) SELECT k FROM nation"""
    )
    assert out.count() == 4  # 0..3 — the CTE itself resolved correctly
    # the real table is intact afterwards
    assert sess.spark.table("nation").count() == before
    assert "n_name" in sess.spark.table("nation").columns


def test_plain_cte_in_recursive_stmt_is_statement_scoped(sess):
    sess.sql(
        """WITH RECURSIVE helper AS (SELECT 1 AS one)
           SELECT * FROM helper"""
    ).collect()
    # helper must not exist as a view after the statement
    assert not any(t.name == "helper" for t in sess.spark.catalog.listTables())


# ------------------------------- working-table semantics vs DuckDB oracle


def test_nonlinear_recursion_matches_duckdb(sess, oracle):
    """Two self-references: SQL-standard working-table semantics — both
    references see the previous round's delta. DuckDB implements the same,
    so this is a direct differential test (round-2 VERDICT item 3)."""
    from tests.conftest import assert_df_matches_oracle

    oracle.execute(
        "CREATE OR REPLACE VIEW nl_edges AS "
        "SELECT * FROM (VALUES (1,2),(2,3),(3,4),(4,5)) t(src, dst)"
    )
    sess.spark.sql(
        "SELECT * FROM VALUES (1,2),(2,3),(3,4),(4,5) AS t(src, dst)"
    ).createOrReplaceTempView("nl_edges")
    sql = """WITH RECURSIVE r AS (
        SELECT src, dst FROM nl_edges
        UNION
        SELECT a.src, b.dst FROM r a JOIN r b ON a.dst = b.src
      ) SELECT src, dst FROM r"""
    assert_df_matches_oracle(sess.sql(sql), oracle, sql)


def test_aggregation_over_cte_matches_duckdb(sess, oracle):
    """Aggregate over the self-reference: the working table (not the
    accumulation) is aggregated each round, per the standard. Differential
    vs DuckDB."""
    from tests.conftest import assert_df_matches_oracle

    oracle.execute(
        "CREATE OR REPLACE VIEW agg_seed AS "
        "SELECT * FROM (VALUES (1,1),(1,2),(2,1)) t(g, v)"
    )
    sess.spark.sql(
        "SELECT * FROM VALUES (1,1),(1,2),(2,1) AS t(g, v)"
    ).createOrReplaceTempView("agg_seed")
    sql = """WITH RECURSIVE r(g, v) AS (
        SELECT g, v FROM agg_seed
        UNION
        SELECT g, CAST(count(*) AS INT) AS v FROM r GROUP BY g
      ) SELECT g, v FROM r"""
    assert_df_matches_oracle(sess.sql(sql), oracle, sql)


def test_pagerank_nondefault_params_match_generated_oracle(sess, oracle):
    """The oracle generator and pagerank() share module constants; verify
    they also agree for NON-default damping/rounds (round-2 ADVICE: a
    parameter drift must not silently diverge)."""
    from tests.conftest import assert_df_matches_oracle

    from seccosql_spark.graph.algorithms import pagerank
    from seccosql_spark.queries.graph import EDGES_SPARK, _pagerank_oracle

    df = pagerank(sess.spark.sql(EDGES_SPARK), rounds=2, damping_num=90, damping_den=100)
    assert_df_matches_oracle(df, oracle, _pagerank_oracle(2, damping_num=90, damping_den=100))


def test_qualify_rewrite_behaviour(sess):
    """QUALIFY filters on the window predicate, trailing ORDER BY/LIMIT
    apply AFTER the filter, and the helper column never leaks."""
    sess.spark.sql(
        "SELECT * FROM VALUES (1,'a',10),(2,'a',20),(3,'b',5),(4,'b',7) AS t(id, k, v)"
    ).createOrReplaceTempView("qual_t")
    out = sess.sql(
        """SELECT id, k, v FROM qual_t
           QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1
           ORDER BY id LIMIT 1"""
    )
    rows = [tuple(r) for r in out.collect()]
    assert out.df.columns == ["id", "k", "v"]
    assert rows == [(2, "a", 20)]  # per-k argmax, then ORDER/LIMIT post-filter


def test_qualify_rewrite_guards():
    from seccosql_spark.sql.preprocessor import rewrite_qualify

    import pytest as _pytest

    # passthrough without the clause
    assert rewrite_qualify("SELECT 1") == "SELECT 1"
    # nested (parenthesized) QUALIFY is out of scope: untouched
    inner = "SELECT * FROM (SELECT 1 AS x -- QUALIFY in comment\n) t"
    assert rewrite_qualify(inner) == inner
    with _pytest.raises(ValueError, match="missing predicate"):
        rewrite_qualify("SELECT x FROM t QUALIFY")
    with _pytest.raises(ValueError, match="DISTINCT"):
        rewrite_qualify("SELECT DISTINCT x FROM t QUALIFY rn = 1")
    with _pytest.raises(ValueError, match="FROM"):
        rewrite_qualify("SELECT 1 QUALIFY rn = 1")


def test_lake_table_ref(sess, tmp_path):
    """LAKE('<dir>'[, v]) resolves to manifest-pinned snapshot reads; the
    statement-scoped temp views are dropped after execution; bad arity
    raises before any IO."""
    import pytest

    from seccosql_spark.operators.lakehouse import create_table, merge_cow

    d = str(tmp_path / "t")
    spark = sess.spark
    create_table(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                              "k BIGINT, p STRING, v DOUBLE"), d, "p",
    )
    merge_cow(spark, d,
              spark.createDataFrame([(1, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])
    # latest vs pinned version inside ONE statement
    got = sess.sql(
        f"SELECT (SELECT sum(v) FROM LAKE('{d}')) AS now_v, "
        f"       (SELECT sum(v) FROM LAKE('{d}', 0)) AS then_v"
    ).df.collect()[0]
    assert (got["now_v"], got["then_v"]) == (119.0, 30.0)
    # statement-scoped views cleaned up
    assert not any(t.name.startswith("__lake_")
                   for t in spark.catalog.listTables())
    with pytest.raises(ValueError, match="one or two arguments"):
        sess.sql(f"SELECT * FROM LAKE('{d}', 0, 1)")


def test_table_refs_ignore_string_literals(sess, tmp_path):
    """'LAKE(' / 'MATCH(' inside a quoted literal is DATA, not a table
    reference — the rewriters must leave it alone instead of dying on
    'unbalanced parentheses'; real refs inside subqueries still rewrite."""
    got = sess.sql(
        "SELECT 'see LAKE(1) and MATCH(x, y)' AS note"
    ).df.collect()
    assert got[0]["note"] == "see LAKE(1) and MATCH(x, y)"
    # a literal AND a real ref in one statement: only the ref rewrites
    from seccosql_spark.operators.lakehouse import create_table

    d = str(tmp_path / "t")
    create_table(
        sess.spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"),
        d, "p",
    )
    got2 = sess.sql(
        f"SELECT 'LAKE(9' AS note, (SELECT count(*) FROM LAKE('{d}')) AS n"
    ).df.collect()[0]
    assert (got2["note"], got2["n"]) == ("LAKE(9", 1)


def test_delete_key_must_be_table_column(sess, tmp_path):
    """A typo'd delete key must be rejected at commit time — committing it
    would brick every later read of the table."""
    import pytest

    from seccosql_spark.operators.lakehouse import create_table, delete_commit

    d = str(tmp_path / "t2")
    create_table(
        sess.spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"),
        d, "p",
    )
    bad = sess.spark.createDataFrame([(1,)], "kk BIGINT")
    with pytest.raises(ValueError, match="not columns of the table"):
        delete_commit(sess.spark, d, bad, ["kk"])


def test_backslash_escaped_quote_in_literal(sess, tmp_path):
    """Spark's default string literals support backslash escapes: an
    'O\\'Brien' literal before a real LAKE() ref must not swallow the ref
    (the scanner used to close the string at the escaped quote)."""
    from seccosql_spark.operators.lakehouse import create_table

    d = str(tmp_path / "t3")
    create_table(
        sess.spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"),
        d, "p",
    )
    got = sess.sql(
        "SELECT 'O\\'Brien' AS who, "
        f"(SELECT count(*) FROM LAKE('{d}')) AS n"
    ).df.collect()[0]
    assert (got["who"], got["n"]) == ("O'Brien", 1)


def test_lake_view_names_unique_per_invocation(sess, tmp_path):
    """ADVICE r13: the LAKE rewriter's statement-scoped view names carry a
    per-invocation token — two statements rewriting concurrently must never
    bind the same `__lake_*` name (each drops its views on completion,
    which would clobber the other's snapshot binding)."""
    from seccosql_spark.operators.lakehouse import create_table
    from seccosql_spark.sql.preprocessor import rewrite_lake

    d = str(tmp_path / "t")
    create_table(
        sess.spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"),
        d, "p",
    )
    a: list[str] = []
    b: list[str] = []
    try:
        rewrite_lake(sess, f"SELECT * FROM LAKE('{d}')", a)
        rewrite_lake(sess, f"SELECT * FROM LAKE('{d}')", b)
        assert a and b and not set(a) & set(b), (a, b)
    finally:
        for v in a + b:
            sess.spark.catalog.dropTempView(v)


# ------------------------------------------------ lakehouse maintenance DDL


def _mk_table(sess, tmp_path, parts=(("a", 1.0), ("b", 2.0))):
    import os as _os
    _os.makedirs(str(tmp_path), exist_ok=True)
    from seccosql_spark.operators.lakehouse import append_commit, create_table

    d = str(tmp_path / "t")
    df = sess.spark.createDataFrame(
        [(i + 1, p, v) for i, (p, v) in enumerate(parts)],
        "k BIGINT, p STRING, v DOUBLE",
    )
    create_table(df, d, "p")  # v0
    append_commit(sess.spark, d, df.withColumn("k", df.k + 10))  # v1
    return d


def test_sql_optimize_vacuum_history(sess, tmp_path):
    """The maintenance statements drive the Python verbs and return their
    operation metrics as relations: OPTIMIZE bin-packs the 2-file
    partitions, VACUUM KEEP 1 retires both pre-compaction versions, and
    DESCRIBE HISTORY reflects the surviving commit."""
    d = _mk_table(sess, tmp_path)
    opt = sess.sql(f"OPTIMIZE LAKE('{d}')").df.collect()[0]
    assert (opt["version"], opt["partitions_compacted"],
            opt["partitions_carried"], opt["files_live"]) == (2, 2, 0, 2)
    vac = sess.sql(f"VACUUM LAKE('{d}') KEEP 1;").df.collect()[0]
    assert (vac["versions_kept"], vac["versions_expired"],
            vac["files_deleted"], vac["files_live"]) == (1, 2, 4, 2)
    hist = sess.sql(f"DESCRIBE HISTORY LAKE('{d}')").df.collect()
    assert [(r["version"], r["kind"]) for r in hist] == [(2, "compact")]
    # the data survived the whole lifecycle
    got = sess.sql(f"SELECT sum(v) AS s FROM LAKE('{d}')").df.collect()[0]
    assert got["s"] == 6.0


def test_sql_optimize_clustered_and_guards(sess, tmp_path):
    """SORT BY / ZORDER BY map to clustered compaction (default target 2
    files); the operator's own guards surface through the statement."""
    import pytest

    d = _mk_table(sess, tmp_path)
    opt = sess.sql(f"OPTIMIZE LAKE('{d}') SORT BY k").df.collect()[0]
    assert opt["partitions_compacted"] == 2
    assert opt["files_live"] == 4  # 2 partitions x target 2 range files
    with pytest.raises(ValueError, match="target_files"):
        sess.sql(f"OPTIMIZE LAKE('{d}') ZORDER BY (k, v) TARGET 1 FILES")


def test_sql_optimize_where_partition_scoped(sess, tmp_path):
    """VERDICT r15 task 4: OPTIMIZE ... WHERE <partition-pred> compacts
    ONLY the matching partitions; the rest are carried by reference with
    their multi-file debt intact (partitions_pruned), their file entries
    byte-identical in the new manifest — provably zero IO on the
    untouched side."""
    from seccosql_spark.operators.lakehouse import read_manifest

    d = _mk_table(sess, tmp_path)  # v1: partitions a,b with 2 files each
    before = {
        f["path"] for f in read_manifest(d)["files"] if f["partition"] == "b"
    }
    opt = sess.sql(f"OPTIMIZE LAKE('{d}') WHERE p = 'a'").df.collect()[0]
    assert (opt["partitions_compacted"], opt["partitions_carried"],
            opt["partitions_pruned"]) == (1, 1, 1)
    after_m = read_manifest(d)
    after_b = {f["path"] for f in after_m["files"] if f["partition"] == "b"}
    assert after_b == before  # carried by reference, not rewritten
    assert len([f for f in after_m["files"] if f["partition"] == "a"]) == 1
    assert after_m["optimize_where"] == "p = 'a'"
    # content unchanged by construction
    got = sess.sql(f"SELECT sum(v) AS s FROM LAKE('{d}')").df.collect()[0]
    assert got["s"] == 6.0
    # a second, unscoped OPTIMIZE pays down the deferred debt
    opt2 = sess.sql(f"OPTIMIZE LAKE('{d}')").df.collect()[0]
    assert (opt2["partitions_compacted"], opt2["partitions_pruned"]) == (1, 0)
    # predicate referencing a non-partition column fails loudly
    import pytest

    with pytest.raises(ValueError, match="partition column"):
        sess.sql(f"OPTIMIZE LAKE('{d}') WHERE v > 1.0")
    # WHERE composes with clustered compaction
    opt3 = sess.sql(
        f"OPTIMIZE LAKE('{d}') SORT BY k TARGET 2 FILES WHERE p = 'b'"
    ).df.collect()[0]
    assert (opt3["partitions_compacted"], opt3["partitions_pruned"]) == (0, 0)


def test_sql_vacuum_dry_run(sess, tmp_path):
    """VACUUM ... DRY RUN reports exactly what a real run would retire and
    mutates NOTHING — then the real run retires exactly that."""
    from seccosql_spark.operators.lakehouse import latest_version, read_manifest

    d = _mk_table(sess, tmp_path)  # v0 + v1 append
    dry = sess.sql(f"VACUUM LAKE('{d}') KEEP 1 DRY RUN").df.collect()[0]
    assert (dry["versions_kept"], dry["versions_expired"],
            dry["files_deleted"], dry["dry_run"]) == (1, 1, 0, True)
    # v0's 2 files are still referenced by v1 (append carries them), so a
    # real vacuum deletes manifests only — files_deleted 0 is correct
    assert latest_version(d) == 1
    assert read_manifest(d, 0)["version"] == 0  # v0 manifest still there
    real = sess.sql(f"VACUUM LAKE('{d}') KEEP 1").df.collect()[0]
    assert (real["versions_kept"], real["versions_expired"],
            real["files_deleted"], real["dry_run"]) == (1, 1, 0, False)
    import pytest

    with pytest.raises(FileNotFoundError):
        read_manifest(d, 0)  # now actually expired


def test_sql_describe_detail_and_show_partitions(sess, tmp_path):
    """DESCRIBE DETAIL (one-row table summary) and SHOW PARTITIONS
    (per-partition file/row counts) — pure manifest introspection, the
    audit surface that tells you WHICH partitions need OPTIMIZE WHERE."""
    d = _mk_table(sess, tmp_path)  # parts a,b; 2 files each after append
    det = sess.sql(f"DESCRIBE DETAIL LAKE('{d}')").df.collect()[0]
    assert (det["version"], det["partition_by"], det["num_files"],
            det["num_partitions"], det["file_rows"]) == (1, "p", 4, 2, 4)
    assert det["num_versions_retained"] == 2 and det["num_tags"] == 0
    assert det["size_bytes"] > 0 and det["num_delete_files"] == 0
    assert det["num_constraints"] == 0
    sess.sql(f"ALTER LAKE('{d}') ADD CONSTRAINT v_pos CHECK (v > 0.0)")
    det = sess.sql(f"DESCRIBE DETAIL LAKE('{d}')").df.collect()[0]
    assert det["num_constraints"] == 1 and det["version"] == 2
    parts = sess.sql(f"SHOW PARTITIONS LAKE('{d}')").df.collect()
    assert [(r["partition"], r["n_files"], r["n_rows"]) for r in parts] \
        == [("a", 2, 2), ("b", 2, 2)]
    # after a scoped compaction the debt report reflects it
    sess.sql(f"OPTIMIZE LAKE('{d}') WHERE p = 'a'")
    parts = sess.sql(f"SHOW PARTITIONS LAKE('{d}')").df.collect()
    assert [(r["partition"], r["n_files"]) for r in parts] \
        == [("a", 1), ("b", 2)]


def test_sql_restore_statement(sess, tmp_path):
    """RESTORE ... TO VERSION promotes the old snapshot as a new head
    commit (metadata-only), exactly like the Python verb; TO TAG resolves
    through read_tag — the same refs LAKE(dir, '<name>') reads."""
    d = _mk_table(sess, tmp_path)
    rep = sess.sql(f"RESTORE LAKE('{d}') TO VERSION 0").df.collect()[0]
    assert (rep["version"], rep["restored_from"]) == (2, 0)
    got = sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}')").df.collect()[0]
    assert got["n"] == 2  # v0 content (the append rolled back)
    sess.sql(f"CREATE TAG full ON LAKE('{d}') AS OF VERSION 1")
    rep = sess.sql(f"RESTORE LAKE('{d}') TO TAG full").df.collect()[0]
    assert (rep["version"], rep["restored_from"]) == (3, 1)
    got = sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}')").df.collect()[0]
    assert got["n"] == 4  # the tagged pre-rollback snapshot is head again
    import pytest

    with pytest.raises(FileNotFoundError):
        sess.sql(f"RESTORE LAKE('{d}') TO TAG nope")


def test_sql_tag_ddl_roundtrip(sess, tmp_path):
    """CREATE [OR REPLACE] TAG / SHOW TAGS / DROP TAG, bare and quoted
    names; exclusive create raises through the statement; dropped tags
    disappear from SHOW TAGS."""
    import pytest

    d = _mk_table(sess, tmp_path)
    r = sess.sql(f"CREATE TAG base ON LAKE('{d}') AS OF VERSION 0").df.collect()[0]
    assert (r["name"], r["version"]) == ("base", 0)
    sess.sql(f"CREATE TAG 'rel-1.0' ON LAKE('{d}')")  # quoted, head=v1
    tags = sess.sql(f"SHOW TAGS ON LAKE('{d}')").df.collect()
    assert [(t["name"], t["version"]) for t in tags] == [("base", 0), ("rel-1.0", 1)]
    with pytest.raises(ValueError, match="already exists"):
        sess.sql(f"CREATE TAG base ON LAKE('{d}') AS OF VERSION 1")
    r = sess.sql(
        f"CREATE OR REPLACE TAG base ON LAKE('{d}') AS OF VERSION 1"
    ).df.collect()[0]
    assert r["version"] == 1
    # the tag read through LAKE sees the pinned snapshot
    got = sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}', 'rel-1.0')").df.collect()[0]
    assert got["n"] == 4
    r = sess.sql(f"DROP TAG 'rel-1.0' ON LAKE('{d}')").df.collect()[0]
    assert (r["name"], r["dropped"]) == ("rel-1.0", True)
    tags = sess.sql(f"SHOW TAGS ON LAKE('{d}')").df.collect()
    assert [t["name"] for t in tags] == ["base"]
    with pytest.raises(FileNotFoundError):
        sess.sql(f"DROP TAG 'rel-1.0' ON LAKE('{d}')")


def test_sql_show_tags_empty(sess, tmp_path):
    d = _mk_table(sess, tmp_path)
    assert sess.sql(f"SHOW TAGS ON LAKE('{d}')").df.count() == 0


def test_maintenance_never_swallows_ordinary_sql(sess, tmp_path):
    """Statements that merely MENTION the verbs (column aliases, strings,
    table refs) must flow to spark.sql untouched — the dispatcher matches
    whole statements only."""
    d = _mk_table(sess, tmp_path)
    got = sess.sql(
        f"SELECT 'VACUUM' AS verb, count(*) AS n FROM LAKE('{d}')"
    ).df.collect()[0]
    assert (got["verb"], got["n"]) == ("VACUUM", 4)
    # a malformed maintenance-ish statement is NOT silently dispatched;
    # Spark's parser rejects it loudly
    import pytest

    with pytest.raises(Exception):
        sess.sql(f"VACUUM LAKE('{d}') KEEP many")


def test_sql_merge_into_statement(sess, tmp_path):
    """MERGE INTO LAKE(d) KEYS (k) USING <query>: the USING body runs
    through the full dialect entry point and feeds merge_cow; __deleted
    rows are CDC deletes. The metrics relation carries the COW audit."""
    d = _mk_table(sess, tmp_path)  # v0 create + v1 append: k=1,2,11,12
    rep = sess.sql(
        f"MERGE INTO LAKE('{d}') KEYS (k) USING ("
        "  SELECT CAST(1 AS BIGINT) AS k, 'a' AS p,"
        "         CAST(100.0 AS DOUBLE) AS v,"
        "         false AS __deleted"          # update k=1
        "  UNION ALL"
        "  SELECT CAST(12 AS BIGINT), 'b', CAST(0.0 AS DOUBLE), true"  # delete k=12
        ")"
    ).df.collect()[0]
    assert (rep["version"], rep["partitions_rewritten"],
            rep["partitions_carried"]) == (2, 2, 0)
    got = {
        (r["k"], r["v"])
        for r in sess.sql(f"SELECT k, v FROM LAKE('{d}')").df.collect()
    }
    assert got == {(1, 100.0), (2, 2.0), (11, 1.0)}  # k=12 CDC-deleted


def test_sql_merge_when_clauses(sess, tmp_path):
    """VERDICT r15 task 5: the user-facing Delta-style clause form —
    ``MERGE INTO ... USING ... ON ... WHEN MATCHED [AND cond] THEN
    UPDATE SET * / DELETE, WHEN NOT MATCHED THEN INSERT *`` — lowers onto
    the SAME merge_cow verb as the KEYS form. First-match-wins clause
    routing, per-action operation metrics, unrouted rows leave their
    target rows untouched."""
    d = _mk_table(sess, tmp_path)  # k=1,2 (v0) + 11,12 (v1); parts a,b
    rep = sess.sql(
        f"MERGE INTO LAKE('{d}') USING ("
        "  SELECT CAST(1 AS BIGINT) AS k, 'a' AS p, CAST(100.0 AS DOUBLE) AS v"
        "  UNION ALL"
        "  SELECT CAST(12 AS BIGINT), 'b', CAST(0.0 AS DOUBLE)"   # -> DELETE
        "  UNION ALL"
        "  SELECT CAST(99 AS BIGINT), 'a', CAST(9.0 AS DOUBLE)"   # -> INSERT
        ") AS s ON t.k = s.k "
        "WHEN MATCHED AND s.v = 0.0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).df.collect()[0]
    assert (rep["rows_updated"], rep["rows_deleted"], rep["rows_inserted"]) \
        == (1, 1, 1)
    assert (rep["version"], rep["partitions_rewritten"],
            rep["partitions_carried"]) == (2, 2, 0)
    got = {
        (r["k"], r["v"])
        for r in sess.sql(f"SELECT k, v FROM LAKE('{d}')").df.collect()
    }
    assert got == {(1, 100.0), (2, 2.0), (11, 1.0), (99, 9.0)}


def test_sql_merge_when_clauses_routing_and_guards(sess, tmp_path):
    """Clause-order semantics: a row satisfying several conditions takes
    the FIRST clause; rows passing no clause drop out of the batch (their
    target rows untouched); malformed grammars raise targeted dialect
    errors rather than half-executing."""
    d = _mk_table(sess, tmp_path)
    rep = sess.sql(
        f"MERGE INTO LAKE('{d}') USING ("
        "  SELECT CAST(1 AS BIGINT) AS k, 'a' AS p, CAST(50.0 AS DOUBLE) AS v"
        "  UNION ALL"
        "  SELECT CAST(2 AS BIGINT), 'b', CAST(-1.0 AS DOUBLE)"
        ") ON k = k "
        "WHEN MATCHED AND v > 0.0 THEN UPDATE SET * "  # k=1 takes this
        "WHEN MATCHED AND v > -5.0 THEN DELETE"        # k=2 (v=-1) lands here
    ).df.collect()[0]
    assert (rep["rows_updated"], rep["rows_deleted"], rep["rows_inserted"]) \
        == (1, 1, 0)
    got = sorted(
        r["k"] for r in sess.sql(f"SELECT k FROM LAKE('{d}')").df.collect()
    )
    assert got == [1, 11, 12]  # k=2 deleted by the SECOND clause only
    # an unmatched source row with no NOT MATCHED clause is a no-op
    rep = sess.sql(
        f"MERGE INTO LAKE('{d}') USING ("
        "  SELECT CAST(777 AS BIGINT) AS k, 'a' AS p, CAST(1.0 AS DOUBLE) AS v"
        ") ON k = k WHEN MATCHED THEN UPDATE SET *"
    ).df.collect()[0]
    assert (rep["rows_updated"], rep["rows_deleted"], rep["rows_inserted"]) \
        == (0, 0, 0)
    # grammar guards
    with pytest.raises(ValueError, match="only valid WHEN NOT MATCHED"):
        sess.sql(
            f"MERGE INTO LAKE('{d}') USING (SELECT 1 AS k) ON k = k "
            "WHEN MATCHED THEN INSERT *"
        )
    with pytest.raises(ValueError, match="differently-named"):
        sess.sql(
            f"MERGE INTO LAKE('{d}') USING (SELECT 1 AS k) ON t.k = s.j "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="key equality"):
        sess.sql(
            f"MERGE INTO LAKE('{d}') USING (SELECT 1 AS k) ON k < k "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="ON"):
        sess.sql(
            f"MERGE INTO LAKE('{d}') USING SELECT 1 "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_merge_not_matched_by_source(sess, tmp_path):
    """Full-sync MERGE: WHEN NOT MATCHED BY SOURCE THEN DELETE removes
    target rows absent from the source — folded into the SAME atomic
    copy-on-write commit; the branch's condition sees TARGET columns."""
    d = _mk_table(sess, tmp_path)  # k=1,2 (v0) + 11,12 (v1); parts a,b
    rep = sess.sql(
        f"MERGE INTO LAKE('{d}') USING ("
        "  SELECT CAST(1 AS BIGINT) AS k, 'a' AS p, CAST(10.0 AS DOUBLE) AS v"
        "  UNION ALL"
        "  SELECT CAST(12 AS BIGINT), 'b', CAST(12.5 AS DOUBLE)"
        ") AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND v < 2.0 THEN DELETE"
    ).df.collect()[0]
    # k=1,12 updated; victims = target keys {2,11} minus source; condition
    # v < 2.0 keeps only k=11 (v=1.0) — k=2 (v=2.0) survives untouched
    assert (rep["rows_updated"], rep["rows_deleted_by_source"]) == (2, 1)
    assert rep["rows_deleted"] == 0 and rep["rows_inserted"] == 0
    got = {
        (r["k"], r["v"])
        for r in sess.sql(f"SELECT k, v FROM LAKE('{d}')").df.collect()
    }
    assert got == {(1, 10.0), (2, 2.0), (12, 12.5)}
    # exactly ONE new commit: atomic, not a merge followed by a delete
    from seccosql_spark.operators.lakehouse import latest_version
    assert latest_version(d) == 2


def test_sql_delete_from_statement(sess, tmp_path):
    """DELETE FROM LAKE(d) KEYS (k) WHERE <pred>: matching keys from the
    head snapshot land as ONE merge-on-read equality-delete file; readers
    stop seeing them; no data file is rewritten."""
    from seccosql_spark.operators.lakehouse import read_manifest

    d = _mk_table(sess, tmp_path)
    files_before = {f["path"] for f in read_manifest(d)["files"]}
    rep = sess.sql(
        f"DELETE FROM LAKE('{d}') KEYS (k) WHERE v >= 2.0 AND p = 'b'"
    ).df.collect()[0]
    assert (rep["version"], rep["delete_files_added"], rep["delete_keys"]) \
        == (2, 1, 2)
    assert {f["path"] for f in read_manifest(d)["files"]} == files_before
    got = sorted(
        r["k"] for r in sess.sql(f"SELECT k FROM LAKE('{d}')").df.collect()
    )
    assert got == [1, 11]  # k=2 and k=12 (partition b) merge-on-read deleted
    # zero matches: NO artifact, NO version churn (Delta's behavior) —
    # and a second real delete reports ITS one file, not the cumulative
    rep = sess.sql(
        f"DELETE FROM LAKE('{d}') KEYS (k) WHERE v > 1e9"
    ).df.collect()[0]
    assert (rep["version"], rep["delete_files_added"], rep["delete_keys"]) \
        == (2, 0, 0)
    rep = sess.sql(
        f"DELETE FROM LAKE('{d}') KEYS (k) WHERE k = 11"
    ).df.collect()[0]
    assert (rep["version"], rep["delete_files_added"], rep["delete_keys"]) \
        == (3, 1, 1)


def test_sql_optimize_target_requires_clustering(sess, tmp_path):
    """TARGET n FILES without SORT BY/ZORDER BY must raise: the unclustered
    compactor always bin-packs one file per partition, so accepting the
    directive would silently drop it (review r15)."""
    import pytest

    d = _mk_table(sess, tmp_path)
    with pytest.raises(ValueError, match="TARGET n FILES requires"):
        sess.sql(f"OPTIMIZE LAKE('{d}') TARGET 4 FILES")


def test_sql_insert_into_statement(sess, tmp_path):
    """INSERT INTO LAKE(d) <query>: blind append commit — one new file per
    touched partition, existing files untouched."""
    from seccosql_spark.operators.lakehouse import read_manifest

    d = _mk_table(sess, tmp_path)
    files_before = {f["path"] for f in read_manifest(d)["files"]}
    # schema enforcement on write: an unannotated 21.0 literal is
    # DECIMAL(3,1), which would brick every later snapshot read of the
    # DOUBLE column — the commit must reject it, not the readers
    with pytest.raises(ValueError, match="incompatible"):
        sess.sql(
            f"INSERT INTO LAKE('{d}') "
            "SELECT CAST(21 AS BIGINT) AS k, 'a' AS p, 21.0 AS v"
        )
    rep = sess.sql(
        f"INSERT INTO LAKE('{d}') "
        "SELECT CAST(21 AS BIGINT) AS k, 'a' AS p, CAST(21.0 AS DOUBLE) AS v"
    ).df.collect()[0]
    assert (rep["version"], rep["files_appended"]) == (2, 1)
    assert files_before <= {f["path"] for f in read_manifest(d)["files"]}
    got = sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}')").df.collect()[0]
    assert got["n"] == 5


def test_lake_changes_table_ref(sess, tmp_path):
    """LAKE_CHANGES(dir, v0, v1) binds the manifest-driven change feed as
    a table reference; views are statement-scoped; bad arity and non-int
    versions raise before any IO."""
    d = _mk_table(sess, tmp_path)  # v0: k=1,2; v1: append k=11,12
    got = sess.sql(
        f"SELECT _change_type AS ct, k FROM LAKE_CHANGES('{d}', 0, 1) ORDER BY k"
    ).df.collect()
    assert [(r["ct"], r["k"]) for r in got] == [("insert", 11), ("insert", 12)]
    # joins against the head snapshot in the same statement
    n = sess.sql(
        f"SELECT count(*) AS n FROM LAKE_CHANGES('{d}', 0, 1) c "
        f"JOIN LAKE('{d}') h USING (k)"
    ).df.collect()[0]["n"]
    assert n == 2
    assert not any(
        t.name.startswith("__lakechanges") for t in sess.spark.catalog.listTables()
    )
    with pytest.raises(ValueError, match="three or four arguments"):
        sess.sql(f"SELECT * FROM LAKE_CHANGES('{d}', 1)")
    with pytest.raises(ValueError, match="integer versions"):
        sess.sql(f"SELECT * FROM LAKE_CHANGES('{d}', 'a', 'b')")


def test_sql_check_constraints_lifecycle(sess, tmp_path):
    """ALTER ... ADD CONSTRAINT ... CHECK: a metadata-only commit (files
    carried) that every later row-adding commit enforces — violating
    INSERT/MERGE batches are rejected whole with the table unchanged;
    NULL evaluations pass (SQL-standard CHECK); DROP stops enforcement;
    ADD on already-violating data refuses."""
    from seccosql_spark.operators.lakehouse import read_manifest

    d = _mk_table(sess, tmp_path)  # k=1,2,11,12; v in 1.0..2.0
    files_before = {f["path"] for f in read_manifest(d)["files"]}
    rep = sess.sql(
        f"ALTER LAKE('{d}') ADD CONSTRAINT v_pos CHECK (v > 0.0)"
    ).df.collect()[0]
    assert (rep["name"], rep["check_expr"], rep["version"]) \
        == ("v_pos", "v > 0.0", 2)
    assert {f["path"] for f in read_manifest(d)["files"]} == files_before
    # history shows the metadata-only commit
    hist = sess.sql(f"DESCRIBE HISTORY LAKE('{d}')").df.collect()
    assert hist[-1]["kind"] == "constraint_add"
    # violating insert: whole batch rejected, table unchanged
    with pytest.raises(ValueError, match="v_pos.*violating rows.*unchanged"):
        sess.sql(
            f"INSERT INTO LAKE('{d}') "
            "SELECT CAST(50 AS BIGINT) AS k, 'a' AS p, CAST(-1.0 AS DOUBLE) AS v"
        )
    assert sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}')").df.collect()[0]["n"] == 4
    # violating MERGE upsert: also rejected
    with pytest.raises(ValueError, match="merge_cow.*v_pos"):
        sess.sql(
            f"MERGE INTO LAKE('{d}') USING ("
            "SELECT CAST(1 AS BIGINT) AS k, 'a' AS p, CAST(-5.0 AS DOUBLE) AS v"
            ") ON k = k WHEN MATCHED THEN UPDATE SET *"
        )
    # NULL evaluation passes; a clean batch lands
    rep = sess.sql(
        f"INSERT INTO LAKE('{d}') "
        "SELECT CAST(51 AS BIGINT) AS k, 'a' AS p, CAST(NULL AS DOUBLE) AS v"
    ).df.collect()[0]
    assert rep["files_appended"] == 1
    # a MERGE delete of a low-v row is erasure, not data — never checked
    sess.sql(
        f"MERGE INTO LAKE('{d}') KEYS (k) USING ("
        "SELECT CAST(2 AS BIGINT) AS k, 'b' AS p, CAST(0.0 AS DOUBLE) AS v,"
        " true AS __deleted)"
    )
    # second constraint must hold on CURRENT data — k=51 has NULL v, fine,
    # but v < 1.5 fails on existing rows
    with pytest.raises(ValueError, match="existing rows violate"):
        sess.sql(f"ALTER LAKE('{d}') ADD CONSTRAINT v_small CHECK (v < 1.5)")
    cons = sess.sql(f"SHOW CONSTRAINTS ON LAKE('{d}')").df.collect()
    assert [(c["name"], c["check_expr"]) for c in cons] == [("v_pos", "v > 0.0")]
    # duplicate add refuses; drop stops enforcement
    with pytest.raises(ValueError, match="already exists"):
        sess.sql(f"ALTER LAKE('{d}') ADD CONSTRAINT v_pos CHECK (v > 10.0)")
    rep = sess.sql(f"ALTER LAKE('{d}') DROP CONSTRAINT v_pos").df.collect()[0]
    assert rep["dropped"] is True
    assert sess.sql(f"SHOW CONSTRAINTS ON LAKE('{d}')").df.count() == 0
    rep = sess.sql(
        f"INSERT INTO LAKE('{d}') "
        "SELECT CAST(52 AS BIGINT) AS k, 'a' AS p, CAST(-9.0 AS DOUBLE) AS v"
    ).df.collect()[0]
    assert rep["files_appended"] == 1  # no longer enforced
    with pytest.raises(ValueError, match="no constraint"):
        sess.sql(f"ALTER LAKE('{d}') DROP CONSTRAINT v_pos")


def test_sql_add_column_metadata_only(sess, tmp_path):
    """ALTER ... ADD COLUMN: declare-first additive evolution as a
    metadata-only commit — readers NULL-fill immediately with the right
    type, old snapshots stay narrow, later writes populate it, and a
    stats-pruned subset read serves the SAME schema as the full read."""
    from seccosql_spark.operators.lakehouse import read_manifest, scan_table

    d = _mk_table(sess, tmp_path)  # v1 head: k,p,v
    files_before = {f["path"] for f in read_manifest(d)["files"]}
    rep = sess.sql(f"ALTER LAKE('{d}') ADD COLUMN note STRING").df.collect()[0]
    assert (rep["name"], rep["col_type"], rep["version"]) \
        == ("note", "STRING", 2)
    assert {f["path"] for f in read_manifest(d)["files"]} == files_before
    head = sess.sql(f"SELECT * FROM LAKE('{d}')").df
    assert dict(head.dtypes)["note"] == "string"
    assert head.where("note IS NOT NULL").count() == 0
    # time travel to the pre-DDL snapshot stays narrow
    assert "note" not in sess.sql(f"SELECT * FROM LAKE('{d}', 1)").df.columns
    hist = sess.sql(f"DESCRIBE HISTORY LAKE('{d}')").df.collect()
    assert hist[-1]["kind"] == "add_column"
    # a later write populates it; NULL-filled and real values coexist
    sess.sql(
        f"INSERT INTO LAKE('{d}') SELECT CAST(21 AS BIGINT) AS k, 'a' AS p,"
        " CAST(21.0 AS DOUBLE) AS v, 'fresh' AS note"
    )
    got = {
        (r["k"], r["note"])
        for r in sess.sql(f"SELECT k, note FROM LAKE('{d}')").df.collect()
    }
    assert (21, "fresh") in got and (1, None) in got
    # pruned subset read (only pre-DDL files survive the probe) serves the
    # declared schema, not a file-dependent narrow one
    sub, audit = scan_table(sess.spark, d, "k", 1, 2)
    assert "note" in sub.columns and audit["files_skipped"] >= 1
    # guards: duplicate and unparseable type refuse
    with pytest.raises(ValueError, match="already exists"):
        sess.sql(f"ALTER LAKE('{d}') ADD COLUMN v DOUBLE")
    with pytest.raises(ValueError, match="parseable DDL type"):
        sess.sql(f"ALTER LAKE('{d}') ADD COLUMN zz NOT_A_TYPE<>")


def test_lake_changes_paired_updates(sess, tmp_path):
    """LAKE_CHANGES(d, v0, v1, PAIRED): net delete+insert of the same key
    re-labeled update_preimage/update_postimage using the merge commit's
    recorded keys; ranges with no recorded merge keys refuse loudly."""
    d = _mk_table(sess, tmp_path)  # v0: k=1,2; v1: append k=11,12
    # v1 was an append — no merge keys recorded, pairing must refuse
    with pytest.raises(ValueError, match="no commit.*recorded merge keys"):
        sess.sql(f"SELECT * FROM LAKE_CHANGES('{d}', 0, 1, PAIRED)")
    sess.sql(
        f"MERGE INTO LAKE('{d}') KEYS (k) USING ("
        "  SELECT CAST(1 AS BIGINT) AS k, 'a' AS p,"
        "         CAST(100.0 AS DOUBLE) AS v, false AS __deleted"
        "  UNION ALL SELECT CAST(12 AS BIGINT), 'b', CAST(0.0 AS DOUBLE), true"
        "  UNION ALL SELECT CAST(99 AS BIGINT), 'a', CAST(9.0 AS DOUBLE), false"
        ")"
    )  # v2: update k=1, delete k=12, insert k=99
    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in sess.sql(
            f"SELECT _change_type, k, v FROM LAKE_CHANGES('{d}', 1, 2, PAIRED)"
        ).df.collect()
    }
    assert got == {
        ("update_preimage", 1, 1.0),
        ("update_postimage", 1, 100.0),
        ("delete", 12, 2.0),
        ("insert", 99, 9.0),
    }
    # unpaired view of the same range keeps the raw delete/insert labels
    raw = {
        (r["_change_type"], r["k"])
        for r in sess.sql(
            f"SELECT _change_type, k FROM LAKE_CHANGES('{d}', 1, 2)"
        ).df.collect()
    }
    assert raw == {("delete", 1), ("delete", 12), ("insert", 1), ("insert", 99)}
    with pytest.raises(ValueError, match="fourth argument"):
        sess.sql(f"SELECT * FROM LAKE_CHANGES('{d}', 1, 2, bogus)")


def test_sql_insert_union_body_not_sheared(sess, tmp_path):
    """'(SELECT..) UNION ALL (SELECT..)' starts with '(' and ends with ')'
    without BEING parenthesized — the statement dispatcher must only strip
    enclosing parens that actually match (a naive strip sheared both
    subqueries into a syntax error)."""
    d = _mk_table(sess, tmp_path)
    rep = sess.sql(
        f"INSERT INTO LAKE('{d}') "
        "(SELECT CAST(31 AS BIGINT) AS k, 'a' AS p, CAST(31.0 AS DOUBLE) AS v)"
        " UNION ALL "
        "(SELECT CAST(32 AS BIGINT) AS k, 'b' AS p, CAST(32.0 AS DOUBLE) AS v)"
    ).df.collect()[0]
    assert rep["files_appended"] == 2  # one new file per touched partition
    got = sess.sql(f"SELECT count(*) AS n FROM LAKE('{d}')").df.collect()[0]
    assert got["n"] == 6
    # fully parenthesized bodies still unwrap
    rep = sess.sql(
        f"INSERT INTO LAKE('{d}') "
        "(SELECT CAST(33 AS BIGINT) AS k, 'a' AS p, CAST(33.0 AS DOUBLE) AS v)"
    ).df.collect()[0]
    assert rep["files_appended"] == 1


def test_statement_body_cannot_nest_maintenance(sess, tmp_path):
    """Review r15: MERGE USING / INSERT INTO bodies recurse through the
    QUERY-only entry point — a statement-shaped body must fail Spark's
    parser loudly, never execute a lifecycle mutation on another table
    before the outer verb's validation rejects it."""
    from seccosql_spark.operators.lakehouse import latest_version

    a = _mk_table(sess, tmp_path / "a")
    b = _mk_table(sess, tmp_path / "b")
    with pytest.raises(Exception):
        sess.sql(f"INSERT INTO LAKE('{a}') VACUUM LAKE('{b}') KEEP 1")
    # /b untouched: both versions still present (no vacuum ran)
    assert latest_version(b) == 1
    from seccosql_spark.operators.lakehouse import read_manifest
    assert read_manifest(b, 0)["version"] == 0  # history intact
