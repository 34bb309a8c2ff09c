"""Copy-on-write lakehouse table unit tests (operators/lakehouse.py): the
edge cases the registry rows don't hit — inserts creating a brand-new
partition, delete-only batches, carried-file identity (untouched partition
files must be the SAME file, not a rewrite), and version pinning under a
later commit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from seccosql_spark.operators.lakehouse import (
    DELETE_COL,
    create_table,
    latest_version,
    merge_cow,
    read_manifest,
    read_table,
)


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k BIGINT, p STRING, v DOUBLE",
    )
    d = str(tmp_path / "t")
    create_table(df, d, "p")
    return d


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_and_insert_existing_partition(spark, table):
    upd = spark.createDataFrame(
        [(2, "a", 99.0, False), (5, "a", 50.0, False)],
        f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN",
    )
    m = merge_cow(spark, table, upd, ["k"])
    assert m["version"] == 1
    assert m["partitions_rewritten"] == 1 and m["partitions_carried"] == 1
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0),
        (5, "a", 50.0),
    ]
    # v0 still intact (time travel)
    assert rows(read_table(spark, table, 0)) == [
        (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0),
    ]


def test_insert_creates_new_partition(spark, table):
    upd = spark.createDataFrame([(9, "c", 90.0)], "k BIGINT, p STRING, v DOUBLE")
    m = merge_cow(spark, table, upd, ["k"])
    assert m["partitions_rewritten"] == 1 and m["partitions_carried"] == 2
    assert (9, "c", 90.0) in rows(read_table(spark, table))
    assert latest_version(table) == 1


def test_delete_only_batch(spark, table):
    upd = spark.createDataFrame(
        [(3, "b", 0.0, True)],
        f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN",
    )
    merge_cow(spark, table, upd, ["k"])
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 20.0), (4, "b", 40.0),
    ]


def test_same_key_upsert_and_delete_in_one_batch(spark, table):
    """A batch holding one key as both an upsert row and a delete row: the
    base row is gone and the upsert lands — the result of anti-joining the
    base against the upsert keys and then the delete keys, which the one
    anti-join against all batch keys must keep."""
    upd = spark.createDataFrame(
        [(2, "a", 99.0, False), (2, "a", 0.0, True)],
        f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN",
    )
    merge_cow(spark, table, upd, ["k"])
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0),
    ]


@pytest.mark.parametrize("pval", [None, ""])
def test_merge_into_null_and_empty_partition(spark, tmp_path, pval):
    """An upsert whose partition value is NULL or '' rewrites the partition
    the write put such rows in (partitionBy's default partition), so the
    old row is replaced, not kept beside the new one, and the audit counts
    every partition once."""
    d = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, pval, 20.0), (3, "b", 30.0)],
            "k BIGINT, p STRING, v DOUBLE",
        ),
        d,
        "p",
    )
    upd = spark.createDataFrame([(2, pval, 99.0)], "k BIGINT, p STRING, v DOUBLE")
    m = merge_cow(spark, d, upd, ["k"])
    assert m["partitions_rewritten"] == 1 and m["partitions_carried"] == 2
    got = rows(read_table(spark, d).select("k", "v"))
    assert got == [(1, 10.0), (2, 99.0), (3, 30.0)]


def test_merge_cow_runs_one_job_before_its_write(spark, table, monkeypatch):
    """The batch is materialized by one job, which also yields the touched
    partitions (an Observation on the checkpoint): no distinct-collect job
    and no shuffle run before the partitioned write."""
    from seccosql_spark.operators import lakehouse

    sc = spark.sparkContext
    group = "merge-cow-before-write"
    seen = []
    write = lakehouse._write_partitioned

    def counting_write(*args, **kwargs):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return write(*args, **kwargs)

    monkeypatch.setattr(lakehouse, "_write_partitioned", counting_write)
    upd = spark.createDataFrame(
        [(2, "a", 99.0), (9, "c", 90.0)], "k BIGINT, p STRING, v DOUBLE"
    )
    sc.setJobGroup(group, "merge_cow jobs before the write", interruptOnCancel=False)
    try:
        m = merge_cow(spark, table, upd, ["k"])
    finally:
        sc.setJobGroup(None, None)
    assert seen == [1]
    assert m["partitions_rewritten"] == 2 and m["partitions_carried"] == 1


def test_snapshot_reads_start_no_spark_job(spark, table):
    """Building a read of a table with a recorded schema reads the files
    with that schema: no schema-inference job runs before an action."""
    from seccosql_spark.operators.lakehouse import scan_table

    sc = spark.sparkContext
    group = "lakehouse-read-build"
    sc.setJobGroup(group, "build snapshot reads", interruptOnCancel=False)
    try:
        read_table(spark, table)
        read_table(spark, table, 0)
        scan_table(spark, table, "k", 2, 3)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setJobGroup(None, None)


def test_pruned_scan_serves_declared_columns_null_filled(spark, table):
    """A scan whose surviving files all predate an additive column still
    returns that column, NULL-filled with the declared type — whether a
    later batch introduced it or a metadata-only ``add_column`` declared
    it. The snapshot's schema never depends on which files survive."""
    from pyspark.sql.types import IntegerType, StringType

    from seccosql_spark.operators.lakehouse import (
        add_column,
        append_commit,
        scan_table,
    )

    append_commit(
        spark,
        table,
        spark.createDataFrame(
            [(9, "c", 90.0, "web")], "k BIGINT, p STRING, v DOUBLE, ch STRING"
        ),
    )
    add_column(table, "score", "INT")
    df, audit = scan_table(spark, table, "k", 1, 3)
    assert audit["files_skipped"] == 1  # the only file carrying `ch`
    assert df.columns == ["k", "p", "v", "ch", "score"]
    assert df.schema["ch"].dataType == StringType()
    assert df.schema["score"].dataType == IntegerType()
    assert rows(df) == [
        (1, "a", 10.0, None, None), (2, "a", 20.0, None, None),
        (3, "b", 30.0, None, None),
    ]


def test_carried_files_are_same_file_not_rewrites(spark, table):
    upd = spark.createDataFrame([(1, "a", 11.0)], "k BIGINT, p STRING, v DOUBLE")
    m0 = read_manifest(table, 0)
    m1 = merge_cow(spark, table, upd, ["k"])
    f0 = {f["partition"]: f["path"] for f in m0["files"]}
    f1 = {f["partition"]: f["path"] for f in m1["files"]}
    assert f1["b"] == f0["b"]  # carried BY REFERENCE
    assert f1["a"] != f0["a"]  # rewritten
    # both physical files exist; old one still serves v0 readers
    assert os.path.exists(os.path.join(table, f0["a"]))
    assert os.path.exists(os.path.join(table, f1["a"]))


def test_missing_partition_column_raises(spark, table):
    upd = spark.createDataFrame([(1, 11.0)], "k BIGINT, v DOUBLE")
    with pytest.raises(ValueError, match="partition column"):
        merge_cow(spark, table, upd, ["k"])


def test_commit_conflict_detected(spark, table):
    """Optimistic concurrency: two writers committing from the same base
    version — manifest creation is atomic-exclusive, so the second commit
    raises CommitConflictError instead of silently clobbering the first."""
    from seccosql_spark.operators.lakehouse import CommitConflictError

    upd_a = spark.createDataFrame([(7, "a", 70.0)], "k BIGINT, p STRING, v DOUBLE")
    merge_cow(spark, table, upd_a, ["k"])  # writer A wins v1

    # writer B raced from base v0 and now tries to commit the same version
    from seccosql_spark.operators.lakehouse import _commit_manifest

    with pytest.raises(CommitConflictError, match="another writer"):
        _commit_manifest(table, 1, {"version": 1, "files": []})
    # the winning commit is untouched
    assert (7, "a", 70.0) in rows(read_table(spark, table, 1))


def test_schema_evolution_read_reconciles(spark, table):
    """Additive evolution: an appended batch carries a new column; legacy
    files are not rewritten and serve NULL through the snapshot read."""
    from seccosql_spark.operators.lakehouse import append_commit

    newcol = spark.createDataFrame(
        [(9, "a", 90.0, "web")], "k BIGINT, p STRING, v DOUBLE, ch STRING"
    )
    append_commit(spark, table, newcol)
    got = read_table(spark, table)
    assert "ch" in got.columns
    by_ch = {r.ch: r.n for r in got.groupBy("ch").count().withColumnRenamed("count", "n").collect()}
    assert by_ch == {None: 4, "web": 1}


def test_merge_after_append_keeps_all_files_rows(spark, table):
    """ADVICE r12 (high): append_commit creates multi-file partitions; a
    later merge must read ALL live files of a touched partition and carry
    ALL files of untouched partitions — the old one-entry-per-partition dict
    silently dropped every earlier file's rows."""
    from seccosql_spark.operators.lakehouse import append_commit

    ins = spark.createDataFrame(
        [(5, "a", 50.0), (6, "b", 60.0)], "k BIGINT, p STRING, v DOUBLE"
    )
    append_commit(spark, table, ins)  # partitions a and b now hold 2 files each
    upd = spark.createDataFrame([(2, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE")
    m = merge_cow(spark, table, upd, ["k"])
    # touched partition a: base rows from BOTH files survive the rewrite
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0),
        (5, "a", 50.0), (6, "b", 60.0),
    ]
    # untouched partition b: BOTH files carried by reference
    b_files = [f for f in m["files"] if f["partition"] == "b"]
    assert len(b_files) == 2


def test_merge_evolved_batch_into_legacy_base(spark, table):
    """VERDICT r12 task 5: a MERGE batch carrying a NEW column upserts into
    legacy partitions — base rows NULL-fill the new column (matching the
    snapshot read), instead of unionByName raising."""
    upd = spark.createDataFrame(
        [(2, "a", 99.0, "web"), (9, "c", 90.0, "store")],
        "k BIGINT, p STRING, v DOUBLE, ch STRING",
    )
    merge_cow(spark, table, upd, ["k"])
    got = read_table(spark, table)
    assert set(got.columns) == {"k", "p", "v", "ch"}
    assert rows(got) == [
        (1, "a", 10.0, None), (2, "a", 99.0, "web"), (3, "b", 30.0, None),
        (4, "b", 40.0, None), (9, "c", 90.0, "store"),
    ]


def test_merge_legacy_batch_into_evolved_base(spark, table):
    """The reverse direction: after the base evolved, a batch WITHOUT the
    new column still merges — its upserts NULL-fill the evolved column."""
    evolved = spark.createDataFrame(
        [(2, "a", 99.0, "web")], "k BIGINT, p STRING, v DOUBLE, ch STRING"
    )
    merge_cow(spark, table, evolved, ["k"])
    legacy = spark.createDataFrame([(1, "a", 11.0)], "k BIGINT, p STRING, v DOUBLE")
    merge_cow(spark, table, legacy, ["k"])
    got = {r.k: (r.v, r.ch) for r in read_table(spark, table).collect()}
    assert got[1] == (11.0, None) and got[2] == (99.0, "web")


def test_empty_v0_time_travel(spark, tmp_path):
    """ADVICE r12: create_table of an empty DataFrame (stream-initialized
    tables) must leave v0 readable — empty frame with the recorded schema,
    not a zero-path read error."""
    from seccosql_spark.operators.lakehouse import append_commit

    empty = spark.createDataFrame([], "k BIGINT, p STRING, v DOUBLE")
    d = str(tmp_path / "t0")
    create_table(empty, d, "p")
    v0 = read_table(spark, d, 0)
    assert v0.count() == 0
    assert [f.name for f in v0.schema.fields] == ["k", "p", "v"]
    append_commit(spark, d, spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"))
    assert rows(read_table(spark, d)) == [(1, "a", 1.0)]
    assert read_table(spark, d, 0).count() == 0  # v0 still empty


def test_path_hostile_partition_values(spark, tmp_path):
    """ADVICE r12: partition VALUES containing '/', '=', '..' must not break
    the layout or escape the data directory (Hive-style percent escaping)."""
    import os

    df = spark.createDataFrame(
        [(1, "a/b", 1.0), (2, "x=y", 2.0), (3, "..", 3.0)],
        "k BIGINT, p STRING, v DOUBLE",
    )
    d = str(tmp_path / "t")
    m = create_table(df, d, "p")
    assert sorted(f["partition"] for f in m["files"]) == ["..", "a/b", "x=y"]
    for f in m["files"]:
        full = os.path.realpath(os.path.join(d, f["path"]))
        assert full.startswith(os.path.realpath(d) + os.sep)
        assert os.path.exists(full)
    assert rows(read_table(spark, d)) == [
        (1, "a/b", 1.0), (2, "x=y", 2.0), (3, "..", 3.0),
    ]
    upd = spark.createDataFrame([(1, "a/b", 9.0)], "k BIGINT, p STRING, v DOUBLE")
    m1 = merge_cow(spark, d, upd, ["k"])
    assert m1["partitions_rewritten"] == 1 and m1["partitions_carried"] == 2
    assert (1, "a/b", 9.0) in rows(read_table(spark, d))


def test_expire_versions_vacuum(spark, table):
    """VACUUM lifecycle: expiring old versions deletes their manifests and
    every data file no kept manifest references; the kept snapshot stays
    byte-identical and time travel to expired versions raises cleanly."""
    import os

    from seccosql_spark.operators.lakehouse import expire_versions

    upd1 = spark.createDataFrame([(2, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE")
    upd2 = spark.createDataFrame([(3, "b", 33.0)], "k BIGINT, p STRING, v DOUBLE")
    merge_cow(spark, table, upd1, ["k"])  # v1 rewrites a
    merge_cow(spark, table, upd2, ["k"])  # v2 rewrites b
    want = rows(read_table(spark, table, 2))

    stats = expire_versions(table, keep_last=1)
    assert stats["kept_versions"] == [2]
    assert stats["expired_versions"] == [0, 1]
    # v0's a-file and v0's b-file died; v1's a-file died (v2 carries v1's a?
    # no: v1 rewrote a, v2 carried it) — so dead = v0:a, v0:b, and nothing
    # else; v1's a-file is carried by v2 and must survive
    assert stats["files_deleted"] == 2
    assert rows(read_table(spark, table)) == want  # latest intact
    with pytest.raises(FileNotFoundError):
        read_table(spark, table, 0)
    # every path the kept manifest lists still exists on disk
    m2 = read_manifest(table, 2)
    for f in m2["files"]:
        assert os.path.exists(os.path.join(table, f["path"]))
    with pytest.raises(ValueError, match="keep_last"):
        expire_versions(table, keep_last=0)


def test_with_commit_retry_wins_after_conflict(spark, table):
    """A commit racing a concurrent writer loses v1, re-reads, and lands
    v2 — with_commit_retry drives exactly that loop end-to-end."""
    import seccosql_spark.operators.lakehouse as lh

    stale = lh.read_manifest(table)  # v0, read before the race
    # concurrent writer lands v1 first
    lh._commit_manifest(table, 1, {**stale, "version": 1})

    orig = lh.read_manifest
    stale_served = {"n": 0}

    def patched(table_dir, version=None):
        # first latest-read sees the PRE-RACE manifest, so the merge
        # targets v1 and collides with the concurrent writer's commit
        if version is None and stale_served["n"] == 0:
            stale_served["n"] += 1
            return stale
        return orig(table_dir, version)

    upd = spark.createDataFrame([(2, "a", 77.0)], "k BIGINT, p STRING, v DOUBLE")
    lh.read_manifest = patched
    try:
        m = lh.with_commit_retry(
            lambda: lh.merge_cow(spark, table, upd, ["k"])
        )
    finally:
        lh.read_manifest = orig
    assert m["version"] == 2  # lost v1, retried on top of the winner
    assert (2, "a", 77.0) in rows(read_table(spark, table))
    # retries exhausted -> the conflict propagates
    def always_conflicts():
        raise lh.CommitConflictError("simulated")

    with pytest.raises(lh.CommitConflictError):
        lh.with_commit_retry(always_conflicts, retries=2)


def test_null_delete_flag_is_upsert(spark, table):
    """A NULL __deleted flag means "not a delete" — the row must be
    upserted, not silently dropped from both branches."""
    upd = spark.createDataFrame(
        [(2, "a", 99.0, None), (3, "b", 0.0, True)],
        f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN",
    )
    merge_cow(spark, table, upd, ["k"])
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 99.0), (4, "b", 40.0),
    ]


def test_manifest_records_column_stats(spark, table):
    """Every data-file manifest entry carries footer min/max per primitive
    column — the data-skipping index. Stats come from parquet metadata
    (no scan) and must survive carry-forward commits verbatim."""
    import seccosql_spark.operators.lakehouse as lh

    m = read_manifest(table)
    by_p = {f["partition"]: f for f in m["files"]}
    assert by_p["a"]["stats"]["k"] == {"min": 1, "max": 2}
    assert by_p["b"]["stats"]["v"] == {"min": 30.0, "max": 40.0}
    assert by_p["a"]["stats"]["p"] == {"min": "a", "max": "a"}
    # an append carries the untouched entries with stats intact
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(9, "a", 90.0)], "k BIGINT, p STRING, v DOUBLE"),
    )
    m1 = read_manifest(table)
    assert any(
        f["partition"] == "b" and f["stats"]["k"] == {"min": 3, "max": 4}
        for f in m1["files"]
    )


def test_scan_table_skips_files_by_stats(spark, table):
    """A range probe must open only files whose [min, max] intersects it —
    decided from manifest metadata alone — while residual filtering keeps
    the result exact."""
    import seccosql_spark.operators.lakehouse as lh

    # add a third file: partition 'a' keys 100..101 (disjoint key range)
    lh.append_commit(
        spark, table,
        spark.createDataFrame(
            [(100, "a", 1.0), (101, "a", 2.0)], "k BIGINT, p STRING, v DOUBLE"
        ),
    )
    df, audit = lh.scan_table(spark, table, "k", 100, 200)
    assert audit == {"files_total": 3, "files_scanned": 1, "files_skipped": 2}
    assert rows(df) == [(100, "a", 1.0), (101, "a", 2.0)]
    # residual predicate applies inside the surviving file
    df2, audit2 = lh.scan_table(spark, table, "k", 2, 3)
    assert audit2["files_scanned"] == 2  # both v0 files; append skipped
    assert rows(df2) == [(2, "a", 20.0), (3, "b", 30.0)]
    # pruning everything returns an empty frame with the table schema
    df3, audit3 = lh.scan_table(spark, table, "k", 500, 600)
    assert audit3["files_scanned"] == 0 and df3.count() == 0
    assert set(df3.columns) == {"k", "p", "v"}


def test_scan_table_unstatted_column_never_skips(spark, tmp_path):
    """No stats for the probe column -> conservative: every file scanned."""
    import json as _json

    import seccosql_spark.operators.lakehouse as lh

    df = spark.createDataFrame(
        [(1, "a", 10.0), (3, "b", 30.0)], "k BIGINT, p STRING, v DOUBLE"
    )
    d = str(tmp_path / "t2")
    create_table(df, d, "p")
    # simulate a legacy manifest written before stats existed
    mpath = lh._manifest_path(d, 0)
    m = _json.load(open(mpath))
    for f in m["files"]:
        f.pop("stats", None)
    with open(mpath, "w") as fh:
        _json.dump(m, fh)
    out, audit = lh.scan_table(spark, d, "k", 3, 3)
    assert audit == {"files_total": 2, "files_scanned": 2, "files_skipped": 0}
    assert rows(out) == [(3, "b", 30.0)]


def test_equality_delete_merge_on_read(spark, table):
    """delete_commit rewrites NOTHING (the data file list is unchanged);
    the deleted keys disappear at read time via the delete-file anti-join."""
    import seccosql_spark.operators.lakehouse as lh

    before = [f["path"] for f in read_manifest(table)["files"]]
    dels = spark.createDataFrame([(2,), (3,)], "k BIGINT")
    m = lh.delete_commit(spark, table, dels, ["k"])
    assert [f["path"] for f in m["files"]] == before  # zero rewrites
    assert len(m["delete_files"]) == 1
    assert m["delete_files"][0]["rows"] == 2
    assert rows(read_table(spark, table)) == [(1, "a", 10.0), (4, "b", 40.0)]


def test_equality_delete_reinsert_survives(spark, table):
    """The sequence rule: a key appended AFTER its delete commit is a
    legitimate re-insert — the older delete must not swallow it."""
    import seccosql_spark.operators.lakehouse as lh

    lh.delete_commit(spark, table, spark.createDataFrame([(2,)], "k BIGINT"), ["k"])
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(2, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE"),
    )
    assert rows(read_table(spark, table)) == [
        (1, "a", 10.0), (2, "a", 99.0), (3, "b", 30.0), (4, "b", 40.0),
    ]
    # scan_table applies the deletes too (probe covers everything)
    df, _ = lh.scan_table(spark, table, "k", 0, 100)
    assert rows(df) == rows(read_table(spark, table))


def test_cow_rewrites_do_not_resurrect_deletes(spark, table):
    """merge_cow and compact rewrite files to a NEWER added_at than the
    delete — they must apply the delete during the rewrite, or deleted
    rows come back."""
    import seccosql_spark.operators.lakehouse as lh

    lh.delete_commit(spark, table, spark.createDataFrame([(1,), (3,)], "k BIGINT"), ["k"])
    expected = [(2, "a", 20.0), (4, "b", 40.0)]
    assert rows(read_table(spark, table)) == expected
    # merge touching partition 'a' only: rewritten 'a' file must not hold k=1
    lh.merge_cow(
        spark, table,
        spark.createDataFrame([(5, "a", 50.0)], "k BIGINT, p STRING, v DOUBLE"),
        ["k"],
    )
    assert rows(read_table(spark, table)) == [
        (2, "a", 20.0), (4, "b", 40.0), (5, "a", 50.0),
    ]
    # append a second file into 'b' then compact: the bin-packed 'b' file
    # must not resurrect k=3
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(6, "b", 60.0)], "k BIGINT, p STRING, v DOUBLE"),
    )
    snap = rows(read_table(spark, table))
    lh.compact(spark, table)
    assert rows(read_table(spark, table)) == snap


def test_purge_deletes_materializes_and_retires(spark, table):
    """purge rewrites ONLY the files with an applicable delete, drops the
    delete files, and leaves the snapshot bit-identical."""
    import seccosql_spark.operators.lakehouse as lh

    # second file in 'a' that post-dates the delete -> not affected
    lh.delete_commit(spark, table, spark.createDataFrame([(2,)], "k BIGINT"), ["k"])
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(7, "a", 70.0)], "k BIGINT, p STRING, v DOUBLE"),
    )
    snap = rows(read_table(spark, table))
    m_before = read_manifest(table)
    m = lh.purge_deletes(spark, table)
    assert m["delete_files"] == []
    # stats pruning: the delete of k=2 provably cannot touch file b
    # (k in [3,4]) — only v0 file a (k in [1,2]) is rewritten
    assert m["files_rewritten"] == 1
    assert m["files_carried"] == 2    # v0 file b + the post-delete append
    assert rows(read_table(spark, table)) == snap
    # the untouched append entry is carried verbatim
    appended = [f for f in m_before["files"] if f["added_at"] == 2]
    assert appended and appended[0] in m["files"]
    # expire now vacuums the retired delete file from disk
    stats = lh.expire_versions(table, keep_last=1)
    import glob as _glob

    assert not _glob.glob(os.path.join(table, "deletes", "*.parquet"))
    # exactly the purged v0 'a' file + the retired delete file die; the
    # bounds-carried 'b' file stays live in the new manifest
    assert stats["files_deleted"] == 2


def test_table_changes_merge_and_append(spark, table):
    """CDF over a merge: an update is a delete+insert pair, a fresh key is
    insert-only, a CDC delete is delete-only; carried partitions contribute
    nothing. Over a blind append: inserts only."""
    import seccosql_spark.operators.lakehouse as lh

    upd = spark.createDataFrame(
        [(2, "a", 99.0, False), (5, "a", 50.0, False), (4, "b", 40.0, True)],
        f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN",
    )
    merge_cow(spark, table, upd, ["k"])  # v1
    ch = lh.table_changes(spark, table, 0, 1)
    got = sorted((r["_change_type"], r["k"], r["v"]) for r in ch.collect())
    assert got == [
        ("delete", 2, 20.0), ("delete", 4, 40.0),
        ("insert", 2, 99.0), ("insert", 5, 50.0),
    ]
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(9, "b", 90.0)], "k BIGINT, p STRING, v DOUBLE"),
    )  # v2
    got2 = sorted((r["_change_type"], r["k"]) for r in
                  lh.table_changes(spark, table, 1, 2).collect())
    assert got2 == [("insert", 9)]
    # spanning both commits composes
    got3 = sorted((r["_change_type"], r["k"]) for r in
                  lh.table_changes(spark, table, 0, 2).collect())
    assert got3 == [
        ("delete", 2), ("delete", 4), ("insert", 2), ("insert", 5),
        ("insert", 9),
    ]


def test_table_changes_delete_only_commit(spark, table):
    """An equality-delete commit rewrites no files, but the feed must still
    surface the hidden rows as deletes (carried files + new delete file)."""
    import seccosql_spark.operators.lakehouse as lh

    lh.delete_commit(spark, table, spark.createDataFrame([(3,)], "k BIGINT"), ["k"])
    got = sorted((r["_change_type"], r["k"], r["v"]) for r in
                 lh.table_changes(spark, table, 0, 1).collect())
    assert got == [("delete", 3, 30.0)]
    # a compact afterwards is content-neutral: empty feed
    lh.compact(spark, table)  # no multi-file partitions -> carried; purge none
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(8, "a", 80.0), (8, "b", 81.0)],
                              "k BIGINT, p STRING, v DOUBLE"),
    )
    lh.compact(spark, table)  # now 'a' and 'b' each bin-pack
    n = lh.table_changes(spark, table, 3, 4).count()
    assert n == 0, "compaction must be invisible to the change feed"


@pytest.mark.parametrize("seed", [7, 23, 41])
def test_random_commit_sequences_match_model(spark, tmp_path, seed):
    """Model-based sequence test: a random interleaving of MERGE, blind
    APPEND, equality DELETE, COMPACT (unscoped / clustered / WHERE-scoped),
    PURGE, RESTORE, and constraint ADD/DROP commits must keep every
    snapshot equal to a trivial Python dict replay — and the change feed
    between EVERY consecutive version pair must equal the model's diff.
    This is the whole-family invariant the single-scenario tests can't
    give: deletes interact with later re-inserts (sequence rule), compact
    interacts with outstanding deletes, purges retire them, time travel
    must keep serving every historical state, a live CHECK constraint
    must reject violating batches whole (no version advance) while a
    restore resurrects the restored version's constraint map."""
    import random

    import seccosql_spark.operators.lakehouse as lh

    rng = random.Random(seed)
    parts = ["a", "b", "c"]

    # partition is a FUNCTION of the key (merge_cow's contract: partition
    # values are key-stable — see its docstring)
    def mkrow(k):
        return (k, parts[k % 3], float(rng.randint(1, 99)))

    state = {k: mkrow(k) for k in range(1, 9)}
    d = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(sorted(state.values()), "k BIGINT, p STRING, v DOUBLE"),
        d, "p",
    )
    history = [dict(state)]  # model per version
    cons_history: list[bool] = [False]  # r16: constraint live per version
    dead_keys: set[int] = set()
    cons_live = False

    for _ in range(10):
        op = rng.choice(
            ["merge", "append", "delete", "compact", "zcompact", "purge",
             "restore", "optimize_where", "constraint", "bad_append"]
        )
        if op == "merge":
            ups = [mkrow(rng.randint(1, 40)) for _ in range(rng.randint(1, 4))]
            ups = list({r[0]: r for r in ups}.values())  # key-unique batch
            del_keys = rng.sample(sorted(state), k=min(len(state), rng.randint(0, 2)))
            del_keys = [k for k in del_keys if k not in {u[0] for u in ups}]
            batch = [(u[0], u[1], u[2], False) for u in ups] + [
                (k, state[k][1], 0.0, True) for k in del_keys
            ]
            merge_cow(
                spark, d,
                spark.createDataFrame(
                    batch, f"k BIGINT, p STRING, v DOUBLE, {DELETE_COL} BOOLEAN"
                ),
                ["k"],
            )
            for k in del_keys:
                state.pop(k)
                dead_keys.add(k)
            for u in ups:
                state[u[0]] = u
                dead_keys.discard(u[0])
        elif op == "append":
            # fresh keys, biased to resurrect previously-deleted ones
            pool = sorted(dead_keys) or [rng.randint(41, 80)]
            news = {rng.choice(pool) if rng.random() < 0.5 else rng.randint(41, 80)
                    for _ in range(rng.randint(1, 3))}
            news = {k for k in news if k not in state}
            if not news:
                news = {max(state) + 100}
            rows_ = [mkrow(k) for k in sorted(news)]
            lh.append_commit(
                spark, d,
                spark.createDataFrame(rows_, "k BIGINT, p STRING, v DOUBLE"),
            )
            for r in rows_:
                state[r[0]] = r
                dead_keys.discard(r[0])
        elif op == "delete":
            ks = rng.sample(sorted(state), k=min(len(state), rng.randint(1, 3)))
            if not ks:
                continue
            lh.delete_commit(
                spark, d, spark.createDataFrame([(k,) for k in ks], "k BIGINT"), ["k"]
            )
            for k in ks:
                state.pop(k)
                dead_keys.add(k)
        elif op == "compact":
            lh.compact(spark, d)
        elif op == "zcompact":
            # clustered compaction is content-neutral too — the model and
            # the change feed must see NOTHING
            if rng.random() < 0.5:
                lh.compact(spark, d, sort_by="k", target_files=2)
            else:
                lh.compact(spark, d, zorder_by=["k", "v"], target_files=2)
        elif op == "restore":
            # rollback to a random historical version: the model state
            # becomes that version's dict; later ops build on top of it
            # (delete sequence rule, appends, feeds all must stay exact).
            # Constraints are table metadata — the restore resurrects the
            # restored version's map (carried via _successor), so the
            # model's live-constraint flag follows cons_history.
            rv = rng.randrange(len(history))
            lh.restore_table(spark, d, rv)
            state = dict(history[rv])
            cons_live = cons_history[rv]
            dead_keys = set(range(1, 81)) - set(state)
        elif op == "optimize_where":
            # partition-scoped compaction is content-neutral like the
            # unscoped one: the model and the change feed see NOTHING,
            # whichever partition the predicate selects
            lh.compact(spark, d, where=f"p = '{rng.choice(parts)}'")
        elif op == "constraint":
            # metadata-only commit either way; generated row values are
            # 1..99 so the live snapshot always satisfies v > 0
            if cons_live:
                lh.drop_constraint(d, "v_pos")
                cons_live = False
            else:
                lh.add_constraint(spark, d, "v_pos", "v > 0.0")
                cons_live = True
        elif op == "bad_append":
            # a violating batch must be rejected WHOLE with no version
            # advance while the constraint is live — and land normally
            # (negative v and all) the moment it is not
            bad = [(rng.randint(200, 240), rng.choice(parts), -5.0)]
            if cons_live:
                with pytest.raises(ValueError, match="v_pos"):
                    lh.append_commit(
                        spark, d,
                        spark.createDataFrame(
                            bad, "k BIGINT, p STRING, v DOUBLE"),
                    )
                assert rows(read_table(spark, d)) == sorted(state.values())
                continue  # no commit, no history entry
            if bad[0][0] in state:
                continue
            lh.append_commit(
                spark, d,
                spark.createDataFrame(bad, "k BIGINT, p STRING, v DOUBLE"),
            )
            state[bad[0][0]] = bad[0]
        else:
            lh.purge_deletes(spark, d)
        history.append(dict(state))
        cons_history.append(cons_live)
        got = rows(read_table(spark, d))
        assert got == sorted(state.values()), f"snapshot diverged after {op}"

    # time travel: every historical version still serves its model state
    for v, st_v in enumerate(history):
        assert rows(read_table(spark, d, v)) == sorted(st_v.values()), f"v{v}"

    # change feed between every consecutive pair equals the model diff
    for v in range(len(history) - 1):
        a, b = history[v], history[v + 1]
        want_ins = sorted(r for k, r in b.items() if a.get(k) != r)
        want_del = sorted(r for k, r in a.items() if b.get(k) != r)
        ch = lh.table_changes(spark, d, v, v + 1).collect()
        got_ins = sorted((r["k"], r["p"], r["v"]) for r in ch if r["_change_type"] == "insert")
        got_del = sorted((r["k"], r["p"], r["v"]) for r in ch if r["_change_type"] == "delete")
        assert got_ins == want_ins, f"feed inserts v{v}->v{v+1}"
        assert got_del == want_del, f"feed deletes v{v}->v{v+1}"


def test_concurrent_writers_both_land(spark, table):
    """Two writers racing commits from the same base version: optimistic
    concurrency means exactly one wins each version and the loser's retry
    re-reads and lands on top — after the dust settles BOTH batches are in
    the final snapshot and the version chain has no gaps."""
    import threading

    import seccosql_spark.operators.lakehouse as lh

    barrier = threading.Barrier(2)
    errs = []

    def writer(k, v):
        try:
            batch = spark.createDataFrame([(k, "a", v)], "k BIGINT, p STRING, v DOUBLE")
            barrier.wait()
            lh.with_commit_retry(
                lambda: lh.merge_cow(spark, table, batch, ["k"]), retries=5
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(10, 100.0))
    t2 = threading.Thread(target=writer, args=(11, 110.0))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert lh.latest_version(table) == 2
    got = rows(read_table(spark, table))
    assert (10, "a", 100.0) in got and (11, "a", 110.0) in got
    # base rows intact
    assert (1, "a", 10.0) in got and (4, "b", 40.0) in got
    # the loser's conflicted attempt cleaned up after itself: every parquet
    # on disk is referenced by some committed manifest
    referenced: set[str] = set()
    for v in range(lh.latest_version(table) + 1):
        mv = lh.read_manifest(table, v)
        referenced |= {f["path"] for f in mv["files"]}
        referenced |= {dd["path"] for dd in mv.get("delete_files") or []}
    on_disk = {
        os.path.relpath(os.path.join(r, fn), table)
        for r, _, fns in os.walk(os.path.join(table, "data"))
        for fn in fns if fn.endswith(".parquet")
    }
    assert on_disk <= referenced, on_disk - referenced


def test_sorted_compaction_preserves_skipping(spark, table):
    """compact(sort_by, target_files) must (a) leave contents bit-identical,
    (b) produce range-clustered files with DISJOINT key bounds, (c) keep
    scan_table's file skipping effective after the compaction — the plain
    one-wide-file bin-pack would widen every bound to the full range."""
    import seccosql_spark.operators.lakehouse as lh

    # interleaved second file per partition -> wide per-file ranges
    lh.append_commit(
        spark, table,
        spark.createDataFrame(
            [(101, "a", 1.0), (5, "a", 5.0), (102, "b", 2.0), (6, "b", 6.0)],
            "k BIGINT, p STRING, v DOUBLE",
        ),
    )
    snap = rows(read_table(spark, table))
    m = lh.compact(spark, table, sort_by="k", target_files=2)
    assert m["partitions_compacted"] == 2
    assert rows(read_table(spark, table)) == snap  # layout-only commit
    for p in ("a", "b"):
        bounds = sorted(
            (f["stats"]["k"]["min"], f["stats"]["k"]["max"])
            for f in m["files"] if f["partition"] == p
        )
        assert len(bounds) == 2
        assert bounds[0][1] < bounds[1][0], f"overlapping ranges in {p}: {bounds}"
    # a low-range probe now skips the high-range file of each partition
    df, audit = lh.scan_table(spark, table, "k", 1, 4)
    assert audit["files_total"] == 4 and audit["files_scanned"] == 2
    assert rows(df) == [r for r in snap if r[0] <= 4]


def test_partition_transforms(spark, tmp_path):
    """Hidden partitioning: bucket(N, col) / truncate(N, col) / month(ts)
    specs derive the partition value — writers and merges prune on the
    transform; the data files never carry a partition column and queries
    only reference the source column."""
    import seccosql_spark.operators.lakehouse as lh

    df = spark.createDataFrame(
        [(k, float(k)) for k in range(1, 9)], "k BIGINT, v DOUBLE"
    )
    d = str(tmp_path / "tb")
    m = create_table(df, d, "bucket(3, k)")
    parts = sorted({f["partition"] for f in m["files"]})
    assert parts == ["0", "1", "2"]
    # a merge touching keys of ONE bucket rewrites one partition
    upd = spark.createDataFrame([(3, 33.0)], "k BIGINT, v DOUBLE")
    m1 = merge_cow(spark, d, upd, ["k"])
    assert m1["partitions_rewritten"] == 1 and m1["partitions_carried"] == 2
    assert rows(read_table(spark, d)) == [
        (1, 1.0), (2, 2.0), (3, 33.0), (4, 4.0), (5, 5.0), (6, 6.0),
        (7, 7.0), (8, 8.0),
    ]

    # truncate: floor-to-multiple ranges
    d2 = str(tmp_path / "tt")
    m2 = create_table(df, d2, "truncate(4, k)")
    assert sorted({f["partition"] for f in m2["files"]}) == ["0", "4", "8"]

    # month(ts): time-derived partitions
    import datetime

    tdf = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 5)), (2, datetime.datetime(2024, 2, 7)),
         (3, datetime.datetime(2024, 1, 20))],
        "k BIGINT, ts TIMESTAMP",
    )
    d3 = str(tmp_path / "tm")
    m3 = create_table(tdf, d3, "month(ts)")
    assert sorted({f["partition"] for f in m3["files"]}) == ["2024-01", "2024-02"]
    # append derives the same transform; batch lacking the SOURCE col raises
    lh.append_commit(
        spark, d3,
        spark.createDataFrame([(4, datetime.datetime(2024, 2, 9))],
                              "k BIGINT, ts TIMESTAMP"),
    )
    assert read_table(spark, d3).count() == 4
    with pytest.raises(ValueError, match="partition column"):
        lh.append_commit(spark, d3, spark.createDataFrame([(5,)], "k BIGINT"))


def test_txn_append_is_idempotent(spark, table):
    """Delta-txn-style exactly-once appends: replaying a (app_id,
    txn_version) that already committed is a NO-OP; a higher version
    lands; independent app_ids don't interfere; and other commit types
    carry the txn ledger forward."""
    import seccosql_spark.operators.lakehouse as lh

    b1 = spark.createDataFrame([(10, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE")
    m1 = lh.append_commit(spark, table, b1, txn=("sinkA", 0))
    assert m1["version"] == 1 and m1["txns"] == {"sinkA": 0}
    n_after_first = read_table(spark, table).count()
    # replay of batch 0: no new version, no new rows
    m_replay = lh.append_commit(spark, table, b1, txn=("sinkA", 0))
    assert m_replay["version"] == 1
    assert read_table(spark, table).count() == n_after_first
    # next batch lands; a second sink has its own sequence
    lh.append_commit(spark, table, b1, txn=("sinkA", 1))
    lh.append_commit(spark, table, b1, txn=("sinkB", 0))
    m = read_manifest(table)
    assert m["txns"] == {"sinkA": 1, "sinkB": 0}
    assert read_table(spark, table).count() == n_after_first + 2
    # a compact must not reset the ledger (replay after OPTIMIZE still no-op)
    lh.compact(spark, table)
    m_c = lh.append_commit(spark, table, b1, txn=("sinkA", 1))
    assert m_c["txns"] == {"sinkA": 1, "sinkB": 0}
    assert read_table(spark, table).count() == n_after_first + 2


def test_table_history_and_files_metadata(spark, table):
    """DESCRIBE HISTORY / files-metadata twins: per-version commit kinds
    and audits, and per-file listing with stats — pure manifest metadata."""
    import seccosql_spark.operators.lakehouse as lh

    merge_cow(spark, table,
              spark.createDataFrame([(2, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])
    lh.delete_commit(spark, table, spark.createDataFrame([(3,)], "k BIGINT"), ["k"])
    lh.append_commit(
        spark, table,
        spark.createDataFrame([(9, "b", 90.0)], "k BIGINT, p STRING, v DOUBLE"),
        txn=("s", 0),
    )
    lh.compact(spark, table)
    lh.purge_deletes(spark, table)
    hist = {r.version: r.kind for r in lh.table_history(spark, table).collect()}
    assert hist == {
        0: "create", 1: "merge", 2: "delete", 3: "append",
        4: "compact", 5: "purge_deletes",
    }, hist
    files = lh.table_files(spark, table).collect()
    assert all(r.rows > 0 for r in files)
    assert {r.partition for r in files} == {"a", "b"}
    import json as _json

    assert all("k" in _json.loads(r.stats) for r in files)


def test_zorder_compaction_skips_on_both_dimensions(spark, tmp_path):
    """compact(zorder_by=[k,u]) must leave contents identical AND give
    usable per-file bounds on BOTH columns — a half-range probe on either
    dimension skips files, which a 1-D sort can only do for its own
    column."""
    import seccosql_spark.operators.lakehouse as lh

    grid = [(k, u, "a", float(k * 16 + u)) for k in range(16) for u in range(16)]
    df = spark.createDataFrame(grid, "k BIGINT, u BIGINT, p STRING, v DOUBLE")
    d = str(tmp_path / "tz")
    create_table(df.where("k % 2 = 0"), d, "p")
    lh.append_commit(spark, d, df.where("k % 2 = 1"))  # multi-file partition
    snap = rows(read_table(spark, d))
    m = lh.compact(spark, d, zorder_by=["k", "u"], target_files=4)
    assert rows(read_table(spark, d)) == snap  # layout-only
    assert len(m["files"]) == 4
    _, ak = lh.scan_table(spark, d, "k", 0, 7)
    _, au = lh.scan_table(spark, d, "u", 0, 7)
    assert ak["files_skipped"] >= 1, ak
    assert au["files_skipped"] >= 1, au
    # contents of the probes stay exact
    dfk, _ = lh.scan_table(spark, d, "k", 0, 7)
    assert dfk.count() == 8 * 16
    with pytest.raises(ValueError, match="mutually exclusive"):
        lh.compact(spark, d, sort_by="k", zorder_by=["k", "u"], target_files=2)


def test_cross_type_delete_stats_never_crash_reads(spark, table):
    """A delete whose key batch arrives with a different dtype (string keys
    against a BIGINT column — the anti-join itself casts and works) must
    not make the PRUNING comparison crash every later read; incomparable
    stats are conservatively 'may touch'."""
    import seccosql_spark.operators.lakehouse as lh

    lh.delete_commit(spark, table, spark.createDataFrame([("2",)], "k STRING"), ["k"])
    got = rows(read_table(spark, table))  # must not raise
    assert (2, "a", 20.0) not in got and len(got) == 3
    lh.purge_deletes(spark, table)  # the repair path must not raise either
    assert rows(read_table(spark, table)) == got


def test_clustered_compact_requires_target_files(spark, table):
    """zorder_by/sort_by with the default target_files=1 would silently
    bin-pack one UNSORTED file while the caller believes the table is
    clustered — it must raise instead."""
    import seccosql_spark.operators.lakehouse as lh

    with pytest.raises(ValueError, match="target_files"):
        lh.compact(spark, table, zorder_by=["k", "v"])
    with pytest.raises(ValueError, match="target_files"):
        lh.compact(spark, table, sort_by="k")


def test_manifest_publish_is_content_atomic(spark, table):
    """ADVICE r13 (medium): a listed manifest must always be COMPLETE —
    the publish writes a private temp file, fsyncs, then hard-links it into
    place (atomic + exclusive). After a commit and a losing conflict, no
    temp file remains in _manifests and every listed manifest parses."""
    import json as _json

    import seccosql_spark.operators.lakehouse as lh

    upd = spark.createDataFrame([(7, "a", 70.0)], "k BIGINT, p STRING, v DOUBLE")
    merge_cow(spark, table, upd, ["k"])
    # a loser racing the same version: conflict, and its temp file is gone
    with pytest.raises(lh.CommitConflictError):
        lh._commit_manifest(table, 1, {"version": 1, "files": []})
    mdir = os.path.join(table, "_manifests")
    names = os.listdir(mdir)
    assert not [n for n in names if n.startswith("_tmp_")], names
    for n in names:
        with open(os.path.join(mdir, n)) as f:
            assert _json.load(f)["version"] == int(n[1:6])
    # the winner's manifest content is intact
    assert (7, "a", 70.0) in rows(read_table(spark, table, 1))


def test_scan_cross_type_probe_is_conservative(spark, table):
    """ADVICE r13: a range probe whose bounds are incomparable to a file's
    stored stats (string lo/hi against an int-statted column) must fall
    back to scanning the file, never crash the driver-side pruning."""
    from seccosql_spark.operators.lakehouse import scan_table

    _, audit = scan_table(spark, table, "k", "x", "y")  # must not raise
    assert audit["files_skipped"] == 0
    assert audit["files_scanned"] == audit["files_total"]


def test_month_transform_pinned_to_utc(spark, tmp_path):
    """ADVICE r13: month()/day() over a TIMESTAMP column derive the UTC
    calendar value (Iceberg's definition) — a writer and a later merge
    running under different session timezones must agree on the partition,
    or the merge's touched-partition prune misses rows."""
    from datetime import datetime, timezone

    # instant 2026-03-01 04:00 UTC == 2026-02-28 20:00 America/Los_Angeles:
    # the UTC month (2026-03) and the LA month (2026-02) differ
    inst = datetime(2026, 3, 1, 4, 0, tzinfo=timezone.utc)
    d = str(tmp_path / "t")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        df = spark.createDataFrame([(1, inst, 10.0)], "k BIGINT, ts TIMESTAMP, v DOUBLE")
        m0 = create_table(df, d, "month(ts)")
        assert [f["partition"] for f in m0["files"]] == ["2026-03"]
        # a merge under yet another timezone derives the SAME partition
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        upd = spark.createDataFrame([(1, inst, 99.0)], "k BIGINT, ts TIMESTAMP, v DOUBLE")
        m1 = merge_cow(spark, d, upd, ["k"])
        assert m1["partitions_rewritten"] == 1 and m1["partitions_carried"] == 0
        assert [(r.k, r.v) for r in read_table(spark, d).collect()] == [(1, 99.0)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_version_at_and_timestamp_read(spark, tmp_path):
    """Timestamp time travel: version_at resolves an instant to the
    greatest version committed at or before it; read_table(timestamp=...)
    serves that snapshot; probes before the first commit raise."""
    import seccosql_spark.operators.lakehouse as lh

    d = str(tmp_path / "t")
    with lh.deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
        create_table(
            spark.createDataFrame([(1, "a", 10.0)], "k BIGINT, p STRING, v DOUBLE"),
            d, "p",
        )  # v0 @ 00:00
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 20.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])  # v1 @ 01:00
    assert lh.version_at(d, "2026-01-01T00:00:00") == 0  # inclusive
    assert lh.version_at(d, "2026-01-01T00:59:59") == 0
    assert lh.version_at(d, "2026-01-01T01:00:00") == 1
    assert lh.version_at(d, "2026-06-01T00:00:00Z") == 1
    got = read_table(spark, d, timestamp="2026-01-01T00:30:00").collect()
    assert [(r.k, r.v) for r in got] == [(1, 10.0)]
    with pytest.raises(ValueError, match="earliest kept commit"):
        lh.version_at(d, "2025-12-31T23:59:59")
    with pytest.raises(ValueError, match="at most ONE"):
        read_table(spark, d, 0, timestamp="2026-01-01T00:30:00")


def test_commit_times_monotonic_under_backwards_clock(spark, tmp_path):
    """A wall clock stepping backwards between commits must not produce
    out-of-order committed_at values (version_at would resolve versions
    out of commit order): each commit clamps to prev + 1us."""
    import seccosql_spark.operators.lakehouse as lh

    d = str(tmp_path / "t")
    times = iter(["2026-01-01T05:00:00", "2026-01-01T04:00:00"])
    saved = lh._COMMIT_CLOCK
    lh._COMMIT_CLOCK = lambda: next(times)
    try:
        create_table(
            spark.createDataFrame([(1, "a", 1.0)], "k BIGINT, p STRING, v DOUBLE"),
            d, "p",
        )
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 2.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])
    finally:
        lh._COMMIT_CLOCK = saved
    t0 = lh.read_manifest(d, 0)["committed_at"]
    t1 = lh.read_manifest(d, 1)["committed_at"]
    assert lh._parse_commit_ts(t1) > lh._parse_commit_ts(t0)


def test_restore_table(spark, table):
    """RESTORE: promote an old version to head as a new metadata-only
    commit — v1's files pinned BY REFERENCE, history preserved, txn ledger
    carried from head (replay protection survives the rollback), change
    feed across the restore shows the net un-done rows."""
    import seccosql_spark.operators.lakehouse as lh

    upd = spark.createDataFrame([(2, "a", 99.0), (5, "b", 50.0)],
                                "k BIGINT, p STRING, v DOUBLE")
    lh.append_commit(spark, table, upd, txn=("sink", 7))  # v1
    bad = spark.createDataFrame([(1, "a", -1.0)], "k BIGINT, p STRING, v DOUBLE")
    merge_cow(spark, table, bad, ["k"])  # v2 (the bad commit)
    m3 = lh.restore_table(spark, table, 1)
    assert m3["version"] == 3 and m3["restored_from"] == 1
    m1 = read_manifest(table, 1)
    assert {f["path"] for f in m3["files"]} == {f["path"] for f in m1["files"]}
    assert m3["txns"] == {"sink": 7}  # carried from HEAD, not v1
    assert rows(read_table(spark, table)) == rows(read_table(spark, table, 1))
    assert rows(read_table(spark, table, 2)) != rows(read_table(spark, table, 1))
    hist = {r.version: r.kind for r in lh.table_history(spark, table).collect()}
    assert hist[3] == "restore"
    # CDF across the restore: net = un-apply of the bad merge
    feed = lh.table_changes(spark, table, 2, 3)
    byty = {r["_change_type"]: (r.k, r.v) for r in feed.collect()}
    assert byty == {"insert": (1, 10.0), "delete": (1, -1.0)}
    with pytest.raises(FileNotFoundError):
        lh.restore_table(spark, table, 99)


def test_every_commit_kind_carries_table_metadata(spark, table):
    """Each commit kind's successor manifest keeps its base's table-level
    metadata — partition spec, transform version, CHECK constraints,
    schema, txn ledger and outstanding delete files — except the fields
    that commit kind exists to change. A restore takes them from the
    restored version, but the txn ledger from HEAD."""
    import seccosql_spark.operators.lakehouse as lh

    def batch(rows_):
        return spark.createDataFrame(rows_, "k BIGINT, p STRING, v DOUBLE")

    def carried(m):
        return {
            "partition_by": m["partition_by"],
            "transform_version": m.get("transform_version", 1),
            "constraints": m.get("constraints") or {},
            "schema": m.get("schema"),
            "txns": m.get("txns") or {},
            "delete_files": m.get("delete_files") or [],
        }

    lh.add_constraint(spark, table, "v_pos", "v > 0.0")
    lh.append_commit(spark, table, batch([(5, "a", 50.0)]), txn=("sink", 1))
    start = carried(read_manifest(table))
    assert start["constraints"] == {"v_pos": "v > 0.0"}
    assert start["txns"] == {"sink": 1}
    keys = spark.createDataFrame([(3,)], "k BIGINT")
    steps = [
        ("delete", lambda: lh.delete_commit(spark, table, keys, ["k"]),
         {"delete_files"}),
        ("append", lambda: lh.append_commit(
            spark, table, batch([(6, "b", 60.0)]), txn=("sink", 2)),
         {"txns"}),
        ("compact", lambda: lh.compact(spark, table), set()),
        ("add_constraint",
         lambda: lh.add_constraint(spark, table, "k_pos", "k > 0"),
         {"constraints"}),
        ("drop_constraint", lambda: lh.drop_constraint(table, "k_pos"),
         {"constraints"}),
        ("add_column", lambda: lh.add_column(table, "note", "STRING"),
         {"schema"}),
        ("merge", lambda: merge_cow(spark, table, batch([(2, "a", 25.0)]), ["k"]),
         set()),
        ("purge", lambda: lh.purge_deletes(spark, table), {"delete_files"}),
    ]
    version_after: dict[str, int] = {}
    for kind, commit, changes in steps:
        base = read_manifest(table)
        new = commit()
        assert new == read_manifest(table), kind
        assert new["version"] == base["version"] + 1, kind
        was, now = carried(base), carried(new)
        for field in was:
            if field in changes:
                assert now[field] != was[field], (kind, field)
            else:
                assert now[field] == was[field], (kind, field)
        version_after[kind] = new["version"]
    assert carried(new)["constraints"] == {"v_pos": "v > 0.0"}

    src_v = version_after["delete"]
    head = read_manifest(table)
    src = read_manifest(table, src_v)
    # the restored version differs from HEAD in every field a restore
    # could get wrong: schema (no `note`), delete files and the txn ledger
    for field in ("schema", "delete_files", "txns"):
        assert carried(src)[field] != carried(head)[field], field
    new = lh.restore_table(spark, table, src_v)
    assert carried(new) == {**carried(src), "txns": carried(head)["txns"]}
    assert rows(read_table(spark, table)) == rows(read_table(spark, table, src_v))


def test_merge_hot_partition_multi_file(spark, table):
    """VERDICT r13 task 7: a hot partition's rewrite must not be forced
    into one task — merge_cow(files_per_partition=N) spreads each
    rewritten partition over up to N salted tasks/files, the manifest
    carries them all, and readers union them (contents identical to the
    single-file merge)."""
    upd = spark.createDataFrame(
        [(k, "a", float(k)) for k in range(10, 40)],
        "k BIGINT, p STRING, v DOUBLE",
    )
    m = merge_cow(spark, table, upd, ["k"], files_per_partition=4)
    a_files = [f for f in m["files"] if f["partition"] == "a"]
    assert len(a_files) > 1, a_files  # hot partition spread over >1 file
    assert sum(f["rows"] for f in a_files) == 32  # 2 base + 30 upserts
    got = rows(read_table(spark, table))
    assert len(got) == 34 and (15, "a", 15.0) in got and (3, "b", 30.0) in got
    # a later single-file merge still reads ALL of the multi-file partition
    m2 = merge_cow(
        spark, table,
        spark.createDataFrame([(10, "a", -1.0)], "k BIGINT, p STRING, v DOUBLE"),
        ["k"],
    )
    assert len([f for f in m2["files"] if f["partition"] == "a"]) == 1
    assert len(rows(read_table(spark, table))) == 34


def test_legacy_tables_keep_session_tz_transforms(spark, tmp_path, monkeypatch):
    """Review r14: tables written BEFORE the UTC pin (manifest carries no
    transform_version) derived month()/day() in the writer's session
    timezone — a later merge from the NEW code must keep using that legacy
    derivation for such tables, or its touched-partition prune misses the
    stored partition and duplicates the key."""
    from datetime import datetime, timezone

    import seccosql_spark.operators.lakehouse as lh

    inst = datetime(2026, 3, 1, 4, 0, tzinfo=timezone.utc)  # LA: 2026-02-28
    d = str(tmp_path / "t")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        df = spark.createDataFrame([(1, inst, 10.0)], "k BIGINT, ts TIMESTAMP, v DOUBLE")
        with monkeypatch.context() as mp:
            mp.setattr(lh, "TRANSFORM_VERSION", 1)  # simulate the old writer
            m0 = create_table(df, d, "month(ts)")
        # legacy derivation: the LA month, and the manifest records v1
        assert [f["partition"] for f in m0["files"]] == ["2026-02"]
        assert m0["transform_version"] == 1
        # a merge from the CURRENT code (TRANSFORM_VERSION back to 2) must
        # derive the LEGACY partition for this table and rewrite it
        upd = spark.createDataFrame([(1, inst, 99.0)], "k BIGINT, ts TIMESTAMP, v DOUBLE")
        m1 = merge_cow(spark, d, upd, ["k"])
        assert m1["partitions_rewritten"] == 1 and m1["partitions_carried"] == 0
        assert [f["partition"] for f in m1["files"]] == ["2026-02"]
        assert m1["transform_version"] == 1  # carried forward, forever
        assert [(r.k, r.v) for r in read_table(spark, d).collect()] == [(1, 99.0)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_tags_pin_and_retain_versions(spark, table):
    """Named refs (Iceberg tag twin): a tag pins a version for readers
    (read_table(tag=), LAKE(dir,'name')) and RETAINS it through
    expire_versions past the keep-last horizon; drop the tag and the next
    vacuum expires it. Creation is exclusive unless replace=True."""
    import seccosql_spark.operators.lakehouse as lh

    merge_cow(spark, table,
              spark.createDataFrame([(1, "a", 11.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])  # v1
    merge_cow(spark, table,
              spark.createDataFrame([(1, "a", 12.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])  # v2
    lh.create_tag(table, "baseline", 0)
    lh.create_tag(table, "latest-good")  # defaults to head = v2
    assert lh.list_tags(table) == {"baseline": 0, "latest-good": 2}
    assert rows(read_table(spark, table, tag="baseline")) == rows(
        read_table(spark, table, 0)
    )
    with pytest.raises(ValueError, match="already exists"):
        lh.create_tag(table, "baseline", 1)
    lh.create_tag(table, "baseline", 1, replace=True)
    assert lh.read_tag(table, "baseline") == 1
    with pytest.raises(ValueError, match="tag name"):
        lh.create_tag(table, "no/slashes", 0)
    with pytest.raises(FileNotFoundError):
        lh.create_tag(table, "dangling", 99)  # must pin an existing version
    # VACUUM: keep_last=1 would expire v0 and v1, but v1 is tagged
    rep = lh.expire_versions(table, keep_last=1)
    assert rep["kept_versions"] == [1, 2]
    assert rep["expired_versions"] == [0]
    assert rows(read_table(spark, table, tag="baseline"))  # v1 still readable
    with pytest.raises(FileNotFoundError):
        read_table(spark, table, 0)  # untagged history gone
    # at most one selector
    with pytest.raises(ValueError, match="at most ONE"):
        read_table(spark, table, 1, tag="baseline")
    # drop -> next vacuum expires it
    lh.drop_tag(table, "baseline")
    rep2 = lh.expire_versions(table, keep_last=1)
    assert rep2["expired_versions"] == [1]


def test_lake_sql_tag_resolution(sess, tmp_path):
    """LAKE(dir, '<name>') resolves a named tag; non-tag strings still
    resolve as timestamps (the tag check never shadows a real instant)."""
    import seccosql_spark.operators.lakehouse as lh

    d = str(tmp_path / "t")
    spark = sess.spark
    with lh.deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
        create_table(
            spark.createDataFrame([(1, "a", 10.0)], "k BIGINT, p STRING, v DOUBLE"),
            d, "p",
        )
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 20.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])
    lh.create_tag(d, "v0-audit", 0)
    got = sess.sql(
        f"SELECT (SELECT sum(v) FROM LAKE('{d}', 'v0-audit')) AS tagged, "
        f"       (SELECT sum(v) FROM LAKE('{d}', '2026-01-01T00:30:00')) AS ts, "
        f"       (SELECT sum(v) FROM LAKE('{d}')) AS head"
    ).df.collect()[0]
    assert (got["tagged"], got["ts"], got["head"]) == (10.0, 10.0, 20.0)


# ---------------------------------------------------------------- round 15:
# crash-recovery of the publish path, tag/VACUUM/compaction interplay, and
# the ADVICE-r14 regressions (tmp-named tags, date-named tag shadowing,
# legacy unstamped manifests).


def test_tag_name_with_tmp_marker_fully_supported(spark, table):
    """ADVICE r14 (medium): a tag named like 'audit.tmp-1' used to be
    creatable but INVISIBLE to list_tags (which skipped any filename
    containing '.tmp-'), so VACUUM would not retain its pinned version.
    Resolved suffix-wise in r15: publish temps never end with '.json',
    committed tag files always do — so such names are now first-class:
    created, listed, retained, and dropped like any other."""
    import seccosql_spark.operators.lakehouse as lh

    lh.create_tag(table, "audit.tmp-1", 0)
    assert lh.list_tags(table) == {"audit.tmp-1": 0}
    assert lh.read_tag(table, "audit.tmp-1") == 0
    assert rows(read_table(spark, table, tag="audit.tmp-1")) == rows(
        read_table(spark, table, 0)
    )
    lh.drop_tag(table, "audit.tmp-1")
    assert lh.list_tags(table) == {}


def test_orphan_publish_tmps_ignored_and_swept(spark, table):
    """Crash recovery (VERDICT r14 task 3): a writer that dies after
    creating its publish temp but before the os.link publish leaves an
    orphan tmp. Orphans must be (a) invisible to every committed-state
    reader and (b) swept by expire_versions once old enough — but never
    while younger than the sweep threshold (an in-flight commit)."""
    import seccosql_spark.operators.lakehouse as lh

    head = latest_version(table)
    mdir = os.path.join(table, "_manifests")
    rdir = os.path.join(table, "_refs")
    os.makedirs(rdir, exist_ok=True)
    # simulate two crashed writers: a half-written manifest attempt and a
    # tag attempt (content deliberately NOT valid JSON — nobody may parse it)
    with open(os.path.join(mdir, "_tmp_v00009-deadbeef.json"), "w") as f:
        f.write('{"version": 9, "files": [')
    with open(os.path.join(rdir, "rel.json.tmp-deadbeef"), "w") as f:
        f.write('{"name": "rel"')
    # (a) invisible everywhere
    assert latest_version(table) == head
    assert lh.list_tags(table) == {}
    assert read_table(spark, table).count() == 4
    # (b) a young tmp survives the default 1h threshold...
    rep = lh.expire_versions(table, keep_last=10)
    assert rep["tmps_swept"] == 0
    assert os.path.exists(os.path.join(mdir, "_tmp_v00009-deadbeef.json"))
    # ...and is swept once past the threshold
    rep = lh.expire_versions(table, keep_last=10, sweep_tmps_older_than=0.0)
    assert rep["tmps_swept"] == 2
    assert not os.path.exists(os.path.join(mdir, "_tmp_v00009-deadbeef.json"))
    assert not os.path.exists(os.path.join(rdir, "rel.json.tmp-deadbeef"))
    # the table is fully intact after the sweep
    assert read_table(spark, table).count() == 4


def test_expire_crash_never_leaves_half_readable_snapshot(
    spark, table, monkeypatch
):
    """Crash recovery (VERDICT r14 task 3): expire_versions deletes expired
    MANIFESTS strictly before any data file. A crash between the two
    phases (here: the first data-file unlink raises) must leave every
    still-listed manifest fully readable — a reader racing the vacuum sees
    either a clean missing-manifest error or a complete snapshot, never a
    manifest pointing at deleted files."""
    import seccosql_spark.operators.lakehouse as lh

    merge_cow(spark, table,
              spark.createDataFrame([(1, "a", 99.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])  # v1: rewrites partition a -> v0's a-file becomes expirable
    real_remove = os.remove
    state = {"manifests_removed": 0}

    def crashy_remove(path):
        if "_manifests" in path:
            state["manifests_removed"] += 1
            return real_remove(path)
        raise OSError(f"injected crash before data-file unlink: {path}")

    monkeypatch.setattr(lh.os, "remove", crashy_remove)
    with pytest.raises(OSError, match="injected crash"):
        lh.expire_versions(table, keep_last=1)
    monkeypatch.setattr(lh.os, "remove", real_remove)
    # the expired manifest is gone (phase 1 completed for it)...
    assert state["manifests_removed"] == 1
    with pytest.raises(FileNotFoundError):
        read_manifest(table, 0)
    # ...and EVERY remaining manifest's files all still exist on disk
    for v in [latest_version(table)]:
        m = read_manifest(table, v)
        for entry in list(m["files"]) + list(m.get("delete_files") or []):
            assert os.path.exists(os.path.join(table, entry["path"])), entry
    # the head snapshot is fully readable, and a retry completes the vacuum
    assert rows(read_table(spark, table)) == rows(read_table(spark, table, 1))
    rep = lh.expire_versions(table, keep_last=1)
    assert rep["expired_versions"] == []  # manifest already gone
    assert read_table(spark, table).count() == 4


def test_tag_compact_expire_read_by_tag(spark, table):
    """VERDICT r14 task 6: tag a version, COMPACT the table (new head with
    rewritten files), then VACUUM — the files the tagged manifest
    references must survive expiry even though the head no longer lists
    them, and the tag read must serve the exact pre-compaction snapshot."""
    import seccosql_spark.operators.lakehouse as lh
    from seccosql_spark.operators.lakehouse import append_commit, compact

    # v1: second file in each partition so compaction has work to do
    append_commit(spark, table, spark.createDataFrame(
        [(5, "a", 50.0), (6, "b", 60.0)], "k BIGINT, p STRING, v DOUBLE"
    ))
    lh.create_tag(table, "pre-compact")  # pins v1
    want = rows(read_table(spark, table, tag="pre-compact"))
    rep_c = compact(spark, table)  # v2: a and b each rewritten to one file
    assert rep_c["partitions_compacted"] == 2
    v1_files = {f["path"] for f in read_manifest(table, 1)["files"]}
    v2_files = {f["path"] for f in read_manifest(table, 2)["files"]}
    assert v1_files - v2_files  # compaction really retired v1 files from head
    # VACUUM with keep_last=1: v1 is tagged -> retained; v0 expires
    rep = lh.expire_versions(table, keep_last=1)
    assert rep["kept_versions"] == [1, 2]
    assert rep["expired_versions"] == [0]
    for rel in v1_files:
        assert os.path.exists(os.path.join(table, rel)), rel
    assert rows(read_table(spark, table, tag="pre-compact")) == want
    # drop the tag -> the next vacuum retires v1 and its unshared files
    lh.drop_tag(table, "pre-compact")
    lh.expire_versions(table, keep_last=1)
    with pytest.raises(FileNotFoundError):
        read_table(spark, table, 1)
    # head still complete
    assert rows(read_table(spark, table)) == want


def test_version_at_tolerates_older_unstamped_manifests(spark, tmp_path):
    """ADVICE r14: a pre-pin table that later gained stamped commits can
    use timestamp travel as long as the probe resolves to a stamped
    version ABOVE every unstamped one (stamps are monotonic in version,
    so the unstamped ones cannot be the answer). Probes that could land
    on an unstamped version still raise."""
    import json as _json

    import seccosql_spark.operators.lakehouse as lh

    d = str(tmp_path / "t")
    with lh.deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
        create_table(
            spark.createDataFrame([(1, "a", 10.0)], "k BIGINT, p STRING, v DOUBLE"),
            d, "p",
        )  # v0 @ 00:00
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 20.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])  # v1 @ 01:00
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 30.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])  # v2 @ 02:00

    def strip_stamp(version):
        p = os.path.join(d, "_manifests", f"v{version:05d}.json")
        with open(p) as f:
            m = _json.load(f)
        del m["committed_at"]
        with open(p, "w") as f:
            _json.dump(m, f)

    strip_stamp(0)  # legacy pre-pin v0
    # probe resolves to v1/v2 -> the unstamped v0 is provably not the answer
    assert lh.version_at(d, "2026-01-01T01:30:00") == 1
    assert lh.version_at(d, "2026-01-01T02:00:00") == 2
    got = read_table(spark, d, timestamp="2026-01-01T01:30:00").collect()
    assert [(r.k, r.v) for r in got] == [(1, 20.0)]
    # probe BEFORE all stamped commits could only mean the legacy v0 -> raise
    with pytest.raises(ValueError, match="pin a version"):
        lh.version_at(d, "2026-01-01T00:30:00")
    # an unstamped manifest AT/ABOVE the candidate is ambiguous -> raise
    strip_stamp(2)
    with pytest.raises(ValueError, match="unambiguously"):
        lh.version_at(d, "2026-01-01T01:30:00")
    # ...but probes the stamped head still dominates are unaffected? No —
    # v2 unstamped sits above ANY stamped candidate, so all probes raise
    with pytest.raises(ValueError, match="unambiguously"):
        lh.version_at(d, "2026-06-01T00:00:00")


def test_lake_timestamp_precedence_over_date_named_tag(sess, tmp_path):
    """ADVICE r14: a tag NAMED like a date ('2026-01-01' is a legal tag
    name AND a valid ISO instant) must not shadow TIMESTAMP AS OF travel:
    LAKE resolves parseable instants as timestamps first; the date-named
    tag stays reachable via the Python read_table(tag=...) verb. A string
    that is neither raises the combined error."""
    import seccosql_spark.operators.lakehouse as lh

    d = str(tmp_path / "t")
    spark = sess.spark
    with lh.deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
        create_table(
            spark.createDataFrame([(1, "a", 10.0)], "k BIGINT, p STRING, v DOUBLE"),
            d, "p",
        )  # v0 @ 2026-01-01T00:00
        merge_cow(spark, d,
                  spark.createDataFrame([(1, "a", 20.0)], "k BIGINT, p STRING, v DOUBLE"),
                  ["k"])  # v1 @ 01:00
    lh.create_tag(d, "2026-06-01", 1)  # date-named tag pinning the HEAD
    got = sess.sql(
        f"SELECT (SELECT sum(v) FROM LAKE('{d}', '2026-06-01')) AS probe"
    ).df.collect()[0]
    # timestamp semantics win: snapshot live at 2026-06-01 is v1 (20.0) —
    # which here AGREES with the tag; the discriminating probe is a
    # date-named tag pointing somewhere a timestamp read would NOT:
    assert got["probe"] == 20.0
    lh.create_tag(d, "2026-01-01", 1)  # tag says v1; timestamp says v0
    got = sess.sql(
        f"SELECT (SELECT sum(v) FROM LAKE('{d}', '2026-01-01')) AS probe"
    ).df.collect()[0]
    assert got["probe"] == 10.0  # TIMESTAMP AS OF, not the tag
    # the shadowed tag remains reachable via the Python verb
    assert lh.read_tag(d, "2026-01-01") == 1
    got = read_table(spark, d, tag="2026-01-01").collect()
    assert [(r.k, r.v) for r in got] == [(1, 20.0)]
    # neither a timestamp nor a tag -> clear combined error
    with pytest.raises(Exception, match="neither"):
        sess.sql(f"SELECT * FROM LAKE('{d}', 'no-such-ref')").df.collect()


def test_stats_collection_tolerates_unextractable_types(spark, tmp_path):
    """pyarrow raises ArrowNotImplementedError from Statistics.min for
    physical types it cannot cast (DECIMAL among them) — the manifest stats
    collector must degrade to 'no stats entry' (conservative: never
    skipped), not crash the commit. Surfaced by INSERT INTO LAKE() of an
    unannotated 21.0 literal (Spark types it DECIMAL(3,1))."""
    from decimal import Decimal

    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", Decimal("1.5")), (2, "b", Decimal("2.5"))],
        "k BIGINT, p STRING, v DECIMAL(3,1)",
    )
    create_table(df, d, "p")
    m = read_manifest(d)
    for f in m["files"]:
        assert "v" not in f.get("stats", {})  # dropped, not crashed
        assert "k" in f.get("stats", {})      # ordinary columns keep stats
    assert read_table(spark, d).count() == 2


def test_orphan_data_sweep_reclaims_crashed_writer_garbage(spark, table):
    """Review r15: beyond publish temps, a crashed writer leaves (a)
    in-flight _tmp_* write DIRECTORIES and (b) finalized data files no
    manifest references. The opt-in sweep_orphan_data pass reclaims both —
    age-gated, never touching live files — while the default vacuum path
    keeps its O(manifest-entries) contract and leaves them alone."""
    import seccosql_spark.operators.lakehouse as lh

    # (a) staged write dirs: root-level partitionBy staging + delete staging
    os.makedirs(os.path.join(table, "_tmp_v00009-deadbeef", "p=a"))
    os.makedirs(os.path.join(table, "deletes", "_tmp_d00009-deadbeef"))
    # (b) a finalized-but-unreferenced data file next to live ones
    part_dir = os.path.dirname(
        os.path.join(table, read_manifest(table)["files"][0]["path"])
    )
    orphan = os.path.join(part_dir, "v00009-deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    # default path: data/ is never listed -> everything left in place
    rep = lh.expire_versions(table, keep_last=10)
    assert "orphan_files_swept" not in rep
    assert os.path.exists(orphan)
    # opt-in pass with age gate 0: all three reclaimed, live files intact
    rep = lh.expire_versions(
        table, keep_last=10, sweep_tmps_older_than=0.0,
        sweep_orphan_data=True, sweep_orphan_data_older_than=0.0,
    )
    assert rep["orphan_dirs_swept"] == 2
    assert rep["orphan_files_swept"] == 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(table, "_tmp_v00009-deadbeef"))
    assert read_table(spark, table).count() == 4
    # idempotent: nothing left to sweep
    rep = lh.expire_versions(
        table, keep_last=10, sweep_tmps_older_than=0.0,
        sweep_orphan_data=True, sweep_orphan_data_older_than=0.0,
    )
    assert (rep["orphan_dirs_swept"], rep["orphan_files_swept"]) == (0, 0)


def test_legacy_tmp_named_tag_visible_retained_droppable(spark, table):
    """Review r15: a tag FILE named with '.tmp-' (creatable before the r15
    name guard) is committed state — list_tags must show it (so VACUUM
    retains its pinned version), the always-on temp sweep must never
    delete it, and drop_tag must remove it like any other tag."""
    import json as _json

    import seccosql_spark.operators.lakehouse as lh

    merge_cow(spark, table,
              spark.createDataFrame([(1, "a", 11.0)], "k BIGINT, p STRING, v DOUBLE"),
              ["k"])  # v1
    # simulate the pre-guard tag directly on disk
    rdir = os.path.join(table, "_refs")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, "audit.tmp-1.json"), "w") as f:
        _json.dump({"name": "audit.tmp-1", "version": 0}, f)
    assert lh.list_tags(table) == {"audit.tmp-1": 0}
    # VACUUM retains the pinned version and the sweep leaves the file alone
    rep = lh.expire_versions(table, keep_last=1, sweep_tmps_older_than=0.0)
    assert 0 in rep["kept_versions"]
    assert os.path.exists(os.path.join(rdir, "audit.tmp-1.json"))
    assert rows(read_table(spark, table, tag="audit.tmp-1"))  # readable
    # droppable like any other tag
    lh.drop_tag(table, "audit.tmp-1")
    assert lh.list_tags(table) == {}
    rep = lh.expire_versions(table, keep_last=1)
    assert rep["expired_versions"] == [0]


def test_orphan_data_sweep_spares_active_staging(spark, table, tmp_path):
    """Review r15: a staging dir whose top-level mtime is old but whose
    LEAVES are fresh is an in-progress write (Spark tasks write into
    nested subdirs without touching the top dir) — the sweep must age a
    directory by its newest entry and leave it alone."""
    import seccosql_spark.operators.lakehouse as lh

    staging = os.path.join(table, "_tmp_v00009-feedface")
    os.makedirs(os.path.join(staging, "p=a"))
    leaf = os.path.join(staging, "p=a", "part-0.parquet")
    with open(leaf, "wb") as f:
        f.write(b"in-flight")
    # top dir looks ancient; the leaf write is recent
    os.utime(staging, (0, 0))
    rep = lh.expire_versions(
        table, keep_last=10, sweep_orphan_data=True,
        sweep_orphan_data_older_than=1800.0,
    )
    assert rep["orphan_dirs_swept"] == 0
    assert os.path.exists(leaf)
    # once the whole tree is old, it goes
    os.utime(leaf, (0, 0))
    os.utime(os.path.join(staging, "p=a"), (0, 0))
    rep = lh.expire_versions(
        table, keep_last=10, sweep_orphan_data=True,
        sweep_orphan_data_older_than=1800.0,
    )
    assert rep["orphan_dirs_swept"] == 1
    assert not os.path.exists(staging)


def test_schema_check_ignores_nested_nullability(spark, tmp_path):
    """Review r15: Spark DataType equality includes ArrayType.containsNull
    and nested StructField.nullable — a batch built from literals
    legitimately differs there from a schema recorded off a read, and
    parquet reconciles it fine. Only genuine TYPE changes reject."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", ["x", "y"])], "k BIGINT, p STRING, tags ARRAY<STRING>"
    )
    create_table(base, d, "p")
    # containsNull=false batch (array of non-null literals) must land
    from seccosql_spark.operators.lakehouse import append_commit

    batch = spark.range(1).select(
        F.lit(2).cast("bigint").alias("k"), F.lit("a").alias("p"),
        F.array(F.lit("z")).alias("tags"),
    )
    assert batch.schema["tags"].dataType.containsNull is False
    append_commit(spark, d, batch)  # must not raise
    assert read_table(spark, d).count() == 2
    # a genuine element-type change still rejects
    bad = spark.range(1).select(
        F.lit(3).cast("bigint").alias("k"), F.lit("a").alias("p"),
        F.array(F.lit(1)).alias("tags"),
    )
    with pytest.raises(ValueError, match="incompatible"):
        append_commit(spark, d, bad)
