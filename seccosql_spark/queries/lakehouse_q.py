"""Lakehouse copy-on-write MERGE rows (VERDICT r11 task 7): the
architectural gap these close is the STORAGE side of the reference's
``UnionByUpdate`` (binaryOperators.scala:155-171). The engine verb upserts a
dataset; a 100 TB pipeline upserts a TABLE, and what makes that affordable
is copy-on-write over partitioned immutable files: rewrite only the touched
partitions, carry the rest by reference, commit an atomic manifest, keep
old versions readable (time travel). ``operators/lakehouse.py`` implements
the mechanics; these rows prove them against a DuckDB oracle that replays
the merges logically from the raw table.

Build-once discipline: the versioned table (v0 create + v1 upsert/delete
merge + v2 second merge) is built per corpus file through
``operators.artifact.build_once`` — sweeps and repeat verifications pay one
build, then every probe is pure manifest-pinned reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from seccosql_spark.operators.lakehouse import (
    DELETE_COL,
    append_commit,
    compact,
    create_table,
    merge_cow,
    read_manifest,
    read_table,
)
from seccosql_spark.registration import register
from seccosql_spark.session import SeccoSession

# Deterministic, engine-portable batch predicates (same text runs in Spark
# and DuckDB). Batch 1 touches 1-URGENT + 3-MEDIUM; batch 2 touches 2-HIGH
# + 5-LOW; 4-NOT SPECIFIED is never touched. Delete keys exclude upsert
# keys so each batch is key-unique.
U1 = "o_orderkey % 97 = 0 AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')"
D1 = (
    "o_orderkey % 997 = 0 AND o_orderkey % 97 <> 0 "
    "AND o_orderpriority = '1-URGENT'"
)
U2 = "o_orderkey % 203 = 0 AND o_orderpriority = '2-HIGH'"
D2 = "o_orderkey % 501 = 0 AND o_orderpriority = '5-LOW'"
# Append batches (v3, v4): blind inserts restricted to two partitions; key
# offsets keep them disjoint from the base and from the merge inserts.
A1 = "o_orderkey % 301 = 0 AND o_orderpriority IN ('1-URGENT', '5-LOW')"
A2 = "o_orderkey % 401 = 0 AND o_orderpriority IN ('1-URGENT', '5-LOW')"

_CENTS_SPARK = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


def _flag(df: DataFrame, deleted: bool) -> DataFrame:
    return df.withColumn(DELETE_COL, F.lit(deleted))


def _batches(spark) -> tuple[DataFrame, DataFrame]:
    ords = spark.table("orders")
    upd1 = ords.where(U1).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    ins1 = ords.where(U1).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    ).withColumn("o_orderstatus", F.lit("N"))
    del1 = ords.where(D1)
    batch1 = _flag(upd1, False).unionByName(_flag(ins1, False)).unionByName(
        _flag(del1, True)
    )
    upd2 = ords.where(U2).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
    )
    del2 = ords.where(D2)
    batch2 = _flag(upd2, False).unionByName(_flag(del2, True))
    return batch1, batch2


def _versioned_table(sess: SeccoSession) -> str:
    """The v0..v2 table directory for this corpus (built once per source
    file + module code)."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import deterministic_commit_clock

        table = os.path.join(d, "table")
        # logical commit clock: vN lands at 2026-01-01T0N:00 UTC, making
        # `committed_at` byte-stable across runs — which is what lets the
        # TIMESTAMP-based time-travel row state its probes in the oracle
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(ords, table, "o_orderpriority")
            b1, b2 = _batches(spark)
            merge_cow(spark, table, b1, ["o_orderkey"])   # v1
            merge_cow(spark, table, b2, ["o_orderkey"])   # v2
            # v3/v4: blind appends (streaming micro-batch shape), v5: OPTIMIZE
            append_commit(
                spark, table,
                ords.where(A1).withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
                ),
            )
            append_commit(
                spark, table,
                ords.where(A2).withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(30_000_000)
                ),
            )
            compact(spark, table)

    return os.path.join(
        build_once("secco_lakehouse", (src,), _build, code=(_self, _ops)),
        "table",
    )


def _version_report(sess: SeccoSession, versions: list[int]) -> DataFrame:
    """One output row per manifest version: row count + exact cents sum of
    the snapshot, plus the commit's copy-on-write audit (how many
    partitions the commit rewrote vs carried by reference). Pure
    manifest-pinned file reads + one aggregation each — no joins."""
    table = _versioned_table(sess)
    spark = sess.spark
    out = None
    for v in versions:
        m = read_manifest(table, v)
        rewritten = m.get("partitions_rewritten", len(m["files"]))
        carried = m.get("partitions_carried", 0)
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn("parts_rewritten", F.lit(rewritten).cast("int"))
            .withColumn("parts_carried", F.lit(carried).cast("int"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


_CENTS_P = "CAST(floor(p * 100 + 0.5) AS BIGINT)"

_REPLAY = f"""
u1 AS (SELECT o_orderkey, o_totalprice + 1000.0 AS p, o_orderpriority
       FROM orders WHERE {U1}),
i1 AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice AS p,
              o_orderpriority
       FROM orders WHERE {U1}),
f1 AS (
  SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders
  WHERE NOT ({U1}) AND NOT ({D1})
  UNION ALL SELECT * FROM u1
  UNION ALL SELECT * FROM i1
),
f2 AS (
  SELECT o_orderkey, p, o_orderpriority FROM f1
  WHERE NOT ({U2}) AND NOT ({D2})
  UNION ALL
  SELECT o_orderkey, p + 500.0, o_orderpriority FROM f1 WHERE {U2}
),
a1 AS (SELECT o_orderkey + 20000000 AS o_orderkey, o_totalprice AS p,
              o_orderpriority
       FROM orders WHERE {A1}),
a2 AS (SELECT o_orderkey + 30000000 AS o_orderkey, o_totalprice AS p,
              o_orderpriority
       FROM orders WHERE {A2}),
f3 AS (SELECT * FROM f2 UNION ALL SELECT * FROM a1),
f4 AS (SELECT * FROM f3 UNION ALL SELECT * FROM a2)
"""

MERGE_COW_ORACLE = f"""
WITH {_REPLAY},
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
touched1 AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
             WHERE ({U1}) OR ({D1}))
SELECT CAST(0 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents,
       CAST((SELECT c FROM nparts) AS INTEGER) AS parts_rewritten,
       CAST(0 AS INTEGER) AS parts_carried
FROM orders
UNION ALL
SELECT CAST(1 AS INTEGER),
       CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT),
       CAST((SELECT c FROM touched1) AS INTEGER),
       CAST((SELECT c FROM nparts) - (SELECT c FROM touched1) AS INTEGER)
FROM f1
"""


@register("lakehouse_merge_cow", MERGE_COW_ORACLE, headline=True)
def lakehouse_merge_cow(sess: SeccoSession):
    """Copy-on-write MERGE commit audit: v0 (every partition written) and
    v1 (upsert + CDC-delete batch — the manifest must show exactly the
    batch's touched-partition count rewritten, the rest carried by
    reference, and the snapshot contents must equal the oracle's logical
    replay). At sf0.01+ the batch touches 2 of 5 partitions."""
    return _version_report(sess, [0, 1])


TIME_TRAVEL_ORACLE = f"""
WITH {_REPLAY}
SELECT CAST(0 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents
FROM orders
UNION ALL
SELECT CAST(1 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f1
UNION ALL
SELECT CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f2
"""


@register("lakehouse_time_travel", TIME_TRAVEL_ORACLE)
def lakehouse_time_travel(sess: SeccoSession):
    """Snapshot isolation: AFTER two commits, manifest-pinned reads of v0,
    v1, and v2 must each still return that version's exact contents —
    immutable data files + versioned manifests are what make concurrent
    readers safe under writers at 100 TB."""
    table = _versioned_table(sess)
    spark = sess.spark
    out = None
    for v in (0, 1, 2):
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


APPEND_COMPACT_ORACLE = f"""
WITH {_REPLAY},
npart AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
n_a1 AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {A1}),
n_a2 AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {A2})
SELECT CAST(2 AS INTEGER) AS version,
       CAST((SELECT c FROM npart) AS INTEGER) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents
FROM f2
UNION ALL
SELECT CAST(3 AS INTEGER),
       CAST((SELECT c FROM npart) + (SELECT c FROM n_a1) AS INTEGER),
       CAST(count(*) AS BIGINT), CAST(sum({_CENTS_P}) AS BIGINT) FROM f3
UNION ALL
SELECT CAST(4 AS INTEGER),
       CAST((SELECT c FROM npart) + (SELECT c FROM n_a1)
            + (SELECT c FROM n_a2) AS INTEGER),
       CAST(count(*) AS BIGINT), CAST(sum({_CENTS_P}) AS BIGINT) FROM f4
UNION ALL
SELECT CAST(5 AS INTEGER), CAST((SELECT c FROM npart) AS INTEGER),
       CAST(count(*) AS BIGINT), CAST(sum({_CENTS_P}) AS BIGINT) FROM f4
"""


@register("lakehouse_append_compact", APPEND_COMPACT_ORACLE)
def lakehouse_append_compact(sess: SeccoSession):
    """Append/compact lifecycle: two blind-append commits (the streaming
    micro-batch landing shape — one new file per touched partition, zero
    reads) accumulate small files; the OPTIMIZE commit bin-packs every
    multi-file partition back to one file while the CONTENTS stay
    bit-identical (v5 row count + cents must equal v4's). File-count
    discipline is what keeps scan task counts flat under a steady append
    stream at 100 TB."""
    table = _versioned_table(sess)
    spark = sess.spark
    out = None
    for v in (2, 3, 4, 5):
        m = read_manifest(table, v)
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn("n_files", F.lit(len(m["files"])).cast("int"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


STREAM_INGEST_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
         AS total_value,
       CAST((SELECT count(DISTINCT event_type) FROM events) AS INTEGER)
         AS n_files_final
FROM events
GROUP BY event_type
"""


def _streamed_table(sess: SeccoSession) -> str:
    """Streaming micro-batches landing in the lakehouse (built once per
    corpus): the events table is staged as 4 deterministic files
    (event_id % 4 buckets), drained as a file-source stream with
    maxFilesPerTrigger=1 so each file is its own micro-batch, each batch
    lands as a blind ``append_commit`` (zero reads — the cheap streaming
    sink), and a final ``compact`` bin-packs the accumulated small files
    back to one per partition. Contents are batch-order-independent by
    construction (append commutes), so the final snapshot equals the batch
    GROUP BY oracle exactly."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    events = spark.table("events")
    src = sorted(events.inputFiles())[0]

    def _build(d: str) -> None:
        staged = os.path.join(d, "staged")
        os.makedirs(staged, exist_ok=True)
        slim = events.select("event_id", "event_type", "value")
        for b in range(4):
            tmp = os.path.join(d, f"_stage_tmp_{b}")
            slim.where(F.col("event_id") % 4 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.replace(os.path.join(tmp, part), os.path.join(staged, f"b{b}.parquet"))

        table = os.path.join(d, "table")
        create_table(slim.limit(0), table, "event_type")  # empty v0

        stream = (
            spark.readStream.schema("event_id LONG, event_type STRING, value DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )

        def _land(batch, batch_id) -> None:
            if batch.isEmpty():
                return
            # txn = (sink id, batch_id): a micro-batch REPLAYED after a
            # failure (foreachBatch's at-least-once contract) becomes a
            # no-op instead of double-landing rows — the exactly-once sink
            append_commit(
                batch.sparkSession, table, batch, txn=("ingest", batch_id)
            )

        q = (
            stream.writeStream.foreachBatch(_land)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        m = compact(spark, table)
        # the small-files story must actually have happened: >=2 micro-
        # batches hit at least one partition, so compaction did real work
        if m.get("partitions_compacted", 0) < 1:
            raise RuntimeError(
                "stream ingest produced no multi-file partition — "
                f"micro-batching did not split as staged ({m})"
            )

    return os.path.join(
        build_once("secco_stream_lake", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("stream_lakehouse_ingest", STREAM_INGEST_ORACLE)
def stream_lakehouse_ingest(sess: SeccoSession):
    """Streaming ingestion into the lakehouse: 4 real micro-batches (file
    stream + availableNow) land as blind appends, OPTIMIZE compacts, and
    the final snapshot must equal the batch GROUP BY — the end-to-end
    streaming->storage story (Kafka-less twin of the production landing
    path)."""
    table = _streamed_table(sess)
    spark = sess.spark
    from seccosql_spark.operators.lakehouse import read_manifest as _rm

    m = _rm(table)
    return (
        read_table(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(round(value, 6) AS DECIMAL(18,6))"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("n_files_final", F.lit(len(m["files"])).cast("int"))
    )


# Schema-evolution batch: appended rows carry a NEW column the base files
# never had; key offset keeps them disjoint from every other lineage.
EV = "o_orderkey % 173 = 0"

SCHEMA_EVOLUTION_ORACLE = f"""
WITH evolved AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_channel
  FROM orders
  UNION ALL
  SELECT o_orderkey + 40000000, o_orderpriority, o_totalprice,
         CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
  FROM orders WHERE {EV}
)
SELECT coalesce(o_channel, '(legacy)') AS channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents
FROM evolved
GROUP BY coalesce(o_channel, '(legacy)')
"""


def _evolved_table(sess: SeccoSession) -> str:
    """Additive schema evolution without history rewrite: v0 files lack
    ``o_channel``; the v1 append introduces it; the snapshot read
    uses the manifest's schema, so legacy rows serve NULL. The alternative —
    rewriting every historical file to add the column — is exactly the
    O(table) cost this avoids at 100 TB."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]
    slim = ords.select("o_orderkey", "o_orderpriority", "o_totalprice")

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(slim, table, "o_orderpriority")
        append_commit(
            spark, table,
            slim.where(EV)
            .withColumn(
                "o_channel",
                F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END"),
            )
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(40_000_000)),
        )

    return os.path.join(
        build_once("secco_lakehouse_evo", (src,), _build, code=(_self, _ops)),
        "table",
    )


EXPIRE_ORACLE = f"""
WITH {_REPLAY},
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
t1 AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
       WHERE ({U1}) OR ({D1})),
t2 AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
       WHERE ({U2}) OR ({D2}))
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST((SELECT c FROM t1) + (SELECT c FROM t2) AS INTEGER)
         AS files_deleted,
       CAST((SELECT c FROM nparts) AS INTEGER) AS files_live,
       CAST(2 AS INTEGER) AS expired_versions
FROM f2
"""


def _vacuumed_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create + v1/v2 merges, then ``expire_versions(keep_last=1)`` —
    a SEPARATE artifact from ``_versioned_table`` because vacuum mutates
    the table directory (the shared time-travel fixture must stay fully
    versioned). Every merge rewrite orphans exactly its predecessor file,
    so the oracle can predict files_deleted = |touched1| + |touched2| and
    files_live = partition count, making the vacuum's file accounting —
    not just the surviving snapshot — hash-verified."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import expire_versions

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(ords, table, "o_orderpriority")
        b1, b2 = _batches(spark)
        merge_cow(spark, table, b1, ["o_orderkey"])   # v1
        merge_cow(spark, table, b2, ["o_orderkey"])   # v2
        stats = expire_versions(table, keep_last=1)
        with open(os.path.join(d, "vacuum_stats.json"), "w") as f:
            _json.dump(stats, f)

    d = build_once("secco_lakehouse_vac", (src,), _build, code=(_self, _ops))
    with open(os.path.join(d, "vacuum_stats.json")) as f:
        stats = _json.load(f)
    return os.path.join(d, "table"), stats


@register("lakehouse_expire_versions", EXPIRE_ORACLE)
def lakehouse_expire_versions(sess: SeccoSession):
    """VACUUM lifecycle: after expiring all but the latest version, the
    surviving snapshot must still equal the oracle's logical replay of both
    merges, exactly |touched_v1| + |touched_v2| orphaned files must have
    been deleted, and one live file per partition must remain — unbounded
    COW history is the storage cost this lifecycle step caps at 100 TB."""
    table, stats = _vacuumed_table(sess)
    return (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
        .withColumn("files_deleted", F.lit(stats["files_deleted"]).cast("int"))
        .withColumn("files_live", F.lit(stats["files_live"]).cast("int"))
        .withColumn(
            "expired_versions", F.lit(len(stats["expired_versions"])).cast("int")
        )
    )


# MERGE-path evolution batch: upserts carrying a NEW column land on legacy
# partitions; inserts get fresh keys so the replay stays set-exact.
EVM = "o_orderkey % 193 = 0 AND o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')"

MERGE_EVOLUTION_ORACLE = f"""
WITH ch AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END AS o_channel
  FROM orders WHERE {EVM}
),
merged AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_channel
  FROM orders WHERE NOT ({EVM})
  UNION ALL
  SELECT o_orderkey, o_orderpriority, o_totalprice + 250.0, o_channel FROM ch
  UNION ALL
  SELECT o_orderkey + 50000000, o_orderpriority, o_totalprice, o_channel FROM ch
),
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
touched AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {EVM})
SELECT coalesce(o_channel, '(legacy)') AS channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents,
       CAST((SELECT c FROM touched) AS INTEGER) AS parts_rewritten,
       CAST((SELECT c FROM nparts) - (SELECT c FROM touched) AS INTEGER)
         AS parts_carried
FROM merged
GROUP BY coalesce(o_channel, '(legacy)')
"""


def _merge_evolved_table(sess: SeccoSession) -> str:
    """v0 files lack ``o_channel``; the v1 MERGE batch introduces it while
    upserting into legacy partitions (VERDICT r12 task 5): untouched
    partitions carry by reference, touched partitions rewrite with base
    rows NULL-filling the new column — the O(touched) evolution path the
    APPEND row already proves, now on the rewrite path."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]
    slim = ords.select("o_orderkey", "o_orderpriority", "o_totalprice")

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(slim, table, "o_orderpriority")
        ch = slim.where(EVM).withColumn(
            "o_channel",
            F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END"),
        )
        batch = ch.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(250.0)
        ).unionByName(
            ch.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(50_000_000))
        )
        merge_cow(spark, table, batch, ["o_orderkey"])

    return os.path.join(
        build_once("secco_lakehouse_mevo", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("lakehouse_merge_evolution", MERGE_EVOLUTION_ORACLE)
def lakehouse_merge_evolution(sess: SeccoSession):
    """Schema evolution on the MERGE path: an upsert batch carrying a NEW
    column rewrites only its touched partitions (manifest audit proves the
    carry-by-reference), legacy rows serve NULL through the schema-pinned
    read, and grouped totals must equal the oracle's logical replay."""
    table = _merge_evolved_table(sess)
    m = read_manifest(table, 1)
    return (
        read_table(sess.spark, table)
        .groupBy(F.coalesce(F.col("o_channel"), F.lit("(legacy)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
        .withColumn(
            "parts_rewritten", F.lit(m["partitions_rewritten"]).cast("int")
        )
        .withColumn("parts_carried", F.lit(m["partitions_carried"]).cast("int"))
    )


@register("lakehouse_schema_evolution", SCHEMA_EVOLUTION_ORACLE)
def lakehouse_schema_evolution(sess: SeccoSession):
    """Additive column evolution: the appended batch introduces
    ``o_channel``; legacy files are NOT rewritten and serve NULL through
    the schema-pinned snapshot read — grouped totals must equal the logical
    replay (legacy rows in the '(legacy)' bucket)."""
    table = _evolved_table(sess)
    return (
        read_table(sess.spark, table)
        .groupBy(F.coalesce(F.col("o_channel"), F.lit("(legacy)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )


FILE_SKIPPING_ORACLE = f"""
WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
bk AS (
  SELECT o_orderpriority, o_totalprice, o_orderkey,
         CASE WHEN o_orderkey <= ((SELECT m FROM mx) * 1) // 4 THEN 0
              WHEN o_orderkey <= ((SELECT m FROM mx) * 2) // 4 THEN 1
              WHEN o_orderkey <= ((SELECT m FROM mx) * 3) // 4 THEN 2
              ELSE 3 END AS b
  FROM orders
),
ft AS (SELECT count(*) AS c
       FROM (SELECT DISTINCT b, o_orderpriority FROM bk)),
fs AS (SELECT count(DISTINCT o_orderpriority) AS c FROM bk WHERE b = 2)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents,
       CAST((SELECT c FROM ft) AS INTEGER) AS files_total,
       CAST((SELECT c FROM fs) AS INTEGER) AS files_scanned,
       CAST((SELECT c FROM ft) - (SELECT c FROM fs) AS INTEGER)
         AS files_skipped
FROM bk WHERE b = 2
GROUP BY o_orderpriority
"""


def _range_batched_table(sess: SeccoSession) -> tuple[str, int]:
    """Table whose files are RANGE-CLUSTERED on the key: v0 + three appends,
    each batch covering one orderkey quartile, so every (quartile,
    partition) pair is exactly one file with tight [min, max] key bounds in
    the manifest — the layout a steady time-ordered ingest produces
    naturally at 100 TB (each landing batch covers a narrow key/time
    range), and the layout that makes stats-based file skipping effective.
    The max key the quartiles are cut at is computed once, by the build,
    and kept in the artifact: a warm call runs no Spark job."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        slim = ords.select("o_orderkey", "o_orderpriority", "o_totalprice")
        m = slim.agg(F.max("o_orderkey")).collect()[0][0]  # scalar: driver-safe
        table = os.path.join(d, "table")
        k = F.col("o_orderkey")
        create_table(slim.where(k <= (m * 1) // 4), table, "o_orderpriority")
        for b in (1, 2, 3):
            append_commit(
                spark, table,
                slim.where(
                    (k > (m * b) // 4) & (k <= (m * (b + 1)) // 4)
                ),
            )
        with open(os.path.join(d, "max_key"), "w") as f:
            f.write(str(m))

    d = build_once("secco_lakehouse_skip", (src,), _build, code=(_self, _ops))
    with open(os.path.join(d, "max_key")) as f:
        return os.path.join(d, "table"), int(f.read())


@register("lakehouse_file_skipping", FILE_SKIPPING_ORACLE)
def lakehouse_file_skipping(sess: SeccoSession):
    """Data skipping from manifest column stats (Delta log stats / Iceberg
    manifest bounds twin): a key-range probe over a range-clustered table
    must open ONLY the files whose footer [min, max] intersect the range —
    the pruning decision is O(files) driver-side metadata, no data IO —
    and the file audit (total / scanned / skipped) is hash-verified against
    the oracle's logical bucketing. At 100 TB this is the difference
    between a 3-file read and a full-table scan for every selective range
    query."""
    from seccosql_spark.operators.lakehouse import scan_table

    table, m = _range_batched_table(sess)
    lo, hi = (m * 2) // 4 + 1, (m * 3) // 4
    df, audit = scan_table(sess.spark, table, "o_orderkey", lo, hi)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
        .withColumn("files_total", F.lit(audit["files_total"]).cast("int"))
        .withColumn("files_scanned", F.lit(audit["files_scanned"]).cast("int"))
        .withColumn("files_skipped", F.lit(audit["files_skipped"]).cast("int"))
    )


# Equality-delete batch + re-insert of half its keys (sequence rule probe)
DD = "o_orderkey % 211 = 0"
RI = f"({DD}) AND o_orderkey % 2 = 0"

_CENTS_RI = "CAST(floor((o_totalprice + 77.0) * 100 + 0.5) AS BIGINT)"

EQUALITY_DELETES_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         {_CENTS_SPARK} AS cents1
  FROM orders WHERE NOT ({DD})
),
ri AS (SELECT {_CENTS_RI} AS cents1 FROM orders WHERE {RI}),
np AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
na AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {RI}),
v2 AS (SELECT cents1 FROM v1 UNION ALL SELECT cents1 FROM ri)
SELECT CAST(1 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents1) AS BIGINT) AS cents,
       CAST(1 AS INTEGER) AS del_files,
       CAST(0 AS INTEGER) AS files_rewritten,
       CAST(0 AS INTEGER) AS files_carried
FROM v1
UNION ALL
SELECT CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum(cents1) AS BIGINT), CAST(1 AS INTEGER),
       CAST(0 AS INTEGER), CAST(0 AS INTEGER)
FROM v2
UNION ALL
SELECT CAST(3 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum(cents1) AS BIGINT), CAST(0 AS INTEGER),
       CAST((SELECT c FROM np) AS INTEGER),
       CAST((SELECT c FROM na) AS INTEGER)
FROM v2
"""


def _deleted_table(sess: SeccoSession) -> str:
    """v0 create; v1 equality-delete commit (zero data files touched); v2
    re-insert of HALF the deleted keys as a blind append (the sequence rule
    must keep them alive past the older delete); v3 purge (bounded rewrite
    of exactly the files the delete applies to, delete file retired)."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import delete_commit, purge_deletes

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]
    slim = ords.select("o_orderkey", "o_orderpriority", "o_totalprice")

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(slim, table, "o_orderpriority")
        delete_commit(
            spark, table, slim.where(DD).select("o_orderkey"), ["o_orderkey"]
        )
        append_commit(
            spark, table,
            slim.where(RI).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(77.0)
            ),
        )
        purge_deletes(spark, table)

    return os.path.join(
        build_once("secco_lakehouse_del", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("lakehouse_equality_deletes", EQUALITY_DELETES_ORACLE)
def lakehouse_equality_deletes(sess: SeccoSession):
    """Merge-on-read DELETE (Iceberg equality-delete twin): v1 removes keys
    by committing ONE small key file — no data file read or rewritten, the
    O(batch) erasure path at 100 TB; v2 re-inserts half those keys and the
    sequence rule (deletes apply only to older files) must keep them; v3
    purges — rewriting exactly the files the delete applies to and retiring
    the delete file — with contents provably unchanged. Per-version totals
    and the commit audits (outstanding delete files, files rewritten vs
    carried) are hash-verified against the oracle's logical replay."""
    table = _deleted_table(sess)
    spark = sess.spark
    out = None
    for v in (1, 2, 3):
        m = read_manifest(table, v)
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn(
                "del_files",
                F.lit(len(m.get("delete_files") or [])).cast("int"),
            )
            .withColumn(
                "files_rewritten", F.lit(m.get("files_rewritten", 0)).cast("int")
            )
            .withColumn(
                "files_carried", F.lit(m.get("files_carried", 0)).cast("int")
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out


CHANGE_FEED_ORACLE = f"""
WITH {_REPLAY},
base AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders),
ins AS (SELECT * FROM f1 EXCEPT ALL SELECT * FROM base),
del AS (SELECT * FROM base EXCEPT ALL SELECT * FROM f1)
SELECT 'insert' AS change_type, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents
FROM ins GROUP BY o_orderpriority
UNION ALL
SELECT 'delete', o_orderpriority, CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT)
FROM del GROUP BY o_orderpriority
"""


@register("lakehouse_change_feed", CHANGE_FEED_ORACLE)
def lakehouse_change_feed(sess: SeccoSession):
    """Change data feed (Delta CDF / Iceberg incremental read twin): the
    net row-level diff of the v0->v1 MERGE, derived from the MANIFEST diff
    — only the files the merge added or removed are read (2 touched
    partitions of 5; carried partitions cost zero IO), updates surface as
    delete+insert pairs, and the grouped feed must equal the oracle's
    EXCEPT ALL multiset diff of the logical snapshots. Incremental
    consumers (downstream sync, streaming materialization) read exactly
    this at 100 TB instead of comparing snapshots."""
    from seccosql_spark.operators.lakehouse import table_changes

    table = _versioned_table(sess)
    ch = table_changes(sess.spark, table, 0, 1)
    return (
        ch.groupBy(
            F.col("_change_type").alias("change_type"), "o_orderpriority"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )



def _signed_feed_delta(spark, table: str, v: int) -> DataFrame:
    """Per-partition signed fold of version v's change feed: one row per
    o_orderpriority with dn (row-count delta) and dc (cents delta) — the
    SINGLE definition of change-feed-fold semantics shared by the batch
    (`lakehouse_incremental_sync`) and streaming (`stream_change_feed_apply`)
    consumers, so rounding/null handling can never drift between them."""
    from seccosql_spark.operators.lakehouse import table_changes

    ch = table_changes(spark, table, v - 1, v)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return ch.groupBy("o_orderpriority").agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign * F.expr(_CENTS_SPARK)).cast("long").alias("dc"),
    )


INCREMENTAL_SYNC_ORACLE = f"""
WITH {_REPLAY}
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST(count(*) AS BIGINT) AS inc_n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS inc_cents
FROM f2
GROUP BY o_orderpriority
"""


@register("lakehouse_incremental_sync", INCREMENTAL_SYNC_ORACLE)
def lakehouse_incremental_sync(sess: SeccoSession):
    """Change-feed CONSUMER: a downstream per-partition aggregate is
    maintained incrementally — seeded from the v0 snapshot, then folded
    forward with signed deltas (+insert / -delete) from the v0->v1 and
    v1->v2 feeds, never re-reading carried partitions — and must equal the
    direct aggregate of the v2 snapshot exactly. This is the downstream
    -sync / incremental-materialization story: at 100 TB the consumer pays
    O(changes) per commit instead of O(table) per refresh. Both the
    incremental and the direct numbers are emitted, so any divergence
    hash-mismatches the oracle."""
    table = _versioned_table(sess)
    spark = sess.spark
    prio = "o_orderpriority"

    def _agg(df: DataFrame, n: str, c: str) -> DataFrame:
        return df.groupBy(prio).agg(
            F.count(F.lit(1)).cast("long").alias(n),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias(c),
        )

    inc = _agg(read_table(spark, table, 0), "inc_n_rows", "inc_cents")
    for v in (1, 2):
        delta = _signed_feed_delta(spark, table, v)
        inc = (
            inc.join(delta, prio, "full_outer")
            .select(
                F.col(prio),
                (F.coalesce("inc_n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                .cast("long")
                .alias("inc_n_rows"),
                (F.coalesce("inc_cents", F.lit(0)) + F.coalesce("dc", F.lit(0)))
                .cast("long")
                .alias("inc_cents"),
            )
            .where(F.col("inc_n_rows") > 0)
        )
    direct = _agg(read_table(spark, table, 2), "n_rows", "cents")
    return direct.join(inc, prio, "inner")


@register("lakehouse_sql_time_travel", TIME_TRAVEL_ORACLE)
def lakehouse_sql_time_travel(sess: SeccoSession):
    """Time travel through the SQL dialect: ``LAKE('<dir>', v)`` table
    references (Delta ``VERSION AS OF`` twin) resolve to manifest-pinned
    snapshot reads inside a plain SQL UNION — same contents contract as
    the Python read_table row, proving the dialect surface end-to-end."""
    table = _versioned_table(sess)
    parts = [
        f"""SELECT CAST({v} AS INT) AS version,
                   CAST(count(*) AS LONG) AS n_rows,
                   CAST(sum({_CENTS_SPARK}) AS LONG) AS cents
            FROM LAKE('{table}', {v})"""
        for v in (0, 1, 2)
    ]
    return sess.sql(" UNION ALL ".join(parts)).df


TIME_TRAVEL_TS_ORACLE = f"""
WITH {_REPLAY}
SELECT '2026-01-01T00:30:00' AS probe_ts, CAST(0 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents
FROM orders
UNION ALL
SELECT '2026-01-01T02:59:59', CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f2
UNION ALL
SELECT '2026-01-01T23:00:00', CAST(5 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f4
"""


@register("lakehouse_time_travel_ts", TIME_TRAVEL_TS_ORACLE)
def lakehouse_time_travel_ts(sess: SeccoSession):
    """Time travel by TIMESTAMP (Delta ``TIMESTAMP AS OF`` twin, VERDICT
    r13 task 4): ``LAKE('<dir>', '<iso-ts>')`` resolves the probe instant
    to the greatest version whose monotonic ``committed_at`` is <= it
    (``version_at``, pure manifest metadata) and serves that snapshot. The
    fixture's logical commit clock lands vN at 0N:00 UTC, so each probe's
    resolved version AND snapshot contents are oracle-checkable: 00:30 ->
    v0 (mid-gap), 02:59:59 -> v2 (just before the first append), 23:00 ->
    v5 (after the last commit; compaction is content-neutral = f4)."""
    from seccosql_spark.operators.lakehouse import version_at

    table = _versioned_table(sess)
    probes = [
        "2026-01-01T00:30:00", "2026-01-01T02:59:59", "2026-01-01T23:00:00",
    ]
    parts = []
    for ts in probes:
        v = version_at(table, ts)  # the resolved version is part of the row
        parts.append(
            f"""SELECT '{ts}' AS probe_ts,
                       CAST({v} AS INT) AS version,
                       CAST(count(*) AS LONG) AS n_rows,
                       CAST(sum({_CENTS_SPARK}) AS LONG) AS cents
                FROM LAKE('{table}', '{ts}')"""
        )
    return sess.sql(" UNION ALL ".join(parts)).df


RESTORE_ORACLE = f"""
WITH {_REPLAY}
SELECT CAST(2 AS INTEGER) AS version, 'merge' AS kind,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents
FROM f2
UNION ALL
SELECT CAST(3 AS INTEGER), 'restore', CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f1
"""


def _restored_table(sess: SeccoSession) -> str:
    """v0 create + v1/v2 merges, then RESTORE to v1 as v3 — the rollback
    recovery verb: v3 pins exactly v1's file set by reference (zero data
    IO), history stays readable, and the change feed across the restore
    shows the net rows the rollback un-did."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import restore_table

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(ords, table, "o_orderpriority")
        b1, b2 = _batches(spark)
        merge_cow(spark, table, b1, ["o_orderkey"])   # v1
        merge_cow(spark, table, b2, ["o_orderkey"])   # v2 (the "bad" commit)
        m3 = restore_table(spark, table, 1)           # v3 = rollback to v1
        # restore is metadata-only: every pinned file must be v1's, carried
        # by reference (a rewrite here would mean the verb copied data)
        m1 = read_manifest(table, 1)
        if {f["path"] for f in m3["files"]} != {f["path"] for f in m1["files"]}:
            raise RuntimeError("restore did not pin v1's exact file set")

    return os.path.join(
        build_once("secco_lakehouse_restore", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("lakehouse_restore", RESTORE_ORACLE)
def lakehouse_restore(sess: SeccoSession):
    """RESTORE / rollback (VERDICT r13 task 4): after a bad v2 merge, v3
    promotes v1's snapshot back to HEAD as a new metadata-only commit. The
    row reads v2 (still intact — history preserved for audit) and the
    restored head v3, with the commit kind from table_history: v3 must
    equal the v1 oracle replay (f1) and carry kind 'restore'."""
    from seccosql_spark.operators.lakehouse import table_history

    table = _restored_table(sess)
    spark = sess.spark
    kinds = {
        r.version: r.kind for r in table_history(spark, table).collect()
    }
    out = None
    for v in (2, 3):
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn("kind", F.lit(kinds[v]))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


TAGS_ORACLE = f"""
WITH {_REPLAY}
SELECT 'validated' AS ref, CAST(1 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents
FROM f1
UNION ALL
SELECT 'head', CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT) FROM f2
"""


def _tagged_table(sess: SeccoSession) -> str:
    """v0 create + v1/v2 merges, tag ``validated`` -> v1, then VACUUM with
    keep_last=1: the tag RETAINS v1 (and its files) while untagged v0
    expires — the publish/audit lifecycle (tag the reviewed snapshot,
    vacuum freely). Build-time guards pin the retention mechanics."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import create_tag, expire_versions

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(ords, table, "o_orderpriority")
        b1, b2 = _batches(spark)
        merge_cow(spark, table, b1, ["o_orderkey"])   # v1
        merge_cow(spark, table, b2, ["o_orderkey"])   # v2
        create_tag(table, "validated", 1)
        rep = expire_versions(table, keep_last=1)
        # the tag held v1 past the horizon; untagged v0 expired
        if rep["kept_versions"] != [1, 2] or rep["expired_versions"] != [0]:
            raise RuntimeError(f"tag retention mechanics broke: {rep}")

    return os.path.join(
        build_once("secco_lakehouse_tags", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("lakehouse_tags", TAGS_ORACLE)
def lakehouse_tags(sess: SeccoSession):
    """Named refs (Iceberg tag twin): ``create_tag`` pins a snapshot
    version under a name; ``LAKE('<dir>', '<name>')`` resolves it in SQL
    (non-ISO strings only — a parseable instant wins the tie as a
    timestamp, ADVICE r14, same decision rewrite_lake documents); ``expire_versions``
    retains tagged versions past keep-last. The fixture vacuumed with
    keep_last=1 after tagging v1 — this row reads the TAGGED snapshot
    (must equal the v1 oracle replay f1, proving retention kept it
    readable) and the head (f2)."""
    table = _tagged_table(sess)
    return sess.sql(
        f"""SELECT 'validated' AS ref, CAST(1 AS INT) AS version,
                   CAST(count(*) AS LONG) AS n_rows,
                   CAST(sum({_CENTS_SPARK}) AS LONG) AS cents
            FROM LAKE('{table}', 'validated')
            UNION ALL
            SELECT 'head', CAST(2 AS INT), CAST(count(*) AS LONG),
                   CAST(sum({_CENTS_SPARK}) AS LONG)
            FROM LAKE('{table}')"""
    ).df


SORTED_COMPACTION_ORACLE = f"""
WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents,
       CAST(1 AS INTEGER) AS skipping_effective
FROM orders
WHERE o_orderkey > ((SELECT m FROM mx) * 9) // 16
  AND o_orderkey <= ((SELECT m FROM mx) * 11) // 16
GROUP BY o_orderpriority
"""


def _interleaved_then_sorted_table(sess: SeccoSession) -> tuple[str, int]:
    """Worst-case ingest for data skipping: four INTERLEAVED appends
    (o_orderkey % 4 buckets — every file spans the full key range, so no
    range probe can skip anything), then a SORTED compaction
    (sort_by=o_orderkey, target_files=4) that rewrites each partition into
    range-clustered files. Build-time guards prove the story mechanically:
    before the compaction a middle-quartile probe scans EVERY file; after
    it, at most half."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import scan_table

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]
    slim = ords.select("o_orderkey", "o_orderpriority", "o_totalprice")
    m = slim.agg(F.max("o_orderkey")).collect()[0][0]
    # probe = the MIDDLE HALF of the third key quartile: a full-quartile
    # probe sits exactly at the guard's <=half boundary (range-bucket
    # sampling can make it graze 3 of 4 buckets in one partition); the
    # interior probe intersects at most 2 buckets per partition with margin
    lo, hi = (m * 9) // 16 + 1, (m * 11) // 16

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        k = F.col("o_orderkey")
        create_table(slim.where(k % 4 == 0), table, "o_orderpriority")
        for b in (1, 2, 3):
            append_commit(spark, table, slim.where(k % 4 == b))
        _, before = scan_table(spark, table, "o_orderkey", lo, hi)
        if before["files_skipped"] != 0:
            raise RuntimeError(
                f"interleaved ingest unexpectedly skippable: {before}"
            )
        compact(spark, table, sort_by="o_orderkey", target_files=4)
        _, after = scan_table(spark, table, "o_orderkey", lo, hi)
        if not (
            after["files_total"] >= before["files_total"] * 3 // 4
            and after["files_scanned"] * 2 <= after["files_total"]
        ):
            raise RuntimeError(
                f"sorted compaction did not restore skipping: {after}"
            )

    return (
        os.path.join(
            build_once(
                "secco_lakehouse_sortcomp", (src,), _build, code=(_self, _ops)
            ),
            "table",
        ),
        m,
    )


@register("lakehouse_sorted_compaction", SORTED_COMPACTION_ORACLE)
def lakehouse_sorted_compaction(sess: SeccoSession):
    """OPTIMIZE with sort order (Delta OPTIMIZE ZORDER / Iceberg sorted
    rewrite twin): after four interleaved appends make every file span the
    full key range (no probe can skip), a sorted compaction rewrites each
    partition into range-clustered files — and a middle-quartile probe must
    again scan at most half the files (build-time guards raise otherwise)
    while the probed CONTENTS hash-match the oracle. At 100 TB this is the
    maintenance step that keeps data skipping alive under an
    arrival-ordered ingest."""
    from seccosql_spark.operators.lakehouse import scan_table

    table, m = _interleaved_then_sorted_table(sess)
    lo, hi = (m * 9) // 16 + 1, (m * 11) // 16
    df, audit = scan_table(sess.spark, table, "o_orderkey", lo, hi)
    assert audit["files_scanned"] * 2 <= audit["files_total"]
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
        .withColumn("skipping_effective", F.lit(1).cast("int"))
    )


# Hidden-partitioning merge batch: three months of 1995, key-sampled; the
# partition value is DERIVED (month(o_orderdate)) and never stored.
HP = ("o_orderdate >= TIMESTAMP '1995-01-01' AND "
      "o_orderdate < TIMESTAMP '1995-04-01' AND o_orderkey % 11 = 0")

HIDDEN_PARTITIONING_ORACLE = f"""
WITH months AS (
  SELECT count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS c FROM orders
),
touched AS (
  SELECT count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS c
  FROM orders WHERE {HP}
),
f1 AS (
  SELECT CASE WHEN {HP} THEN o_totalprice + 300.0 ELSE o_totalprice END AS p
  FROM orders
)
SELECT CAST(0 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_SPARK}) AS BIGINT) AS cents,
       CAST((SELECT c FROM months) AS INTEGER) AS parts_rewritten,
       CAST(0 AS INTEGER) AS parts_carried
FROM orders
UNION ALL
SELECT CAST(1 AS INTEGER), CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT),
       CAST((SELECT c FROM touched) AS INTEGER),
       CAST((SELECT c FROM months) - (SELECT c FROM touched) AS INTEGER)
FROM f1
"""


def _hidden_partitioned_table(sess: SeccoSession) -> str:
    """Table partitioned by the DERIVED value month(o_orderdate) — hidden
    partitioning (Iceberg partition-transform twin): no partition column is
    materialized in the data, writers bucket rows through the transform,
    and the merge derives its touched-partition prune by applying the
    transform to the batch."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]
    slim = ords.select("o_orderkey", "o_orderdate", "o_totalprice")

    def _build(d: str) -> None:
        table = os.path.join(d, "table")
        create_table(slim, table, "month(o_orderdate)")
        merge_cow(
            spark, table,
            slim.where(HP).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(300.0)
            ),
            ["o_orderkey"],
        )

    return os.path.join(
        build_once("secco_lakehouse_hp", (src,), _build, code=(_self, _ops)),
        "table",
    )


@register("lakehouse_hidden_partitioning", HIDDEN_PARTITIONING_ORACLE)
def lakehouse_hidden_partitioning(sess: SeccoSession):
    """Hidden partitioning (Iceberg partition transforms): the table is
    bucketed by month(o_orderdate) — a derived value the data files never
    store and queries never reference — and a MERGE whose batch spans three
    months must rewrite exactly those three month-partitions, carrying the
    other ~80 by reference (the audit is hash-verified against the oracle's
    month bucketing). At 100 TB, transform-derived partitioning is what
    lets a time-keyed ingest prune by month while the schema stays clean."""
    table = _hidden_partitioned_table(sess)
    spark = sess.spark
    out = None
    for v in (0, 1):
        m = read_manifest(table, v)
        rewritten = m.get("partitions_rewritten", len(m["files"]))
        carried = m.get("partitions_carried", 0)
        snap = (
            read_table(spark, table, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("version", F.lit(v).cast("int"))
            .withColumn("parts_rewritten", F.lit(rewritten).cast("int"))
            .withColumn("parts_carried", F.lit(carried).cast("int"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


STREAM_CHANGE_APPLY_ORACLE = f"""
WITH {_REPLAY}
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST(count(*) AS BIGINT) AS inc_n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS inc_cents
FROM f4
GROUP BY o_orderpriority
"""


def _stream_synced_agg(sess: SeccoSession) -> str:
    """Consume the versioned table's MANIFEST LOG as a real file-source
    stream (one micro-batch per manifest file via maxFilesPerTrigger=1 —
    commit order is file order) and maintain a downstream aggregate by
    applying the signed change feed of each new version inside
    foreachBatch. The continuous twin of ``lakehouse_incremental_sync``:
    what a 100 TB downstream materialization actually runs — tail the
    commit log, pay O(changes) per commit."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    from seccosql_spark.operators.artifact import build_once
    from seccosql_spark.operators.lakehouse import table_changes

    table = _versioned_table(sess)
    spark = sess.spark
    src = sorted(spark.table("orders").inputFiles())[0]

    def _build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        state_path = os.path.join(d, "agg.json")
        with open(state_path, "w") as f:
            _json.dump({}, f)  # priority -> [n_rows, cents]; empty pre-v0

        def _apply(batch, batch_id) -> None:
            # each micro-batch delivers exactly one manifest file
            # (maxFilesPerTrigger=1; file order == version order); the
            # version comes from the FILE NAME, never from reassembling
            # content lines whose order a shuffle could scramble. v0 seeds
            # the state; later versions fold their signed change feed;
            # compaction commits contribute an empty feed by construction.
            names = [
                r[0]
                for r in batch.select(F.input_file_name()).distinct().collect()
            ]
            if not names:
                return
            vs = sorted(int(os.path.basename(n)[1:6]) for n in names)
            with open(state_path) as f:
                state = _json.load(f)
            for v in vs:
                if v == 0:
                    snap = read_table(spark, table, 0).groupBy(
                        "o_orderpriority"
                    ).agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.expr(_CENTS_SPARK)).alias("c"),
                    )
                    for r in snap.collect():
                        state[r[0]] = [r[1], r[2]]
                else:
                    delta = _signed_feed_delta(spark, table, v)
                    for r in delta.collect():
                        cur = state.get(r[0], [0, 0])
                        state[r[0]] = [cur[0] + r[1], cur[1] + r[2]]
            with open(state_path, "w") as f:
                _json.dump(state, f)

        stream = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(os.path.join(table, "_manifests"))
        )
        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    d = build_once(
        "secco_lakehouse_cdfstream", (src,), _build, code=(_self, _ops)
    )
    return os.path.join(d, "agg.json")


@register("stream_change_feed_apply", STREAM_CHANGE_APPLY_ORACLE)
def stream_change_feed_apply(sess: SeccoSession):
    """Streaming change-feed consumption: a real file-source stream tails
    the manifest log (one micro-batch per commit, availableNow), folds each
    version's signed feed into a downstream aggregate, and the final state
    must equal the direct aggregate of the latest snapshot — the continuous
    materialization path a 100 TB downstream sync runs, paying O(changes)
    per commit instead of O(table) per refresh."""
    import json as _json

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType as _ST,
    )

    state_path = _stream_synced_agg(sess)
    with open(state_path) as f:
        state = _json.load(f)
    spark = sess.spark
    inc = spark.createDataFrame(
        [(k, int(v[0]), int(v[1])) for k, v in sorted(state.items())],
        _ST([
            StructField("o_orderpriority", StringType()),
            StructField("inc_n_rows", LongType()),
            StructField("inc_cents", LongType()),
        ]),
    ).where(F.col("inc_n_rows") > 0)
    table = _versioned_table(sess)
    # direct aggregate of the LATEST snapshot — the stream consumed every
    # commit (merges, appends, and the content-neutral compaction), so the
    # folded state must equal the head of the table (oracle replay f4)
    direct = (
        read_table(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    return direct.join(inc, "o_orderpriority", "inner")


# ---------------------------------------------------------------- round 15:
# the SQL maintenance surface (sql/preprocessor.py try_maintenance_sql) —
# Delta/Iceberg expose the lifecycle verbs as SQL statements (VACUUM,
# OPTIMIZE [ZORDER BY], RESTORE ... TO VERSION, tag DDL, DESCRIBE HISTORY);
# these rows prove the statement parser drives the SAME operators with the
# SAME accounting the Python-verb rows verify.

# Maintenance-fixture append batch: touches whichever partitions %211 keys
# fall in (k of nparts; the oracle derives k from the data so the row is
# exact at every sf).
AM = "o_orderkey % 211 = 0"

SQL_MAINT_ORACLE = f"""
WITH ap AS (SELECT o_orderkey + 50000000 AS o_orderkey, o_totalprice AS p,
                   o_orderpriority
            FROM orders WHERE {AM}),
f AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders
      UNION ALL SELECT * FROM ap),
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
k AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {AM})
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST((SELECT c FROM k) AS INTEGER) AS opt_compacted,
       CAST((SELECT c FROM nparts) - (SELECT c FROM k) AS INTEGER)
         AS opt_carried,
       CAST(2 AS INTEGER) AS vac_expired,
       CAST(2 * (SELECT c FROM k) AS INTEGER) AS vac_files_deleted,
       CAST((SELECT c FROM nparts) AS INTEGER) AS vac_files_live,
       'compact' AS history_kinds
FROM f
"""


def _sql_maintained_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create + v1 append, then ``OPTIMIZE`` and ``VACUUM KEEP 1`` driven
    through the SQL statement surface (a SEPARATE artifact: vacuum mutates
    the directory). The statements' operation-metrics rows are saved at
    build time; the registry row replays them against the oracle's
    data-derived predictions (k = partitions the append touched)."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import deterministic_commit_clock

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0: one file per partition
            append_commit(
                spark, table,
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice")
                .where(AM)
                .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(50_000_000)),
            )  # v1: +1 file in each touched partition
            opt = sess.sql(f"OPTIMIZE LAKE('{table}')").df.collect()[0]
            vac = sess.sql(f"VACUUM LAKE('{table}') KEEP 1").df.collect()[0]
        with open(os.path.join(d, "maint_stats.json"), "w") as f:
            _json.dump(
                {
                    "opt_compacted": opt["partitions_compacted"],
                    "opt_carried": opt["partitions_carried"],
                    "vac_expired": vac["versions_expired"],
                    "vac_files_deleted": vac["files_deleted"],
                    "vac_files_live": vac["files_live"],
                },
                f,
            )

    d = build_once(
        "secco_lakehouse_sqlmaint", (src,), _build, code=(_self, _ops, _pre)
    )
    with open(os.path.join(d, "maint_stats.json")) as f:
        return os.path.join(d, "table"), _json.load(f)


@register("lakehouse_sql_maintenance", SQL_MAINT_ORACLE)
def lakehouse_sql_maintenance(sess: SeccoSession):
    """OPTIMIZE + VACUUM + DESCRIBE HISTORY as SQL statements: the
    compaction must rewrite exactly the k append-touched partitions and
    carry the rest, the vacuum must retire both pre-compaction versions and
    exactly their 2k orphaned files, the surviving snapshot must equal the
    logical replay, and the post-vacuum history must be the single compact
    commit — file accounting predicted from the data, not recorded."""
    table, stats = _sql_maintained_table(sess)
    spark = sess.spark
    kinds = ",".join(
        r["kind"]
        for r in sess.sql(f"DESCRIBE HISTORY LAKE('{table}')")
        .df.select("kind").collect()
    )
    out = (
        read_table(spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    for col, val in [
        ("opt_compacted", stats["opt_compacted"]),
        ("opt_carried", stats["opt_carried"]),
        ("vac_expired", stats["vac_expired"]),
        ("vac_files_deleted", stats["vac_files_deleted"]),
        ("vac_files_live", stats["vac_files_live"]),
    ]:
        out = out.withColumn(col, F.lit(val).cast("int"))
    return out.withColumn("history_kinds", F.lit(kinds))


SQL_OPT_WHERE_ORACLE = f"""
WITH ap AS (SELECT o_orderkey + 50000000 AS o_orderkey, o_totalprice AS p,
                   o_orderpriority
            FROM orders WHERE {AM}),
f AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders
      UNION ALL SELECT * FROM ap),
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
tch AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders WHERE {AM}),
hit AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
        WHERE {AM} AND o_orderpriority < '3')
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST((SELECT c FROM hit) AS INTEGER) AS opt_compacted,
       CAST((SELECT c FROM nparts) - (SELECT c FROM hit) AS INTEGER)
         AS opt_carried,
       CAST((SELECT c FROM tch) - (SELECT c FROM hit) AS INTEGER)
         AS opt_pruned
FROM f
"""


def _sql_optimize_where_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create + v1 append (multi-file debt in every AM-touched
    partition), then ``OPTIMIZE ... WHERE o_orderpriority < '3'`` through
    the SQL statement surface. The build asserts the carried-by-reference
    contract structurally — every pruned partition's file entries must be
    byte-identical across the commit — and saves the statement's metrics
    for the registry row to replay against the oracle's data-derived
    predictions."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import (
            deterministic_commit_clock, read_manifest,
        )

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0: one file per partition
            append_commit(
                spark, table,
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice")
                .where(AM)
                .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(50_000_000)),
            )  # v1: +1 file in each touched partition
            before = {
                f["path"] for f in read_manifest(table)["files"]
                if not f["partition"] < "3"
            }
            opt = sess.sql(
                f"OPTIMIZE LAKE('{table}') WHERE o_orderpriority < '3'"
            ).df.collect()[0]
            after = {
                f["path"] for f in read_manifest(table)["files"]
                if not f["partition"] < "3"
            }
            if after != before:
                raise RuntimeError(
                    "OPTIMIZE WHERE rewrote a pruned partition: "
                    f"{sorted(after ^ before)}"
                )
        with open(os.path.join(d, "opt_stats.json"), "w") as f:
            _json.dump(
                {
                    "opt_compacted": opt["partitions_compacted"],
                    "opt_carried": opt["partitions_carried"],
                    "opt_pruned": opt["partitions_pruned"],
                },
                f,
            )

    d = build_once(
        "secco_lakehouse_sqloptwhere", (src,), _build, code=(_self, _ops, _pre)
    )
    with open(os.path.join(d, "opt_stats.json")) as f:
        return os.path.join(d, "table"), _json.load(f)


@register("lakehouse_sql_optimize_where", SQL_OPT_WHERE_ORACLE)
def lakehouse_sql_optimize_where(sess: SeccoSession):
    """Partition-scoped compaction (VERDICT r15 task 4): ``OPTIMIZE
    LAKE(t) WHERE <partition-pred>`` must rewrite exactly the predicate-
    matching partitions the append left multi-file, carry everything else
    by reference (the fixture build raises if any pruned partition's file
    entries changed), report the deferred small-file debt as
    ``partitions_pruned``, and leave the snapshot content unchanged — all
    counts predicted from the data by the oracle, not recorded."""
    table, stats = _sql_optimize_where_table(sess)
    out = (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    for col, val in [
        ("opt_compacted", stats["opt_compacted"]),
        ("opt_carried", stats["opt_carried"]),
        ("opt_pruned", stats["opt_pruned"]),
    ]:
        out = out.withColumn(col, F.lit(val).cast("int"))
    return out


CHANGE_FEED_PAIRED_ORACLE = f"""
WITH {_REPLAY},
base AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders),
ins AS (SELECT * FROM f1 EXCEPT ALL SELECT * FROM base),
del AS (SELECT * FROM base EXCEPT ALL SELECT * FROM f1),
post AS (SELECT * FROM ins WHERE o_orderkey IN (SELECT o_orderkey FROM del)),
pure_ins AS (SELECT * FROM ins
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)),
pre AS (SELECT * FROM del WHERE o_orderkey IN (SELECT o_orderkey FROM ins)),
pure_del AS (SELECT * FROM del
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ins))
SELECT 'update_preimage' AS change_type, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents
FROM pre GROUP BY o_orderpriority
UNION ALL
SELECT 'update_postimage', o_orderpriority, CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT)
FROM post GROUP BY o_orderpriority
UNION ALL
SELECT 'insert', o_orderpriority, CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT)
FROM pure_ins GROUP BY o_orderpriority
UNION ALL
SELECT 'delete', o_orderpriority, CAST(count(*) AS BIGINT),
       CAST(sum({_CENTS_P}) AS BIGINT)
FROM pure_del GROUP BY o_orderpriority
"""


@register("lakehouse_sql_change_feed_paired", CHANGE_FEED_PAIRED_ORACLE)
def lakehouse_sql_change_feed_paired(sess: SeccoSession):
    """Delta CDF's update_preimage/update_postimage through
    ``LAKE_CHANGES('<dir>', 0, 1, PAIRED)``: a net delete and net insert
    of the same key (the merge commit's recorded merge_keys) are
    re-labeled as the two halves of the update — the v1 MERGE's upserts
    of existing keys must surface as pre/postimage pairs with the old and
    new prices, its fresh inserts and CDC deletes keep their labels, and
    every group must equal the oracle's key-split EXCEPT ALL replay."""
    table = _versioned_table(sess)
    return sess.sql(
        f"""SELECT _change_type AS change_type, o_orderpriority,
                   CAST(count(*) AS LONG) AS n_rows,
                   CAST(sum({_CENTS_SPARK}) AS LONG) AS cents
            FROM LAKE_CHANGES('{table}', 0, 1, PAIRED)
            GROUP BY _change_type, o_orderpriority"""
    ).df


SQL_ADD_COLUMN_ORACLE = f"""
WITH ap AS (SELECT o_orderkey + 50000000 AS o_orderkey, o_totalprice AS p,
                   o_orderpriority, o_totalprice AS note
            FROM orders WHERE {AM}),
f AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority,
             CAST(NULL AS DOUBLE) AS note
      FROM orders
      UNION ALL SELECT * FROM ap)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST(sum(CAST(floor(note * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS note_cents,
       CAST(sum(CASE WHEN note IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS note_nulls
FROM f
"""


def _sql_add_column_table(sess: SeccoSession) -> str:
    """v0 create, v1 metadata-only ADD COLUMN note DOUBLE, v2 append that
    POPULATES it for the AM slice — the declare-first evolution path."""
    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import deterministic_commit_clock

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0
            sess.sql(f"ALTER LAKE('{table}') ADD COLUMN note DOUBLE")  # v1
            sess.sql(
                f"""INSERT INTO LAKE('{table}')
                    SELECT o_orderkey + 50000000 AS o_orderkey,
                           o_orderpriority, o_totalprice,
                           o_totalprice AS note
                    FROM orders WHERE {AM}"""
            )  # v2
    return os.path.join(
        build_once(
            "secco_lakehouse_sqladdcol", (src,), _build,
            code=(_self, _ops, _pre),
        ),
        "table",
    )


@register("lakehouse_sql_add_column", SQL_ADD_COLUMN_ORACLE)
def lakehouse_sql_add_column(sess: SeccoSession):
    """Declare-first additive schema evolution (Delta/Iceberg ALTER TABLE
    ADD COLUMN twin): the column lands as a metadata-only commit, base
    rows serve NULL through the declared-schema reconciliation, the next
    append populates it — every aggregate (row totals, cents over both
    columns, NULL count = exactly the base rows) predicted by the oracle
    replay."""
    table = _sql_add_column_table(sess)
    return (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            F.sum(F.expr("CAST(floor(note * 100 + 0.5) AS BIGINT)"))
            .cast("long").alias("note_cents"),
            F.sum(F.when(F.col("note").isNull(), 1).otherwise(0))
            .cast("long").alias("note_nulls"),
        )
    )


# Constraint fixture: the clean batch appends %211 keys shifted +50M; the
# REJECTED batch is the %113 slice with negated prices — if enforcement
# ever let it land, both n_rows and cents shift and the oracle catches it.
AC = "o_orderkey % 113 = 0"

SQL_CONSTRAINTS_ORACLE = f"""
WITH ap AS (SELECT o_orderkey + 50000000 AS o_orderkey, o_totalprice AS p,
                   o_orderpriority
            FROM orders WHERE {AM}),
f AS (SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders
      UNION ALL SELECT * FROM ap)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST(1 AS INTEGER) AS n_constraints,
       CAST(1 AS INTEGER) AS batches_rejected,
       CAST(2 AS INTEGER) AS head_version
FROM f
"""


def _sql_constrained_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create, v1 ADD CONSTRAINT (metadata-only), v2 clean append —
    then a VIOLATING insert (negated prices) that the commit-time check
    must reject whole. The build raises if the rejection does not happen
    or if it lands anything (head must stay at v2)."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import (
            deterministic_commit_clock, latest_version,
        )

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0
            sess.sql(
                f"ALTER LAKE('{table}') ADD CONSTRAINT price_pos "
                "CHECK (o_totalprice > 0.0)"
            )  # v1, metadata-only
            sess.sql(
                f"""INSERT INTO LAKE('{table}')
                    SELECT o_orderkey + 50000000 AS o_orderkey,
                           o_orderpriority, o_totalprice
                    FROM orders WHERE {AM}"""
            )  # v2, clean
            rejected = 0
            try:
                sess.sql(
                    f"""INSERT INTO LAKE('{table}')
                        SELECT o_orderkey + 90000000 AS o_orderkey,
                               o_orderpriority, -o_totalprice AS o_totalprice
                        FROM orders WHERE {AC}"""
                )
            except ValueError as exc:
                if "price_pos" not in str(exc):
                    raise
                rejected = 1
            if rejected != 1 or latest_version(table) != 2:
                raise RuntimeError(
                    "constraint enforcement failed to reject the violating "
                    f"batch (head v{latest_version(table)})"
                )
        with open(os.path.join(d, "con_stats.json"), "w") as f:
            _json.dump({"batches_rejected": rejected}, f)

    d = build_once(
        "secco_lakehouse_sqlconstraints", (src,), _build,
        code=(_self, _ops, _pre),
    )
    with open(os.path.join(d, "con_stats.json")) as f:
        return os.path.join(d, "table"), _json.load(f)


@register("lakehouse_sql_constraints", SQL_CONSTRAINTS_ORACLE)
def lakehouse_sql_constraints(sess: SeccoSession):
    """Commit-time CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT
    twin): the constraint lands as a metadata-only commit, a clean append
    passes, and the violating batch is rejected WHOLE — proven by the
    oracle's replay: the snapshot must equal base + clean append exactly
    (a leaked violating row shifts both n_rows and cents), the head must
    still be v2, and SHOW CONSTRAINTS must list the one guard."""
    from seccosql_spark.operators.lakehouse import latest_version

    table, stats = _sql_constrained_table(sess)
    n_cons = sess.sql(f"SHOW CONSTRAINTS ON LAKE('{table}')").df.count()
    out = (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    for col, val in [
        ("n_constraints", n_cons),
        ("batches_rejected", stats["batches_rejected"]),
        ("head_version", latest_version(table)),
    ]:
        out = out.withColumn(col, F.lit(val).cast("int"))
    return out


SQL_SHOW_PARTS_ORACLE = f"""
WITH base AS (SELECT o_orderpriority AS part, count(*) AS n
              FROM orders GROUP BY 1),
app AS (SELECT o_orderpriority AS part, count(*) AS n
        FROM orders WHERE {AM} GROUP BY 1)
SELECT b.part AS "partition",
       CAST(CASE WHEN b.part < '3' THEN 1
                 WHEN a.part IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS n_files,
       CAST(b.n + COALESCE(a.n, 0) AS BIGINT) AS n_rows
FROM base b LEFT JOIN app a ON b.part = a.part
"""


@register("lakehouse_sql_show_partitions", SQL_SHOW_PARTS_ORACLE)
def lakehouse_sql_show_partitions(sess: SeccoSession):
    """SHOW PARTITIONS on the partition-scoped-OPTIMIZE fixture: the
    per-partition file counts must reflect exactly the layout history the
    oracle predicts from the data — predicate-matching partitions
    compacted to one file, append-touched non-matching partitions still
    carrying their two-file debt, untouched partitions at one — and the
    row totals must equal base + append per partition. This is the audit
    surface that tells an operator WHICH partitions need the next
    ``OPTIMIZE ... WHERE``."""
    table, _stats = _sql_optimize_where_table(sess)
    return sess.sql(f"SHOW PARTITIONS LAKE('{table}')").df


# Clause-form MERGE fixture predicates: update %97 keys, delete %997 keys
# (excluding updates), insert %301 keys shifted by 10M — all key-unique.
MU = "o_orderkey % 97 = 0"
MD = "o_orderkey % 997 = 0 AND o_orderkey % 97 <> 0"
MI = "o_orderkey % 301 = 0"

SQL_MERGE_CLAUSES_ORACLE = f"""
WITH f AS (
  SELECT o_orderkey, o_totalprice AS p, o_orderpriority FROM orders
  WHERE NOT ({MU}) AND NOT ({MD})
  UNION ALL
  SELECT o_orderkey, o_totalprice + 1000.0, o_orderpriority
  FROM orders WHERE {MU}
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
  FROM orders WHERE {MI}
),
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
tch AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
        WHERE ({MU}) OR ({MD}) OR ({MI}))
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST((SELECT count(*) FROM orders WHERE {MU}) AS BIGINT)
         AS rows_updated,
       CAST((SELECT count(*) FROM orders WHERE {MD}) AS BIGINT)
         AS rows_deleted,
       CAST((SELECT count(*) FROM orders WHERE {MI}) AS BIGINT)
         AS rows_inserted,
       CAST((SELECT c FROM tch) AS INTEGER) AS parts_rewritten,
       CAST((SELECT c FROM nparts) - (SELECT c FROM tch) AS INTEGER)
         AS parts_carried
FROM f
"""


def _sql_merge_clauses_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create, then ONE Delta-style clause MERGE through the SQL
    statement surface: the source unions an update slice (price+1000), a
    delete slice (sentinel price -1 routes it into the DELETE clause), and
    an insert slice (keys shifted +10M, NOT MATCHED by construction).
    Saves the statement's per-action metrics for the registry row."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import deterministic_commit_clock

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0
            rep = sess.sql(
                f"""MERGE INTO LAKE('{table}') USING (
                      SELECT o_orderkey, o_orderpriority,
                             o_totalprice + 1000.0 AS o_totalprice
                      FROM orders WHERE {MU}
                      UNION ALL
                      SELECT o_orderkey, o_orderpriority,
                             CAST(-1.0 AS DOUBLE) AS o_totalprice
                      FROM orders WHERE {MD}
                      UNION ALL
                      SELECT o_orderkey + 10000000, o_orderpriority,
                             o_totalprice
                      FROM orders WHERE {MI}
                    ) AS s ON t.o_orderkey = s.o_orderkey
                    WHEN MATCHED AND s.o_totalprice < 0.0 THEN DELETE
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED THEN INSERT *"""
            ).df.collect()[0]
        with open(os.path.join(d, "merge_stats.json"), "w") as f:
            _json.dump(
                {
                    "rows_updated": rep["rows_updated"],
                    "rows_deleted": rep["rows_deleted"],
                    "rows_inserted": rep["rows_inserted"],
                    "parts_rewritten": rep["partitions_rewritten"],
                    "parts_carried": rep["partitions_carried"],
                },
                f,
            )

    d = build_once(
        "secco_lakehouse_sqlmergecl", (src,), _build, code=(_self, _ops, _pre)
    )
    with open(os.path.join(d, "merge_stats.json")) as f:
        return os.path.join(d, "table"), _json.load(f)


@register("lakehouse_sql_merge_clauses", SQL_MERGE_CLAUSES_ORACLE)
def lakehouse_sql_merge_clauses(sess: SeccoSession):
    """Delta-style MERGE clause form (VERDICT r15 task 5): one statement
    carrying a conditional DELETE clause, a catch-all UPDATE SET *, and a
    NOT MATCHED INSERT * — clause routing, per-action metrics, and the
    copy-on-write audit all predicted from the data by the oracle's
    logical replay. Lowered onto the SAME merge_cow verb as the KEYS form
    (sql/preprocessor.py _try_merge_clauses — never a second
    implementation)."""
    table, stats = _sql_merge_clauses_table(sess)
    out = (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    for col, val, typ in [
        ("rows_updated", stats["rows_updated"], "bigint"),
        ("rows_deleted", stats["rows_deleted"], "bigint"),
        ("rows_inserted", stats["rows_inserted"], "bigint"),
        ("parts_rewritten", stats["parts_rewritten"], "int"),
        ("parts_carried", stats["parts_carried"], "int"),
    ]:
        out = out.withColumn(col, F.lit(val).cast(typ))
    return out


# Full-sync fixture predicates: source = %3 keys (updated), victims among
# the non-source rows = %5 keys (target-side condition).
FS = "o_orderkey % 3 = 0"
FV = "o_orderkey % 5 = 0"

SQL_MERGE_FULL_SYNC_ORACLE = f"""
WITH f AS (
  SELECT o_orderkey, o_totalprice + 100.0 AS p, o_orderpriority
  FROM orders WHERE {FS}
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE NOT ({FS}) AND NOT ({FV})
),
nparts AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders),
tch AS (SELECT count(DISTINCT o_orderpriority) AS c FROM orders
        WHERE ({FS}) OR ({FV}))
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_CENTS_P}) AS BIGINT) AS cents,
       CAST((SELECT count(*) FROM orders WHERE {FS}) AS BIGINT)
         AS rows_updated,
       CAST((SELECT count(*) FROM orders WHERE NOT ({FS}) AND ({FV}))
            AS BIGINT) AS rows_deleted_by_source,
       CAST((SELECT c FROM tch) AS INTEGER) AS parts_rewritten,
       CAST((SELECT c FROM nparts) - (SELECT c FROM tch) AS INTEGER)
         AS parts_carried
FROM f
"""


def _sql_merge_full_sync_table(sess: SeccoSession) -> tuple[str, dict]:
    """v0 create, then one full-sync clause MERGE: UPDATE SET * for the
    source slice, NOT MATCHED BY SOURCE + a TARGET-column condition
    deleting a subset of the rows the source lacks — one atomic
    copy-on-write commit (the build raises if more than one version
    landed)."""
    import json as _json

    import seccosql_spark.operators.lakehouse as _ops
    import seccosql_spark.queries.lakehouse_q as _self
    import seccosql_spark.sql.preprocessor as _pre
    from seccosql_spark.operators.artifact import build_once

    spark = sess.spark
    ords = spark.table("orders")
    src = sorted(ords.inputFiles())[0]

    def _build(d: str) -> None:
        from seccosql_spark.operators.lakehouse import (
            deterministic_commit_clock, latest_version,
        )

        table = os.path.join(d, "table")
        with deterministic_commit_clock("2026-01-01T00:00:00+00:00", 3600):
            create_table(
                ords.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                table, "o_orderpriority",
            )  # v0
            rep = sess.sql(
                f"""MERGE INTO LAKE('{table}') USING (
                      SELECT o_orderkey, o_orderpriority,
                             o_totalprice + 100.0 AS o_totalprice
                      FROM orders WHERE {FS}
                    ) AS s ON t.o_orderkey = s.o_orderkey
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED BY SOURCE AND {FV} THEN DELETE"""
            ).df.collect()[0]
            if latest_version(table) != 1:
                raise RuntimeError("full-sync MERGE must be ONE commit")
        with open(os.path.join(d, "sync_stats.json"), "w") as f:
            _json.dump(
                {
                    "rows_updated": rep["rows_updated"],
                    "rows_deleted_by_source": rep["rows_deleted_by_source"],
                    "parts_rewritten": rep["partitions_rewritten"],
                    "parts_carried": rep["partitions_carried"],
                },
                f,
            )

    d = build_once(
        "secco_lakehouse_sqlfullsync", (src,), _build, code=(_self, _ops, _pre)
    )
    with open(os.path.join(d, "sync_stats.json")) as f:
        return os.path.join(d, "table"), _json.load(f)


@register("lakehouse_sql_merge_full_sync", SQL_MERGE_FULL_SYNC_ORACLE)
def lakehouse_sql_merge_full_sync(sess: SeccoSession):
    """Full-sync MERGE (Delta's WHEN NOT MATCHED BY SOURCE): target rows
    the source lacks are deleted — subject to a TARGET-column condition —
    inside the SAME atomic copy-on-write commit as the updates; snapshot
    content, per-action metrics, and the COW audit all predicted from the
    data by the oracle replay."""
    table, stats = _sql_merge_full_sync_table(sess)
    out = (
        read_table(sess.spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
        )
    )
    for col, val, typ in [
        ("rows_updated", stats["rows_updated"], "bigint"),
        ("rows_deleted_by_source", stats["rows_deleted_by_source"], "bigint"),
        ("parts_rewritten", stats["parts_rewritten"], "int"),
        ("parts_carried", stats["parts_carried"], "int"),
    ]:
        out = out.withColumn(col, F.lit(val).cast(typ))
    return out


SQL_TAGS_DDL_ORACLE = f"""
WITH {_REPLAY},
m AS (SELECT 'merged' AS name, 2 AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum({_CENTS_P}) AS BIGINT) AS cents
      FROM f2),
h AS (SELECT 'release-head' AS name, 5 AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum({_CENTS_P}) AS BIGINT) AS cents
      FROM f4)
SELECT name, CAST(version AS INTEGER) AS version, n_rows, cents FROM m
UNION ALL
SELECT name, CAST(version AS INTEGER) AS version, n_rows, cents FROM h
"""


@register("lakehouse_sql_tags_ddl", SQL_TAGS_DDL_ORACLE)
def lakehouse_sql_tags_ddl(sess: SeccoSession):
    """Tag DDL as SQL statements on the shared v0..v5 fixture: CREATE OR
    REPLACE TAG (idempotent across sweeps), SHOW TAGS listing both refs,
    and per-tag snapshot reads through LAKE(dir, '<name>') — each tag's
    row count and cents must equal the oracle's replay of the version it
    pins (v2 = both merges applied; v5 = the compacted head, content-equal
    to v4's appends)."""
    table = _versioned_table(sess)
    sess.sql(f"CREATE OR REPLACE TAG merged ON LAKE('{table}') AS OF VERSION 2")
    sess.sql(f"CREATE OR REPLACE TAG 'release-head' ON LAKE('{table}')")
    tags = (
        sess.sql(f"SHOW TAGS ON LAKE('{table}')")
        .df.where(F.col("name").isin("merged", "release-head"))
    )
    per_tag = None
    for name in ("merged", "release-head"):
        agg = (
            sess.sql(f"SELECT * FROM LAKE('{table}', '{name}')")
            .df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.expr(_CENTS_SPARK)).cast("long").alias("cents"),
            )
            .withColumn("name", F.lit(name))
        )
        per_tag = agg if per_tag is None else per_tag.unionByName(agg)
    return tags.join(per_tag, "name").select(
        "name", F.col("version").cast("int").alias("version"), "n_rows", "cents"
    )


@register("lakehouse_sql_change_feed", CHANGE_FEED_ORACLE)
def lakehouse_sql_change_feed(sess: SeccoSession):
    """The change data feed through its SQL table reference —
    ``LAKE_CHANGES('<dir>', v_from, v_to)`` (Delta ``table_changes`` TVF
    twin; sql/preprocessor.py rewrite_lake_changes) — grouped exactly like
    the Python-verb row ``lakehouse_change_feed`` and verified against the
    same EXCEPT ALL multiset-diff oracle: the SQL surface and the verb can
    never drift apart."""
    table = _versioned_table(sess)
    return sess.sql(
        f"""SELECT _change_type AS change_type, o_orderpriority,
                   CAST(count(*) AS LONG) AS n_rows,
                   CAST(sum({_CENTS_SPARK}) AS LONG) AS cents
            FROM LAKE_CHANGES('{table}', 0, 1)
            GROUP BY _change_type, o_orderpriority"""
    ).df
