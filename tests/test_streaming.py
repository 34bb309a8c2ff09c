"""Streaming layer tests: drain file-source streams with availableNow into
memory sinks and check against the equivalent batch plan on the same data."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from seccosql_spark.streaming.ops import (
    run_available_now,
    stream_dedup,
    stream_events,
    stream_upsert_state,
    ts_reads_as_long,
    windowed_agg,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir():
    """File-source streams need a DIRECTORY; the testdata ships one parquet
    file per table, so stage it into a temp dir (one file = one micro-batch
    unit)."""
    d = tempfile.mkdtemp(prefix="secco_stream_")
    shutil.copy(f"{SF_DIR}/events.parquet", f"{d}/part-0.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_agg_matches_batch(spark, events_dir):
    stream = windowed_agg(stream_events(spark, events_dir), window="1 hour")
    run_available_now(stream, "win_sink", output_mode="append")
    got = spark.table("win_sink")

    batch = (
        spark.read.parquet(events_dir)
        # events.ts reads as TIMESTAMP_NTZ from parquet; cast to the tz-aware
        # TIMESTAMP the stream schema declares (session tz is UTC)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    # append mode only emits FINALIZED windows: those whose end <= final
    # watermark (max event time - 2h). The held-back tail is correct
    # streaming semantics, so compare against the finalized subset.
    max_ts = (
        spark.read.parquet(events_dir)
        .agg(F.max(F.col("ts").cast("timestamp")).alias("m"))
        .collect()[0]["m"]
    )
    finalized = batch.filter(F.col("win_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    assert rows(got) == rows(finalized)
    assert got.count() > 0


def test_stream_dedup_bounds_duplicates(spark, events_dir):
    stream = stream_dedup(stream_events(spark, events_dir), keys=["user_id", "event_type"])
    run_available_now(stream, "dedup_sink", output_mode="append")
    got = spark.table("dedup_sink")
    n_keys = (
        spark.read.parquet(events_dir).select("user_id", "event_type").distinct().count()
    )
    assert got.count() == n_keys
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_stream_upsert_latest_per_user(spark, events_dir):
    stream = stream_upsert_state(stream_events(spark, events_dir))
    run_available_now(stream, "upsert_sink", output_mode="update")
    got = spark.table("upsert_sink").toPandas()
    # memory sink in update mode may contain one row per key per batch; take
    # the final row per key (max event_id)
    latest_stream = got.loc[got.groupby("user_id")["event_id"].idxmax()]
    stream_map = {
        int(r.user_id): (float(r.value), int(r.event_id))
        for r in latest_stream.itertuples()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.max("event_id").alias("event_id"))
        .join(spark.read.parquet(events_dir), ["user_id", "event_id"])
        .select("user_id", "value", "event_id")
    ).toPandas()
    batch_map = {
        int(r.user_id): (float(r.value), int(r.event_id)) for r in batch.itertuples()
    }
    assert stream_map == batch_map


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_session_window_agg_matches_batch(spark, sf_dir, tmp_path):
    """Runs at BOTH sf0.001 and sf0.01 regardless of SECCO_TEST_SF_DIR: the
    r08 divergence (phantom sub-sessions from unsound cutoff pushdown) only
    manifests at sf0.01 event density, where a session straddles the final
    watermark."""
    from seccosql_spark.streaming.ops import session_window_agg

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{events_dir}/part-0.parquet")
    sink = f"sess_sink_{sf_dir.rsplit('sf', 1)[-1].replace('.', '_')}"
    run_available_now(
        session_window_agg(stream_events(spark, events_dir), gap="30 minutes"),
        sink,
    )
    got = spark.table(sink)
    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    # append mode emits only sessions closed before the final watermark.
    # Two subtleties the r08 failure at sf0.01 exposed (both on the BATCH
    # side of the comparison — streaming was correct):
    # 1. the cutoff must go through finalized_sessions(): a naive
    #    .filter(sess_end <= cutoff) is pushed BELOW the session-window
    #    aggregation by Catalyst and drops per-EVENT rows before merging,
    #    fabricating phantom shorter sessions inside held-back ones;
    # 2. Spark tracks watermarks in MILLIseconds, so the cutoff is the
    #    millis-truncated max event time minus the delay.
    from seccosql_spark.streaming.ops import finalized_sessions

    max_ts = (
        spark.read.parquet(events_dir)
        .agg(F.max(F.col("ts").cast("timestamp")).alias("m"))
        .collect()[0]["m"]
    )
    import datetime

    wm = (max_ts - datetime.timedelta(hours=2)).replace(
        microsecond=max_ts.microsecond // 1000 * 1000
    )
    finalized = finalized_sessions(batch, wm)
    assert rows(got) == rows(finalized)
    assert got.count() > 0


def test_finalized_sessions_filter_stays_above_agg(spark, events_dir):
    """The cutoff predicate must survive as a post-aggregation Filter: if
    it reaches the pre-merge side the optimized plan filters raw events
    (`ts + gap <= cutoff`) and session merging sees a truncated corpus.
    Guards the non-deterministic barrier inside finalized_sessions against
    an optimizer getting cleverer about constant-false rand() branches."""
    from seccosql_spark.streaming.ops import finalized_sessions

    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.end").alias("sess_end"), "user_id", "n_events")
    )
    fin = finalized_sessions(batch, "2024-01-30 21:57:12")
    plan = fin._jdf.queryExecution().optimizedPlan().toString()
    # the Filter node must sit ABOVE Aggregate (appear before it in the
    # tree print); a pushed-down predicate prints below the Aggregate line
    assert plan.index("Filter") < plan.index("Aggregate"), plan
    # and the naive formulation demonstrably differs (the quirk is real on
    # this data): naive filter leaks phantom sub-sessions
    naive = batch.filter(F.col("sess_end") <= F.lit("2024-01-30 21:57:12"))
    n_safe, n_naive = fin.count(), naive.count()
    assert n_safe <= n_naive


def test_stream_stream_join_matches_batch(spark, events_dir):
    from seccosql_spark.streaming.ops import stream_stream_join

    joined = stream_stream_join(
        stream_events(spark, events_dir), stream_events(spark, events_dir)
    )
    run_available_now(joined, "ssj_sink")
    got = spark.table("ssj_sink")
    b = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    l = b.select(F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts"),
                 F.col("user_id").alias("l_user"))
    r = b.select(F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts"),
                 F.col("user_id").alias("r_user"))
    batch = l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 3600 SECONDS")),
    ).select("l_id", "r_id", "l_user")
    assert rows(got) == rows(batch)
    assert got.count() > 0


def test_stream_static_enrich_matches_batch(spark, events_dir):
    """Stream-static join: per-batch broadcast lookup, no streaming state."""
    from seccosql_spark.streaming.ops import stream_static_enrich

    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(200)], "user_id LONG, segment STRING"
    )
    enriched = stream_static_enrich(
        stream_events(spark, events_dir).select("event_id", "user_id"), dim
    )
    run_available_now(enriched, "enrich_sink", output_mode="append")
    got = spark.table("enrich_sink")
    batch = (
        spark.read.parquet(events_dir)
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
    )
    assert rows(got.select("event_id", "user_id", "segment")) == rows(
        batch.select("event_id", "user_id", "segment")
    )


def test_foreach_batch_upsert_latest_per_user(spark, events_dir):
    """foreachBatch incremental MERGE: after draining the stream, the sink
    table holds exactly the per-user latest (ts, value) — the same state a
    batch window-rank over all data produces."""
    import tempfile

    from pyspark.sql import Window

    from seccosql_spark.streaming.ops import foreach_batch_upsert

    with tempfile.TemporaryDirectory(prefix="secco_ckpt_") as ckpt:
        q = foreach_batch_upsert(
            stream_events(spark, events_dir), spark, "upsert_sink2", ckpt
        )
        q.awaitTermination()
    got = spark.table("global_temp.upsert_sink2").select("user_id", "ts", "value")
    ev = spark.read.parquet(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expect = (
        ev.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "value")
    )
    assert rows(got) == rows(expect)


def test_session_window_watermark_boundary_inclusive(spark):
    """ADVICE r04: pin the '<=' direction of the session-window oracle's
    watermark cutoff (queries/streaming_q.py). One session ends EXACTLY at
    (max_ts - watermark): Spark must emit it in append mode — i.e. the
    eviction predicate is inclusive (session_end <= watermark), matching
    the oracle's `s_last + gap <= max - 2h`."""
    import pandas as pd

    from seccosql_spark.streaming.ops import run_available_now, session_window_agg

    d = tempfile.mkdtemp(prefix="secco_sess_boundary_")
    try:
        # user 1: one event whose session end (ts + 30min gap) lands exactly
        # on the final watermark (max_ts - 2h); user 2: the max-ts event.
        # user 3: a session ending 1s AFTER the watermark — must be held.
        base = pd.Timestamp("2026-01-01 00:00:00")
        max_ts = base + pd.Timedelta(hours=12)
        boundary_start = max_ts - pd.Timedelta(hours=2) - pd.Timedelta(minutes=30)
        rows_pdf = pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": [boundary_start, max_ts, boundary_start + pd.Timedelta(seconds=1)],
                "user_id": [1, 2, 3],
                "event_type": ["click", "click", "click"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        )
        spark.createDataFrame(rows_pdf).repartition(1).write.mode("overwrite").parquet(d)
        agg = session_window_agg(
            stream_events(spark, d), gap="30 minutes", watermark="2 hours"
        )
        run_available_now(agg, "sess_boundary_sink", output_mode="append")
        got = {r["user_id"] for r in spark.table("sess_boundary_sink").collect()}
        # inclusive cutoff: the exactly-at-watermark session IS emitted
        assert 1 in got
        # strictly-later session and the watermark-defining session are held
        assert 3 not in got and 2 not in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_left_join_watermark_boundary_strict(spark):
    """Pin the STRICT '<' eviction cutoff of the left-outer oracle
    (queries/streaming_q.py STREAM_LEFT_JOIN_ORACLE): with final watermark
    wm = least(max l.ts, max r.ts) - 2h, an unmatched click whose horizon
    (ts + 1h) is strictly inside wm is null-emitted; one landing EXACTLY on
    wm is held in state; later ones held too."""
    import pandas as pd

    from seccosql_spark.streaming.ops import (
        run_available_now,
        stream_events,
        stream_stream_left_join,
    )
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="secco_lj_boundary_")
    try:
        base = pd.Timestamp("2026-01-01 00:00:00")
        rows = pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5],
                "ts": [
                    base,                                    # u1: horizon base+1h < wm -> emit
                    base + pd.Timedelta(hours=1),            # u2: horizon == wm exactly -> held
                    base + pd.Timedelta(hours=1, seconds=1), # u3: horizon past wm -> held
                    base + pd.Timedelta(hours=4),            # u9: left max (defines left wm)
                    base + pd.Timedelta(hours=4),            # u8: purchase (right max)
                ],
                "user_id": [1, 2, 3, 9, 8],
                "event_type": ["click", "click", "click", "click", "purchase"],
                "value": [1.0] * 5,
                "props": ["{}"] * 5,
            }
        )
        spark.createDataFrame(rows).repartition(1).write.mode("overwrite").parquet(d)
        left = stream_events(spark, d).filter(F.col("event_type") == "click")
        right = stream_events(spark, d).filter(F.col("event_type") == "purchase")
        j = stream_stream_left_join(left, right)
        run_available_now(j, "lj_boundary_sink", output_mode="append")
        got = sorted(
            (r["l_id"], r["r_id"]) for r in spark.table("lj_boundary_sink").collect()
        )
        assert got == [(1, None)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_upsert_out_of_order_batches(spark):
    """A LATER micro-batch carrying only an OLDER event for a user must not
    regress the state: the merge is a per-user (ts, event_id) argmax against
    existing state, not a blind replace (maxFilesPerTrigger=1 forces each
    file into its own batch, files are processed in discovery order)."""
    import tempfile

    import pandas as pd

    from seccosql_spark.streaming.ops import events_schema, foreach_batch_upsert

    d = tempfile.mkdtemp(prefix="secco_ooo_upsert_")
    try:
        base = pd.Timestamp("2026-01-01 00:00:00")
        newer = pd.DataFrame(
            {"event_id": [10], "ts": [base + pd.Timedelta(hours=5)], "user_id": [1],
             "event_type": ["click"], "value": [99.0], "props": ["{}"]}
        )
        older = pd.DataFrame(
            {"event_id": [2], "ts": [base], "user_id": [1],
             "event_type": ["click"], "value": [1.0], "props": ["{}"]}
        )
        # file names order discovery: batch 1 = newer event, batch 2 = older
        spark.createDataFrame(newer).repartition(1).write.parquet(f"{d}/data/a_newer")
        spark.createDataFrame(older).repartition(1).write.parquet(f"{d}/data/b_older")
        import glob, shutil as sh
        flat = f"{d}/flat"; os.makedirs(flat)
        for i, f in enumerate(sorted(glob.glob(f"{d}/data/*/part-*.parquet"))):
            sh.copy(f, f"{flat}/{i:02d}.parquet")
        ts_type = spark.read.parquet(flat).schema["ts"].dataType
        stream = (
            spark.readStream.schema(events_schema(ts_type))
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        from pyspark.sql import functions as F
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        with tempfile.TemporaryDirectory(prefix="secco_ckpt_ooo_") as ckpt:
            q = foreach_batch_upsert(stream, spark, "ooo_upsert_sink", ckpt)
            q.awaitTermination()
        got = spark.table("global_temp.ooo_upsert_sink").collect()
        assert len(got) == 1
        assert got[0]["event_id"] == 10 and got[0]["value"] == 99.0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_resume_processes_only_new_files(sess, tmp_path):
    """Exactly-once file-source semantics across restarts: drain a
    directory with availableNow, append a new file, re-create the SAME
    stream against the SAME checkpoint — the second drain must process
    ONLY the new file (no double-counting of the old one). This is the
    recovery contract every foreachBatch sink in this repo leans on."""
    from pyspark.sql import functions as F

    spark = sess.spark
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    spark.range(10).select(F.col("id")).coalesce(1).write.parquet(str(src / "f0"))

    seen: list[int] = []

    def drain() -> None:
        stream = (
            spark.readStream.schema("id BIGINT")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _bid: seen.extend(r["id"] for r in batch.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(seen) == list(range(10))
    spark.range(10, 15).select(F.col("id")).coalesce(1).write.parquet(str(src / "f1"))
    drain()
    assert sorted(seen) == list(range(15))  # f0 NOT reprocessed


def test_scaled_stream_partitions_sizing_and_restore(spark, events_dir, monkeypatch):
    """r16: a bounded drain's shuffle/state partition count is derived from
    the input's bytes (ceil(bytes/target) clamped to the session value) and
    restored afterwards; unknowable inputs are a no-op."""
    from seccosql_spark.streaming import ops
    from seccosql_spark.streaming.ops import _local_bytes, scaled_stream_partitions

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    size = _local_bytes(events_dir)
    assert size and size > 0
    # small local input -> 1 partition while scoped, restored on release
    restore = scaled_stream_partitions(spark, events_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    restore()
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    # a tiny bytes-per-partition target ramps the count but never exceeds
    # the session's configured value
    monkeypatch.setattr(ops, "_STREAM_BYTES_PER_PARTITION", 1)
    restore = scaled_stream_partitions(spark, events_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    restore()
    # non-local URI -> no-op
    restore = scaled_stream_partitions(spark, "s3://bucket/path")
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    restore()


def test_ts_encoding_probe_agrees_with_spark(spark, tmp_path):
    """The pyarrow footer probe picks the same ``ts`` type Spark's parquet
    reader infers under the session's ``nanosAsLong``: INT64 MICROS/MILLIS
    and INT96 read as timestamps, INT64 NANOS and unannotated INT64 as
    BIGINT. INT96 is the trap: pyarrow reports it as timestamp[ns]."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    ns = pa.array([1_700_000_000_000_000_000, 1_700_000_100_000_000_000])
    stamped = pa.table({"ts": ns.cast(pa.timestamp("ns")), "v": [1.0, 2.0]})
    cases = {  # name -> (table, write options, reads as BIGINT)
        "micros": (stamped, dict(coerce_timestamps="us"), False),
        "millis": (stamped, dict(coerce_timestamps="ms"), False),
        "nanos": (stamped, dict(version="2.6"), True),
        "int96": (stamped, dict(use_deprecated_int96_timestamps=True), False),
        "plain_int64": (pa.table({"ts": ns, "v": [1.0, 2.0]}), {}, True),
    }
    for name, (t, kwargs, want) in cases.items():
        d = str(tmp_path / name)
        os.makedirs(d)
        pq.write_table(t, f"{d}/part-0.parquet", **kwargs)
        spark_long = isinstance(spark.read.parquet(d).schema["ts"].dataType, LongType)
        assert ts_reads_as_long(d) == spark_long == want, name
        assert ts_reads_as_long(f"{d}/part-0.parquet") == want, name
