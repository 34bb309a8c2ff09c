"""Streaming operators over Structured Streaming.

The reference is batch-only (SURVEY.md §2.7: no watermarks, stream windows,
or stateful ops anywhere); its closest analogues are bounded iteration and
``UnionByUpdate``. This module carries the engine's operator surface onto
streams the idiomatic Spark way:

- ``stream_events``   — read the events table shape as a stream (file source
  or any readStream DataFrame);
- ``windowed_agg``    — event-time tumbling/sliding windows + watermark for
  late data;
- ``stream_dedup``    — exact streaming dedup via ``dropDuplicates`` within
  the watermark (state is bounded by the watermark horizon — the scale
  knob);
- ``stream_upsert_state`` — UnionByUpdate-on-a-stream: per-key latest value
  via ``applyInPandasWithState`` (custom stateful operator, the
  reference-lacks-it case (c) in the build rules);
- ``run_available_now`` — test/bench harness: drain a file stream with
  availableNow into a memory sink;
- ``session_window_agg`` / ``stream_stream_join`` — gap-closed sessions and
  watermark-bounded interval joins;
- ``stream_static_enrich`` — per-batch broadcast dimension lookup (no
  streaming state);
- ``foreach_batch_upsert`` — incremental MERGE materialization: the
  UnionByUpdate verb applied per micro-batch via foreachBatch.

Scale notes: all state here is keyed and watermark-bounded; shuffle keys are
the aggregation/dedup keys, so a 1000-executor cluster partitions state
horizontally. No driver-side loops, no collect.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def events_schema(ts_type: T.DataType | None = None) -> T.StructType:
    """Events schema with a pluggable ts type (TIMESTAMP for a MICROS
    parquet generation, LONG for a NANOS generation read under
    ``nanosAsLong``)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type or T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# default shape (MICROS generation); stream_events probes the actual files
EVENTS_SCHEMA = events_schema()


def ts_reads_as_long(path: str) -> bool:
    """Whether ``ts`` in the parquet file (or the first data file under the
    directory) at ``path`` reads as BIGINT under ``nanosAsLong``: physical
    INT64 that is TIMESTAMP(NANOS) or carries no timestamp annotation.
    INT64 TIMESTAMP(MILLIS|MICROS) and INT96 read as timestamps. Footer
    only, through pyarrow — no Spark job. The parquet schema is checked,
    not the Arrow type, because pyarrow reports INT96 as timestamp[ns]."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    found = ds.dataset(path, format="parquet")
    with found.filesystem.open_input_file(min(found.files)) as f:
        schema = pq.ParquetFile(f).schema
    col = schema.column(schema.names.index("ts"))
    if col.physical_type != "INT64":
        return False
    lt = col.logical_type
    return lt.type != "TIMESTAMP" or json.loads(lt.to_json())["timeUnit"] == "nanoseconds"


def _events_stream(reader, probe_path: str) -> DataFrame:
    """``reader(ts_type)`` -> the readStream DataFrame, declared with the
    ``ts`` type the parquet footer at ``probe_path`` calls for; a
    nanos-as-long generation is normalized to TIMESTAMP. Integer ``div``,
    NOT float division: ns values past 2^53 lose exact integer
    representation as doubles, shifting ~1.6% of timestamps by 1us vs the
    batch path's epoch_us (which documents this contract)."""
    if ts_reads_as_long(probe_path):
        return reader(T.LongType()).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return reader(T.TimestampType())


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet events (one file = one micro-batch
    unit; in production this is Kafka/files — same downstream plan).

    readStream needs a declared schema, and the right one depends on the
    parquet generation: TIMESTAMP(MICROS) surfaces as a timestamp type,
    while a TIMESTAMP(NANOS) file under ``nanosAsLong`` surfaces as INT64.
    A footer read (``ts_reads_as_long``) probes the actual encoding. A
    timestamp-encoded generation is declared as tz-aware TIMESTAMP
    (watermarks reject TIMESTAMP_NTZ; under the UTC session
    timezone the instants are identical), and a NANOS/long generation is
    declared LONG then normalized to TIMESTAMP — so watermarks and windows
    work identically for either generation."""
    return _events_stream(
        lambda t: spark.readStream.schema(events_schema(t)).parquet(path), path
    )


def stream_events_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table out of a testdata directory: Spark's file
    stream source requires a DIRECTORY basePath, so the single
    `events.parquet` is selected with pathGlobFilter. Same encoding probe
    and NANOS normalization as `stream_events`."""
    return _events_stream(
        lambda t: spark.readStream.schema(events_schema(t))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
        f"{sf_dir}/events.parquet",
    )


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data:
    (window, event_type) -> count + exact decimal sum. Late rows beyond
    `watermark` are dropped and state is evicted — bounded state at scale."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: keep the first row per key within the watermark
    horizon (state bounded by the horizon — the streaming analog of the
    batch hash-groupBy dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


_UPSERT_STATE_SCHEMA = T.StructType(
    [T.StructField("value", T.DoubleType()), T.StructField("event_id", T.LongType())]
)
_UPSERT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_id", T.LongType()),
    ]
)


def stream_upsert_state(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming UnionByUpdate: per-user latest (by event_id) value via a
    custom stateful operator (applyInPandasWithState). Emits the updated
    state row per key per micro-batch."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        best_val, best_id = (state.get if state.exists else (None, -1))
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = pdf.loc[pdf["event_id"].idxmax()]
            if int(top["event_id"]) > int(best_id):
                best_val, best_id = float(top["value"]), int(top["event_id"])
        state.update((best_val, best_id))
        yield pd.DataFrame(
            {"user_id": [key[0]], "value": [best_val], "event_id": [best_id]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_UPSERT_OUT_SCHEMA,
            stateStructType=_UPSERT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# Streaming state partitioning (r16, guide §2: derive partitioning from
# input size, not a constant): a stateful streaming query pins its state
# partition count to spark.sql.shuffle.partitions at FIRST start, and every
# micro-batch then pays per-partition state-store overhead (HDFS-backed
# commit/delta files per store per batch) regardless of data volume. Sizing
# that count from the bounded input's bytes — clamped to the session's
# configured value so a large input keeps full parallelism — cut the
# headline stream_window_counts drain ~2x at sf0.1 (32 stores -> 1 for a
# 2 MB input; measured interleaved A/B 1.5-1.76s vs 0.73-0.9s). 8 MB target —
# windowed-aggregation state is much denser per input byte than a plain
# shuffle, so the target must ramp partitions up sooner than a batch
# 64-128 MB rule: measured at sf1 (9.4 MB input) the drain runs 2.25s
# with a 64 MB target (1 store), 1.50s with 8 MB (2 stores), 1.71s with
# 2 MB (5 stores) — and at sf0.1 (2 MB) both 8 and 64 MB give the same
# single-store 2x win.
_STREAM_BYTES_PER_PARTITION = 8 * 1024 * 1024


def _local_bytes(path: str) -> int | None:
    """Total bytes under a local path (file or dir); None when unknowable
    (non-local URI) — callers then keep the session's partition setting."""
    import os

    p = path.removeprefix("file:")
    if "://" in p:
        return None
    try:
        if os.path.isfile(p):
            return os.path.getsize(p)
        total = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    except OSError:
        return None


def scaled_stream_partitions(spark: SparkSession, *paths: str):
    """Scoped override of spark.sql.shuffle.partitions for ONE streaming
    drain, derived from the bounded input's size: ceil(bytes / target)
    clamped to [1, session value]. Returns a restore callable for
    try/finally; a no-op when the size is unknowable."""
    sizes = [_local_bytes(p) for p in paths]
    if not sizes or any(s is None for s in sizes):
        return lambda: None
    saved = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        saved_n = int(saved)
    except (TypeError, ValueError):
        return lambda: None
    parts = max(1, min(saved_n, -(-sum(sizes) // _STREAM_BYTES_PER_PARTITION)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    def restore() -> None:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    return restore


def run_available_now(
    df: DataFrame,
    sink_table: str,
    output_mode: str = "append",
    input_paths: tuple[str, ...] = (),
) -> None:
    """Drain a (file-source) stream with availableNow=True into an in-memory
    sink table — the deterministic test/bench harness for streaming plans.
    ``input_paths``: when given, the query's shuffle/state partition count is
    sized from those inputs' bytes for the duration of the drain
    (``scaled_stream_partitions``); partitioning never changes results."""
    restore = scaled_stream_partitions(df.sparkSession, *input_paths)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        restore()


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time SESSION windows (dynamic-length, gap-closed) per user —
    Spark-native session windows; state per (user, open session), closed and
    emitted once the watermark passes the gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def finalized_sessions(
    sessions: DataFrame, cutoff, end_col: str = "sess_end",
    guard_col: str = "n_events",
) -> DataFrame:
    """Watermark-style cutoff over a BATCH-rebuilt session table: keep
    sessions whose ``end_col`` <= ``cutoff`` — the batch twin of append-mode
    emission, for stream/batch equivalence checks.

    Why this is not a plain ``.where()``: Catalyst treats the pre-merge
    per-row session struct as a deterministic grouping expression, so a
    filter on the session END gets pushed BELOW the session-window
    aggregation and becomes a per-EVENT filter ``ts + gap <= cutoff``.
    That is unsound for session windows — dropping a late event that would
    have extended an earlier session fabricates a shorter phantom session
    that then passes the cutoff (observed on sf0.01: a 2-event session
    [21:14:50, 22:12:34] past the cutoff re-emerged as a phantom 1-event
    [21:14:50, 21:44:50] inside it). A rand()-based CASE barrier does NOT
    survive: the optimizer rewrites ``CASE WHEN c THEN true ELSE <nondet>``
    into ``c <=> true`` and pushes it anyway. What does hold: the cutoff is
    OR-ed (one non-splittable disjunction) with an always-false comparison
    on an AGGREGATE-output column (``guard_col < 0`` for a count) — a
    disjunct referencing an aggregate result can never move below the
    Aggregate, and no optimizer rule proves ``count(*) < 0`` unsatisfiable.
    Pinned by ``test_finalized_sessions_filter_stays_above_agg``."""
    cond = F.col(end_col) <= (F.lit(cutoff) if not isinstance(cutoff, Column) else cutoff)
    return sessions.where(cond | (F.col(guard_col) < F.lit(0)))


def _interval_join(
    left: DataFrame, right: DataFrame, interval_seconds: int, watermark: str, how: str
) -> DataFrame:
    """Same user, right event within `interval_seconds` AFTER the left one;
    both sides watermarked so the join state is bounded (Spark evicts rows
    once they can no longer match)."""
    l = left.withWatermark("ts", watermark).select(
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts"),
        F.col("user_id").alias("l_user"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user"),
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {interval_seconds} SECONDS")),
        how,
    ).select("l_id", "r_id", "l_user")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    interval_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: right events within `interval_seconds`
    AFTER the left event, same user (``_interval_join``)."""
    return _interval_join(left, right, interval_seconds, watermark, "inner")


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    interval_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join — `stream_stream_join` plus
    null-extension: a left event with no right match is emitted with null
    right columns once the watermark proves no match can still arrive
    (watermark past l_ts + interval). The interesting part is the EMISSION
    discipline, not the pairing: unmatched rows inside the final watermark
    margin stay in state and are never emitted by a bounded drain — the
    oracle must replay that cutoff (queries/streaming_q.py)."""
    return _interval_join(left, right, interval_seconds, watermark, "left_outer")


def stream_static_enrich(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension — Spark re-reads/broadcasts the static side per batch,
    no streaming state at all. The canonical dimension-lookup pattern: at
    cluster scale the static side is a broadcast, so the stream never
    shuffles."""
    return events.join(F.broadcast(dim), key, "left")


def foreach_batch_upsert(
    events: DataFrame,
    spark: SparkSession,
    sink_table: str,
    checkpoint_dir: str,
) -> "Any":
    """Incremental materialization: per micro-batch, MERGE the batch's
    per-user latest value into `sink_table` (UnionByUpdate applied to a
    stream — the reference's upsert verb as a foreachBatch sink). The sink
    lives in `global_temp` (foreachBatch runs in a cloned micro-batch
    session, so a plain temp view would be invisible outside); read the
    result as ``spark.table(f"global_temp.{sink_table}")``. The table
    always holds exactly one row per user: the latest (ts, value) seen so
    far. Returns the started query (caller awaits)."""

    def _argmax_per_user(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("user_id", "ts", "value", "event_id")
        )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        latest = _argmax_per_user(batch.select("user_id", "ts", "value", "event_id"))
        if sess.catalog.tableExists(f"global_temp.{sink_table}"):
            # MERGE = per-user argmax over state ∪ batch, NOT a blind
            # replace: micro-batches are not ordered by event time (a later
            # file can hold older events), so "latest seen so far" must
            # compare (ts, event_id) against the existing state row. State
            # keeps event_id precisely to make this tiebreak stable.
            state = sess.table(f"global_temp.{sink_table}")
            merged = _argmax_per_user(state.unionByName(latest))
        else:
            merged = latest
        # materialize before overwriting the view the plan reads from
        merged.localCheckpoint(eager=True).createOrReplaceGlobalTempView(sink_table)

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_incremental_dedup(
    docs_stream: DataFrame,
    old_corpus_path: str,
    sink_table: str,
    checkpoint_dir: str,
    split_id: int,
    threshold: float = 0.5,
) -> "Any":
    """Online near-dup screening: each micro-batch of newly ingested
    documents is checked against the STATIC existing corpus's banded
    MinHash index (`operators/dedup.minhash_incremental_pairs`) and the
    verified (new_id, old_id, jaccard) pairs accumulate in a global-temp
    sink — the streaming form of the nightly incremental dedup. Because the
    old side is static and every new document arrives exactly once, the
    fully-drained result is batch-invariant: identical to running the batch
    operator over the whole new set at once, which is what the oracle
    computes. The old corpus is re-read per batch from its parquet path
    (micro-batches run in a cloned session, so closures must not capture
    outer-session DataFrames); at scale the banded index would be a
    persisted bucketed table instead of a re-derivation."""
    from pyspark.sql import functions as F

    from seccosql_spark.operators.dedup import minhash_incremental_pairs

    def _screen(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        old = sess.read.parquet(old_corpus_path).filter(F.col("doc_id") < split_id)
        new = batch.filter(F.col("doc_id") >= split_id)
        pairs = minhash_incremental_pairs(new, old, threshold=threshold)
        if sess.catalog.tableExists(f"global_temp.{sink_table}"):
            pairs = sess.table(f"global_temp.{sink_table}").unionByName(pairs)
        # materialize before overwriting the view the plan reads from
        pairs.localCheckpoint(eager=True).createOrReplaceGlobalTempView(sink_table)

    return (
        docs_stream.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
