"""Query registry: every operator claimed in SURVEY.md §2 as a named query
with a DuckDB-oracle SQL twin.

This is the engine's correctness surface: the driver runs each Spark query
and its oracle side-by-side at sf=0.01 and hash-matches row values
(order-insensitive, columns sorted by name). Conventions that keep the two
engines bit-identical:

- **Never sum raw doubles.** Per-row products/values are cast to DECIMAL
  first (identical in both engines since the per-row doubles are identical),
  summed exactly, and cast back to DOUBLE. Averages are decimal-sum / count.
- **Alias every computed column identically** in Spark and oracle SQL.
- **Timestamps**: the driver's parquet stores TIMESTAMP(MICROS); Spark reads
  them as TIMESTAMP_NTZ, DuckDB as (naive) TIMESTAMP. Outputs use
  ``date_format``/``strftime`` strings, filters use literals on each side's
  native type, and epoch arithmetic goes through
  ``operators.timeutil.epoch_us`` (tz-free, tolerant of a nanos-encoded
  generation too) mirrored by DuckDB ``epoch_us(ts)``.
- **LIMIT queries** always carry a total order (unique tiebreaker column) so
  the selected SET is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from seccosql_spark.registration import REGISTRY, QuerySpec, register  # noqa: F401
from seccosql_spark.session import TESTDATA_TABLES, SeccoSession


# SparkSession id -> (SeccoSession, sf_dir its views currently point at).
# Temp views are global per table NAME on a SparkSession, so the cache must
# re-register whenever the requested sf_dir differs from the registered one —
# caching per (spark, sf_dir) independently would serve stale views.
_SESSION_CACHE: dict[int, tuple[SeccoSession, str]] = {}


def session_for(spark: SparkSession, sf_dir: str) -> SeccoSession:
    """SeccoSession over the driver's SparkSession with all testdata views
    registered. View registration reads every parquet footer, so it is
    cached and repeated only when the sf_dir changes."""
    cached = _SESSION_CACHE.get(id(spark))
    if cached is not None and cached[0].spark is spark and cached[1] == sf_dir:
        return cached[0]
    sess = SeccoSession(spark)
    sess.load_dir(sf_dir, TESTDATA_TABLES)
    _SESSION_CACHE[id(spark)] = (sess, sf_dir)
    return sess


def run(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = REGISTRY[name]
    out = spec.build(session_for(spark, sf_dir))
    return out.df if hasattr(out, "df") else out


# Import side-effect modules that populate REGISTRY.
from seccosql_spark.queries import relational  # noqa: E402,F401
from seccosql_spark.queries import graph  # noqa: E402,F401
from seccosql_spark.queries import pipeline  # noqa: E402,F401
from seccosql_spark.queries import tpch_shapes  # noqa: E402,F401
from seccosql_spark.queries import tpch_rest  # noqa: E402,F401
from seccosql_spark.queries import timeseries  # noqa: E402,F401
from seccosql_spark.queries import sampling_q  # noqa: E402,F401
from seccosql_spark.queries import text_stats  # noqa: E402,F401
from seccosql_spark.queries import udf  # noqa: E402,F401
from seccosql_spark.queries import graph_analytics  # noqa: E402,F401
from seccosql_spark.queries import curation  # noqa: E402,F401
from seccosql_spark.queries import window_analytics  # noqa: E402,F401
from seccosql_spark.queries import streaming_q  # noqa: E402,F401
from seccosql_spark.queries import workload  # noqa: E402,F401
from seccosql_spark.queries import mining  # noqa: E402,F401
from seccosql_spark.queries import storage  # noqa: E402,F401
from seccosql_spark.queries import lakehouse_q  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Registry iteration order IS the driver's verification order; the driver
# checks the first 50 entries. The window is now generated MECHANICALLY:
#
#     python scripts/freshness.py --window
#
# (VERDICT r05 task 8) which tiers every registered query by (1) never
# driver-verified, (2) OVERDUE (driver row >= 4 rounds behind — outranks
# hot so the rotation always closes), (3) "hot" — an implementing or
# dependency file changed after the latest driver run, (4) stale, (5)
# fresh; oldest round first within a tier. The r10 window below is that
# output verbatim — never hand-edited, so this comment deliberately does
# NOT enumerate the rows (each resync would stale it): the generator's
# tier order guarantees the list leads with every never-verified row
# (this round's additions), then >=4-rounds-overdue, then hot/stale.
# Spilled rows are re-proven by the full-registry pytest differential
# every session; overdue-beats-hot guarantees the rotation keeps closing.
# ---------------------------------------------------------------------------
_PRIORITY_WINDOW = [
    "sample_bootstrap_ci",
    "corpus_clean_pass",
    "decontaminate_bloom",
    "decontaminate_ngram8",
    "dedup_cluster_canonical",
    "dedup_containment",
    "dedup_exact",
    "dedup_incremental_batch",
    "dedup_minhash_lsh",
    "dedup_minhash_words",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_substring_windows",
    "lakehouse_append_compact",
    "lakehouse_merge_cow",
    "lakehouse_schema_evolution",
    "lakehouse_time_travel",
    "stream_lakehouse_ingest",
    "stream_window_counts",
    "attribution_last_touch",
    "basket_part_pairs",
    "curation_multisignal",
    "dedup_c4_segments",
    "events_zorder_topk",
    "funnel_view_click_purchase",
    "g_clustering_coeff",
    "g_common_neighbors",
    "g_connected_components",
    "g_degrees",
    "g_kcore",
    "g_ktruss",
    "g_label_propagation",
    "g_pagerank_3rounds",
    "g_path2_pairs",
    "g_scc",
    "g_sssp_weighted",
    "lakehouse_change_feed",
    "lakehouse_equality_deletes",
    "lakehouse_expire_versions",
    "lakehouse_file_skipping",
    "lakehouse_hidden_partitioning",
    "lakehouse_incremental_sync",
    "lakehouse_merge_evolution",
    "lakehouse_sorted_compaction",
    "lakehouse_sql_time_travel",
    "rollup_agg",
    "stream_change_feed_apply",
    "multimodal_phash_dedup",
    "orders_bucketed_join",
    "orders_partition_pruned",
]


def _apply_priority_window() -> None:
    window = set(_PRIORITY_WINDOW)
    missing = [n for n in _PRIORITY_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"priority window references unknown queries: {missing}")
    if not (len(_PRIORITY_WINDOW) == len(window) == 50):
        raise RuntimeError(
            f"priority window must be exactly 50 unique names, got "
            f"{len(_PRIORITY_WINDOW)} ({len(window)} unique)"
        )
    tail = [n for n in REGISTRY if n not in window]
    ordered = {n: REGISTRY[n] for n in [*_PRIORITY_WINDOW, *tail]}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_priority_window()
