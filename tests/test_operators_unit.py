"""Per-operator golden tests on tiny literal tables (FIXTURES.md F1/F6 style),
mirroring the reference's iterator-level suites (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seccosql_spark.operators.dedup import exact_dedup, minhash_near_dups
from seccosql_spark.operators.joins import natural_join_chain, union_by_update
from seccosql_spark.operators.recursion import bounded_fixpoint, checkpoint, iterate, semi_naive
from seccosql_spark.plans.ghd import multiway_natural_join


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_union_by_update_upsert(spark):
    state = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id INT, val DOUBLE")
    delta = spark.createDataFrame([(2, 99.0), (4, 40.0)], "id INT, val DOUBLE")
    out = union_by_update(state, delta, ["id"])
    assert rows(out) == [(1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)]


def test_union_by_update_missing_key_raises(spark):
    import pytest

    a = spark.createDataFrame([(1,)], "id INT")
    b = spark.createDataFrame([(1,)], "other INT")
    with pytest.raises(ValueError):
        union_by_update(a, b, ["id"])


def test_natural_join_chain_r1_r2_r3(spark):
    """F1: R1(a,b) ⋈ R2(b,c) ⋈ R3(c,d) path join."""
    r1 = spark.createDataFrame([(1, 2), (2, 3)], "a INT, b INT")
    r2 = spark.createDataFrame([(2, 5), (3, 6)], "b INT, c INT")
    r3 = spark.createDataFrame([(5, 9)], "c INT, d INT")
    out = natural_join_chain([r1, r2, r3])
    assert rows(out.select("a", "b", "c", "d")) == [(1, 2, 5, 9)]


def test_multiway_ghd_square_cycle(spark):
    """F1: R1⋈R2⋈R3⋈R4 square cycle — GHD path must equal the naive chain."""
    r1 = spark.createDataFrame([(1, 2), (7, 8)], "a INT, b INT")
    r2 = spark.createDataFrame([(2, 3), (8, 9)], "b INT, c INT")
    r3 = spark.createDataFrame([(3, 4), (9, 1)], "c INT, d INT")
    r4 = spark.createDataFrame([(1, 4), (5, 5)], "a INT, d INT")
    ghd = multiway_natural_join([r1, r2, r3, r4], use_ghd=True)
    naive = multiway_natural_join([r1, r2, r3, r4], use_ghd=False)
    assert rows(ghd.select("a", "b", "c", "d")) == rows(naive.select("a", "b", "c", "d"))
    assert rows(ghd.select("a", "b", "c", "d")) == [(1, 2, 3, 4)]


def test_bounded_fixpoint_transitive_closure(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src INT, dst INT")

    def step(delta):
        return (
            delta.alias("d")
            .join(edges.alias("e"), F.col("d.dst") == F.col("e.src"))
            .select(F.col("d.src").alias("src"), F.col("e.dst").alias("dst"))
        )

    out = bounded_fixpoint(edges, step, max_rounds=10)
    assert rows(out) == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_bounded_fixpoint_respects_round_limit(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "src INT, dst INT")

    def step(delta):
        return (
            delta.alias("d")
            .join(edges.alias("e"), F.col("d.dst") == F.col("e.src"))
            .select(F.col("d.src").alias("src"), F.col("e.dst").alias("dst"))
        )

    out = bounded_fixpoint(edges, step, max_rounds=1)
    # base (length 1) + one round (length 2) only
    assert (1, 4) not in rows(out) and (1, 3) in rows(out)


def _path_expand(edges):
    """semi_naive expand for single-source reachability over ``edges``."""

    def expand(frontier, seen, _round):
        return (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(seen, "id", "left_anti")
        )

    return expand


def test_semi_naive_raises_on_a_path_longer_than_its_budget(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "src LONG, dst LONG")
    seed = spark.createDataFrame([(0,)], "id LONG")
    with pytest.raises(RuntimeError, match="path too long"):
        semi_naive(seed, _path_expand(edges), 5, exhausted="path too long")
    # without ``exhausted`` the truncated result is returned
    seen, rounds = semi_naive(seed, _path_expand(edges), 5)
    assert rounds == 5 and rows(seen) == [(i,) for i in range(6)]


def test_semi_naive_converging_on_the_last_round_does_not_raise(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "src LONG, dst LONG")
    seed = spark.createDataFrame([(0,)], "id LONG")
    seen, rounds = semi_naive(seed, _path_expand(edges), 5, exhausted="path too long")
    assert rounds == 5 and rows(seen) == [(i,) for i in range(6)]
    seen, rounds = semi_naive(seed, _path_expand(edges), 8)
    assert rounds == 5 and rows(seen) == [(i,) for i in range(6)]


def test_checkpoint_observes_count_and_metrics(spark):
    df = spark.range(10)
    out, got = checkpoint(df, F.expr("sum(id) AS s"))
    assert got["__n"] == 10 and got["s"] == 45
    assert out.count() == 10


def test_checkpoint_failure_raises_without_persist_fallback(spark, monkeypatch):
    """A real job failure inside the checkpoint raises once; only Spark's
    AttributeMap NoSuchElementException falls back to persist()."""
    df_cls = type(spark.range(1))
    persisted = []
    orig = df_cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(True)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "persist", spy)
    bad = spark.range(3).select(F.expr("raise_error('boom')").alias("x"))
    with pytest.raises(Exception, match="boom"):
        checkpoint(bad)
    assert persisted == []

    def attribute_map_bug(self, eager=True):
        from pyspark.errors import PySparkException

        raise PySparkException(message="java.util.NoSuchElementException: key not found: id#1")

    monkeypatch.setattr(df_cls, "localCheckpoint", attribute_map_bug)
    out, got = checkpoint(spark.range(4))
    assert persisted == [True] and got["__n"] == 4 and out.count() == 4


def test_iterate_runs_fixed_rounds(spark):
    state = spark.createDataFrame([(1,)], "x INT")
    out = iterate(state, lambda df: df.select((F.col("x") * 2).alias("x")), rounds=3)
    assert rows(out) == [(8,)]


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique")], "doc_id INT, text STRING"
    )
    out = exact_dedup(docs)
    got = {r["keep_id"]: r["n_copies"] for r in out.collect()}
    assert got == {1: 2, 3: 1}


def test_minhash_identical_docs_are_found(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "z y x w v u t s"),
        ],
        "doc_id INT, text STRING",
    )
    out = minhash_near_dups(docs, threshold=0.9)
    pairs = {(r["id1"], r["id2"]) for r in out.collect()}
    assert pairs == {(1, 2)}


@pytest.mark.parametrize("id_col", ["a b", "x.y", "q`r"])
def test_minhash_quotes_id_col(spark, id_col):
    """The minhash plan is SQL text that names the id column through
    ``quote_ident``: an id column named with a space, a dot or a backtick
    gives the same pairs as one named ``id``."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "z y x w v u t s"),
            (4, "a b c d e f g z"),
        ],
        "id INT, text STRING",
    )

    def pairs(df, col):
        return sorted(map(tuple, minhash_near_dups(df, threshold=0.5, id_col=col).collect()))

    want = pairs(docs, "id")
    assert [p[:2] for p in want] == [(1, 2), (1, 4), (2, 4)]
    assert pairs(docs.toDF(id_col, "text"), id_col) == want


def test_minhash_degenerate_docs_no_crash(spark):
    """Docs shorter than the shingle width / empty text: no shingles, no
    spurious pairs, no divide-by-zero (empty band signatures excluded)."""
    from seccosql_spark.operators.dedup import minhash_near_dups, shingles

    tiny = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, ""), (4, "   "), (5, "x y z w x y z w")],
        "doc_id INT, text STRING",
    )
    assert minhash_near_dups(tiny, threshold=0.5, shingle_n=3).collect() == []
    pairs = {(r["id1"], r["id2"]) for r in minhash_near_dups(tiny, threshold=0.9).collect()}
    assert pairs == {(1, 2)}
    # exploded shingles helper honors the same guard
    assert shingles(tiny, 3).filter("id IN (1, 3, 4)").count() == 0


def test_minhash_signature_building_blocks(spark):
    """functions-surface building blocks: wide signatures + exact_jaccard."""
    from seccosql_spark.operators.dedup import (
        candidate_pairs,
        exact_jaccard,
        lsh_bands,
        minhash_signatures,
        tokenize_words,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "p q r s")], "doc_id INT, text STRING"
    )
    words = tokenize_words(docs)
    sig = minhash_signatures(words, num_hashes=4)
    assert set(sig.columns) == {"id", "h0", "h1", "h2", "h3"}
    pairs = candidate_pairs(lsh_bands(sig, band_size=2))
    assert {(r["id1"], r["id2"]) for r in pairs.collect()} == {(1, 2)}
    j = exact_jaccard(words, pairs).collect()
    assert [(r["id1"], r["id2"], r["jaccard"]) for r in j] == [(1, 2, 1.0)]


def test_minhash_build_round_trips_bounded(spark):
    """Building the MinHash-LSH plan is driver-side work with no Spark job;
    its hot expressions are SQL text, so the build stays a few hundred
    py4j round trips (the Column-API build with Python lambdas inside
    F.transform took about 2,070 on the same input)."""
    import os

    import pytest

    from tests.conftest import SF_DIR, py4j_round_trips

    path = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no sf0.01 documents at {path}")
    docs = spark.read.parquet(path)
    minhash_near_dups(docs, threshold=0.5, shingle_n=3)  # warm py4j caches
    with py4j_round_trips() as n:
        minhash_near_dups(docs, threshold=0.5, shingle_n=3)
    assert 0 < n[0] <= 600, n[0]


def test_minhash_repeat_runs_track_each_cache_once(spark):
    """A repeated run persists plans the session already caches: only the
    run that made each cache entry tracks it, so `_LIVE_CACHES` holds the
    pipeline's two caches however often it runs, and `release_caches`
    frees both."""
    from pyspark import StorageLevel

    from seccosql_spark.operators import dedup

    dedup.release_caches()
    docs = spark.createDataFrame(
        [(1, "cache tracking probe one two three"),
         (2, "cache tracking probe one two four")],
        "doc_id INT, text STRING",
    )
    for _ in range(2):
        minhash_near_dups(docs, threshold=0.5, shingle_n=3).collect()
    tracked = list(dedup._LIVE_CACHES)
    assert len(tracked) == 2
    dedup.release_caches()
    assert dedup._LIVE_CACHES == []
    assert all(df.storageLevel == StorageLevel.NONE for df in tracked)


def test_analyze_table_populates_stats(sess):
    stats = sess.analyze_table("region", columns=["r_name"])
    assert stats.row_count == 5
    assert stats.ndv["r_name"] >= 4  # approx distinct of 5 names
    assert sess.catalog.get("region").stats.row_count == 5


def test_lsh_bucket_guard_bounds_candidates(spark):
    """All-duplicates corpus: every doc lands in the same (band, sig) bucket,
    so unguarded candidate generation is quadratic (n*(n-1)/2 pairs). With
    max_bucket_size, oversized buckets are dropped and candidates stay
    bounded — the production skew mitigation at 100 TB."""
    from seccosql_spark.operators.dedup import minhash_near_dups

    docs = spark.createDataFrame(
        [(i, "the same exact text repeated for every single document here") for i in range(40)],
        "doc_id BIGINT, text STRING",
    )
    unguarded = minhash_near_dups(docs, threshold=0.5, shingle_n=3)
    assert unguarded.count() == 40 * 39 // 2
    guarded = minhash_near_dups(docs, threshold=0.5, shingle_n=3, max_bucket_size=10)
    assert guarded.count() == 0


def test_embedding_bucket_guard_bounds_candidates(spark):
    """Same guard on the embedding near-dup bucket join."""
    from seccosql_spark.operators.similarity import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(30)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    unguarded = embedding_near_dups(emb, threshold=0.99)
    assert unguarded.count() == 30 * 29 // 2
    guarded = embedding_near_dups(emb, threshold=0.99, max_bucket_size=5)
    assert guarded.count() == 0


def test_pack_by_budget_matches_global_prefix_sum(spark):
    """The two-phase distributed prefix sum (range partition + subtotal
    offsets) must equal the single-partition global-window formulation on
    every partition layout."""
    from seccosql_spark.operators.packing import pack_by_budget

    rows = [(i, (i * 37) % 90 + 10) for i in range(200)]  # ids 0..199, weights 10..99
    df = spark.createDataFrame(rows, "doc_id LONG, n_tokens INT")
    for n_part in (1, 4, 17):
        got = {
            r["doc_id"]: r["shard"]
            for r in pack_by_budget(df, budget=300, num_partitions=n_part).collect()
        }
        cum = 0
        for i, w in rows:
            assert got[i] == cum // 300, (n_part, i, w, cum, got[i])
            cum += w


def test_pack_by_budget_composite_key_no_collision(spark):
    """Packing on the composite (doc_id, chunk_id) key must stay correct
    when one document has >= 1000 chunks — the regime where the retired
    ``doc_id*1000+chunk_id`` arithmetic packing silently interleaved doc 0's
    chunk 1500 into doc 1's key space (VERDICT r07 finding 1)."""
    from seccosql_spark.operators.packing import pack_by_budget

    # doc 0: 1500 chunks (>= 1000), doc 1: 5 chunks; deterministic weights
    rows = [(0, c, (c * 13) % 40 + 5) for c in range(1500)] + [
        (1, c, 30) for c in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, chunk_id INT, n_tokens INT")
    for n_part in (1, 7):
        got = {
            (r["doc_id"], r["chunk_id"]): r["shard"]
            for r in pack_by_budget(
                df, budget=500, id_col=("doc_id", "chunk_id"), num_partitions=n_part
            ).collect()
        }
        assert len(got) == len(rows)  # no key collision ate a row
        cum = 0
        for d, c, w in sorted(rows):  # the true (doc_id, chunk_id) total order
            assert got[(d, c)] == cum // 500, (n_part, d, c, cum, got[(d, c)])
            cum += w


def test_pack_by_budget_fanout_derived_from_observed_rows(spark):
    """r17 (VERDICT r16 task 4): without an explicit num_partitions the
    range-partition fan-out must derive from the OBSERVED metadata row
    count instead of a static defaultParallelism — 200 metadata rows get 1
    partition, not 8+ task launches through sample/shuffle/subtotal/window.
    The count is ceil(rows / rowsPerPartition) with no defaultParallelism
    ceiling, so a corpus-sized input is not forced through core-count
    partitions. Shard assignment is partitioning-independent, so results
    are unchanged."""
    from seccosql_spark.operators.packing import _PACK_ROWS_KEY, pack_by_budget

    rows = [(i, (i * 37) % 90 + 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tokens INT")

    seen: list[int] = []
    df_cls = type(spark.range(1))
    orig = df_cls.repartitionByRange

    def spy(self, n, *cols):
        seen.append(n)
        return orig(self, n, *cols)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(df_cls, "repartitionByRange", spy)
        got = {r["doc_id"]: r["shard"] for r in pack_by_budget(df, budget=300).collect()}
        # 200 rows << rowsPerPartition -> derived fan-out 1, which since r17
        # takes the single-window fast path: NO repartitionByRange at all
        # (no freeze checkpoint, no subtotal collect, no offsets join)
        assert seen == [], seen
        spark.conf.set(_PACK_ROWS_KEY, "50")
        try:
            seen.clear()
            got_fanned = {
                r["doc_id"]: r["shard"] for r in pack_by_budget(df, budget=300).collect()
            }
            assert seen == [4], seen  # ceil(200/50)
            # one row per partition: 200 range partitions, above the
            # session's defaultParallelism — the fan-out is not clamped
            spark.conf.set(_PACK_ROWS_KEY, "1")
            seen.clear()
            got_per_row = {
                r["doc_id"]: r["shard"] for r in pack_by_budget(df, budget=300).collect()
            }
            assert seen == [200], seen
            assert got_per_row == got_fanned
        finally:
            spark.conf.unset(_PACK_ROWS_KEY)
        seen.clear()
        pack_by_budget(df, budget=300, num_partitions=3).collect()
        assert seen == [3], seen  # explicit override always wins
    finally:
        mp.undo()
    cum = 0
    for i, w in rows:
        assert got[i] == got_fanned[i] == cum // 300, (i, w, cum)
        cum += w


def test_pack_by_budget_rejects_budget_below_one(spark):
    """A budget below 1 would integer-divide by zero, which Spark turns
    into NULL shards for every row; it must raise instead."""
    import pytest

    from seccosql_spark.operators.packing import pack_by_budget

    df = spark.createDataFrame([(1, 10)], "doc_id LONG, n_tokens INT")
    for budget in (0, -5, 0.5):
        with pytest.raises(ValueError, match="need budget >= 1"):
            pack_by_budget(df, budget=budget)


def test_pack_by_budget_shards_are_contiguous(spark):
    from seccosql_spark.operators.packing import pack_by_budget

    df = spark.createDataFrame([(i, 50) for i in range(40)], "doc_id LONG, n_tokens INT")
    out = sorted(
        pack_by_budget(df, budget=200, num_partitions=5).collect(),
        key=lambda r: r["doc_id"],
    )
    shards = [r["shard"] for r in out]
    assert shards == sorted(shards)  # non-decreasing in id order
    assert shards[0] == 0 and shards[-1] == (39 * 50) // 200


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star CC must agree with min-label propagation on
    every topology: long chains (worst case for O(diameter) propagation),
    cycles, hubs, disconnected pieces, a pseudo-random graph, and nodes
    whose only edge is a self-loop. Self-loops stay in the inputs: both
    kernels must report a self-loop-only node as its own component."""
    import random

    from seccosql_spark.graph.algorithms import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    topologies = {
        "chain": [(i, i + 1) for i in range(30)],
        "two_cycles": [(i, (i + 1) % 10) for i in range(10)]
        + [(20 + i, 20 + (i + 1) % 8) for i in range(8)],
        "hub": [(0, i) for i in range(1, 15)] + [(50, 51)],
        "random": [(rng.randrange(40), rng.randrange(40)) for _ in range(60)],
        "self_loops": [(1, 1), (2, 3), (7, 7)],
    }
    for name, edge_list in topologies.items():
        edges = spark.createDataFrame(edge_list, "src LONG, dst LONG")
        naive = {r["id"]: r["component"] for r in connected_components(edges).collect()}
        star = {r["id"]: r["component"] for r in connected_components_star(edges).collect()}
        assert naive == star, (name, naive, star)


def test_approx_distinct_error_bound(sess):
    """approx_count_distinct (HLL++, rsd=0.02) must land within 5% of the
    exact per-day distinct count — the correctness contract of an
    approximate operator."""
    from pyspark.sql import functions as F

    ev = sess.spark.table("events").select(
        F.to_date("ts").alias("day"),
        "user_id",
    )
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy("day").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    approx = {
        r["day"]: r["a"]
        for r in ev.groupBy("day")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    assert exact.keys() == approx.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(1, 0.05 * n), (day, n, approx[day])


def test_decontaminate_ngram_overlap(spark):
    """A train doc repeating any 8-gram from the eval set is dropped; others
    survive; the broadcast-semi-join path returns full train rows."""
    from seccosql_spark.operators.dedup import decontaminate

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    train = spark.createDataFrame(
        [
            (1, f"prefix {shared} suffix tail"),       # contaminated
            (2, "a b c d e f g h i j"),                # clean
            (3, "w1 w2 w3 w4 w5 w6 w7 different end"), # only a 7-gram shared
        ],
        "doc_id LONG, text STRING",
    )
    ev = spark.createDataFrame([(10, f"intro {shared} outro")], "doc_id LONG, text STRING")
    out = decontaminate(train, ev, n=8)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    assert out.columns == ["doc_id", "text"]


def test_bloom_decontaminate_exact_even_with_false_positives(spark):
    """bloom_decontaminate == decontaminate on real data, including with a
    deliberately tiny bitmap (64 bits, 2 probes) where nearly every n-gram
    is a Bloom false positive — the exact verify arm must absorb them all."""
    from seccosql_spark.operators.dedup import bloom_decontaminate, decontaminate
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    expected = sorted(r[0] for r in decontaminate(train, ev, n=8).select("doc_id").collect())
    got = sorted(
        r[0] for r in bloom_decontaminate(train, ev, n=8).select("doc_id").collect()
    )
    assert got == expected
    fp_prone = sorted(
        r[0]
        for r in bloom_decontaminate(train, ev, n=8, bits_log2=6, num_probes=2)
        .select("doc_id")
        .collect()
    )
    assert fp_prone == expected


def test_kmeans_separated_clusters_and_tiebreak(spark):
    """Well-separated points converge to their obvious clusters in one
    update; a point equidistant from two centroids goes to the smaller cid."""
    from seccosql_spark.operators.similarity import kmeans_assign, kmeans_fit

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]), (1, [10.0, 10.0]),       # init seeds (2 smallest ids)
            (2, [0.5, 0.0]), (3, [0.0, 0.5]),          # near cluster 0
            (4, [10.5, 10.0]), (5, [10.0, 10.5]),      # near cluster 1
            (6, [5.125, 5.125]),                        # near the midpoint (either side ok)
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cent = kmeans_fit(emb, k=2, iters=2)
    got = {r["id"]: r["cid"] for r in kmeans_assign(emb, cent).collect()}
    assert {got[0], got[2], got[3]} == {0}
    assert {got[1], got[4], got[5]} == {1}
    # equidistant from both TRAINED centroids -> tie broken to cid 0
    c = {r["cid"]: list(r["c"]) for r in cent.collect()}
    mid = [(a + b) / 2 for a, b in zip(c[0], c[1])]
    tie = spark.createDataFrame([(99, mid)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    sym = abs(sum((m - x) ** 2 for m, x in zip(mid, c[0]))
              - sum((m - x) ** 2 for m, x in zip(mid, c[1]))) < 1e-12
    if sym:  # only assert the tiebreak when the tie is exact in floats
        assert kmeans_assign(tie, cent).collect()[0]["cid"] == 0


def test_repetition_stats_known_values(spark):
    from seccosql_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "x x x y"),     # top word 3/4; 2-grams: [x x, x x, x y] -> 1 dup of 3
            (2, "a b c"),       # no repetition
            (3, "solo"),        # single token: no 2-grams
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: (r["top_word_ratio"], r["dup_2gram_ratio"]) for r in
           repetition_stats(df).collect()}
    assert got[1] == (0.75, round(1 / 3, 6))
    assert got[2] == (round(1 / 3, 6), 0.0)
    assert got[3] == (1.0, 0.0)


def test_redact_pii_counts_and_text(spark):
    from pyspark.sql import functions as F
    from seccosql_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith@corp.io or +1 555-1234 today")],
        "doc_id LONG, text STRING",
    )
    row = redact_pii(df).collect()[0]
    assert (row["n_emails"], row["n_phones"]) == (1, 1)
    expected = df.select(
        F.md5(F.lit("mail me at <EMAIL> or <PHONE> today")).alias("h")
    ).collect()[0]["h"]
    assert row["redacted_md5"] == expected


def test_quantize_int8_bounds_and_zero(spark):
    from seccosql_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {r["vec_id"]: r["q"] for r in quantize_int8(df).collect()}
    assert got[1] == [127, -63, 0]   # floor(-63.5 + 0.5) = -63
    assert got[2] == [0, 0, 0]
    assert all(-128 <= v <= 127 for q in got.values() for v in q)


def test_kcore_rejects_nonpositive_rounds(spark):
    import pytest

    from seccosql_spark.graph.algorithms import kcore

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src LONG, dst LONG")
    with pytest.raises(ValueError, match="max_rounds >= 1"):
        kcore(edges, k=2, max_rounds=0)


def test_lsh_topk_recall(sess):
    """Hyperplane-LSH ANN must be a genuine approximation of brute force:
    recall@3 >= 0.5 on the testdata corpus (measured 0.62 at the 32-plane /
    4-bit-band operating point; a mistuned band length collapses this to
    ~0.05, which this gate catches), while candidate generation stays
    bucketed (no cross join in the plan)."""
    from seccosql_spark.operators.similarity import cosine_topk, lsh_topk

    emb = sess.spark.table("embeddings")
    q = emb.filter("vec_id < 20")
    bf = {(r.query_id, r.rank): r.neighbor_id for r in cosine_topk(emb, q, k=3).collect()}
    ls_df = lsh_topk(emb, q, k=3)
    ls = {(r.query_id, r.rank): r.neighbor_id for r in ls_df.collect()}
    qids = sorted({k[0] for k in bf})
    hits = sum(
        len(
            {bf[(i, r)] for r in (1, 2, 3) if (i, r) in bf}
            & {ls[(i, r)] for r in (1, 2, 3) if (i, r) in ls}
        )
        for i in qids
    )
    total = sum(len({bf[(i, r)] for r in (1, 2, 3) if (i, r) in bf}) for i in qids)
    assert hits / total >= 0.5, f"LSH recall@3 degraded: {hits}/{total}"
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ls_df.explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()


def test_chunk_documents_boundaries(spark):
    """Stride/overlap arithmetic: first end-reaching chunk is last, short
    docs give one chunk, empty docs none, and guards reject bad params."""
    import pytest
    from seccosql_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 11))), (2, "a b c"), (3, "")],
        "doc_id LONG, text STRING",
    )
    out = sorted(
        ((r["id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
         for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect())
    )
    assert out == [
        (1, 0, 4, "t1 t2 t3 t4"),
        (1, 1, 4, "t4 t5 t6 t7"),
        (1, 2, 4, "t7 t8 t9 t10"),
        (2, 0, 3, "a b c"),
    ]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0, overlap=0)


def test_scc_directed_vs_undirected(spark):
    """SCC must not merge one-way links, and must keep a cycle together
    even when its members reach/are-reached-by smaller outside ids (the
    case that breaks double-min-label schemes): {5,6} is one SCC despite
    5->1 and 2->5."""
    from seccosql_spark.graph.algorithms import (
        connected_components,
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(5, 6), (6, 5), (5, 1), (2, 5), (3, 4)], "src BIGINT, dst BIGINT"
    )
    scc = {r["id"]: r["scc"] for r in strongly_connected_components(edges).collect()}
    assert scc == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 5}
    # the undirected CC merges everything reachable ignoring direction
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc[5] == cc[1] == cc[2] == cc[6]


def _scc_random_pairs():
    import random

    rng = random.Random(20260814)
    pairs = sorted({(rng.randrange(50), rng.randrange(50)) for _ in range(130)})
    return [(a, b) for a, b in pairs if a != b]


def _scc_chain_pairs():
    # three nontrivial SCCs chained (condensation depth 3); each cycle's
    # head holds its largest id, so min-id labels never come from the head
    out = []
    for grp in ([100, 1, 2], [50, 51, 52], [90, 10, 11]):
        out += [(grp[i], grp[(i + 1) % len(grp)]) for i in range(len(grp))]
    return out + [(1, 50), (51, 10)]


_SCC_GRAPHS = {
    "random": _scc_random_pairs(),
    # two cycles joined one way, plus a tail out of the second
    "two_cycles_tail": [(i, (i + 1) % 10) for i in range(10)]
    + [(20 + i, 20 + (i + 1) % 8) for i in range(8)]
    + [(3, 21), (27, 40), (40, 41)],
    "forward_chain": [(i, i + 1) for i in range(30)],  # all singletons, ids rise
    "reverse_chain": [(i + 1, i) for i in range(30)],  # ids fall
    # (1, 1) is kept on purpose: a self-loop is its own singleton SCC
    "self_loops": [(1, 1), (2, 3), (3, 2), (4, 5)],
    "scc_chain_adversarial_ids": _scc_chain_pairs(),
}


@pytest.mark.parametrize("graph", list(_SCC_GRAPHS))
def test_scc_coloring_matches_closure_random(spark, graph):
    """Differential: the scalable trim+coloring+backward-reach kernel must
    agree with the exact closure kernel on a random sparse digraph (cycles,
    chains, DAG parts all arise at this density) and on hand-built shapes:
    cycles with a tail, forward and reverse chains, self-loops, and a chain
    of SCCs whose ids defeat min-label propagation."""
    from seccosql_spark.graph.algorithms import (
        strongly_connected_components,
        strongly_connected_components_closure,
    )

    edges = spark.createDataFrame(_SCC_GRAPHS[graph], "src BIGINT, dst BIGINT")
    got = {
        (r["id"], r["scc"])
        for r in strongly_connected_components(edges, local_finish_edges=0).collect()
    }
    want = {
        (r["id"], r["scc"])
        for r in strongly_connected_components_closure(edges, max_rounds=60).collect()
    }
    assert got == want
    # the FCS serial finish (default-on for small remainders) must agree
    # with the pure distributed path on the same graph
    local = {
        (r["id"], r["scc"]) for r in strongly_connected_components(edges).collect()
    }
    assert local == want


def test_scc_scale_shape_no_quadratic_intermediate(spark):
    """The 100x-scale contract (VERDICT r05 task 2): on a hub-and-cycles
    graph the kernel's materialized state stays O(n + m) (never reach-pairs,
    which would be ~n^2/4 here) and inner rounds track the diameter, not n."""
    from seccosql_spark.graph.algorithms import strongly_connected_components

    # two 20-cycles bridged one-way through a hub; diameter ~ 21
    n1, n2 = 20, 20
    pairs = [(i, (i + 1) % n1) for i in range(n1)]
    pairs += [(100 + i, 100 + (i + 1) % n2) for i in range(n2)]
    pairs += [(3, 100), (7, 100), (50, 0), (50, 100)]  # hub 50 + bridges
    edges = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    stats = {}
    scc = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            edges, stats=stats, local_finish_edges=0
        ).collect()
    }
    assert scc[0] == scc[7] == 0 and scc[100] == scc[119] == 100 and scc[50] == 50
    n_nodes, n_edges = 41, len(pairs)
    # reach-pairs would be >= 20*20*2 + cross-cycle pairs ~ 1200; O(n+m) is ~85
    assert stats["max_state_rows"] <= 2 * (n_nodes + n_edges)
    # inner fixpoints are diameter-bounded: each cycle colors in <= n1+1 rounds
    assert stats["color_rounds"] <= n1 + 2
    assert stats["bw_rounds"] <= n1 + 2
    assert stats["outer_passes"] <= 3


def test_scc_nonconvergence_raises(spark):
    """No silent truncation (ADVICE r05): an insufficient round budget must
    raise, in both the coloring kernel and the strict closure kernel."""
    import pytest

    from seccosql_spark.graph.algorithms import (
        strongly_connected_components,
        strongly_connected_components_closure,
    )

    # one 12-cycle: coloring needs ~12 rounds; closure reach needs ~12 joins
    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], "src BIGINT, dst BIGINT"
    )
    # local_finish_edges=0 pins the distributed path: the FCS serial finish
    # (exact, no truncation) would otherwise solve this tiny graph locally
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(edges, max_rounds=3, local_finish_edges=0)
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components_closure(edges, max_rounds=3)


def test_scc_local_finish_serial_tarjan(spark):
    """r16 FCS optimization (Salihoglu & Widom VLDB'14): small remainders
    are finished serially. The serial Tarjan must agree with the closure
    oracle, fire exactly when the post-trim remainder fits the threshold,
    and compose with trim peeling (trimmed singletons + local core)."""
    import random

    from seccosql_spark.graph.algorithms import (
        _local_scc,
        strongly_connected_components,
        strongly_connected_components_closure,
    )

    # pure serial kernel: two cycles + a bridge + an isolated node
    pairs = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10)]
    got = dict(_local_scc([1, 2, 3, 10, 11, 99], pairs))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    # kernel-level: a chain into a cycle — trim peels the chain, FCS
    # finishes the cycle; stats must record the local remainder size
    edges = spark.createDataFrame(
        [(20, 21), (21, 22), (22, 5), (5, 6), (6, 7), (7, 5)],
        "src BIGINT, dst BIGINT",
    )
    stats = {}
    scc = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(edges, stats=stats).collect()
    }
    assert scc == {20: 20, 21: 21, 22: 22, 5: 5, 6: 5, 7: 5}
    assert stats["local_finish_edges"] == 3  # the 3-cycle remains after trim
    assert stats["color_rounds"] == 0 and stats["bw_rounds"] == 0

    # differential on a random digraph: FCS-on must equal the closure oracle
    rng = random.Random(20260817)
    rpairs = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(110)})
    rpairs = [(a, b) for a, b in rpairs if a != b]
    redges = spark.createDataFrame(rpairs, "src BIGINT, dst BIGINT")
    got_fcs = {
        (r["id"], r["scc"]) for r in strongly_connected_components(redges).collect()
    }
    want = {
        (r["id"], r["scc"])
        for r in strongly_connected_components_closure(redges, max_rounds=60).collect()
    }
    assert got_fcs == want


def test_bloom_bitmap_fold_is_word_bounded(spark):
    """The bitmap build is distributed (VERDICT r05 finding 2): the driver
    collect is bounded by the WORD count m/64, never by |eval n-grams| x k.
    2000 distinct grams x 5 probes = 10k positions must collapse to <= 64
    word rows at m=4096, and the folded bits must equal the per-position
    reference fold."""
    from pyspark.sql import functions as F

    from seccosql_spark.operators.dedup import _fold_bitmap_words

    m, k = 4096, 5
    eg = spark.range(2000).select(F.concat(F.lit("gram-"), F.col("id")).alias("s"))

    def probes(col):
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]

    rows = _fold_bitmap_words(eg, probes, m)
    assert len(rows) <= m >> 6
    got = [0] * (m >> 6)
    for r in rows:
        got[r["w"]] = r["word"] & ((1 << 64) - 1)
    want = [0] * (m >> 6)
    for r in eg.select(F.explode(F.array(*probes(F.col("s")))).alias("p")).collect():
        want[r["p"] >> 6] |= 1 << (r["p"] & 63)
    assert got == want


def test_image_codec_roundtrip():
    """Real codec: encode->decode round-trips for P6/P5/BMP, including the
    formats' tricky parts — netpbm header comments, BMP 4-byte row padding
    (width=3 gives stride 12 over 9 payload bytes), and top-down
    negative-height BMPs."""
    import struct

    from seccosql_spark.operators.multimodal import (
        decode_image_bytes,
        encode_bmp,
        encode_pgm,
        encode_ppm,
    )

    px = bytes(range(3 * 2 * 3))  # 3x2 RGB
    for enc, fmt in ((encode_ppm, "ppm"), (encode_bmp, "bmp")):
        w, h, f, n, s = decode_image_bytes(enc(3, 2, px))
        assert (w, h, f, n, s) == (3, 2, fmt, 6, sum(px)), fmt
    # PGM grayscale
    g = bytes([7, 250, 0, 13])
    assert decode_image_bytes(encode_pgm(2, 2, g)) == (2, 2, "pgm", 4, sum(g))
    # netpbm comment lines in the header must be skipped
    commented = b"P6\n# made by a test\n3 2\n# another\n255\n" + px
    assert decode_image_bytes(commented) == (3, 2, "ppm", 6, sum(px))
    # top-down BMP (negative height) decodes to the same sum/dims
    bmp = bytearray(encode_bmp(3, 2, px))
    struct.pack_into("<i", bmp, 22, -2)
    assert decode_image_bytes(bytes(bmp)) == (3, 2, "bmp", 6, sum(px))
    # unsupported magic raises loudly, never a fake answer
    import pytest

    with pytest.raises(ValueError, match="magic"):
        decode_image_bytes(b"\xff\xd8\xff\xe0JFIF")  # JPEG: genuinely unsupported
    # a bare PNG signature is now a RECOGNIZED format that fails chunk
    # validation, not an unknown magic
    with pytest.raises(ValueError, match="IHDR"):
        decode_image_bytes(b"\x89PNG\r\n\x1a\n")


def test_decode_image_spark_path(spark):
    """decode_image over mapInPandas: mixed PPM/BMP payload column decodes
    to the synthesized dimensions and pixel sums."""
    from seccosql_spark.operators.multimodal import decode_image, synthesize_images

    docs = spark.range(0, 9).select(F.col("id").alias("doc_id"))
    out = {r["doc_id"]: r for r in decode_image(synthesize_images(docs)).collect()}
    assert len(out) == 9
    for d, r in out.items():
        assert (r["width"], r["height"]) == (4 + d % 5, 3 + d % 4)
        assert r["format"] == ("ppm", "bmp", "pgm")[d % 3]
        channels = 1 if d % 3 == 2 else 3
        want = sum(
            (d * 31 + y * 7 + x * 3 + c) % 256
            for y in range(r["height"])
            for x in range(r["width"])
            for c in range(channels)
        )
        assert r["pixel_sum"] == want, d


def test_lsh_multiprobe_clustered(spark):
    """The production-ANN claim (VERDICT r05 task 6): on data with real
    neighbor structure (planted neighbors at cosine ~0.9, like a dedup or
    retrieval corpus), tight 8-bit bands with two multi-probe flips reach
    recall@3 >= 0.9 while scanning under 20% of the corpus. (On the
    near-random testdata embeddings — true neighbors at cosine ~0.33 — no
    hyperplane-LSH setting can reach that frontier; see COVERAGE.md for
    the measured sweep and the information-theoretic argument.)"""
    import random

    from seccosql_spark.operators.similarity import (
        cosine_topk,
        lsh_hyperplane_bands,
        lsh_topk,
    )

    rng = random.Random(20260814)
    dim, rows = 64, []

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    vid = 0
    for _q in range(20):  # 20 query points, 3 planted neighbors each
        center = unit()
        for j in range(4):
            noisy = [c + rng.gauss(0, 0.06) for c in center]  # |noise|~0.48 -> cosine ~0.9
            rows.append((vid, noisy if j else center))
            vid += 1
    for _ in range(400):  # distractors
        rows.append((vid, unit()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>").cache()
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") % 4 == 0).filter(F.col("vec_id") < 80).cache()
    n_q = queries.count()
    bf = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, queries, k=3, band_size=8, probe_flips=2).collect()
    }
    recall = len(got & bf) / len(bf)
    cb = lsh_hyperplane_bands(emb, band_size=8)
    qb = lsh_hyperplane_bands(queries, band_size=8, probe_flips=2)
    n_cand = (
        qb.withColumnRenamed("id", "query_id")
        .join(cb.withColumnRenamed("id", "neighbor_id"), ["band", "val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .count()
    )
    frac = n_cand / (n_q * (n_corpus - 1))
    assert recall >= 0.9, f"clustered recall@3 = {recall:.3f}"
    assert frac <= 0.20, f"candidate fraction = {frac:.3f}"


def test_mixture_sample_monotone_and_exact(spark):
    """mixture_sample: rate 1.0 keeps every row, 0.0 drops every row, and
    raising a stratum's rate only ADDS rows (hash-threshold monotonicity —
    the property that keeps incremental re-mixes cheap)."""
    from seccosql_spark.operators.sampling import mixture_sample

    rows = [(i, f"s{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = mixture_sample(df, "source", {"s0": 1.0, "s1": 0.0}, "doc_id", 0.3)
    got = {(r["doc_id"], r["source"]) for r in out.collect()}
    assert {s for _, s in got} <= {"s0", "s2"}
    assert sum(1 for _, s in got if s == "s0") == 100  # rate 1.0 = all
    low = {
        r["doc_id"]
        for r in mixture_sample(df, "source", {"s2": 0.2}, "doc_id", 0.0).collect()
    }
    high = {
        r["doc_id"]
        for r in mixture_sample(df, "source", {"s2": 0.6}, "doc_id", 0.0).collect()
    }
    assert low <= high and len(low) < len(high)
    import pytest

    with pytest.raises(ValueError, match="rate"):
        mixture_sample(df, "source", {"s0": 1.5}, "doc_id")


def test_wav_codec_roundtrip_and_chunk_walk():
    """WAV codec: encode->decode round-trip, chunk-walking robustness (an
    extra LIST chunk before fmt/data, odd-size word alignment), and loud
    failures on non-PCM16 or truncated containers."""
    import struct

    import numpy as np
    import pytest

    from seccosql_spark.operators.multimodal import decode_audio_bytes, encode_wav

    s = np.array([1000, -2000, 3000, -4000, 5000, -6000], dtype="<i2")
    assert decode_audio_bytes(encode_wav(22050, 2, s.tobytes())) == (
        22050, 2, 3, int(s.sum()),
    )
    # inject a LIST chunk with an odd payload size between WAVE and fmt:
    # a real-world layout that breaks fixed-44-byte-offset readers
    wav = encode_wav(8000, 1, s.tobytes())
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded to even
    patched = wav[:12] + extra + wav[12:]
    assert decode_audio_bytes(patched) == (8000, 1, 6, int(s.sum()))
    with pytest.raises(ValueError, match="RIFF"):
        decode_audio_bytes(b"OggS" + b"\x00" * 40)
    # 8-bit WAV must be rejected, not misread
    bad = bytearray(encode_wav(8000, 1, s.tobytes()))
    struct.pack_into("<H", bad, 34, 8)
    with pytest.raises(ValueError, match="PCM16"):
        decode_audio_bytes(bytes(bad))
    with pytest.raises(ValueError, match="frames"):
        encode_wav(8000, 2, b"\x00\x01\x02")


def test_gif_codec_roundtrip_and_lzw():
    """Animated-GIF codec: multi-frame encode->decode round-trip (geometry,
    delays, pixel sums), frames large enough to force multi-sub-block LZW
    streams and mid-stream CLEAR codes, a general-LZW decode of a
    compress-style stream (code-width growth + KwKwK + 12-bit cap), and
    loud failures on bad magic / interlaced frames."""
    import numpy as np
    import pytest

    from seccosql_spark.operators.multimodal import (
        _lzw_decode,
        decode_gif_frames_bytes,
        encode_gif,
    )

    f0 = bytes([10, 20, 30, 40, 50, 60])  # 3x2
    f1 = bytes([200, 201, 202, 203])  # 2x2
    payload = encode_gif([(0, 0, 3, 2, 5, f0), (1, 1, 2, 2, 7, f1)], 8, 6)
    assert decode_gif_frames_bytes(payload) == [
        (0, 0, 0, 3, 2, 5, 6, sum(f0)),
        (1, 1, 1, 2, 2, 7, 4, sum(f1)),
    ]
    # big frame: >255-byte LZW stream (multi sub-block) + periodic CLEARs
    big = bytes(range(256)) * 40  # 10240 px, 64x160
    (frame,) = decode_gif_frames_bytes(encode_gif([(0, 0, 64, 160, 10, big)], 64, 160))
    assert frame[6] == 64 * 160 and frame[7] == sum(big)
    # general LZW: compress-style encoder with growing code widths; the
    # decoder must track the one-entry lag, the KwKwK case, and the 4096 cap
    def ref_encode(mcs, data):
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = eoi + 1, mcs + 1
        acc = nbits = 0
        buf = bytearray()

        def emit(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear)
        s = b""
        for c in bytes(data):
            sc = s + bytes([c])
            if sc in table:
                s = sc
                continue
            emit(table[s])
            if next_code < 4096:
                table[sc] = next_code
                if next_code == (1 << width) - 1 and width < 12:
                    width += 1
                next_code += 1
            s = bytes([c])
        if s:
            emit(table[s])
        emit(eoi)
        if nbits:
            buf.append(acc & 0xFF)
        return bytes(buf)

    rng = np.random.RandomState(11)
    for data in (
        b"\x01\x02" * 500 + b"\x01\x01\x01\x01",  # KwKwK trigger
        (b"\x00" * 9000 + b"\x01\x00\x01" * 3000) * 2,  # deep table, 12-bit cap
        rng.randint(0, 8, size=5000).astype(np.uint8).tobytes(),
    ):
        assert _lzw_decode(3, ref_encode(3, data)) == data
    with pytest.raises(ValueError, match="GIF"):
        decode_gif_frames_bytes(b"\x89PNG\r\n\x1a\n")
    interlaced = bytearray(payload)
    # frame 0's image descriptor sits after header(13) + GCT(768) +
    # NETSCAPE ext(19) + GCE(8); set its interlace flag (packed byte +9)
    idx = 13 + 768 + 19 + 8
    assert interlaced[idx] == 0x2C
    interlaced[idx + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif_frames_bytes(bytes(interlaced))


def test_decode_gif_frames_spark_path(spark):
    """decode_gif_frames over mapInPandas: 1-to-N frame expansion matches
    the closed-form synthesis rule for every doc and frame."""
    from seccosql_spark.operators.multimodal import decode_gif_frames, synthesize_gifs

    docs = spark.range(0, 7).select(F.col("id").alias("doc_id"))
    rows = decode_gif_frames(synthesize_gifs(docs)).collect()
    assert len(rows) == sum(2 + d % 3 for d in range(7))
    for r in rows:
        d, f = r["doc_id"], r["frame_idx"]
        assert (r["x_off"], r["y_off"]) == ((d + f) % 3, f % 2)
        assert (r["width"], r["height"]) == (3 + (d + f) % 4, 2 + (d + 2 * f) % 3)
        assert r["delay_cs"] == 4 + f
        want = sum(
            (d * 29 + f * 17 + y * 7 + x * 3) % 256
            for y in range(r["height"])
            for x in range(r["width"])
        )
        assert (r["n_pixels"], r["pixel_sum"]) == (r["width"] * r["height"], want)


def test_zvalue_interleave_exact(spark):
    """zvalue == the reference Morton interleave for hand-computed points,
    and is monotone-compatible with locality: neighbors in both dims get
    nearby z-values."""
    from seccosql_spark.operators.layout import zvalue

    def ref_z(vals, bits=16):
        z = 0
        for b in range(bits):
            for j, v in enumerate(vals):
                z += ((v >> b) & 1) << (b * len(vals) + j)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(pts, "x LONG, y LONG")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zvalue([F.col("x"), F.col("y")]).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == ref_z([x, y]), (x, y)
    import pytest

    with pytest.raises(ValueError, match="64-bit"):
        zvalue([F.col("x")] * 5, bits=16)


def test_zorder_layout_clusters_both_dims(spark):
    """The layout property that buys multi-dim file skipping: after
    zorder_layout into 16 range partitions, the average per-partition span
    of EACH dimension is far below the global span (a lexicographic sort
    clusters only its leading column; the trailing dim's spans stay
    global)."""
    from seccosql_spark.operators.layout import zorder_layout

    n = 64
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x LONG, y LONG"
    )
    parts = (
        zorder_layout(grid, ["x", "y"], num_partitions=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(parts) == 16
    avg_sx = sum(r["sx"] for r in parts) / len(parts)
    avg_sy = sum(r["sy"] for r in parts) / len(parts)
    # global span is 63; a 16-way z-order split keeps both dims tight
    assert avg_sx <= 63 / 2, avg_sx
    assert avg_sy <= 63 / 2, avg_sy


def test_substring_dup_stats_semantics(spark):
    """Hand-built corpus: doc 0 and doc 1 share one verbatim 10-word run
    (and nothing else that long); doc 2 is unique; doc 3 is too short for
    any window. Counts and fractions must be exact."""
    from seccosql_spark.operators.dedup import substring_dup_stats

    shared = " ".join(f"s{i}" for i in range(10))
    docs = [
        (0, shared + " a b c"),           # 6 windows, 1 duplicated
        (1, "x y " + shared),             # 3 windows, 1 duplicated
        (2, " ".join(f"u{i}" for i in range(12))),  # 3 windows, 0 dup
        (3, "too short"),                 # no windows
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in substring_dup_stats(df, n=10).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0]["n_windows"], got[0]["n_dup_windows"]) == (4, 1)
    assert (got[1]["n_windows"], got[1]["n_dup_windows"]) == (3, 1)
    assert (got[2]["n_windows"], got[2]["n_dup_windows"]) == (3, 0)
    assert got[1]["dup_fraction"] == round(1 / 3, 6)


def test_read_binary_files_connector(sess, tmp_path):
    """binaryFile scan: glob pruning + content round-trip."""
    from seccosql_spark.sources.connectors import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x01\x02\x03")
    (tmp_path / "b.bin").write_bytes(b"\x04")
    (tmp_path / "skip.txt").write_bytes(b"nope")
    rows = read_binary_files(sess, str(tmp_path), glob="*.bin").df.collect()
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in rows}
    assert got == {"a.bin": b"\x01\x02\x03", "b.bin": b"\x04"}
    assert all(r["length"] == len(bytes(r["content"])) for r in rows)


def test_ktruss_two_cliques(spark):
    """Hand-built graph: two 4-cliques joined by a bridge plus a pendant
    edge. The 4-truss is exactly the two cliques' 12 edges, each closing 2
    triangles; bridge and pendant peel away. k<3 rejected."""
    import pytest

    from seccosql_spark.graph.algorithms import ktruss

    def clique(nodes):
        return [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]

    edges = clique([0, 1, 2, 3]) + clique([4, 5, 6, 7]) + [(3, 4), (7, 8)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {(r["a"], r["b"]): r["support"] for r in ktruss(df, 4).collect()}
    want = {e: 2 for e in clique([0, 1, 2, 3]) + clique([4, 5, 6, 7])}
    assert got == want
    # k=5 demands support >= 3: a 4-clique can't provide it -> empty truss
    assert ktruss(df, 5).count() == 0
    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(df, 2)


def test_ktruss_incremental_rounds_are_delta_sized(spark):
    """Scale-shape pin for the incremental peel (VERDICT r07 finding 2):
    after the one-time enumeration, each round touches only the triangles of
    the edges it removes. Graph = a 12-clique (220 triangles, the surviving
    truss) + a disjoint diamond tail that peels in two rounds. The recorded
    per-round `n_destroyed` must be the tail's 2 triangles then 0 — the
    clique's 220 triangles are never re-enumerated, which the old
    full-recount implementation would have done every round."""
    from seccosql_spark.graph.algorithms import ktruss

    nodes = list(range(100, 112))
    clique = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]
    diamond = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]  # two triangles on (1,2)
    df = spark.createDataFrame(clique + diamond, "src LONG, dst LONG")
    stats: list = []
    got = {(r["a"], r["b"]): r["support"] for r in ktruss(df, 4, stats=stats).collect()}
    assert got == {e: 10 for e in clique}  # K12 edge support = 12 - 2
    # round 1: the diamond's four support-1 outer edges go (2 triangles die);
    # round 2: the bare (1,2) edge goes (no triangle left to enumerate)
    assert [(s["n_removed"], s["n_destroyed"]) for s in stats] == [(4, 2), (1, 0)]


def test_containment_subset_doc(spark):
    """A short doc verbatim-embedded in a long doc: containment(short->long)
    = 1.0 while symmetric Jaccard is diluted below threshold — the case
    this operator exists for. Unrelated docs produce no pair."""
    from seccosql_spark.operators.dedup import containment_pairs, minhash_near_dups

    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different words here entirely")],
        "doc_id LONG, text STRING",
    )
    got = {(r["id1"], r["id2"]): r for r in containment_pairs(docs, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["containment12"] == 1.0  # all of short's shingles in long
    assert got[(1, 2)]["containment21"] < 0.2
    # symmetric Jaccard misses it at the same bar
    assert minhash_near_dups(docs, threshold=0.9, shingle_n=3).collect() == []


def test_minhash_incremental_only_cross_pairs(spark):
    """Incremental dedup emits ONLY new-vs-old pairs: a duplicate inside the
    new batch and one inside the old corpus are both ignored; the cross
    duplicate is found with the same jaccard the full pipeline computes."""
    from seccosql_spark.operators.dedup import minhash_incremental_pairs, minhash_near_dups

    t = "alpha beta gamma delta epsilon zeta eta theta"
    old = spark.createDataFrame(
        [(1, t), (2, t), (3, "completely unrelated material lives here")],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [(10, t), (11, t), (12, "fresh unseen content in this batch")],
        "doc_id LONG, text STRING",
    )
    got = {(r["new_id"], r["old_id"]): r["jaccard"]
           for r in minhash_incremental_pairs(new, old, threshold=0.9).collect()}
    assert set(got) == {(10, 1), (10, 2), (11, 1), (11, 2)}
    assert all(j == 1.0 for j in got.values())
    # full symmetric pipeline on the union ALSO finds (1,2) and (10,11);
    # incremental correctly excluded those same-side pairs
    full = {(r["id1"], r["id2"])
            for r in minhash_near_dups(old.unionByName(new), threshold=0.9, shingle_n=3).collect()}
    assert (1, 2) in full and (10, 11) in full


def test_png_codec_roundtrip_and_filters():
    """PNG codec: encode->decode round-trips for RGB and grayscale, a
    hand-filtered image exercising ALL FIVE row filter types (None/Sub/Up/
    Average/Paeth) that the decoder must invert, spec-legal split IDAT +
    ancillary-chunk skipping, and loud rejection of 16-bit depth."""
    import struct
    import zlib

    import pytest

    from seccosql_spark.operators.multimodal import decode_image_bytes, encode_png

    for w, h, ch in [(3, 2, 3), (5, 4, 1)]:
        px = bytes((i * 7 + 3) % 256 for i in range(w * h * ch))
        assert decode_image_bytes(encode_png(w, h, px, channels=ch)) == (
            w, h, "png", w * h, sum(px),
        )

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    w, h, ch = 6, 8, 3
    px = bytes((i * 13 + 5) % 256 for i in range(w * h * ch))
    stride = w * ch
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        row = bytearray(px[y * stride : (y + 1) * stride])
        f = (0, 1, 2, 3, 4)[y % 5]
        filt = bytearray(row)
        if f == 1:
            for i in range(stride - 1, ch - 1, -1):
                filt[i] = (row[i] - row[i - ch]) & 0xFF
        elif f == 2:
            for i in range(stride):
                filt[i] = (row[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                filt[i] = (row[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (row[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(filt)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    z = zlib.compress(bytes(raw))
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"tEXt", b"Comment\x00hi")
        + chunk(b"IDAT", z[:10]) + chunk(b"IDAT", z[10:]) + chunk(b"IEND", b"")
    )
    assert decode_image_bytes(payload) == (w, h, "png", w * h, sum(px))
    bad_ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr)
        + chunk(b"IDAT", z) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="depth"):
        decode_image_bytes(bad)


def test_mp4_probe_box_walk():
    """ISO-BMFF probe: skeleton round-trip (duration/timescale/tracks/
    dimensions), version-1 mvhd with a 90kHz timescale, and loud rejection
    of non-BMFF bytes."""
    import struct

    import pytest

    from seccosql_spark.operators.multimodal import encode_mp4_skeleton, probe_mp4_bytes

    for d in (0, 1, 7, 499):
        dur, w, h = 1000 + (d * 7) % 60000, 16 * (4 + d % 5), 16 * (3 + d % 4)
        got = probe_mp4_bytes(
            encode_mp4_skeleton(dur, (w, h), with_audio_track=bool(d % 2))
        )
        assert got == (dur, 1000, 1 + d % 2, w, h), (d, got)

    def box(t, b):
        return struct.pack(">I", 8 + len(b)) + t + b

    mvhd_v1 = box(
        b"mvhd",
        struct.pack(">B3x", 1) + struct.pack(">QQIQ", 0, 0, 90000, 90000 * 7)
        + b"\x00" * 80,
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">B3B", 0, 0, 0, 7) + struct.pack(">IIII", 0, 0, 1, 0)
        + struct.pack(">I", 0) + b"\x00" * 8 + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 320 << 16, 240 << 16),
    )
    payload = (
        box(b"ftyp", b"isom" + struct.pack(">I", 512))
        + box(b"moov", mvhd_v1 + box(b"trak", tkhd))
    )
    assert probe_mp4_bytes(payload) == (7000, 90000, 1, 320, 240)
    with pytest.raises(ValueError):
        probe_mp4_bytes(b"RIFF" + b"\x00" * 100)


def test_ppjoin_matches_bruteforce(spark):
    """Prefix filtering must lose NOTHING: ppjoin output == brute-force
    all-pairs Jaccard >= t on a corpus engineered with exact-threshold
    pairs, disjoint docs, and identical docs."""
    from itertools import combinations

    from seccosql_spark.operators.dedup import ppjoin_pairs

    docs = [
        (0, "a b c d e f g h i j"),       # 10 tokens
        (1, "a b c d e f g h i k"),       # J = 9/11 with doc 0
        (2, "a b c d e f g h i j"),       # identical to 0 -> J = 1
        (3, "z y x w v u t s r q"),       # disjoint
        (4, "a b c d e f g h i"),         # subset of 0: J = 9/10 (= t exactly)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ppjoin_pairs(
            df, threshold_num=9, threshold_den=10, shingle_n=None
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for i, j in combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        union = len(sets[i] | sets[j])
        if 10 * inter >= 9 * union:
            want[(i, j)] = round(inter / union, 6)
    assert got == want  # {(0,2): 1.0, (0,4): 0.9, (2,4): 0.9}
    assert (0, 4) in got  # the exact-threshold pair survives the gate


def test_pack_sequences_greedy_boundaries(spark):
    """Boundary-reset semantics: an oversized document gets its own
    sequence; resets happen exactly when the next doc would overflow; group
    boundaries (id DIV part_size) restart the numbering."""
    from seccosql_spark.operators.packing import pack_sequences_greedy

    rows = [(0, 60), (1, 30), (2, 20), (3, 150), (4, 10), (64, 90), (65, 90)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tokens INT")
    got = {
        r["doc_id"]: (r["part"], r["seq"])
        for r in pack_sequences_greedy(df, capacity=100, part_size=64).collect()
    }
    # part 0: 60 -> seq0 (cum 60); +30 -> 90; +20 would be 110 -> seq1 (cum 20);
    # +150 > 100 -> seq2 alone; +10 -> 150+10 > 100 -> seq3
    assert got == {
        0: (0, 0), 1: (0, 0), 2: (0, 1), 3: (0, 2), 4: (0, 3),
        64: (1, 0), 65: (1, 1),
    }


def test_new_operator_argument_guards(spark):
    """Error paths of the round-8 operators: loud rejection beats silent
    nonsense at 100 TB."""
    import pytest

    from seccosql_spark.graph.algorithms import (
        hits,
        maximal_independent_set,
        maximal_matching,
        personalized_pagerank,
    )
    from seccosql_spark.operators.dedup import ppjoin_pairs
    from seccosql_spark.operators.packing import pack_sequences_greedy
    from seccosql_spark.operators.similarity import pq_codes

    docs = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    edges = spark.createDataFrame([(1, 2)], "src LONG, dst LONG")
    emb = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="0 < t <= 1"):
        ppjoin_pairs(docs, threshold_num=3, threshold_den=2)
    with pytest.raises(ValueError, match="capacity/part_size"):
        pack_sequences_greedy(docs.selectExpr("doc_id", "2 AS n_tokens"), capacity=0)
    with pytest.raises(ValueError, match="divisible"):
        pq_codes(emb, m=2)
    with pytest.raises(ValueError, match="rounds >= 1"):
        hits(edges, rounds=0)
    with pytest.raises(ValueError, match="non-empty source set"):
        personalized_pagerank(edges, [])
    with pytest.raises(ValueError, match="max_rounds >= 1"):
        maximal_independent_set(edges, max_rounds=0)
    with pytest.raises(ValueError, match="max_rounds >= 1"):
        maximal_matching(edges, max_rounds=0)


def _rand_edges(seed: int, n_nodes: int, n_edges: int):
    """Deterministic pseudo-random edge list (no RNG state dependence)."""
    import hashlib

    out = set()
    i = 0
    while len(out) < n_edges:
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        a, b = int(h[:8], 16) % n_nodes, int(h[8:16], 16) % n_nodes
        i += 1
        if a != b:
            out.add((min(a, b), max(a, b)))
    return sorted(out)


def _py_ktruss(edges, k):
    """Reference peel: recompute all supports each round (the pre-round-8
    algorithm, trivially correct on small graphs)."""
    es = set(edges)
    while True:
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {e: len(nbrs[e[0]] & nbrs[e[1]]) for e in es}
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return {e: s for e, s in sup.items()}
        es -= drop


def test_ktruss_incremental_matches_reference_on_random_graphs(spark):
    """Differential: the incremental support-maintenance peel must equal the
    full-recount reference on deterministic random graphs across seeds and
    k — the strongest guard against decrement-bookkeeping bugs (double
    decrements when a triangle loses 2 edges at once, missed 0-support
    edges, etc.)."""
    from seccosql_spark.graph.algorithms import ktruss

    for seed, k in [(1, 3), (2, 4), (3, 5)]:
        edges = _rand_edges(seed, 24, 80)
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        got = {(r["a"], r["b"]): r["support"] for r in ktruss(df, k).collect()}
        assert got == _py_ktruss(edges, k), (seed, k)


def test_mis_and_matching_structural_properties(spark):
    """The fixed oracles pin exact outputs; these pin the STRUCTURE on
    random graphs: the MIS is independent and maximal, the matching is a
    matching and maximal."""
    from seccosql_spark.graph.algorithms import maximal_independent_set, maximal_matching

    for seed in (11, 12):
        edges = _rand_edges(seed, 30, 90)
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        nbr = {}
        for a, b in edges:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)

        mis = {r["id"] for r in maximal_independent_set(df).collect() if r["in_mis"]}
        assert all(not (mis & nbr[v]) for v in mis)  # independent
        # maximal: every non-member has a member neighbor
        assert all(mis & nbr[v] for v in nbr if v not in mis)

        m = [(r["a"], r["b"]) for r in maximal_matching(df).collect() if r["in_matching"]]
        touched = [v for e in m for v in e]
        assert len(touched) == len(set(touched))  # vertex-disjoint
        matched = set(touched)
        # maximal: no remaining edge with both endpoints unmatched
        assert all(a in matched or b in matched for a, b in edges)


def test_minhash_lsh_is_subset_of_exact_ppjoin(spark):
    """Cross-algorithm consistency on the real corpus: MinHash-LSH at
    (t=0.5, 3-shingles) can only MISS true pairs (banding), never invent
    them — its verified output must be a subset of the exact PPJoin result
    with identical jaccard values on the shared pairs."""
    from seccosql_spark.operators.dedup import minhash_near_dups, ppjoin_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ppjoin_pairs(docs, threshold_num=1, threshold_den=2).collect()
    }
    lsh = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in minhash_near_dups(docs, threshold=0.5, shingle_n=3).collect()
    }
    assert set(lsh) <= set(exact)
    # ppjoin emits round(j, 6); the raw operator emits the unrounded ratio
    assert all(exact[p] == round(j, 6) for p, j in lsh.items())
    assert len(exact) > 0  # non-vacuous


def test_c4_segment_dedup_keep_one_copy(spark):
    """Keep-one-global-copy semantics: the smallest (doc_id, pos) occurrence
    of a repeated segment survives, every other occurrence (cross-doc AND
    within-doc) is deleted; unique segments always survive; a doc whose
    every segment was seen earlier comes back as ''."""
    from seccosql_spark.operators.dedup import c4_segment_dedup

    seg_a = "a b c d"          # shared by docs 0, 1, 2 (and twice in doc 1)
    seg_b = "e f g h"          # only doc 1
    docs = spark.createDataFrame(
        [
            (0, seg_a),                                  # 1 segment, kept
            (1, f"{seg_a} {seg_b} {seg_a}"),             # dup of a (x2) cut, b kept
            (2, seg_a),                                  # everything cut
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
        for r in c4_segment_dedup(docs, seg_words=4).collect()
    }
    assert got[0] == (1, 1, seg_a)
    assert got[1] == (3, 1, seg_b)   # both copies of seg_a removed, order kept
    assert got[2] == (1, 0, "")


def test_hits_raises_on_int64_overflow_risk(spark):
    """Unnormalized HITS on a dense graph grows like (deg^2)^rounds; Spark
    (non-ANSI) would WRAP silently where DuckDB errors. The guard must
    raise OverflowError before a wrapping summation can happen (ADVICE
    r08), and normal small cases must be unaffected."""
    import pytest

    from seccosql_spark.graph.algorithms import hits

    # complete bipartite K8x8: after round r, scores ~ 8^(2r); 20 rounds
    # pushes past (2^63-1)/|E| long before wrapping itself occurs
    edges = spark.createDataFrame(
        [(i, 100 + j) for i in range(8) for j in range(8)], "src LONG, dst LONG"
    )
    with pytest.raises(OverflowError, match="hits: unnormalized"):
        hits(edges, rounds=20)
    # 2 rounds on the same graph stays comfortably within range
    out = {r["id"]: (r["hub"], r["auth"]) for r in hits(edges, rounds=2).collect()}
    # round 1: a=8, h=8*8; round 2: a=8*64=512, h=8*512=4096
    assert out[0] == (4096, 0)


def test_connected_components_strict_raises_on_budget(spark):
    """strict=True must fail loudly when the component diameter exceeds the
    round budget (min-id propagation needs ~diameter rounds on a path) —
    silently split clusters are wrong answers, not slow ones."""
    import pytest

    from seccosql_spark.graph.algorithms import connected_components

    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src LONG, dst LONG"
    )
    with pytest.raises(RuntimeError, match="still .* changing"):
        connected_components(path_edges, max_rounds=2, strict=True)
    # default (non-strict) keeps legacy truncation semantics: returns
    # without raising, labels not yet converged
    trunc = connected_components(path_edges, max_rounds=2)
    assert trunc.select("component").distinct().count() > 1
    # a large enough budget converges to ONE component
    full = connected_components(path_edges, max_rounds=20, strict=True)
    assert full.select("component").distinct().count() == 1
    # converging on EXACTLY the last budgeted round is success, not failure:
    # min-id needs diameter=12 rounds on this path, so round 12 still makes
    # progress — the extra zero-change probe must confirm fixpoint instead
    # of raising on a correct answer (ADVICE r09)
    exact = connected_components(path_edges, max_rounds=12, strict=True)
    assert exact.select("component").distinct().count() == 1
    with pytest.raises(ValueError, match="max_rounds >= 1"):
        connected_components(path_edges, max_rounds=0, strict=True)


def test_temperature_quota_expression_survives_1e9_docs(spark):
    """ADVICE r10: the quota expression in sample_temperature_mix must stay
    in DECIMAL(38,0) through the M * s6 product — Spark's DIV returns BIGINT
    even on decimal operands, so '(... DIV 5) * s6' is a 64-bit multiply
    that overflows at n_total=1e9 with one dominant source (silently wraps
    with ANSI off). Evaluate the exact production expression on synthetic
    large counts and pin it to Python bigint math."""
    # one dominant source: n_s = 1e9 -> s6 = floor(sqrt(1e9)*1e6) ~ 3.16e13;
    # M = n_total*2 DIV 5 = 4e8; M*s6 ~ 1.26e22 >> 2^63-1 ~ 9.2e18
    n_s = 1_000_000_000
    n_total = n_s + 5
    s6 = int((n_s ** 0.5) * 1_000_000)
    t6 = s6 + 2_236_067  # + tiny second source
    row = spark.createDataFrame(
        [(n_total, s6, t6)], "n_total LONG, s6 LONG, t6 LONG"
    )
    expr = (
        "CAST(CAST(CAST(n_total AS DECIMAL(38,0)) * 2 DIV 5 AS DECIMAL(38,0))"
        " * s6 DIV t6 AS BIGINT)"
    )
    got = row.selectExpr(f"{expr} AS q").collect()[0]["q"]
    want = (n_total * 2 // 5) * s6 // t6  # Python ints = HUGEINT oracle math
    assert got == want
    assert 0 < want < n_total  # sanity: quota is a real sub-budget


def test_bpe_encode_expr_applies_ordered_merges_map_only(spark):
    """bpe_encode_expr must (a) apply rules IN ORDER — rule 2 can consume
    tokens rule 1 produced, (b) keep greedy leftmost-first overlap semantics
    ('aaaa' + (a,a) -> aa,aa), and (c) stay a single map-only projection
    (no exchange in the plan)."""
    from seccosql_spark.operators.text import bpe_encode_expr, bpe_split_expr

    df = spark.createDataFrame(
        [("aaaa",), ("aab",), ("baaab",), ("x",), ("ab",)], "w STRING"
    )
    enc = df.select("w", bpe_split_expr("w").alias("s")).select(
        "w", bpe_encode_expr("s", [("a", "a"), ("aa", "b")]).alias("toks")
    )
    got = {r["w"]: r["toks"] for r in enc.collect()}
    assert got["aaaa"] == ["aa", "aa"]          # greedy overlap, rule 1
    assert got["aab"] == ["aab"]                # rule 1 then rule 2 chains
    # rule 1 leaves [b, aa, a, b]; rule 2 (aa,b) does NOT fire because the
    # 'a' between them survives — ordered single-pass semantics, no re-scan
    assert got["baaab"] == ["b", "aa", "a", "b"]
    assert got["x"] == ["x"]                    # 1-symbol word, no pairs
    assert got["ab"] == ["a", "b"]              # no rule matches
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "encode fold must be map-only"
    # escaping: a rule containing quote/backslash must not break the splice
    tricky = spark.createDataFrame([("a'\\a",)], "w STRING")
    tr = tricky.select(bpe_split_expr("w").alias("s")).select(
        bpe_encode_expr("s", [("'", "\\")]).alias("toks")
    )
    assert tr.collect()[0]["toks"] == ["a", "'\\", "a"]


def test_ivf_pq_rerank_recall(spark):
    """IVF+PQ+refine quality pin (measured, not asserted-by-hope): on the
    unstructured synthetic embeddings the raw 4-bit ADC ranking is weak
    (distance concentration), but the exact-rerank tier restores full
    recall — routing recall is 1.0 (all true neighbors land in the probed
    cells) and the default ADC@150 shortlist contains all of them (@100
    missed one at sf0.001, which is why the default is 150). Exact top-10
    computed independently in Python over the collected vectors."""
    from seccosql_spark.operators.similarity import ivf_pq_topk
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    q = vecs[min(vecs)]

    def d2(v):
        acc = 0.0
        for a, b in zip(q, v):
            acc += (a - b) * (a - b)
        return acc

    exact10 = [vid for _, vid in sorted((d2(v), vid) for vid, v in vecs.items())[:10]]
    reranked = [r["vec_id"] for r in ivf_pq_topk(emb).collect()]
    assert reranked == exact10, (reranked, exact10)
    # the ADC-only tier is deliberately lossy — document the measured gap
    adc_only = {r["vec_id"] for r in ivf_pq_topk(emb, rerank_r=None).collect()}
    assert len(adc_only & set(exact10)) < 10


def test_float32_decimal_tie_rounding_discipline(spark):
    """Regression pin for the r10 sf0.1 sweep find: float32 values are
    dyadic, so they land EXACTLY on 9th-decimal .5 ties (0.1494140625);
    Spark's double->DECIMAL(28,9) CAST rounds HALF_UP where DuckDB's casts
    half-even — the decimal-mean recipe over embeddings MUST round(x, 9)
    BEFORE the cast, because round() is ties-away in both engines. This
    test pins both halves: the raw-cast divergence exists (so nobody
    "simplifies" the round away believing casts agree), and the
    round-then-cast path agrees, at the exact tie, both signs."""
    import duckdb
    from decimal import Decimal

    tie = 0.1494140625  # float32-exact, 10th decimal digit is an exact 5
    row = spark.createDataFrame([(tie,), (-tie,)], "v DOUBLE")
    got = {
        float(r["v"]): (r["raw"], r["disciplined"])
        for r in row.select(
            "v",
            F.col("v").cast("decimal(28,9)").alias("raw"),
            F.round("v", 9).cast("decimal(28,9)").alias("disciplined"),
        ).collect()
    }
    con = duckdb.connect()
    duck = {
        v: (r, d)
        for v, r, d in con.sql(
            f"SELECT v, CAST(v AS DECIMAL(28,9)), CAST(round(v, 9) AS DECIMAL(28,9))"
            f" FROM (SELECT unnest([{tie}::DOUBLE, -{tie}::DOUBLE]) AS v)"
        ).fetchall()
    }
    # the disciplined path agrees at the tie, both signs, both engines
    assert got[tie][1] == duck[tie][1] == Decimal("0.149414063")
    assert got[-tie][1] == duck[-tie][1] == Decimal("-0.149414063")
    # the raw casts genuinely diverge (HALF_UP vs half-even) — if this ever
    # starts passing, the round() layer may be droppable, but verify first
    assert got[tie][0] != duck[tie][0]


def test_ann_index_persisted_probe_plan(spark, tmp_path):
    """Build-once/probe-many contract (VERDICT r10 task 5): after
    `build_ivf_pq_index` persists the artifacts, the probe plan must be
    pure joins over the index parquet — no k-means training signature
    (posexplode + decimal mean), no full-corpus embeddings scan (the only
    embeddings read is the pushed-down probe filter), and correct answers
    (probe results == the per-call ivf_pq_topk pipeline for the shared
    min-id probe)."""
    from seccosql_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_probe,
        ivf_pq_topk,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ann_index")
    build_ivf_pq_index(emb, idx, k_coarse=4, m=4, k=4, iters=2)

    probes = emb.where("vec_id < 3")
    out = ivf_pq_index_probe(spark, idx, probes, nprobe=2, m=4, topn=10,
                             rerank_r=150)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # training never appears in the probe plan
    assert "posexplode" not in plan and "PosExplode" not in plan, plan
    # the index tables are what the probe reads
    assert "ann_index" in plan, "probe must scan the persisted index"
    # zero corpus scans in the probe plan: the probe batch is materialized
    # once up front (its pushed-down extraction ran at checkpoint time) and
    # rides the plan as an in-memory scan feeding every join branch
    emb_scans = [
        ln for ln in plan.splitlines()
        if "embeddings.parquet" in ln and "FileScan" in ln
    ]
    assert not emb_scans, emb_scans
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan

    # answers match the per-call pipeline for the shared probe (min id)
    got = [
        r["vec_id"]
        for r in out.where("query_id = 0").orderBy("rank").collect()
    ]
    want = [r["vec_id"] for r in ivf_pq_topk(emb).collect()]
    assert got == want, (got, want)


def test_dhash56_matches_closed_form_and_normalizes_orientation():
    """dhash56 must equal the pure closed-form replay of the synthetic pixel
    rule for every format (PPM/BMP/PGM) — in particular the BMP path, whose
    parser returns bottom-up rows that gray_grid_topdown must flip. Also
    pins that the 60-key synthetic family collapses into >1 and <60 groups
    (the dedup row relies on real grouping)."""
    import numpy as np

    from seccosql_spark.operators.multimodal import (
        dhash56,
        encode_bmp,
        encode_pgm,
        encode_png,
        encode_ppm,
        gray_grid_topdown,
    )

    def synth(d):
        w, h = 4 + d % 5, 3 + d % 4
        ch = 1 if d % 3 == 2 else 3
        idx = np.arange(h * w * ch, dtype=np.int64)
        y, rem = idx // (w * ch), idx % (w * ch)
        x, c = rem // ch, rem % ch
        px = ((d * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8).tobytes()
        return (encode_ppm, encode_bmp, encode_pgm)[d % 3](w, h, px), w, h, ch

    def closed_form(d, grid=8):
        w, h = 4 + d % 5, 3 + d % 4
        ch = 1 if d % 3 == 2 else 3

        def gray(sy, sx):
            if ch == 1:
                return (d * 31 + sy * 7 + sx * 3) % 256
            return sum((d * 31 + sy * 7 + sx * 3 + c) % 256 for c in range(3)) // 3

        hv = 0
        for ty in range(grid):
            for tx in range(grid - 1):
                sy, sx1, sx2 = (ty * h) // grid, (tx * w) // grid, ((tx + 1) * w) // grid
                if gray(sy, sx2) > gray(sy, sx1):
                    hv |= 1 << (ty * (grid - 1) + tx)
        return hv

    hashes = []
    for d in range(60):
        payload, w, h, ch = synth(d)
        assert dhash56(payload) == closed_form(d), d
        assert gray_grid_topdown(payload).shape == (h, w), d
        hashes.append(dhash56(payload))
    assert 1 < len(set(hashes)) < 60

    # PNG path agrees with the PPM path on the same raster (3-channel case)
    d = 3  # d % 3 == 0 -> the synth raster is the PPM one
    payload, w, h, ch = synth(d)
    idx = np.arange(h * w * 3, dtype=np.int64)
    y, rem = idx // (w * 3), idx % (w * 3)
    x, c = rem // 3, rem % 3
    px = ((d * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8).tobytes()
    assert dhash56(encode_png(w, h, px, channels=3)) == dhash56(payload)


def test_scc_string_id_routing_contract(spark):
    """VERDICT r14 task 8: the driver-facing contract that survives
    refactors — the coloring kernel REJECTS non-integral vertex ids with a
    TypeError that names the closure kernel (never silently NULL-keying
    after a cast), and the closure kernel genuinely handles string ids."""
    import pytest

    from seccosql_spark.graph.algorithms import (
        strongly_connected_components,
        strongly_connected_components_closure,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src STRING, dst STRING"
    )
    with pytest.raises(TypeError, match="strongly_connected_components_closure"):
        strongly_connected_components(edges)
    got = {
        (r["id"], r["scc"])
        for r in strongly_connected_components_closure(edges).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "c")}
    # double/decimal ids are equally rejected (a lossy cast, not a refusal
    # of strings specifically)
    dbl = spark.createDataFrame([(1.0, 2.0)], "src DOUBLE, dst DOUBLE")
    with pytest.raises(TypeError, match="integral vertex ids"):
        strongly_connected_components(dbl)


def test_parallelism_first_override_is_per_session():
    """ADVICE r14: two overlapping kernel runs on DIFFERENT SparkSessions
    each get their own parallelismFirst override and restore — a module-
    global depth would skip the second session's set and restore only the
    first. Exercised with dict-backed fakes so the test needs no second
    real JVM session."""
    from seccosql_spark.graph.algorithms import (
        _PF_KEY,
        _SP_KEY,
        _enter_parallelism_first_off,
    )

    class FakeConf:
        def __init__(self, init):
            self.d = dict(init)

        def get(self, k, default=None):
            return self.d.get(k, default)

        def set(self, k, v):
            self.d[k] = v

        def unset(self, k):
            self.d.pop(k, None)

    class FakeSession:
        def __init__(self, init):
            self.conf = FakeConf(init)

    s1 = FakeSession({_PF_KEY: "true", _SP_KEY: "200"})
    s2 = FakeSession({})  # unset -> must be restored by unset
    r1, tune1 = _enter_parallelism_first_off(s1)
    r2, _ = _enter_parallelism_first_off(s2)  # second SESSION, depth must not short-circuit
    assert s1.conf.get(_PF_KEY) == "false"
    assert s2.conf.get(_PF_KEY) == "false"
    # r16: state-sized partition tuning — clamped to [1, saved value]
    tune1(1)
    assert s1.conf.get(_SP_KEY) == "1"
    tune1(10**12)
    assert s1.conf.get(_SP_KEY) == "200"  # never above the saved session value
    r1_inner, _ = _enter_parallelism_first_off(s1)  # reentrant within a session
    r1_inner()
    assert s1.conf.get(_PF_KEY) == "false"  # still held by the outer enter
    r1()
    assert s1.conf.get(_PF_KEY) == "true"  # s1 restored to its saved value
    assert s1.conf.get(_SP_KEY) == "200"  # shuffle partitions restored too
    tune1(1)  # tuning after release must not resurrect the override
    assert s1.conf.get(_SP_KEY) == "200"
    assert s2.conf.get(_PF_KEY) == "false"  # s2 untouched by s1's release
    r2()
    assert _PF_KEY not in s2.conf.d  # restored by unset
    assert _SP_KEY not in s2.conf.d
    r2()  # double-release is a no-op, never a negative depth
    assert _PF_KEY not in s2.conf.d
