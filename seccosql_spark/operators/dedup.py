"""Deduplication operators for large-scale training-data pipelines.

Four families, all pure DataFrame plans (no driver-side loops, no Python
row UDFs — everything stays JVM-side / whole-stage-codegen):

- exact dedup: hash-groupBy on content digest;
- MinHash + LSH: shingle → minhash signature → band → bucket self-join →
  exact-Jaccard verify (the classic Broder pipeline);
- SimHash: per-token hash bits → majority vote → byte-bucket candidate join
  → Hamming filter;
- n-gram Jaccard: token n-gram shingles → shared-shingle candidate pairs →
  exact Jaccard.

Scale notes (100 TB):
- every pairwise step is bucketed FIRST (LSH band / simhash byte / shared
  shingle), so the self-join never goes quadratic — candidates are generated
  per-bucket and buckets are shuffle keys;
- minhash uses md5 (JVM codegen'd) rather than a Python hash — and md5 is
  identical in DuckDB, which makes the oracle twin bit-exact;
- signatures are tiny (num_hashes strings) relative to documents, so the
  candidate join shuffles only (id, band_sig).

Determinism: every hash is md5-derived, every aggregate is over ints or
exact decimal — no float-order sensitivity anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seccosql_spark.sqltext import quote_ident

# DataFrames persisted by pipelines in this module, so long-lived sessions
# can reclaim storage memory between invocations (a round-2 review found the
# minhash feature cache leaking across repeated runs).
_LIVE_CACHES: list[DataFrame] = []


def _tracked_persist(df: DataFrame) -> DataFrame:
    """Persist `df`, tracking it only when this call made the cache entry:
    a plan the session already caches (a repeated run) is left to the call
    that cached it, so repeats add nothing to pin in `_LIVE_CACHES`."""
    if df.storageLevel == StorageLevel.NONE:
        _LIVE_CACHES.append(df)
    return df.persist()


def release_caches() -> None:
    """Unpersist every DataFrame cached by dedup pipelines this session.
    Call between pipeline invocations in long-running sessions; harmless if
    the caches were already dropped (e.g. by catalog.clearCache())."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's parallelism. Small-file inputs (one
    parquet file = one partition) would otherwise run the whole hash
    pipeline single-threaded; the shuffle this costs is a few MB while the
    md5/explode work it parallelizes is the dominant cost. No-op effect at
    real scale where the scan already has many splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # file count approximates scan splits without forcing a DataFrame->RDD
    # plan translation; only the "few big files" case needs the spread, and
    # that case always has small inputFiles(). If the source has no file
    # listing (e.g. an in-memory relation), assume it needs the spread —
    # falling back to df.rdd.getNumPartitions() would force a full plan
    # translation just to decide, which costs more than the repartition.
    try:
        nparts = len(df.inputFiles())
    except Exception:
        nparts = 1
    return df.repartition(target) if nparts < target else df


# Hot per-row expressions are built as SQL TEXT: one selectExpr parse per
# projection instead of a py4j round trip per Column node — a Python lambda
# inside F.transform alone costs dozens. Integer literals keep their Spark
# types in SQL text (961748941 parses as INT, 4294967311 as BIGINT).


def _tokens_sql(text_col: str) -> str:
    """SQL text of a document's whitespace-token array, empties dropped.
    Mirrors DuckDB `list_filter(string_split(text, ' '), x -> x <> '')`."""
    return f"filter(split({quote_ident(text_col)}, ' '), x -> x <> '')"


def _features_sql(toks: str, n: int | None) -> str:
    """SQL text of a document's DISTINCT feature array over the token-array
    expression `toks`: the tokens themselves (n=None) or word n-gram
    shingles at 1-indexed positions, mirroring DuckDB's
    `list_transform(range(1, len(toks)-(n-2)), ...)`. The one feature
    definition behind `shingles()` and both minhash arms. Guard:
    sequence(1, size-(n-1)) DESCENDS for docs shorter than n tokens
    (invalid element_at indices) — such docs have no shingles."""
    if n is None:
        return f"array_distinct({toks})"
    gram = ", ".join(f"element_at({toks}, i + {k})" for k in range(n))
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), i -> concat_ws(' ', {gram})) "
        "ELSE CAST(array() AS array<string>) END)"
    )


def tokenize_words(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, word) pairs, distinct per doc — whitespace tokens, empties dropped.
    Mirrors DuckDB `unnest(list_distinct(list_filter(string_split(text,' '),
    x -> x <> '')))` exactly."""
    return df.selectExpr(
        f"{quote_ident(id_col)} AS id", f"explode({_features_sql(_tokens_sql(text_col), None)}) AS w"
    )


def shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) pairs: distinct word n-grams (see `_features_sql`)."""
    return df.selectExpr(f"{quote_ident(id_col)} AS id", f"{_tokens_sql(text_col)} AS toks").selectExpr(
        "id", f"explode({_features_sql('toks', n)}) AS s"
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the smallest id.
    Output: (text_hash, keep_id, n_copies). One shuffle on the digest."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# MinHash family: ONE md5 per feature, parsed to a 32-bit int, then
# `num_hashes` affine permutations h_j = (a_j*h + b_j) mod P — the standard
# construction (Broder). One-md5-then-arithmetic is ~8× cheaper than the
# round-2 md5-per-seed family, which at sf0.1 spent ~20s/run inside the
# generated md5 loops. All arithmetic is exact BIGINT (a < 2^30, h < 2^32 →
# a*h+b < 2^63) and expressible identically in DuckDB, so oracles stay
# bit-exact.
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
MINHASH_COEFFS: list[tuple[int, int]] = [
    (961_748_941, 174_440_041),
    (982_451_653, 104_395_303),
    (899_809_363, 122_949_829),
    (879_190_841, 135_748_613),
    (827_610_509, 142_698_673),
    (807_403_421, 157_189_139),
    (755_551_823, 167_519_639),
    (715_827_883, 186_091_583),
]

# md5 of a string → 32-bit integer from its first 8 hex chars, as SQL text
# over one argument: conv(_, 16, 10) is one builtin call. The DuckDB oracles
# (which lack conv()) compute the SAME value via per-digit arithmetic
# (strpos/substr sums, see queries/pipeline._h32_sql); verified bit-equal.
_H32_SQL = "CAST(conv(substring(md5({}), 1, 8), 16, 10) AS BIGINT)"


def minhash_signatures(
    words: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(id, h0..h{n-1}): per-doc minhash signature, one column per seed.
    h32 = int(md5(word)[:8]) computed ONCE per feature row; each seed is a
    cheap affine min — same md5 count as features, not features×seeds.

    Wide layout on purpose: one shuffle of |features| narrow rows and one
    aggregation, vs. exploding seeds through two shuffles."""
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"num_hashes > {len(MINHASH_COEFFS)} needs more MINHASH_COEFFS")
    hashes = words.select("id", F.expr(_H32_SQL.format("w")).alias("h32"))
    return hashes.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h32") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{j}")
            for j, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ]
    )


def lsh_bands(sig: DataFrame, band_size: int = 4) -> DataFrame:
    """(id, band, sig): concat each band's minhashes in seed order — pure
    per-row projection over the wide signature (no extra shuffle)."""
    n = len([c for c in sig.columns if c.startswith("h")])
    bands = ", ".join(
        f"struct({b} AS band, concat_ws('|', "
        + ", ".join(f"h{b * band_size + i}" for i in range(band_size))
        + ") AS sig)"
        for b in range(n // band_size)
    )
    return sig.selectExpr("id", f"explode(array({bands})) AS bs").selectExpr(
        "id", "bs.band AS band", "bs.sig AS sig"
    )


DEFAULT_MAX_BUCKET_SIZE = 100_000


def candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Distinct (id1, id2) with id1 < id2 sharing any band signature — the
    bucketed candidate generation that keeps LSH subquadratic.

    Plan shape: ONE hash aggregation on (band, sig) collecting the bucket's
    sorted id set, then pairs streamed out per anchor id (posexplode + tail
    slice — per-row memory is O(bucket), never the O(bucket²) a flattened
    pair array would materialize), then one distinct (a pair can be found by
    several bands). Two shuffles total, vs. three for the former
    self-join + distinct formulation, and no join at all.

    `max_bucket_size`: skew guard for pathological corpora (e.g. millions of
    identical documents collapse one (band, sig) bucket, making its pair
    set quadratic). Buckets larger than the cap are DROPPED from candidate
    generation by a filter on the aggregated id-set size — zero extra
    passes (a count-first formulation would re-run the whole upstream
    signature pipeline, whose scan is the dominant cost). The aggregation
    buffer therefore still transiently holds an oversized bucket's id set
    before the filter drops it (~8 bytes/id — a problem only past ~10⁸
    identical docs in one bucket, which exact dedup should have removed
    first; that ordering is the documented production pipeline). The
    default cap (100k ids ≈ 5e9 would-be pairs — degenerate by any
    measure) never fires on a sane corpus, so results still match the
    exhaustive oracle; pass None only when a truly uncapped pair set is
    the contract."""
    return _stream_pairs(lsh_buckets(bands, max_bucket_size))


def lsh_buckets(
    bands: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """(band, sig, ids): each LSH bucket's sorted member-id set, buckets of
    size 1 dropped (no pair can come from them), oversized buckets dropped
    per the `candidate_pairs` skew-cap contract. This is the ONE aggregation
    the whole candidate stage runs; both the pair stream and the
    candidate-id set derive from it narrowly (no further shuffle), which is
    why `minhash_near_dups` persists THIS relation rather than the pairs."""
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.expr("sort_array(collect_set(id))").alias("ids"))
        .filter("size(ids) >= 2")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(f"size(ids) <= {int(max_bucket_size)}")
    return buckets


def _stream_pairs(buckets: DataFrame) -> DataFrame:
    return (
        buckets.selectExpr("posexplode(ids) AS (__pos, id1)", "ids")
        # slice is 1-based: elements strictly after the anchor at __pos
        .selectExpr("id1", "explode(slice(ids, __pos + 2, size(ids))) AS id2")
        .distinct()
    )


def exact_jaccard(words: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id1, id2, jaccard) for candidate pairs, via shared-token counts.
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — exact integer arithmetic, then one
    deterministic double division."""
    sizes = words.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    w1 = words.select(F.col("id").alias("id1"), "w")
    w2 = words.select(F.col("id").alias("id2"), "w")
    # Join candidate pairs FIRST: pairs ⋈ words(id1) ⋈ words(id2, w).
    # Joining w1⋈w2 on the raw word first is quadratic per word bucket
    # (catastrophic on low-entropy vocabularies); this order is bounded by
    # |pairs| × words-per-doc.
    inter = (
        pairs.join(w1, "id1")
        .join(w2, ["id2", "w"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.9,
    num_hashes: int = 8,
    band_size: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from LSH bands, then
    exact-Jaccard verification at `threshold`. Output (id1, id2, jaccard).

    `shingle_n`: None = word-level features (fits short low-entropy text, but
    note that near-identical word sets collapse LSH buckets — bucket sizes
    then reflect true near-dup density); n>=2 = word n-gram shingles (the
    standard choice at scale: shingle entropy keeps buckets small).
    `max_bucket_size`: optional LSH bucket cap (see candidate_pairs)."""
    # Whole pipeline scan-side until the (tiny) band aggregation:
    #   feats  : per-doc DISTINCT feature ARRAY (no explode)
    #   hs     : ONE md5+hex-parse per feature (array of 32-bit ints)
    #   sig_j  : array_min over a cheap affine permutation of hs — all
    #            signature columns inside whole-stage codegen, zero shuffles
    #   verify : the candidate id set (tiny) broadcast-semi-joins the corpus,
    #            feats are recomputed for JUST those docs, exact jaccard via
    #            array_intersect (arrays are distinct, so sizes are set sizes)
    # Nothing corpus-sized is ever persisted: the corpus is scanned twice
    # (signatures; verify re-derivation behind a broadcast semi-join that
    # prunes it to candidate docs map-side), which at 100 TB beats caching a
    # corpus-wide shingle-array column by orders of magnitude in memory.
    # Semantically identical to the exploded formulation (same hash family,
    # same min, same jaccard) — the oracle SQL mirrors it step-for-step.
    toks = _tokens_sql(text_col)
    # Featureless docs (empty/short text) can't be near-dups; keeping them
    # would collide every one on the empty band signature and 0/0 the
    # jaccard. The exploded oracle excludes them naturally (no rows).
    # CHEAP pre-filter on token count, NOT post-filter on size(feats):
    # Catalyst pushes a feats-referencing filter below the _spread exchange
    # by substituting the whole shingle expression, which then evaluates
    # single-threaded on the unspread scan partition (measured 8× slowdown
    # at sf0.1) and again after the exchange.
    min_toks = 1 if shingle_n is None else shingle_n
    src = df.filter(f"size({toks}) >= {min_toks}")

    # Features over a MATERIALIZED token column, never the inline split
    # expression (r16): referenced inside the per-position shingle lambda,
    # the inlined filter(split(text)) re-ran for every gram position —
    # O(tokens²) re-tokenization per document. As a named projection the
    # non-cheap multi-referenced token array is evaluated once per row
    # (CollapseProject keeps it — the same discipline as the hs column
    # below). Both the signature arm and the verify arm go through this.
    # The shingle guard is redundant after the pre-filter, kept as defense
    # in depth.
    def _feats(rel: DataFrame) -> DataFrame:
        return rel.selectExpr(f"{quote_ident(id_col)} AS id", f"{toks} AS __t").selectExpr(
            "id", f"{_features_sql('__t', shingle_n)} AS feats"
        )

    base = _feats(_spread(src))

    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"num_hashes > {len(MINHASH_COEFFS)} needs more MINHASH_COEFFS")
    # hs as its own projection: used by all num_hashes signature columns, so
    # CollapseProject keeps it materialized once per row (non-cheap expr
    # referenced >1 time is not inlined) — md5 runs once per feature.
    hs = base.selectExpr("id", f"transform(feats, s -> {_H32_SQL.format('s')}) AS hs")
    sig = hs.selectExpr(
        "id",
        *[
            f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME})) AS h{j}"
            for j, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ],
    )
    # Persist the BUCKETS (tiny: near-dup density × corpus, not corpus²) —
    # the single sync point both arms derive from narrowly: the pair stream
    # (posexplode+slice+distinct) and the candidate-id set (explode). The
    # former formulation persisted the pairs and rebuilt cand_ids from them
    # with an extra union+distinct shuffle; deriving cand_ids straight from
    # the buckets removes that whole wave (every member of a surviving
    # bucket is in ≥1 pair, so the id sets are identical), measured −0.4 s
    # of the sf0.1 critical path with zero semantic change.
    buckets = _tracked_persist(lsh_buckets(lsh_bands(sig, band_size), max_bucket_size))
    pairs = _stream_pairs(buckets)

    # verify arm: prune the corpus to candidate docs FIRST (broadcast
    # semi-join directly above the scan = map-side filter, no shuffle and no
    # _spread repartition — deliberately NOT reusing `base`, which sits above
    # the parallelizing exchange), then re-derive feats for just those docs.
    # No distinct on cand_ids: left_semi is insensitive to build-side
    # duplicates, so the dedup shuffle would be pure latency.
    cand_ids = buckets.selectExpr(f"explode(ids) AS {quote_ident(id_col)}")
    feats_cand = _tracked_persist(
        _feats(src.join(F.broadcast(cand_ids), id_col, "left_semi"))
    )
    # explicit broadcast hints: both sides are candidate-sized; without the
    # hint AQE must materialize the shuffle first to discover that
    f1 = F.broadcast(feats_cand.selectExpr("id AS id1", "feats AS __f1"))
    f2 = F.broadcast(feats_cand.selectExpr("id AS id2", "feats AS __f2"))
    inter = "size(array_intersect(__f1, __f2))"
    return (
        pairs.join(f1, "id1")
        .join(f2, "id2")
        .selectExpr(
            "id1", "id2", f"{inter} / (size(__f1) + size(__f2) - {inter}) AS jaccard"
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.02,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """n-gram Jaccard near-dup: candidates = pairs sharing >= 1 shingle (the
    shingle join IS the bucketing), then exact Jaccard over shingle sets."""
    sh = _tracked_persist(shingles(_spread(df), n, id_col, text_col))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.select(F.col("id").alias("id1"), "s")
    s2 = sh.select(F.col("id").alias("id2"), "s")
    inter = (
        s1.join(s2, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------------ simhash


def simhash(words: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash): per-token 32-bit md5-derived hash, per-bit majority vote.
    Integer-only — deterministic and oracle-exact."""
    h = words.select("id", F.expr(_H32_SQL.format("w")).alias("h32"))
    b = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    votes = (
        h.select("id", "h32", b)
        .select(
            "id",
            "b",
            F.expr("CASE WHEN (h32 >> b) & 1 = 1 THEN 1 ELSE -1 END").alias("v"),
        )
        .groupBy("id", "b")
        .agg(F.sum("v").alias("s"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.expr("CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END")
        ).alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup: byte-bucket candidate join (pigeonhole: hamming <= 3
    over 32 bits → at least one of the 4 bytes equal), then exact Hamming
    filter via bit_count(xor). Output (id1, id2, hamming)."""
    sh = simhash(tokenize_words(_spread(df), id_col, text_col))
    k = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k")
    keyed = sh.select("id", "simhash", k).select(
        "id",
        "simhash",
        "k",
        F.expr("(simhash >> (k * 8)) & 255").alias("byte"),
    )
    a = keyed.select(F.col("id").alias("id1"), F.col("simhash").alias("sh1"), "k", "byte")
    b = keyed.select(F.col("id").alias("id2"), F.col("simhash").alias("sh2"), "k", "byte")
    return (
        a.join(b, ["k", "byte"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: drop train docs sharing any word n-gram
    with the eval corpus (the standard n-gram-overlap rule for keeping test
    sets out of training data). Returns the surviving train rows.

    Scale shape: eval/benchmark sets are tiny next to a 100 TB train corpus,
    so the eval fingerprint set (distinct n-gram strings) is BROADCAST — the
    train side streams through a map-side semi-join with zero shuffle of the
    corpus; only the contaminated id set (small) shuffles for the final
    anti-join. The train corpus's per-doc distinct n-grams ARE exploded
    (scan-side, pipelined straight into the broadcast semi-join — no shuffle
    and nothing materialized), which is the row volume any n-gram-overlap
    check must stream; the broadcast filter then collapses it to the tiny
    contaminated-id set."""
    tg = shingles(train, n, id_col, text_col)  # (id, s) distinct per doc
    eg = shingles(eval_df, n, id_col, text_col).select("s").distinct()
    bad = (
        tg.join(F.broadcast(eg), "s", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def _fold_bitmap_words(eg: DataFrame, probes, m: int) -> list:
    """Distributed Bloom-bitmap word fold: each probe position becomes
    (word_index, bit), bits OR together per 64-bit word EXECUTOR-side
    (groupBy(p >> 6) + bit_or), so the driver collects only non-zero WORD
    rows — at most m/64 (2^11 at the default), independent of eval size.
    Bit values are 1 << (p & 63) on BIGINT; bit 63 lands on the sign bit,
    which bit_or preserves, and the caller masks back to unsigned. The
    shifts go through ``F.call_function`` because the Python
    ``F.shiftleft/shiftright`` only accept an int numBits, not a Column."""
    return (
        eg.select(F.explode(F.array(*probes(F.col("s")))).alias("p"))
        .select(
            F.shiftright(F.col("p"), 6).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("p"), F.lit(64)).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .collect()
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_log2: int = 17,
    num_probes: int = 5,
) -> DataFrame:
    """`decontaminate` with a Bloom-filter pre-pass: eval n-grams are folded
    into a fixed-size bitmap (2^bits_log2 bits, num_probes xxhash64 probes)
    that rides in the task closure as an ARRAY<BIGINT> literal, so the train
    corpus's n-gram stream is pruned ENTIRELY map-side by bit tests inside
    whole-stage codegen — before any join. Survivors (true overlaps + Bloom
    false positives) then take the exact broadcast-semi-join verify, so the
    RESULT IS EXACTLY `decontaminate`'s: Bloom filters have no false
    negatives, and the verify arm removes the false positives. Same oracle.

    Scale posture vs the plain path: the plain path broadcasts the eval
    n-gram STRING set — fine for megabyte eval suites, but a large eval
    corpus (every benchmark ever published, ~GBs of 8-gram text) makes that
    hash relation the biggest thing on the executor. The bitmap is
    2^bits_log2 / 8 bytes (16 KiB at the default) REGARDLESS of eval size;
    the string set is then only probed by the tiny pre-filtered stream, so
    the verify join can also fall back to a shuffle join with a
    corpus-negligible left side if eval outgrows broadcast. Size the bitmap
    for the false-positive rate, not for correctness: fp ≈
    (1 - e^(-k·n_grams/m))^k; at fp→1 the pre-pass degrades to the plain
    path's probe volume, never to a wrong answer.

    The bitmap build is fully distributed: probe positions fold into their
    64-bit words executor-side (groupBy(p >> 6) + bit_or), so only the
    ≤ 2^(bits_log2-6) non-zero WORD rows reach the driver — O(bitmap),
    independent of eval size, matching the feature's eval-size-independence
    premise (VERDICT r05 finding 2)."""
    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    if not (6 <= bits_log2 <= 30):
        # < 64 bits is pointless; > 1 GiB of bitmap won't fit a task closure
        raise ValueError(f"bits_log2 must be in [6, 30], got {bits_log2}")
    m = 1 << bits_log2
    eg = shingles(eval_df, n, id_col, text_col).select("s").distinct()

    def probes(col):
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(num_probes)]

    words = [0] * (m >> 6)
    for row in _fold_bitmap_words(eg, probes, m):
        words[row["w"]] = row["word"] & ((1 << 64) - 1)
    # two's-complement fold so every word fits Spark's signed BIGINT literal
    bitmap = F.lit([w - (1 << 64) if w >= (1 << 63) else w for w in words])

    def bit_set(p):
        # p is pmod(m) ≥ 0, so truncation == floor; 1-based element_at
        word = F.element_at(bitmap, (p / 64 + 1).cast("int"))
        return (
            # call_function because F.shiftright's numBits must be a Python int
            F.call_function("shiftright", word, (p % 64).cast("int")).bitwiseAND(F.lit(1))
            == 1
        )

    tg = shingles(train, n, id_col, text_col)
    maybe = tg.filter(reduce(lambda a, b: a & b, [bit_set(p) for p in probes(F.col("s"))]))
    bad = (
        maybe.join(F.broadcast(eg), "s", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def substring_dup_stats(
    df: DataFrame, n: int = 10, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document exact-substring duplication signal (the windowed
    approximation of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": substrings repeated verbatim across documents
    are memorization fuel and should be cut). Every length-`n` word window
    of every doc is hashed; a window is DUPLICATED when its hash occurs in
    ≥ 2 distinct docs. Output per doc: (doc_id, n_windows, n_dup_windows,
    dup_fraction) — the per-doc removal signal a curation pipeline
    thresholds on. Docs shorter than `n` words have no windows and are
    absent, matching the SQL twin.

    Scale shape: windows explode map-side (no distinct — positions count);
    ONE shuffle groups (hash, doc) pairs; the cross-doc occurrence count is
    a window function over the hash partition of those pre-aggregated pairs
    (never the raw windows); the final per-doc rollup is the second
    shuffle. No joins, no driver-side state; suffix-array fidelity is
    traded for a bounded two-shuffle plan that survives 100 TB."""
    from pyspark.sql import Window

    d = df.selectExpr(f"{quote_ident(id_col)} AS id", f"{_tokens_sql(text_col)} AS toks")
    gram = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.md5(F.concat_ws(" ", *[F.element_at("toks", i + k) for k in range(n)])),
    )
    gram = F.when(F.size("toks") >= n, gram).otherwise(F.array().cast("array<string>"))
    # ONE explicit hash(gh) exchange serves BOTH the (gh, id) pair
    # aggregation (hash(gh) clusters every (gh, id) group) and the
    # cross-doc window over gh — without it Spark plans two full-data
    # shuffles (hash(gh, id) for the groupBy, then hash(gh) for the
    # window). Duplicate (gh, id) windows are rare, so the lost map-side
    # partial combine costs far less than the extra shuffle saved.
    windows = d.select("id", F.explode(gram).alias("gh")).repartition("gh")
    per_pair = windows.groupBy("gh", "id").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("gh")
    tagged = per_pair.withColumn("n_docs", F.count(F.lit(1)).over(w))
    return (
        tagged.groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup_windows"
            ),
        )
        .withColumn(
            "dup_fraction", F.round(F.col("n_dup_windows") / F.col("n_windows"), 6)
        )
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment: c(A->B) =
    |S_A ∩ S_B| / |S_A| (Broder's containment) — catches a short document
    embedded verbatim in a long one, which symmetric Jaccard misses (the
    union term dilutes it, and for the same reason MinHash-LSH bands
    almost never bucket a size-skewed pair: minhash estimates JACCARD).
    Candidates therefore come from SHARED-SHINGLE buckets, which are
    EXHAUSTIVE for containment — c(A->B) > 0 means the pair shares a
    shingle, so up to the skew cap no qualifying pair can be missed.
    Output (id1, id2, containment12, containment21) for pairs whose
    LARGER direction clears `threshold`.

    Plan shape: shingles → one bucket aggregation on the shingle (skew cap
    drops degenerate buckets, same contract as candidate_pairs) → pairs
    streamed per anchor id → per-pair intersection counts joined against
    per-doc set sizes. Shingle entropy keeps buckets small at scale; the
    division is one deterministic double op, rounded for cross-engine
    ranking. No minhash signatures are involved at all."""
    feats = shingles(df, shingle_n, id_col, text_col).withColumnRenamed("s", "w")
    buckets = (
        feats.groupBy("w")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = _stream_pairs(buckets)
    sizes = feats.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    w1 = feats.select(F.col("id").alias("id1"), "w")
    w2 = feats.select(F.col("id").alias("id2"), "w")
    inter = (
        pairs.join(w1, "id1")
        .join(w2, ["id2", "w"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    c12 = F.col("inter") / F.col("n1")
    c21 = F.col("inter") / F.col("n2")
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .filter(F.greatest(c12, c21) >= F.lit(threshold))
        .select(
            "id1",
            "id2",
            F.round(c12, 6).alias("containment12"),
            F.round(c21, 6).alias("containment21"),
        )
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    old_df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 8,
    band_size: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup: near-dups of a NEW batch against an
    EXISTING corpus only (new-new and old-old pairs excluded) — the nightly
    ingestion shape, where re-running the full quadratic-candidate pipeline
    over the whole corpus per batch would be O(corpus) wasted work. Only
    the new batch is signatured from scratch; the old side's banded
    signatures are the persistable index (at scale: written once, bucketed
    by (band, sig), so each batch's candidate lookup is a co-located join).

    Output (new_id, old_id, jaccard) for verified pairs >= threshold.
    `max_bucket_size` caps the OLD side's bucket fan-out per (band, sig) —
    the skew guard against a degenerate index bucket."""
    fnew = shingles(new_df, shingle_n, id_col, text_col).withColumnRenamed("s", "w")
    fold = shingles(old_df, shingle_n, id_col, text_col).withColumnRenamed("s", "w")
    bnew = lsh_bands(minhash_signatures(fnew, num_hashes), band_size)
    bold = lsh_bands(minhash_signatures(fold, num_hashes), band_size)
    if max_bucket_size is not None:
        sizes = bold.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("__n"))
        bold = bold.join(
            sizes.filter(F.col("__n") <= max_bucket_size).drop("__n"),
            ["band", "sig"],
            "left_semi",
        )
    pairs = (
        bnew.select(F.col("id").alias("id1"), "band", "sig")
        .join(bold.select(F.col("id").alias("id2"), "band", "sig"), ["band", "sig"])
        .select("id1", "id2")
        .distinct()
    )
    words = fnew.unionByName(fold)
    out = exact_jaccard(words, pairs)
    return (
        out.filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            F.col("id1").alias("new_id"),
            F.col("id2").alias("old_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int | None = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the PPJoin family —
    Xiao et al. 2008, Chaudhuri et al. 2006): all pairs whose distinct-word
    Jaccard >= t, with NO approximation — the complement to MinHash-LSH,
    which trades recall for speed. The prefix theorem does the pruning:
    order every document's tokens by a global total order (ascending
    document frequency, rarest first, ties by word) and keep only the
    first |x| - ceil(t*|x|) + 1 tokens; two sets with Jaccard >= t MUST
    share a prefix token, so the candidate join touches only prefix
    buckets — and those buckets are small by construction because prefixes
    hold each document's RAREST tokens. Candidates are then verified with
    exact integer Jaccard; the threshold test cross-multiplies
    (den*i >= num*(union)), no float compare.

    t is a rational num/den so the gate is integer-exact in any engine.
    Features are distinct word `shingle_n`-grams by default (pass None for
    raw words): on low-entropy vocabularies raw word SETS are nearly
    identical across documents, which makes the TRUE result quadratic —
    no algorithm can beat output size (measured: words at t=0.9 on the
    synthetic corpus yield ~1M true pairs at sf0.1; 3-shingles at t=0.5
    yield hundreds). Shingles are also what the MinHash row banded, so
    this operator is its exact twin.
    Scale shape: one df aggregation (broadcast back), one per-doc window
    for the prefix rank, one prefix-bucket join with PPJoin's length filter
    pruning per shared-token row and the positional filter applied
    PER PAIR on the aggregated (cnt, max rn1, max rn2) — the r17 tightening:
    O <= cnt + min(n1-max(rn1), n2-max(rn2)) via the last common prefix
    token — then ONE row per surviving candidate pair through an
    ``array_intersect`` verification
    (each doc's shingle set is collected once; the old shape re-exploded
    every pair into its ~|doc| shared-token rows before a groupBy) — never
    an all-pairs product."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(f"need 0 < t <= 1, got {threshold_num}/{threshold_den}")
    if shingle_n is None:
        words = tokenize_words(df, id_col, text_col)
    else:
        words = shingles(df, shingle_n, id_col, text_col).withColumnRenamed("s", "w")
    words = words.localCheckpoint(eager=True)
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    sized = words.join(F.broadcast(dfreq), "w").withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    ranked = sized.withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("c", "w"))
    )
    # prefix length: n - ceil(t*n) + 1 == n - ((num*n + den - 1) DIV den) + 1
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n")
        - F.expr(f"({threshold_num} * n + {threshold_den} - 1) DIV {threshold_den}")
        + 1
    )
    num, den = threshold_num, threshold_den
    cand = (
        prefix.select(
            F.col("id").alias("id1"), F.col("n").alias("n1"),
            F.col("rn").alias("rn1"), "w",
        )
        .join(
            prefix.select(
                F.col("id").alias("id2"), F.col("n").alias("n2"),
                F.col("rn").alias("rn2"), "w",
            ),
            "w",
        )
        .filter(F.col("id1") < F.col("id2"))
        # PPJoin's length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        # — a necessary condition, so pruning here stays exact
        .filter(
            threshold_num * F.greatest("n1", "n2")
            <= threshold_den * F.least("n1", "n2")
        )
        # PPJoin's POSITIONAL filter (the "P" — Xiao et al. 2008 §3.2),
        # AGGREGATED per pair (r17, VERDICT r16 task 6): both token lists
        # are sorted by the same global (df, w) order, so the shared prefix
        # token with the largest rn1 is also the one with the largest rn2
        # — the pair's LAST common prefix token w_k at positions (i, j).
        # Every shared token globally before w_k sits below (i, j), hence
        # inside BOTH prefixes, hence is one of the cnt counted rows; every
        # shared token globally after w_k sits above i in x AND above j in
        # y, so there are at most min(n1-i, n2-j) of them. Therefore
        # O <= cnt + min(n1 - max(rn1), n2 - max(rn2)) — strictly tighter
        # than r16's per-row first-common-token bound 1 + min(n1-rn1,
        # n2-rn2) whenever the suffix slack, not the credit, binds. J >= t
        # needs O >= alpha = ceil(t/(1+t) * (n1+n2)), cross-multiplied so
        # the gate stays integer-exact. The groupBy replaces the old
        # .distinct() — same single exchange, map-side partial aggregation
        # collapses the per-token rows the row-filter used to drop, and the
        # per-row filter CANNOT be kept in front (dropping rows would
        # undercount cnt and could kill a true pair).
        .groupBy("id1", "id2", "n1", "n2")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("rn1").alias("__mr1"),
            F.max("rn2").alias("__mr2"),
        )
        .filter(
            F.col("__cnt")
            + F.least(F.col("n1") - F.col("__mr1"), F.col("n2") - F.col("__mr2"))
            >= F.expr(f"({num} * (n1 + n2) + {num + den - 1}) DIV {num + den}")
        )
        .select("id1", "id2")
    )
    # only docs that survived candidate generation need their shingle set
    # materialized — on selective prefixes this skips most of the corpus
    cand_ids = (
        cand.select(F.col("id1").alias("id"))
        .union(cand.select(F.col("id2").alias("id")))
        .distinct()
    )
    sets = (
        words.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("w").alias("ws"))
    )
    return (
        cand.join(
            sets.select(F.col("id").alias("id1"), F.col("ws").alias("ws1")), "id1"
        )
        .join(
            sets.select(F.col("id").alias("id2"), F.col("ws").alias("ws2")), "id2"
        )
        .withColumn("i", F.size(F.array_intersect("ws1", "ws2")))
        .withColumn("n1", F.size("ws1"))
        .withColumn("n2", F.size("ws2"))
        # integer gate BEFORE any float: den*i >= num*(n1+n2-i)
        .filter(
            threshold_den * F.col("i")
            >= threshold_num * (F.col("n1") + F.col("n2") - F.col("i"))
        )
        .select(
            "id1",
            "id2",
            F.round(
                F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")), 6
            ).alias("jaccard"),
        )
    )


def c4_segment_dedup(
    df: DataFrame,
    seg_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-document span removal (Raffel et al. 2020 §2.2 kept
    one copy of any three-sentence span; here the unit is a fixed
    `seg_words`-word segment since the corpus has no sentence boundaries):
    every document is cut into consecutive non-overlapping segments, each
    segment keeps exactly ONE global copy — the occurrence with the
    smallest (doc_id, position) — and every other occurrence is deleted
    from its document's text. Unlike `substring_dup_stats` (a per-doc
    SIGNAL for thresholding) this op REWRITES the corpus: output is
    (doc_id, n_segments, n_kept, clean_text) for every input document,
    clean_text being the surviving segments re-joined in original order
    ('' when everything was cut).

    Scale shape: segments explode map-side (arithmetic slices, no joins);
    ONE hash(seg-hash) exchange feeds the min-occurrence window; ONE
    hash(doc_id) exchange rebuilds the documents. Per-doc state is the
    segment list (∝ doc length), never the corpus; keep-one-copy needs no
    self-join because min-over-window IS the dedup decision."""
    from pyspark.sql import Window

    d = df.selectExpr(f"{quote_ident(id_col)} AS id", f"{_tokens_sql(text_col)} AS toks")
    nseg = F.ceil(F.size("toks") / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * seg_words + 1, seg_words)),
    )
    segs = F.when(F.size("toks") > 0, segs).otherwise(F.array().cast("array<string>"))
    exploded = d.select("id", F.posexplode(segs).alias("pos", "seg")).withColumn(
        "gh", F.md5("seg")
    )
    w = Window.partitionBy("gh")
    first = F.min(F.struct("id", "pos")).over(w)
    tagged = exploded.withColumn(
        "keep", (F.col("id") == first["id"]) & (F.col("pos") == first["pos"])
    )
    rebuilt = tagged.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.sort_array(F.collect_list(F.struct("pos", "keep", "seg"))),
                    lambda s: s["keep"],
                ),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    # left join back so zero-segment (empty-text) docs survive with 0/0/''
    base = df.select(F.col(id_col)).distinct()
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
