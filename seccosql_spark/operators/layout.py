"""Multi-dimensional data layout: Z-order (Morton) and Hilbert clustering.

A single-column sort gives parquet min/max file skipping on one dimension
only; interleaving the bits of k dimensions into one Morton z-value and
range-partitioning + sorting on it gives every output file a narrow
hyper-rectangle in the k-dim space, so min/max stats prune predicates on
ANY of the dimensions (the layout trick behind Delta/Iceberg OPTIMIZE
ZORDER, here as a plain-Spark composition: one `repartitionByRange`
shuffle + a partition-local sort, nothing else).

At 100 TB this is a write-once layout decision: the z-value is a map-side
expression (pure bit arithmetic, codegen'd), the one range shuffle replaces
the full sort a lexicographic layout would need for equal pruning on the
leading dimension alone, and downstream scans prune via footer stats with
zero runtime cost.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seccosql_spark.sqltext import quote_ident


def zvalue(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton z-value: interleave the low `bits` bits of the given
    non-negative integer columns — dimension j contributes its bit b at
    output position b*k + j. Values must fit in `bits` bits (mask the
    inputs first, e.g. `col % (1 << bits)`); with k*bits ≤ 63 the result
    fits a signed BIGINT. Pure shift/and/add — whole-stage codegen, no
    shuffle, identical arithmetic in any engine."""
    k = len(cols)
    if k == 0:
        raise ValueError("zvalue needs at least one column")
    if k * bits > 63:
        raise ValueError(f"{k} dims x {bits} bits exceeds a signed 64-bit z-value")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * k + j)
    return z


def hvalue(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve index of the 2-D cell (x, y), both in [0, 2^bits):
    the standard xy2d walk (Wikipedia's formulation of Butz/Lawder) as
    pure column arithmetic — no shuffle, no Python.

    Why offer this next to `zvalue`: consecutive Hilbert indexes are
    ALWAYS adjacent cells (Manhattan distance 1 — pinned by
    `test_hilbert_curve_is_a_hamiltonian_path`), while the Morton curve
    jumps across the space at every power-of-two boundary. Range-
    partitioning on the index therefore gives Hilbert files tighter
    bounding boxes — fewer row groups touched by a 2-D box predicate —
    at identical write cost (same one range shuffle).

    Implementation note: the walk rebinds (x, y) from BOTH previous values
    every level, so unrolling it into nested CASE expressions grows the
    expression tree 2^bits-fold (bits=16 OOMed the driver during column
    normalization). It is instead ONE `aggregate` fold over the bit levels
    — constant expression size, evaluated iteratively at runtime, still
    fully JVM-side. Dynamic per-level shifts come from an element_at into
    a literal powers-of-two array (Spark's shiftleft/shiftright builtins
    take only literal shift amounts through the Python API)."""
    if bits < 1 or 2 * bits > 62:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    pows = F.array(*[F.lit(1 << i).cast("long") for i in range(2 * bits + 1)])
    init = F.struct(
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(a: Column, b: Column) -> Column:
        p = F.element_at(pows, b + F.lit(1))  # s = 2^b
        p2 = F.element_at(pows, b + b + F.lit(1))  # s^2 = 2^(2b)
        # (v / 2^b) cast long == shiftright — valid because x, y are kept
        # NON-NEGATIVE and < 2^(b+1) by the per-level masking below (the
        # textbook loop lets them go negative after a flip, which breaks
        # divide-based bit extraction; stripping bit b and above each
        # level is equivalent — multiples of s vanish from (s-1-x) mod s)
        rx = (a["x"] / p).cast("long").bitwiseAND(F.lit(1))
        ry = (a["y"] / p).cast("long").bitwiseAND(F.lit(1))
        d2 = a["d"] + p2 * (F.lit(3) * rx).bitwiseXOR(ry)
        xm = a["x"].bitwiseAND(p - F.lit(1))
        ym = a["y"].bitwiseAND(p - F.lit(1))
        # rotate the quadrant so the sub-curve enters/exits correctly:
        # ry=0,rx=1 -> flip both then swap; ry=0,rx=0 -> swap; ry=1 -> keep
        flip = (ry == F.lit(0)) & (rx == F.lit(1))
        swap = ry == F.lit(0)
        nx = F.when(flip, p - F.lit(1) - ym).when(swap, ym).otherwise(xm)
        ny = F.when(flip, p - F.lit(1) - xm).when(swap, xm).otherwise(ym)
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    return F.aggregate(
        F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1)), init, step, lambda a: a["d"]
    )


def _normalized_dims(df: DataFrame, cols: Sequence[str], bits: int) -> list[Column]:
    """Each column linearly rescaled to [0, 2^bits) from its measured
    min/max (one O(1)-row aggregate; integer DIV so no double rounding
    crosses a bucket boundary). Shared by the z-order and Hilbert layouts
    — see `zorder_layout` for why normalization is mandatory.

    The rescale multiply runs in DECIMAL(38,0): a wide-span BIGINT column
    (e.g. raw epoch microseconds over a few years, span > 2^63/65535)
    would silently wrap the 64-bit product, handing the curve functions
    negative "normalized" values and writing a layout with zero pruning
    benefit and no error anywhere. 38-digit headroom covers any int64
    span times any supported 2^bits-1."""
    stats = df.agg(
        *[F.min(F.col(c).cast("long")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("long")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    dims = []
    for c in cols:
        mn = stats[f"mn_{c}"] or 0
        mx = stats[f"mx_{c}"] or 0
        span = max(1, mx - mn)
        dims.append(
            F.expr(
                f"CAST(((CAST({quote_ident(c)} AS DECIMAL(38,0)) - {mn}) * {(1 << bits) - 1})"
                f" DIV {span} AS BIGINT)"
            )
        )
    return dims


def hilbert_layout(
    df: DataFrame,
    cols: Sequence[str],
    num_partitions: int | None = None,
    bits: int = 16,
) -> DataFrame:
    """Cluster `df` on the Hilbert index of two dimensions — the same
    one-range-shuffle + partition-local-sort recipe as `zorder_layout`,
    with the locality-tighter curve. 2-D only (the k-dim Hilbert state
    machine buys little over Morton past 3 dims and costs real
    complexity); normalization is always on, for the same reason it is
    the z-order default."""
    if len(cols) != 2:
        raise ValueError("hilbert_layout is 2-D: pass exactly two columns")
    dx, dy = _normalized_dims(df, cols, bits)
    out = df.withColumn("__h", hvalue(dx, dy, bits=bits))
    out = (
        out.repartitionByRange(num_partitions, "__h")
        if num_partitions
        else out.repartitionByRange("__h")
    )
    return out.sortWithinPartitions("__h").drop("__h")


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    num_partitions: int | None = None,
    bits: int = 16,
    normalize: bool = True,
) -> DataFrame:
    """Cluster `df` for multi-dimensional file skipping: compute the Morton
    z-value of `cols`, range-partition on it (one shuffle; range boundaries
    from Spark's reservoir sampling keep the output files balanced even
    under skew), and sort within partitions so parquet row-group stats are
    tight. Write the result with `sources.connectors.write_parquet` to
    materialize the layout.

    With `normalize` (the default) each column is first linearly rescaled
    to the full [0, 2^bits) range from its measured min/max (one O(1)
    aggregate). This is NOT optional hygiene: interleaving raw values whose
    magnitudes differ means the wide dimension owns ALL the high z-bits —
    e.g. a 14-bit event_id against an 8-bit user_id degenerates into an
    event_id-only sort with ZERO skipping on user_id (measured in
    tests/test_zorder_pruning.py; Delta/Iceberg OPTIMIZE ZORDER normalize
    via range-partition ids for the same reason). Linear min/max scaling
    assumes roughly uniform dimensions; for heavily skewed columns,
    pre-rank them (e.g. `ntile`) before calling this."""
    if normalize:
        zc = zvalue(_normalized_dims(df, cols, bits), bits=bits)
    else:
        zc = zvalue([F.col(c) % F.lit(1 << bits) for c in cols], bits=bits)
    out = df.withColumn("__z", zc)
    out = (
        out.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else out.repartitionByRange("__z")
    )
    return out.sortWithinPartitions("__z").drop("__z")
