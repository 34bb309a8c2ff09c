"""Worst-case-optimal multiway join: hypercube shuffle + per-task LeapFrog.

Reference parity — the two pieces SURVEY.md §7 marks as the hard core:

- **HyperCube shuffle** (``execution/plan/communication/HyperCubePartitioner.
  scala:23-167``, shares ``ShareComputer.scala:30-412``): every relation of an
  n-way natural join is sent to a grid of tasks in ONE shuffle round. Each
  join attribute gets a "share" (its axis length in the task grid); a row is
  replicated to every grid cell that matches its attribute hashes on the
  attributes it has. Expressed Spark-first as: explode each row to its
  coordinate set → repartition by coordinate (one shuffle, exactly the
  row-replication + repartition plan SURVEY.md §4.3 prescribes).
- **LeapFrog join** (``localExec/LeapFrogJoinExec.scala:35-365``): inside one
  task, bind attributes one at a time in a global order, intersecting the
  candidate sets of every relation containing the attribute. The reference
  operates on typed internal rows; this implementation likewise keeps rows
  in their NATIVE Spark types end-to-end (Arrow columnar transport into
  ``applyInPandas`` — no serialization to strings, so nulls, dates and
  decimals survive exactly).

Status: correct and tested, opt-in (``multiway_join(..., algorithm=
"wcoj")``). The per-task intersection runs in Python over Arrow batches
(``applyInPandas``), so constant factors lose to Catalyst's codegen'd binary
joins except on adversarial cyclic inputs where intermediate results explode
— which is exactly when worst-case optimality matters. The GHD binary chain
(plans/ghd.py) remains the default; this is the documented phase-2b path.

Scale notes: the share vector balances the grid across min(num_tasks, ∏
attr-cardinalities) cells; replication factor of a relation is the product of
the shares of the attributes it LACKS (the standard hypercube cost). When
relation sizes are known, shares are assigned to minimize total replicated
rows (the EnumShareComputer objective); otherwise a frequency-greedy
fallback is used.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from seccosql_spark.sqltext import quote_ident

# Types the hypercube hash + Arrow transport + Python-level equality all
# handle exactly. Binary/array/map/struct join keys are rejected up front
# (silent row loss is worse than an error).
# Target input rows per hypercube cell when sizes are known (see
# wcoj_natural_join): small enough that a cell's pandas LeapFrog stays
# cache-friendly, large enough that the ~tens-of-ms Arrow/Python per-cell
# overhead is amortized. Cells are additionally capped at the cluster's
# parallelism, so this only decides how fast the cell count ramps up.
_ROWS_PER_CELL = 65536


def adaptive_num_tasks(parallelism: int, rel_sizes: list[int] | None) -> int:
    """Cell count for the hypercube: ~1 cell per _ROWS_PER_CELL input rows,
    clamped to [1, parallelism]; full parallelism when sizes are unknown
    (the safe choice at scale). Pure so the sizing rule is unit-testable
    without a Spark job."""
    if rel_sizes is None:
        return max(1, parallelism)
    return max(1, min(parallelism, sum(rel_sizes) // _ROWS_PER_CELL + 1))

_SUPPORTED_KEY_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def attribute_order(attr_sets: list[set[str]]) -> list[str]:
    """Global binding order: by frequency across relations (desc), then name —
    the reference's heuristic edge-walk (multiwayOperators.scala:82-127)
    approximated by frequency."""
    freq: dict[str, int] = {}
    for s in attr_sets:
        for a in s:
            freq[a] = freq.get(a, 0) + 1
    return sorted(freq, key=lambda a: (-freq[a], a))


def compute_shares(
    attrs: list[str],
    num_tasks: int,
    relations: list[tuple[set[str], int]] | None = None,
) -> dict[str, int]:
    """Factor `num_tasks` into per-attribute shares.

    With `relations` = [(attr_set, size), ...] known, greedily double the
    share of the attribute that adds the FEWEST replicated rows: doubling
    share(a) doubles the copies of every relation that lacks `a`, so each
    step picks argmin_a Σ{size(R) : a ∉ attrs(R)} — a hill-climb on the
    EnumShareComputer objective (ShareComputer.scala:30-412, which minimizes
    total communicated bytes by enumeration). Without sizes, falls back to
    round-robin doubling most-frequent-first."""
    shares = {a: 1 for a in attrs}
    product = 1
    if relations is None:
        changed = True
        while changed:
            changed = False
            for a in attrs:
                if product * 2 <= num_tasks:
                    shares[a] *= 2
                    product *= 2
                    changed = True
        return shares

    # replication cost added by doubling attribute a (independent of current
    # shares' distribution over OTHER attributes: the increment multiplies)
    lack_cost = {
        a: sum(size for attr_set, size in relations if a not in attr_set) for a in attrs
    }
    while product * 2 <= num_tasks:
        # current copies of each relation = prod of shares of missing attrs;
        # doubling a multiplies every lacking relation's copies by 2. Choose
        # the attribute minimizing the added copies, counted at CURRENT
        # share state (exact greedy step on the objective).
        def added(a: str) -> int:
            total = 0
            for attr_set, size in relations:
                if a not in attr_set:
                    copies = 1
                    for b in attrs:
                        if b not in attr_set:
                            copies *= shares[b]
                    total += size * copies  # doubling adds `copies*size` more
            return total

        best = min(attrs, key=lambda a: (added(a), -lack_cost[a], a))
        shares[best] *= 2
        product *= 2
    return shares


def replication_cost(
    shares: dict[str, int], relations: list[tuple[set[str], int]]
) -> int:
    """Total rows communicated under a share vector: Σ size(R)·∏ shares of
    the attributes R lacks (the standard hypercube replication count)."""
    total = 0
    for attr_set, size in relations:
        copies = 1
        for a, s in shares.items():
            if a not in attr_set:
                copies *= s
        total += size * copies
    return total


def _leapfrog(
    rels: list[tuple[list[str], pd.DataFrame]], order: list[str]
) -> pd.DataFrame:
    """Attribute-at-a-time multiway intersection (LeapFrogJoinIterator
    semantics, newIter/LeapFrogJoinIterator.scala:36), VECTORIZED and
    ADAPTIVE: grow a distinct-bindings frame one attribute at a time, and —
    the Generic-Join guarantee — expand EACH binding through the involved
    relation offering it the FEWEST candidates (argmin over per-binding
    candidate counts, computed vectorized from group sizes), then
    intersect-filter with the remaining relations. Expanding through a
    fixed relation instead would materialize a binary-join intermediate
    (e.g. the hub² two-paths of a skewed triangle) and forfeit worst-case
    optimality; the per-binding min keeps total work within the AGM bound
    while every step stays a C-speed hash merge. Output identical to the
    trie iterator's (distinct bindings, null keys never match)."""
    import numpy as np

    bindings: pd.DataFrame | None = None  # None = the single empty binding
    bound: list[str] = []
    empty = pd.DataFrame(columns=order)
    for a in order:
        involved = [(cols, df) for cols, df in rels if a in cols]
        if not involved:
            return empty  # disconnected attribute: not produced by natural join
        projs: list[tuple[list[str], pd.DataFrame]] = []
        for cols, df in involved:
            shared = [c for c in cols if c in bound]
            proj = df.loc[:, shared + [a]].dropna(subset=[a]).drop_duplicates()
            if len(proj) == 0:
                return empty
            projs.append((shared, proj))

        if bindings is None:
            # first attribute: pure value intersection, smallest first
            projs.sort(key=lambda sp: len(sp[1]))
            grown = projs[0][1]
            for _, proj in projs[1:]:
                grown = grown.merge(proj, on=[a], how="inner")
                if len(grown) == 0:
                    return empty
            bound.append(a)
            bindings = grown
            continue

        # per-binding candidate count under each involved relation (0 = the
        # binding has no match there and dies — an extra semi-join prune)
        est = np.empty((len(bindings), len(projs)), dtype="int64")
        for i, (shared, proj) in enumerate(projs):
            if not shared:
                est[:, i] = len(proj)
                continue
            sizes = proj.groupby(shared, sort=False, dropna=False).size()
            sizes_df = sizes.rename("__n").reset_index()
            merged = bindings.loc[:, shared].merge(sizes_df, on=shared, how="left")
            est[:, i] = merged["__n"].fillna(0).to_numpy(dtype="int64")
        alive = est.min(axis=1) > 0
        if not alive.any():
            return empty
        choice = est.argmin(axis=1)

        pieces: list[pd.DataFrame] = []
        for i, (shared_i, proj_i) in enumerate(projs):
            group = bindings.loc[alive & (choice == i)]
            if len(group) == 0:
                continue
            expanded = (
                group.merge(proj_i, on=shared_i, how="inner")
                if shared_i
                else group.merge(proj_i, how="cross")
            )
            for j, (shared_j, proj_j) in enumerate(projs):
                if j == i:
                    continue
                if len(expanded) == 0:
                    break
                # proj_j's columns all sit in the merge key: pure filter
                expanded = expanded.merge(proj_j, on=shared_j + [a], how="inner")
            if len(expanded):
                pieces.append(expanded)
        if not pieces:
            return empty
        bound.append(a)
        cols_now = list(bindings.columns) + [a]
        bindings = pd.concat([p.loc[:, cols_now] for p in pieces], ignore_index=True)
    return bindings.loc[:, order]


def wcoj_natural_join(
    dfs: list[DataFrame],
    num_tasks: int | None = None,
    rel_sizes: list[int] | None = None,
) -> DataFrame:
    """n-way natural inner join via hypercube shuffle + per-cell LeapFrog.

    **Set semantics**: the output is the DISTINCT attribute bindings — the
    semantics WCOJ (and the reference's trie-based LeapFrog,
    ``TrieInternalBlock``) is defined over. Inputs with duplicate rows are
    deduplicated by construction; a bag-semantics join of duplicated inputs
    needs the GHD binary chain instead (``multiway_natural_join``).

    Rows travel as NATIVE typed columns (attributes a relation lacks ride as
    nulls and are sliced off per relation inside the cell), so nulls, dates,
    timestamps and decimals round-trip exactly through Arrow. Shared
    attributes must have identical types across relations (the hypercube
    hash is type-sensitive) and be atomic — both checked up front.

    `rel_sizes` (row counts aligned with `dfs`) switches share computation
    to the communication-minimizing greedy; omit to use frequency doubling.
    Returns columns in global attribute order."""
    union, rel_cols, order, field_type, shares = hypercube_union(
        dfs, num_tasks, rel_sizes
    )
    # PySpark's pandas APIs resolve every input column with df[name], which
    # fails on a name holding a dot or a backtick: such attributes cross the
    # Arrow boundary under a positional name and get theirs back at the end
    names = [a if "." not in a and "`" not in a else f"__a{k}" for k, a in enumerate(order)]
    if names != order:
        union = union.toDF("__cell", "__rel", *names)
        inner = dict(zip(order, names))
        rel_cols = [[inner[c] for c in cols] for cols in rel_cols]
    out_schema = T.StructType(
        [T.StructField(n, field_type[a]) for n, a in zip(names, order)]
    )

    def _named(out: DataFrame) -> DataFrame:
        return out if names == order else out.toDF(*order)

    def _cell_rels(cell: pd.DataFrame):
        rels = []
        for i, cols in enumerate(rel_cols):
            rows = cell.loc[cell["__rel"] == i, cols]
            if len(rows) == 0:
                return None
            rels.append((cols, rows))
        return rels

    if num_tasks is None and all(s == 1 for s in shares.values()):
        # Degenerate grid: every row maps to the ONE cell, so the hypercube
        # exchange would shuffle everything into a single partition just to
        # regroup what is already a single group. Run the cell as one
        # coalesced mapInPandas task instead — no exchange, no AQE stage
        # job (r17; measured ~0.4s of pure job/exchange overhead on the
        # sf0.1 triangle). This branch only fires when adaptive_num_tasks
        # DERIVED the single cell (num_tasks omitted) from the input size
        # (< _ROWS_PER_CELL rows) — the same bounded small-input fast path
        # as the SCC serial finish; any real-scale input fans out exactly
        # as before. An explicit num_tasks=1 keeps the grouped path: the
        # caller's input size is unknown here, and coalesce(1) would run
        # the whole upstream scan in one task. The iterator form
        # accumulates ALL of the partition's batches before joining, so the
        # whole-cell invariant mapInPandas batching would otherwise break
        # is preserved.
        def one_cell(batches):
            pdfs = list(batches)
            if not pdfs:
                return
            cell = pd.concat(pdfs, ignore_index=True)
            rels = _cell_rels(cell)
            yield _leapfrog(rels, names) if rels is not None else pd.DataFrame(
                columns=names
            )

        return _named(union.coalesce(1).mapInPandas(one_cell, out_schema))

    def join_cell(key: tuple, cell: pd.DataFrame) -> pd.DataFrame:
        # applyInPandas delivers the WHOLE cell (mapInPandas batches could
        # split one, silently dropping matches)
        rels = _cell_rels(cell)
        if rels is None:
            return pd.DataFrame(columns=names)
        return _leapfrog(rels, names)

    return _named(union.groupBy("__cell").applyInPandas(join_cell, out_schema))


def hypercube_union(
    dfs: list[DataFrame],
    num_tasks: int | None = None,
    rel_sizes: list[int] | None = None,
) -> tuple[DataFrame, list[list[str]], list[str], dict, dict]:
    """The hypercube-shuffle input relation: every row of every input
    exploded to its grid cells, tagged (__cell, __rel), all attributes as
    typed columns. Returns (union, per-relation column lists, global
    attribute order, attribute->type map, share vector). Split out of
    wcoj_natural_join (r17) so measurement harnesses and alternative cell
    implementations reuse the identical shuffle plan."""
    if not dfs:
        raise ValueError("wcoj_natural_join needs at least one input")
    if num_tasks is None:
        # Scale-adaptive cell count (guide §2: partitioning derived from the
        # data, not a constant): each hypercube cell is one Arrow round-trip
        # + one pandas LeapFrog task, and that per-cell overhead dominates
        # small inputs (measured at sf0.1: the same 2.7k-edge triangle takes
        # 0.6s with 4 cells, 0.9s with 16, 1.4s with 32). The share vector
        # never changes the result set — every binding lands in exactly one
        # cell.
        num_tasks = adaptive_num_tasks(
            dfs[0].sparkSession.sparkContext.defaultParallelism, rel_sizes
        )
    attr_sets = [set(d.columns) for d in dfs]
    order = attribute_order(attr_sets)

    # ---- type checks: shared attrs same type, all types atomic/hashable
    field_type: dict[str, T.DataType] = {}
    for df in dfs:
        for f in df.schema.fields:
            prev = field_type.get(f.name)
            if prev is not None and prev != f.dataType:
                raise TypeError(
                    f"attribute {f.name!r} has conflicting types across relations: "
                    f"{prev.simpleString()} vs {f.dataType.simpleString()} — cast "
                    "them to a common type before the join (the hypercube hash "
                    "is type-sensitive)"
                )
            field_type.setdefault(f.name, f.dataType)
    for a, t in field_type.items():
        if not isinstance(t, _SUPPORTED_KEY_TYPES):
            raise TypeError(
                f"attribute {a!r} has unsupported join-key type {t.simpleString()}; "
                "wcoj_natural_join supports atomic types only"
            )

    relations = (
        list(zip(attr_sets, rel_sizes)) if rel_sizes is not None else None
    )
    shares = compute_shares(order, num_tasks, relations)
    strides: dict[str, int] = {}
    stride = 1
    for a in order:
        strides[a] = stride
        stride *= shares[a]

    # one shuffle: each row → its coordinate cells (replicated over the
    # shares of missing attributes), tagged with its relation index; every
    # attribute is a native typed column (null where the relation lacks it).
    # Built as SQL text: one selectExpr per projection instead of ~5 py4j
    # round trips per Column node (seccosql_spark/sqltext.py). Cell terms
    # are summed in the global `order`, so the plan text is the same in
    # every process (a set's iteration order follows PYTHONHASHSEED).
    q = {a: quote_ident(a) for a in order}
    pieces = []
    for i, cols in enumerate(attr_sets):
        own = "0" + "".join(
            f" + pmod(xxhash64({q[a]}), {shares[a]}) * {strides[a]}"
            for a in order
            if a in cols
        )
        missing = [a for a in order if a not in cols]
        combos = list(
            itertools.product(*[range(shares[a]) for a in missing])
        ) or [()]
        offsets = [
            sum(c * strides[a] for c, a in zip(combo, missing)) for combo in combos
        ]
        # single-offset relations (nothing to replicate: the relation lacks
        # no attribute, or every lacked attribute has share 1) skip the
        # explode — a Generate node per piece that only ever emitted one
        # row per input row (r17)
        off = (
            str(offsets[0])
            if len(offsets) == 1
            else f"explode(array({', '.join(map(str, offsets))}))"
        )
        piece = dfs[i].selectExpr(
            f"{own} AS __own",
            f"{off} AS __off",
            f"{i} AS __rel",
            *[
                f"{q[a]} AS {q[a]}"
                if a in cols
                else f"CAST(NULL AS {field_type[a].simpleString()}) AS {q[a]}"
                for a in order
            ],
        ).selectExpr("__own + __off AS __cell", "__rel", *q.values())
        pieces.append(piece)
    union = pieces[0]
    for p in pieces[1:]:
        union = union.unionByName(p)

    rel_cols = [list(d.columns) for d in dfs]
    return union, rel_cols, order, field_type, shares
