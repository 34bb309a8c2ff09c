"""PK-FK-aware star/chain join planning.

Reference parity: ``MarkJoinIntegrityConstraintProperty`` +
``OptimizePKFKJoin`` (``optimization/rules/mark.scala:83``,
``rules/join.scala:88-230``) — classify each equi-join as PK-FK vs FK-FK
using the catalog's primary keys, then reorder so PK-FK joins form a
consecutive chain over the join graph.

Spark-first translation: the fact table (the relation that is never the
one-side) anchors the plan; dimension tables (joined on their full primary
key) chain off it in join-graph order and get ``broadcast()`` hints when
the side catalog PROVES them small. An explicit ``broadcast()`` hint is NOT
demoted by AQE (unlike the optimizer's own size-based choice), so hinting on
an unknown-cardinality table risks OOMing executors at scale — when stats
are missing we emit no hint and let Catalyst/AQE decide from its own size
estimates. At 100 TB only the fact-fact joins shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seccosql_spark.catalog import SideCatalog, TableMeta
from seccosql_spark.sqltext import quote_ident

# Proven-small thresholds for an explicit broadcast hint. Row limit assumes
# ~100 B/row (dimension tables), i.e. ~100 MB broadcast — safely inside a
# multi-GB executor but far above Spark's conservative 10 MB auto threshold,
# which is the point of having PK metadata. Unknown stats -> NO hint.
BROADCAST_ROW_LIMIT = 1_000_000
BROADCAST_BYTES_LIMIT = 100 * 1024 * 1024


def _proven_small(meta: TableMeta | None) -> bool:
    if meta is None:
        return False
    rc, size = meta.stats.row_count, meta.stats.size_in_bytes
    if size is not None:
        return size <= BROADCAST_BYTES_LIMIT
    return rc is not None and rc <= BROADCAST_ROW_LIMIT


@dataclass
class JoinInput:
    name: str
    df: DataFrame
    # equi-join conditions to other inputs: (my_col, other_name, other_col)
    joins: list[tuple[str, str, str]]


def classify_join(
    catalog: SideCatalog, left: str, left_cols: list[str], right: str, right_cols: list[str]
) -> str:
    """'pk-fk' when one side's join columns cover its primary key,
    'fk-fk' otherwise (mark.scala:83)."""
    lpk, rpk = set(catalog.primary_keys(left)), set(catalog.primary_keys(right))
    if lpk and lpk <= set(left_cols):
        return "pk-fk"
    if rpk and rpk <= set(right_cols):
        return "pk-fk"
    return "fk-fk"


def plan_star_join(catalog: SideCatalog, inputs: list[JoinInput]) -> DataFrame:
    """Emit a join tree for a star/chain query: start from the largest
    non-PK-side relation (the fact), attach each remaining relation in an
    order where every step joins on an already-bound column, broadcasting
    PK-side (dimension) tables.

    Output is plain ``df.join`` calls; the PK knowledge contributes the
    *order* and the broadcast hints — exactly the part Spark cannot infer
    without key metadata."""
    if not inputs:
        raise ValueError("plan_star_join needs at least one input")
    # join conditions reference columns by bare name, so names must be
    # globally unique across inputs (true for the TPC-H-ish prefix scheme) —
    # fail loudly instead of letting Spark throw AMBIGUOUS_REFERENCE later
    seen_cols: dict[str, str] = {}
    for i in inputs:
        for c in i.df.columns:
            if c in seen_cols:
                raise ValueError(
                    f"ambiguous column {c!r} in {i.name!r} and {seen_cols[c]!r}: "
                    "rename before star planning"
                )
            seen_cols[c] = i.name

    def is_dimension(inp: JoinInput) -> bool:
        """A dimension is joined TO on its FULL primary key by some other
        input — partial coverage of a composite key is not a PK-FK edge
        (each fact row could match many rows, so broadcasting it as the
        one-side would be wrong-shaped)."""
        pk = set(catalog.primary_keys(inp.name))
        if not pk:
            return False
        for other in inputs:
            if other.name == inp.name:
                continue
            covered = {
                other_col
                for _, other_name, other_col in other.joins
                if other_name == inp.name
            }
            if pk <= covered:
                return True
        return False

    facts = [i for i in inputs if not is_dimension(i)]
    anchor = facts[0] if facts else inputs[0]

    joined = {anchor.name}
    out = anchor.df
    remaining = [i for i in inputs if i.name != anchor.name]
    while remaining:
        # next input connected to the joined set
        nxt_idx = next(
            (
                idx
                for idx, i in enumerate(remaining)
                if any(o in joined for _, o, _ in i.joins)
                or any(
                    i.name == o and j.name in joined
                    for j in inputs
                    for _, o, _ in j.joins
                )
            ),
            0,
        )
        nxt = remaining.pop(nxt_idx)
        # each condition is SQL text, parsed once by the join: a Column
        # node costs ~5 py4j round trips (seccosql_spark/sqltext.py)
        conds = []
        for my_col, other_name, other_col in nxt.joins:
            if other_name in joined:
                conds.append(f"{quote_ident(my_col)} = {quote_ident(other_col)}")
        for j in inputs:
            if j.name in joined:
                for my_col, other_name, other_col in j.joins:
                    if other_name == nxt.name:
                        conds.append(f"{quote_ident(my_col)} = {quote_ident(other_col)}")
        if not conds:
            # A relation with no equi-join edge into the joined set would
            # silently become a cartesian product — at scale that's a
            # cluster-killer, so fail loudly (mirrors the ambiguity check
            # above). Callers wanting a cross product should say so with
            # crossJoin directly.
            raise ValueError(
                f"input {nxt.name!r} has no join condition connecting it to "
                f"{sorted(joined)} — refusing to emit an implicit cross join"
            )
        right = nxt.df
        if is_dimension(nxt) and _proven_small(catalog.get(nxt.name)):
            right = F.broadcast(right)
        out = out.join(right, F.expr(" AND ".join(conds)))
        joined.add(nxt.name)
    return out
