"""SQL-text building blocks for hot expressions.

In PySpark 4.x every Column-API call is wrapped by
``pyspark.errors.utils._with_origin``, which adds about four py4j round
trips (active session, conf read, origin set and clear) to the call itself.
A planner that builds a projection out of ``F.col(...).alias(...)`` nodes
therefore pays about five round trips per node, while one
``selectExpr``/``F.expr`` string costs one parse however long it is. The
hot builders (hypercube shuffle, pattern edges, PK-FK join conditions,
minhash) emit SQL text, and every column name they splice into it goes
through ``quote_ident``.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """``name`` as one Spark SQL identifier: wrapped in backticks, with
    every backtick inside it doubled, so ``a b``, ``x.y`` and ``q`r`` each
    stay a single column reference."""
    return "`" + name.replace("`", "``") + "`"
