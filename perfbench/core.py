"""Pure logic of the benchmark: op order, tail percentile, pass time, host
scaling, span self time and the oracle comparison. Nothing here touches
Spark, so it is unit-tested directly (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import math
import random
import statistics
from collections import Counter
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10  # samples a reported tail percentile must leave above it
REL_TOL = 1e-12
# wall time of the host canary (``client.Canary``) on a 4-vCPU Xeon host at
# a quiet hour; ``host_scaled`` maps a run's op times onto that speed
CANARY_REF_S = 0.06


def op_order(ops: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The op order of one pass. The cold pass (0) runs the ops as listed, so
    every run pays first use in the same sequence; each later pass is the
    seed's permutation, the same in every process."""
    order = list(ops)
    if pass_index > 0:
        random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order


def tail_percentile(
    samples: Sequence[float], target: float = 90.0, beyond: int = TAIL_BEYOND
) -> tuple[float, float, int]:
    """(value, percentile, samples_beyond) for the highest percentile up to
    ``target`` that leaves at least ``beyond`` samples above it.

    The value is an observed sample. Its percentile is the share of samples
    at or below it. With ``beyond`` or fewer samples no percentile
    qualifies; the maximum is returned with the count actually beyond it
    (0), so a caller can see the tail is unsupported."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0, 0
    want = max(0, math.ceil(target / 100.0 * n) - 1)  # nearest-rank index
    i = min(want, n - 1 - beyond)
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def pass_time(records: Sequence[dict]) -> float:
    """Wall time of one pass: the sum, over the ops of a pass, of each op's
    median ``wall_s``. An op that runs more than once in a pass (the write
    sequence's merges and appends) counts once per occurrence."""
    seen: Counter = Counter()
    walls: dict[tuple[str, int], list[float]] = {}
    for r in records:
        seen[(r["pass"], r["op"])] += 1
        walls.setdefault((r["op"], seen[(r["pass"], r["op"])]), []).append(r["wall_s"])
    if not walls:
        raise ValueError("pass time of no records")
    return sum(statistics.median(w) for w in walls.values())


def host_scaled(records: Sequence[dict], last_canary_s: float, ref_s: float = CANARY_REF_S) -> list[dict]:
    """Copies of ``records`` with each ``wall_s`` mapped onto the reference
    host speed: times ``ref_s`` over the mean of the canary run just before
    the op (its ``canary_s``) and the one just after it (the next record's,
    or ``last_canary_s`` after the last op).

    The host is shared and its speed drifts by up to 2.5x, within minutes;
    the canary, a fixed plain Spark query, slows down with it. Scaling each
    op by the canaries around it follows the drift as it happens."""
    after = [r["canary_s"] for r in records[1:]] + [last_canary_s]
    return [
        {**r, "wall_s": r["wall_s"] * ref_s * 2 / (r["canary_s"] + c)}
        for r, c in zip(records, after)
    ]


def covered_length(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``;
    overlapping intervals count once."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it covered by
    its child spans (``parent`` == its id), overlapping children once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_length(s["start"], s["end"], children.get(s["id"], ()))
        for s in spans
    }


def _is_float(v) -> bool:
    return isinstance(v, float) or type(v).__name__ in ("float32", "float64", "float16")


def _exact_key(row: tuple) -> str:
    """Sort key of the non-float cells; floats are left out, so rows that
    differ only in float cells tie."""
    return repr(tuple(None if _is_float(v) else v for v in row))


def _float_key(row: tuple) -> tuple:
    return tuple(v for v in row if _is_float(v))


def _cell_equal(a, b, rel: float) -> tuple[bool, bool]:
    """(equal, needed_tolerance) for two canonicalized cells."""
    if _is_float(a) and _is_float(b):
        if a == b:
            return True, False
        ok = math.isclose(a, b, rel_tol=rel, abs_tol=0.0)
        return ok, ok
    return repr(a) == repr(b), False


def _row_equal(a: tuple, b: tuple, rel: float) -> tuple[bool, int]:
    """(equal, cells_needing_tolerance) for two rows of the same width."""
    tol = 0
    for x, y in zip(a, b):
        eq, used = _cell_equal(x, y, rel)
        if not eq:
            return False, 0
        tol += used
    return True, tol


def _match_ties(got: list[tuple], want: list[tuple], rel: float) -> tuple[bool, int, str]:
    """Pair rows whose non-float cells are equal. Pairing by the exact float
    values is tried first; if a pair then differs, each row is matched to
    any unused row within tolerance."""
    got = sorted(got, key=_float_key)
    want = sorted(want, key=_float_key)
    pairs = [_row_equal(a, b, rel) for a, b in zip(got, want)]
    if all(eq for eq, _ in pairs):
        return True, sum(t for _, t in pairs), ""
    unused = list(want)
    tol = 0
    for a in got:
        for j, b in enumerate(unused):
            eq, used = _row_equal(a, b, rel)
            if eq:
                tol += used
                del unused[j]
                break
        else:
            return False, tol, f"{a!r} has no match within rel {rel}"
    return True, tol, ""


def compare_rows(
    got: Sequence[tuple], want: Sequence[tuple], rel: float = REL_TOL
) -> tuple[bool, int, str]:
    """Order-insensitive compare of canonicalized rows: non-float cells
    exactly (by repr, as the repo's oracle tests do), floats to a relative
    ``rel``. Rows are grouped by their non-float cells and matched within
    each group. Returns (ok, cells_needing_tolerance, first_mismatch)."""
    if len(got) != len(want):
        return False, 0, f"row count {len(got)} vs {len(want)}"
    if Counter(map(repr, got)) == Counter(map(repr, want)):
        return True, 0, ""  # equal by repr, the repo's oracle-test contract
    groups: dict[str, tuple[list, list]] = {}
    for side, rows in ((0, got), (1, want)):
        for row in rows:
            groups.setdefault(_exact_key(row), ([], []))[side].append(row)
    tol = 0
    for key in sorted(groups):
        g, w = groups[key]
        if len(g) != len(w):
            row = (g or w)[0]
            return False, tol, f"{len(g)} vs {len(w)} rows like {row!r}"
        if len(g[0]) != len(w[0]):
            return False, tol, f"row width {len(g[0])} vs {len(w[0])}"
        ok, used, why = _match_ties(g, w, rel)
        tol += used
        if not ok:
            return False, tol, why
    return True, tol, ""


def canon_frame(pdf, canon) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and every cell passed through ``canon`` (the
    repo's oracle-test canonicalizer)."""
    cols = sorted(pdf.columns)
    rows = [tuple(map(canon, row)) for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, rows


def compare_frames(got_pdf, want_pdf, canon, rel: float = REL_TOL) -> tuple[bool, int, str]:
    gcols, grows = canon_frame(got_pdf, canon)
    wcols, wrows = canon_frame(want_pdf, canon)
    if gcols != wcols:
        return False, 0, f"columns {gcols} vs {wcols}"
    return compare_rows(grows, wrows, rel)
