"""Deterministic money aggregation: one exact discipline, long cents.

Double-typed measures (prices, quantities) must aggregate identically in
Spark and the DuckDB oracle, but floating sums are order-dependent and a
32-way partial aggregate will not reduce in the oracle's order. The fix is
exactness, not tolerance (SURVEY.md §7.4 "oracle mismatch traps"): every
money aggregate sums the measure's exact unscaled integer and converts
the exact result to double once.

1. ``cents(col)`` = rint(col * 100) cast long. For a double that
   represents a 2-dp value v (the fixture/money contract, FIXTURES.md)
   |col*100 - 100v| << 0.5, so rint() recovers the integer 100v
   exactly: the unscaled value DECIMAL(18,2) stores. rint rounds
   half-even in plain double arithmetic; Spark's round() rounds half-up
   through a per-row java.math.BigDecimal (q1 at sf0.1, same session:
   min 0.69 s with round, 0.38 s with rint). The two differ only at an
   exact .5, which col*100 never is for a 2-dp value. Pinned per column
   over the fixtures by tests/test_money_fastpath.py.
2. Sums and products run on longs (long-backed aggregate buffers,
   codegen integer ops). Per-row products stay tiny (price cents ~1e7 x
   100 x 100 = 1e11 << 2^63). ``csum``/``cavg`` sum in a long, so each
   call site documents its 100 TB bound; product sums and sums whose
   group may be a whole table use ``dsum_longs`` (DECIMAL(38,0)
   accumulator, overflow-free at any scale). Under ANSI (Spark 4
   default) a violated long bound fails loud, never silently wraps.
3. ``unscale(col, pow)`` rescales the exact integer sum through DECIMAL
   division (DECIMAL(38,0) / 10^k, k <= 6, yields DECIMAL(38,6): exact
   for our <= 6 fractional digits) and casts to double: ONE
   correctly-rounded conversion of the exact rational, the value the
   oracle's ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` produces
   (``sql_dsum``). Averages divide that double by the count in double,
   the same single IEEE operation on both sides (``sql_davg``).

Why not sum in DECIMAL(18,2) directly: its DECIMAL(28,2) accumulator
exceeds Spark's 18-digit long-backed Decimal, so every partial-aggregate
update goes through BigDecimal (q1 at sf0.1: 1.49 s decimal vs 0.32 s in
plain doubles, the arithmetic floor; OPTIMIZATION_r14.md). Old-vs-new equality for every migrated
expression shape is pinned in tests/test_money_fastpath.py; a plan guard
(tests/test_plan_properties.py) keeps decimal(18,2)/(18,4) accumulators
out of the migrated queries.

``dec`` has one caller, ``windowed_decay_sum_events``: it multiplies each
value by decimal weights row by row and sums the products in decimal,
and that decimal arithmetic is the query's rounding contract.

The same discipline applies at 100 TB on a real cluster: exact partial
aggregation is order-independent, so results are reproducible
run-to-run; floats would not be.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def cents(col: Column | str, pow10: int = 2) -> Column:
    """Exact integer (value * 10^pow10) of a pow10-dp double measure.

    Premise obligation: rint(x * 10^pow10) recovers the unscaled
    integer only when the column truly holds pow10-dp values (for an
    arbitrary double the IEEE product can land on or across a .5
    boundary, where rint's half-even and ``dec``'s decimal-expansion
    HALF_UP can differ by one cent). Every column routed through here
    must be pinned in MEASURES of tests/test_money_fastpath.py — add any
    new call-site column there, or prove the 2-dp provenance in a
    comment the way q9/q11's derived ps_supplycost analysis does
    (OPTIMIZATION_r15.md §8).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.rint(c * (10 ** pow10)).cast("long")


def csum(col: Column | str, pow10: int = 2) -> Column:
    """Exact long-cents sum surfaced as double.

    Caller obligations: the column is a true pow10-dp measure (see
    ``cents`` — pin new columns in tests/test_money_fastpath.py), and
    sum(|col|) * 10^pow10 < 2^63 at target scale — document the bound
    at each call site.
    """
    return unscale(F.sum(cents(col, pow10)), pow10)


def cavg(col: Column | str, pow10: int = 2) -> Column:
    """Exact long-cents sum / count, divided in double (the single IEEE
    division ``sql_davg`` does)."""
    return unscale(F.sum(cents(col, pow10)), pow10) / F.count(F.lit(1))


def dsum_longs(col: Column, pow10: int) -> Column:
    """Exact sum of a 10^pow10-scaled LONG expression (e.g. a cents
    product), accumulated in DECIMAL(38,0) — overflow-free at any
    corpus size — and surfaced as double."""
    return unscale(F.sum(col.cast("decimal(38,0)")), pow10)


def revenue_sum(price_col: Column | str, disc_col: Column | str) -> Column:
    """Exact SUM(price * (1 - discount)) surfaced as double — the
    TPC-H revenue shape, on the long-cents fast path: the per-row
    product is an exact 1e4-scaled long (price-cents ~1e9 x 100 <<
    2^63), the sum accumulates in DECIMAL(38,0) (overflow-free at any
    corpus size), and the rescale is one correctly-rounded double
    conversion — bit-identical to SUM(dec(p) * (1 - dec(d)))."""
    prod = cents(price_col) * (F.lit(100) - cents(disc_col))
    return dsum_longs(prod, 4)


def unscale(int_sum: Column, pow10: int) -> Column:
    """Exact integer sum -> value double: one correctly-rounded
    conversion via exact DECIMAL division (module docstring, step 3)."""
    return (int_sum.cast("decimal(38,0)") / F.lit(10 ** pow10)).cast("double")


# SQL-side twins for oracle strings (DuckDB).
def sql_dec(expr: str, scale: int = 2) -> str:
    return f"CAST({expr} AS DECIMAL(18,{scale}))"


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM({sql_dec(expr, scale)}) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"(CAST(SUM({sql_dec(expr, scale)}) AS DOUBLE) / COUNT(*))"
