"""Exact (order-independent) floating-point aggregation helpers.

Double summation is not associative; Spark's partial/final aggregation and
DuckDB's accumulate in different orders, so a raw ``SUM(double)`` can differ
in the last bits between engines — and between RUNS on a cluster, as task
scheduling changes. Routing through decimal makes the aggregate exact and
order-independent, which is also what you want at 100 TB: results must not
depend on partition count.

Pattern (r14 floor-LONG form):
    Spark :  F.sum(cents(x, s).cast("decimal(p,0)")).cast("double") / 10^s
    SQL   :  CAST(SUM(CAST({sql_cents(x, s)} AS DECIMAL(p,0))) AS DOUBLE) / 10^s

This module is the only place that spells either form. Spark Column code
calls ``exact_sum`` (un-aliased; ``over=`` for window sums, ``guard=False``
for already-guarded or bounded inputs), ``dsum``/``davg`` (aliased),
``cents_sum`` (the DECIMAL(p,0) partial of a two-level sum) or
``cents_term`` (one row's quantized term), never ``cents`` itself. Oracle
strings and Spark-side SQL texts (``spark.sql``, ``F.expr``) interpolate
the ``sql_*`` mirrors and never paste their expansion: ``sql_exact_sum``
for the un-aliased, windowed and conditional sums, ``sql_dsum``/
``sql_davg`` for the aliased ones, ``sql_cents_term`` for one row's
quantized term. ``tests/test_oracle_helpers.py`` fails on a ``cents(``
call or a pasted SQL copy outside this module.

WHY quantization is sign·FLOOR(|x·10^s| + 0.5) through BIGINT rather than
either earlier form:

- The r1-r12 direct CAST(x AS DECIMAL(p,s)) is engine-ambiguous within an
  ULP of the .{s}5 boundary: Spark converts via BigDecimal.valueOf (HALF_UP
  on the double's SHORTEST decimal repr) while DuckDB scales the BINARY
  value (probed r13: 1048576.005 and 7.5649999999999995 split in opposite
  directions; the class is dense near power-of-two magnitudes).
- The r13 ROUND(x·10^s) → DECIMAL(p,0) form fixed that at the .5 boundary
  (ROUND of a double to integer has no repr-vs-binary gap) but left the
  SAME repr-vs-binary ambiguity in the final double→DECIMAL(p,0) cast once
  |cents| exceeds 2^53: Spark's decimal is built from the shortest repr,
  DuckDB's from the binary value (probed r14, the ADVICE case: cents
  1.0000000000000003e17 → Spark 100000000000000030, DuckDB
  100000000000000048 — a single-row dsum diverges). Spark's Round on
  doubles is also BigDecimal-backed (~+17%/aggregate, BASELINE.md r13).

The floor-LONG form has neither problem: x·10^s is ONE IEEE multiply
(bit-identical cross-engine), ABS/+0.5/FLOOR are IEEE ops with no decimal
repr anywhere, and the double→BIGINT conversion is BINARY in both engines
(exact on integer-valued doubles; guards keep |cents| < 1e18 < 2^63, so
the ANSI overflow path is unreachable). BIGINT→DECIMAL(p,0) is exact
integer widening. The sign decomposition reproduces ROUND's away-from-zero
tie rule. On inputs that are exact s-decimals below 2^52 cents (every
clean fixture) the form is bit-identical to both earlier routes.

Known deterministic deviation from ROUND semantics: for |cents| in
[2^52, 2^53) landing exactly on an ODD integer, |v| + 0.5 is an IEEE tie
and rounds half-EVEN to the next integer, so the form quantizes one cent
above ROUND. Both engines compute the identical IEEE sequence, so the
deviation is cross-engine-invisible; it is a sub-ULP effect relative to
the value (16th significant digit of a ≥4.5e13 input) and unreachable on
exact-cent inputs below 2^52.

Guard rule (re-derived for this route per the r12 rule — a validity bound
must match the tightest route its values travel): decimal-adjacent guards
bound at 10^min(p - s, DOUBLE_SAFE_EXP, CENTS_SAFE_EXP - s). The last term
is new in r14: it keeps |cents| < 1e18 so the BIGINT hop cannot overflow.
Only (p>=21, s=6)-class routes narrow (1e15 → 1e12); every other route's
bound is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# The exact-aggregation domain: |x| < 1e12. One bound quarantines every
# value the decimal routes can misrepresent — NaN and ±Inf (abs(x) < b is
# FALSE for NaN in BOTH engines: NaN compares greater than everything) AND
# finite out-of-range magnitudes, where the engines split exactly like
# they do on NaN (Spark CAST(1e20 AS DECIMAL(18,2)) silently NULLs, DuckDB
# raises even through TRY_CAST). Guards adjacent to a cents quantization
# bound at min(10^(p-s), 10^DOUBLE_SAFE_EXP, 10^(CENTS_SAFE_EXP-s)) — what
# the route can represent, hand back through DOUBLE deterministically, AND
# quantize inside BIGINT — so wide routes don't quarantine legitimate
# values (a time-weighted product legitimately nears 1e12); statistics,
# rendering, and non-decimal guards use this default domain.
EXACT_MAX = 1e12


# Decimal-adjacent guards cap at 1e15 regardless of the route's width:
# the aggregate VALUE is exact at any 10^(p-s), but the OUTPUT leaves as
# DOUBLE, and DuckDB's DECIMAL->DOUBLE conversion (int128 divided by 10^s
# in float arithmetic) drifts a ULP from Java's correctly-rounded
# BigDecimal.doubleValue once magnitudes push the scaled value past 2^53
# (observed: TPC-H Q1 accepting a planted 1e20 diverged in the 17th digit).
DOUBLE_SAFE_EXP = 15

# |cents| = |x|·10^s must stay below 10^CENTS_SAFE_EXP = 1e18 < 2^63 so the
# floor-form's double→BIGINT hop is exact and overflow-free in both engines
# (Spark ANSI would raise, DuckDB would saturate — neither is reachable).
CENTS_SAFE_EXP = 18


def route_exp(prec: int, scale: int) -> int:
    """The guard exponent for a DECIMAL(prec,0)-summed cents route at the
    given scale (module docstring guard rule)."""
    return min(prec - scale, DOUBLE_SAFE_EXP, CENTS_SAFE_EXP - scale)


def finite(col: Column | str, exp: int = 12) -> Column:
    """NULL out doubles outside the quarantine bound 10**exp (defaults to
    EXACT_MAX's 1e12) — NaN/±Inf always excluded (they compare greater
    than any bound in both engines), NULL stays NULL. Guards adjacent to
    a cents quantization pass ``route_exp(p, s)`` so the bound is what the
    route can represent, hand back through DOUBLE deterministically, and
    quantize inside BIGINT (mirror: ``sql_finite``);
    statistics/rendering guards keep the default domain."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.abs(c) < F.lit(10.0 ** min(exp, DOUBLE_SAFE_EXP)), c)


def sql_finite(expr: str, exp: int = 12) -> str:
    """SQL mirror of ``finite`` — ENGINE-PORTABLE on purpose: sql_dsum
    strings also run as Spark SQL (the SQL-string-API keys, e.g. TPC-H Q6
    feeds one text to both engines). abs(x) < 1.0eN evaluates identically
    in both (NaN/Inf compare greater than any bound; NULL stays NULL)."""
    return f"(CASE WHEN abs({expr}) < 1.0e{min(exp, DOUBLE_SAFE_EXP)} THEN {expr} END)"


def cents(c: Column, scale: int) -> Column:
    """Deterministic quantization to the scale grain as a LONG cents count
    (module docstring): sign · FLOOR(|x·10^s| + 0.5). Pure IEEE ops plus a
    binary double→LONG conversion — never a decimal repr on either engine.
    The input must already be guarded to |x| < 10^(CENTS_SAFE_EXP - scale)
    (see ``finite``/``route_exp``) so the LONG cannot overflow."""
    v = c * F.lit(float(10**scale))
    mag = F.floor(F.abs(v) + F.lit(0.5))  # LONG in Spark
    return F.when(v >= 0, mag).otherwise(-mag)


def sql_cents_mag(expr: str, scale: int) -> str:
    """The magnitude half of ``sql_cents``: FLOOR(|x·10^s| + 0.5), a BIGINT
    in Spark and an integer-valued DOUBLE in DuckDB. The exact renderings
    (scalar._RENDER6_SQL/_RENDER6_PY) format it directly."""
    return f"FLOOR(ABS(({expr}) * 1.0e{scale}) + 0.5)"


def sql_cents(expr: str, scale: int) -> str:
    """SQL mirror of ``cents`` — engine-portable: Spark's FLOOR(double)
    returns BIGINT (the CAST is a no-op), DuckDB's returns an
    integer-valued DOUBLE whose BIGINT cast is the exact binary value."""
    mag = f"CAST({sql_cents_mag(expr, scale)} AS BIGINT)"
    return f"(CASE WHEN ({expr}) * 1.0e{scale} >= 0 THEN {mag} ELSE -{mag} END)"


def cents_term(
    col: Column | str, prec: int = 18, scale: int = 2, guard: bool = True
) -> Column:
    """One row's quantized cents as DECIMAL(prec,0), the summand of every
    exact sum. For split routes that quantize per row before a join or a
    projection (the PageRank ``term``, the text entropy term, the
    ``scalar`` decimal product). ``guard=False`` skips the route guard,
    for inputs that are already guarded or bounded."""
    c = F.col(col) if isinstance(col, str) else col
    g = finite(c, route_exp(prec, scale)) if guard else c
    return cents(g, scale).cast(f"decimal({prec},0)")


def cents_sum(
    col: Column | str,
    prec: int = 18,
    scale: int = 2,
    over: WindowSpec | None = None,
    guard: bool = True,
) -> Column:
    """The DECIMAL(prec,0) cents sum before its rescale, for two-level
    sums that re-aggregate exact partials (q_rollup's ``psum``, the
    twophase chunk totals). ``over`` makes it a window aggregate."""
    s = F.sum(cents_term(col, prec, scale, guard))
    return s.over(over) if over is not None else s


def exact_sum(
    col: Column | str,
    prec: int = 18,
    scale: int = 2,
    over: WindowSpec | None = None,
    guard: bool = True,
) -> Column:
    """Order-independent SUM over a double column, returned as double and
    un-aliased, for sums inside larger expressions (ratios, conditional
    and windowed sums). Inputs the route cannot represent are excluded
    explicitly (see ``finite``; bound ``route_exp(prec, scale)``);
    ``guard=False`` takes an already-guarded or bounded input. Quantization
    via the floor-LONG cents form (module docstring): both the direct
    DECIMAL(p,s) cast and a double→DECIMAL(p,0) cast of the cents are
    engine-ambiguous (at the .{s}5 boundary / above 2^53 respectively).
    Mirror: ``sql_exact_sum``."""
    return cents_sum(col, prec, scale, over, guard).cast("double") / F.lit(
        float(10**scale)
    )


def dsum(col: Column | str, alias: str, prec: int = 18, scale: int = 2) -> Column:
    """Aliased ``exact_sum`` (mirror: ``sql_dsum``)."""
    return exact_sum(col, prec, scale).alias(alias)


def davg(col: Column | str, alias: str, prec: int = 18, scale: int = 2) -> Column:
    """Order-independent AVG: exact cents sum / 10^s / count, as double.

    The count is over the SAME finite-guarded value as the sum — counting
    raw non-NULLs would divide a non-finite-excluded sum by a larger n."""
    n = F.count(finite(col, route_exp(prec, scale)))
    return (exact_sum(col, prec, scale) / n).alias(alias)


def sql_cents_term(expr: str, prec: int = 18, scale: int = 2, guard: bool = True) -> str:
    """SQL mirror of ``cents_term``: one row's quantized cents as
    DECIMAL(prec,0), for oracles that quantize per row before a join, a
    product or a COALESCEd sum."""
    g = sql_finite(expr, route_exp(prec, scale)) if guard else expr
    return f"CAST({sql_cents(g, scale)} AS DECIMAL({prec},0))"


def sql_exact_sum(
    expr: str,
    prec: int = 18,
    scale: int = 2,
    over: str | None = None,
    guard: bool = True,
) -> str:
    """SQL mirror of ``dsum`` without the alias, for sums inside larger
    expressions (ratios, HAVING, scalar subqueries). ``over`` makes it a
    window aggregate (``SUM(...) OVER <over>``). ``guard=False`` skips the
    route guard, for inputs that are already guarded or bounded (a
    conditional ``CASE ... THEN <sql_finite> ELSE 0 END``, a sum of
    guarded sums)."""
    win = f" OVER {over}" if over else ""
    term = sql_cents_term(expr, prec, scale, guard)
    return f"CAST(SUM({term}){win} AS DOUBLE) / 1.0e{scale}"


def sql_dsum(expr: str, alias: str, prec: int = 18, scale: int = 2) -> str:
    return f"{sql_exact_sum(expr, prec, scale)} AS {alias}"


def split_sum16(c: Column) -> Column:
    """Order-independent SUM of doubles at the 1e-16 grain (the centroid
    route) via an integer/fraction split: FLOOR(c) sums as exact integers
    and the fractional part [0,1) quantizes to LONG sixteenths-cents
    (fp·1e16 < 1e18 always fits).  The LONG cents form cannot serve this
    route directly — the vector-component domain |c| < 1e6 puts c·1e16 at
    1e22, past BIGINT — but c - FLOOR(c) is IEEE-EXACT (the difference is
    a multiple of ULP(c) below 1, representable, and IEEE subtraction of
    a representable difference is exact), so the split loses nothing.
    Replaces the direct double→DECIMAL(28,16) cast, which is
    engine-ambiguous on ~1/30k of uniform float32 components (probed r14:
    0.39339181780815125 and the exact-tie 2^-17 split Spark/DuckDB).
    Input must be guarded finite with |c| < 2^52 — ULP(c) ≤ 1 is what
    makes the split exact (vector components are < 1e6 via
    similarity.vec_valid; centroid products are < 1e12 by construction).
    Mirror: ``sql_split_sum16``."""
    ip = F.floor(c)  # LONG in Spark
    fp = c - ip.cast("double")
    return (
        F.sum(ip.cast("decimal(28,0)")).cast("double")
        + F.sum(
            F.floor(fp * F.lit(1.0e16) + F.lit(0.5)).cast("decimal(28,0)")
        ).cast("double")
        / F.lit(1.0e16)
    )


def sql_split_sum16(expr: str) -> str:
    """SQL mirror of ``split_sum16`` — engine-portable (Spark FLOOR(double)
    is already BIGINT, DuckDB's integer-valued DOUBLE casts exactly)."""
    fp = f"(({expr}) - FLOOR({expr}))"
    return (
        f"(CAST(SUM(CAST(FLOOR({expr}) AS DECIMAL(28,0))) AS DOUBLE)"
        f" + CAST(SUM(CAST(CAST(FLOOR({fp} * 1.0e16 + 0.5) AS BIGINT)"
        f" AS DECIMAL(28,0))) AS DOUBLE) / 1.0e16)"
    )


def sql_davg(expr: str, alias: str, prec: int = 18, scale: int = 2) -> str:
    g = sql_finite(expr, route_exp(prec, scale))
    return f"{sql_exact_sum(expr, prec, scale)} / COUNT({g}) AS {alias}"


def sql_ms(x: str) -> str:
    """Epoch milliseconds of the SQL timestamp ``x``, floored — the mirror
    of Spark's ``unix_millis``. Only ``time_bucket`` floors: ``epoch_ms``
    truncates toward zero and DuckDB ``//`` truncates on integers too, so
    pre-epoch instants would land a millisecond apart."""
    return f"(epoch_us(time_bucket(INTERVAL '1 millisecond', {x})) // 1000)"
