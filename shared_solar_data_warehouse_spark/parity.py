"""Determinism helpers for DuckDB-oracle hash parity (SURVEY.md §5.4).

The one systematic trap in float aggregation is summation order: Spark's
shuffle makes ``sum(double)`` order-dependent in the last ulps, and with
enough output groups a ``round(x, 4)`` eventually straddles a rounding
boundary.  The fix used across the registry is EXACT accumulation:

  Spark side:   cast(round(sum(cast(x AS decimal(25,8))), 4) AS double)
  DuckDB side:  round(CAST(sum(CAST(x AS DECIMAL(25,8))) AS DECIMAL(38,8)), 4)::DOUBLE

The double->decimal cast rounds the same value to the same 8 fractional
digits in both engines (tie cases are measure-zero for computed
doubles), the decimal sum is exact and order-independent, the decimal
round is half-away-from-zero in both, and the final decimal->double
cast is the deterministic nearest-double.  Rounding the double instead
splits the engines when the exact sum ends on a half step: Spark rounds
the shortest decimal repr half-up, DuckDB the binary value, so a sum of
283778228.83495 gave Spark ...835 and DuckDB ...8349.  The helpers
below keep the two sides textually adjacent in every operator.

Other pinned rules (enforced by convention in each operator module):
- prefer ``date_trunc`` / ``to_date`` on ``events.ts`` output (µs in
  parquet, identical in both engines — truncation is for stability of
  bucketing semantics, not unit mismatch);
- unique trailing tie-break key on every ORDER BY ... LIMIT;
- ``array_sort`` every collected list; ``min_by``/``max_by`` not
  ``first``/``last`` in aggregations;
- lower_snake_case alias on every computed column, both sides;
- DuckDB ``sum(BIGINT)`` returns HUGEINT — always cast back to BIGINT
  in oracle SQL; DuckDB ``count`` is already BIGINT like Spark's.
- NEVER cast a fractional double to an integer type directly:
  DuckDB's double->int CAST rounds to nearest while Spark's
  truncates (epoch/900 bucketing diverged a whole bucket this way).
  Either divide in integers (``DIV`` / ``//`` on BIGINTs) or make
  the rounding explicit with floor()/round() before the cast.
- Integer division semantics (rule CORRECTED in round 4 after direct
  measurement): DuckDB's ``//`` on INTEGER/BIGINT/HUGEINT operands
  TRUNCATES toward zero exactly like Spark's ``DIV`` (-7 // 2 = -3 on
  both, verified DuckDB 1.0) — plain ``DIV`` ↔ ``//`` is
  parity-exact even for signed numerators.  The REAL trap is DuckDB's
  ``//`` on DOUBLE operands: it is plain division (-7.5 // 2 =
  -3.75), neither floor nor truncation — never let an oracle's ``//``
  see a DOUBLE operand; cast to BIGINT first.  The sign-split
  spelling ``CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END``
  used by several oracles is the identity function under truncation,
  so existing sign-split oracles remain exactly equivalent to DIV —
  harmless belt-and-suspenders, kept where written.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type used for exact accumulation: 8 fractional digits (well
#: inside double's ~16 significant digits for magnitude <= 1e8 values),
#: 17 integer digits of headroom (1e6-scale values x 1e11 rows).
DEC = "decimal(25,8)"


def dsum(col: Column | str, ndigits: int = 4) -> Column:
    """Order-independent double sum, rounded: the Spark half of the pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), ndigits).cast("double")


def davg(col: Column | str, ndigits: int = 4) -> Column:
    """Order-independent double mean: exact decimal sum / count, rounded.

    The final rounding is floor(x*10^n + 0.5)/10^n — NOT round() —
    because a mean of short-decimal data often terminates exactly at
    the .xxxx5 boundary, where Spark's round (BigDecimal on the
    shortest decimal repr, half-up) and DuckDB's (numeric nearbyint)
    disagree.  The floor formula is plain IEEE arithmetic on an
    identical input double, so both engines produce the same bits.
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**ndigits)
    q = F.sum(c.cast(DEC)).cast("double") / F.count(c).cast("double")
    return F.floor(q * scale + 0.5) / scale


def sql_dsum(expr: str, ndigits: int = 4) -> str:
    """DuckDB half of :func:`dsum` — keep textually adjacent in oracles.

    ``DECIMAL(38,8)`` is DuckDB's own type for this sum, named so the
    round visibly takes the decimal; the postfix cast keeps the oracle
    text's ``round(CAST(sum(`` prefix, which oracle test ids are cut from.
    """
    return (
        f"round(CAST(sum(CAST({expr} AS DECIMAL(25,8))) AS DECIMAL(38,8)),"
        f" {ndigits})::DOUBLE"
    )


def sql_davg(expr: str, ndigits: int = 4) -> str:
    """DuckDB half of :func:`davg` (same floor-based rounding — see
    davg's docstring for why round() is not usable on quotients)."""
    scale = float(10**ndigits)
    return (
        f"floor(CAST(sum(CAST({expr} AS DECIMAL(25,8))) AS DOUBLE)"
        f" / CAST(count({expr}) AS DOUBLE) * {scale} + 0.5) / {scale}"
    )


def r4(col: Column, ndigits: int = 4) -> Column:
    """Round a computed double for output (non-accumulated expressions)."""
    return F.round(col, ndigits)


def dround(col: Column, ndigits: int = 6) -> Column:
    """Engine-portable scalar rounding: floor(x*10^n + 0.5)/10^n.

    Same identity as :func:`davg`'s final step, for standalone scalar
    expressions.  Two properties make it preferable to round() in hot
    projections: (1) it is plain IEEE double arithmetic, so any engine
    evaluating the textually identical formula produces the same bits
    (Spark's round() routes every value through BigDecimal on the
    shortest-decimal string, DuckDB's through numeric nearbyint — they
    can disagree at .xxx5 boundaries); (2) it stays inside whole-stage
    codegen with no per-value allocation, measured ~2x cheaper than
    F.round on a transcendental-heavy projection.  Half-up for
    positive inputs (half-down for negative); pair with
    :func:`sql_dround` on the oracle side.
    """
    scale = float(10**ndigits)
    return F.floor(col * scale + 0.5) / scale


def sql_dround(expr: str, ndigits: int = 6) -> str:
    """DuckDB half of :func:`dround` — keep textually adjacent."""
    scale = float(10**ndigits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


#: DuckDB twin of Spark's ``unix_timestamp(ts)``: whole epoch seconds,
#: sub-second parts truncated, so a gap within 1 s of a boundary
#: classifies the same on both engines.
DUCK_EPOCH_S = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Deterministic transcendentals (round 6, VERDICT r5 item 4).
#
# The residual `libm-quantized` risk class in ieee_ok.py exists because
# ln/exp/pow are NOT required to be correctly rounded by IEEE 754 — the
# JVM's and DuckDB's libm may differ by 1 ulp, and a grid-quantized
# output one near-tie away from a floor boundary then splits the driver
# hash.  The generators below eliminate the libm call instead of
# quantizing around it: they emit SQL text composed ONLY of operations
# IEEE 754 *does* require to be correctly rounded (+, -, *, /, casts,
# comparisons) plus decimal literals that parse to identical doubles in
# both engines (17-significant-digit scientific notation round-trips).
# Any engine evaluating the same staged formula over the same input
# bits therefore produces the same output bits — the `ieee-elementary`
# guarantee, with accuracy ~1e-12 absolute (documented per helper),
# far inside every op's output quantization grid.
#
# ln(x) scheme (classic argument reduction + odd atanh series):
#   1. ladder:  find e with 2^e <= x < 2^(e+1) by comparing x against
#      power-of-two literals (a CASE ladder — integer-exact compares);
#      emit p2 = 2^e (exact literal) and eln2 = nearest-double(e*ln 2)
#      (precomputed high-precision literal, one per rung).
#   2. m = x / p2  in [1, 2)  (division by a power of two is EXACT).
#   3. s = (m-1)/(m+1) in [0, 1/3]; ln m = 2*atanh(s) via the odd
#      series s*(1 + z/3 + z^2/5 + ... ), z = s^2 <= 1/9, Horner with
#      nearest-double coefficient literals; truncation after z^11
#      contributes < 5e-14.
#   4. ln x = eln2 + 2*s*poly.
#
# The formula is staged across projections (ladder -> s -> final) so
# the CASE ladder appears ONCE in the plan text; callers alias the
# stage columns with the LN_* names below on BOTH engine sides.
# ---------------------------------------------------------------------------

import decimal as _decimal

#: ln(2) to 50 digits (public constant); Decimal multiply keeps the
#: per-rung e*ln2 literal correctly rounded to the nearest double.
_LN2 = _decimal.Decimal("0.69314718055994530941723212145817656807550013436026")

#: Staged column names for the ln pipeline (see sql_ln_* docstrings).
LN_X = "__ln_x"
LN_P2 = "__ln_p2"
LN_ELN2 = "__ln_eln2"
LN_S = "__ln_s"


def _dlit(v: float) -> str:
    """17-significant-digit scientific literal: parses to the exact
    same IEEE double in Spark SQL and DuckDB (both type scientific-
    notation literals as DOUBLE, and 17 digits round-trip)."""
    return f"{v:.17e}"


def sql_ln_ladders(x: str = LN_X, lo_e: int = -62, hi_e: int = 62) -> tuple[str, str]:
    """Stage-1 fragments: (p2_expr, eln2_expr) over column ``x``.

    Alias them ``LN_P2`` / ``LN_ELN2``.  Valid domain: x in
    [2^lo_e, 2^(hi_e+1)); outside it the ELSE rung degrades accuracy
    (still deterministic) — callers pick bounds from their data
    domain (e.g. idf ratios are >= 1, entropy probabilities <= 1).
    ``x`` should be a short column name: it appears once per rung.
    """
    rungs_p2, rungs_el = [], []
    for e in range(hi_e, lo_e, -1):
        p2 = _dlit(2.0**e)
        el = _dlit(float(_decimal.Decimal(e) * _LN2))
        rungs_p2.append(f"WHEN ({x}) >= {p2} THEN {p2}")
        rungs_el.append(f"WHEN ({x}) >= {p2} THEN {el}")
    else_p2 = _dlit(2.0**lo_e)
    else_el = _dlit(float(_decimal.Decimal(lo_e) * _LN2))
    return (
        f"(CASE {' '.join(rungs_p2)} ELSE {else_p2} END)",
        f"(CASE {' '.join(rungs_el)} ELSE {else_el} END)",
    )


def sql_ln_s(x: str = LN_X, p2: str = LN_P2) -> str:
    """Stage-2 fragment: s = (m-1)/(m+1) with m = x/p2.  Alias ``LN_S``."""
    m = f"(({x}) / ({p2}))"
    return f"(({m} - 1.0e0) / ({m} + 1.0e0))"


def sql_ln_final(s: str = LN_S, eln2: str = LN_ELN2) -> str:
    """Stage-3 fragment: ln(x) = eln2 + 2*s*(1 + z/3 + z^2/5 + ...)."""
    z = f"(({s}) * ({s}))"
    horner = _dlit(1.0 / 23.0)
    for k in (21, 19, 17, 15, 13, 11, 9, 7, 5, 3):
        horner = f"({_dlit(1.0 / k)} + {z} * {horner})"
    return f"(({eln2}) + 2.0e0 * ({s}) * (1.0e0 + {z} * {horner}))"


def py_ieee_ln(x: float, lo_e: int = -62, hi_e: int = 62) -> float:
    """Python-reference evaluation of the EXACT same IEEE op sequence
    (CPython floats are IEEE doubles) — the test oracle for the SQL
    fragments and a readable spec of the formula."""
    p2, eln2 = 2.0**lo_e, float(_decimal.Decimal(lo_e) * _LN2)
    for e in range(hi_e, lo_e, -1):
        if x >= 2.0**e:
            p2, eln2 = 2.0**e, float(_decimal.Decimal(e) * _LN2)
            break
    m = x / p2
    s = (m - 1.0) / (m + 1.0)
    z = s * s
    horner = 1.0 / 23.0
    for k in (21, 19, 17, 15, 13, 11, 9, 7, 5, 3):
        horner = 1.0 / k + z * horner
    return eln2 + 2.0 * s * (1.0 + z * horner)


def sql_powi(base: float, exp_col: str, max_bits: int = 16) -> str:
    """Deterministic base**n for an integer column n in [0, 2^max_bits):
    exponentiation by squaring over PRECOMPUTED literal factors
    base^(2^j) (float-squaring chain at codegen time), selected by bit
    tests and multiplied left-to-right — every runtime op is an exact
    integer `&` or one correctly-rounded IEEE multiply, so both
    engines produce identical bits (relative accuracy ~max_bits ulps
    vs true pow, deterministic by construction).  Replaces the libm
    `pow(base, CAST(n AS DOUBLE))` pattern (ts_npv_cashflows r6).

    Out-of-domain guard (ADVICE r6): exponent bits at or above
    max_bits used to be SILENTLY ignored — both engines computed the
    same wrong value, so parity held while the answer was off.  The
    expression now yields NULL for n < 0 or n >= 2^max_bits, making a
    domain overrun fail loudly (NULL output splits the driver hash
    and trips any NOT NULL expectation) instead of producing a
    consistent wrong number."""
    factors = []
    b = float(base)
    for j in range(max_bits):
        factors.append(
            f"(CASE WHEN (({exp_col}) & {1 << j}) != 0"
            f" THEN {_dlit(b)} ELSE 1.0e0 END)"
        )
        b = b * b
    product = " * ".join(factors)
    return (
        f"(CASE WHEN ({exp_col}) < 0 OR ({exp_col}) >= {1 << max_bits}"
        f" THEN CAST(NULL AS DOUBLE) ELSE ({product}) END)"
    )


def py_powi(base: float, n: int, max_bits: int = 16) -> float | None:
    """Python-reference twin of :func:`sql_powi` (same op sequence,
    including the out-of-domain NULL -> None guard)."""
    if n < 0 or n >= (1 << max_bits):
        return None
    out = 1.0
    b = float(base)
    for j in range(max_bits):
        if n & (1 << j):
            out = out * b
        b = b * b
    return out


# ---------------------------------------------------------------------------
# Deterministic exp (round 7 — retires the last libm call in the
# registry, ts_survival_km's product-limit exp(sum(ln ...))).
#
# Same contract as the ln ladder: only correctly-rounded IEEE ops
# (+, -, *, /, floor, integer compares) over literals that parse to
# identical doubles in both engines, so Spark, DuckDB, and the Python
# reference produce BIT-IDENTICAL outputs (tests/test_ieee_ln.py).
#
# exp(y) scheme (classic ln2 argument reduction + Taylor/Horner):
#   1. k = floor(y / ln2 + 1/2)  — nearest integer multiple of ln 2;
#      one correctly-rounded divide + add + floor, cast to BIGINT.
#   2. ladder on k: emit p2k = 2^k (EXACT literal) and
#      kln2 = nearest-double(k * ln 2) (high-precision Decimal
#      literal, one per rung — same trick as the ln ladder's eln2).
#      Valid domain: k in [lo_k, hi_k]; outside it the clamped edge
#      rung degrades accuracy (still deterministic) — callers pick
#      bounds from their data domain and gate (e.g. a survival curve
#      below exp(-40) floors to 0 on a 1e-6 grid anyway).
#   3. r = y - kln2, |r| <= ln2/2 + ~1 ulp  (one subtract).
#   4. exp(r) via Horner over literal 1/i! coefficients through r^13
#      (truncation < 1e-17 at |r| <= 0.347).
#   5. exp(y) = p2k * exp(r)  (one multiply; p2k exact).
# ---------------------------------------------------------------------------

#: Staged column names for the exp pipeline (mirror of the LN_* names).
EXP_Y = "__exp_y"
EXP_K = "__exp_k"
EXP_P2K = "__exp_p2k"
EXP_KLN2 = "__exp_kln2"
EXP_R = "__exp_r"

#: Nearest-double of ln 2 — the literal both engines divide by in
#: stage 1 (also the log2 conversion divisor, see sql_log2_from_ln).
LN2_LIT = _dlit(float(_LN2))

import math as _math

#: Taylor degree for exp(r), |r| <= ln2/2: r^14/14! < 1e-17.
_EXP_TERMS = 13


def sql_exp_k(y: str = EXP_Y) -> str:
    """Stage-1 fragment: k = floor(y/ln2 + 1/2) as BIGINT.  Alias
    ``EXP_K``.  (Spark floor(double) already returns BIGINT; DuckDB
    returns DOUBLE — the explicit CAST is exact and portable.)"""
    return f"CAST(floor(({y}) / {LN2_LIT} + 5.0e-1) AS BIGINT)"


def sql_exp_ladders(
    k: str = EXP_K, lo_k: int = -64, hi_k: int = 63
) -> tuple[str, str]:
    """Stage-2 fragments: (p2k_expr, kln2_expr) over integer column
    ``k``.  Alias them ``EXP_P2K`` / ``EXP_KLN2``.  k outside
    [lo_k, hi_k] clamps to the edge rung (deterministic, degraded
    accuracy) — callers gate out-of-domain y themselves."""
    rungs_p2, rungs_kl = [], []
    for e in range(hi_k, lo_k, -1):
        p2 = _dlit(2.0**e)
        kl = _dlit(float(_decimal.Decimal(e) * _LN2))
        rungs_p2.append(f"WHEN ({k}) >= {e} THEN {p2}")
        rungs_kl.append(f"WHEN ({k}) >= {e} THEN {kl}")
    else_p2 = _dlit(2.0**lo_k)
    else_kl = _dlit(float(_decimal.Decimal(lo_k) * _LN2))
    return (
        f"(CASE {' '.join(rungs_p2)} ELSE {else_p2} END)",
        f"(CASE {' '.join(rungs_kl)} ELSE {else_kl} END)",
    )


def sql_exp_r(y: str = EXP_Y, kln2: str = EXP_KLN2) -> str:
    """Stage-3 fragment: r = y - kln2.  Alias ``EXP_R``."""
    return f"(({y}) - ({kln2}))"


def sql_exp_final(p2k: str = EXP_P2K, r: str = EXP_R) -> str:
    """Stage-4/5 fragment: exp(y) = p2k * Horner_13(r)."""
    horner = _dlit(1.0 / _math.factorial(_EXP_TERMS))
    for i in range(_EXP_TERMS - 1, -1, -1):
        horner = f"({_dlit(1.0 / _math.factorial(i))} + ({r}) * {horner})"
    return f"(({p2k}) * {horner})"


def py_ieee_exp(y: float, lo_k: int = -64, hi_k: int = 63) -> float:
    """Python-reference evaluation of the EXACT same IEEE op sequence
    (the test oracle for the SQL fragments; CPython floats are IEEE
    doubles)."""
    k_f = _math.floor(y / float(LN2_LIT) + 0.5)
    k = int(min(max(k_f, lo_k), hi_k))
    p2k = 2.0**k
    kln2 = float(_decimal.Decimal(k) * _LN2)
    r = y - kln2
    horner = 1.0 / _math.factorial(_EXP_TERMS)
    for i in range(_EXP_TERMS - 1, -1, -1):
        horner = 1.0 / _math.factorial(i) + r * horner
    return p2k * horner


def sql_log2_from_ln(ln_expr: str) -> str:
    """log2(x) = ln(x)/ln2 — one correctly-rounded divide on top of a
    staged deterministic ln (the entropy/perplexity ops' conversion)."""
    return f"(({ln_expr}) / {LN2_LIT})"
