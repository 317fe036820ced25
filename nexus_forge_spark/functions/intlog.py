"""Engine-exact integer logarithms.

Why this exists: the NLL/IDF/PMI family used to round ``F.log(...) * 1e6``
to BIGINT micro-nats.  ``ln`` is NOT an IEEE-754 correctly-rounded
operation — the JVM's StrictMath, the host libm, and DuckDB's build may
legally differ by 1 ulp, and at a rounding boundary that flips the
integer micro-nat (the round-2 driver red cell ``heldout_nll`` was exactly
this: hash mismatch against the same algorithm on a different libm).
This module replaces the transcendental with a deterministic fixed-point
algorithm over pure BIGINT operations that both Spark SQL and DuckDB
evaluate bit-identically — the same discipline the repo already applies
to HLL ("no transcendentals"), decayed sums (bit shifts), and
temperature_mix (sqrt only, the one float op IEEE requires correctly
rounded).

Algorithm (classic shift-and-square fixed-point log2, e.g. Turner,
"A Fast Binary Logarithm Algorithm", IEEE Signal Processing 2010):

  lnq30(x)  — Q30 fixed-point log2 of a BIGINT x >= 1:
    * bl = bit length of x (via length(bin(x)), identical in both engines)
    * normalize the mantissa m to [2^30, 2^31)   (value m / 2^30 in [1,2))
    * 30 squaring steps: m <- (m*m) >> 30; if m >= 2^31 the next log2 bit
      is 1 and m >> 1.  All intermediates < 2^62 — no BIGINT overflow.
    * result L2 = (bl - 1) * 2^30 + fraction_bits   (log2(x) in Q30)
  The 30-step loop is ONE fold expression — Spark `aggregate(sequence(...))`
  / DuckDB `list_reduce([...])` — with the (mantissa, fraction) state
  packed into a single BIGINT (m * 2^30 + frac), so there is no
  per-step expression-tree blowup and no UDF.

  micro_from_l2(L2) — converts a (possibly signed) Q30 log2 difference to
  integer micro-nats: micro = L2 * ln(2) * 1e6 / 2^30 with
  ln(2)*1e6 ~ 693147 + 185/1024 (relative error 7e-10), round half away
  from zero.  ln(a/b) in micro-nats == micro_from_l2(lnq30(a) - lnq30(b)).

  q30_div(a, b) — floor-ish(a * 2^30 / b) without overflow for any BIGINT
  a, b >= 1 (shifts a up only as far as 62 bits allow and b down the
  rest; the dropped low bits of b are < 2^-30 relative).  Used where a
  probability is a SUM of ratios (interpolated bigram LM) and so cannot
  be decomposed into a difference of logs.

Accuracy: |micro_from_l2(lnq30(a)-lnq30(b)) - round(ln(a/b)*1e6)| <= 2
micro-nats over the tested range (property-tested against math.log), and
the value is a pure function of (a, b) — identical on any engine, libm,
or CPU.  The contract for every consumer is now "deterministic
fixed-point micro-nats", not "true ln rounded".

Reference parity note: the reference scores resolver candidates with
plain floats (kgforge/specializations/resolvers/demo_resolver.py) and
never ships cross-engine hashes, so this stricter determinism contract
is ours, driven by the driver's DuckDB differential gate.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

Q30 = 1_073_741_824  # 2^30
Q31 = 2_147_483_648  # 2^31
LN2_MICRO = 693_147  # floor(ln(2) * 1e6)
LN2_MICRO_FRAC1024 = 185  # round((ln(2)*1e6 - 693147) * 1024)
_ACC, _IDX = "__il_acc", "__il_i"


def _div(a: str, b, dialect: str) -> str:
    return f"({a} // {b})" if dialect == "duck" else f"({a} div {b})"


def _sl(a: str, n: str, dialect: str) -> str:
    if dialect == "duck":
        return f"({a} << ({n}))"
    return f"shiftleft({a}, CAST({n} AS INT))"


def _sr(a: str, n: str, dialect: str) -> str:
    if dialect == "duck":
        return f"({a} >> ({n}))"
    return f"shiftright({a}, CAST({n} AS INT))"


def lnq30_sql(x: str, dialect: str) -> str:
    """One SQL expression: Q30 fixed-point log2 of BIGINT expr ``x`` >= 1.

    ``dialect`` is "spark" or "duck".  ``x`` is duplicated a handful of
    times in the output — pass a column reference, not a heavy
    subexpression.
    """
    xb = f"CAST({x} AS BIGINT)"
    bl = f"length(bin({xb}))"
    m0 = (
        f"(CASE WHEN {bl} <= 31 THEN {_sl(xb, f'(31 - {bl})', dialect)}"
        f" ELSE {_sr(xb, f'({bl} - 31)', dialect)} END)"
    )
    init = f"CAST({m0} * {Q30} AS BIGINT)"
    m = _div(_ACC, Q30, dialect)
    lf = f"({_ACC} % {Q30})"
    s = _div(f"({m} * {m})", Q30, dialect)
    step = (
        f"(CASE WHEN {s} >= {Q31}"
        f" THEN {_div(s, 2, dialect)} * {Q30} + ({lf} * 2 + 1)"
        f" ELSE {s} * {Q30} + {lf} * 2 END)"
    )
    if dialect == "duck":
        zeros = ", ".join(["0"] * 30)
        fold = f"list_reduce([{init}, {zeros}], ({_ACC}, {_IDX}) -> {step})"
    else:
        fold = f"aggregate(sequence(1, 30), {init}, ({_ACC}, {_IDX}) -> {step})"
    return f"(CAST(({bl} - 1) AS BIGINT) * {Q30} + ({fold} % {Q30}))"


def micro_from_l2_sql(l2: str, dialect: str) -> str:
    """Signed Q30 log2 -> integer micro-nats, round half away from zero.

    micro = l2 * (693147 + 185/1024) / 2^30; both branches keep every
    operand non-negative so truncating division is identical in both
    engines.  ``l2`` is duplicated — pass a column reference.
    """

    def pos(v: str) -> str:
        inner = f"({v} * {LN2_MICRO} + {_div(f'({v} * {LN2_MICRO_FRAC1024} + 512)', 1024, dialect)} + {Q30 // 2})"
        return _div(inner, Q30, dialect)

    return (
        f"(CASE WHEN {l2} >= 0 THEN {pos(l2)}"
        f" ELSE -{pos(f'(-({l2}))')} END)"
    )


def ln_micro_sql(a: str, b: str, dialect: str) -> str:
    """ln(a/b) in deterministic micro-nats, one expression (a, b BIGINT
    >= 1, either order).  Prefer naming lnq30 columns first when a or b
    repeats across rows."""
    return micro_from_l2_sql(f"({lnq30_sql(a, dialect)} - {lnq30_sql(b, dialect)})", dialect)


def q30_div_sql(a: str, b: str, dialect: str) -> str:
    """floor-ish(a * 2^30 / b), overflow-safe for any BIGINT a, b >= 1.

    Designed for probability ratios (a <= b): exact floor when a < 2^32,
    and above that the b-downshift costs < 2^-30 relative BECAUSE
    bitlen(b) >= bitlen(a).  For a >> b the downshift gets coarse (still
    deterministic) — decompose large ratios through lnq30 instead.
    """
    ab = f"CAST({a} AS BIGINT)"
    bb = f"CAST({b} AS BIGINT)"
    bl = f"length(bin({ab}))"
    small = _div(_sl(ab, "30", dialect), bb, dialect)
    big = _div(
        _sl(ab, f"(62 - {bl})", dialect),
        f"greatest({_sr(bb, f'({bl} - 32)', dialect)}, 1)",
        dialect,
    )
    return f"(CASE WHEN {bl} <= 32 THEN {small} ELSE {big} END)"


# ---------------------------------------------------------------- Spark side


def lnq30_col(x: str) -> Column:
    return F.expr(lnq30_sql(x, "spark"))


def micro_from_l2_col(l2: str) -> Column:
    return F.expr(micro_from_l2_sql(l2, "spark")).cast("long")


def ln_micro_col(a: str, b: str) -> Column:
    return F.expr(ln_micro_sql(a, b, "spark")).cast("long")


def q30_div_col(a: str, b: str) -> Column:
    return F.expr(q30_div_sql(a, b, "spark"))


# ----------------------------------------------------------- Python reference


def lnq30_py(x: int) -> int:
    assert x >= 1
    bl = x.bit_length()
    m = x << (31 - bl) if bl <= 31 else x >> (bl - 31)
    lf = 0
    for _ in range(30):
        s = (m * m) >> 30
        if s >= Q31:
            m, lf = s >> 1, lf * 2 + 1
        else:
            m, lf = s, lf * 2
    return (bl - 1) * Q30 + lf


def micro_from_l2_py(l2: int) -> int:
    def pos(v: int) -> int:
        return (v * LN2_MICRO + (v * LN2_MICRO_FRAC1024 + 512) // 1024 + Q30 // 2) // Q30

    return pos(l2) if l2 >= 0 else -pos(-l2)


def ln_micro_py(a: int, b: int) -> int:
    return micro_from_l2_py(lnq30_py(a) - lnq30_py(b))


def q30_div_py(a: int, b: int) -> int:
    assert a >= 1 and b >= 1
    bl = a.bit_length()
    if bl <= 32:
        return (a << 30) // b
    return (a << (62 - bl)) // max(b >> (bl - 32), 1)
