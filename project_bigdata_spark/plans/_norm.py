"""Spark-side output normalization helpers for the query catalog.

Mirror rules (DuckDB side) are inlined in each oracle SQL string:
- doubles      -> ``round(x, n)``          <-> ``round(x, n)``
- integrals    -> ``.cast("bigint")``      <-> ``CAST(.. AS BIGINT)``
- timestamps   -> ``date_format``          <-> ``strftime``
- arrays       -> ``concat_ws(",", ...)``  <-> ``array_to_string``

Rationale: the driver compares results via an order-insensitive value hash;
engine-native types (int32 vs int64, timestamp_us vs timestamp_ns, float
summation order) would otherwise produce spurious mismatches that have
nothing to do with operator semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def ts_str(col: Column | str, micros: bool = False) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_US if micros else TS_FMT)


def rnd(col: Column | str, n: int = 4) -> Column:
    """Round a double exactly like DuckDB's ``round(x, n)``.

    Spark's ``round`` rounds the *decimal string repr* of the double
    (BigDecimal.valueOf -> HALF_UP), DuckDB rounds the *binary value* (C
    ``round``: half away from zero after scaling). For a double whose
    shortest repr ends on a rounding boundary (e.g. 38.37875 whose binary
    value is 38.3787499999...), the two disagree. This sign-aware
    floor-form reproduces the C semantics on the binary value, so the
    oracle side can keep plain ``round(x, n)``.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    s = F.lit(float(10**n))
    pos = F.floor(c * s + F.lit(0.5)) / s
    neg = -(F.floor(-c * s + F.lit(0.5)) / s)
    return F.when(c >= 0, pos).otherwise(neg)


def big(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("bigint")


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer cents of a ~2-decimal double: sign-aware
    ``floor(x*100 + 0.5)`` as BIGINT (``scale`` picks a finer grid,
    e.g. 10_000 for a 4-decimal domain).

    This replaces ``CAST(x AS DECIMAL(12,2))`` as the catalog's exact-grid
    idiom (round-5 verdict ask #1). A double→DECIMAL cast delegates tie
    rounding to the engine (Spark: BigDecimal HALF_UP on the shortest
    string repr; DuckDB: binary-value rounding whose tie mode is an
    implementation detail) — the round-4 driver flagged 7 hash-only reds
    on exactly the ``sum(CAST(value AS DECIMAL(12,2)))`` family.
    ``floor(x*100 + 0.5)`` has no tie mode and is computed with
    correctly-rounded IEEE ops, so both engines produce the identical
    BIGINT for the identical input double, whatever their cast semantics.
    Mirror SQL: :func:`sql_cents`.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    s = F.lit(float(scale))
    pos = F.floor(c * s + F.lit(0.5))
    neg = -F.floor(-c * s + F.lit(0.5))
    return F.when(c >= 0, pos).otherwise(neg).cast("bigint")


def sum_cents2(col: Column | str) -> Column:
    """Order-free exact sum of 2-decimal data, rendered as DOUBLE.

    Sums exact integer cents (in DECIMAL(38,0) so the sum can never
    silently wrap BIGINT at scale), then divides by 100 in double —
    integer→double conversion and one IEEE division are deterministic,
    so the result is bit-identical on every engine. Rendering as DOUBLE
    (not DECIMAL(38,2)) also keeps the driver-hash surface on the dtype
    class every attested-green entry already uses. Mirror SQL:
    :func:`sql_sum_cents2`.
    """
    return F.sum(cents(col).cast("decimal(38,0)")).cast("double") / F.lit(100.0)


def sql_cents(expr: str, scale: int = 100) -> str:
    """DuckDB mirror of :func:`cents` — identical IEEE arithmetic."""
    return (
        f"CAST(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) * {scale} + 0.5) "
        f"ELSE -floor(-({expr}) * {scale} + 0.5) END AS BIGINT)"
    )


def sql_rnd(expr: str, n: int = 4) -> str:
    """Dialect-neutral mirror of :func:`rnd` as a SQL string — the
    sign-aware floor form, valid verbatim in BOTH Spark SQL (via
    ``F.expr``) and DuckDB. Use this instead of ``round()`` inside
    shared algebra strings: Spark's ``round`` (HALF_UP on the decimal
    string repr) and DuckDB's (C ``round`` on the binary value) disagree
    on repr-boundary doubles, while this form is identical IEEE
    arithmetic on both engines."""
    # e-notation literals parse as DOUBLE in BOTH dialects ("1000000.0"
    # would be DECIMAL in Spark SQL and poison the whole expression type)
    s = f"1.0e{n}"
    return (
        f"(CASE WHEN ({expr}) >= 0 "
        f"THEN floor(({expr}) * {s} + 0.5) / {s} "
        f"ELSE -(floor(-({expr}) * {s} + 0.5) / {s}) END)"
    )


def sql_sum_cents2(expr: str) -> str:
    """DuckDB mirror of :func:`sum_cents2` (sum(BIGINT) is HUGEINT in
    DuckDB — exact — so no inner widening cast is needed)."""
    return f"(CAST(sum({sql_cents(expr)}) AS DOUBLE) / 100)"


def sum_rev2(price: Column | str, disc: Column | str) -> Column:
    """Exact TPC-H revenue sum ``Σ price*(1-disc)`` over 2-decimal
    doubles, rendered DOUBLE: integer units of 1e-4
    (``price_cents * (100 - disc_cents)``) summed in DECIMAL(38,0),
    divided once in double. Order-free, cast-mode-free, bit-identical
    cross-engine. Mirror SQL: :func:`sql_sum_rev2`.
    """
    prod = (cents(price) * (F.lit(100) - cents(disc))).cast("decimal(38,0)")
    return F.sum(prod).cast("double") / F.lit(1.0e4)


def sql_sum_rev2(price: str, disc: str) -> str:
    """DuckDB mirror of :func:`sum_rev2`."""
    return (
        f"(CAST(sum({sql_cents(price)} * (100 - {sql_cents(disc)})) "
        f"AS DOUBLE) / 1e4)"
    )


def avg_exact(col: Column | str, n: int = 4) -> Column:
    """Rounded average computed as exact-cents sum / count.

    ``avg`` over doubles is summation-order-dependent, and averages of
    2-decimal data land *exactly* on 1e-4 rounding boundaries (multiples of
    1/n), so a naive ``round(avg(x), 4)`` flips between engines. Summing
    exact integer cents is order-free and has no engine-delegated rounding
    (see :func:`cents`); the final double divisions are then bit-identical
    everywhere. Oracle-side mirror: :func:`sql_avg_exact`.
    """
    return rnd(sum_cents2(col) / F.count(F.lit(1)), n)


def stddev_exact(col: Column | str, n: int = 4, pop: bool = False) -> Column:
    """Engine-neutral rounded stddev over 2-decimal data.

    Native ``stddev`` over doubles is summation-order-dependent, so Spark
    and an oracle disagree in the last bits — enough to flip a rounding
    boundary. Sum exact integer cents and squared cents (DECIMAL(38,0) —
    order-free, no engine cast modes; see :func:`cents`), then evaluate
    the one-pass variance formula in double: every engine computes the
    identical IEEE result. Mirror SQL: :func:`sql_stddev_exact`.
    """
    c = cents(col)
    cnt = F.count(F.lit(1)).cast("double")
    s = F.sum(c.cast("decimal(38,0)")).cast("double") / F.lit(100.0)
    sq = F.sum((c * c).cast("decimal(38,0)")).cast("double") / F.lit(1.0e4)
    denom = cnt if pop else cnt - F.lit(1.0)
    var = F.greatest((sq - s * s / cnt) / denom, F.lit(0.0))
    return F.when(
        F.count(F.lit(1)) <= (0 if pop else 1), F.lit(None).cast("double")
    ).otherwise(rnd(F.sqrt(var), n))


def sql_avg_exact(expr: str, n: int = 4) -> str:
    return f"round({sql_sum_cents2(expr)} / count(*), {n})"


def sql_stddev_exact(expr: str, n: int = 4, pop: bool = False) -> str:
    c = sql_cents(expr)
    s = f"(CAST(sum({c}) AS DOUBLE) / 100)"
    sq = f"(CAST(sum({c} * {c}) AS DOUBLE) / 1e4)"
    cnt = "CAST(count(*) AS DOUBLE)"
    denom = cnt if pop else f"({cnt} - 1.0)"
    var = f"greatest(({sq} - {s} * {s} / {cnt}) / {denom}, 0.0)"
    guard = "count(*) <= 0" if pop else "count(*) <= 1"
    return f"CASE WHEN {guard} THEN NULL ELSE round(sqrt({var}), {n}) END"


def arr_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(",", c.cast("array<string>"))
