"""Scalar helpers: exact-decimal aggregation and text normalization.

Why decimals: SUM over DOUBLE is order-dependent in IEEE float arithmetic, so
a Spark shuffle-order sum and a DuckDB scan-order sum can differ in the last
ulp and break value-hash comparison. Casting each element to DECIMAL first
makes the sum exact and order-independent; one final cast to DOUBLE gives both
engines the same bit pattern. This mirrors how the reference stored money as
Redshift NUMERIC/BIGINT (daily_parquet_pipeline.py:113-135) while ratios stayed
FLOAT (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 16 integer digits per element; Spark widens SUM accumulators to
# decimal(28,2) (10^26) — ample for any daily partition's money sum. For
# multi-year global totals over 100 TB, cast through GENERIC instead.
MONEY = "decimal(18,2)"
RATE = "decimal(8,4)"  # discounts/taxes in [0,1]
GENERIC = "decimal(28,10)"  # arbitrary double measures (events.value)


def dec_to_double(c: Column) -> Column:
    """Engine-portable DECIMAL→DOUBLE: route through a string.

    Direct decimal→double casts are NOT correctly rounded in either
    engine for values past 2^53 (both divide an integer mantissa by a
    power of ten in double arithmetic — two roundings), and the two
    engines round DIFFERENTLY: at sf0.1 `dash_movie_panel`'s corr Σxy moment (standalone `dash_corr_matrix` until round 9)
    (~1.9e16) differed in the last ulp, breaking the value-hash oracle
    (found by the round-8 sf0.1 oracle sweep). String→double parsing IS
    correctly rounded in both (Java `Double.parseDouble`, DuckDB
    fast_float), and decimal→string is exact plain-notation digits in
    both, so ``CAST(CAST(x AS STRING) AS DOUBLE)`` yields the bitwise
    SAME double everywhere, at any magnitude. Use on POST-AGGREGATION
    values (group-grain rows) — the string hop costs one format+parse
    per output row, nothing per input row. SQL twin:
    :func:`dec_to_double_sql`."""
    return c.cast("string").cast("double")


def dec_to_double_sql(expr: str) -> str:
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def dsum(col: str | Column, alias: str, typ: str = MONEY) -> Column:
    """Exact order-independent SUM: cast each element to DECIMAL, sum, emit
    DOUBLE via the correctly-rounded string route (see :func:`dec_to_double`).

    Oracle-side equivalent: dsum_sql —
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dec_to_double(F.sum(c.cast(typ))).alias(alias)


def davg(col: str | Column, alias: str, typ: str = MONEY) -> Column:
    """Exact mean: DECIMAL sum to DOUBLE (string route) divided by COUNT
    (both engines perform the same single double division)."""
    c = F.col(col) if isinstance(col, str) else col
    return (dec_to_double(F.sum(c.cast(typ))) / F.count(c)).alias(alias)



def revenue_expr() -> Column:
    """TPC-H style revenue term l_extendedprice * (1 - l_discount), exact."""
    one = F.lit(1).cast(RATE)
    return F.col("l_extendedprice").cast(MONEY) * (
        one - F.col("l_discount").cast(RATE)
    )


def exact_corr(
    n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column
) -> Column:
    """Pearson correlation from exact-decimal-sourced moment sums.

    ``F.corr``'s streaming accumulation is order-dependent in IEEE doubles, so
    a Spark result and a DuckDB result can differ in the last ulp and break
    value-hash oracle comparison. Instead the five moment sums are accumulated
    exactly (DECIMAL), cast to DOUBLE once, and the closed form below is one
    fixed sequence of double ops — identical on both engines (see
    ``exact_corr_sql`` for the mirrored oracle text).
    """
    return (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )


def exact_corr_sql(n: str, sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    """DuckDB mirror of :func:`exact_corr` — textually the same expression."""
    return (
        f"(({n} * {sxy} - {sx} * {sy}) / "
        f"(sqrt({n} * {sxx} - {sx} * {sx}) * sqrt({n} * {syy} - {sy} * {sy})))"
    )


def to_day(col: str | Column) -> Column:
    """TIMESTAMP → DATE (session TZ pinned to UTC, so this is TZ-free)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c)


# Characters normalization PRESERVES: latin lowercase alphanumerics, space,
# and CJK unified ideographs. The CJK range was added for zh support
# (round 5): stripping it made every Chinese document normalize to the
# EMPTY string — collapsing an entire zh corpus into one exact-dup group
# and blanking every zh fingerprint/shingle. The literal range chars mean
# the same code points to Java regex and RE2. Fixtures are pure ASCII at
# every SF (verified), so extending the class changes no oracle output.
_NORM_KEEP_CLASS = "a-z0-9 一-鿿"


def norm_text(col: str | Column) -> Column:
    """Canonical text normalization used by dedup/fingerprint operators:
    lowercase, strip everything outside ``_NORM_KEEP_CLASS``, collapse runs
    of spaces, trim.

    The regexes are intersection-of-dialects simple so Java regex (Spark) and
    RE2 (DuckDB) agree; oracle: see norm_text_sql below.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.lower(c)
    out = F.regexp_replace(out, f"[^{_NORM_KEEP_CLASS}]", "")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


# SQL fragments mirrored by the oracle side (kept adjacent for review parity).
def norm_text_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}),"
        f" '[^{_NORM_KEEP_CLASS}]', '', 'g'), ' +', ' ', 'g'))"
    )


def dsum_sql(expr: str, alias: str, typ: str = "DECIMAL(18,2)") -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS {typ})) AS STRING) AS DOUBLE)"
        f" AS {alias}"
    )
