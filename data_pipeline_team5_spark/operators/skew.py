"""Skew-handling operators: explicit salting for the cases AQE can't fix.

AQE's skew-join splitting (on in session.py) repairs *shuffle-partition*
skew at runtime, but two hot-key shapes still serialize onto one task:

1. **Aggregation-state skew** — map-side partial aggregation compresses
   algebraic aggs (SUM/COUNT) fine, but holistic state (exact DISTINCT,
   collect_set) concentrates a hot key's entire value set in one reducer.
   ``salted_distinct`` shards the *distinct domain* by hash into ``n``
   disjoint buckets, counts distinct per (key, bucket), and sums — the
   per-key counts add exactly because the buckets partition the domain.
2. **Hot-key join skew** where the build side is too big to broadcast —
   ``salted_join`` replicates each build-side row ``n`` times and spreads
   the probe side across the replicas with a deterministic hash salt, so
   one hot key occupies ``n`` tasks instead of one.

Both transformations are semantics-preserving (tests/test_skew.py asserts
equality against the unsalted plans; the catalog query's DuckDB oracle is
the plain GROUP BY / COUNT(DISTINCT) SQL). Salts are deterministic hashes,
never random — results and retries stay stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_distinct(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    alias: str,
    n: int = 16,
) -> DataFrame:
    """Exact COUNT(DISTINCT distinct_col) per ``keys``, sharded ``n`` ways.

    Phase 1 groups by (keys, hash(distinct_col) % n) so each reducer holds
    only its shard of a hot key's value set; phase 2 sums the shard counts.
    Exactness: the hash shards partition the value domain, so per-shard
    distinct sets are disjoint and their counts add. NULLs are excluded by
    COUNT(DISTINCT) semantics on both phases.
    """
    bucket = F.pmod(F.hash(distinct_col), F.lit(n)).alias("_salt")
    per_shard = df.groupBy(*keys, bucket).agg(
        F.countDistinct(distinct_col).alias("_nd")
    )
    return per_shard.groupBy(*keys).agg(F.sum("_nd").alias(alias))


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n: int = 8,
    how: str = "inner",
    spread_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join with the build side replicated ``n``× to defeat hot keys.

    The probe side gets a deterministic salt in [0, n) hashed from
    ``spread_cols`` (default: all its columns), the build side is exploded
    across all n salt values, and the join runs on (key, salt) — a hot
    probe key now lands on n tasks. Build-side cost is n× its (small but
    not broadcastable) size; keep ``n`` modest.

    Only probe-preserving join types are valid: under right/full outer an
    unmatched build row would surface once per replica (n duplicates), so
    those are rejected — swap the sides instead.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "semi",
               "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: join type '{how}' would duplicate unmatched "
            f"build rows across salt replicas; use one of {sorted(allowed)}"
            " (or swap probe/build)"
        )
    cols = spread_cols or [c for c in probe.columns if c != key]
    salt_expr: Column = (
        F.pmod(F.hash(*cols), F.lit(n)) if cols else F.lit(0)
    )
    p = probe.withColumn("_salt", salt_expr)
    b = build.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))),
    )
    out = p.join(b, on=[key, "_salt"], how=how)
    return out.drop("_salt")

