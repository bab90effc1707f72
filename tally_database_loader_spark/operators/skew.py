"""Skew handling: deterministic salting for hot-key aggregations.

At 100 TB, AQE's skew-join splitting (enabled in session.py) covers
sort-merge joins whose *partitions* are oversized, but a low-cardinality
/ hot-key aggregation with heavy state (collect_list/collect_set, large
distinct sets) still needs explicit salting: partial aggregation reduces
sum/count map-side, but state-heavy aggregates ship every element to the
one reducer owning the hot key. Two-phase salted aggregation
(`salted_aggregate`) splits each key across ``n_salt`` reducers, then
combines the ``n_salt`` partial states.

Salts are ``xxhash64`` of a caller-named distinguishing column —
deterministic under task retries (``F.rand``/``monotonically_increasing_id``
are not, which breaks exactly-once sinks and plan caching).

The reference (tally-database-loader) is single-threaded and has no skew
concept; this module is part of the 100 TB charter
(BASELINE.json north_star, SCALE.md §2-3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (phase-1 partial aggregate, phase-2 combiner) per supported aggregate.
# Only aggregates with a decomposable combine step can be salted; anything
# else (exact median, ...) genuinely needs all values co-located.
_DECOMPOSABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "collect_set": (F.collect_set,
                    lambda c: F.array_distinct(F.flatten(F.collect_list(c)))),
    # exact distinct count: per-salt distinct sets, distinct-merged in the
    # combine — the map-side set bounds shuffled bytes by NDV, not row count
    "count_distinct": (F.collect_set,
                       lambda c: F.size(F.array_distinct(F.flatten(F.collect_list(c))))),
}


def salt_column(distinct_on: Column | str, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt): xxhash64 of a distinguishing
    column (a row id / event id — anything near-unique)."""
    return F.pmod(F.xxhash64(F.col(distinct_on) if isinstance(distinct_on, str)
                             else distinct_on), F.lit(n_salt)).cast("int")


def salted_aggregate(df: DataFrame, keys: Sequence[str],
                     aggs: dict[str, tuple[str, str]],
                     distinct_on: str, n_salt: int = 32) -> DataFrame:
    """Two-phase aggregation for hot keys.

    ``aggs`` maps output name → (aggregate, input column) with aggregate
    in {sum, count, min, max, collect_set, count_distinct}.
    Phase 1 groups by (keys..., salt) — the hot key's rows land on
    ``n_salt`` reducers instead of one; phase 2 groups by keys alone and
    combines the ``n_salt`` partial states (n_salt rows per key, trivial).

    Result is identical to ``df.groupBy(*keys).agg(...)`` for every
    supported aggregate (collect_set up to element order — wrap in
    ``sort_array`` for deterministic output).
    """
    unknown = [a for a, (fn, _) in aggs.items() if fn not in _DECOMPOSABLE]
    if unknown:
        raise ValueError(f"non-decomposable aggregates cannot be salted: {unknown}")
    salted = df.withColumn("_salt", salt_column(distinct_on, n_salt))
    phase1 = salted.groupBy(*keys, "_salt").agg(*[
        _DECOMPOSABLE[fn][0](col).alias(name) for name, (fn, col) in aggs.items()])
    return phase1.groupBy(*keys).agg(*[
        _DECOMPOSABLE[fn][1](name).alias(name) for name, (fn, _) in aggs.items()])
