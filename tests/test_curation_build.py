"""Plan-construction cost of the curation slots: the Lloyd round's shape
and partition independence, and the Py4J budget of the slot builds."""

from __future__ import annotations

import pytest

from tally_database_loader_spark import plans
from tally_database_loader_spark.llm import similarity as S
from tally_database_loader_spark.sources.catalog import load_table
from tests.conftest import SF_CORRECTNESS


def _rounds(monkeypatch):
    """Record the optimized plan and the row count of every DataFrame
    collected while the returned list is live."""
    from pyspark.sql.classic.dataframe import DataFrame
    seen = []
    collect = DataFrame.collect

    def recording(self):
        rows = collect(self)
        seen.append((self._jdf.queryExecution().optimizedPlan().toString(),
                     len(rows)))
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording)
    return seen


@pytest.mark.parametrize("parts", [1, 7])
def test_lloyd_fits_are_partition_independent(spark, parts):
    """The driver adds exact integer partials, so the centroids and
    codebooks do not depend on how the corpus is partitioned."""
    e = load_table(spark, SF_CORRECTNESS, "embeddings")
    split = e.repartition(parts)
    assert S.kmeans_cells(split, n_lists=8, iters=2)[1] \
        == S.kmeans_cells(e, n_lists=8, iters=2)[1]
    assert S.pq_encode(split, m=4, n_codes=16, iters=2, dim=64)[1] \
        == S.pq_encode(e, m=4, n_codes=16, iters=2, dim=64)[1]


def test_lloyd_round_is_one_partial_sum_pass(spark, monkeypatch):
    """A Lloyd round scans the corpus once and ships per-partition
    summaries: its plan explodes no vector into per-component rows, and
    it returns at most partitions × codebooks × cells rows."""
    e = load_table(spark, SF_CORRECTNESS, "embeddings").repartition(7)
    seen = _rounds(monkeypatch)
    S.kmeans_cells(e, n_lists=8, iters=2)
    S.pq_encode(e, m=4, n_codes=16, iters=2, dim=64)
    # the seed probe, then the rounds, of each fit
    rounds = seen[1:3] + seen[4:6]
    assert len(seen) == 6
    for plan, _ in rounds:
        assert "MapInArrow" in plan, plan
        assert "Generate" not in plan and "posexplode" not in plan, plan
    assert all(n <= 7 * 8 for _, n in rounds[:2])
    assert all(n <= 7 * 4 * 16 for _, n in rounds[2:])


# the slots of one llm_curation pass, with the Py4J budget of each build
_BUDGET = {"text_profile": 1000, "dedup_exact": None,
           "minhash_lsh_dedup": 1000, "simhash_dedup": None,
           "substring_dedup_prod": 1000, "span_dedup": None,
           "semantic_dedup": 1000, "two_tier_dedup": 1000,
           "similarity_topk_suite": 1000, "pack_sequences": None}


def test_curation_slot_builds_py4j_budget(spark, py4j_round_trips):
    """Each slot builds its plan from SQL text and its fits in one Arrow
    pass per round: the six slots that used to pass 1,000 Py4J round
    trips (1,190-8,840 each, ~22,700 for the ten) stay within 1,000, and
    the ten together within 6,000."""
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS
    registry = dict(plans.QUERIES)
    registry.update(BENCH_PLANS)
    got = {slot: py4j_round_trips(lambda: registry[slot](spark,
                                                         SF_CORRECTNESS))
           for slot in _BUDGET}
    over = {s: n for s, n in got.items()
            if _BUDGET[s] is not None and n > _BUDGET[s]}
    assert not over, got
    assert sum(got.values()) <= 6000, got
