"""Block-max WAND pruning must be LOSSLESS: identical top-k (docs AND
scores) to exhaustive scoring (FIXTURES.md §4; SURVEY.md §7 'WAND
correctness')."""

from __future__ import annotations

import pytest

from search_engine_spark.operators.query import search_topk

MULTI_TERM_QUERIES = [
    "best western",
    "good hotel",
    "best good well",
    "clean room staff breakfast",
]


@pytest.mark.parametrize("query", MULTI_TERM_QUERIES)
def test_wand_equals_exhaustive(spark_index, query, local_path):
    exhaustive = search_topk(spark_index, query, k=10, use_wand=False)
    pruned = search_topk(spark_index, query, k=10, use_wand=True)
    assert pruned == exhaustive, query


def test_wand_k_larger_than_matches(spark_index, local_path):
    # k larger than the candidate set: theta stays 0, nothing pruned
    exhaustive = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=False)
    pruned = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=True)
    assert pruned == exhaustive


# the cases above on the forced-distributed plan
@pytest.mark.parametrize("query", MULTI_TERM_QUERIES)
def test_wand_equals_exhaustive_distributed(spark_index, query, distributed):
    test_wand_equals_exhaustive(spark_index, query, None)


def test_wand_k_larger_than_matches_distributed(spark_index, distributed):
    test_wand_k_larger_than_matches(spark_index, None)


COLLECT_CASES = [
    # rarest term salted: theta from the driver sketch, no Spark job
    ("best western", "OR", True, 0),
    # AND mode runs no theta at all
    ("best western", "AND", True, 0),
    # rarest term cold: one distributed rarest-term theta pass
    ("western w4000", "OR", False, 1),
]


def _search_collects(spark_index, count_collects, query, mode, hot_rarest):
    """-> collects issued while planning search(query) (the result is
    collected afterwards and must be non-empty)."""
    from search_engine_spark.operators.query import search

    bound = spark_index.bind_terms(query)
    assert len(bound) == 2
    rarest = min(bound, key=lambda t: (bound[t]["df"], t))
    assert (rarest in spark_index.hot_bounds) == hot_rarest
    with count_collects() as calls:
        df = search(spark_index, query, k=10, mode=mode)
    assert df.collect()
    return len(calls)


@pytest.mark.parametrize("query, mode, hot_rarest, dist_collects", COLLECT_CASES)
def test_base_snapshot_collect_count(
    spark_index, count_collects, query, mode, hot_rarest, dist_collects,
    local_path,
):
    """search() plans over the BASE snapshot with the cached lexicon and
    the hot-term sketches; a probe under the local gate is read, scored
    and ranked in the driver, so no case issues a collect — the cold
    rarest term's theta pass included."""
    assert _search_collects(
        spark_index, count_collects, query, mode, hot_rarest
    ) == 0


@pytest.mark.parametrize("query, mode, hot_rarest, dist_collects", COLLECT_CASES)
def test_base_snapshot_collect_count_distributed(
    spark_index, count_collects, query, mode, hot_rarest, dist_collects,
    distributed,
):
    """The distributed plan: binding and sketch theta issue no collect,
    and only a cold rarest term adds the distributed theta pass."""
    assert _search_collects(
        spark_index, count_collects, query, mode, hot_rarest
    ) == dist_collects
