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
def test_wand_equals_exhaustive(spark_index, query):
    exhaustive = search_topk(spark_index, query, k=10, use_wand=False)
    pruned = search_topk(spark_index, query, k=10, use_wand=True)
    assert pruned == exhaustive, query


def test_wand_k_larger_than_matches(spark_index):
    # k larger than the candidate set: theta stays 0, nothing pruned
    exhaustive = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=False)
    pruned = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=True)
    assert pruned == exhaustive


@pytest.mark.parametrize(
    "query, mode, hot_rarest, expected",
    [
        # rarest term salted: theta from the driver sketch, no Spark job
        ("best western", "OR", True, 0),
        # AND mode runs no theta at all
        ("best western", "AND", True, 0),
        # rarest term cold: one distributed rarest-term theta pass
        ("western w4000", "OR", False, 1),
    ],
)
def test_base_snapshot_collect_count(
    spark_index, count_collects, query, mode, hot_rarest, expected
):
    """search() plans over the BASE snapshot with the cached lexicon and
    the hot-term sketches: binding and sketch theta issue no collect, and
    only a cold rarest term adds the distributed theta pass."""
    from search_engine_spark.operators.query import search

    bound = spark_index.bind_terms(query)
    assert len(bound) == 2
    rarest = min(bound, key=lambda t: (bound[t]["df"], t))
    assert (rarest in spark_index.hot_bounds) == hot_rarest
    with count_collects() as calls:
        df = search(spark_index, query, k=10, mode=mode)
    assert len(calls) == expected, len(calls)
    assert df.collect()
