"""Field-aware scoring + metadata-filtered search: engine == single-node
oracle with bit-equal float64 scores (the reference scores every search
with per-field weights, app.py:75-92,679-725, and composes metadata
filters inside the query, app.py:407-497)."""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.operators.query import search_topk
from search_engine_spark.oracle import engine as oracle

FW = (2.0, 1.0)
QUERIES = ["best western", "good well best", "western", "clean room staff"]


@pytest.mark.parametrize("query", QUERIES)
def test_field_weighted_matches_oracle(
    spark_index, oracle_index, query, local_path
):
    got = search_topk(spark_index, query, k=10, field_weights=FW)
    want = oracle.search(oracle_index, query, k=10, field_weights=FW)
    assert [d for d, _ in got] == [d for d, _ in want], query
    np.testing.assert_array_equal(
        np.array([s for _, s in got]), np.array([s for _, s in want])
    )


@pytest.mark.parametrize("query", ["best western", "good well best"])
def test_field_weighted_wand_lossless(spark_index, query, local_path):
    a = search_topk(spark_index, query, k=10, field_weights=FW)
    b = search_topk(spark_index, query, k=10, field_weights=FW, use_wand=False)
    assert a == b, query


def test_weighted_sketch_theta_engages_and_is_safe(
    spark_index, oracle_index, local_path
):
    """The driver-side theta sketch must serve TITLE-UPWEIGHTED queries
    (its tf1 channel reproduces the decode's wtf): for a query of hot
    (salted) terms the weighted sketch returns a positive theta, that
    theta lower-bounds the true kth weighted score (safety invariant),
    and the end-to-end weighted top-k stays bit-equal to the oracle."""
    from search_engine_spark.operators.index_build import idf_value
    from search_engine_spark.operators.query import _sketch_theta

    idx = spark_index
    query = "best western good"  # Zipf-head terms, salted at threshold 60
    bound = idx.bind_terms(query)
    hot = [t for t in bound if t in idx.hot_bounds]
    assert hot, "fixture should salt these head terms"
    assert all(
        idx.hot_bounds[t][3] is not None for t in hot
    ), "sketches must carry the tf1 channel"
    idfs = {t: idf_value(b["df"], idx.n_docs) for t, b in bound.items()}
    theta = _sketch_theta(idx, sorted(bound), idfs, 10, field_weights=FW)
    assert theta > 0.0
    got = search_topk(idx, query, k=10, field_weights=FW)
    want = oracle.search(oracle_index, query, k=10, field_weights=FW)
    assert theta <= want[-1][1] + 1e-12  # lower-bounds the true kth score
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_array_equal(
        np.array([s for _, s in got]), np.array([s for _, s in want])
    )


def test_body_upweighted_lossless_and_matches_oracle(
    spark_index, oracle_index, local_path
):
    """The w_title < w_body orientation rides the same sketch path now
    that the sketch stores the REAL (tf1, dl1) channel (pre-upgrade rows
    carry NULLs and are skipped, never zero-filled) — WAND must stay
    lossless and the true-BM25F scores bit-equal to the oracle."""
    fw = (1.0, 2.0)
    a = search_topk(spark_index, "best western good", k=10, field_weights=fw)
    b = search_topk(
        spark_index, "best western good", k=10, field_weights=fw,
        use_wand=False,
    )
    assert a == b and a
    want = oracle.search(oracle_index, "best western good", k=10, field_weights=fw)
    assert [d for d, _ in a] == [d for d, _ in want]
    np.testing.assert_array_equal(
        np.array([s for _, s in a]), np.array([s for _, s in want])
    )


def test_title_term_boosted(spark_index, oracle_index, local_path):
    """A title-only term (the html <title> token t<i>) must score strictly
    higher under title-weighting — proves the tf1 channel carries real
    field information, not zeros."""
    u = search_topk(spark_index, "t210", k=3)
    w = search_topk(spark_index, "t210", k=3, field_weights=FW)
    assert u and w and w[0][0] == u[0][0]
    assert w[0][1] > u[0][1]


def test_filtered_search_matches_oracle(spark, spark_index, oracle_index):
    """Metadata filter below scoring: engine == oracle on the filtered doc
    set, and nothing outside the filter leaks into the top-k."""
    base = oracle.search(oracle_index, "best western", k=30)
    keep = [d for d, _ in base][::2]
    keep_df = spark.createDataFrame([(int(d),) for d in keep], "doc_id long")
    got = search_topk(spark_index, "best western", k=10, doc_ids=keep_df)
    want = oracle.search(
        oracle_index, "best western", k=10, doc_filter=set(keep)
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_array_equal(
        np.array([s for _, s in got]), np.array([s for _, s in want])
    )
    assert {d for d, _ in got} <= set(keep)


def test_filtered_wand_lossless(spark, spark_index, oracle_index):
    """WAND with a metadata filter must stay lossless: the theta estimate
    runs on the FILTERED candidate set (an unfiltered theta could exceed
    the kth filtered score and over-prune)."""
    keep = [d for d, _ in oracle.search(oracle_index, "best", k=60)][::3]
    keep_df = spark.createDataFrame([(int(d),) for d in keep], "doc_id long")
    a = search_topk(
        spark_index, "best western good", k=10, doc_ids=keep_df
    )
    b = search_topk(
        spark_index, "best western good", k=10, doc_ids=keep_df,
        use_wand=False,
    )
    assert a == b
    assert a  # non-vacuous


def test_filtered_weighted_compose(spark, spark_index, oracle_index):
    """Filter + field weights compose (the reference applies both in one
    query path)."""
    keep = [d for d, _ in oracle.search(oracle_index, "best", k=40)][1::2]
    keep_df = spark.createDataFrame([(int(d),) for d in keep], "doc_id long")
    got = search_topk(
        spark_index, "best western", k=10, field_weights=FW, doc_ids=keep_df
    )
    want = oracle.search(
        oracle_index, "best western", k=10, field_weights=FW,
        doc_filter=set(keep),
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_array_equal(
        np.array([s for _, s in got]), np.array([s for _, s in want])
    )


# the unfiltered BM25F cases above on the forced-distributed plan (their
# own runs serve driver-local; the doc_ids cases are distributed anyway)
@pytest.mark.parametrize("query", QUERIES)
def test_field_weighted_matches_oracle_distributed(
    spark_index, oracle_index, query, distributed
):
    test_field_weighted_matches_oracle(spark_index, oracle_index, query, None)


@pytest.mark.parametrize("query", ["best western", "good well best"])
def test_field_weighted_wand_lossless_distributed(
    spark_index, query, distributed
):
    test_field_weighted_wand_lossless(spark_index, query, None)


def test_weighted_theta_body_title_distributed(
    spark_index, oracle_index, distributed
):
    test_weighted_sketch_theta_engages_and_is_safe(
        spark_index, oracle_index, None
    )
    test_body_upweighted_lossless_and_matches_oracle(
        spark_index, oracle_index, None
    )
    test_title_term_boosted(spark_index, oracle_index, None)
