"""Driver-local serving of small probes (query._search's local branch):
no Spark job, and top-k bit-equal to the forced-distributed plan and to
the single-node oracle on generated queries."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.text import normalize_text
from search_engine_spark.operators import query
from search_engine_spark.operators.query import search, search_topk
from search_engine_spark.oracle import engine as oracle

RESULT_DTYPES = [("doc_id", "bigint"), ("score", "double")]


@pytest.mark.parametrize(
    "text, mode, fw",
    [
        ("best western", "OR", None),  # hot rarest term: sketch theta
        ("western w4000", "OR", None),  # cold rarest term: rarest-term theta
        ("best western", "AND", None),
        ("good well best", "OR", (2.0, 1.0)),  # BM25F
    ],
)
def test_small_probe_launches_no_spark_job(
    spark_index, spark_jobs, text, mode, fw, local_path
):
    with spark_jobs() as jobs:
        df = search(spark_index, text, k=10, mode=mode, field_weights=fw)
        rows = df.collect()
    assert rows and jobs == [], jobs
    assert df.dtypes == RESULT_DTYPES


def test_empty_results_launch_no_spark_job(spark_index, spark_jobs):
    """Every empty result is an Arrow-backed LocalRelation with the
    non-empty result's column names and types."""
    idx = spark_index
    cases = [
        (search(idx, "the and of"), RESULT_DTYPES),
        (query.search_corrected(idx, "the")[0], RESULT_DTYPES),
        (
            query.search_many(idx, {0: "the and of"}),
            [("query_id", "bigint")] + RESULT_DTYPES,
        ),
        (
            query.suggest_terms(idx, " "),
            [("term", "string"), ("term_id", "bigint"), ("df", "bigint")],
        ),
        (
            query.correct_term(idx, "two words"),
            [("term", "string"), ("term_id", "bigint"), ("df", "bigint"),
             ("dist", "int")],
        ),
    ]
    with spark_jobs() as jobs:
        rows = [df.collect() for df, _ in cases]
    assert jobs == [] and rows == [[]] * len(cases)
    assert [df.dtypes for df, _ in cases] == [want for _, want in cases]


def test_open_and_refresh_launch_no_spark_job(spark, spark_index, spark_jobs):
    """Opening a handle reads stats, hot_bounds and the resident lexicon
    with pyarrow and takes the lazy tables' schemas from the parquet
    footers: no Spark job, and the same tables Spark's own reads give."""
    paths = spark_index.paths
    with spark_jobs() as jobs:
        idx = query.SearchIndex(spark, paths)
        again = idx.refresh()
    assert jobs == [], jobs
    for handle in (idx, again):
        assert handle._local_lexicon == {
            r["term"]: {c: int(r[c]) for c in ("term_id", "df", "max_tf", "min_dl")}
            for r in spark.read.parquet(paths.lexicon).collect()
        }
        assert handle.hot_bounds.keys() == {
            r["term_id"] for r in spark.read.parquet(paths.hot_bounds).collect()
        }
        assert handle.n_docs == spark_index.n_docs
        assert handle.avgdls == spark_index.avgdls
        for lazy, path in (
            (handle.lexicon, paths.lexicon),
            (handle.doc_stats, paths.doc_stats),
            (handle.postings.drop("codec"), paths.postings),
        ):
            assert lazy.dtypes == spark.read.parquet(path).drop("codec").dtypes


def _three_way(idx, oracle_idx, spark_jobs, text, mode, fw, k) -> None:
    want = oracle.search(oracle_idx, text, k, mode, fw)
    with spark_jobs() as jobs:
        local = search_topk(idx, text, k, mode, field_weights=fw)
    assert jobs == [], "a small probe must serve driver-local"
    with pytest.MonkeyPatch.context() as m:
        m.setattr(query, "_LOCAL_MAX_POSTINGS", 0)
        dist = search_topk(idx, text, k, mode, field_weights=fw)
    # list equality on (doc_id, float) pairs: ranks AND bit-equal scores
    assert local == want, (text, mode, fw, k)
    assert dist == want, (text, mode, fw, k)


@pytest.mark.parametrize(
    "text, mode, fw",
    [
        ("w4000 w4001", "OR", None),
        ("best western", "AND", (2.0, 1.0)),
        ("t210 western", "OR", (1.0, 2.0)),
    ],
)
def test_k_exceeding_matches_three_way(
    spark_index, oracle_index, spark_jobs, text, mode, fw
):
    _three_way(spark_index, oracle_index, spark_jobs, text, mode, fw, 10**6)


def _vocab(oracle_index) -> list[str]:
    """Head (salted), middle and tail (df 1-2) lexicon terms that
    normalize to themselves, so a query string binds them verbatim."""
    terms = sorted(
        (t for t in oracle_index.lexicon if normalize_text(t) == t),
        key=lambda t: (-oracle_index.term_df[oracle_index.lexicon[t]], t),
    )
    mid = len(terms) // 4
    return terms[:6] + terms[mid : mid + 6] + terms[-6:]


@settings(max_examples=30, deadline=None, derandomize=True)
@given(data=st.data())
def test_generated_queries_local_distributed_oracle(
    spark_index, oracle_index, spark_jobs, data
):
    """Seeded differential: 1-4-term OR/AND, unweighted or BM25F, k from
    1 to past the match count — local == distributed == oracle."""
    vocab = _vocab(oracle_index)
    terms = data.draw(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=4, unique=True)
    )
    mode = data.draw(st.sampled_from(["OR", "AND"]))
    fw = data.draw(st.sampled_from([None, (2.0, 1.0), (1.0, 2.0)]))
    k = data.draw(st.sampled_from([1, 3, 10, 10**6]))
    _three_way(
        spark_index, oracle_index, spark_jobs, " ".join(terms), mode, fw, k
    )
