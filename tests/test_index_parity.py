"""End-to-end parity: Spark engine vs single-node oracle on the synthetic
pages corpus (SURVEY.md §5 'Single-node oracle parity' — the correctness
bar of the north rule).

Covers: (a) byte-identical extracted+normalized text per url, (b) identical
lexicon and postings, (c) rank-identical top-k with bit-equal float64 BM25
scores on the reference query set.
"""

from __future__ import annotations

import numpy as np
import pytest

import pyspark.sql.functions as F

from search_engine_spark.functions.compression import decode_posting_blocks
from search_engine_spark.operators import index_build as ib
from search_engine_spark.operators.query import search_topk
from search_engine_spark.oracle import engine as oracle
QUERY_SET = ["western", "best", "well", "good", "best western"]


def test_generator_parity(spark, corpus):
    """Spark-generated corpus rows == pandas-generated rows (counter-based
    determinism, partition-independent)."""
    pdf, sdf = corpus
    got = sdf.orderBy("url").toPandas().sort_values("url").reset_index(drop=True)
    exp = pdf.sort_values("url").reset_index(drop=True)
    assert got["text"].tolist() == exp["text"].tolist()
    assert got["lang"].tolist() == exp["lang"].tolist()
    assert [bytes(b) for b in got["html"]] == [bytes(b) for b in exp["html"]]


def test_extracted_text_byte_identical(spark, corpus, oracle_index):
    """Per-row invariant (BASELINE.json input_hint): byte-identical extracted
    text per url vs the oracle."""
    _, sdf = corpus
    rows = (
        sdf.filter(F.col("lang") == "en")
        .select("url", ib.extract_udf("html").alias("ext"),
                ib.extract_normalize_udf("html").alias("norm"))
        .collect()
    )
    assert len(rows) == len(oracle_index.extracted)
    for r in rows:
        assert r["ext"].encode() == oracle_index.extracted[r["url"]].encode()
        assert r["norm"] == oracle_index.normalized[r["url"]]


def test_doc_stats_parity(spark_index, oracle_index):
    rows = spark_index.doc_stats.collect()
    assert len(rows) == oracle_index.n_docs
    for r in rows:
        assert oracle_index.doc_dl[int(r["doc_id"])] == r["dl"]
    assert spark_index.n_docs == oracle_index.n_docs
    assert spark_index.avgdl == oracle_index.avgdl  # bit-equal float64
    # per-field averages (true-BM25F norm inputs) — bit-equal too
    assert spark_index.avgdl1 == oracle_index.avgdl1
    assert spark_index.avgdlb == oracle_index.avgdlb


def test_lexicon_parity(spark_index, oracle_index):
    rows = spark_index.lexicon.collect()
    got = {r["term"]: (r["term_id"], r["df"], r["cf"]) for r in rows}
    assert set(got) == set(oracle_index.lexicon)
    for term, tid in oracle_index.lexicon.items():
        gtid, gdf, gcf = got[term]
        assert gtid == tid, term
        assert gdf == oracle_index.term_df[tid]
        assert gcf == oracle_index.term_cf[tid]


def test_postings_parity(spark_index, oracle_index):
    """Decode the compressed blobs for the query terms (+ a tail term) and
    compare (doc_id, tf, dl) triples with the oracle, merging salts."""
    probe_terms = ["western", "best", "good", "well", "w17"]
    for term in probe_terms:
        if term not in oracle_index.lexicon:
            continue
        tid = oracle_index.lexicon[term]
        rows = spark_index.postings.filter(F.col("term_id") == tid).collect()
        assert rows, term
        ds, ts, ls, t1s, d1s = [], [], [], [], []
        for r in rows:
            d, t, l, t1, d1 = decode_posting_blocks(
                bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]),
                r["db_lens"], r["tf_lens"], r["dl_lens"], None,
                bytes(r["tf1s"]), r["tf1_lens"],
                bytes(r["dls1"]), r["dl1_lens"],
            )
            # within-blob doc order must be ascending (delta precondition)
            assert (np.diff(d) > 0).all() if len(d) > 1 else True
            assert r["df"] == oracle_index.term_df[tid]
            ds.append(d); ts.append(t); ls.append(l); t1s.append(t1)
            d1s.append(d1)
        d = np.concatenate(ds); t = np.concatenate(ts); l = np.concatenate(ls)
        t1 = np.concatenate(t1s); d1 = np.concatenate(d1s)
        order = np.argsort(d)
        d, t, l, t1, d1 = d[order], t[order], l[order], t1[order], d1[order]
        od, ot, ol, ot1, od1 = oracle_index.postings[tid]
        assert d.tolist() == od.tolist(), term
        assert t.tolist() == ot.tolist(), term
        assert l.tolist() == ol.tolist(), term
        assert t1.tolist() == ot1.tolist(), term  # fields channel parity
        assert d1.tolist() == od1.tolist(), term  # field-length parity


def test_head_term_best_is_salted(spark_index, oracle_index):
    # "best"/"good" are Zipf head terms with df > 60 at N=800 -> multiple salts
    tid = oracle_index.lexicon["best"]
    assert oracle_index.term_df[tid] > 60
    salts = {
        r["salt"]
        for r in spark_index.postings.filter(F.col("term_id") == tid)
        .select("salt")
        .collect()
    }
    assert len(salts) > 1


@pytest.mark.parametrize("query", QUERY_SET)
def test_topk_rank_identical_bit_equal(
    spark_index, oracle_index, query, local_path
):
    exp = oracle.search(oracle_index, query, k=10, mode="OR")
    got = search_topk(spark_index, query, k=10, mode="OR")
    assert [d for d, _ in got] == [d for d, _ in exp], query
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == es, (query, gd, gs, es)  # bit-equal float64


def test_and_mode_intersection(spark_index, oracle_index, local_path):
    exp = oracle.search(oracle_index, "best western", k=10, mode="AND")
    got = search_topk(spark_index, "best western", k=10, mode="AND")
    assert got == exp
    # AND results are a subset of docs containing every term
    or_docs = {d for d, _ in oracle.search(oracle_index, "best western", k=10**9)}
    assert {d for d, _ in got} <= or_docs


def test_out_of_lexicon_term_dropped(spark_index, oracle_index, local_path):
    """Missing terms silently dropped (app.py:392-401): 'zzzqqq best' ==
    'best'."""
    got = search_topk(spark_index, "zzzqqq best", k=10)
    exp = search_topk(spark_index, "best", k=10)
    assert got == exp


def test_all_stopword_query_empty(spark_index):
    assert search_topk(spark_index, "the and of") == []
    assert search_topk(spark_index, "") == []


def test_hot_terms_are_salted(spark_index):
    """The fixture builds with salt_threshold=60: Zipf-head terms must be
    split across multiple salt rows, and cold terms must keep salt=0 —
    the skew-handling contract (SURVEY.md §4 item 2)."""
    import pyspark.sql.functions as F

    per_term = (
        spark_index.postings.groupBy("term_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("df").alias("df"),
            F.sum("n_docs").alias("total_postings"),
        )
        .collect()
    )
    salted = [r for r in per_term if r["n_rows"] > 1]
    assert salted, "no term got salted despite threshold=60"
    for r in per_term:
        if r["df"] > 60:
            assert r["n_rows"] > 1, f"hot term {r['term_id']} unsalted"
        # salt split must not lose postings
        assert r["total_postings"] == r["df"]


def test_salted_term_query_merges_salts(
    spark, spark_index, oracle_index, local_path
):
    """A single-term query on a SALTED term must still produce oracle-equal
    results (query-side re-merge across salt rows)."""
    from search_engine_spark.oracle import engine as oracle
    from search_engine_spark.operators.query import search_topk

    # 'best' is a Zipf-head token in the fixture corpus -> salted
    got = search_topk(spark_index, "best", k=10)
    want = oracle.search(oracle_index, "best", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == [s for _, s in want]


# the top-k cases above on the forced-distributed plan (their own runs
# serve driver-local: the local_path fixture checks it)
@pytest.mark.parametrize("query", QUERY_SET)
def test_topk_rank_identical_bit_equal_distributed(
    spark_index, oracle_index, query, distributed
):
    test_topk_rank_identical_bit_equal(spark_index, oracle_index, query, None)


def test_and_oov_stopword_salted_distributed(
    spark, spark_index, oracle_index, distributed
):
    test_and_mode_intersection(spark_index, oracle_index, None)
    test_out_of_lexicon_term_dropped(spark_index, oracle_index, None)
    test_all_stopword_query_empty(spark_index)
    test_salted_term_query_merges_salts(spark, spark_index, oracle_index, None)
