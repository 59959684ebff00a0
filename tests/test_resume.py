"""Resume test (FIXTURES.md §4): kill the build after k barrel groups,
restart, assert (a) the final index equals an uninterrupted build, (b) the
manifest shows committed groups were NOT recomputed (original run_id kept)."""

from __future__ import annotations

import pytest

from search_engine_spark.operators import index_build as ib
from search_engine_spark.operators.query import SearchIndex, search_topk
from search_engine_spark.plans.build_job import BuildInterrupted, resumable_build
from search_engine_spark.sources.pages import generate_pages_df

N = 400
BUILD_KW = dict(
    n_groups=4, n_salts=4, salt_threshold=60, n_barrels=8, id_partitions=4
)


def _postings_fingerprint(spark, paths):
    rows = (
        spark.read.parquet(paths.postings)
        .select("term_id", "salt", "df", "n_docs", "doc_deltas", "tfs", "dls")
        .collect()
    )
    return sorted(
        (r["term_id"], r["salt"], r["df"], r["n_docs"],
         bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]))
        for r in rows
    )


def test_resume_after_interrupt(spark, tmp_path, monkeypatch, local_path):
    pages = generate_pages_df(spark, N, partitions=4)

    # uninterrupted reference build
    ref_paths = ib.IndexPaths(str(tmp_path / "ref"))
    resumable_build(spark, pages, ref_paths, run_id="ref", **BUILD_KW)

    # interrupted: fail after 2 of 4 postings groups
    paths = ib.IndexPaths(str(tmp_path / "resumed"))
    with pytest.raises(BuildInterrupted):
        resumable_build(
            spark, pages, paths, run_id="run1", fail_after_groups=2, **BUILD_KW
        )
    # restart with a new run id
    summary = resumable_build(spark, pages, paths, run_id="run2", **BUILD_KW)

    # (a) identical final index
    assert _postings_fingerprint(spark, paths) == _postings_fingerprint(
        spark, ref_paths
    )
    # (b) no recomputation of committed work
    by_step = {e["step"]: e for e in summary["manifest"]}
    assert by_step["doc_stats"]["run_id"] == "run1"
    assert by_step["lexicon"]["run_id"] == "run1"
    group_runs = [by_step[f"postings_group_{g}"]["run_id"] for g in range(4)]
    assert group_runs.count("run1") == 2
    assert group_runs.count("run2") == 2
    assert by_step["stats"]["run_id"] == "run2"
    # manifest carries metrics + lineage per step
    for e in summary["manifest"]:
        assert e["rows"] >= 0 and e["bytes"] > 0 or e["step"] == "stats"
        assert "input_files" in e

    # resumed index is queryable and consistent
    idx = SearchIndex(spark, paths)
    ref_idx = SearchIndex(spark, ref_paths)
    assert search_topk(idx, "best western") == search_topk(ref_idx, "best western")
    # the driver-local read serves the group=G/barrel=B layout: the same
    # answer as the forced-distributed plan
    from search_engine_spark.operators import query

    assert "group" in idx.postings_ds.schema.names
    local = search_topk(idx, "best western good", k=10)
    monkeypatch.setattr(query, "_LOCAL_MAX_POSTINGS", 0)
    assert search_topk(idx, "best western good", k=10) == local and local


def test_resume_skips_committed_spell_step(spark, tmp_path):
    """--with-spell adds a manifest step like any other: a rerun of a
    completed build keeps the spell step's ORIGINAL run_id (no rebuild),
    and correct_term serves through the artifact."""
    from search_engine_spark.operators.query import correct_term

    pages = generate_pages_df(spark, 200, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "spellidx"))
    resumable_build(
        spark, pages, paths, run_id="s1", with_spell=True, **BUILD_KW
    )
    summary = resumable_build(
        spark, pages, paths, run_id="s2", with_spell=True, **BUILD_KW
    )
    by_step = {e["step"]: e for e in summary["manifest"]}
    assert by_step["spell"]["run_id"] == "s1"
    assert by_step["spell"]["rows"] > 0
    idx = SearchIndex(spark, paths)
    df = correct_term(idx, "westarn", k=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the delkey IN probe proves the spell artifact serves the query (the
    # directory name can fall past the plan string's Location truncation)
    assert "delkey" in plan and "lexicon" not in plan
    assert [r["term"] for r in df.collect()] == ["western"]


def test_build_empty_and_non_english_corpus(spark, tmp_path):
    """Build robustness: an all-non-English (or empty) corpus must produce
    a valid empty index, and queries on it return [] (not crash)."""
    import pyspark.sql.functions as F

    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.operators.query import SearchIndex, search_topk
    from search_engine_spark.sources.pages import generate_pages_df

    pages = generate_pages_df(spark, 200, partitions=2).filter(
        F.col("lang") != "en"
    )
    paths = ib.IndexPaths(str(tmp_path / "empty_idx"))
    summary = ib.build_index(
        spark, pages, paths, n_salts=2, salt_threshold=10, n_barrels=4,
        id_partitions=2,
    )
    assert summary["n_docs"] == 0
    idx = SearchIndex(spark, paths)
    assert search_topk(idx, "best western", k=5) == []
    assert search_topk(idx, "", k=5) == []
