"""PForDelta posting codec end-to-end (north rule "varint/PForDelta").

The codec changes only the on-wire bytes of the five posting streams —
block boundaries, block-max metadata, WAND pruning, and BM25 scoring are
codec-independent — so an index built with codec=pfor must answer every
query with the SAME doc ids and bit-equal float64 scores as the varint
build, through batch search, field-weighted search, ingest + compaction,
and mixed-codec barrels (an old varint base compacted by a
pfor-configured writer).
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from search_engine_spark.operators import index_build as ib
from search_engine_spark.operators.query import SearchIndex, search_topk
from search_engine_spark.sources.pages import generate_pages_df

QUERIES = ["western", "best", "good well", "best western", "clean room staff"]
N_PAGES = 400


@pytest.fixture(scope="module")
def codec_pair(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pfor")
    pages = generate_pages_df(spark, N_PAGES, partitions=4)
    pv = ib.IndexPaths(str(root / "varint"))
    pp = ib.IndexPaths(str(root / "pfor"))
    ib.build_index(
        spark, pages, pv, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )
    ib.build_index(
        spark, pages, pp, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8, codec="pfor",
    )
    return SearchIndex(spark, pv), SearchIndex(spark, pp)


def _assert_same_topk_both_paths(idx, fresh, monkeypatch) -> None:
    """idx answers QUERIES like fresh on the driver-local path, then on
    the forced-distributed plan (gate 0), bit-equal to the local answers."""
    from search_engine_spark.operators import query

    want = {q: search_topk(fresh, q, k=10) for q in QUERIES}
    for q in QUERIES:
        assert search_topk(idx, q, k=10) == want[q], q
    monkeypatch.setattr(query, "_LOCAL_MAX_POSTINGS", 0)
    for q in QUERIES:
        assert search_topk(idx, q, k=10) == want[q], q


def test_codec_recorded(codec_pair):
    vi, pi = codec_pair
    assert int(ib.read_stats(vi.spark, vi.paths)["codec"]) == 0
    assert int(ib.read_stats(pi.spark, pi.paths)["codec"]) == 1
    codecs_v = {r[0] for r in vi.postings.select("codec").distinct().collect()}
    codecs_p = {r[0] for r in pi.postings.select("codec").distinct().collect()}
    assert codecs_v == {0} and codecs_p == {1}


@pytest.mark.parametrize("query", QUERIES)
def test_pfor_topk_bit_equal_varint(codec_pair, query, local_path):
    vi, pi = codec_pair
    a = search_topk(vi, query, k=10)
    b = search_topk(pi, query, k=10)
    assert a == b, query  # same docs, same ranks, bit-equal float64


def test_pfor_field_weighted_bit_equal(codec_pair, local_path):
    vi, pi = codec_pair
    a = search_topk(vi, "best western", k=10, field_weights=(2.0, 1.0))
    b = search_topk(pi, "best western", k=10, field_weights=(2.0, 1.0))
    assert a == b


def test_pfor_and_mode_bit_equal(codec_pair, local_path):
    vi, pi = codec_pair
    assert search_topk(vi, "best western", k=10, mode="AND") == search_topk(
        pi, "best western", k=10, mode="AND"
    )


def test_compaction_preserves_pfor(spark, tmp_path_factory, monkeypatch):
    """Ingest + compact on a pfor index: the rewrite must re-encode with
    the RECORDED codec (like the spell artifact's recorded max_dist) and
    stay bit-equal to a fresh pfor build of the union corpus."""
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    root = tmp_path_factory.mktemp("pfor_inc")
    base = generate_pages_df(spark, 250, partitions=4)
    full = generate_pages_df(spark, 330, partitions=4)
    from search_engine_spark.sources.pages import PAGES_SCHEMA

    batch = spark.createDataFrame(full.toPandas().iloc[250:], PAGES_SCHEMA)

    paths = ib.IndexPaths(str(root / "index"))
    ib.build_index(
        spark, base, paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8, codec="pfor",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="b1")
    result = compact(spark, paths)
    assert result["compacted_barrels"] > 0
    idx = SearchIndex(spark, paths)
    assert int(ib.read_stats(spark, paths)["codec"]) == 1
    assert {
        r[0] for r in idx.postings.select("codec").distinct().collect()
    } == {1}

    fresh_paths = ib.IndexPaths(str(root / "fresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8, codec="pfor",
    )
    fresh = SearchIndex(spark, fresh_paths)
    _assert_same_topk_both_paths(idx, fresh, monkeypatch)


def test_mixed_codec_barrels_decode_row_by_row(
    spark, tmp_path_factory, monkeypatch
):
    """A varint base whose stats are flipped to pfor before compaction
    yields MIXED barrels (untouched varint rows + re-encoded pfor rows in
    one index) — the per-row codec id must route every blob to the right
    decoder, keeping results bit-equal to a fresh build."""
    from search_engine_spark.functions.compression import codec_id
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    root = tmp_path_factory.mktemp("mixed")
    base = generate_pages_df(spark, 250, partitions=4)
    full = generate_pages_df(spark, 330, partitions=4)
    from search_engine_spark.sources.pages import PAGES_SCHEMA

    batch = spark.createDataFrame(full.toPandas().iloc[250:], PAGES_SCHEMA)

    paths = ib.IndexPaths(str(root / "index"))
    ib.build_index(
        spark, base, paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )
    # operator flips the configured codec between builds: rewrite the
    # stats row with codec=pfor; compaction re-encodes only the affected
    # barrels with it, leaving untouched varint rows in place
    st = ib.read_stats(spark, paths)
    ib.write_scalar_parquet(
        paths.stats, ib.STATS_SCHEMA,
        (st["n_docs"], st["avgdl"], st["avgdl1"], st["avgdlb"],
         st["n_salts"], st["salt_threshold"], st["n_barrels"],
         codec_id("pfor")),
    )
    apply_incremental_batch(spark, batch, paths, batch_id="b1")
    result = compact(spark, paths)
    assert result["compacted_barrels"] > 0
    idx = SearchIndex(spark, paths)
    codecs = {r[0] for r in idx.postings.select("codec").distinct().collect()}
    assert codecs == {0, 1}, f"expected mixed barrels, got {codecs}"

    fresh_paths = ib.IndexPaths(str(root / "fresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )
    fresh = SearchIndex(spark, fresh_paths)
    _assert_same_topk_both_paths(idx, fresh, monkeypatch)


# the codec-pair cases above on the forced-distributed plan
@pytest.mark.parametrize("query", QUERIES)
def test_pfor_topk_bit_equal_varint_distributed(codec_pair, query, distributed):
    test_pfor_topk_bit_equal_varint(codec_pair, query, None)


def test_pfor_field_weighted_and_mode_distributed(codec_pair, distributed):
    test_pfor_field_weighted_bit_equal(codec_pair, None)
    test_pfor_and_mode_bit_equal(codec_pair, None)
