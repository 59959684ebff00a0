"""Index-build steps that batch work the per-row way used to do: the
batched posting encode across Arrow batch edges, and the driver-numbered
lexicon against the range-partitioned numbering."""

from __future__ import annotations

import pytest

from search_engine_spark.operators import index_build as ib


@pytest.fixture(scope="module")
def forward_lexicon(spark, corpus):
    _, sdf = corpus
    forward = ib.build_forward(ib.normalize_pages(sdf), with_positions=False)
    forward.cache()
    lexicon = ib.build_lexicon(forward, 8)
    lexicon.cache()
    yield forward, lexicon
    forward.unpersist()
    lexicon.unpersist()


def _postings(forward, lexicon, codec):
    rows = ib.build_postings(
        forward, lexicon, n_salts=4, salt_threshold=60, n_barrels=8,
        codec=codec,
    ).collect()
    return sorted(rows, key=lambda r: (r["term_id"], r["salt"]))


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_encode_groups_spanning_arrow_batches(spark, forward_lexicon, codec):
    """With 7-row Arrow batches nearly every posting list spans batches
    (salted head terms span hundreds): the carried open group must give
    the same postings as a default build, column by column."""
    forward, lexicon = forward_lexicon
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = _postings(forward, lexicon, codec)
    before = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small = _postings(forward, lexicon, codec)
    finally:
        spark.conf.set(conf, before)
    assert max(r["n_docs"] for r in default) > 128  # multi-block lists
    assert any(r["salt"] for r in default)  # salted groups
    assert len(small) == len(default)
    for col in default[0].asDict():
        assert [r[col] for r in small] == [r[col] for r in default], col


_TERMS = [
    "zebra", "Zebra", "e", "é", "f", "ａ", "\U0001F600", "日本", "a", "ab",
    "a b", "", "ß", "ss",
]


def _forward(spark, terms):
    rows = [(i // 3, t, 1 + i % 4, 5 + i) for i, t in enumerate(terms)]
    return spark.createDataFrame(rows, "doc_id long, term string, tf int, dl long")


@pytest.mark.parametrize("terms", [_TERMS, []], ids=["non_ascii", "empty"])
def test_driver_lexicon_equals_range_numbering(
    spark, monkeypatch, spark_jobs, terms
):
    """The driver-numbered lexicon == assign_dense_ids' numbering, row for
    row: ids dense in UTF-8 byte order (Spark's string order, which differs
    from UTF-16 order past the BMP), same per-term stats. A shared
    constant of 0 forces the range-partitioned fallback."""
    forward = _forward(spark, terms)

    def no_range_numbering(*a, **kw):
        raise AssertionError("a small lexicon took assign_dense_ids")

    with monkeypatch.context() as m:
        m.setattr(ib, "assign_dense_ids", no_range_numbering)
        with spark_jobs() as jobs:
            driver = ib.build_lexicon(forward, 4)
        rows = driver.collect()
    assert len(jobs) <= 1  # one collect of the per-term aggregate
    monkeypatch.setattr(ib, "LOCAL_LEXICON_MAX_ROWS", 0)
    ranged = ib.build_lexicon(forward, 4).collect()
    assert driver.columns == ["term", "term_id", "df", "cf", "max_tf", "min_dl"]
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ranged))
    by_id = [r["term"] for r in sorted(rows, key=lambda r: r["term_id"])]
    assert by_id == sorted(set(terms), key=lambda t: t.encode("utf-8"))
    assert sorted(r["term_id"] for r in rows) == list(range(len(set(terms))))
