"""Seed determinism of the benchmark inputs: corpus range, query stream, batch."""

import numpy as np

import workload as wl
from search_engine_spark.functions.text import normalize_text
from search_engine_spark.sources.pages import VOCAB, generate_pages_pandas

WORDS = wl.word_terms(VOCAB, normalize_text)
# a fixed df table: the first words hot, the rest cold enough to be drawn
TERM_DF = {t: (5000 - 300 * i if i < 8 else 25 + i % 1000) for i, t in enumerate(WORDS.values())}


def test_corpus_range_is_a_function_of_the_seed():
    assert np.array_equal(wl.corpus_ids(3, 50), wl.corpus_ids(3, 50))
    assert not set(wl.corpus_ids(3, 50)) & set(wl.corpus_ids(4, 50))
    a = generate_pages_pandas(wl.corpus_ids(3, 20))
    b = generate_pages_pandas(wl.corpus_ids(3, 20))
    assert a.equals(b)


def test_any_seed_gives_a_valid_corpus_and_batch_range():
    for seed in (0, 9_999, 10_000, 2**40, -3):
        ids = wl.corpus_ids(seed)
        # the batch takes ids after the corpus: new pages plus changed donors
        tail = np.arange(ids[-1], ids[-1] + 2 * wl.BATCH_PAGES)
        assert len(generate_pages_pandas(np.concatenate([ids[:5], tail]))) == 5 + len(tail)
        assert tail[-1] - ids[0] < wl._SEED_STRIDE


def test_query_stream_is_seeded_distinct_and_of_one_class():
    for klass in (wl.HOT, wl.COLD):
        s1 = wl.query_stream(5, klass, WORDS, TERM_DF, n_cycles=3)
        assert s1 == wl.query_stream(5, klass, WORDS, TERM_DF, n_cycles=3)
        assert s1 != wl.query_stream(6, klass, WORDS, TERM_DF, n_cycles=3)
        assert len({q.key for q in s1}) == len(s1)
        for q in s1:
            terms = [t for t in normalize_text(q.text).split(" ") if t]
            assert wl.query_class(terms, TERM_DF) == klass
    hot = wl.query_stream(5, wl.HOT, WORDS, TERM_DF, n_cycles=3)
    assert [q.text for q in hot[: len(wl.REFERENCE_QUERIES)]] == wl.REFERENCE_QUERIES
    cold = wl.query_stream(5, wl.COLD, WORDS, TERM_DF, n_cycles=3)
    assert [(len(q.text.split()), q.mode, q.field_weights) for q in cold] == wl.SHAPES * 3


def test_ingest_batch_is_seeded_with_the_stated_counts():
    base = generate_pages_pandas(wl.corpus_ids(2, 200))
    b1 = wl.ingest_batch(2, base, generate_pages_pandas, recrawl=True)
    b2 = wl.ingest_batch(2, base, generate_pages_pandas, recrawl=True)
    assert b1.pages.equals(b2.pages) and b1.recrawled_urls == b2.recrawled_urls
    assert (b1.new_pages, b1.changed_recrawls, b1.unchanged_recrawls) == (
        wl.BATCH_PAGES - 2, 1, 1)
    recrawled = b1.pages[b1.pages["url"].isin(set(base["url"]))]
    assert len(recrawled) == 2 and (recrawled["lang"] == "en").all()
    merged = recrawled.merge(base, on="url", suffixes=("", "_base"))
    assert (merged["html"] != merged["html_base"]).sum() == 1
    union = wl.union_pages(base, b1)
    assert len(union) == len(base) + wl.BATCH_PAGES - 2 and union["url"].is_unique
    append = wl.ingest_batch(2, base, generate_pages_pandas, recrawl=False)
    assert append.new_pages == len(append.pages) == wl.BATCH_PAGES
    assert not set(append.pages["url"]) & set(base["url"])
