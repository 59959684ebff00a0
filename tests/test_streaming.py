"""Incremental index maintenance (SURVEY.md §2.9 St1) end-to-end:

base batch build + streamed micro-batches + compaction must be
semantically IDENTICAL to a from-scratch batch build over the union
corpus — same top-k doc sets and bit-equal float64 BM25 scores for the
reference query set (term_ids may differ: incremental ids append at
max_id+1 per the reference's app.py:928-944; scores never depend on
term_id).

Also: the streaming windowed-event aggregation must equal its batch twin
on a drained (availableNow) file stream.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.operators import index_build as ib
from search_engine_spark.operators.query import SearchIndex, search_topk
from search_engine_spark.sources.pages import generate_pages_df

QUERIES = ["western", "best", "good well", "best western", "clean room staff"]

N_BASE = 500
N_B1, N_B2 = 150, 120


@pytest.fixture(scope="module")
def incremental_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("incr")
    base = generate_pages_df(spark, N_BASE, partitions=4)
    # batches = disjoint id ranges of the same deterministic corpus
    full = generate_pages_df(spark, N_BASE + N_B1 + N_B2, partitions=4)

    paths = ib.IndexPaths(str(root / "index"))
    ib.build_index(
        spark, base, paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )

    # stream the two batches through the real Structured Streaming path
    stream_in = root / "stream_in"
    stream_in.mkdir()
    from search_engine_spark.sources.pages import PAGES_SCHEMA
    from search_engine_spark.streaming.jobs import ingest_stream

    pdf_full = full.toPandas()
    batch1 = pdf_full.iloc[N_BASE : N_BASE + N_B1]
    batch2 = pdf_full.iloc[N_BASE + N_B1 :]
    spark.createDataFrame(batch1, PAGES_SCHEMA).write.parquet(str(stream_in / "b1"))
    ingest_stream(spark, str(stream_in / "b1"), paths, str(root / "ckpt1"))
    spark.createDataFrame(batch2, PAGES_SCHEMA).write.parquet(str(stream_in / "b2"))
    ingest_stream(spark, str(stream_in / "b2"), paths, str(root / "ckpt2"))

    from search_engine_spark.streaming.incremental import compact

    result = compact(spark, paths)
    assert result["compacted_barrels"] > 0

    # from-scratch oracle build on the union corpus
    fresh_paths = ib.IndexPaths(str(root / "fresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=4, salt_threshold=60, n_barrels=8,
        id_partitions=8,
    )
    return SearchIndex(spark, paths), SearchIndex(spark, fresh_paths)


def test_corpus_stats_match(incremental_setup):
    inc, fresh = incremental_setup
    assert inc.n_docs == fresh.n_docs
    assert inc.avgdl == pytest.approx(fresh.avgdl, abs=0.0)


@pytest.mark.parametrize("query", QUERIES)
def test_incremental_equals_fresh_build(incremental_setup, query):
    inc, fresh = incremental_setup
    a = search_topk(inc, query, k=10)
    b = search_topk(fresh, query, k=10)
    assert [d for d, _ in a] == [d for d, _ in b], query
    np.testing.assert_array_equal(
        np.array([s for _, s in a]), np.array([s for _, s in b])
    )


def test_delta_log_truncated(incremental_setup, spark):
    inc, _ = incremental_setup
    import os

    from search_engine_spark.streaming.incremental import delta_dir

    assert not os.path.exists(delta_dir(inc.paths))


def test_windowed_stream_equals_batch(spark, tmp_path, sf_dir):
    import pyspark.sql.functions as F

    from search_engine_spark.streaming.jobs import run_windowed_events

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = tmp_path / "ev_in"
    events.write.parquet(str(src))
    out = tmp_path / "ev_out"
    run_windowed_events(
        spark, str(src), str(out), str(tmp_path / "ckpt")
    )
    got = spark.read.parquet(str(out))
    want = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type",
            "n_events", "sum_value",
        )
    )
    # append mode withholds windows the final watermark hasn't passed
    # (max_ts - 2h): compare only provably-closed windows, and the stream
    # must not emit anything the batch plan doesn't have
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=3)
    g_all = set(map(tuple, got.collect()))
    w_all = set(map(tuple, want.collect()))
    assert g_all <= w_all
    g = sorted(t for t in g_all if t[0] <= cutoff)
    w = sorted(t for t in w_all if t[0] <= cutoff)
    assert g == w and len(g) > 0


def test_incremental_new_term_queryable(incremental_setup):
    """A term that exists ONLY in the streamed batches (each doc's unique
    title token) must be bindable and queryable after compaction, equal to
    the fresh build."""
    inc, fresh = incremental_setup
    # doc N_BASE+10 arrived in batch 1; its title token is t<id>
    q = f"t{N_BASE + 10}"
    a = search_topk(inc, q, k=5)
    b = search_topk(fresh, q, k=5)
    assert len(a) >= 1
    assert [d for d, _ in a] == [d for d, _ in b]
    np.testing.assert_array_equal(
        np.array([s for _, s in a]), np.array([s for _, s in b])
    )


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization vs the batch window plan:
    every emitted session must be a real batch session, and every session
    CLOSED within the drained data (i.e. all but each user's final
    session, plus any the end-of-stream watermark flushed) must be
    emitted."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from search_engine_spark.streaming.jobs import (
        SESSION_GAP_S,
        sessionize_stream,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "sess_in"
    events.write.parquet(str(src))
    out = tmp_path / "sess_out"
    sessionize_stream(spark, str(src), str(out), str(tmp_path / "ckpt"))
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["duration_s"])
        for r in spark.read.parquet(str(out)).collect()
    }

    # batch ground truth with session_start + last flag
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > SESSION_GAP_S),
        1,
    ).otherwise(0)
    sess = events.select(
        "user_id", "ts", F.sum(new_sess).over(w).alias("sno")
    )
    batch = (
        sess.groupBy("user_id", "sno")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").cast("long").alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long")
            .alias("duration_s"),
        )
    )
    w2 = Window.partitionBy("user_id")
    batch = batch.withColumn("max_sno", F.max("sno").over(w2))
    all_sessions = {
        (r["user_id"], r["session_start"], r["n_events"], r["duration_s"])
        for r in batch.collect()
    }
    closed_sessions = {
        (r["user_id"], r["session_start"], r["n_events"], r["duration_s"])
        for r in batch.filter(F.col("sno") < F.col("max_sno")).collect()
    }
    assert got <= all_sessions
    assert closed_sessions <= got
    assert len(got) > 0


def test_incremental_mixed_new_old_terms_bit_equal(incremental_setup):
    """3+-term query mixing base terms with a streamed-batch-only term:
    float sums must still be bit-equal to the fresh build (term_ids differ
    between the builds; the engine must sum in a build-independent
    order)."""
    inc, fresh = incremental_setup
    q = f"best good t{N_BASE + 10}"
    a = search_topk(inc, q, k=10)
    b = search_topk(fresh, q, k=10)
    assert [d for d, _ in a] == [d for d, _ in b]
    np.testing.assert_array_equal(
        np.array([s for _, s in a]), np.array([s for _, s in b])
    )


def test_compact_on_resumable_group_layout(spark, tmp_path):
    """compact() must handle the resumable build's postings/group=G/barrel=B
    layout: re-encoded rows need the group key and the barrel swap must
    target the nested path (the flat-path swap would leave stale blobs)."""
    from search_engine_spark.plans.build_job import resumable_build
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    full = generate_pages_df(spark, 400, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "gidx"))
    resumable_build(
        spark, base, paths, run_id="g1", n_groups=3, n_salts=2,
        salt_threshold=60, n_barrels=6, id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[300:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="g1b")
    result = compact(spark, paths)
    assert result["compacted_barrels"] > 0

    fresh_paths = ib.IndexPaths(str(tmp_path / "gfresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=2, salt_threshold=60, n_barrels=6,
        id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    for q in ["best western", "good well", "clean room staff"]:
        a = search_topk(inc, q, k=10)
        b = search_topk(fresh, q, k=10)
        assert [d for d, _ in a] == [d for d, _ in b], q
        np.testing.assert_array_equal(
            np.array([s for _, s in a]), np.array([s for _, s in b])
        )


def test_compact_small_batch_untouched_barrels_byte_identical(spark, tmp_path):
    """Compaction cost shape (round 5, VERDICT r4 #4): a compaction
    triggered by a SMALL batch rewrites only the barrels the delta
    touched — every parquet file of an UNTOUCHED barrel must be
    byte-identical afterwards (same content hash, same file set), i.e.
    the common path really is Iceberg-style rewrite-data-files on
    affected partitions, not a full rewrite. The tiny batch (one page,
    ~a handful of distinct terms) leaves most of the 8 barrels
    untouched by construction."""
    import hashlib
    import os

    import pandas as pd

    from search_engine_spark.operators.query import search_topk as stk
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
        delta_dir,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "cbidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=8,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["http://x.example/cb1"],
                "warc_ts": [pd.Timestamp("2024-01-01")],
                "html": [
                    b"<html><head><title>t</title></head><body><p>"
                    b"zebrafish zebrafish quagga</p></body></html>"
                ],
                "text": [""],
                "lang": ["en"],
            }
        )
    )
    apply_incremental_batch(spark, batch, paths, "cb1")
    affected = {
        int(r["barrel"])
        for r in spark.read.parquet(delta_dir(paths))
        .select("barrel")
        .distinct()
        .collect()
    }
    untouched = [b for b in range(8) if b not in affected]
    assert untouched, affected  # the batch must leave most barrels alone

    def fingerprint(barrels):
        out = {}
        for b in barrels:
            d = f"{paths.postings}/barrel={b}"
            for dirpath, _, files in os.walk(d):
                for fn in sorted(files):
                    p = os.path.join(dirpath, fn)
                    with open(p, "rb") as f:
                        out[p] = hashlib.md5(f.read()).hexdigest()
        return out

    before = fingerprint(untouched)
    assert before
    r = compact(spark, paths)
    assert r["compacted_barrels"] == len(affected)
    assert fingerprint(untouched) == before  # bytes, not just rows
    # and the folded index serves the new content
    idx = SearchIndex(spark, paths)
    assert stk(idx, "zebrafish", k=5)


def test_ingest_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: applying the SAME batch_id twice
    must leave the index identical to applying it once (batch-keyed
    overwrite dirs), and compaction must equal a fresh build."""
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    full = generate_pages_df(spark, 380, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "ridx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[300:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    r1 = apply_incremental_batch(spark, batch, paths, batch_id="b7")
    r2 = apply_incremental_batch(spark, batch, paths, batch_id="b7")  # replay
    assert r1["n_docs"] == r2["n_docs"]  # no double-count
    compact(spark, paths)

    fresh_paths = ib.IndexPaths(str(tmp_path / "rfresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    assert inc.n_docs == fresh.n_docs
    for q in ["best western", "good well"]:
        a = search_topk(inc, q, k=10)
        b = search_topk(fresh, q, k=10)
        assert a == b, q


def _pages_df(spark, pdf):
    return spark.createDataFrame(
        pdf,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_reingest_changed_page_tombstone_compaction(spark, tmp_path):
    """Re-ingesting CHANGED content under an existing url must tombstone
    the old version: after compaction the index equals a fresh build over
    the UPDATED corpus bit-for-bit — including terms the old version had
    and the new one lost (their postings live in barrels no delta
    touched)."""
    from search_engine_spark.sources.pages import generate_pages_pandas
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    pdf = generate_pages_pandas(np.arange(300))
    paths = ib.IndexPaths(str(tmp_path / "tidx"))
    ib.build_index(
        spark, _pages_df(spark, pdf), paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4,
    )
    # change 3 pages' content under the SAME urls: replace their text with
    # new html whose body drops old terms and adds a fresh one
    changed = pdf.iloc[5:8].copy()
    changed["html"] = [
        (
            b"<html><head><title>t%d</title></head><body><p>"
            b"zzznew best updated content</p></body></html>" % i
        )
        for i in (5, 6, 7)
    ]
    r = apply_incremental_batch(spark, _pages_df(spark, changed), paths, "c1")
    assert r["tombstoned"] == 3
    assert r["new_docs"] == 3  # ingested docs (not net-new, see n_docs)
    assert r["n_docs"] == int(
        (pdf["lang"].iloc[:300] == "en").sum()
    )  # re-ingest adds no net-new docs
    res = compact(spark, paths)
    assert res["full_merge"] is True

    # fresh build over the updated corpus
    updated = pdf.copy()
    updated.iloc[5:8] = changed
    fresh_paths = ib.IndexPaths(str(tmp_path / "tfresh"))
    ib.build_index(
        spark, _pages_df(spark, updated), fresh_paths, n_salts=2,
        salt_threshold=60, n_barrels=4, id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    assert inc.n_docs == fresh.n_docs
    assert inc.avgdl == fresh.avgdl
    for q in ["best western", "zzznew", "good well best", "updated content"]:
        a = search_topk(inc, q, k=10)
        b = search_topk(fresh, q, k=10)
        assert [d for d, _ in a] == [d for d, _ in b], q
        np.testing.assert_array_equal(
            np.array([s for _, s in a]), np.array([s for _, s in b])
        )
    # the OLD versions' unique title terms must still resolve to the same
    # docs (titles unchanged), and old-only body terms must be purged:
    # query a term that only the old version of doc 5 contained
    old_tokens = set(pdf.iloc[5]["text"].split())
    new_tokens = set("zzznew best updated content".split())
    lost = [t for t in old_tokens - new_tokens if t.islower()][:3]
    for t in lost:
        a = search_topk(inc, t, k=1000)
        b = search_topk(fresh, t, k=1000)
        assert a == b, t


def test_reingest_identical_page_no_drift(spark, tmp_path):
    """Re-ingesting an IDENTICAL page must be a no-op after compaction:
    no duplicate doc_stats row, no stats drift, bit-equal scores vs a
    fresh build (ADVICE r1 medium finding)."""
    from search_engine_spark.sources.pages import generate_pages_pandas
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    pdf = generate_pages_pandas(np.arange(250))
    paths = ib.IndexPaths(str(tmp_path / "iidx"))
    ib.build_index(
        spark, _pages_df(spark, pdf), paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4,
    )
    r = apply_incremental_batch(
        spark, _pages_df(spark, pdf.iloc[10:20]), paths, "i1"
    )
    assert r["tombstoned"] == 0  # identical content -> no tombstone
    res = compact(spark, paths)
    assert res["full_merge"] is False

    fresh_paths = ib.IndexPaths(str(tmp_path / "ifresh"))
    ib.build_index(
        spark, _pages_df(spark, pdf), fresh_paths, n_salts=2,
        salt_threshold=60, n_barrels=4, id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    assert inc.n_docs == fresh.n_docs
    assert inc.avgdl == fresh.avgdl  # no double-counted doc_stats rows
    assert (
        spark.read.parquet(paths.doc_stats)
        .groupBy("doc_id").count().filter("count > 1").count() == 0
    )
    for q in ["best western", "good well"]:
        a = search_topk(inc, q, k=10)
        b = search_topk(fresh, q, k=10)
        assert a == b, q


def test_reingest_across_batches_latest_wins(spark, tmp_path):
    """The same url changed in TWO uncompacted batches: compaction must
    keep the LATEST version only (batch-seq conflict resolution), equal
    to a fresh build over the final corpus."""
    from search_engine_spark.sources.pages import generate_pages_pandas
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    pdf = generate_pages_pandas(np.arange(200))
    paths = ib.IndexPaths(str(tmp_path / "lidx"))
    ib.build_index(
        spark, _pages_df(spark, pdf), paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4,
    )
    v2 = pdf.iloc[3:4].copy()
    v2["html"] = [b"<html><head><title>t3</title></head><body><p>version two only</p></body></html>"]
    v3 = pdf.iloc[3:4].copy()
    v3["html"] = [b"<html><head><title>t3</title></head><body><p>version three final best</p></body></html>"]
    apply_incremental_batch(spark, _pages_df(spark, v2), paths, "m1")
    apply_incremental_batch(spark, _pages_df(spark, v3), paths, "m2")
    compact(spark, paths)

    updated = pdf.copy()
    updated.iloc[3:4] = v3
    fresh_paths = ib.IndexPaths(str(tmp_path / "lfresh"))
    ib.build_index(
        spark, _pages_df(spark, updated), fresh_paths, n_salts=2,
        salt_threshold=60, n_barrels=4, id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    assert inc.n_docs == fresh.n_docs
    # v2-only term gone, v3 term present, scores bit-equal
    assert search_topk(inc, "two", k=10) == search_topk(fresh, "two", k=10)
    for q in ["three final", "best western"]:
        a = search_topk(inc, q, k=10)
        b = search_topk(fresh, q, k=10)
        assert [d for d, _ in a] == [d for d, _ in b], q
        np.testing.assert_array_equal(
            np.array([s for _, s in a]), np.array([s for _, s in b])
        )


def test_epoch_invalidates_stale_handle(spark, tmp_path):
    """A SearchIndex opened before compact() must refuse to serve after it
    (its cached lexicon / WAND bounds are stale); refresh() re-opens."""
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    base = generate_pages_df(spark, 200, partitions=4)
    full = generate_pages_df(spark, 260, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "eidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    handle = SearchIndex(spark, paths)
    assert len(search_topk(handle, "best western", k=5)) > 0
    batch = spark.createDataFrame(
        full.toPandas().iloc[200:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="e1")
    # ingest alone changes nothing served: the stale handle still answers
    # with the exact base snapshot
    assert len(search_topk(handle, "best western", k=5)) > 0
    compact(spark, paths)
    with pytest.raises(ValueError, match="epoch"):
        search_topk(handle, "best western", k=5)
    fresh = handle.refresh()
    assert len(search_topk(fresh, "best western", k=5)) > 0


def test_ingest_leaves_served_snapshot_unchanged(spark, tmp_path):
    """Between ingest and compact, queries must serve EXACTLY the base
    snapshot — same docs, bit-equal scores (base postings scored with
    base stats, not union stats)."""
    base = generate_pages_df(spark, 200, partitions=4)
    full = generate_pages_df(spark, 260, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "sidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    before = search_topk(SearchIndex(spark, paths), "best good well", k=10)
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )

    batch = spark.createDataFrame(
        full.toPandas().iloc[200:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="s1")
    after = search_topk(SearchIndex(spark, paths), "best good well", k=10)
    assert before == after


def test_incremental_positions_phrase_equals_fresh(spark, tmp_path):
    """A positions-enabled index stays phrase-correct through ingest +
    compaction — and BETWEEN them: search_phrase over un-compacted
    deltas serves the union snapshot (base ∪ batches) bit-equal to a
    fresh with_positions build, no compact() required (VERDICT r2 item
    5). After compaction the same equality holds from the folded base."""
    from search_engine_spark.operators.query import search_phrase_topk
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    full = generate_pages_df(spark, 380, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "pidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4, with_positions=True,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[300:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="p1")

    fresh_paths = ib.IndexPaths(str(tmp_path / "pfresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4, with_positions=True,
    )
    fresh = SearchIndex(spark, fresh_paths)

    def check(inc, tag):
        for phrase in ["best western", "good hotel"]:
            a = search_phrase_topk(inc, phrase, k=10)
            b = search_phrase_topk(fresh, phrase, k=10)
            assert [d for d, _ in a] == [d for d, _ in b], (tag, phrase)
            np.testing.assert_array_equal(
                np.array([s for _, s in a]), np.array([s for _, s in b])
            )

    # between ingest and compaction: union snapshot, exact
    check(SearchIndex(spark, paths), "pre-compact")
    compact(spark, paths)
    check(SearchIndex(spark, paths), "post-compact")


def test_phrase_over_deltas_changed_reingest(spark, tmp_path):
    """Phrase serving over un-compacted deltas must apply latest-wins to
    a CHANGED re-ingest: the old version's positions are invisible, the
    new version's phrase matches appear, scores bit-equal a fresh build
    over the updated corpus — all before compact()."""
    from search_engine_spark.operators.query import search_phrase_topk
    from search_engine_spark.sources.pages import generate_pages_pandas
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )

    pdf = generate_pages_pandas(np.arange(250))
    paths = ib.IndexPaths(str(tmp_path / "pcidx"))
    ib.build_index(
        spark, _pages_df(spark, pdf), paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4, with_positions=True,
    )
    changed = pdf.iloc[5:8].copy()
    changed["html"] = [
        (
            b"<html><head><title>t%d</title></head><body><p>"
            b"zzznew phrase target content</p></body></html>" % i
        )
        for i in (5, 6, 7)
    ]
    r = apply_incremental_batch(spark, _pages_df(spark, changed), paths, "pc1")
    assert r["tombstoned"] == 3

    updated = pdf.copy()
    updated.iloc[5:8] = changed
    fresh_paths = ib.IndexPaths(str(tmp_path / "pcfresh"))
    ib.build_index(
        spark, _pages_df(spark, updated), fresh_paths, n_salts=2,
        salt_threshold=60, n_barrels=4, id_partitions=4, with_positions=True,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    # new-version phrase (terms exist only in the delta lexicon)
    a = search_phrase_topk(inc, "zzznew phrase target", k=10)
    b = search_phrase_topk(fresh, "zzznew phrase target", k=10)
    assert len(a) == 3 and a == b
    # a phrase the OLD versions matched must now answer like fresh
    for phrase in ["best western", "good hotel"]:
        x = search_phrase_topk(inc, phrase, k=10)
        y = search_phrase_topk(fresh, phrase, k=10)
        assert [d for d, _ in x] == [d for d, _ in y], phrase
        np.testing.assert_array_equal(
            np.array([s for _, s in x]), np.array([s for _, s in y])
        )


def _topk_list(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_term_search_uncompacted_equals_fresh(spark, tmp_path):
    """search_uncompacted serves the UNION corpus (base ∪ un-compacted
    batches) bit-equal to a fresh build + WAND search — OR, AND and
    field-weighted modes — closing the term-side freshness asymmetry
    (search_phrase already served the union; term search was base-only
    until compact()). After compact() it falls through to the pruned
    search() path and the same equality holds."""
    from search_engine_spark.operators.query import (
        search_topk,
        search_uncompacted,
    )
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        compact,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    full = generate_pages_df(spark, 380, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "tidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[300:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="t1")

    fresh_paths = ib.IndexPaths(str(tmp_path / "tfresh"))
    ib.build_index(
        spark, full, fresh_paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    fresh = SearchIndex(spark, fresh_paths)

    import pyspark.sql.functions as F

    allowed = fresh.doc_stats.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id"
    )

    def check(inc, tag):
        for q, mode, fw, flt in [
            ("best good well", "OR", None, None),
            ("best good", "AND", None, None),
            ("hotel room", "OR", (2.0, 1.0), None),
            ("best good well", "OR", None, allowed),
        ]:
            a = _topk_list(search_uncompacted(inc, q, k=10, mode=mode,
                                              field_weights=fw,
                                              doc_ids=flt))
            b = search_topk(fresh, q, k=10, mode=mode, field_weights=fw,
                            doc_ids=flt)
            assert [d for d, _ in a] == [d for d, _ in b], (tag, q, mode)
            np.testing.assert_array_equal(
                np.array([s for _, s in a]), np.array([s for _, s in b])
            )

    check(SearchIndex(spark, paths), "pre-compact")
    compact(spark, paths)
    check(SearchIndex(spark, paths), "post-compact")


def test_uncompacted_stats_single_job(spark, tmp_path, count_collects):
    """The freshness window's per-term live stats — blob-metadata agg,
    superseded-overlap count, latest-wins delta stats — must reach the
    driver in ONE tagged collect (round 5, VERDICT r4 #6: three separate
    collects tripled the per-query scheduling floor). Probe: count
    DataFrame.collect() calls issued while BUILDING the query (the
    status-tracker job count is too noisy — AQE materializes each query
    stage as its own job). Ceiling pinned at the measured post-fix
    count; the pre-fix shape issues two more."""
    from search_engine_spark.operators.query import search_uncompacted
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )

    base = generate_pages_df(spark, 120, partitions=4)
    full = generate_pages_df(spark, 160, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "jidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[120:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="j1")
    idx = SearchIndex(spark, paths)
    with count_collects() as calls:
        df = search_uncompacted(idx, "best good well", k=10)
    assert df.collect()
    # snapshot union-stats aggregate + lexicon bind + ONE per-term stats
    # job + the WAND theta pass = 4 (stats_base is read driver-side); the
    # pre-fix stats phase alone was 3
    assert len(calls) <= 4, len(calls)


def test_uncompacted_wand_equals_exhaustive(spark, tmp_path):
    """Delta-aware WAND (round 4, VERDICT r3 #6): pruning with
    live-union-stats bounds must return EXACTLY the exhaustive decode's
    top-k on an uncompacted snapshot — docs, scores, and order — for
    multi-term OR (the pruned mode), including the filtered variant
    (theta computed on the filtered rows)."""
    import pyspark.sql.functions as F

    from search_engine_spark.operators.query import search_uncompacted
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )

    base = generate_pages_df(spark, 300, partitions=4)
    full = generate_pages_df(spark, 380, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "widx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[300:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="w1")
    inc = SearchIndex(spark, paths)
    allowed = spark.read.parquet(paths.doc_stats).filter(
        F.col("doc_id") % 2 == 0
    ).select("doc_id")
    for q, fw, flt in [
        ("best good well", None, None),
        ("hotel room western", None, None),
        ("hotel room", (2.0, 1.0), None),
        ("best good well", None, allowed),
    ]:
        pruned = _topk_list(
            search_uncompacted(inc, q, k=10, field_weights=fw, doc_ids=flt,
                               use_wand=True)
        )
        exhaustive = _topk_list(
            search_uncompacted(inc, q, k=10, field_weights=fw, doc_ids=flt,
                               use_wand=False)
        )
        assert pruned == exhaustive and pruned, (q, fw)


def test_term_search_uncompacted_changed_reingest(spark, tmp_path):
    """Latest-wins over a CHANGED re-ingest before compact(): the old
    version's postings are invisible, delta-lexicon-only terms bind, and
    scores bit-equal a fresh build of the updated corpus."""
    from search_engine_spark.operators.query import (
        search_topk,
        search_uncompacted,
    )
    from search_engine_spark.sources.pages import generate_pages_pandas
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )

    pdf = generate_pages_pandas(np.arange(250))
    paths = ib.IndexPaths(str(tmp_path / "tcidx"))
    ib.build_index(
        spark, _pages_df(spark, pdf), paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4,
    )
    changed = pdf.iloc[5:8].copy()
    changed["html"] = [
        (
            b"<html><head><title>t%d</title></head><body><p>"
            b"zzzterm target content</p></body></html>" % i
        )
        for i in (5, 6, 7)
    ]
    r = apply_incremental_batch(spark, _pages_df(spark, changed), paths, "tc1")
    assert r["tombstoned"] == 3

    updated = pdf.copy()
    updated.iloc[5:8] = changed
    fresh_paths = ib.IndexPaths(str(tmp_path / "tcfresh"))
    ib.build_index(
        spark, _pages_df(spark, updated), fresh_paths, n_salts=2,
        salt_threshold=60, n_barrels=4, id_partitions=4,
    )
    inc = SearchIndex(spark, paths)
    fresh = SearchIndex(spark, fresh_paths)
    # delta-lexicon-only term binds and scores like fresh
    a = _topk_list(search_uncompacted(inc, "zzzterm target", k=10))
    b = search_topk(fresh, "zzzterm target", k=10)
    assert len(a) == 3 and a == b
    # queries the OLD versions matched answer like fresh
    for q in ["best western", "good hotel"]:
        x = _topk_list(search_uncompacted(inc, q, k=10))
        y = search_topk(fresh, q, k=10)
        assert [d for d, _ in x] == [d for d, _ in y], q
        np.testing.assert_array_equal(
            np.array([s for _, s in x]), np.array([s for _, s in y])
        )


def test_term_search_uncompacted_torn_log_raises(spark, tmp_path):
    """A crash window can leave doc_stats delta batches without postings
    delta batches; serving the union would silently miss those docs —
    search_uncompacted must refuse instead."""
    import shutil

    from search_engine_spark.operators.query import search_uncompacted
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
        delta_dir,
    )

    base = generate_pages_df(spark, 150, partitions=4)
    full = generate_pages_df(spark, 180, partitions=4)
    paths = ib.IndexPaths(str(tmp_path / "tornidx"))
    ib.build_index(
        spark, base, paths, n_salts=2, salt_threshold=60, n_barrels=4,
        id_partitions=4,
    )
    batch = spark.createDataFrame(
        full.toPandas().iloc[150:],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    apply_incremental_batch(spark, batch, paths, batch_id="torn1")
    shutil.rmtree(f"{delta_dir(paths)}/batch=torn1")
    with pytest.raises(ValueError, match="postings delta log is torn"):
        search_uncompacted(SearchIndex(spark, paths), "best good", k=5)


def test_percolate_stream_equals_batch(spark, tmp_path):
    """Reverse search (standing-query alerting): hand-checked AND
    semantics on the batch transform, and the streamed alert set must
    equal the batch percolation of the same pages."""
    from search_engine_spark.streaming.jobs import percolate, run_percolate

    pages = generate_pages_df(spark, 250, partitions=4)
    queries = [
        (1, "best western"),        # common pair
        (2, "good"),                # single frequent term
        (3, "zzznosuchterm"),       # never fires
        (4, "the and of"),          # all stopwords -> never fires
    ]
    docs = ib.normalize_pages(pages)
    batch = percolate(docs, queries, spark)
    rows = {(int(r["doc_id"]), int(r["query_id"])) for r in batch.collect()}
    assert rows, "expected alerts on this corpus"
    assert not any(q in (3, 4) for _, q in rows)
    # AND semantics: every query-1 alert doc contains BOTH terms
    tok = {
        int(r["doc_id"]): set(r["norm"].split(" "))
        for r in docs.select("doc_id", "norm").collect()
    }
    q1_expected = {
        d for d, t in tok.items() if {"best", "western"} <= t
    }
    assert {d for d, q in rows if q == 1} == q1_expected
    assert {d for d, q in rows if q == 2} == {
        d for d, t in tok.items() if "good" in t
    }
    # stream == batch
    src = tmp_path / "perc_in"
    pages.write.parquet(str(src))
    out = tmp_path / "perc_out"
    run_percolate(
        spark, str(src), queries, str(out), str(tmp_path / "perc_ckpt")
    )
    streamed = {
        (int(r["doc_id"]), int(r["query_id"]))
        for r in spark.read.parquet(str(out)).collect()
    }
    assert streamed == rows


def test_percolate_phrase_stream_batch_and_index_parity(spark, tmp_path):
    """Phrase percolation (round 5, VERDICT r4 #9): standing EXACT-PHRASE
    alerts must (a) distinguish adjacency from mere term co-occurrence
    on planted pages, (b) equal the batch transform when streamed, and
    (c) fire on exactly the doc set search_phrase matches over a
    positional index that received the same pages through the positional
    DELTA path (base build + un-compacted ingest — the freshness
    window), i.e. alerts == index semantics."""
    import pandas as pd

    from search_engine_spark.operators.query import search_phrase
    from search_engine_spark.streaming.incremental import (
        apply_incremental_batch,
    )
    from search_engine_spark.streaming.jobs import percolate, run_percolate

    base_pages = generate_pages_df(spark, 150, partitions=4)
    planted = pd.DataFrame(
        {
            "url": ["http://x.example/ph1", "http://x.example/ph2"],
            "warc_ts": [pd.Timestamp("2024-01-01")] * 2,
            "html": [
                b"<html><head><title>t</title></head><body><p>"
                b"zebra quagga okapi runs</p></body></html>",
                # both terms present, phrase ABSENT — a term-AND
                # percolator would wrongly fire on this one
                b"<html><head><title>t</title></head><body><p>"
                b"quagga zebra scattered zebra</p></body></html>",
            ],
            "text": ["", ""],
            "lang": ["en", "en"],
        }
    )
    batch_schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    )
    batch_pages = spark.createDataFrame(planted, batch_schema)
    all_pages = base_pages.unionByName(batch_pages)
    phrases = [(10, "zebra quagga"), (11, "best western"), (12, "")]
    docs = ib.normalize_pages(all_pages)
    alerts = {
        (int(r["doc_id"]), int(r["query_id"]))
        for r in percolate(docs, [], spark, phrases=phrases).collect()
    }
    by_url = {
        r["url"]: int(r["doc_id"])
        for r in ib.normalize_pages(batch_pages).select("doc_id", "url").collect()
    }
    hit, miss = by_url["http://x.example/ph1"], by_url["http://x.example/ph2"]
    assert (hit, 10) in alerts
    assert (miss, 10) not in alerts  # adjacency, not co-occurrence
    assert not any(q == 12 for _, q in alerts)

    # stream == batch
    src = tmp_path / "pperc_in"
    all_pages.write.parquet(str(src))
    out = tmp_path / "pperc_out"
    run_percolate(
        spark, str(src), [], str(out), str(tmp_path / "pperc_ckpt"),
        phrases=phrases,
    )
    streamed = {
        (int(r["doc_id"]), int(r["query_id"]))
        for r in spark.read.parquet(str(out)).collect()
    }
    assert streamed == alerts

    # alerts == search_phrase over the positional DELTA path: base index
    # + un-compacted ingest of the planted batch serves the union corpus
    paths = ib.IndexPaths(str(tmp_path / "ppidx"))
    ib.build_index(
        spark, base_pages, paths, n_salts=2, salt_threshold=60,
        n_barrels=4, id_partitions=4, with_positions=True,
    )
    apply_incremental_batch(spark, batch_pages, paths, "pp1")
    idx = SearchIndex(spark, paths)
    for qid, phrase in [(10, "zebra quagga"), (11, "best western")]:
        want = {
            int(r["doc_id"])
            for r in search_phrase(idx, phrase, k=100_000).collect()
        }
        assert {d for d, q in alerts if q == qid} == want, phrase
