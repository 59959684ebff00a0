"""Physical-plan regression guard: the plan properties documented in
PLANS.md must hold — pushdown reaching the scan, broadcast joins on small
sides, TakeOrderedAndProject for top-k, no Python UDFs in the declarative
suite."""

from __future__ import annotations

import pytest

from search_engine_spark.operators import corpus, relational


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_nodes(node) -> list:
    """Every node of a JVM physical plan, pre-order, looking through the
    adaptive wrapper to its current plan."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    kids = node.children()
    return [node] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def _output_names(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


@pytest.fixture(scope="module")
def sfd(sf_dir):
    return sf_dir


def test_bm25_plan(spark, sfd):
    p = _plan(corpus.q_bm25_topk_or(spark, sfd))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "EqualTo(lang,en)" in p  # predicate reached the parquet scan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_filter_pushdown_and_pruning(spark, sfd):
    p = _plan(relational.q_filter_project(spark, sfd))
    assert "PushedFilters" in p and "l_quantity" in p
    # column pruning: untouched wide columns never read
    assert "l_comment" not in p and "l_shipmode" not in p


def test_semi_join_plan(spark, sfd):
    p = _plan(relational.q_semi_join(spark, sfd))
    assert "LeftSemi" in p
    assert "GreaterThan(o_totalprice,400000" in p


def test_topk_plan(spark, sfd):
    p = _plan(relational.q_topk_orders(spark, sfd))
    assert "TakeOrderedAndProject" in p


def test_join_chain_broadcasts(spark, sfd):
    p = _plan(relational.q_join_map_chain(spark, sfd))
    assert p.count("BroadcastHashJoin") >= 2  # customer + nation dims


def test_no_python_udf_in_declarative_suite(spark, sfd):
    """Every driver-suite operator stays JVM-side (UDFs appear only in the
    engine's Arrow mapInPandas stages, not here). Covers the relational
    AND corpus declarative queries; engine_* twins are excluded (they
    run the physical engine, whose decode is Arrow mapInPandas by
    design) — as is q_lexicon, whose dense-ID assignment deliberately
    uses the two-phase mapInPandas (the alternative is the
    single-partition window flagged in round 1)."""
    suites = {**relational.QUERIES}
    suites.update(
        {
            n: f
            for n, f in corpus.QUERIES.items()
            if not n.startswith("engine_") and n != "lexicon"
        }
    )
    for name, fn in suites.items():
        p = _plan(fn(spark, sfd))
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name
        assert "MapInPandas" not in p, name


def test_split_and_sample_zero_shuffle(spark, sfd):
    """The split/sampling ops must stay pure scan-fused projections —
    zero Exchange at any scale."""
    for q in (corpus.q_split_assign, corpus.q_stratified_sample):
        p = _plan(q(spark, sfd))
        assert "Exchange" not in p, q.__name__
        assert "Scan parquet" in p


def test_source_detail_pushdown(spark, sfd):
    """Parent point-lookup: the key predicate must reach the scan (at a
    source-partitioned 100-TB layout this is the partition prune)."""
    p = _plan(corpus.q_source_detail(spark, sfd))
    assert "EqualTo(source,src1)" in p
    assert "Exchange" not in p


def test_simhash_single_exchange(spark, sfd):
    """The wide-agg SimHash must keep exactly ONE exchange (partial agg
    collapses ~1 row/doc map-side before the only doc_id shuffle)."""
    p = _plan(corpus.q_simhash(spark, sfd))
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_pii_scrub_zero_shuffle(spark, sfd):
    """PII scrub is a pure scan-fused projection: regexp count + mask in
    whole-stage codegen, no Exchange, no Python."""
    p = _plan(corpus.q_pii_scrub(spark, sfd))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_repetition_signals_zero_shuffle(spark, sfd):
    """Per-doc repetition signals are within-document: the sorted-array
    run-length fold must compile to a shuffle-free projection."""
    p = _plan(corpus.q_repetition_signals(spark, sfd))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_source_stats_two_exchanges_of_doc_rows(spark, sfd):
    """Per-source rollup: per-doc stats are array intrinsics in the
    projection (no explode shuffle); the exact-distinct dup_rate plans as
    the standard two-phase (source,h) -> (source) exchange pair, each
    shipping at most one row per doc. Guard that it never grows beyond
    that (an explode-based regression would add a token-level exchange)."""
    p = _plan(corpus.q_source_stats(spark, sfd))
    assert p.count("Exchange") == 2, p.count("Exchange")
    assert "explode" not in p


def test_text_signals_zero_shuffle(spark, sfd):
    """lang_id / quality_score / token_counts are within-document signals:
    the array-intrinsic rewrites (round 4) must compile to shuffle-free
    scan-fused projections — the old explode→groupBy shapes exchanged up
    to the full distinct (doc_id, token) stream for per-doc answers."""
    for q in (corpus.q_lang_id, corpus.q_quality_score, corpus.q_token_counts):
        p = _plan(q(spark, sfd))
        assert "Exchange" not in p, q.__name__
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_domain_cap_single_exchange(spark, sfd):
    """Per-domain top-N: the per-doc quality is a zero-shuffle projection,
    so the whole query is ONE exchange (the window's source shuffle of ≤1
    narrow row/doc) — text never shuffles."""
    p = _plan(corpus.q_domain_cap(spark, sfd))
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hll_sketch_two_bounded_exchanges(spark, sfd):
    """The HLL distinct sketch exists to REPLACE the distinct-token
    exchange: its plan must be exactly two hash-agg exchanges — the
    (source, bucket) register MAX (≤64 rows/source/partition after the
    map-side partial) and the per-source fold — with no Python and no
    distinct over the token stream."""
    p = _plan(corpus.q_hll_distinct_tokens(spark, sfd))
    assert p.count("Exchange") == 2, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_corpus_select_no_broadcast_hint(spark, sfd):
    """The near-dup drop set and the dup-involved doc set are
    corpus-proportional on a web crawl: the anti-joins must NOT carry a
    hard-coded broadcast hint (a hint is obeyed regardless of size —
    driver OOM at 100 TB). AQE may still pick broadcast at runtime for a
    genuinely small side; the guard checks the ANALYZED plan for the
    hint node, not the physical strategy."""
    for q in (corpus.q_corpus_select, corpus.q_corpus_select_cc):
        df = q(spark, sfd)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "Hint" not in analyzed, q.__name__


def test_unigram_logprob_no_third_tokenize_scan(spark, sfd):
    """The corpus total is SUM(cf) over the localCheckpointed (term, cf)
    table (round 5, VERDICT r4 #3): the SERVED plan re-tokenizes documents
    exactly once (the tf branch) and reads the checkpointed aggregate for
    both the per-term join and the 1-row total — the round-4 shape paid a
    third full scan+split of the corpus for one scalar."""
    p = _plan(corpus.q_unigram_logprob(spark, sfd))
    assert p.count("Scan parquet") == 1, p.count("Scan parquet")
    assert "Scan ExistingRDD" in p  # the checkpointed (term, cf) table


def test_boilerplate_ngrams_single_aggregate_exchange(spark, sfd):
    """Boilerplate mining: per-doc dedup is array_distinct inside the
    projection (no distinct shuffle); one ngram-keyed agg exchange + the
    top-k collect, nothing else."""
    p = _plan(corpus.q_boilerplate_ngrams(spark, sfd))
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_tfidf_keywords_partitioned_window(spark, sfd):
    """The per-doc top-5 must rank inside a doc_id-PARTITIONED window —
    a global-sort WindowExec ("No Partition Defined") moves the whole
    (doc, term) table to one partition, the 100x-scale killer the
    lexicon guard documents. Also: no Python, and the df join must not
    re-scan documents (the tf table is checkpointed and reused)."""
    df = corpus.q_tfidf_keywords(spark, sfd)
    p = _plan(df)
    assert "Window" in p
    assert "No Partition Defined" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one corpus scan total: the localCheckpointed tf table feeds
    # scores, df roll-up, and N — documents.parquet appears in NO scan
    # of the final plan (the checkpoint replaced it)
    assert "documents.parquet" not in p


def test_lang_confusion_single_bounded_exchange(spark, sfd):
    """The confusion matrix's per-doc prediction is the same zero-shuffle
    array intrinsic as q_lang_id; the only exchange is the (lang, pred)
    count agg — at most |langs|x2 groups regardless of corpus size."""
    p = _plan(corpus.q_lang_confusion(spark, sfd))
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "explode" not in p.lower()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_kwic_context_zero_shuffle(spark, sfd):
    """KWIC is within-document: position, both slices, and the joined
    context string are array intrinsics in ONE projection — no Exchange,
    no explode, no Python. A doc ships one narrow row or nothing."""
    p = _plan(corpus.q_kwic_context(spark, sfd))
    assert "Exchange" not in p
    assert "explode" not in p.lower()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_suggest_terms_prefilter_and_topk(spark, sfd):
    """Autocomplete: the StartsWith filter must run BEFORE the agg (so
    non-matching tokens never reach an exchange), the top-k must be
    TakeOrderedAndProject, and the exchanges are exactly the two-phase
    distinct-df pair over prefix-matching rows only."""
    p = _plan(corpus.q_suggest_terms(spark, sfd))
    assert "StartsWith" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 2, p.count("Exchange")


def test_term_source_affinity_partitioned_window(spark, sfd):
    """The champion-source rank must be a term-PARTITIONED window (<=
    |sources| rows per term), never a global sort; final ranking is a
    TakeOrderedAndProject over rank-1 rows."""
    p = _plan(corpus.q_term_source_affinity(spark, sfd))
    assert "Window" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 2, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zipf_slope_bounded_window(spark, sfd):
    """The rank window runs AFTER the top-N limit (TakeOrderedAndProject
    feeds it), so the single-partition window is bounded at _ZIPF_TOPN
    rows regardless of corpus size; one vocab-agg exchange total."""
    p = _plan(corpus.q_zipf_slope(spark, sfd))
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_dup_fraction_narrow_rows_only(spark, sfd):
    """The per-doc dup roll-up ships only (doc_id, md5) window rows —
    the text column must never appear in an exchange: windows are built
    inside the scan projection and every downstream op is hash-keyed."""
    df = corpus.q_dup_fraction(spark, sfd)
    p = _plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    exchanges = [n for n in nodes if n.nodeName().endswith("Exchange")]
    assert exchanges  # the walk sees the shuffles and the broadcast
    # the rows every Exchange (shuffle or broadcast, at any depth) ships
    # are its input's output: text is never among them
    for ex in exchanges:
        assert "text" not in _output_names(ex.child()), ex.toString()
    # and text leaves only the scans, straight into the window generator
    for n in nodes:
        if "text" in _output_names(n):
            assert n.nodeName().startswith("Scan"), n.nodeName()


def test_asof_join_is_window_not_join(spark, sfd):
    """The as-of rewrite must plan as union -> ONE user-keyed exchange ->
    window (no join node anywhere): the distributed as-of shape. A per-row
    range probe or nested-loop regression would re-introduce a Join."""
    from search_engine_spark.operators import relational

    p = _plan(relational.q_asof_join(spark, sfd))
    assert "Join" not in p
    assert "Window" in p
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_range_join_is_bucketed_equi_join(spark, sfd):
    """The band join must hash/sort-merge on the (user_id, bucket) key —
    NEVER BroadcastNestedLoopJoin or CartesianProduct (the naive non-equi
    plan, O(n*m) per user at crawl scale)."""
    from search_engine_spark.operators import relational

    p = _plan(relational.q_range_join(spark, sfd))
    assert "BroadcastNestedLoop" not in p
    assert "Cartesian" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_chunk_documents_zero_shuffle(spark, sfd):
    """The chunker is a pure scan-fused projection + explode of narrow
    (start, n, md5) structs — no Exchange, no Python; text never leaves
    the scan."""
    p = _plan(corpus.q_chunk_documents(spark, sfd))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_url_density_zero_shuffle(spark, sfd):
    """URL counting is a pure scan-fused regexp projection — no
    Exchange, no Python (the pii_scrub shape)."""
    p = _plan(corpus.q_url_density(spark, sfd))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
