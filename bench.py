"""Benchmark harness (driver contract): runs the headline pipeline at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "build_docs_per_sec": ..., "query_p50_ms": ...}

Headline content (BASELINE.json metric):
  1. engine_build   — full compressed-barrel index build (synthetic pages
                      corpus sized ~200k docs/sf) → docs/sec throughput
  2. engine_query_* — BM25 top-10 over the compressed barrels with
                      block-max WAND, reference-query-set analogs
  3. a cross-section of the declarative operator suite on the driver's
                      testdata tables (same plans the correctness gate runs)

Measurement discipline (CLAUDE.md): every reported number is the BEST of
N_ROUNDS=3 interleaved rounds — round 1 runs every query once, then round
2, then round 3, min per query — so a VM throttle window inflates at most
one round instead of silently becoming the committed number (the r02
bench was a single-window run that disagreed with BASELINE.md by ~1.5×).

SELF-ADJUDICATING ARTIFACT (round 5, VERDICT r4 #1): the emitted JSON
carries the evidence needed to attribute a cross-round delta to the VM
window instead of the code — `walls` (every query's RAW per-round walls,
not just the minimum; inter-round spread IS the window noise) and
`cpu_probe_pre` / `cpu_probe_post` (tools/cpu_probe.py hw ceiling
measured INSIDE the same window, before and after the timed section). A
reader can now check "is the spread ≥ the delta?" and "was the hw
ceiling below nominal?" from the artifact alone — round 4's committed
19.84 s pipeline number (vs 6.37 s in a clean window) was unadjudicable
because none of that context was recorded.

Also included: the 1M-doc training-data pipeline smoke
(`pipeline_corpus_select`) — `q_corpus_select` (lang-ID + quality +
exact-dedup + LSH near-dedup as ONE plan) over a deterministic synthetic
documents table with a 5%% exact-dup boilerplate cluster (the collapse
path is what makes this finish). Sized by $SPARK_GRAFT_PIPELINE_DOCS
(default 1,000,000); single run, labeled a smoke.

`python bench.py --scaling` additionally runs the N-vs-4N scaling
campaign (tools/scaling_campaign.py: taskset-pinned 4- vs 16-core hosts,
interleaved best-of-K, cpu_probe normalization — BASELINE.md
"Methodology fix") and reports raw + ceiling-normalized efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
PAGES_PER_SF = 200_000  # sf0.1 -> 20k synthetic pages for the build bench
N_ROUNDS = 3  # best-of-3 interleaved (CLAUDE.md measurement rule)

_PIPE_VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "group", "query", "table", "slow",
    "stream", "key", "filter", "customer", "join", "window", "agg",
    "vector", "merge", "dup", "big", "data", "row",
]


def synth_documents(spark, n_docs: int, path: str, dup_every: int = 20) -> None:
    """Deterministic synthetic documents table in the driver-testdata
    shape (doc_id, text, lang, source, n_chars) for the 1M-doc pipeline
    smoke: ~80% en (with 'the'/'a' lang-ID markers every 8th token),
    a 5% exact-duplicate boilerplate cluster (the web-crawl shape the
    rep-collapse exists for), 18-57 tokens/doc. JVM-only expressions —
    generation is seconds, and is NOT part of the measured time."""
    import pyspark.sql.functions as F

    vocab = F.array(*[F.lit(w) for w in _PIPE_VOCAB])
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    n_tok = (F.col("doc_id") * 2654435761 % 40 + 18).cast("int")

    def word(i):
        return F.element_at(
            vocab,
            (
                (
                    F.col("doc_id") * 1103515245
                    + i * 12345
                    + (F.col("doc_id") + i) * 2654435761
                )
                % len(_PIPE_VOCAB)
                + 1
            ).cast("int"),
        )

    is_en = (F.col("doc_id") % 10) < 8
    tok = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.when(
            is_en & (i % 8 == 0),
            F.when(i % 16 == 0, F.lit("the")).otherwise(F.lit("a")),
        ).otherwise(word(i)),
    )
    boiler = " ".join(_PIPE_VOCAB[:12] + _PIPE_VOCAB[:12])
    text = F.when(
        (F.col("doc_id") % dup_every == 0) & is_en, F.lit(boiler)
    ).otherwise(F.concat_ws(" ", tok))
    docs = base.select(
        "doc_id",
        text.alias("text"),
        F.when(is_en, "en")
        .otherwise(
            F.element_at(
                F.array(F.lit("de"), F.lit("fr")),
                (F.col("doc_id") % 2 + 1).cast("int"),
            )
        )
        .alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string")).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.repartition(32).write.mode("overwrite").parquet(
        f"{path}/documents.parquet"
    )

BENCH_QUERIES = [
    "bm25_topk_or",
    "phrase_bm25_topk",
    "bm25_topk_and",
    "bm25f_topk",
    "field_weighted_topk",
    "bm25_filtered_topk",
    "rollup_topk",
    "term_tf",
    "lexicon",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "simhash_near_dup",
    "embedding_cosine_topk",
    "embedding_rp_near_dup",
    "kmeans_centroids",
    "pq_adc_topk",
    "ivf_adc_topk",
    "ivfadc_residual_topk",
    "engine_pq_adc_topk",
    "hll_distinct_tokens",
    "source_pagerank",
    "bm25_authority_topk",
    "cms_heavy_hitters",
    "dedup_clusters",
    "split_assign",
    "stratified_sample",
    "domain_cap",
    "passage_dedup",
    "unigram_logprob",
    "bigram_logprob",
    "quality_score",
    "repetition_signals",
    "boilerplate_ngrams",
    "source_stats",
    "pii_scrub",
    "decontaminate",
    "decontaminate_bloom",
    "pmi_collocations",
    "tfidf_keywords",
    "quality_quantiles",
    "hll_merged_distinct",
    "hybrid_rrf_topk",
    "facet_counts",
    "more_like_this",
    "bm25_not_topk",
    "bm25_prefix_topk",
    "lang_confusion",
    "suggest_terms",
    "kwic_context",
    "dup_fraction",
    "ppl_buckets",
    "zipf_slope",
    "term_source_affinity",
    "asof_join",
    "range_join",
    "chunk_documents",
    "ngram_containment",
    "url_density",
    "cluster_size_histogram",
    "event_funnel",
    "groupby_multi_mean",
    "join_map_chain",
    "window_user_events",
    "event_hour_window",
    "topk_orders",
]

ENGINE_QUERIES = {
    "engine_q_western": ("western best", "OR", None),
    "engine_q_multi": ("good well western", "OR", None),
    "engine_q_and": ("good well western", "AND", None),
    "engine_q_single": ("best", "OR", None),
    "engine_q_weighted": ("western best", "OR", (2.0, 1.0)),
}


def _cpu_probe(levels: tuple[int, ...] = (4, 16)) -> dict:
    """Same-window hardware-ceiling probe (tools/cpu_probe.py): an
    embarrassingly parallel pure-Python burn at each process count. The
    result rides inside the bench JSON so a slow window is visible IN the
    artifact (hw_efficiency_4_16 ≈ 1.0 nominal; ~0.77 was measured during
    round 4's contested window). Never breaks the one-JSON-line contract."""
    import subprocess

    script = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "cpu_probe.py"
    )
    try:
        r = subprocess.run(
            [sys.executable, script, *[str(x) for x in levels]],
            capture_output=True, text=True, timeout=600,
        )
        return json.loads(r.stdout.strip().splitlines()[-1])
    except Exception as e:
        return {"error": str(e)[:200]}


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_bench(sf_dir: str, cpus: str, scaling: bool) -> dict:
    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.operators.query import SearchIndex, search_topk
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.pages import write_pages

    sf = _sf_of(sf_dir)
    n_pages = max(2000, int(PAGES_PER_SF * sf))
    work = tempfile.mkdtemp(prefix="se_bench_")
    timings: dict[str, float] = {}
    extra: dict = {}
    try:
        spark = get_spark("bench", master=f"local[{cpus}]")
        # corpus generation (not part of the measured build)
        pages_path = f"{work}/pages"
        write_pages(spark, n_pages, pages_path)
        pages = spark.read.parquet(pages_path)

        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        best: dict[str, float] = {}
        walls: dict[str, list[float]] = {}

        def record(name: str, dt: float) -> None:
            best[name] = min(best.get(name, float("inf")), dt)
            walls.setdefault(name, []).append(round(dt, 3))

        # hardware ceiling INSIDE this window, before the timed section
        extra["cpu_probe_pre"] = _cpu_probe()

        # best-of-N interleaved rounds: build, engine queries, operator
        # suite — each round runs EVERYTHING once, so a throttle window
        # inflates one round, not the committed minimum
        for rnd in range(N_ROUNDS):
            index_path = f"{work}/index_r{rnd}"
            t0 = time.monotonic()
            ib.build_index(
                spark, pages, ib.IndexPaths(index_path),
                n_salts=8, salt_threshold=2000, n_barrels=32,
            )
            record("engine_build", time.monotonic() - t0)
            idx = SearchIndex(spark, ib.IndexPaths(index_path))
            for qname, (qtext, qmode, fw) in ENGINE_QUERIES.items():
                t0 = time.monotonic()
                search_topk(idx, qtext, k=10, mode=qmode, field_weights=fw)
                record(qname, time.monotonic() - t0)
            # PForDelta twin (north rule "varint/PForDelta"): same build
            # over the same pages with the bit-packed codec + one query,
            # interleaved so both codecs see the same throttle windows
            pfor_path = f"{work}/index_pfor_r{rnd}"
            t0 = time.monotonic()
            ib.build_index(
                spark, pages, ib.IndexPaths(pfor_path),
                n_salts=8, salt_threshold=2000, n_barrels=32, codec="pfor",
            )
            record("engine_build_pfor", time.monotonic() - t0)
            pidx = SearchIndex(spark, ib.IndexPaths(pfor_path))
            t0 = time.monotonic()
            search_topk(pidx, "western best", k=10, mode="OR")
            record("engine_q_western_pfor", time.monotonic() - t0)
            for name in BENCH_QUERIES:
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                record(name, time.monotonic() - t0)
            if rnd:  # keep only the latest index on disk
                shutil.rmtree(f"{work}/index_r{rnd - 1}", ignore_errors=True)
                shutil.rmtree(
                    f"{work}/index_pfor_r{rnd - 1}", ignore_errors=True
                )

        def _dir_bytes(path: str) -> int:
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )

        # codec size evidence: same corpus, same barrels, two codecs
        extra["postings_bytes_varint"] = _dir_bytes(
            ib.IndexPaths(f"{work}/index_r{N_ROUNDS - 1}").postings
        )
        extra["postings_bytes_pfor"] = _dir_bytes(
            ib.IndexPaths(f"{work}/index_pfor_r{N_ROUNDS - 1}").postings
        )

        # query-UX surface (VERDICT r3 #10): autocomplete, spelling
        # correction (banded scan AND SymSpell artifact), KWIC snippets,
        # batch workload execution — same best-of-N interleaved
        # discipline, over the last round's index. The spell artifact and
        # the positional index are one-time BUILD costs (recorded under
        # their own keys, not mixed into query latency).
        from search_engine_spark.operators.query import (
            correct_term, search_many, snippets, suggest_terms,
        )

        last_paths = ib.IndexPaths(f"{work}/index_r{N_ROUNDS - 1}")
        pos_paths = ib.IndexPaths(f"{work}/index_pos")
        # the two one-time builds obey the same best-of-N rule as every
        # other committed number (CLAUDE.md: no single-run exceptions) —
        # interleaved with each other so one throttle window can't own
        # both minima
        for _ in range(N_ROUNDS):
            t0 = time.monotonic()
            ib.build_spell_index(spark, last_paths)
            record("ux_spell_build", time.monotonic() - t0)
            shutil.rmtree(pos_paths.root, ignore_errors=True)
            t0 = time.monotonic()
            ib.build_index(
                spark, pages, pos_paths,
                n_salts=8, salt_threshold=2000, n_barrels=32,
                with_positions=True,
            )
            record("engine_build_positions", time.monotonic() - t0)
        ux_idx = SearchIndex(spark, last_paths)
        pos_idx = SearchIndex(spark, pos_paths)
        workload = dict(
            enumerate(q for q, _, _ in ENGINE_QUERIES.values())
        )
        for _ in range(N_ROUNDS):
            t0 = time.monotonic()
            suggest_terms(ux_idx, "we", k=10).collect()
            record("ux_suggest", time.monotonic() - t0)
            t0 = time.monotonic()
            correct_term(ux_idx, "westarn", k=10, use_spell=False).collect()
            record("ux_correct_scan", time.monotonic() - t0)
            t0 = time.monotonic()
            correct_term(ux_idx, "westarn", k=10).collect()
            record("ux_correct_spell", time.monotonic() - t0)
            t0 = time.monotonic()
            search_many(ux_idx, workload, k=10).collect()
            record("ux_search_many", time.monotonic() - t0)
            t0 = time.monotonic()
            snippets(pos_idx, "best western", pages, k=10).collect()
            record("ux_snippets", time.monotonic() - t0)

        # compaction cost shape (round 5, VERDICT r4 #4): wall vs number
        # of folded batches at a fixed total ingest (160 pages into a
        # 2k-page base), plus the one-tiny-batch case — the
        # affected-barrel split should make the wall track the deltas'
        # barrel footprint, not the base size (the byte-identity proof
        # lives in tests/test_streaming.py). Builds/ingests are setup,
        # not measured; best-of-N interleaved like everything else.
        from search_engine_spark.sources.pages import generate_pages_df
        from search_engine_spark.streaming import incremental as inc_mod

        compact_base = generate_pages_df(spark, 2000, partitions=32)
        ingest_pd = (
            generate_pages_df(spark, 2160, partitions=32)
            .toPandas()
            .iloc[2000:]
        )
        batch_schema = (
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        )
        compact_cfgs = [
            ("compact_small_batch", 1, 10),  # one ~10-page batch
            ("compact_batches_1", 1, 160),
            ("compact_batches_4", 4, 160),
            ("compact_batches_16", 16, 160),
        ]
        for _ in range(N_ROUNDS):
            for name, nb, total_pages in compact_cfgs:
                cpaths = ib.IndexPaths(f"{work}/cidx")
                shutil.rmtree(cpaths.root, ignore_errors=True)
                ib.build_index(
                    spark, compact_base, cpaths,
                    n_salts=8, salt_threshold=2000, n_barrels=32,
                )
                rows = ingest_pd.iloc[:total_pages]
                step = max(1, total_pages // nb)
                for i in range(nb):
                    sl = (
                        rows.iloc[i * step:(i + 1) * step]
                        if i < nb - 1
                        else rows.iloc[i * step:]
                    )
                    inc_mod.apply_incremental_batch(
                        spark,
                        spark.createDataFrame(sl, batch_schema),
                        cpaths,
                        f"b{i}",
                    )
                t0 = time.monotonic()
                inc_mod.compact(spark, cpaths)
                record(name, time.monotonic() - t0)

        timings.update({k: round(v, 3) for k, v in best.items()})
        extra["build_docs_per_sec"] = round(
            n_pages / best["engine_build"], 1
        )
        extra["build_n_docs"] = n_pages
        extra["bench_rounds"] = N_ROUNDS
        lat = sorted(best[q] for q in ENGINE_QUERIES)
        extra["query_p50_ms"] = round(lat[len(lat) // 2] * 1000, 1)

        # 4. training-data pipeline smoke at 1M docs: corpus_select over a
        # synthetic corpus with a 5% exact-dup cluster — best-of-3 like
        # every other number (a single run was observed swinging 23-95 s
        # with the VM throttle, far beyond the documented ±30% window)
        pipe_docs = int(
            os.environ.get("SPARK_GRAFT_PIPELINE_DOCS", "1000000")
        )
        if pipe_docs > 0:
            from search_engine_spark.operators import corpus as corpus_ops

            pipe_dir = f"{work}/pipe"
            synth_documents(spark, pipe_docs, pipe_dir)
            for _ in range(N_ROUNDS):
                t0 = time.monotonic()
                corpus_ops.q_corpus_select(spark, pipe_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                record("pipeline_corpus_select", time.monotonic() - t0)
            timings["pipeline_corpus_select"] = round(
                best["pipeline_corpus_select"], 3
            )
            extra["pipeline_docs"] = pipe_docs
        spark.stop()
        # same-window ceiling AFTER the timed section (a throttle that
        # started mid-run shows up as pre/post divergence)
        extra["cpu_probe_post"] = _cpu_probe()
        extra["walls"] = walls

        if scaling:
            n_scale = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "400000"))
            extra["scaling"] = run_scaling("", n_scale, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = round(sum(v for v in timings.values()), 3)
    return {
        "metric": "index-build + BM25 top-10 + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extra,
    }


def run_scaling(pages_path: str, n_pages: int, work: str) -> dict:
    """Delegates to tools/scaling_campaign.py — the ONE scaling
    methodology (taskset-pinned N-core hosts, -XX:ActiveProcessorCount,
    interleaved best-of-K, same-window cpu_probe normalization; see
    BASELINE.md "Methodology fix"). ``pages_path``/``work`` are ignored
    (the campaign generates its own deterministic corpus of n_pages)."""
    import json as _json
    import subprocess
    import sys as _sys

    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tools", "scaling_campaign.py")
    try:
        r = subprocess.run(
            [_sys.executable, script, "--docs", str(n_pages), "--reps", "3"],
            capture_output=True, text=True, timeout=3 * 3600,
        )
        return _json.loads(r.stdout.strip().splitlines()[-1])
    except Exception as e:  # never break the one-JSON-line contract
        return {"error": str(e)[:500]}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--scaling", action="store_true")
    args = p.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    result = run_bench(sf_dir, cpus, args.scaling)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
