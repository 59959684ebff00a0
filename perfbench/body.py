"""One benchmark run inside the environment run.py prepared.

Drives the engine through its public functions, closed loop with one client
thread, times every call with tracing off (or records spans with --trace 1),
checks every timed result against oracle/engine.py on the same corpus state
outside the timed sections, and writes the run record as JSON to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import workload as wl
from stats import summary
from spans import Tracer

from search_engine_spark.functions import compression
from search_engine_spark.functions.text import (
    extract_fields_series,
    normalize_series,
    normalize_text,
)
from search_engine_spark.operators import index_build as ib
from search_engine_spark.operators.query import (
    SearchIndex,
    search,
    search_many,
    search_uncompacted,
)
from search_engine_spark.oracle import engine as oracle
from search_engine_spark.session import get_spark
from search_engine_spark.sources.pages import VOCAB, generate_pages_pandas
from search_engine_spark.streaming import incremental as inc

WORKLOADS = {
    # workload -> (query class, ingest batch recrawls base URLs)
    "hot_append": (wl.HOT, False),
    "cold_recrawl": (wl.COLD, True),
}
K = 10
# The batch is timed this many times and its median reported: one call of
# about a second reads up to a quarter apart from run to run on a shared
# 4-core host. search_many keeps no result cache, so every call runs the
# whole plan; later calls reuse the code Spark generated for the first.
BATCH_CALLS = 3
MB = 1e6


def parquet_bytes(*roots: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for root in roots
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def rows_of(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


class Checks:
    """Counts operations attempted and failed (raised, or disagreed with
    the oracle); keeps the first few failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(what)

    def run(self, what: str, fn):
        """Call fn, counting one attempt; a raise counts one failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def compare(self, what: str, got, want) -> None:
        """A result already counted by run(); a mismatch counts a failure."""
        if got is not None and got != want:
            self.fail(f"{what}: engine {got[:3]}... != oracle {want[:3]}...")


def timed(tracer: Tracer, name: str, fn, request: str | None = None):
    """-> (fn(), wall seconds) with fn run inside a span."""
    t0 = time.perf_counter()
    with tracer.span(name, request):
        out = fn()
    return out, time.perf_counter() - t0


def or_texts(queries: list[wl.Query]) -> dict[int, str]:
    """The unweighted OR queries of ``queries``, as search_many takes them."""
    return {i: q.text for i, q in enumerate(queries)
            if q.mode == "OR" and q.field_weights is None}


def run_batch(chk: Checks, what: str, qs: dict[int, str], fn):
    """fn() -> (search_many rows, wall s). A raise fails every query of the
    batch -> (None, wall s)."""
    t0 = time.perf_counter()
    try:
        return fn()
    except Exception:
        chk.attempted += len(qs)
        chk.fail(f"{what}: {traceback.format_exc(limit=3)}", len(qs))
        return None, time.perf_counter() - t0


def check_batch(chk: Checks, what: str, qs: dict[int, str], rows, base_oracle) -> None:
    """Each query of a search_many result against the oracle, one attempt
    each (a call that raised was counted by run_batch)."""
    if rows is None:
        return
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    for qid, text in qs.items():
        chk.attempted += 1
        chk.compare(f"{what} {qid}", got.get(qid, []), oracle.search(base_oracle, text, K))


def run_query(tracer: Tracer, idx, q: wl.Query, rid: str, fresh: bool = False):
    """One top-k query: plan (the search call, including any theta job) then
    exec (collect). -> (rows, wall s, bound terms or None)."""
    prefix = "query.fresh" if fresh else "query"
    fn = search_uncompacted if fresh else search
    bound = None
    t0 = time.perf_counter()
    with tracer.span(prefix, rid):
        if tracer.enabled and not fresh:
            with tracer.span("query.bind"):
                bound = idx.bind_terms(q.text)
        with tracer.span(f"{prefix}.plan"):
            df = fn(idx, q.text, k=K, mode=q.mode, field_weights=q.field_weights)
        with tracer.span(f"{prefix}.exec"):
            rows = rows_of(df.collect())
    return rows, time.perf_counter() - t0, bound


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    klass, recrawl = WORKLOADS[args.workload]
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    chk = Checks()
    props: dict = {"query_class": klass}

    # ---- set-up: corpus generation, session, base build, open, warm-up
    t0 = time.perf_counter()
    pages_pdf = generate_pages_pandas(wl.corpus_ids(args.seed))
    t_gen = time.perf_counter() - t0

    # the oracle and the query stream come from the same generated corpus
    # (untimed, not set-up: the engine never sees them)
    base_oracle = oracle.build_index(pages_pdf)
    term_df = {t: base_oracle.term_df[i] for t, i in base_oracle.lexicon.items()}
    words = wl.word_terms(VOCAB, normalize_text)
    stream = wl.query_stream(args.seed, klass, words, term_df, n_cycles=wl.N_CYCLES + 1)
    # one more cycle is held back: its 2-term OR query warms up search(),
    # its unweighted OR queries warm up search_many (the first call of a
    # process takes about twice as long as the next, and a single timed
    # batch would measure mostly that), its 3-term OR query is the fresh
    # query; the rest is the stream
    last = stream[-len(wl.SHAPES):]
    warm_qs = [last[wl.SHAPES.index((2, "OR", None))]]
    warm_batch_qs = or_texts(last)
    fresh_qs = [last[wl.SHAPES.index((3, "OR", None))]]
    stream = stream[: -len(wl.SHAPES)]

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext if args.trace else None)
    paths = ib.IndexPaths(f"{args.work}/index")
    build_params = dict(
        n_salts=wl.N_SALTS, salt_threshold=wl.SALT_THRESHOLD, n_barrels=wl.N_BARRELS
    )
    with tracer.span("setup", "setup"):
        def write_corpus():
            os.makedirs(f"{args.work}/pages")
            pq.write_table(pa.Table.from_pandas(pages_pdf, preserve_index=False),
                           f"{args.work}/pages/part-0.parquet", coerce_timestamps="us")
            return spark.read.parquet(f"{args.work}/pages")

        pages, t_write = timed(tracer, "setup.corpus", write_corpus)
        build_info, t_build = timed(
            tracer, "setup.build",
            lambda: ib.build_index(spark, pages, paths, **build_params),
        )
        idx, t_open = timed(tracer, "query.open", lambda: SearchIndex(spark, paths))
        t0 = time.perf_counter()
        warm = [chk.run("warm-up", lambda: run_query(tracer, idx, q, "warmup"))
                for q in warm_qs]
        warm_batch_rows, _ = run_batch(chk, "warm-up search_many", warm_batch_qs, lambda: timed(
            tracer, "setup.warm_batch", lambda: search_many(idx, warm_batch_qs, k=K).collect()))
        t_warm = time.perf_counter() - t0
    setup = {
        "session_s": t_session, "corpus_s": t_gen + t_write, "build_s": t_build,
        "open_s": t_open, "warmup_s": t_warm,
    }
    checks_base = [("warm-up", q, r) for q, r in zip(warm_qs, warm)]
    index_bytes = parquet_bytes(paths.postings, paths.lexicon, paths.doc_stats, paths.hot_bounds)

    # ---- closed-loop query stream: the reference set (hot) and N_CYCLES
    # whole shape cycles, whatever the clock says
    lat: list[float] = []
    bounds: list[dict] = []
    for i, q in enumerate(stream):
        rid = f"q{i}"
        res = chk.run(rid, lambda: run_query(tracer, idx, q, rid))
        checks_base.append((rid, q, res))
        if res is not None:
            lat.append(res[1])
            if res[2] is not None:
                bounds.append(res[2])
    walls = {"query_s": lat}

    # ---- batch: search_many over the stream's unweighted OR queries,
    # BATCH_CALLS times
    batch_qs = or_texts(stream)

    def batch():
        with tracer.span("query.batch.plan"):
            df = search_many(idx, batch_qs, k=K)
        with tracer.span("query.batch.exec"):
            return df.collect()

    batch_runs = [
        run_batch(chk, "search_many", batch_qs,
                  lambda: timed(tracer, "query.batch", batch, f"batch{r}"))
        for r in range(BATCH_CALLS)
    ]
    walls["batch_s"] = [w for rows, w in batch_runs if rows is not None]

    # the plan each stream query ran (untimed): search() runs WAND theta
    # for OR queries of more than one bound term, from the driver sketch,
    # plus a distributed rarest-term pass when the rarest term is not hot
    plans = {"no_theta": 0, "sketch_theta": 0, "distributed_theta": 0}
    for q in stream:
        b = idx.bind_terms(q.text)
        if len(b) > 1 and q.mode == "OR":
            rarest = min(b, key=lambda t: (b[t]["df"], t))
            plans["sketch_theta" if rarest in idx.hot_bounds else "distributed_theta"] += 1
        else:
            plans["no_theta"] += 1

    # ---- traced run only: ingest, fresh queries, compaction, build split,
    # kernels (an untraced run has no time left for them on a 4-core host)
    layer: dict[str, float] = {}
    if tracer.enabled:
        layer.update(maintain(spark, tracer, chk, idx, paths, pages_pdf, fresh_qs,
                              recrawl, args.seed, props))
        layer.update(build_split(spark, tracer, pages, f"{args.work}/split", build_params))
        layer.update(kernels(pages_pdf, base_oracle, paths, stream, bounds))

    # ---- oracle checks (untimed): base state, then base + batch (latest wins)
    for rid, q, res in checks_base:
        if res is not None:
            chk.compare(rid, res[0], oracle.search(
                base_oracle, q.text, K, q.mode, q.field_weights))
    check_batch(chk, "warm-up batch", warm_batch_qs, warm_batch_rows, base_oracle)
    for r, (rows, _) in enumerate(batch_runs):
        check_batch(chk, f"batch{r}", batch_qs, rows, base_oracle)

    # ---- workload properties
    def terms(q):
        return {t for t in normalize_text(q.text).split(" ") if t}

    n_hot = sum(wl.query_class(list(terms(q)), term_df) == wl.HOT for q in stream)
    props.update(
        queries=len(stream),
        hot_share=n_hot / len(stream),
        cold_share=1 - n_hot / len(stream),
        **{f"{plan}_share": n / len(stream) for plan, n in plans.items()},
        postings_per_query=statistics.median(
            sum(term_df.get(t, 0) for t in terms(q)) for q in stream
        ),
        rarest_df_median=statistics.median(
            min(term_df.get(t, 0) for t in terms(q)) for q in stream
        ),
        batch_queries=len(batch_qs),
        hot_terms=len(idx.hot_bounds),
        n_docs=build_info["n_docs"],
    )

    text_bytes = int(
        pages_pdf.loc[pages_pdf["lang"] == "en", "text"].str.encode("utf-8").str.len().sum()
    )
    e2e = {
        "setup_s": (sum(setup.values()), "s"),
        "build_docs_per_s": (build_info["n_docs"] / t_build, "docs/s"),
        "index_bytes_per_text_byte": (index_bytes / text_bytes, "B/B"),
        "query_p50_ms": (statistics.median(lat) * 1000 if lat else None, "ms"),
        "batch_queries_per_s": (
            len(batch_qs) / statistics.median(walls["batch_s"]) if walls["batch_s"] else None,
            "1/s"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": chk.attempted, "failed": chk.failed, "errors": chk.errors,
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "setup": setup,
        "timings": {k: summary(v) for k, v in walls.items()},
        "walls": walls,
        "properties": props,
        "build": {k: build_info[k] for k in ("n_docs", "avgdl", "n_barrels")},
        "sizes": {"index_bytes": index_bytes, "text_bytes": text_bytes},
    }
    if tracer.enabled:
        tracer.collect_job_counts()
    spark.stop()
    if tracer.enabled:
        tracer.add_event_log(args.event_log)
        layer.update(layers_from_spans(tracer, bounds))
        record["layers"] = layer
        covered = [sp for sp in tracer.spans if sp.name in COVERED and tracer.children(sp)]
        record["span_coverage"] = {
            name: min(tracer.coverage(sp) for sp in covered if sp.name == name)
            for name in {sp.name for sp in covered}
        }
        record["spark"] = {
            key: sum(sp.counts.get(key, 0) for sp in tracer.spans)
            for key in ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes")
        }
        tracer.dump(args.out.replace(".json", "-spans.json"))
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=float)


def maintain(spark, tracer: Tracer, chk: Checks, idx, paths, pages_pdf, fresh_qs,
             recrawl: bool, seed: int, props: dict) -> dict:
    """Ingest one micro-batch, query base + delta, compact, refresh, query
    the compacted index; checks the fresh and compacted results against the
    oracle over the union corpus (latest version per URL)."""
    bt = wl.ingest_batch(seed, pages_pdf, generate_pages_pandas, recrawl)
    batch_df = spark.createDataFrame(bt.pages)
    ingest = chk.run("ingest", lambda: timed(
        tracer, "incremental.ingest",
        lambda: inc.apply_incremental_batch(spark, batch_df, paths, "b1"), "ingest",
    ))
    batch_dirs = [
        f"{inc.delta_dir(paths)}/batch=b1",
        f"{inc.doc_stats_delta_dir(paths)}/batch=b1",
        f"{inc.lexicon_delta_dir(paths)}/batch=b1",
        f"{inc.tombstones_dir(paths)}/batch=b1",
    ]
    layer = {"incremental.delta_bytes_per_page": parquet_bytes(*batch_dirs) / len(bt.pages)}
    # barrels compaction rewrites: those the delta reaches, or all of them
    # once a changed recrawl left tombstones (full merge)
    affected = list(range(wl.N_BARRELS)) if bt.changed_recrawls else sorted(
        int(d.split("=")[1]) for d in os.listdir(batch_dirs[0]) if d.startswith("barrel=")
    )
    checked = []
    for i, q in enumerate(fresh_qs):
        rid = f"fresh{i}"
        checked.append((rid, q, chk.run(
            rid, lambda: run_query(tracer, idx, q, rid, fresh=True))))
    fresh_walls = [r[1] for _, _, r in checked if r is not None]
    cinfo = chk.run("compact", lambda: timed(
        tracer, "incremental.compact", lambda: inc.compact(spark, paths), "compact"))
    if cinfo is not None:
        idx, layer["query.refresh_s"] = timed(tracer, "query.refresh", idx.refresh, "refresh")
        layer["incremental.compact_s"] = cinfo[1]
        layer["incremental.compact.barrels_rewritten"] = cinfo[0]["compacted_barrels"]
        layer["incremental.compact.rewritten_mb"] = parquet_bytes(
            *[f"{paths.postings}/barrel={b}" for b in affected]) / MB
        q = fresh_qs[0]
        checked.append(("compacted", q, chk.run(
            "compacted", lambda: run_query(tracer, idx, q, "compacted"))))
    if ingest is not None:
        layer["incremental.ingest_pages_per_s"] = len(bt.pages) / ingest[1]
        n_en = int((bt.pages["lang"] == "en").sum())
        info = ingest[0]
        if (info["new_docs"], info["tombstoned"]) != (n_en, bt.changed_recrawls):
            chk.fail(f"ingest reported {info}, expected {n_en} new, "
                     f"{bt.changed_recrawls} tombstoned")
    if fresh_walls:
        layer["query.fresh_ms"] = statistics.median(fresh_walls) * 1000
    union_oracle = oracle.build_index(wl.union_pages(pages_pdf, bt))
    for rid, q, res in checked:
        if res is not None:
            chk.compare(rid, res[0], oracle.search(
                union_oracle, q.text, K, q.mode, q.field_weights))
    props.update(
        pending_batches_at_fresh=[1] * len(fresh_qs),
        batch_pages=len(bt.pages),
        batch_new_share=bt.new_pages / len(bt.pages),
        batch_unchanged_recrawl_share=bt.unchanged_recrawls / len(bt.pages),
        batch_changed_recrawl_share=bt.changed_recrawls / len(bt.pages),
        barrels_affected=len(affected),
        full_merge=bool(cinfo and cinfo[0].get("full_merge")),
    )
    return layer


# spans whose children split all of the work they time
COVERED = ("query", "query.fresh", "query.batch", "index_build", "setup")


def build_split(spark, tracer: Tracer, pages, root: str, params: dict) -> dict:
    """Re-run build_index's steps in its order, materializing each output
    under its own span, into a separate index directory."""
    out = ib.IndexPaths(root)
    t = {}
    with tracer.span("index_build", "build-split"):
        def step(name, fn):
            r, t[name] = timed(tracer, f"index_build.{name}", fn)
            return r

        docs = ib.normalize_pages(pages)
        docs.cache()
        step("normalize", docs.count)

        def doc_stats():
            ib.build_doc_stats(docs).write.mode("overwrite").parquet(out.doc_stats)
            ds = spark.read.parquet(out.doc_stats)
            ib.write_scalar_parquet(out.stats_base, ib.STATS_BASE_SCHEMA, ib.corpus_totals(ds))
            return ds

        ds = step("doc_stats", doc_stats)
        forward = ib.build_forward(docs, with_positions=False)
        forward.cache()
        step("forward", forward.count)

        def lexicon():
            ib.build_lexicon(forward, 32).write.mode("overwrite").parquet(out.lexicon)
            return spark.read.parquet(out.lexicon)

        lex = step("lexicon", lexicon)
        step("postings", lambda: ib.build_postings(
            forward, lex, ds, params["n_salts"], params["salt_threshold"], params["n_barrels"],
        ).write.mode("overwrite").partitionBy("barrel").parquet(out.postings))
        step("hot_bounds", lambda: ib.build_hot_bounds(
            ib.read_postings(spark, out.postings), params["salt_threshold"],
        ).write.mode("overwrite").parquet(out.hot_bounds))
        docs.unpersist()
        forward.unpersist()
    layer = {f"index_build.{k}_s": v for k, v in t.items()}
    layer["index_build.lexicon_terms"] = spark.read.parquet(out.lexicon).count()
    layer["index_build.hot_terms"] = spark.read.parquet(out.hot_bounds).count()
    layer["index_build.postings_mb"] = parquet_bytes(out.postings) / MB
    shutil.rmtree(root, ignore_errors=True)
    return layer


def _rate(fn, unit_fn, min_s: float = 0.3) -> float:
    """Units per second of fn, repeated for at least min_s."""
    units, t0 = 0.0, time.perf_counter()
    while True:
        units += unit_fn(fn())
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return units / dt


def kernels(pages_pdf, base_oracle, paths, stream, bounds) -> dict:
    """In-process rates of the text and compression kernels the build and
    the query decode run inside their Spark tasks."""
    html = pages_pdf["html"].iloc[:1000]

    def normalize():
        body, _title = extract_fields_series(html)
        normalize_series(body)
        return len(html)

    terms = {t for q in stream for t in normalize_text(q.text).split(" ") if t}
    lists = [base_oracle.postings[base_oracle.lexicon[t]] for t in sorted(terms)
             if t in base_oracle.lexicon]
    tids = sorted({tid for b in bounds for tid in b})  # engine term ids

    def encode():
        return sum(
            len(e["doc_deltas"]) + len(e["tfs"]) + len(e["dls"])
            for e in (compression.encode_posting_blocks(d, t, l, t1, dl1s=d1)
                      for d, t, l, t1, d1 in lists)
        )

    # the barrel rows the stream probes, read straight from parquet
    rows = pq.read_table(
        paths.postings, filters=[("term_id", "in", tids)] if tids else None,
        columns=["doc_deltas", "tfs", "dls", "db_lens", "tf_lens", "dl_lens", "codec"],
    ).to_pylist()

    def decode():
        for r in rows:
            compression.decode_posting_blocks(
                r["doc_deltas"], r["tfs"], r["dls"], r["db_lens"], r["tf_lens"],
                r["dl_lens"], codec=r["codec"],
            )
        return sum(len(r["doc_deltas"]) + len(r["tfs"]) + len(r["dls"]) for r in rows)

    return {
        "text.normalize_docs_per_s": _rate(normalize, float),
        "compression.encode_mb_per_s": _rate(encode, lambda b: b / MB),
        "compression.decode_mb_per_s": _rate(decode, lambda b: b / MB),
    }


def layers_from_spans(tracer: Tracer, bounds: list[dict]) -> dict:
    def named(name):
        return [s for s in tracer.spans if s.name == name]

    def inclusive(sp, key):
        return sp.counts.get(key, 0) + sum(inclusive(c, key) for c in tracer.children(sp))

    def child_ms(parents, name):
        return statistics.median(
            c.wall * 1000 for p in parents for c in tracer.children(p) if c.name == name)

    out = {}
    for step in ("normalize", "doc_stats", "forward", "lexicon", "postings", "hot_bounds"):
        (sp,) = named(f"index_build.{step}")
        out[f"index_build.{step}_jobs"] = inclusive(sp, "jobs")
        if step in ("lexicon", "postings"):
            out[f"index_build.{step}_shuffle_mb"] = inclusive(sp, "shuffle_write_bytes") / MB
    stream = [s for s in named("query") if s.request not in ("warmup", "compacted")]
    for part in ("bind", "plan", "exec"):
        out[f"query.{part}_ms"] = child_ms(stream, f"query.{part}")
    out["query.jobs"] = statistics.median(inclusive(s, "jobs") for s in stream)
    out["query.tasks"] = statistics.median(inclusive(s, "tasks") for s in stream)
    out["query.postings"] = statistics.median(sum(b["df"] for b in bd.values()) for bd in bounds)
    batches = named("query.batch")
    out["query.batch.plan_s"] = child_ms(batches, "query.batch.plan") / 1000
    out["query.batch.exec_s"] = child_ms(batches, "query.batch.exec") / 1000
    out["query.batch.jobs"] = statistics.median(inclusive(b, "jobs") for b in batches)
    out["query.open_s"] = named("query.open")[0].wall
    (ingest,) = named("incremental.ingest")
    out["incremental.ingest_s"] = ingest.wall
    out["incremental.ingest_jobs"] = inclusive(ingest, "jobs")
    fresh = named("query.fresh")
    for part in ("plan", "exec"):
        out[f"query.fresh.{part}_ms"] = child_ms(fresh, f"query.fresh.{part}")
    out["query.fresh.jobs"] = statistics.median(inclusive(s, "jobs") for s in fresh)
    out["incremental.compact.jobs"] = inclusive(named("incremental.compact")[0], "jobs")
    out["trace.span_coverage"] = min(
        tracer.coverage(s) for s in tracer.spans if s.name in COVERED and tracer.children(s))
    return out


if __name__ == "__main__":
    main()
