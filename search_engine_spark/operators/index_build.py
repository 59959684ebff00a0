"""Inverted-index build: the Spark-first re-expression of the reference's
offline chain (SURVEY.md §3.2 — cleaner -> lexicon -> forward -> inverted ->
barrels, /root/reference/backend/utils/{cleaner,create_parallel_lexicon,
create_forward_index,create_inverted_index,barrel_manager}.py).

Shape (north rule): partition-parallel map (extract+tokenize pandas UDF) ->
tf aggregation -> global lexicon with dense sorted term IDs ->
repartition-by-(term,salt) shuffle -> sortWithinPartitions ->
batched per-partition compress (mapInArrow) -> barrel-partitioned parquet. The reference's driver-side
reduce bottleneck (create_inverted_index.py:95-161) is exactly what the
shuffle replaces.

Scale notes (10^12 docs / 1000 executors):
- No driver-side loops over data. The driver collects the corpus stats
  scalars and, up to LOCAL_LEXICON_MAX_ROWS terms, the per-term stats it
  numbers into the lexicon (the same table a query handle keeps resident).
- Doc IDs are deterministic md5-derived (no coordination — hashing.py).
- Larger lexicons get dense term IDs from two-phase range-partitioned
  assignment (per-partition counts + offsets), not a single-reducer
  row_number (SURVEY.md §7 "Global dense term IDs at scale").
- Hot-term skew: terms with df > salt_threshold are split into
  salt = pmod(doc_id, n_salts) sub-lists, so no single task encodes a
  full Zipf-head posting list (SURVEY.md §4 item 2).
- Barrels: barrel = pmod(term_id, n_barrels) — hash, not range, so a
  lexical hot range can't hotspot one partition; parquet
  partitionBy("barrel") gives partition pruning on query probes
  (the Iceberg bucket(N, term_id) equivalent; storage module is isolated
  here so an Iceberg catalog can be dropped in).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from search_engine_spark.functions.compression import THETA_K
from search_engine_spark.functions.hashing import DOC_ID_HEX_CHARS
from search_engine_spark.functions.text import (
    extract_fields_series,
    extract_series,
    normalize_series,
)

K1 = 1.2
B = 0.75

# ---------------------------------------------------------------------------
# columns / UDFs


def doc_id_col(url: str = "url"):
    """Deterministic 60-bit doc id, fully JVM-side (see hashing.py)."""
    return F.conv(F.substring(F.md5(F.col(url)), 1, DOC_ID_HEX_CHARS), 16, 10).cast(
        "long"
    )


def _extract_normalize_iter(html: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in html:
        yield normalize_series(extract_series(s))


def _extract_iter(html: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in html:
        yield extract_series(s)


def _normalize_iter(text: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in text:
        yield normalize_series(s)


def extract_normalize_udf(col):
    """html binary -> normalized token string (Arrow-vectorized; iterator
    form so regex tables are reused across batches). Call-time factory —
    pandas_udf needs an active session to parse the return type."""
    return F.pandas_udf(_extract_normalize_iter, "string")(col)


def extract_udf(col):
    return F.pandas_udf(_extract_iter, "string")(col)


def _extract_normalize_fields_fn(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(url, html) -> (url, norm, title_dl) in ONE Arrow pass.

    mapInPandas, NOT a struct-returning pandas_udf: Catalyst collapses
    the two struct-field projections into TWO copies of the UDF
    expression, silently doubling the extraction cost (measured 2.2 s vs
    1.1 s on 50k pages) — mapInPandas evaluates once by construction.

    Because the <title> is the first text extract_text emits, norm(doc) =
    norm(title) ++ " " ++ norm(body): title_dl (the normalized title
    token count) is the per-doc FIELD BOUNDARY inside norm — the fields
    channel of the reference forward index (create_forward_index.py:47-49)
    as a prefix rule, with per-posting title-tf = |positions < title_dl|."""
    for pdf in batches:
        body, title = extract_fields_series(pdf["html"])  # one decode pass
        norm = normalize_series(body)
        tnorm = normalize_series(title).astype("string")
        # vectorized token count: single-space-joined tokens -> spaces+1
        title_dl = (
            (tnorm.str.count(" ") + 1).where(tnorm != "", 0).astype("int32")
        )
        yield pd.DataFrame(
            {"url": pdf["url"], "norm": norm, "title_dl": title_dl}
        )


def normalize_udf(col):
    return F.pandas_udf(_normalize_iter, "string")(col)


def tokens_col(norm: str = "norm"):
    """Normalized string -> array of tokens ('' -> empty array)."""
    return F.when(F.col(norm) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.col(norm), " ")
    )


# ---------------------------------------------------------------------------
# stages


def load_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def normalize_pages(pages: DataFrame) -> DataFrame:
    """pages -> docs(doc_id, url, norm, title_dl). Filters to lang='en'
    (FIXTURES.md §1). Predicate + projection push down to the scan.
    title_dl = normalized <title> token count — the field boundary within
    norm (title tokens are norm's prefix; extract_title_normalize_udf)."""
    return (
        pages.filter(F.col("lang") == "en")
        .select("url", "html")
        .mapInPandas(
            _extract_normalize_fields_fn,
            schema="url string, norm string, title_dl int",
        )
        .select(doc_id_col("url").alias("doc_id"), "url", "norm", "title_dl")
    )


def build_doc_stats(docs: DataFrame) -> DataFrame:
    """doc_stats(doc_id, url, dl, fp) — dl = token count (BM25 length
    norm), fp = md5 content fingerprint of the normalized text AND the
    title field boundary. fp is what lets incremental compaction
    distinguish an identical re-ingest (collapse) from a CHANGED page
    under the same url (tombstone the old postings —
    streaming/incremental.py). The boundary is part of the fingerprint
    because a page whose <title> moved tokens across the field boundary
    has identical norm but different per-posting tf1 — skipping the
    tombstone would leave stale field channels. FIXTURES.md §2."""
    boundary = (
        F.col("title_dl") if "title_dl" in docs.columns else F.lit(0)
    )
    dl = F.size(tokens_col("norm"))
    return docs.select(
        "doc_id", "url", dl.alias("dl"),
        # dl1 = TITLE-field length (capped by dl: a constant positional
        # boundary can exceed a short doc) — the true-BM25F per-field
        # length-norm input; total_dl1 feeds avgdl1 in the stats
        F.least(dl, boundary.cast("int")).alias("dl1"),
        F.md5(
            F.concat_ws("|", F.col("norm"), boundary.cast("string"))
        ).alias("fp"),
    )


def build_forward(docs: DataFrame, with_positions: bool = True) -> DataFrame:
    """Forward index (doc_id, term, tf, tf1[, positions], first_pos, dl)
    — SURVEY.md §2.4 A5 (create_forward_index.py:36-49), computed
    ENTIRELY map-side in one Arrow pass: per-(doc, term) aggregation is a
    within-document operation, so a (doc_id, term) groupBy would shuffle
    millions of already-unique rows just to confirm they are unique.
    Round 1 paid that exchange (posexplode + partial/final hash agg); at
    100 TB it is a full-corpus shuffle that moves nothing anywhere — the
    pandas groupby inside the UDF produces the identical rows with ZERO
    exchanges. The downstream shuffles that remain (lexicon groupBy(term),
    postings repartition(term_id, salt)) are the ones that genuinely
    relocate data.

    tf1 is the TITLE-FIELD tf (positions < the doc's title_dl boundary) —
    the per-field channel of the reference forward index
    (create_forward_index.py:47-49 field_matches). Docs without a
    title_dl column get tf1 = 0 (single-field corpus).

    with_positions=True adds the per-(doc,term) ascending positions list
    (phrase/position features); skipping it avoids materializing the
    widest column.

    dl (doc token count) rides along (constant per doc) — this keeps
    build_postings free of a forward ⋈ doc_stats shuffle join just to
    fetch the BM25 length norm."""
    has_fields = "title_dl" in docs.columns
    cols = ["doc_id", "norm"] + (["title_dl"] if has_fields else [])

    def fwd_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["norm"].str.split(" ")
            lens = np.array(
                [0 if (len(t) == 1 and t[0] == "") else len(t) for t in toks],
                dtype=np.int64,
            )
            n_docs = len(pdf)
            doc_ids = pdf["doc_id"].to_numpy()
            tdl = (
                pdf["title_dl"].to_numpy()
                if has_fields
                else np.zeros(n_docs, dtype=np.int64)
            )
            flat_terms = np.concatenate(
                [np.asarray(t, dtype=object) for t, n in zip(toks, lens) if n]
            ) if lens.sum() else np.empty(0, dtype=object)
            doc_rep = np.repeat(np.arange(n_docs), lens)
            pos = np.arange(len(flat_terms)) - np.repeat(
                np.concatenate(([0], np.cumsum(lens)[:-1])), lens
            )
            g = pd.DataFrame(
                {
                    "d": doc_rep,
                    "term": flat_terms,
                    "pos": pos,
                    "in_title": (pos < tdl[doc_rep]).astype(np.int32),
                }
            )
            if with_positions:
                grouped = g.groupby(["d", "term"], sort=False).agg(
                    tf=("pos", "count"),
                    first_pos=("pos", "min"),
                    tf1=("in_title", "sum"),
                    positions=("pos", lambda x: x.to_list()),
                )
            else:
                grouped = g.groupby(["d", "term"], sort=False).agg(
                    tf=("pos", "count"),
                    first_pos=("pos", "min"),
                    tf1=("in_title", "sum"),
                )
            grouped = grouped.reset_index()
            d_idx = grouped["d"].to_numpy()
            out = {
                "doc_id": doc_ids[d_idx],
                "term": grouped["term"].to_numpy(),
                "tf": grouped["tf"].to_numpy().astype(np.int32),
                "tf1": grouped["tf1"].to_numpy().astype(np.int32),
                "first_pos": grouped["first_pos"].to_numpy().astype(np.int32),
                "dl": lens[d_idx],
                # title-field length per doc (capped by dl) — constant per
                # doc, denormalized like dl so the BM25F per-field norm
                # needs no doc_stats join downstream
                "dl1": np.minimum(lens, tdl.astype(np.int64))[d_idx],
            }
            if with_positions:
                out["positions"] = grouped["positions"].to_numpy()
                yield pd.DataFrame(out)[
                    ["doc_id", "term", "tf", "tf1", "positions",
                     "first_pos", "dl", "dl1"]
                ]
            else:
                yield pd.DataFrame(out)

    schema = "doc_id long, term string, tf int, tf1 int, "
    if with_positions:
        schema += "positions array<int>, "
    schema += "first_pos int, dl long, dl1 long"
    return docs.select(*cols).mapInPandas(fwd_fn, schema=schema)


def assign_dense_ids(
    df: DataFrame, key: str, id_name: str, num_partitions: int = 32
) -> DataFrame:
    """Dense 0-based IDs in sorted-key order WITHOUT a single-reducer
    row_number: range-partition by key, sort within partitions, then add
    per-partition offsets (the zipWithIndex pattern; SURVEY.md §2.5 W2).
    Semantically identical to `enumerate(sorted(keys))`
    (create_parallel_lexicon.py:84). Costs ~8 jobs, so it numbers only
    what the driver cannot: build_lexicon's lexicons above
    LOCAL_LEXICON_MAX_ROWS and ingest's new-term extensions."""
    parted = df.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(
        key
    )
    # cache: the count pass and the id pass must see the IDENTICAL range
    # partitioning (repartitionByRange samples boundaries per evaluation)
    with_pid = parted.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = f"{key} string, {id_name} long"

    def add_ids(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = offsets[pid] + local
            yield pd.DataFrame(
                {
                    key: pdf[key].to_numpy(),
                    id_name: np.arange(base, base + len(pdf), dtype=np.int64),
                }
            )
            local += len(pdf)

    # eagerly materialize via localCheckpoint so (a) the sampled range
    # partitioning can never be re-evaluated differently and (b) the
    # staging cache can be released immediately (persist() otherwise leaks
    # for the session — one pinned dataset per build/ingest batch)
    ids = with_pid.mapInPandas(add_ids, schema=out_schema).localCheckpoint(
        eager=True
    )
    with_pid.unpersist()
    return ids


# Largest lexicon held in the driver: build_lexicon numbers lexicons up
# to this size there, and SearchIndex keeps them resident for binding.
LOCAL_LEXICON_MAX_ROWS = 2_000_000

LEXICON_SCHEMA = (
    "term string, term_id long, df long, cf long, max_tf long, min_dl long"
)


def build_lexicon(forward: DataFrame, num_partitions: int = 32) -> DataFrame:
    """lexicon(term, term_id, df, cf, max_tf, min_dl) — FIXTURES.md §2;
    dense IDs in term order (UTF-8 bytes, Spark's string order). df/cf
    are the per-term stats BM25 IDF needs (SURVEY.md §2.4 A8); (max_tf,
    min_dl) is the term-level WAND upper bound input, kept here so query
    planning needs NO probe-metadata aggregation job — the bound comes
    with the term binding.

    The per-term stats are collected ONCE (limit(N+1).toArrow(), N =
    LOCAL_LEXICON_MAX_ROWS). When they fit, the driver sorts and numbers
    them — the reference's enumerate(sorted(keys))
    (create_parallel_lexicon.py:84) — and returns them as an
    Arrow-backed DataFrame. Only a larger lexicon pays assign_dense_ids'
    range-partitioned numbering (~8 jobs)."""
    import pyarrow as pa

    stats = forward.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.max("tf").cast("long").alias("max_tf"),
        F.min("dl").cast("long").alias("min_dl"),
    )
    spark = forward.sparkSession
    n_max = LOCAL_LEXICON_MAX_ROWS
    if n_max:
        # one job: adaptive execution would run the aggregate's shuffle
        # map stage as a job of its own, and re-planning a collect of at
        # most N+1 rows buys nothing (800-page corpus on a 4-core host:
        # 0.35-0.47 s vs 0.57-0.73 s)
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            tbl = stats.limit(n_max + 1).toArrow()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        if tbl.num_rows <= n_max:
            # Arrow orders strings by their UTF-8 bytes, as Spark does
            tbl = tbl.sort_by("term")
            lex = pa.table(
                {
                    "term": tbl.column("term"),
                    "term_id": pa.array(np.arange(tbl.num_rows), pa.int64()),
                    **{c: tbl.column(c) for c in ("df", "cf", "max_tf", "min_dl")},
                },
                schema=arrow_schema(LEXICON_SCHEMA),
            )
            # one partition, so the lexicon is written as ONE file: each
            # file becomes a scan partition of every later lexicon join,
            # and ingest's join of a small batch against a 4-file lexicon
            # wrote 4 delta files per barrel (delta bytes/page +75%)
            return spark.createDataFrame(lex, LEXICON_SCHEMA).coalesce(1)
    ids = assign_dense_ids(
        stats.select("term"), "term", "term_id", num_partitions
    )
    return ids.join(stats, "term")


def corpus_totals(doc_stats: DataFrame) -> tuple[int, int, int]:
    """(N, total_dl, total_dl1) as exact ints — the additive form
    incremental ingest needs (base scalars + per-batch delta sums, no
    full rescan). total_dl1 (title-field length sum, the true-BM25F
    avgdl1 numerator) is 0 for doc_stats tables predating the dl1
    column."""
    dl1 = (
        F.sum("dl1") if "dl1" in doc_stats.columns else F.lit(0).cast("long")
    )
    row = doc_stats.agg(
        F.count("*").alias("n"), F.sum("dl").alias("total"),
        dl1.alias("total1"),
    ).collect()[0]
    return int(row["n"]), int(row["total"] or 0), int(row["total1"] or 0)


STATS_BASE_SCHEMA = "n_docs long, total_dl long, total_dl1 long"
STATS_SCHEMA = (
    "n_docs long, avgdl double, avgdl1 double, avgdlb double, "
    "n_salts int, salt_threshold long, n_barrels int, codec int"
)


def field_avgdls(n_docs: int, total_dl: int, total_dl1: int) -> tuple[float, float]:
    """(avgdl1, avgdlb) from exact int totals — the per-field corpus
    averages the true-BM25F norm divides by (oracle-bit-equal float64)."""
    if not n_docs:
        return 0.0, 0.0
    return float(total_dl1) / n_docs, float(total_dl - total_dl1) / n_docs


def idf_value(df: int, n_docs: int) -> float:
    """BM25 idf — math.log everywhere (engine, encoder, oracle) so block-max
    bounds and query scores use the identical float (SURVEY.md §7 'WAND
    correctness')."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


# the columns a blob DECODE actually consumes (query-side adds the
# block-max metadata; weighted mode adds the tf1 stream) — shared by the
# Arrow-boundary prune lists in operators/query.py and
# streaming/incremental.py so a future stream addition cannot miss one
DECODE_BASE_COLS = [
    "term_id", "codec", "db_lens", "tf_lens", "dl_lens",
    "doc_deltas", "tfs", "dls",
]
DECODE_BOUND_COLS = ["block_max_tf", "block_min_dl"]
# the field channel a WEIGHTED (true-BM25F) decode consumes: title tf
# stream + title doc-length stream
DECODE_TF1_COLS = ["tf1_lens", "tf1s", "dl1_lens", "dls1"]
# weighted block bounds: per-field maxima/minima for the BM25F upper bound
DECODE_FIELD_BOUND_COLS = ["block_max_tf1", "block_min_dl1", "block_min_dlb"]

POSTINGS_SCHEMA = (
    "term_id long, salt int, df long, n_docs int, max_tf long, min_dl long, "
    "block_max_tf array<long>, block_min_dl array<long>, block_max_tf1 array<long>, "
    "block_min_dl1 array<long>, block_min_dlb array<long>, "
    "db_lens array<long>, tf_lens array<long>, dl_lens array<long>, "
    "tf1_lens array<long>, dl1_lens array<long>, "
    "theta_docs array<long>, theta_tfs array<long>, theta_dls array<long>, "
    "theta_tf1s array<long>, theta_dl1s array<long>, "
    "doc_deltas binary, tfs binary, dls binary, tf1s binary, dls1 binary, "
    "codec int"
)


def build_postings(
    forward: DataFrame,
    lexicon: DataFrame,
    doc_stats: DataFrame | None = None,
    n_salts: int = 8,
    salt_threshold: int = 50_000,
    n_barrels: int = 64,
    codec: int | str = "varint",
) -> DataFrame:
    """Compressed, salted, barrel-partitioned posting lists.

    forward (which carries dl, see build_forward) ⋈ lexicon (term→term_id,
    df), salt hot terms, then ONE shuffle groups each (term_id, salt) for
    numpy encoding. The term join is left to AQE: at test scale the
    lexicon auto-broadcasts; at web scale (10^8+ distinct terms) it
    becomes a shuffle join co-partitioned on term — the same exchange the
    encode shuffle needs, so no extra pass. The in-group np.argsort is the
    sortWithinPartitions(term_id, doc_id) merge step — postings come out
    docID-sorted, the precondition for delta compression (SURVEY.md §2.6
    O5). doc_stats is accepted for API compatibility but only consulted if
    forward lacks a dl column.

    Block metadata is the monotone (max_tf, min_dl) pair per 128-posting
    block (compression.block_summaries) — no global stats enter the encode,
    so barrels never go stale when the corpus grows incrementally."""
    joined = postings_input(forward, lexicon, doc_stats, n_salts, salt_threshold)
    return encode_postings(joined, n_barrels, codec=codec)


def postings_input(
    forward: DataFrame,
    lexicon: DataFrame,
    doc_stats: DataFrame | None = None,
    n_salts: int = 8,
    salt_threshold: int = 50_000,
) -> DataFrame:
    """The pre-encode posting rows (term_id, df, doc_id, tf, dl, salt).
    Exposed so the resumable barrel-group driver can filter by barrel
    BELOW the encode shuffle — filtering encode_postings' output would
    re-run the whole shuffle + compression per group (the mapInPandas
    stage is opaque to Catalyst, so the barrel predicate cannot be pushed
    through it)."""
    lex = lexicon.select("term", "term_id", "df")
    tf1 = (
        F.col("tf1") if "tf1" in forward.columns else F.lit(0).cast("int")
    ).alias("tf1")
    dl1 = (
        F.col("dl1") if "dl1" in forward.columns else F.lit(0).cast("long")
    ).alias("dl1")
    if "dl" in forward.columns:
        fwd = forward.select("doc_id", "term", "tf", tf1, "dl", dl1)
    else:
        if doc_stats is None:
            raise ValueError("forward lacks dl and no doc_stats given")
        fwd = forward.select("doc_id", "term", "tf", tf1, dl1).join(
            doc_stats.select("doc_id", "dl"), "doc_id"
        )
    return (
        fwd
        .join(lex, "term")
        .select(
            "term_id", "df", "doc_id", "tf", "tf1", "dl", "dl1",
            salt_col(n_salts, salt_threshold),
        )
    )


def salt_col(n_salts: int, salt_threshold: int):
    """Hot-term skew salt (SURVEY.md §4 item 2): Zipf-head terms (df >
    threshold) split across n_salts sub-lists keyed by doc_id, so no
    single task encodes a full head posting list; cold terms keep salt=0
    (one blob, no query-side merge cost)."""
    return (
        F.when(F.col("df") > salt_threshold, F.pmod("doc_id", F.lit(n_salts)))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("salt")
    )


def encode_postings(
    joined: DataFrame, n_barrels: int = 64, codec: int | str = "varint"
) -> DataFrame:
    """(term_id, df, doc_id, tf, tf1, dl, dl1, salt) rows -> compressed
    blob rows (POSTINGS_SCHEMA + barrel). Shared by the batch build, the
    resumable build and the incremental compactor
    (streaming/incremental.py). ``codec`` picks the stream compression per
    the north rule's varint/PForDelta pair; the id is stamped on every
    row so mixed-codec barrels (an old varint base compacted by a
    pfor-configured writer, or vice versa) decode correctly row by row.

    One shuffle co-locating each (term_id, salt) group, sorted so groups
    are contiguous AND postings are already doc_id-ordered (the
    sortWithinPartitions(term_id, doc_id) merge, SURVEY.md §2.6 O5).
    Encoding then runs per Arrow batch via mapInArrow: ONE
    compression.encode_posting_groups call encodes every group the batch
    completes, and the group still open at the batch's end is carried
    into the next batch. With Zipf vocabularies most groups are
    singletons, so a per-group encode call (~400 µs of numpy dispatch
    each) used to dominate the build: 10.7k groups of the 6,000-page
    bench corpus took 5.0 s of CPU that way, 0.15 s batched."""
    import pyarrow as pa

    from search_engine_spark.functions.compression import (
        GROUP_COLS,
        codec_id,
        encode_posting_groups,
        group_starts,
    )

    cid = codec_id(codec)
    parted = joined.select(*_ENCODE_IN_COLS).repartition(
        "term_id", "salt"
    ).sortWithinPartitions("term_id", "salt", "doc_id")

    def encode(rows: dict[str, np.ndarray], starts: np.ndarray) -> pa.RecordBatch:
        enc = encode_posting_groups(
            starts, rows["doc_id"], rows["tf"], rows["dl"], rows["tf1"],
            rows["dl1"], cid,
        )
        head = {
            "term_id": pa.array(rows["term_id"][starts], pa.int64()),
            "salt": pa.array(rows["salt"][starts], pa.int32()),
            "df": pa.array(rows["df"][starts], pa.int64()),
            "codec": pa.array(np.full(len(starts), cid), pa.int32()),
        }
        return pa.RecordBatch.from_arrays(
            [head[c] if c in head else enc[c] for c in _POSTINGS_COLS], _POSTINGS_COLS
        )

    def encode_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        tail: dict[str, np.ndarray] | None = None  # group open at batch end
        for batch in batches:
            rows = {
                c: batch.column(c).to_numpy(zero_copy_only=False)
                for c in _ENCODE_IN_COLS
            }
            if tail is not None:
                rows = {c: np.concatenate((tail[c], rows[c])) for c in rows}
            starts = group_starts(rows["term_id"], rows["salt"])
            if len(starts) < 2:  # one (possibly open) group so far
                tail = rows
                continue
            cut = int(starts[-1])  # the last group may continue
            tail = {c: v[cut:] for c, v in rows.items()}
            yield encode({c: v[:cut] for c, v in rows.items()}, starts[:-1])
        if tail is not None and len(tail["term_id"]):
            yield encode(tail, group_starts(tail["term_id"], tail["salt"]))

    postings = parted.mapInArrow(encode_partition, schema=POSTINGS_SCHEMA)
    return postings.withColumn(
        "barrel", F.pmod("term_id", F.lit(n_barrels)).cast("int")
    )


_ENCODE_IN_COLS = ["term_id", "salt", "df", "doc_id", "tf", "tf1", "dl", "dl1"]
_POSTINGS_COLS = [c.strip().split(" ")[0] for c in POSTINGS_SCHEMA.split(",")]


# ---------------------------------------------------------------------------
# full build


@dataclass
class IndexPaths:
    root: str

    @property
    def lexicon(self) -> str:
        return f"{self.root}/lexicon"

    @property
    def doc_stats(self) -> str:
        return f"{self.root}/doc_stats"

    @property
    def postings(self) -> str:
        return f"{self.root}/postings"

    @property
    def stats(self) -> str:
        return f"{self.root}/stats"

    @property
    def hot_bounds(self) -> str:
        return f"{self.root}/hot_bounds"

    @property
    def positions(self) -> str:
        return f"{self.root}/positions"

    @property
    def stats_base(self) -> str:
        return f"{self.root}/stats_base"

    @property
    def manifest(self) -> str:
        return f"{self.root}/_build_manifest"

    @property
    def epoch(self) -> str:
        return f"{self.root}/_epoch"

    @property
    def spell(self) -> str:
        return f"{self.root}/spell"

    @property
    def spell_meta(self) -> str:
        return f"{self.root}/_spell_meta.json"


def read_epoch(paths: IndexPaths) -> int:
    """Index rewrite counter: 0 for a fresh build (no file), bumped by
    compact(). SearchIndex validates it per query so a live handle can
    never serve stale cached lexicon/theta metadata after a compaction."""
    import os

    if not os.path.exists(paths.epoch):
        return 0
    with open(paths.epoch) as f:
        return int(f.read().strip() or 0)


def bump_epoch(paths: IndexPaths) -> int:
    cur = read_epoch(paths) + 1
    tmp = f"{paths.epoch}.tmp"
    with open(tmp, "w") as f:
        f.write(str(cur))
    import os

    os.replace(tmp, paths.epoch)
    return cur


SPELL_MAX_DIST = 2  # deletion-neighborhood depth of the spell artifact


def spell_deletions(word: str, d: int) -> set[str]:
    """All strings reachable from ``word`` by deleting up to ``d``
    characters (including word itself) — the SymSpell key set. A word of
    length L yields 1 + L + L·(L−1)/2 keys at d=2; the set is generated
    breadth-first so duplicates collapse level by level."""
    out = {word}
    frontier = {word}
    for _ in range(d):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                nxt.add(w[:i] + w[i + 1 :])
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


def build_spell_index(
    spark: SparkSession, paths: IndexPaths, max_dist: int = SPELL_MAX_DIST
) -> int:
    """SymSpell deletion-neighborhood spelling-correction artifact
    (PLANS.md's documented upgrade from the length-banded lexicon scan;
    VERDICT r3 #7): one row per (delkey, term) where delkey ∈
    spell_deletions(term, max_dist), carrying (term_id, df) so the
    correction query never touches the lexicon. Query time generates the
    MISSPELLING's deletion set driver-side (≤ ~500 keys at d=2) and
    probes this table with a pushed-down IN filter — the SymSpell
    guarantee (lev(w, t) ≤ d ⇒ the deletion neighborhoods intersect)
    makes the probe lossless; the thresholded-levenshtein verify drops
    the delkey-collision false positives.

    Scale shape: the table is term-count × ~56 rows at d=2 (a 10^9-term
    web lexicon → ~5.6·10^10 short rows), hash-repartitioned and SORTED
    by delkey inside each file so the IN probe prunes at parquet
    row-group stats — the per-query read is a few hundred point ranges,
    vs the previous full length-band lexicon scan per OOV token.

    Derived data, rebuildable: _spell_meta.json records (max_dist,
    epoch); correct_term uses the table only when the recorded epoch
    matches the open index (a compaction invalidates it — rebuild after
    compact, or the query transparently falls back to the band scan).
    Returns the number of (delkey, term) rows written."""
    import json
    import os

    lex = spark.read.parquet(paths.lexicon).select("term", "term_id", "df")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            terms: list[str] = []
            tids: list[int] = []
            dfs: list[int] = []
            for term, tid, df in zip(
                pdf["term"], pdf["term_id"], pdf["df"]
            ):
                for kx in spell_deletions(term, max_dist):
                    keys.append(kx)
                    terms.append(term)
                    tids.append(int(tid))
                    dfs.append(int(df))
            yield pd.DataFrame(
                {
                    "delkey": keys,
                    "term": terms,
                    "term_id": tids,
                    "df": dfs,
                }
            )

    spell = lex.mapInPandas(
        gen, schema="delkey string, term string, term_id long, df long"
    )
    (
        spell.repartition("delkey")
        .sortWithinPartitions("delkey")
        .write.mode("overwrite")
        .parquet(paths.spell)
    )
    n = spark.read.parquet(paths.spell).count()
    meta = {"max_dist": max_dist, "epoch": read_epoch(paths), "rows": n}
    tmp = f"{paths.spell_meta}.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, paths.spell_meta)
    return n


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out: IndexPaths,
    n_salts: int = 8,
    salt_threshold: int = 50_000,
    n_barrels: int = 64,
    id_partitions: int = 32,
    with_positions: bool = False,
    codec: int | str = "varint",
) -> dict:
    """One-shot (non-resumable) build from raw pages; the resumable
    barrel-group driver is plans/build_job.py. Returns summary stats.
    with_positions=True also writes the positional index (phrase queries
    — query.search_phrase) at the cost of carrying position arrays
    through the forward shuffle. ``codec``: posting stream compression
    ("varint" | "pfor"), recorded in stats so compaction preserves it."""
    return build_index_from_docs(
        spark, normalize_pages(pages), out, n_salts, salt_threshold,
        n_barrels, id_partitions, with_positions, codec,
    )


def build_index_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    out: IndexPaths,
    n_salts: int = 8,
    salt_threshold: int = 50_000,
    n_barrels: int = 64,
    id_partitions: int = 32,
    with_positions: bool = False,
    codec: int | str = "varint",
) -> dict:
    """build_index's steps over already-normalized docs (doc_id, url,
    norm, title_dl): doc_stats + stats_base → lexicon → postings →
    hot_bounds → positions → stats."""
    docs.cache()
    doc_stats = build_doc_stats(docs)
    doc_stats.write.mode("overwrite").parquet(out.doc_stats)
    doc_stats = read_parquet(spark, out.doc_stats)
    n_docs, total_dl, total_dl1 = corpus_totals(doc_stats)
    avgdl = float(total_dl) / n_docs if n_docs else 0.0
    avgdl1, avgdlb = field_avgdls(n_docs, total_dl, total_dl1)
    write_scalar_parquet(
        out.stats_base, STATS_BASE_SCHEMA, (n_docs, total_dl, total_dl1)
    )

    forward = build_forward(docs, with_positions=with_positions)
    forward.cache()
    lexicon = build_lexicon(forward, id_partitions)
    lexicon.write.mode("overwrite").parquet(out.lexicon)
    lexicon = read_parquet(spark, out.lexicon)

    postings = build_postings(
        forward, lexicon, doc_stats,
        n_salts, salt_threshold, n_barrels, codec=codec,
    )
    postings.write.mode("overwrite").partitionBy("barrel").parquet(out.postings)

    hb = build_hot_bounds(read_postings(spark, out.postings), salt_threshold)
    hb.write.mode("overwrite").parquet(out.hot_bounds)

    if with_positions:
        build_positions(forward, lexicon, n_barrels).write.mode(
            "overwrite"
        ).partitionBy("barrel").parquet(out.positions)

    from search_engine_spark.functions.compression import codec_id

    write_scalar_parquet(
        out.stats,
        STATS_SCHEMA,
        (n_docs, avgdl, avgdl1, avgdlb, n_salts, salt_threshold, n_barrels,
         codec_id(codec)),
    )
    docs.unpersist()
    forward.unpersist()
    return {"n_docs": n_docs, "avgdl": avgdl, "n_barrels": n_barrels}


def build_positions(
    forward: DataFrame, lexicon: DataFrame, n_barrels: int = 64
) -> DataFrame:
    """Positional index (term_id, doc_id, n_pos, pos_blob, barrel) — the
    reference stores positions in its forward/inverted index
    (create_forward_index.py:38-47, create_inverted_index.py:86-91); this
    table makes them queryable (query.search_phrase). Positions are
    post-stopword-removal token indices, barrel-partitioned like the
    postings so phrase probes prune identically.

    Storage: delta+varint blob per (term, doc) via
    compression.encode_position_lists — positions are small ascending
    ints, so most deltas fit one byte (vs parquet's 4-byte int leaves),
    cutting the phrase-index bytes on disk AND over the shuffle. The
    decode is one Arrow pass in search_phrase before the JVM adjacency
    joins."""
    import numpy as np

    rows = (
        forward.select("doc_id", "term", "positions")
        .join(lexicon.select("term", "term_id"), "term")
        .select(
            "term_id",
            "doc_id",
            "positions",
            F.pmod("term_id", F.lit(n_barrels)).cast("int").alias("barrel"),
        )
    )
    from search_engine_spark.functions.compression import encode_position_lists

    def compress(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lists = [np.asarray(p, dtype=np.int64) for p in pdf["positions"]]
            yield pd.DataFrame(
                {
                    "term_id": pdf["term_id"].to_numpy(),
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_pos": np.array([len(p) for p in lists], dtype=np.int32),
                    "pos_blob": encode_position_lists(lists),
                    "barrel": pdf["barrel"].to_numpy(),
                }
            )

    return rows.mapInPandas(
        compress,
        schema="term_id long, doc_id long, n_pos int, pos_blob binary, barrel int",
    )


def build_hot_bounds(
    postings: DataFrame, salt_threshold: int, theta_k: int = THETA_K
) -> DataFrame:
    """hot_bounds(term_id, docs, tfs, dls): the merged theta sketch for
    HOT (salted) terms — up to theta_k real postings per term ranked
    (tf desc, dl asc) across salt shards. Tiny metadata aggregate: reads
    only the theta_* columns (parquet column pruning), rows = hot terms.

    Hot terms are exactly where the distributed theta pass is expensive
    (their posting lists are the Zipf head); the sketch moves that pass
    to the driver. Cold terms keep the cheap distributed pass — their
    lists are bounded by salt_threshold.

    The field channel (tf1, dl1) rides along so weighted queries get a
    driver theta too."""
    pairs = (
        postings.filter(F.col("df") > salt_threshold)
        .select(
            "term_id",
            F.explode(
                F.arrays_zip(
                    F.col("theta_docs").alias("doc"),
                    F.col("theta_tfs").alias("tf"),
                    F.col("theta_dls").alias("dl"),
                    F.col("theta_tf1s").alias("tf1"),
                    F.col("theta_dl1s").alias("dl1"),
                )
            ).alias("p"),
        )
        .select("term_id", "p.doc", "p.tf", "p.dl", "p.tf1", "p.dl1")
    )
    w = Window.partitionBy("term_id").orderBy(F.desc("tf"), F.asc("dl"), F.asc("doc"))
    top = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= theta_k
    )
    # struct-collect + sort keeps the arrays ALIGNED (separate
    # collect_lists have no cross-column order guarantee)
    return (
        top.groupBy("term_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("rn", "doc", "tf", "dl", "tf1", "dl1"))
            ).alias("ps")
        )
        .select(
            "term_id",
            F.transform("ps", lambda p: p["doc"]).alias("docs"),
            F.transform("ps", lambda p: p["tf"]).alias("tfs"),
            F.transform("ps", lambda p: p["dl"]).alias("dls"),
            F.transform("ps", lambda p: p["tf1"]).alias("tf1s"),
            F.transform("ps", lambda p: p["dl1"]).alias("dl1s"),
        )
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the schema (hive partition columns
    included) taken from the footer pyarrow reads driver-side: Spark's
    own schema inference runs one job per read, and an index open reads
    three tables. The read stays lazy."""
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pads.dataset(path, format="parquet", partitioning="hive").schema
    return spark.read.schema(from_arrow_schema(schema)).parquet(path)


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    """Read a postings directory, tolerating the empty-corpus case: a
    partitionBy() write of 0 rows creates no data files, so there is no
    schema to read — fall back to an empty DataFrame with the canonical
    schema.

    The per-row ``codec`` id is normalized here: a pre-codec index has no
    such column (→ varint, 0) and a mixed compaction union may carry
    NULLs on untouched legacy rows (allowMissingColumns back-fill) — the
    decode paths always see a non-null int."""
    df = read_parquet(spark, path)
    if not df.columns:
        return spark.createDataFrame([], POSTINGS_SCHEMA + ", barrel int")
    if "codec" not in df.columns:
        return df.withColumn("codec", F.lit(0).cast("int"))
    return df.withColumn(
        "codec", F.coalesce(F.col("codec"), F.lit(0)).cast("int")
    )


def read_stats(spark: SparkSession, out: IndexPaths) -> dict:
    """The index's one-row stats table, read driver-side (no Spark job);
    ``spark`` is unused and kept for the (spark, paths) reader shape."""
    return read_scalar_parquet(out.stats)


_PA_TYPES = {
    "long": "int64", "double": "float64", "int": "int32", "string": "string",
}


def arrow_schema(ddl: str):
    """The pyarrow schema of a flat Spark DDL string ("a long, b double")
    — so driver-built Arrow tables carry the exact column types the
    equivalent Spark schema has."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(name, getattr(pa, _PA_TYPES[typ])())
            for name, typ in (c.strip().split(" ") for c in ddl.split(","))
        ]
    )


def read_scalar_parquet(path: str) -> dict:
    """Read a table written by write_scalar_parquet driver-side via
    pyarrow — no Spark job (a query-path read of stats_base would
    otherwise cost one)."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()[0]


def write_scalar_parquet(path: str, schema: str, row: tuple) -> None:
    """Write a ONE-ROW parquet table driver-side via pyarrow — no Spark
    job. The build/compact paths write several single-row metadata tables
    (stats, stats_base); as Spark jobs each costs ~0.5-1 s of pure
    scheduling+commit overhead, which is SERIAL time under Amdahl and was
    a measurable slice of the round-1 N→4N scaling gap. ``schema`` is the
    same Spark DDL string the previous createDataFrame(...) used, so
    readers see identical column types."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    sch = arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([v], type=f.type) for v, f in zip(row, sch)], schema=sch
    )
    import os

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-00000.parquet")
