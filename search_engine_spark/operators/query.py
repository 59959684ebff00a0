"""BM25 top-k query engine over the compressed barrel index.

Query lifecycle mirrors the reference (SURVEY.md §3.1,
/root/reference/backend/app.py:363-620):

  1. tokenize query with the SAME normalize pipeline (app.py:376-380)
  2. bind terms -> term_ids via lexicon; missing terms silently dropped
     (app.py:392-401)
  3. partition-pruned postings probe: parquet scan with
     barrel IN (...) AND term_id IN (...) — the Spark-native version of the
     reference's `termID // 20000` file arithmetic (app.py:567-572)
  4. Arrow decode + per-posting BM25 partial scores (numpy), with
     block-max WAND skipping (replaces MAX_DOCS_TO_PROCESS, app.py:73)
  5. groupBy(doc_id) ordered sum (union OR-semantics, app.py:594-617;
     AND-semantics intersection via term-count, SURVEY.md §2.3 J8)
  6. orderBy(score desc, doc_id asc).limit(k) — Catalyst compiles this to
     TakeOrderedAndProject, a distributed per-partition-heap top-k.

Steps 3-6 are ONE pipeline (_search) over a snapshot (_Snapshot): the
bound terms with their df and (max_tf, min_dl) bounds, N and the avgdls,
whether the hot-term sketches describe it, and — only while ingest deltas
are uncompacted — the latest-wins delta rows plus the superseded base doc
ids to anti-join. search() serves the BASE snapshot (cached lexicon, base
stats, sketches valid: zero Spark jobs to plan a hot-rarest query);
search_uncompacted() serves the UNION snapshot (base ∪ deltas, live
stats). search_phrase binds through the same binder (_bind).

Two serving paths run that pipeline, chosen per query from what the
driver already holds (no Spark job decides):

  * DRIVER-LOCAL — the snapshot has no delta rows, there is no doc_ids
    filter, and the bound terms' lexicon df sums to at most
    _LOCAL_MAX_POSTINGS. Steps 3-6 run in the driver: the same pruned
    (barrel, term_id) rows read through a pyarrow dataset (_read_probe),
    the same decode kernel (_decode_score), theta rule and per-doc sum
    order in numpy (_local_topk), returned as an Arrow-backed
    LocalRelation — the query launches no Spark job. The reference
    serves this way too: a resident lexicon plus barrel reads
    (backend/utils/barrel_manager.py).
  * DISTRIBUTED — everything else (pending deltas, doc_ids filters,
    probes above the gate): step 3 is a Spark scan, step 4 a
    mapInPandas of the same _decode_score, steps 5-6 _sum_topk.

The gate sits below the measured break-even (PLANS.md, Query engine):
locally ~40 ms of fixed cost plus 0.5-1.8 us per posting, against
0.6-1.2 s of Spark scheduling before the distributed plan decodes its
first posting. search_many and search_phrase stay distributed.

Float discipline: per-posting scores are computed in numpy float64 via the
single canonical expression (compression.bm25_score == oracle.bm25_contrib
shape), idf via math.log on both sides, and the per-doc sum is evaluated in
SORTED-TERM-STRING order via aggregate(sort_array(collect_list(...))) — a
build-independent order (term_ids shift across incremental builds), equal
to the oracle's ascending-term_id order since oracle ids are term-sorted.

WAND threshold (theta): a SAFE lower bound of the final kth score — the
kth-largest achieved score of the driver-side hot-term sketches, and/or
the kth-largest single-term score among the rarest (lowest-df) query
term's scored rows, computed as a distributed TakeOrdered pass (no blobs
on the driver). Any block b of term t with block_max(b) + sum_{t' != t}
max_score(t') < theta cannot contain a top-k doc: such a doc's total
upper bound sits below theta ≤ the true kth score, so neither dropping
its t-contribution nor its (under-)scored appearance via other terms can
change the top-k set or its scores — asserted against exhaustive scoring
in tests/test_wand.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.functions.compression import (
    bm25_score,
    bm25f_score,
    decode_posting_blocks,
)
from search_engine_spark.operators.index_build import (
    B,
    DECODE_BASE_COLS,
    DECODE_BOUND_COLS,
    DECODE_FIELD_BOUND_COLS,
    DECODE_TF1_COLS,
    K1,
    LOCAL_LEXICON_MAX_ROWS,
    IndexPaths,
    arrow_schema,
    idf_value,
    read_parquet,
    read_postings,
    read_stats,
)
from search_engine_spark.functions.text import normalize_text

# Driver-local serving gate: a base-snapshot query without a doc_ids
# filter whose bound terms' df sums to at most this many postings is
# read with pyarrow and scored in the driver (no Spark job). Below the
# local-vs-distributed break-even, which lies above the largest probe
# measured (1.1M postings; PLANS.md, Query engine); the gate also bounds
# the driver's per-query work (400k postings: 33 MB peak of Python/numpy
# allocations, 0.2-0.7 s of one core).
_LOCAL_MAX_POSTINGS = 500_000
_RESULT_DDL = "doc_id long, score double"
_QUANTUM6 = Decimal("0.000001")


class SearchIndex:
    """Handle on a built index: lazily-loaded lexicon slice per query.

    ``local_lexicon_max_rows``: if the lexicon fits under this row count
    it is collected ONCE into a driver dict, making term binding free (no
    Spark job per query) — the reference keeps its whole lexicon resident
    the same way (app.py:228). At web scale (10^8+ terms) set 0: binding
    falls back to a pushed-down IN-filter scan, which is one cheap job."""

    def __init__(
        self,
        spark: SparkSession,
        paths: IndexPaths,
        local_lexicon_max_rows: int = LOCAL_LEXICON_MAX_ROWS,
    ):
        self.spark = spark
        self.paths = paths
        self._local_lexicon_max_rows = local_lexicon_max_rows
        from search_engine_spark.operators.index_build import read_epoch
        from search_engine_spark.streaming.incremental import recover_pending

        # roll forward a compaction whose journaled swap was interrupted
        # (crash-safe commit: the journal IS the snapshot pointer) — a
        # reader must never open a half-swapped index
        recover_pending(paths)
        self._open_epoch = read_epoch(paths)
        stats = read_stats(spark, paths)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        # per-field corpus averages for the true-BM25F length norm
        self.avgdl1 = float(stats["avgdl1"])
        self.avgdlb = float(stats["avgdlb"])
        self.n_barrels = int(stats["n_barrels"])
        self.lexicon = read_parquet(spark, paths.lexicon)
        self.postings = read_postings(spark, paths.postings)
        # the same barrels for driver-local serving (_read_probe), hive-
        # partitioned so both the barrel=B and resumable_build's
        # group=G/barrel=B layouts expose a barrel column; opened here so
        # refresh() re-lists the files a compaction rewrote
        self.postings_ds = pads.dataset(
            paths.postings, format="parquet", partitioning="hive"
        )
        self.doc_stats = read_parquet(spark, paths.doc_stats)
        # hot-term theta sketches (tiny: one row per SALTED term) — the
        # driver-side WAND threshold source for Zipf-head queries
        # Driver-memory cap: one tiny row (≤THETA_K postings) per HOT term;
        # hot terms are the Zipf head so their count grows ~log with the
        # corpus, but the cap bounds the worst case. An un-loaded hot term
        # degrades gracefully: _sketch_theta simply contributes nothing
        # for it (theta stays a valid lower bound) and search() falls back
        # to the distributed rarest-term pass when the rarest term has no
        # sketch.
        self.hot_bounds: dict[int, tuple] = {}
        max_hot_terms = 200_000
        if os.path.exists(paths.hot_bounds):
            hb = pads.dataset(paths.hot_bounds, format="parquet")
            for r in hb.head(max_hot_terms).to_pylist():
                self.hot_bounds[int(r["term_id"])] = (
                    np.asarray(r["docs"], dtype=np.int64),
                    np.asarray(r["tfs"], dtype=np.float64),
                    np.asarray(r["dls"], dtype=np.float64),
                    np.asarray(r["tf1s"], dtype=np.float64),
                    np.asarray(r["dl1s"], dtype=np.float64),
                )
        # the resident lexicon, sized from the parquet footers
        self._local_lexicon: dict[str, dict] | None = None
        lex = pads.dataset(paths.lexicon, format="parquet")
        if local_lexicon_max_rows and lex.count_rows() <= local_lexicon_max_rows:
            cols = lex.to_table(columns=_LEX_COLS).to_pydict()
            self._local_lexicon = {
                term: dict(zip(_LEX_COLS[1:], vals))
                for term, *vals in zip(*(cols[c] for c in _LEX_COLS))
            }

    @property
    def avgdls(self) -> tuple[float, float, float]:
        """Base-snapshot (avgdl, avgdl1, avgdlb)."""
        return self.avgdl, self.avgdl1, self.avgdlb

    def refresh(self) -> "SearchIndex":
        """Re-open after an incremental ingest/compaction changed the
        on-disk tables (the cached driver lexicon would otherwise be
        stale)."""
        return SearchIndex(
            self.spark, self.paths, self._local_lexicon_max_rows
        )

    def check_epoch(self) -> None:
        """Raise if compact() rewrote the index since this handle was
        opened: the cached lexicon / hot_bounds / term ids would be stale
        (WAND bounds could silently disagree with the rewritten barrels).
        One tiny local file read per query — no Spark job."""
        from search_engine_spark.operators.index_build import read_epoch

        current = read_epoch(self.paths)
        if current != self._open_epoch:
            raise ValueError(
                f"index epoch changed ({self._open_epoch} -> {current}): "
                "the index was compacted after this handle was opened; "
                "call refresh() for a fresh SearchIndex"
            )

    # -- step 1+2: query terms -> term ids (driver-side; lexicon probe is a
    # pushed-down IN filter, not a full scan)
    def bind_terms(self, query: str | list[str]) -> dict[int, dict]:
        """-> {term_id: {df, max_tf, min_dl}} for query terms in the
        lexicon. The (max_tf, min_dl) term bound rides along with the
        binding, so WAND needs no extra metadata job over the postings.

        A LIST argument is treated as ALREADY-NORMALIZED terms and looked
        up verbatim — the path search_corrected needs: lexicon terms are
        normalize outputs, and the lemmatizer is not idempotent (e.g.
        'embed' would re-stem), so re-normalizing a corrected term could
        silently un-bind it."""
        if isinstance(query, (list, tuple, set)):
            return _bind(self, sorted({t for t in query if t}))
        return _bind(self, _tokens(query))


_LEX_COLS = ["term", "term_id", "df", "max_tf", "min_dl"]


def _lex_entry(r) -> dict:
    return {c: int(r[c]) for c in _LEX_COLS[1:]}


def _tokens(query: str) -> list[str]:
    return sorted({t for t in normalize_text(query).split(" ") if t})


def _bind(
    index: SearchIndex, tokens: list[str], lexicon: DataFrame | None = None
) -> dict[int, dict]:
    """Sorted normalized tokens -> {term_id: {term, df, max_tf, min_dl}}
    for the tokens in ``lexicon`` (None: the base lexicon, served from the
    cached driver dict when it is resident; the union snapshot passes base
    ∪ delta extensions, where the cached dict would miss new terms). Other
    lexicons bind with one pushed-down IN-filter scan."""
    if not tokens:
        return {}
    if lexicon is None and index._local_lexicon is not None:
        hits = [(t, index._local_lexicon.get(t)) for t in tokens]
    else:
        lex = index.lexicon if lexicon is None else lexicon
        rows = lex.filter(F.col("term").isin(tokens)).select(*_LEX_COLS)
        hits = [(r["term"], _lex_entry(r)) for r in rows.collect()]
    return {
        e["term_id"]: {"term": t, **{c: e[c] for c in _LEX_COLS[2:]}}
        for t, e in hits
        if e is not None
    }


def _probe(index: SearchIndex, term_ids: list[int]) -> DataFrame:
    """Partition-pruned postings scan (barrel dirs + term_id row groups)."""
    barrels = sorted({tid % index.n_barrels for tid in term_ids})
    return index.postings.filter(
        F.col("barrel").isin(barrels) & F.col("term_id").isin(term_ids)
    )


def _decode_cols(field_weights: tuple[float, float] | None) -> list[str]:
    """The postings columns a blob decode consumes: the field channel and
    its block bounds only in BM25F mode."""
    cols = DECODE_BASE_COLS + DECODE_BOUND_COLS
    if field_weights is not None:
        cols = cols + DECODE_FIELD_BOUND_COLS + DECODE_TF1_COLS
    return cols


def _read_probe(
    index: SearchIndex,
    term_ids: list[int],
    field_weights: tuple[float, float] | None,
) -> pd.DataFrame:
    """Driver-side twin of _probe(): the same ``barrel IN … AND term_id IN
    …`` rows and decode columns, read through the pyarrow dataset, with a
    null codec coalesced to 0 (varint) as read_postings does."""
    import pyarrow.compute as pc

    ds = index.postings_ds
    barrels = sorted({tid % index.n_barrels for tid in term_ids})
    where = pads.field("barrel").isin(
        pa.array(barrels, ds.schema.field("barrel").type)
    ) & pads.field("term_id").isin(pa.array(term_ids, pa.int64()))
    table = ds.to_table(columns=_decode_cols(field_weights), filter=where)
    i = table.schema.get_field_index("codec")
    table = table.set_column(
        i, "codec", pc.fill_null(table["codec"], 0).cast(pa.int32())
    )
    return table.to_pandas()


def _norms(avgdls: tuple[float, float, float]) -> tuple[float, float, float]:
    """(avgdl, avgdl1, avgdlb) with zero per-field averages guarded to 1.0
    (field absent corpus-wide ⇒ its tf is identically 0; the guard
    prevents NaN, the same guard the oracle and the SQL apply)."""
    avgdl, avgdl1, avgdlb = avgdls
    return avgdl, avgdl1 or 1.0, avgdlb or 1.0


def _decode_score(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    theta: float,
    other_max: dict[int, float],
    ranks: dict[int, int],
    field_weights: tuple[float, float] | None,
    avgdls: tuple[float, float, float],
) -> pd.DataFrame:
    """Blob rows -> (doc_id, rank, score) per-posting partial scores with
    block-max skipping: the one decode kernel of both serving paths (the
    mapInPandas of _decode_score_df and the driver-local branch of
    _search), so their floats and skipped blocks are the same by
    construction. other_max[t] = sum of max_score over the OTHER query
    terms. ``avgdls`` = (avgdl, avgdl1, avgdlb) of the snapshot being
    served. ``ranks`` maps term_id -> the term's position in
    SORTED-BY-STRING query-term order — a build-independent key for the
    deterministic per-doc float sum (term_ids are NOT stable across
    incremental builds: new terms append at max_id+1, so summing in
    term_id order would diverge from a fresh build in the last ulp for
    3+-term queries).

    ``field_weights`` = (w_title, w_body) switches to TRUE BM25F
    (compression.bm25f_score): each field's tf is normalized by its own
    field length against the field's corpus average, then the weighted
    sum saturates once — the tf1 + dl1 streams decode only in this mode.
    The per-block upper bound uses the per-field extrema
    (block_max_tf1, block_min_dl1, block_min_dlb): tfn is increasing in
    each field tf and decreasing in each field length, so
    bm25f(max_tf1, max_tf, min_dl1, min_dlb) bounds every posting in the
    block (body tf ≤ tf, so block_max_tf bounds it)."""
    avgdl, avgdl1, avgdlb = _norms(avgdls)
    fw = field_weights
    out_doc, out_rank, out_score = [], [], []
    for row in pdf.itertuples(index=False):
        tid = int(row.term_id)
        cid = int(row.codec)
        idf = idfs[tid]
        # per-block upper bound from the monotone summaries, with
        # LIVE idf/avgdl — exact even after incremental updates
        # (compression.block_summaries)
        mt = np.asarray(row.block_max_tf, dtype=np.float64)
        md = np.asarray(row.block_min_dl, dtype=np.float64)
        if fw is not None:
            w_t, w_b = fw
            mt1 = np.asarray(row.block_max_tf1, dtype=np.float64)
            md1 = np.asarray(row.block_min_dl1, dtype=np.float64)
            mdb = np.asarray(row.block_min_dlb, dtype=np.float64)
            bm = bm25f_score(
                mt1, mt, md1, mdb, idf, w_t, w_b, avgdl1, avgdlb, K1, B,
            )
        else:
            bm = bm25_score(mt, md, idf, avgdl, K1, B)
        if theta > 0.0:
            # prune against theta RELAXED by the 6-dp rounding quantum:
            # the final top-k orders by round(score, 6), so a doc whose
            # raw total sits within 5e-7 below theta can round-TIE the
            # kth score and win the doc_id tiebreak — pruning it would
            # diverge from the oracle exactly at the tie boundaries the
            # rounded ordering was introduced to stabilize
            keep = bm + other_max.get(tid, 0.0) >= theta - 5e-7
            if not keep.any():
                continue
        else:
            keep = None  # decode all blocks
        # pruned blocks are never DECOMPRESSED — the per-block byte-length
        # tables make skipping pure offset arithmetic
        if fw is not None:
            d, t, l, t1, d1 = decode_posting_blocks(
                row.doc_deltas, row.tfs, row.dls,
                row.db_lens, row.tf_lens, row.dl_lens, keep,
                row.tf1s, row.tf1_lens, row.dls1, row.dl1_lens,
                codec=cid,
            )
            score = bm25f_score(
                t1, t - t1, d1, l - d1, idf, w_t, w_b, avgdl1, avgdlb, K1, B,
            )
        else:
            d, t, l = decode_posting_blocks(
                row.doc_deltas, row.tfs, row.dls,
                row.db_lens, row.tf_lens, row.dl_lens, keep,
                codec=cid,
            )
            score = bm25_score(t, l, idf, avgdl, K1, B)
        out_doc.append(d)
        out_rank.append(np.full(len(d), ranks[tid], dtype=np.int64))
        out_score.append(score)
    if not out_doc:
        return pd.DataFrame(
            {
                "doc_id": np.empty(0, np.int64),
                "rank": np.empty(0, np.int64),
                "score": np.empty(0, np.float64),
            }
        )
    return pd.DataFrame(
        {
            "doc_id": np.concatenate(out_doc),
            "rank": np.concatenate(out_rank),
            "score": np.concatenate(out_score),
        }
    )


def _decode_score_df(
    probe: DataFrame,
    idfs: dict[int, float],
    theta: float,
    other_max: dict[int, float],
    ranks: dict[int, int],
    field_weights: tuple[float, float] | None,
    avgdls: tuple[float, float, float],
) -> DataFrame:
    """mapInPandas of _decode_score over a postings probe ->
    (doc_id, rank, score)."""
    # column pruning BELOW the Arrow boundary: mapInPandas ships every
    # column of its input to Python, so an unpruned probe would transfer
    # the theta sketch arrays and (in unweighted mode) the field streams
    # for nothing — and the select also prunes the parquet scan itself
    probe = probe.select(*_decode_cols(field_weights))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _decode_score(
                pdf, idfs, theta, other_max, ranks, field_weights, avgdls
            )
            if len(out):
                yield out

    return probe.mapInPandas(decode, schema="doc_id long, rank long, score double")


def _sketch_theta(
    index: SearchIndex,
    term_ids: list[int],
    idfs: dict[int, float],
    k: int,
    field_weights: tuple[float, float] | None = None,
) -> float:
    """Driver-side theta from the hot-term sketches: accumulate ACHIEVED
    BM25 partial sums per doc over every query term's stored real
    postings (base idf/avgdl — the sketches describe the base snapshot
    only), take the kth largest. Zero Spark jobs.

    Safe: each stored (doc, tf, dl) is a real posting, so each per-doc
    sum is ≤ that doc's true total score; k distinct docs achieving
    ≥ theta ⇒ the true kth top-k score ≥ theta.

    With field_weights the achieved score uses the SAME true-BM25F
    per-field norm the decode scores with (the sketch stores the real
    (tf1, dl1) channel per posting)."""
    avgdl, avgdl1, avgdlb = _norms(index.avgdls)
    acc: dict[int, float] = {}
    for tid in term_ids:
        hb = index.hot_bounds.get(tid)
        if hb is None:
            continue
        d, tf, dl, tf1, dl1 = hb
        if field_weights is not None:
            w_t, w_b = field_weights
            score = bm25f_score(
                tf1, tf - tf1, dl1, dl - dl1, idfs[tid], w_t, w_b,
                avgdl1, avgdlb, K1, B,
            )
        else:
            score = bm25_score(tf, dl, idfs[tid], avgdl, K1, B)
        for doc, sc in zip(d.tolist(), score.tolist()):
            acc[doc] = acc.get(doc, 0.0) + sc
    if len(acc) < k:
        return 0.0
    import heapq

    return heapq.nlargest(k, acc.values())[-1]


def _score_rows(
    rows: DataFrame,
    idfs: dict[int, float],
    ranks: dict[int, int],
    field_weights: tuple[float, float] | None,
    avgdls: tuple[float, float, float],
) -> DataFrame:
    """Uncompressed delta posting rows -> (doc_id, rank, score) with the
    same numpy kernels and snapshot stats as the blob decode."""
    avgdl, avgdl1, avgdlb = _norms(avgdls)
    fw = field_weights
    cols = ["term_id", "doc_id", "tf", "dl"] + (
        ["tf1", "dl1"] if fw is not None else []
    )

    def score_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            idf = pdf["term_id"].map(idfs).to_numpy(dtype=np.float64)
            tf = pdf["tf"].to_numpy(dtype=np.float64)
            dl = pdf["dl"].to_numpy(dtype=np.float64)
            if fw is not None:
                w_t, w_b = fw
                t1 = pdf["tf1"].to_numpy(dtype=np.float64)
                d1 = pdf["dl1"].to_numpy(dtype=np.float64)
                score = bm25f_score(
                    t1, tf - t1, d1, dl - d1, idf, w_t, w_b,
                    avgdl1, avgdlb, K1, B,
                )
            else:
                score = bm25_score(tf, dl, idf, avgdl, K1, B)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "rank": pdf["term_id"].map(ranks).to_numpy(dtype=np.int64),
                    "score": score,
                }
            )

    return rows.select(*cols).mapInPandas(
        score_rows, schema="doc_id long, rank long, score double"
    )


def _term_bound(
    b: dict, idf: float, avgdl: float, field_weights: tuple[float, float] | None
) -> float:
    """Upper bound on one term's score in any doc, from the snapshot's
    (max_tf, min_dl) for it, scored with the snapshot's idf/avgdl (valid
    by BM25 monotonicity). A term with max_tf <= 0 has no postings: 0.0.

    Under true-BM25F weighting only max_tf is usable: with each field's
    normalizer floored at (1−b) and both field tfs ≤ max_tf,
    tfn ≤ (w_t + w_b)·max_tf/(1−b), and the saturated score is increasing
    in tfn. Looser than the per-block bound (which has real per-field
    extrema) — it only gates which BLOCKS get the tight check."""
    mt = float(b["max_tf"])
    if mt <= 0:
        return 0.0
    if field_weights is not None:
        w_t, w_b = field_weights
        tfn = (w_t + w_b) * mt / (1.0 - B)
        return idf * (tfn * (K1 + 1.0)) / (tfn + K1)
    md = np.array([float(b["min_dl"])])
    return float(bm25_score(np.array([mt]), md, idf, avgdl, K1, B)[0])


@dataclass
class _Snapshot:
    """What one term query is scored against. ``bound``: {term_id: {term,
    df, max_tf, min_dl}} with this snapshot's df and bounds; ``avgdls``:
    (avgdl, avgdl1, avgdlb); ``sketches``: the index's hot-term sketches
    describe this snapshot (base stats only). Only while ingest deltas
    are uncompacted: ``delta_rows`` (latest-wins uncompressed postings of
    the bound terms) and ``superseded`` (doc ids whose base postings are
    replaced or tombstoned)."""

    bound: dict[int, dict]
    n_docs: int
    avgdls: tuple[float, float, float]
    sketches: bool
    delta_rows: DataFrame | None = None
    superseded: DataFrame | None = None


def _search(
    index: SearchIndex,
    snap: _Snapshot,
    k: int,
    mode: str,
    use_wand: bool,
    field_weights: tuple[float, float] | None,
    doc_ids: DataFrame | None,
) -> DataFrame:
    """The BM25 term-query pipeline over one snapshot: idf from the
    snapshot df → per-term bounds → theta → decode (base blobs minus
    superseded docs, plus delta rows) → optional doc_ids semi-join →
    top-k.

    Serving path: a snapshot without delta rows, no doc_ids filter and
    at most _LOCAL_MAX_POSTINGS postings over the bound terms (lexicon
    df) runs DRIVER-LOCAL — _read_probe's pyarrow read, the same
    _decode_score kernel, theta and per-doc sum order in numpy
    (_local_topk), returned as an Arrow-backed LocalRelation: no Spark
    job. Everything else plans the distributed pipeline (mapInPandas
    decode, _sum_topk).

    Theta (multi-term OR with WAND only): the driver sketch when the
    sketches describe the snapshot and there is no doc_ids filter (the
    sketch ignores the filter, so its kth achieved score may exceed the
    kth FILTERED score and over-prune), plus the rarest-term pass over
    the snapshot's scored rows — filter applied — whenever the rarest
    term has no usable sketch. A cold rarest term's list is bounded by
    salt_threshold, so that pass is cheap and usually tighter."""
    bound = snap.bound
    if not bound:
        return _arrow_df(index.spark, _RESULT_DDL)
    term_ids = sorted(bound)
    idfs = {tid: idf_value(b["df"], snap.n_docs) for tid, b in bound.items()}
    # per-doc sum in SORTED-TERM-STRING order: matches the oracle (its ids
    # are sorted by term) and is identical across batch/incremental builds
    ranks = {
        tid: i
        for i, tid in enumerate(
            sorted(term_ids, key=lambda t: bound[t]["term"])
        )
    }
    local = (
        snap.delta_rows is None
        and doc_ids is None
        and sum(b["df"] for b in bound.values()) <= _LOCAL_MAX_POSTINGS
    )
    if local:
        blobs = _read_probe(index, term_ids, field_weights)

        def scored(tids, theta, other_max):
            pdf = blobs if tids == term_ids else blobs[
                blobs["term_id"].isin(tids)
            ]
            return _decode_score(
                pdf, idfs, theta, other_max, ranks, field_weights, snap.avgdls
            )

        def kth_score(tid: int) -> float | None:
            s = scored([tid], 0.0, {})["score"].to_numpy()
            if len(s) < k:
                return None
            return float(np.partition(s, len(s) - k)[len(s) - k])

    else:
        probe = _probe(index, term_ids)

        def scored(tids, theta, other_max):
            p = probe if tids == term_ids else probe.filter(
                F.col("term_id").isin(tids)
            )
            rows = _decode_score_df(
                p, idfs, theta, other_max, ranks, field_weights, snap.avgdls
            )
            if snap.delta_rows is not None:
                # latest version wins: base rows of re-ingested or
                # tombstoned docs drop out (broadcast anti-join on the
                # small delta doc set), their delta rows take their place
                delta = snap.delta_rows.filter(F.col("term_id").isin(tids))
                rows = rows.join(
                    F.broadcast(snap.superseded), "doc_id", "left_anti"
                ).unionByName(
                    _score_rows(delta, idfs, ranks, field_weights, snap.avgdls)
                )
            if doc_ids is not None:
                # metadata filter below the aggregation: pruned docs never
                # enter the per-doc sum or the top-k heaps
                rows = rows.join(
                    F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_semi"
                )
            return rows

        def kth_score(tid: int) -> float | None:
            # TakeOrderedAndProject — no posting blobs reach the driver
            top = (
                scored([tid], 0.0, {})
                .select("score")
                .orderBy(F.desc("score"))
                .limit(k)
                .collect()
            )
            return float(top[-1]["score"]) if len(top) == k else None

    theta = 0.0
    other_max: dict[int, float] = {}
    if use_wand and len(term_ids) > 1 and mode == "OR":
        maxes = {
            tid: _term_bound(
                bound[tid], idfs[tid], snap.avgdls[0], field_weights
            )
            for tid in term_ids
        }
        other_max = {
            tid: sum(v for t2, v in maxes.items() if t2 != tid)
            for tid in term_ids
        }
        rarest = min(term_ids, key=lambda t: (bound[t]["df"], t))
        sketch_ok = snap.sketches and doc_ids is None
        if sketch_ok:
            theta = _sketch_theta(index, term_ids, idfs, k, field_weights)
        if not (sketch_ok and rarest in index.hot_bounds):
            # kth-largest single-term score of the rarest term: k docs
            # achieve at least it and scores are non-negative, so it
            # lower-bounds the true kth total
            top = kth_score(rarest)
            if top is not None:
                theta = max(theta, top)
    parts = scored(term_ids, theta, other_max)
    if local:
        return _local_topk(index.spark, parts, len(term_ids), mode, k)
    return _sum_topk(parts, len(term_ids), mode, k)


def search(
    index: SearchIndex,
    query: str | list[str],
    k: int = 10,
    mode: str = "OR",
    use_wand: bool = True,
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
) -> DataFrame:
    """-> DataFrame(doc_id, score) top-k, ordered (score desc, doc_id asc).

    mode="OR": reference union semantics. mode="AND": posting-list
    intersection (north rule).

    field_weights=(w_title, w_body): TRUE BM25F scoring (Robertson/
    Zaragoza simple BM25F — compression.bm25f_score) over the postings'
    (tf1, dl1) field channel: each field's tf is normalized by its own
    field length against the field's corpus average, then the weighted
    sum saturates once. The reference scores every search with per-field
    weights (app.py:75-92,679-725); idf stays corpus-global (per the
    literature), mirrored by the declarative bm25f_topk oracle.

    doc_ids: optional DataFrame with a doc_id column — a metadata filter
    (reference app.py:407-497 composes location/class filters inside the
    query) applied as a broadcast semi-join BELOW scoring: filtered docs
    never enter the per-doc aggregation, and the WAND theta is estimated
    on the FILTERED candidate set (an unfiltered theta could over-prune).
    Term stats stay corpus-global, like the reference.

    Top-k ordering key is the 6-dp ROUNDED score (doc_id tiebreak) — the
    same key every declarative/DuckDB oracle orders by — while the
    returned ``score`` column stays the raw float64 (bit-equal to the
    single-node oracle). Ordering by the raw float would let two docs
    whose scores round equal straddle rank k differently across
    engines.

    Serves the BASE snapshot: between ingest and compact() the index's
    cached lexicon, base stats and hot-term sketches stay valid, so
    planning a hot-rarest query costs zero Spark jobs
    (search_uncompacted serves the union).

    Serving path: without doc_ids, a query whose bound terms' df sums to
    at most _LOCAL_MAX_POSTINGS is answered in the driver (pyarrow read,
    numpy scoring) and returned as an Arrow-backed LocalRelation — no
    Spark job at all, bit-equal to the distributed plan, which every
    other query gets (a lazy DataFrame, executed on collect)."""
    index.check_epoch()
    snap = _Snapshot(
        index.bind_terms(query), index.n_docs, index.avgdls, sketches=True
    )
    return _search(index, snap, k, mode, use_wand, field_weights, doc_ids)


def _sum_topk(scored: DataFrame, n_bound: int, mode: str, k: int) -> DataFrame:
    """(doc_id, rank, score) partials -> ordered top-k: per-doc sum in
    rank order (build-independent, oracle-bit-equal — see _search()),
    AND-mode term-count intersection, TakeOrderedAndProject on the 6-dp
    rounded key."""
    per_doc = scored.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("rank", "score"))).alias("parts")
    )
    total = per_doc.select(
        "doc_id",
        F.aggregate(
            "parts", F.lit(0.0), lambda acc, x: acc + x["score"]
        ).alias("score"),
        F.size("parts").alias("n_terms"),
    )
    if mode == "AND":
        total = total.filter(F.col("n_terms") == n_bound)
    return (
        total.select("doc_id", "score")
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
        .limit(k)
    )


def _local_topk(
    spark: SparkSession, parts: pd.DataFrame, n_bound: int, mode: str, k: int
) -> DataFrame:
    """_sum_topk in the driver, bit-equal by construction: each doc's
    partials summed in rank order from 0.0 (Spark's aggregate over the
    rank-sorted parts), AND-mode term-count intersection, then the top-k
    by (6-dp HALF_UP of the score, desc; doc_id asc) — F.round's key.
    Rounding is monotone and moves a score by at most 5e-7, so only docs
    within 1e-6 of the kth raw score can reach the top k: the exact
    Decimal key is computed for those alone."""
    docs, inv = np.unique(parts["doc_id"].to_numpy(), return_inverse=True)
    rank = parts["rank"].to_numpy()
    score = parts["score"].to_numpy()
    total = np.zeros(len(docs))
    for r in range(n_bound):
        sel = rank == r
        np.add.at(total, inv[sel], score[sel])
    if mode == "AND":
        full = np.bincount(inv, minlength=len(docs)) == n_bound
        docs, total = docs[full], total[full]
    if 0 < k < len(total):
        kth = np.partition(total, len(total) - k)[len(total) - k]
        near = total >= kth - 1e-6
        docs, total = docs[near], total[near]
    top = sorted(
        zip(docs.tolist(), total.tolist()),
        key=lambda ds: (-_round_half_up6(ds[1]), ds[0]),
    )[:k]
    return _arrow_df(
        spark,
        _RESULT_DDL,
        {
            "doc_id": [d for d, _ in top],
            "score": [s for _, s in top],
        },
    )


def _round_half_up6(x: float) -> Decimal:
    """6-dp HALF_UP of the float's shortest decimal string — F.round's
    semantics on a double (Python's round() is half-to-even)."""
    return Decimal(repr(x)).quantize(_QUANTUM6, rounding=ROUND_HALF_UP)


def _arrow_df(
    spark: SparkSession, ddl: str, columns: dict[str, list] | None = None
) -> DataFrame:
    """A driver-built result (empty when ``columns`` is None) as an
    Arrow-backed LocalRelation with the DDL's column names and types: its
    collect runs no Spark job (createDataFrame of a Python list is
    RDD-backed and costs one job per collect)."""
    schema = arrow_schema(ddl)
    if columns is None:
        columns = {f.name: [] for f in schema}
    return spark.createDataFrame(pa.table(columns, schema=schema), ddl)


def search_uncompacted(
    index: SearchIndex,
    query: str,
    k: int = 10,
    mode: str = "OR",
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
    use_wand: bool = True,
) -> DataFrame:
    """BM25 term search over the UNION corpus (base ∪ un-compacted ingest
    deltas): search()'s pipeline over the union snapshot, the term-side
    twin of search_phrase's union view. With no deltas it is search().

    Exactness: df per term is counted live — the base lexicon df minus
    the delta-superseded docs present in the term's base list (a
    doc-id-only decode pass, tf/dl streams untouched) plus the
    latest-wins delta rows; N/avgdl (and the per-field averages for
    BM25F) come from uncompacted_snapshot's exact-int fold; base blobs
    and delta rows are scored by the SAME canonical numpy kernel — so
    results are bit-equal to compact() + search() (tests/test_streaming).

    WAND: the hot-term sketches were computed under base stats and do
    not describe the union, so theta always comes from the rarest-term
    pass over the union rows; per-term bounds are the base lexicon
    extrema ∪ the delta extrema, scored with live idf/avgdl (valid by
    BM25 monotonicity).

    Cost model: uncompacted_snapshot's one small union-stats aggregate,
    the union lexicon bind, ONE tagged per-term stats collect, plus the
    rarest-term theta pass for multi-term OR; delta rows are small by
    construction and always score. compact() restores the sketch-served
    zero-job path.

    Corner: a term whose postings are ALL tombstoned but not yet
    compacted still binds here (df 0 after the anti-join, contributes no
    rows); in AND mode it empties the result until compact() drops it
    from the lexicon — the conservative reading of an in-flux corpus."""
    index.check_epoch()
    from search_engine_spark.streaming import incremental as inc

    union = inc.uncompacted_snapshot(index.spark, index.paths)
    if union is None:
        return search(index, query, k, mode, use_wand, field_weights, doc_ids)
    snap = _union_snapshot(index, union, _tokens(query))
    return _search(index, snap, k, mode, use_wand, field_weights, doc_ids)


def _union_snapshot(
    index: SearchIndex, union: dict, tokens: list[str]
) -> _Snapshot:
    """Bind ``tokens`` against the base ∪ delta lexicon (new terms must
    bind; the cached driver lexicon is stale while deltas exist) and
    fold the deltas into each bound term's df and (max_tf, min_dl). The
    per-term fold — base postings of superseded docs (doc-id-only
    decode) counted −1, latest-wins delta rows +1 with their tf/dl —
    reaches the driver in ONE collect."""
    from search_engine_spark.streaming import incremental as inc

    avgdls = (union["avgdl"], union["avgdl1"], union["avgdlb"])
    bound = _bind(index, tokens, union["lexicon"])
    if not bound:
        return _Snapshot({}, union["n_docs"], avgdls, sketches=False)
    # postings-delta torn-log guard (the term-side analogue of the
    # positional guard) — owned by the delta-log layer
    inc.check_postings_log(index.paths)
    term_ids = sorted(bound)
    deltas = inc._read_deltas_with_seq(
        index.spark, index.paths, inc.delta_dir(index.paths)
    )
    delta_rows = (
        inc._latest_per_doc(deltas)
        .filter(F.col("term_id").isin(term_ids))
        .select("term_id", "doc_id", "tf", "tf1", "dl", "dl1")
        .localCheckpoint(eager=False)
    )
    superseded = (
        inc.decode_docid_rows(_probe(index, term_ids))
        .join(F.broadcast(union["delta_doc_ids"]), "doc_id", "left_semi")
        .select(
            "term_id",
            F.lit(-1).alias("n"),
            F.lit(None).cast("int").alias("tf"),
            F.lit(None).cast("long").alias("dl"),
        )
    )
    per_term = (
        superseded.unionByName(
            delta_rows.select("term_id", F.lit(1).alias("n"), "tf", "dl")
        )
        .groupBy("term_id")
        .agg(
            F.sum("n").alias("n"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )
    )
    for r in per_term.collect():
        b = bound[int(r["term_id"])]
        b["df"] += int(r["n"])
        if r["max_tf"] is not None:
            mt, md = int(r["max_tf"]), int(r["min_dl"])
            b["min_dl"] = md if b["max_tf"] <= 0 else min(b["min_dl"], md)
            b["max_tf"] = max(b["max_tf"], mt)
    return _Snapshot(
        bound, union["n_docs"], avgdls, sketches=False,
        delta_rows=delta_rows, superseded=union["delta_doc_ids"],
    )


def search_phrase(
    index: SearchIndex, phrase: str, k: int = 10
) -> DataFrame:
    """Exact-phrase BM25 top-k over the positional index (requires a build
    with with_positions=True).

    The phrase is scored as a virtual term: tf = exact adjacent-sequence
    occurrence count per doc, df = matching docs, standard BM25 on top —
    identical float64 expression shape as the term engine, so results are
    bit-equal to the oracle (oracle.engine.search_phrase).

    Plan shape: barrel+term_id-pruned scans of the positions table, one
    broadcast-friendly equi-join per phrase term, adjacency via JVM array
    ops — transform(match, +1) ∩ positions — so candidates shrink left to
    right and nothing leaves the JVM. The match set is localCheckpointed
    (bounded: docs containing the whole phrase) so the single df action
    and the returned lazy plan share one evaluation; the phrase idf is
    computed driver-side from that df scalar (math.log — bit-parity with
    the oracle) and enters the plan as a literal. The returned plan stays
    LAZY — no collect/createDataFrame round-trip of result rows."""

    index.check_epoch()
    spark = index.spark
    if not os.path.exists(index.paths.positions):
        raise ValueError("index was built without positions")
    # un-compacted ingest deltas: serve the UNION snapshot (base ∪
    # deltas) — a phrase query derives all its stats (tf, df, dl, N,
    # avgdl) live from matched docs, so it answers the union corpus
    # EXACTLY, bit-equal to a fresh build (tests/test_streaming.py).
    # Term queries choose per call: search() serves the base snapshot,
    # search_uncompacted() the same union snapshot as this path.
    from search_engine_spark.functions.compression import decode_position_list
    from search_engine_spark.streaming.incremental import uncompacted_snapshot

    snap = uncompacted_snapshot(spark, index.paths)
    tokens = [t for t in normalize_text(phrase).split(" ") if t]
    # ordered binding, duplicates preserved (phrase semantics), through
    # the term binder of the snapshot being served
    uniq = sorted(set(tokens))
    bound = _bind(index, uniq, None if snap is None else snap["lexicon"])
    if not tokens or len(bound) < len(uniq):
        # a phrase term is out of lexicon -> no match
        return _arrow_df(spark, _RESULT_DDL)
    tid_map = {b["term"]: tid for tid, b in bound.items()}
    tids = [tid_map[t] for t in tokens]
    pos = spark.read.parquet(index.paths.positions)
    barrels = sorted({tid % index.n_barrels for tid in tids})
    pruned = lambda df: df.filter(  # noqa: E731
        F.col("barrel").isin(barrels) & F.col("term_id").isin(sorted(set(tids)))
    )
    pos = pruned(pos)
    if snap is not None:
        # latest version wins: base rows of re-ingested/tombstoned docs
        # are ignored (broadcast anti-join on the small batch doc set),
        # the pruned positional delta rows take their place
        pos = pos.join(
            F.broadcast(snap["delta_doc_ids"]), "doc_id", "left_anti"
        ).unionByName(pruned(snap["pos_delta"]).select(*pos.columns))

    # one Arrow decode pass over ONLY the pruned (barrel, term) rows, then
    # the JVM adjacency joins
    def _decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "term_id": pdf["term_id"].to_numpy(),
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "positions": [
                        decode_position_list(b) for b in pdf["pos_blob"]
                    ],
                }
            )

    # prune below the Arrow boundary: mapInPandas ships EVERY input
    # column to Python — n_pos and barrel are not consumed by the
    # decode (CLAUDE.md column-prune rule)
    pos = pos.select("term_id", "doc_id", "pos_blob").mapInPandas(
        _decode_pos, schema="term_id long, doc_id long, positions array<long>"
    )
    cur = (
        pos.filter(F.col("term_id") == tids[0])
        .select("doc_id", F.col("positions").alias("match"))
    )
    for tid in tids[1:]:
        nxt = pos.filter(F.col("term_id") == tid).select(
            "doc_id", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform("match", lambda x: x + 1), F.col("p")
                ).alias("match"),
            )
            .filter(F.size("match") > 0)
        )
    matches = cur.select("doc_id", F.size("match").cast("long").alias("tf"))
    # localCheckpoint blocks are reclaimed by Spark's ContextCleaner once
    # the returned plan (which references them) is garbage-collected —
    # callers need no explicit unpersist; the match set is bounded by the
    # docs containing the full phrase
    if snap is None:
        ds, n_docs, avgdl = index.doc_stats, index.n_docs, index.avgdl
    else:
        ds, n_docs, avgdl = snap["doc_stats"], snap["n_docs"], snap["avgdl"]
    matches = matches.join(
        ds.select("doc_id", "dl"), "doc_id"
    ).localCheckpoint(eager=True)
    df_phrase = matches.count()
    if df_phrase == 0:
        return _arrow_df(spark, _RESULT_DDL)
    idf = idf_value(df_phrase, n_docs)
    score = (
        F.lit(idf)
        * (F.col("tf").cast("double") * (K1 + 1.0))
        / (
            F.col("tf").cast("double")
            + K1 * ((1.0 - B) + (B * F.col("dl").cast("double")) / avgdl)
        )
    )
    return (
        matches.select("doc_id", score.alias("score"))
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
        .limit(k)
    )


def search_phrase_topk(
    index: SearchIndex, phrase: str, k: int = 10
) -> list[tuple[int, float]]:
    rows = search_phrase(index, phrase, k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def search_topk(
    index: SearchIndex, query: str, k: int = 10, mode: str = "OR",
    use_wand: bool = True,
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
) -> list[tuple[int, float]]:
    rows = search(
        index, query, k, mode, use_wand,
        field_weights=field_weights, doc_ids=doc_ids,
    ).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


# --- query-UX surface: autocomplete, spelling correction, snippets -------


def suggest_terms(index: SearchIndex, prefix: str, k: int = 10) -> DataFrame:
    """Prefix autocomplete over the lexicon, ranked by document frequency
    (the signal the reference's lexicon probe exposes, app.py:392-401,
    extended to the type-ahead read pattern). -> (term, term_id, df).

    Plan: StringStartsWith is a pushable parquet filter ahead of the
    TakeOrderedAndProject top-k. The lexicon is NOT range-partitioned by
    term: a driver-numbered build writes it as one file in term order,
    an assign_dense_ids build and compaction in join order, so the
    filter runs over the whole lexicon scan. Empty/whitespace prefixes
    return empty (a full-lexicon popularity dump is a different query).

    The prefix is only LOWERCASED, not run through normalize_text: a
    prefix is not a full token — stopword removal would empty "we" (→
    "western") and the lemmatizer may rewrite a word fragment.

    Serves the BASE lexicon: terms that exist only in un-compacted
    ingest deltas start completing after compact() (type-ahead tolerates
    bounded staleness; exact fresh search is search_uncompacted's job)."""
    index.check_epoch()
    p = prefix.strip().lower()
    spark = index.spark
    if not p:
        return _arrow_df(spark, "term string, term_id long, df long")
    return (
        index.lexicon.filter(F.col("term").startswith(p))
        .select("term", "term_id", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def correct_term(
    index: SearchIndex, word: str, max_dist: int = 2, k: int = 10,
    use_spell: bool = True,
) -> DataFrame:
    """Spelling correction: lexicon terms within ``max_dist`` edits,
    ranked (distance asc, df desc, term asc) — the did-you-mean read the
    reference silently drops out-of-lexicon tokens for (app.py:398-401).
    -> (term, term_id, df, dist).

    Fast path (round 4, VERDICT r3 #7): when the SymSpell
    deletion-neighborhood artifact exists (index_build.build_spell_index)
    and its recorded (max_dist, epoch) covers this query, the
    misspelling's own deletion set (≤ ~500 keys at d=2, generated
    driver-side) probes the spell table with a pushed-down IN filter —
    the table is delkey-sorted per file, so the probe reads a few hundred
    parquet row-group point ranges instead of scanning the lexicon. The
    SymSpell guarantee (lev(w, t) ≤ d ⇒ deletion neighborhoods intersect)
    makes the probe lossless; delkey-collision false positives are
    dropped by the same thresholded-levenshtein verify the scan path
    uses, so BOTH paths return identical rows (tested).

    Fallback: a length-banded lexicon scan (|len(term) − len(word)| ≤
    max_dist — the levenshtein lower bound, so the band is lossless) with
    Spark's THRESHOLDED levenshtein intrinsic (returns −1 and stops early
    once the running distance exceeds max_dist) feeding
    TakeOrderedAndProject. Used when the artifact is absent, was built
    for a smaller max_dist, or is stale (built under an older epoch —
    compaction invalidates it).

    The word is only LOWERCASED: it is by hypothesis misspelled, so the
    stopword filter could delete it and the rule lemmatizer could rewrite
    the typo before correction sees it."""
    import json

    index.check_epoch()
    w = word.strip().lower()
    spark = index.spark
    empty_schema = "term string, term_id long, df long, dist int"
    if not w or " " in w:
        return _arrow_df(spark, empty_schema)
    dist = F.levenshtein(F.col("term"), F.lit(w), max_dist)

    cands = None
    if use_spell and os.path.exists(index.paths.spell_meta):
        with open(index.paths.spell_meta) as f:
            meta = json.load(f)
        if (
            meta.get("max_dist", 0) >= max_dist
            and meta.get("epoch") == index._open_epoch
            and os.path.exists(index.paths.spell)
        ):
            from search_engine_spark.operators.index_build import (
                spell_deletions,
            )

            keys = sorted(spell_deletions(w, max_dist))
            cands = (
                spark.read.parquet(index.paths.spell)
                .filter(F.col("delkey").isin(keys))
                .select("term", "term_id", "df")
                .distinct()
            )
    if cands is None:
        cands = index.lexicon.filter(
            F.length("term").between(len(w) - max_dist, len(w) + max_dist)
        )
    return (
        cands.select(
            "term",
            "term_id",
            F.col("df").cast("long").alias("df"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def snippets(
    index: SearchIndex,
    query: str,
    pages: DataFrame,
    k: int = 10,
    window: int = 5,
) -> DataFrame:
    """KWIC snippets for the top-k result docs: ±window tokens around the
    EARLIEST query-term occurrence (positions come from the positional
    index; requires with_positions=True). -> (doc_id, score, pos,
    snippet), ordered like search().

    The index deliberately stores no text (lean barrels); the snippet
    text comes from re-normalizing the SOURCE pages rows of just the
    top-k docs. Plan shape at 100 TB: positions scan pruned to the query
    terms' barrels then broadcast-semi-joined to the k result docs;
    the pages join is k rows broadcast against the source scan — text
    never shuffles, and only k docs' html is ever re-normalized (the
    mapInPandas runs after a broadcast semi-join prunes the scan)."""

    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.functions.compression import (
        decode_position_list,
    )

    index.check_epoch()
    spark = index.spark
    if not os.path.exists(index.paths.positions):
        raise ValueError("snippets need an index built with_positions=True")
    out_schema = "doc_id long, score double, pos long, snippet string"
    top = search(index, query, k=k).localCheckpoint(eager=True)
    bound = index.bind_terms(query)
    if not bound:
        return _arrow_df(spark, out_schema)
    term_ids = sorted(bound)
    barrels = sorted({tid % index.n_barrels for tid in term_ids})
    pos = (
        spark.read.parquet(index.paths.positions)
        .filter(
            F.col("barrel").isin(barrels) & F.col("term_id").isin(term_ids)
        )
        .join(F.broadcast(top.select("doc_id")), "doc_id", "left_semi")
        .select("doc_id", "pos_blob")
    )

    def first_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "p": [
                        int(decode_position_list(b)[0])
                        for b in pdf["pos_blob"]
                    ],
                }
            )

    earliest = (
        pos.mapInPandas(first_pos, schema="doc_id long, p long")
        .groupBy("doc_id")
        .agg(F.min("p").alias("pos"))
    )
    docs = ib.normalize_pages(pages).join(
        F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
    )
    arr = F.split(F.col("norm"), " ")
    # positions are 0-based token indexes (posexplode in build_forward);
    # slice() is 1-based
    start = F.greatest(F.col("pos") - window + 1, F.lit(1))
    snip = F.concat_ws(" ", F.slice(arr, start, 2 * window + 1))
    return (
        top.join(earliest, "doc_id")
        .join(docs.select("doc_id", "norm"), "doc_id")
        .select("doc_id", "score", "pos", snip.alias("snippet"))
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    )


def index_stats(index: SearchIndex) -> DataFrame:
    """Per-barrel operational profile — the ops view for skew monitoring
    at 100 TB (which barrel is hot, how effective the Zipf-head salting
    is, what compression is buying): distinct terms, blob rows (> terms
    where salting split a hot list), postings, compressed bytes, and the
    largest single blob. -> one row per barrel, ordered.

    Reads ONLY metadata + blob lengths (octet_length never materializes
    the binary in the row output) — the scan prunes to 5 light columns
    and nothing is decoded; the agg is one associative pass. The same
    numbers per build STEP live in the manifest (per-partition lineage);
    this is the live-table view."""
    index.check_epoch()
    blob_bytes = sum(
        [
            F.octet_length(c)
            for c in ("doc_deltas", "tfs", "dls", "tf1s", "dls1")
        ],
        F.lit(0),
    )
    p = index.postings.select(
        "barrel", "term_id", "n_docs", blob_bytes.alias("blob_bytes")
    )
    return (
        p.groupBy("barrel")
        .agg(
            F.count_distinct("term_id").alias("n_terms"),
            F.count("*").cast("long").alias("n_blob_rows"),
            F.sum("n_docs").cast("long").alias("n_postings"),
            F.sum("blob_bytes").cast("long").alias("compressed_bytes"),
            F.max("n_docs").cast("long").alias("max_blob_postings"),
        )
        .orderBy("barrel")
    )


def search_corrected(
    index: SearchIndex,
    query: str,
    k: int = 10,
    mode: str = "OR",
    max_dist: int = 2,
) -> tuple[DataFrame, dict[str, str]]:
    """Did-you-mean search: out-of-lexicon query tokens are replaced by
    their best correction (correct_term's (dist, df desc, term) ranking)
    before scoring. The reference silently DROPS unknown tokens
    (app.py:398-401) — this is the recovery path a user actually wants
    for a typo'd query. In-lexicon tokens are never rewritten; tokens
    with no correction within max_dist stay dropped (reference
    behavior). Returns (results, corrections) where corrections maps
    each rewritten token to its replacement.

    Cost: binding is the cached-lexicon dict probe (no job); one
    correct_term top-1 scan per OOV token — typos are rare per query, so
    the common case adds zero jobs."""
    tokens = [t for t in normalize_text(query).split(" ") if t]
    if not tokens:
        return (
            _arrow_df(index.spark, _RESULT_DDL),
            {},
        )
    bound = index.bind_terms(query)
    known = {b["term"] for b in bound.values()}
    corrections: dict[str, str] = {}
    out_tokens: list[str] = []
    for t in dict.fromkeys(tokens):  # order-preserving unique
        if t in known:
            out_tokens.append(t)
            continue
        best = correct_term(index, t, max_dist=max_dist, k=1).collect()
        if best:
            corrections[t] = best[0]["term"]
            out_tokens.append(best[0]["term"])
    if not out_tokens:
        return (
            _arrow_df(index.spark, _RESULT_DDL),
            corrections,
        )
    # bind the corrected terms AS A LIST (already normalized): joining
    # them back into a query string would re-run normalize, and the
    # lemmatizer is not idempotent — a corrected lexicon term could
    # re-stem into an out-of-lexicon token and silently drop
    return search(index, out_tokens, k=k, mode=mode), corrections


def search_many(
    index: SearchIndex,
    queries: dict[int, str],
    k: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """Batch query execution: the whole workload in ONE Spark job —
    -> (query_id, doc_id, score), each query's top-k, ordered
    (query_id, rounded score desc, doc_id). Results are bit-equal to
    running search() per query (tested); use it to replay a query log or
    drive relevance evaluation, where per-query job scheduling (~0.5 s
    here) would otherwise dominate.

    Plan: one barrel+term-pruned probe over the UNION of all queries'
    terms, one decode pass emitting the per-(term, doc) partials keyed by
    a dense union-term index (the decode's rank channel — dense, so no
    term_id-width concerns), a broadcast fan-out join from term index to
    (query_id, per-query rank) — a term shared by q queries costs q
    mapped rows, never a re-decode — then the per-(query, doc) ordered
    float sum and a per-query window top-k. WAND is skipped (a single
    theta cannot serve q different queries; the workload's economics are
    throughput, and the shared decode amortizes what pruning would have
    saved); per-doc sums keep the same sorted-term-string order as
    search(), so floats match bit-for-bit."""
    from pyspark.sql import Window

    index.check_epoch()
    spark = index.spark
    out_schema = "query_id long, doc_id long, score double"
    bound_by_q: dict[int, dict[int, dict]] = {
        qid: index.bind_terms(text) for qid, text in queries.items()
    }
    union_terms = sorted({t for b in bound_by_q.values() for t in b})
    if not union_terms:
        return _arrow_df(spark, out_schema)
    dense = {tid: i for i, tid in enumerate(union_terms)}
    idfs = {
        tid: idf_value(
            next(b[tid]["df"] for b in bound_by_q.values() if tid in b),
            index.n_docs,
        )
        for tid in union_terms
    }
    probe = _probe(index, union_terms)
    partials = _decode_score_df(
        probe, idfs, 0.0, {}, dense, None, index.avgdls
    )
    # term-index -> (query, per-query rank) fan-out; per-query rank is
    # the term's position in THAT query's sorted-term-string order (the
    # float-sum order search() uses)
    fan = []
    arity = {}
    for qid, b in bound_by_q.items():
        qranks = {
            tid: i
            for i, tid in enumerate(sorted(b, key=lambda t: b[t]["term"]))
        }
        arity[qid] = len(b)
        fan.extend((dense[tid], qid, qranks[tid]) for tid in b)
    if not fan:
        return _arrow_df(spark, out_schema)
    fan_df = spark.createDataFrame(
        fan, "rank long, query_id long, qrank int"
    )
    per_q = partials.join(F.broadcast(fan_df), "rank").select(
        "query_id", "doc_id", "qrank", "score"
    )
    summed = (
        per_q.groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("qrank", "score"))
            ).alias("parts")
        )
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, x: acc + x["score"]
            ).alias("score"),
            F.size("parts").alias("n_terms"),
        )
    )
    if mode == "AND":
        arity_df = spark.createDataFrame(
            list(arity.items()), "query_id long, arity int"
        )
        summed = summed.join(F.broadcast(arity_df), "query_id").filter(
            F.col("n_terms") == F.col("arity")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        summed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
        .orderBy(
            "query_id", F.desc(F.round("score", 6)), F.asc("doc_id")
        )
    )
