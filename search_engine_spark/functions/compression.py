"""Posting-list compression: docID-delta + varint, with block-max metadata.

The reference stores postings as JSON dicts
(/root/reference/backend/utils/create_inverted_index.py:86-91, shape
``{id, freq, positions, fields}``). At 10^12-doc scale that layout is
untenable; per the north rule the rebuild stores each term's posting list as

    doc_deltas : binary  — varint(delta(sorted doc keys)))
    tfs        : binary  — varint(term frequency per posting)
    dls        : binary  — varint(doc length per posting; denormalized so the
                           BM25 scorer needs no query-time join to doc_stats)
    block_max_tf / block_min_dl : array<int64> — per-block (BLOCK=128)
                 monotone summaries; the BM25 block upper bound
                 bm25(max_tf, min_dl, idf, avgdl) is reconstructed AT QUERY
                 TIME from the live corpus stats, so WAND pruning (north
                 rule; replaces the reference's crude MAX_DOCS_TO_PROCESS
                 cap, app.py:73,604-617) remains exact after incremental
                 updates shift N/avgdl/df (a frozen score bound would go
                 stale and prune unsafely)

All encode/decode is numpy-vectorized (no per-element Python loops) so it can
run inside Arrow ``applyInPandas``/``mapInPandas`` at full speed.

Doc keys are xxhash64 int64 values; they are encoded as unsigned via a
+2^63 bias so deltas of the sorted sequence are non-negative.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
_BIAS = np.uint64(1 << 63)
_MAXB = 10  # max varint bytes for a 64-bit value


def varint_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-style varint encoding of a uint64 array (vectorized).
    Returns (buffer, per-value byte sizes) — the sizes feed the per-block
    byte-length tables that make blocks independently sliceable."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # byte length per value: ceil(bitlen/7), min 1
    nbytes = np.ones(n, dtype=np.int64)
    shifted = v >> np.uint64(7)
    while shifted.any():
        nbytes += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for b in range(_MAXB):
        mask = nbytes > b
        if not mask.any():
            break
        chunk = ((v[mask] >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > b + 1).astype(np.uint8) << 7
        out[offsets[mask] + b] = chunk | cont
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_sizes(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode -> uint64 array (vectorized via reduceat)."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    is_end = (arr & 0x80) == 0
    # group start = position after previous end
    starts = np.concatenate(([0], np.flatnonzero(is_end)[:-1] + 1))
    idx = np.arange(len(arr), dtype=np.int64)
    group_id = np.cumsum(np.concatenate(([0], is_end[:-1].astype(np.int64))))
    pos_in_group = idx - starts[group_id]
    parts = (arr & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_group.astype(np.uint64))
    return np.bitwise_or.reduceat(parts, starts)


# --- PForDelta (NewPFD-style patched frame-of-reference) --------------------
#
# The north rule names "varint/PForDelta" as the posting compression pair;
# this is the PFor half (Zukowski et al. "Super-Scalar RAM-CPU Cache
# Compression", the NewPFD exception layout of Yan/Ding/Suel). Per
# 128-value block: choose the bit width b minimizing the EXACT encoded
# size, bit-pack every value's low b bits LSB-first, and patch the few
# values wider than b ("exceptions") via (position byte, varint high
# bits). Unlike varint, decode cost is independent of value magnitude and
# the packed area is a fixed-shape bit matrix — the layout production
# engines use for the in-cache posting decode loop.
#
# Block wire format (self-describing; counts never needed externally):
#     [n-1: 1 byte][b: 1 byte][n_exc: 1 byte]
#     [packed low bits: ceil(n*b/8) bytes]
#     [exception positions: n_exc bytes]
#     [exception high bits (value >> b): varint stream]
#
# The codec id travels with every posting ROW (POSTINGS_SCHEMA `codec`),
# so mixed-codec barrels (e.g. a varint index compacted with a pfor
# writer) decode correctly row by row.

CODEC_VARINT = 0
CODEC_PFOR = 1
CODEC_IDS = {"varint": CODEC_VARINT, "pfor": CODEC_PFOR}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}


def codec_id(codec: int | str) -> int:
    if isinstance(codec, str):
        return CODEC_IDS[codec]
    c = int(codec)
    if c not in CODEC_NAMES:
        raise ValueError(f"unknown posting codec id {c}")
    return c


def _bit_widths(v: np.ndarray) -> np.ndarray:
    """Per-value bit width of a uint64 array (width(0) == 0)."""
    w = np.zeros(len(v), dtype=np.int64)
    x = v.astype(np.uint64, copy=True)
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        w[m] += s
        x[m] >>= np.uint64(s)
    return w + (v > 0)


def _pfor_encode_block(v: np.ndarray) -> bytes:
    """One block (1..128 uint64 values) -> PFor bytes (layout above).
    b is chosen by exact size minimization over the distinct widths."""
    n = len(v)
    if not 1 <= n <= 128:
        raise ValueError(f"pfor block must hold 1..128 values, got {n}")
    w = _bit_widths(v)
    # all 65 candidate widths, not just the distinct value widths: between
    # two adjacent widths the exception set is constant but each
    # exception's varint high-bit cost still shrinks as b grows, so an
    # interior b can be strictly smaller; ties break to the smallest b
    # (argmin-first), matching the vectorized pfor_encode_stream exactly
    cand = np.arange(65, dtype=np.int64)
    over = np.maximum(w[None, :] - cand[:, None], 0)
    exc = w[None, :] > cand[:, None]
    cost = (
        (n * cand + 7) // 8
        + exc.sum(axis=1)  # one position byte per exception
        + ((over + 6) // 7 * exc).sum(axis=1)  # high-bit varint bytes
    )
    b = int(cand[np.argmin(cost)])
    if b:
        bits = (
            (v[:, None] >> np.arange(b, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.uint8)
        packed = np.packbits(bits.ravel(), bitorder="little").tobytes()
    else:
        packed = b""
    exc_idx = np.flatnonzero(w > b)
    if len(exc_idx):
        high = v[exc_idx] >> np.uint64(b)
        tail = exc_idx.astype(np.uint8).tobytes() + varint_encode(high)
    else:
        tail = b""
    return bytes((n - 1, b, len(exc_idx))) + packed + tail


def _pfor_decode_block(buf: bytes) -> np.ndarray:
    """Inverse of _pfor_encode_block -> uint64 array of length n."""
    n = buf[0] + 1
    b = buf[1]
    n_exc = buf[2]
    off = 3
    nbytes = (n * b + 7) // 8
    if b:
        bits = np.unpackbits(
            np.frombuffer(buf, np.uint8, count=nbytes, offset=off),
            count=n * b,
            bitorder="little",
        )
        weights = np.uint64(1) << np.arange(b, dtype=np.uint64)
        vals = (bits.reshape(n, b).astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64
        )
    else:
        vals = np.zeros(n, dtype=np.uint64)
    off += nbytes
    if n_exc:
        pos = np.frombuffer(buf, np.uint8, count=n_exc, offset=off)
        high = varint_decode(buf[off + n_exc :])
        vals[pos.astype(np.int64)] |= high << np.uint64(b)
    return vals


def _gather_ranges(
    arr: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """Gather multiple [start, start+len) ranges of a uint8 array into one
    contiguous array — vectorized (repeat + arange), no per-range loop."""
    tot = int(lengths.sum())
    if tot == 0:
        return np.empty(0, dtype=np.uint8)
    within = np.arange(tot, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths
    )
    return arr[np.repeat(starts, lengths) + within]


def pfor_encode_stream(
    values: np.ndarray, block: int = BLOCK
) -> tuple[bytes, np.ndarray]:
    """uint64 stream -> (concatenated per-block PFor bytes, per-block byte
    lengths) — the PFor twin of varint_encode_with_sizes + reduceat.

    Vectorized across blocks (the scalar _pfor_encode_block is the
    executable spec, property-tested equal): the per-block optimal width
    comes from a width histogram × cost matrix product, bit-packing runs
    per DISTINCT width over all full blocks at once, and every block's
    exception high bits go through ONE varint pass."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    nb = (n + block - 1) // block
    counts = np.full(nb, block, dtype=np.int64)
    counts[-1] = n - block * (nb - 1)
    # padded (nb, block) matrices; pad width 0 never costs or excepts
    V = np.zeros((nb, block), dtype=np.uint64)
    V.ravel()[:n] = v
    w = _bit_widths(v)
    W = np.zeros((nb, block), dtype=np.int64)
    W.ravel()[:n] = w
    # width histogram per block -> exact cost of every candidate width:
    #   cost(b) = ceil(n_blk*b/8) + n_exc(b) + sum_exc ceil((w-b)/7)
    hist = np.zeros((nb, 65), dtype=np.int64)
    np.add.at(hist, (np.repeat(np.arange(nb), counts), w), 1)
    cand = np.arange(65, dtype=np.int64)
    is_exc = (np.arange(65)[None, :] > cand[:, None]).astype(np.int64)
    exc_bytes_per = (
        np.maximum(np.arange(65)[None, :] - cand[:, None], 0) + 6
    ) // 7 * is_exc
    cost = (
        (counts[:, None] * cand[None, :] + 7) // 8
        + hist @ is_exc.T
        + hist @ exc_bytes_per.T
    )
    bsel = np.argmin(cost, axis=1).astype(np.int64)
    # packed low-bit area per block (bytes), grouped by distinct width
    packed_nbytes = (counts * bsel + 7) // 8
    packed_parts: list[np.ndarray | None] = [None] * nb
    full = counts == block  # only the final block can be short
    for b in np.unique(bsel):
        b = int(b)
        sel = np.flatnonzero((bsel == b) & full)
        if b == 0 or len(sel) == 0:
            continue
        # byte-level pack: uint64 -> 64 little-endian bits -> low b bits
        # per value -> packbits. Stays in uint8 end to end (no 64-bit
        # multiply-accumulate), ~4x the throughput of the shift-and-sum
        g = len(sel)
        allbits = np.unpackbits(
            V[sel].view(np.uint8).reshape(g, block * 8),
            axis=1,
            bitorder="little",
        ).reshape(g, block, 64)
        pk = np.packbits(
            np.ascontiguousarray(allbits[:, :, :b]).reshape(g, block * b),
            axis=1,
            bitorder="little",
        )
        for j, i in enumerate(sel.tolist()):
            packed_parts[i] = pk[j]
    if not full[-1]:  # short tail block: scalar spec path
        tail_enc = _pfor_encode_block(V[-1, : counts[-1]])
        return (
            b"".join(
                _assemble_pfor_blocks(
                    nb - 1, counts, bsel, packed_parts, W, V, block
                )
            )
            + tail_enc,
            np.concatenate(
                (
                    _pfor_block_sizes(nb - 1, counts, bsel, W),
                    [len(tail_enc)],
                )
            ).astype(np.int64),
        )
    chunks = _assemble_pfor_blocks(nb, counts, bsel, packed_parts, W, V, block)
    return b"".join(chunks), _pfor_block_sizes(nb, counts, bsel, W)


def _pfor_block_sizes(
    nb: int, counts: np.ndarray, bsel: np.ndarray, W: np.ndarray
) -> np.ndarray:
    """Exact on-wire byte size of the first ``nb`` blocks (header + packed
    + exception positions + exception varint high bits)."""
    if nb == 0:
        return np.empty(0, dtype=np.int64)
    c, b, Wn = counts[:nb], bsel[:nb], W[:nb]
    exc = Wn > b[:, None]
    over = np.maximum(Wn - b[:, None], 0)
    return (
        3
        + (c * b + 7) // 8
        + exc.sum(axis=1)
        + ((over + 6) // 7 * exc).sum(axis=1)
    ).astype(np.int64)


def _assemble_pfor_blocks(
    nb: int,
    counts: np.ndarray,
    bsel: np.ndarray,
    packed_parts: list,
    W: np.ndarray,
    V: np.ndarray,
    block: int,
) -> list[bytes]:
    """Stitch the first ``nb`` blocks' wire bytes. All numpy work (widths,
    packing, one varint pass over every exception) is already batched;
    this loop only slices and concatenates bytes."""
    if nb == 0:
        return []
    exc_mask = W[:nb] > bsel[:nb, None]
    exc_rows, exc_cols = np.nonzero(exc_mask)
    n_exc = exc_mask.sum(axis=1)
    high = V[:nb][exc_rows, exc_cols] >> bsel[:nb][exc_rows].astype(np.uint64)
    hbuf, hsz = varint_encode_with_sizes(high)
    hend = np.concatenate(([0], np.cumsum(hsz)))
    exc_start = np.concatenate(([0], np.cumsum(n_exc)))
    chunks: list[bytes] = []
    pos_bytes = exc_cols.astype(np.uint8)
    for i in range(nb):
        e0, e1 = int(exc_start[i]), int(exc_start[i + 1])
        chunks.append(
            bytes((int(counts[i]) - 1, int(bsel[i]), e1 - e0))
            + (
                packed_parts[i].tobytes()
                if packed_parts[i] is not None
                else b""
            )
            + pos_bytes[e0:e1].tobytes()
            + hbuf[int(hend[e0]) : int(hend[e1])]
        )
    return chunks


def _pfor_decode_kept(
    buf: bytes, lens: np.ndarray, kept: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the blocks at indices ``kept`` from a PFor stream ->
    (concatenated uint64 values, per-kept-block counts). Skipped blocks'
    bytes are never touched (offset arithmetic on the lens table).

    Vectorized across blocks: kept blocks are grouped by bit width and
    unpacked in one np.unpackbits call per distinct width; all kept
    blocks' exception patches decode through ONE varint pass."""
    lens = np.asarray(lens, dtype=np.int64)
    kept = np.asarray(kept, dtype=np.int64)
    if len(kept) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    off = np.concatenate(([0], np.cumsum(lens)))
    o = off[kept]
    ns = arr[o].astype(np.int64) + 1
    bs = arr[o + 1].astype(np.int64)
    ne = arr[o + 2].astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    out = np.zeros(int(ns.sum()), dtype=np.uint64)
    for b in np.unique(bs):
        b = int(b)
        if b == 0:
            continue
        sel = np.flatnonzero(bs == b)
        # same-width blocks may differ in count only at the stream tail;
        # unpack per distinct (width, count) group — at most 2 per width
        for cnt in np.unique(ns[sel]):
            cnt = int(cnt)
            sub = sel[ns[sel] == cnt]
            nbytes = (cnt * b + 7) // 8
            g = len(sub)
            packed = _gather_ranges(
                arr, o[sub] + 3, np.full(g, nbytes, dtype=np.int64)
            ).reshape(g, nbytes)
            bits = np.unpackbits(packed, axis=1, bitorder="little")[
                :, : cnt * b
            ].reshape(g, cnt, b)
            # byte-level unpack: low b bits -> 64-bit little-endian rows ->
            # view uint64 (no per-bit multiply-accumulate)
            wide = np.zeros((g, cnt, 64), dtype=np.uint8)
            wide[:, :, :b] = bits
            vals = np.packbits(
                wide.reshape(g, cnt * 64), axis=1, bitorder="little"
            ).view(np.uint64)
            idx = starts[sub][:, None] + np.arange(cnt, dtype=np.int64)[None, :]
            out[idx.ravel()] = vals.ravel()
    # exception patches: positions + varint high bits, all blocks at once
    has_exc = np.flatnonzero(ne > 0)
    if len(has_exc):
        pb = (ns * bs + 7) // 8
        pos = _gather_ranges(arr, (o + 3 + pb)[has_exc], ne[has_exc])
        hlens = (off[kept + 1] - o - 3 - pb - ne)[has_exc]
        hbytes = _gather_ranges(arr, (o + 3 + pb + ne)[has_exc], hlens)
        high = varint_decode(hbytes.tobytes())
        tgt = np.repeat(starts[has_exc], ne[has_exc]) + pos.astype(np.int64)
        shift = np.repeat(bs[has_exc], ne[has_exc]).astype(np.uint64)
        out[tgt] |= high << shift
    return out, ns


def _deltas_to_docids(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Block-relative delta streams -> absolute int64 doc ids. Each block's
    first value is its absolute (biased) key; later values are gaps.
    Vectorized per-block cumsum: docs = base_b + (cs - cs_at_block_start)."""
    if len(vals) == 0:
        return np.empty(0, dtype=np.int64)
    cs = np.cumsum(vals, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = vals[starts]
    cs_start = cs[starts]
    expand = np.repeat(np.arange(len(counts)), counts)
    u = base[expand] + (cs - cs_start[expand])
    return (u - _BIAS).view(np.int64)


def _encode_stream(
    vals: np.ndarray, starts: np.ndarray, cid: int, block: int = BLOCK
) -> tuple[bytes, np.ndarray]:
    """Encode one uint64 stream with per-block byte lengths under the
    chosen codec. ``starts`` are the block boundaries (varint needs them
    to aggregate per-value sizes; pfor re-blocks at the same stride)."""
    if cid == CODEC_PFOR:
        return pfor_encode_stream(vals, block)
    buf, sz = varint_encode_with_sizes(vals)
    return buf, np.add.reduceat(sz, starts)


def delta_encode_docids(doc_ids: np.ndarray) -> bytes:
    """Sorted int64 doc keys -> varint(first-biased, then gaps)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if len(d) == 0:
        return b""
    u = d.view(np.uint64) + _BIAS  # order-preserving unsigned map
    deltas = np.empty(len(u), dtype=np.uint64)
    deltas[0] = u[0]
    np.subtract(u[1:], u[:-1], out=deltas[1:])
    return varint_encode(deltas)


def delta_decode_docids(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    if len(deltas) == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(deltas, dtype=np.uint64)
    return (u - _BIAS).view(np.int64)


def bm25_score(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float,
    k1: float = 1.2, b: float = 0.75,
) -> np.ndarray:
    """Standard BM25 per-posting partial score, float64 end-to-end
    (SURVEY.md §7 'Rank-identity under floats')."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25f_score(
    tf1: np.ndarray, tfb: np.ndarray, dl1: np.ndarray, dlb: np.ndarray,
    idf: float, w_t: float, w_b: float, avgdl1: float, avgdlb: float,
    k1: float = 1.2, b: float = 0.75,
) -> np.ndarray:
    """TRUE BM25F per-posting partial score (Robertson/Zaragoza simple
    BM25F): each field's tf is length-normalized by ITS OWN field length
    against the field's corpus average BEFORE weighting, then the
    weighted sum saturates once —

        tfn = w_t·tf1/B1 + w_b·tfb/B0,  B_f = (1−b) + b·dl_f/avgdl_f
        score = idf · tfn·(k1+1)/(tfn + k1)

    This is the canonical float64 expression shape shared VERBATIM by
    the Spark decode scorer (operators/query.py), the single-node oracle
    (oracle/engine.py) and mirrored by the DuckDB SQL — do not reorder
    operations. A zero avgdl (field absent corpus-wide ⇒ that field's tf
    is identically 0) must be guarded to 1.0 by the CALLER so the dead
    term is 0, not NaN."""
    tf1 = tf1.astype(np.float64)
    tfb = tfb.astype(np.float64)
    dl1 = dl1.astype(np.float64)
    dlb = dlb.astype(np.float64)
    b1 = (1.0 - b) + (b * dl1) / avgdl1
    b0 = (1.0 - b) + (b * dlb) / avgdlb
    tfn = w_t * tf1 / b1 + w_b * tfb / b0
    return idf * (tfn * (k1 + 1.0)) / (tfn + k1)


def block_maxes(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float,
    k1: float = 1.2, b: float = 0.75, block: int = BLOCK,
) -> np.ndarray:
    """Per-block max BM25 score (upper bound used by WAND pruning)."""
    s = bm25_score(tf, dl, idf, avgdl, k1, b)
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    nblocks = (n + block - 1) // block
    out = np.empty(nblocks, dtype=np.float64)
    full = (n // block) * block
    if full:
        out[: n // block] = s[:full].reshape(-1, block).max(axis=1)
    if full < n:
        out[-1] = s[full:].max()
    return out


def block_summaries(
    tf: np.ndarray, dl: np.ndarray, block: int = BLOCK
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (max_tf, min_dl) over docID-sorted postings.

    BM25 is monotone increasing in tf and decreasing in dl, so
    ``bm25_score(max_tf, min_dl, idf, avgdl)`` is a valid per-block upper
    bound computed AT QUERY TIME with the live (N, avgdl, df) — unlike a
    frozen score bound, it stays exact after incremental corpus updates
    change the global stats (streaming/incremental.py)."""
    n = len(tf)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    t = np.asarray(tf, dtype=np.int64)
    l = np.asarray(dl, dtype=np.int64)
    nblocks = (n + block - 1) // block
    mt = np.empty(nblocks, dtype=np.int64)
    md = np.empty(nblocks, dtype=np.int64)
    full = (n // block) * block
    if full:
        mt[: n // block] = t[:full].reshape(-1, block).max(axis=1)
        md[: n // block] = l[:full].reshape(-1, block).min(axis=1)
    if full < n:
        mt[-1] = t[full:].max()
        md[-1] = l[full:].min()
    return mt, md


def _block_starts(n: int, block: int = BLOCK) -> np.ndarray:
    return np.arange(0, n, block, dtype=np.int64)


def decode_docids_blocks(
    doc_deltas: bytes, db_lens: np.ndarray, codec: int = CODEC_VARINT
) -> np.ndarray:
    """Decode ONLY the doc-id stream of a blob row — the tf/dl/field
    streams are never touched. Used by the union snapshot's per-term
    stats pass (query._union_snapshot): exact live df needs the base doc
    ids (to subtract delta-superseded docs) but none of the frequency
    payload.
    Same per-block layout as decode_posting_blocks with keep=None: each
    block restarts with an absolute (biased) first key, then gaps."""
    db_lens = np.asarray(db_lens, dtype=np.int64)
    nb = len(db_lens)
    if nb == 0:
        return np.empty(0, dtype=np.int64)
    if codec == CODEC_PFOR:
        vals, counts = _pfor_decode_kept(
            doc_deltas, db_lens, np.arange(nb, dtype=np.int64)
        )
        return _deltas_to_docids(vals, counts)
    vals = varint_decode(doc_deltas)
    counts = np.full(nb, BLOCK, dtype=np.int64)
    counts[-1] = len(vals) - BLOCK * (nb - 1)
    cs = np.cumsum(vals, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = vals[starts]
    cs_start = cs[starts]
    expand = np.repeat(np.arange(nb), counts)
    u = base[expand] + (cs - cs_start[expand])
    return (u - _BIAS).view(np.int64)


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    tf1s: np.ndarray | None = None,
    block: int = BLOCK,
    dl1s: np.ndarray | None = None,
    codec: int | str = CODEC_VARINT,
) -> dict:
    """Sort by doc key and encode one term's postings with INDEPENDENTLY
    DECODABLE blocks: each block's first doc delta is its absolute
    (biased) key, and per-block byte lengths are recorded for all four
    streams, so a pruned block is never even decompressed — true
    block-max WAND decode skipping, the thing the north rule's
    MAX_DOCS_TO_PROCESS replacement actually pays off with.

    ``codec`` picks the stream compression (north rule "varint/PForDelta"
    pair): CODEC_VARINT (default, byte-aligned LEB128) or CODEC_PFOR
    (NewPFD bit-packing + patched exceptions). Block boundaries, block
    metadata, and the lens tables are codec-independent — WAND skipping
    and the decode contract are identical under either.

    ``tf1s`` is the per-posting TITLE-FIELD tf (the fields channel —
    reference postings carry per-field matches,
    create_inverted_index.py:86-91); ``dl1s`` the per-posting TITLE-field
    doc length (constant per doc, denormalized like dls — the true-BM25F
    per-field length norm needs it at score time). None encodes as
    all-zero (1 byte per posting, the varint floor). block_max_tf1 plus
    the per-field minima block_min_dl1 / block_min_dlb (body = dl−dl1)
    ride along so field-weighted WAND bounds stay tight.

    Returns dict: doc_deltas, tfs, dls, tf1s, dls1 (bytes); db_lens,
    tf_lens, dl_lens, tf1_lens, dl1_lens (per-block byte lengths);
    block_max_tf, block_min_dl, block_max_tf1, block_min_dl1,
    block_min_dlb; max_tf, min_dl; n_docs; codec."""
    cid = codec_id(codec)
    order = np.argsort(doc_ids, kind="stable")
    d = np.asarray(doc_ids, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.int64)[order]
    l = np.asarray(dls, dtype=np.int64)[order]
    if tf1s is None:
        t1 = np.zeros(len(d), dtype=np.int64)
    else:
        t1 = np.asarray(tf1s, dtype=np.int64)[order]
    if dl1s is None:
        d1 = np.zeros(len(d), dtype=np.int64)
    else:
        d1 = np.asarray(dl1s, dtype=np.int64)[order]
    n = len(d)
    mt, md = block_summaries(t, l, block)
    mt1, md1 = block_summaries(t1, d1, block)
    _, mdb = block_summaries(t1, l - d1, block)
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return {
            "doc_deltas": b"", "tfs": b"", "dls": b"", "tf1s": b"",
            "dls1": b"",
            "db_lens": empty, "tf_lens": empty, "dl_lens": empty,
            "tf1_lens": empty.copy(), "dl1_lens": empty.copy(),
            "block_max_tf": mt, "block_min_dl": md, "block_max_tf1": mt1,
            "block_min_dl1": md1, "block_min_dlb": mdb,
            "max_tf": 0, "min_dl": 1, "n_docs": 0, "codec": cid,
        }
    u = d.view(np.uint64) + _BIAS
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = u[0]
    np.subtract(u[1:], u[:-1], out=deltas[1:])
    starts = _block_starts(n, block)
    deltas[starts] = u[starts]  # block-local absolute base
    db, db_lens = _encode_stream(deltas, starts, cid, block)
    tb, tf_lens = _encode_stream(t.astype(np.uint64), starts, cid, block)
    lb, dl_lens = _encode_stream(l.astype(np.uint64), starts, cid, block)
    t1b, tf1_lens = _encode_stream(t1.astype(np.uint64), starts, cid, block)
    d1b, dl1_lens = _encode_stream(d1.astype(np.uint64), starts, cid, block)
    return {
        "doc_deltas": db, "tfs": tb, "dls": lb, "tf1s": t1b, "dls1": d1b,
        "db_lens": db_lens,
        "tf_lens": tf_lens,
        "dl_lens": dl_lens,
        "tf1_lens": tf1_lens,
        "dl1_lens": dl1_lens,
        "block_max_tf": mt, "block_min_dl": md, "block_max_tf1": mt1,
        "block_min_dl1": md1, "block_min_dlb": mdb,
        "max_tf": int(t.max()), "min_dl": int(l.min()), "n_docs": n,
        "codec": cid,
    }


def decode_posting_blocks(
    doc_deltas: bytes,
    tfs: bytes,
    dls: bytes,
    db_lens: np.ndarray,
    tf_lens: np.ndarray,
    dl_lens: np.ndarray,
    keep: np.ndarray | None = None,
    tf1s: bytes | None = None,
    tf1_lens: np.ndarray | None = None,
    dls1: bytes | None = None,
    dl1_lens: np.ndarray | None = None,
    codec: int = CODEC_VARINT,
) -> tuple[np.ndarray, ...]:
    """Decode only the blocks where ``keep`` is True (None = all).
    Returns (doc_ids int64 sorted, tf int64, dl int64) over the kept
    blocks — plus a 4th array (tf1 int64, the title-field channel) when
    ``tf1s``/``tf1_lens`` are given, plus a 5th (dl1 int64, the title
    field length — true-BM25F norm input) when ``dls1``/``dl1_lens`` are
    given. Skipped blocks cost ZERO decode work — their bytes are never
    touched (slicing is offset arithmetic on the lens tables)."""
    with_tf1 = tf1s is not None and tf1_lens is not None
    with_dl1 = dls1 is not None and dl1_lens is not None
    db_lens = np.asarray(db_lens, dtype=np.int64)
    tf_lens = np.asarray(tf_lens, dtype=np.int64)
    dl_lens = np.asarray(dl_lens, dtype=np.int64)

    def _empty():
        z = np.empty(0, dtype=np.int64)
        out = (z, z.copy(), z.copy())
        if with_tf1:
            out = out + (z.copy(),)
        if with_dl1:
            out = out + (z.copy(),)
        return out

    nb = len(db_lens)
    if nb == 0:
        return _empty()
    if keep is None:
        keep = np.ones(nb, dtype=bool)
    keep = np.asarray(keep, dtype=bool)
    db_off = np.concatenate(([0], np.cumsum(db_lens)))
    tf_off = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_off = np.concatenate(([0], np.cumsum(dl_lens)))
    kept = np.flatnonzero(keep)
    if len(kept) == 0:
        return _empty()
    if codec == CODEC_PFOR:
        # each pfor block self-describes its count — decode kept blocks
        # straight off the lens tables (skipped bytes never touched)
        vals, counts = _pfor_decode_kept(doc_deltas, db_lens, kept)
        d = _deltas_to_docids(vals, counts)
        t = _pfor_decode_kept(tfs, tf_lens, kept)[0].view(np.int64)
        l = _pfor_decode_kept(dls, dl_lens, kept)[0].view(np.int64)
        out = (d, t, l)
        if with_tf1:
            out = out + (
                _pfor_decode_kept(tf1s, tf1_lens, kept)[0].view(np.int64),
            )
        if with_dl1:
            out = out + (
                _pfor_decode_kept(dls1, dl1_lens, kept)[0].view(np.int64),
            )
        return out
    # concatenate kept byte ranges (contiguous runs collapse naturally)
    db_sel = b"".join(doc_deltas[db_off[i] : db_off[i + 1]] for i in kept)
    tf_sel = b"".join(tfs[tf_off[i] : tf_off[i + 1]] for i in kept)
    dl_sel = b"".join(dls[dl_off[i] : dl_off[i + 1]] for i in kept)
    vals = varint_decode(db_sel)
    t = varint_decode(tf_sel).view(np.int64)
    l = varint_decode(dl_sel).view(np.int64)
    if with_tf1:
        t1_lens = np.asarray(tf1_lens, dtype=np.int64)
        t1_off = np.concatenate(([0], np.cumsum(t1_lens)))
        t1_sel = b"".join(tf1s[t1_off[i] : t1_off[i + 1]] for i in kept)
        t1 = varint_decode(t1_sel).view(np.int64)
    if with_dl1:
        d1_lens = np.asarray(dl1_lens, dtype=np.int64)
        d1_off = np.concatenate(([0], np.cumsum(d1_lens)))
        d1_sel = b"".join(dls1[d1_off[i] : d1_off[i + 1]] for i in kept)
        d1 = varint_decode(d1_sel).view(np.int64)
    # per-kept-block value counts: all full blocks except possibly the
    # last overall block; recover counts from the tf stream segmentation
    # by decoding per-block sizes via lens -> we already know counts:
    # every block has BLOCK postings except the final one.
    n_total_last = None  # inferred below
    counts = np.full(len(kept), BLOCK, dtype=np.int64)
    # the only short block is the globally-last one
    if kept[-1] == nb - 1:
        counts[-1] = len(vals) - BLOCK * (len(kept) - 1)
    # vectorized per-block cumsum: docs = base_b + (cs - cs_at_block_start)
    cs = np.cumsum(vals, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = vals[starts]  # absolute biased first key per block
    cs_start = cs[starts]
    expand = np.repeat(np.arange(len(kept)), counts)
    u = base[expand] + (cs - cs_start[expand])
    d = (u - _BIAS).view(np.int64)
    del n_total_last
    out = (d, t, l)
    if with_tf1:
        out = out + (t1,)
    if with_dl1:
        out = out + (d1,)
    return out


def encode_position_lists(lists: list[np.ndarray]) -> list[bytes]:
    """Batch-compress per-(term,doc) position lists (ascending ints) as
    delta+varint blobs — one varint pass over the whole batch's
    concatenated deltas, split back by per-row byte counts (no per-row
    Python in the varint hot path). Empty lists encode as b''."""
    if not lists:
        return []
    arrs = [np.asarray(p, dtype=np.int64) for p in lists]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    if lens.sum() == 0:
        return [b""] * len(arrs)
    flat = np.concatenate([a for a in arrs if len(a)]).astype(np.int64)
    # per-row delta with the row's first value kept absolute
    deltas = np.empty(len(flat), dtype=np.uint64)
    deltas[1:] = (flat[1:] - flat[:-1]).view(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))[lens > 0]
    deltas[0] = np.uint64(flat[0])
    deltas[starts] = flat[starts].view(np.uint64)
    buf, sizes = varint_encode_with_sizes(deltas)
    byte_ends = np.concatenate(([0], np.cumsum(sizes)))
    out: list[bytes] = []
    row_start = 0
    for n in lens.tolist():
        if n == 0:
            out.append(b"")
            continue
        b0 = int(byte_ends[row_start])
        b1 = int(byte_ends[row_start + n])
        out.append(buf[b0:b1])
        row_start += n
    return out


def decode_position_list(blob: bytes) -> np.ndarray:
    """Inverse of one row of encode_position_lists -> ascending int64."""
    vals = varint_decode(blob)
    if len(vals) == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(vals.view(np.int64))


def encode_posting_list(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
) -> tuple[bytes, bytes, bytes, np.ndarray, np.ndarray]:
    """Legacy single-stream form (kept for round-trip tests).

    Returns (doc_deltas, tfs_varint, dls_varint, block_max_tf,
    block_min_dl). No global stats needed at encode time — bounds are
    reconstructed from (max_tf, min_dl) at query time (block_summaries)."""
    order = np.argsort(doc_ids, kind="stable")
    d = np.asarray(doc_ids, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.int64)[order]
    l = np.asarray(dls, dtype=np.int64)[order]
    mt, md = block_summaries(t, l)
    return (
        delta_encode_docids(d),
        varint_encode(t.astype(np.uint64)),
        varint_encode(l.astype(np.uint64)),
        mt,
        md,
    )


def decode_posting_list(
    doc_deltas: bytes, tfs: bytes, dls: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids int64 sorted, tf int64, dl int64)."""
    return (
        delta_decode_docids(doc_deltas),
        varint_decode(tfs).view(np.int64),
        varint_decode(dls).view(np.int64),
    )
