"""Varint/delta round-trip (property-based, FIXTURES.md §4) + block-max
soundness: the block bound must dominate every true in-block score."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.compression import (
    BLOCK,
    block_maxes,
    bm25_score,
    decode_posting_list,
    delta_decode_docids,
    delta_encode_docids,
    encode_posting_list,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=1000))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        max_size=500,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_signed_docids(ids):
    ids.sort()
    arr = np.array(ids, dtype=np.int64)
    out = delta_decode_docids(delta_encode_docids(arr))
    assert out.tolist() == ids


def test_large_gaps():
    ids = np.array([-(2**62), 0, 2**40, 2**62], dtype=np.int64)
    assert delta_decode_docids(delta_encode_docids(ids)).tolist() == ids.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**60), max_value=2**60),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=1,
        max_size=600,
    )
)
@settings(max_examples=100, deadline=None)
def test_posting_list_roundtrip_and_blockmax(postings):
    # unique doc ids
    seen, rows = set(), []
    for d, t, l in postings:
        if d not in seen:
            seen.add(d)
            rows.append((d, t, l))
    doc_ids = np.array([r[0] for r in rows], dtype=np.int64)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    idf, avgdl = 1.7, 120.0
    dd, tv, lv, mt, md = encode_posting_list(doc_ids, tfs, dls)
    d2, t2, l2 = decode_posting_list(dd, tv, lv)
    order = np.argsort(doc_ids, kind="stable")
    assert d2.tolist() == doc_ids[order].tolist()
    assert t2.tolist() == tfs[order].tolist()
    assert l2.tolist() == dls[order].tolist()
    # block-bound soundness: the query-time bound bm25(max_tf, min_dl)
    # must dominate every true score in the block, for ANY (idf, avgdl)
    scores = bm25_score(t2, l2, idf, avgdl)
    bm = bm25_score(mt, md, idf, avgdl)
    assert len(bm) == (len(d2) + BLOCK - 1) // BLOCK
    for i, s in enumerate(scores):
        assert bm[i // BLOCK] >= s


def test_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").tolist() == []
    assert delta_encode_docids(np.empty(0, dtype=np.int64)) == b""
    assert block_maxes(
        np.empty(0), np.empty(0), 1.0, 1.0
    ).tolist() == []


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**60), max_value=2**60),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=0,
        max_size=700,
    ),
    st.randoms(),
)
@settings(max_examples=100, deadline=None)
def test_block_codec_roundtrip_and_selective_decode(postings, rnd):
    """Block-structured codec: full decode round-trips; masked decode
    returns exactly the kept blocks' postings without touching the rest."""
    from search_engine_spark.functions.compression import (
        decode_posting_blocks,
        encode_posting_blocks,
    )

    seen, rows = set(), []
    for d, t, l in postings:
        if d not in seen:
            seen.add(d)
            rows.append((d, t, l))
    rows.sort()
    d = np.array([r[0] for r in rows], dtype=np.int64)
    t = np.array([r[1] for r in rows], dtype=np.int64)
    l = np.array([r[2] for r in rows], dtype=np.int64)
    enc = encode_posting_blocks(d, t, l)
    d2, t2, l2 = decode_posting_blocks(
        enc["doc_deltas"], enc["tfs"], enc["dls"],
        enc["db_lens"], enc["tf_lens"], enc["dl_lens"],
    )
    assert d2.tolist() == d.tolist()
    assert t2.tolist() == t.tolist()
    assert l2.tolist() == l.tolist()
    nb = len(enc["db_lens"])
    assert nb == (len(d) + BLOCK - 1) // BLOCK
    if nb:
        keep = np.array([rnd.random() < 0.5 for _ in range(nb)], dtype=bool)
        d3, t3, l3 = decode_posting_blocks(
            enc["doc_deltas"], enc["tfs"], enc["dls"],
            enc["db_lens"], enc["tf_lens"], enc["dl_lens"], keep,
        )
        mask = np.repeat(keep, BLOCK)[: len(d)]
        assert d3.tolist() == d[mask].tolist()
        assert t3.tolist() == t[mask].tolist()
        assert l3.tolist() == l[mask].tolist()


# --- positional codec (delta+varint per (term,doc) list) -------------------


def test_position_lists_roundtrip():
    import numpy as np

    from search_engine_spark.functions.compression import (
        decode_position_list,
        encode_position_lists,
    )

    rng = np.random.default_rng(7)
    lists = []
    for n in [0, 1, 2, 5, 128, 400, 0, 3]:
        if n == 0:
            lists.append(np.empty(0, dtype=np.int64))
        else:
            lists.append(np.cumsum(rng.integers(1, 50, size=n)).astype(np.int64))
    blobs = encode_position_lists(lists)
    assert len(blobs) == len(lists)
    for blob, orig in zip(blobs, lists):
        got = decode_position_list(blob)
        assert got.tolist() == orig.tolist()


def test_position_blob_smaller_than_int_arrays():
    """The point of the codec: small ascending deltas fit ~1 byte each."""
    import numpy as np

    from search_engine_spark.functions.compression import encode_position_lists

    lists = [np.arange(0, 1000, 3, dtype=np.int64) for _ in range(20)]
    blobs = encode_position_lists(lists)
    raw = sum(len(p) * 4 for p in lists)  # int32 array baseline
    enc = sum(len(b) for b in blobs)
    assert enc < raw / 2


# --- PForDelta (north rule's varint/PForDelta pair) -------------------------


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=128))
@settings(max_examples=150, deadline=None)
def test_pfor_block_roundtrip(vals):
    """Scalar block codec (the executable wire-format spec) round-trips
    any 1..128 uint64 values, including the width-64 exception path."""
    from search_engine_spark.functions.compression import (
        _pfor_decode_block,
        _pfor_encode_block,
    )

    v = np.array(vals, dtype=np.uint64)
    buf = _pfor_encode_block(v)
    assert _pfor_decode_block(buf).tolist() == v.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=900),
    st.randoms(),
)
@settings(max_examples=100, deadline=None)
def test_pfor_stream_matches_scalar_spec(vals, rnd):
    """The vectorized stream encoder is byte-identical to per-block scalar
    encoding (the spec), and kept-block decode returns exactly the kept
    blocks — the same spec-vs-fast-path discipline as the lemmatizer."""
    from search_engine_spark.functions.compression import (
        BLOCK,
        _pfor_decode_kept,
        _pfor_encode_block,
        pfor_encode_stream,
    )

    v = np.array(vals, dtype=np.uint64)
    buf, lens = pfor_encode_stream(v)
    chunks = [
        _pfor_encode_block(v[s : s + BLOCK]) for s in range(0, len(v), BLOCK)
    ]
    assert buf == b"".join(chunks)
    assert lens.tolist() == [len(c) for c in chunks]
    nb = len(lens)
    got, counts = _pfor_decode_kept(buf, lens, np.arange(nb))
    assert got.tolist() == v.tolist()
    assert int(counts.sum()) == len(v)
    kept = np.flatnonzero(np.array([rnd.random() < 0.5 for _ in range(nb)]))
    got, _ = _pfor_decode_kept(buf, lens, kept)
    exp = np.concatenate(
        [v[i * BLOCK : (i + 1) * BLOCK] for i in kept]
    ) if len(kept) else np.empty(0, dtype=np.uint64)
    assert got.tolist() == exp.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**60), max_value=2**60),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=5000),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=700,
    ),
    st.randoms(),
)
@settings(max_examples=60, deadline=None)
def test_pfor_posting_blocks_equal_varint(postings, rnd):
    """encode/decode_posting_blocks under codec=pfor produces the SAME
    decoded postings (all five streams) and the SAME block metadata as
    codec=varint, for full and masked decodes — the codecs are
    interchangeable at the decode contract."""
    from search_engine_spark.functions.compression import (
        decode_posting_blocks,
        encode_posting_blocks,
    )

    seen, rows = set(), []
    for d, t, l, t1, d1 in postings:
        if d not in seen:
            seen.add(d)
            rows.append((d, t, l, min(t1, t), d1))
    d = np.array([r[0] for r in rows], dtype=np.int64)
    t = np.array([r[1] for r in rows], dtype=np.int64)
    l = np.array([r[2] for r in rows], dtype=np.int64)
    t1 = np.array([r[3] for r in rows], dtype=np.int64)
    d1 = np.array([r[4] for r in rows], dtype=np.int64)
    ev = encode_posting_blocks(d, t, l, t1, dl1s=d1, codec="varint")
    ep = encode_posting_blocks(d, t, l, t1, dl1s=d1, codec="pfor")
    assert ev["codec"] == 0 and ep["codec"] == 1
    for meta in ("block_max_tf", "block_min_dl", "block_max_tf1",
                 "block_min_dl1", "block_min_dlb"):
        assert ev[meta].tolist() == ep[meta].tolist()
    nb = len(ev["db_lens"])
    assert len(ep["db_lens"]) == nb
    masks = [None]
    if nb:
        masks.append(np.array([rnd.random() < 0.5 for _ in range(nb)]))
    for keep in masks:
        ov = decode_posting_blocks(
            ev["doc_deltas"], ev["tfs"], ev["dls"],
            ev["db_lens"], ev["tf_lens"], ev["dl_lens"], keep,
            ev["tf1s"], ev["tf1_lens"], ev["dls1"], ev["dl1_lens"],
            codec=0,
        )
        op = decode_posting_blocks(
            ep["doc_deltas"], ep["tfs"], ep["dls"],
            ep["db_lens"], ep["tf_lens"], ep["dl_lens"], keep,
            ep["tf1s"], ep["tf1_lens"], ep["dls1"], ep["dl1_lens"],
            codec=1,
        )
        for a, b in zip(ov, op):
            assert a.tolist() == b.tolist()


def test_pfor_docids_only_and_empty():
    from search_engine_spark.functions.compression import (
        codec_id,
        decode_docids_blocks,
        encode_posting_blocks,
        pfor_encode_stream,
        _pfor_decode_kept,
    )

    rng = np.random.default_rng(3)
    d = np.unique(rng.integers(-(2**62), 2**62, size=4000, dtype=np.int64))
    t = rng.integers(1, 9, size=len(d), dtype=np.int64)
    l = rng.integers(1, 400, size=len(d), dtype=np.int64)
    ev = encode_posting_blocks(d, t, l, codec="varint")
    ep = encode_posting_blocks(d, t, l, codec="pfor")
    assert decode_docids_blocks(
        ep["doc_deltas"], ep["db_lens"], codec=1
    ).tolist() == decode_docids_blocks(
        ev["doc_deltas"], ev["db_lens"], codec=0
    ).tolist()
    # empty stream / empty kept set
    buf, lens = pfor_encode_stream(np.empty(0, dtype=np.uint64))
    assert buf == b"" and lens.tolist() == []
    vals, counts = _pfor_decode_kept(b"", lens, np.empty(0, dtype=np.int64))
    assert vals.tolist() == [] and counts.tolist() == []
    # codec id validation
    assert codec_id("varint") == 0 and codec_id("pfor") == 1
    assert codec_id(1) == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        codec_id(7)


def test_pfor_smaller_on_clustered_gaps():
    """The point of bit-packing: dense docID runs (small uniform gaps)
    pack far below the varint 1-byte-per-value floor."""
    from search_engine_spark.functions.compression import encode_posting_blocks

    d = np.arange(0, 60_000, 2, dtype=np.int64)  # all gaps = 2 -> 2 bits
    t = np.ones(len(d), dtype=np.int64)
    l = np.full(len(d), 37, dtype=np.int64)
    ev = encode_posting_blocks(d, t, l, codec="varint")
    ep = encode_posting_blocks(d, t, l, codec="pfor")
    assert len(ep["doc_deltas"]) < len(ev["doc_deltas"]) / 2
    assert len(ep["tfs"]) < len(ev["tfs"]) / 2


# --- batched encode kernel vs the per-group wire spec ----------------------


def _spec_encode_group(d, t, l, t1, d1, codec):
    """The wire format of ONE doc-sorted posting list, encoded on its own:
    blocks of BLOCK postings from the list's start (the last may be
    short), each block's first doc delta its absolute +2^63-biased key,
    per-block byte lengths for all five streams, per-block extrema, and
    the first THETA_K postings by (tf desc, dl asc, row order). PFor
    blocks come from the scalar per-block spec."""
    from search_engine_spark.functions.compression import (
        _BIAS,
        CODEC_PFOR,
        THETA_K,
        _pfor_encode_block,
        block_summaries,
        varint_encode_with_sizes,
    )

    n = len(d)
    starts = np.arange(0, n, BLOCK)
    u = d.view(np.uint64) + _BIAS
    deltas = np.concatenate((u[:1], u[1:] - u[:-1]))
    deltas[starts] = u[starts]

    def stream(vals):
        vals = vals.astype(np.uint64)
        if codec == CODEC_PFOR:
            blocks = [_pfor_encode_block(vals[s : s + BLOCK]) for s in starts]
            return b"".join(blocks), [len(b) for b in blocks]
        buf, sz = varint_encode_with_sizes(vals)
        return buf, np.add.reduceat(sz, starts).tolist()

    mt, md = block_summaries(t, l)
    mt1, md1 = block_summaries(t1, d1)
    _, mdb = block_summaries(t1, l - d1)
    top = np.lexsort((l, -t))[:THETA_K]
    out = {
        "n_docs": n, "max_tf": int(t.max()), "min_dl": int(l.min()),
        "block_max_tf": mt.tolist(), "block_min_dl": md.tolist(),
        "block_max_tf1": mt1.tolist(), "block_min_dl1": md1.tolist(),
        "block_min_dlb": mdb.tolist(),
        "theta_docs": d[top].tolist(), "theta_tfs": t[top].tolist(),
        "theta_dls": l[top].tolist(), "theta_tf1s": t1[top].tolist(),
        "theta_dl1s": d1[top].tolist(),
    }
    for name, lens, vals in (
        ("doc_deltas", "db_lens", deltas), ("tfs", "tf_lens", t),
        ("dls", "dl_lens", l), ("tf1s", "tf1_lens", t1),
        ("dls1", "dl1_lens", d1),
    ):
        out[name], out[lens] = stream(vals)
    return out


@given(
    st.lists(st.sampled_from([1, 2, 127, 128, 129, 257]), max_size=8),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_group_kernel_equals_per_group_spec(sizes, with_fields, seed):
    """encode_posting_groups over a whole batch == the per-group wire
    spec, byte for byte, for both codecs: group sizes around the block
    edge, zero and nonzero tf1/dl1, tied tf/dl (theta order), wide doc
    gaps and tf outliers (PFor exceptions), and the empty batch."""
    from search_engine_spark.functions.compression import (
        GROUP_COLS,
        encode_posting_groups,
    )

    rng = np.random.default_rng(seed)
    n = sum(sizes)
    d = np.concatenate(
        [np.sort(rng.choice(2**62, s, replace=False)) - 2**61 for s in sizes]
        or [np.empty(0, dtype=np.int64)]
    ).astype(np.int64)
    t = rng.integers(1, 4, n)
    t[rng.random(n) < 0.02] = 2**40  # exceptions in an otherwise narrow block
    l = rng.integers(1, 30, n)
    t1 = rng.integers(0, 2, n) if with_fields else np.zeros(n, dtype=np.int64)
    d1 = np.minimum(rng.integers(0, 5, n), l) if with_fields else t1
    starts = np.cumsum([0] + sizes)[:-1].astype(np.int64)
    for codec in (0, 1):
        enc = encode_posting_groups(starts, d, t, l, t1, d1, codec)
        assert set(enc) == set(GROUP_COLS)
        got = {c: enc[c].to_pylist() for c in GROUP_COLS}
        assert all(len(v) == len(sizes) for v in got.values())
        for i, (s, k) in enumerate(zip(starts, sizes)):
            spec = _spec_encode_group(
                d[s : s + k], t[s : s + k], l[s : s + k], t1[s : s + k],
                d1[s : s + k], codec,
            )
            assert {c: got[c][i] for c in GROUP_COLS} == spec
