"""Batch postings encoder — the one implementation of the posting byte
layout.

Every posting list of an Arrow batch is encoded in one vectorized pass
over flat arrays plus list offsets: no Python work per list, per block
or per posting. ``IndexBuilder.posting_lists`` runs ``pack_batches``
through ``mapInArrow``; the one-list entry points (``pack_postings``,
``pack_positions``, ``pack_offsets``, ``pack_payloads``,
``competitive_impacts_flat``) call the same functions with one row.

Layout of one doc/freq/norm ``blob`` (Lucene references in ``forutil``):

- ``varint(n)``;
- per full 128-posting block: ``[w_d][d…][w_t][t…][w_n][n…]`` — a
  width byte, then the block's doc gaps / term freqs / norm bytes
  bit-packed MSB-first at that width (16·w bytes);
- per tail posting: ``varint((gap << 1) | (tf == 1))``, ``varint(tf)``
  when tf != 1, then the norm as ONE raw byte.

The first gap of a list is ``doc + 1`` (from a virtual doc -1). The
position stream is one varint per occurrence (first position of a doc
absolute, then deltas); the offset stream interleaves varint(start
delta) and varint(end - start); payloads are little-endian float32 per
occurrence, NaN where the occurrence has none. Impacts are the
per-block Pareto frontier of (freq, norm), ordered by block, then norm
ascending.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128  # ForUtil.java:32


def _bit_lengths(m: np.ndarray) -> np.ndarray:
    """Vectorized ``int.bit_length`` over a uint64 array (exact — no
    float log2 edge cases)."""
    m = m.astype(np.uint64, copy=True)
    w = np.zeros(m.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        gt = m >= np.uint64(1 << s)
        w[gt] += s
        m[gt] >>= np.uint64(s)
    return w + m.astype(np.int64)


def _offsets(lens: np.ndarray) -> np.ndarray:
    """[0, cumsum(lens)…]: the boundaries of segments of ``lens``."""
    return np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))


def _seg_sums(x: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Sum of ``x`` over consecutive segments of length ``lens``."""
    return np.diff(_offsets(x)[_offsets(lens)])


def _within(offsets: np.ndarray) -> np.ndarray:
    """Index of each element within its segment."""
    lens = np.diff(offsets)
    return np.arange(offsets[-1]) - np.repeat(offsets[:-1], lens)


def varints(vals: np.ndarray, raw: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 varints of ``vals`` (negative int64 wraps to uint64) in
    one scatter → (bytes, bytes per value). Values flagged in ``raw``
    are written as one raw byte instead (the tail's norm byte)."""
    v = np.asarray(vals).astype(np.uint64)
    nb = np.maximum((_bit_lengths(v) + 6) // 7, 1)
    if raw is not None:
        nb[raw] = 1
    at = _offsets(nb)
    rel = _within(at)
    out = ((np.repeat(v, nb) >> (np.uint64(7) * rel.astype(np.uint64))) & np.uint64(0x7F)).astype(
        np.uint8
    )
    out[rel < np.repeat(nb, nb) - 1] |= 0x80
    if raw is not None:
        out[at[:-1][raw]] = (v[raw] & np.uint64(0xFF)).astype(np.uint8)
    return out, nb


def _interleave(parts: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Row r of the result = part 0's row r bytes, then part 1's, …;
    each part is (concatenated bytes, bytes per row) → (bytes, row
    offsets)."""
    offsets = _offsets(sum(lens for _, lens in parts))
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    base = offsets[:-1].copy()
    for data, lens in parts:
        out[np.repeat(base, lens) + _within(_offsets(lens))] = data
        base += lens
    return out, offsets


def _pack_blocks(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """FOR-pack each row of ``vals`` (k, BLOCK_SIZE) at its own width →
    (bytes, bytes per row): ``[w][16·w bit-packed bytes]`` per row.
    One bit-pack per distinct width."""
    widths = _bit_lengths(vals.max(axis=1, initial=0))
    seg = 1 + widths * (BLOCK_SIZE // 8)
    start = _offsets(seg)[:-1]
    out = np.zeros(int(seg.sum()), dtype=np.uint8)
    out[start] = widths
    for w in np.unique(widths[widths > 0]).tolist():
        sel = widths == w
        bits = np.unpackbits(vals[sel].astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
        dest = (start[sel] + 1)[:, None] + np.arange(w * (BLOCK_SIZE // 8))
        out[dest.ravel()] = np.packbits(bits[:, 64 - w :].reshape(-1))
    return out, seg


def sort_rows(offsets: np.ndarray, docs: np.ndarray) -> np.ndarray | None:
    """Stable per-row sort order by doc id over flat ``docs``, or None
    when every row is already strictly increasing."""
    up = np.diff(docs) > 0
    inner = offsets[1:-1]
    up[inner[(inner > 0) & (inner < len(docs))] - 1] = True  # row boundaries
    if up.all():
        return None
    return np.lexsort((docs, np.repeat(np.arange(len(offsets) - 1), np.diff(offsets))))


def gather_lists(occ_offsets: np.ndarray, perm: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reorder variable-length lists (``occ_offsets`` over a flat
    buffer) by ``perm`` → (new offsets, flat gather index)."""
    new = _offsets(np.diff(occ_offsets)[perm])
    return new, np.repeat(occ_offsets[:-1][perm], np.diff(new)) + _within(new)


def encode_postings(
    offsets: np.ndarray, docs: np.ndarray, tfs: np.ndarray, norms: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Doc/freq/norm blobs of every row (rows = ``offsets`` over flat
    doc-sorted arrays) → (blob bytes, blob offsets, block_last values,
    block_last offsets). ``block_last`` holds the last doc of every
    block, the tail included (the skip-list role). Raises ValueError on
    a repeated or decreasing doc id within a row."""
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64).astype(np.uint64)
    norms = np.asarray(norms, dtype=np.int64).astype(np.uint64)
    lens = np.diff(offsets)
    k = _within(offsets)
    gaps = np.diff(docs, prepend=-1)
    if (gaps[k > 0] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    gaps[k == 0] = docs[k == 0] + 1
    gaps = gaps.astype(np.uint64)
    n_full = lens // BLOCK_SIZE * BLOCK_SIZE
    in_full = k < np.repeat(n_full, lens)

    # full blocks: (block, stream) rows in layout order d, t, n
    blocks = np.stack([s[in_full].reshape(-1, BLOCK_SIZE) for s in (gaps, tfs, norms)], axis=1)
    fb, seg = _pack_blocks(blocks.reshape(-1, BLOCK_SIZE))
    # tail: varint((gap<<1) | tf==1) [, varint(tf)], raw norm byte
    tg, tt, tn = gaps[~in_full], tfs[~in_full], norms[~in_full]
    has_tf = tt != 1
    n_items = 2 + has_tf
    at = _offsets(n_items)
    items = np.empty(int(at[-1]), dtype=np.uint64)
    items[at[:-1]] = (tg << np.uint64(1)) | (~has_tf).astype(np.uint64)
    items[at[:-1][has_tf] + 1] = tt[has_tf]
    items[at[1:] - 1] = tn
    raw = np.zeros(len(items), dtype=bool)
    raw[at[1:] - 1] = True
    tail, tail_nb = varints(items, raw)
    blob, blob_off = _interleave(
        [
            varints(lens),
            (fb, _seg_sums(seg, 3 * (lens // BLOCK_SIZE))),
            (tail, _seg_sums(tail_nb, _seg_sums(n_items, lens - n_full))),
        ]
    )
    last = (k % BLOCK_SIZE == BLOCK_SIZE - 1) | (k == np.repeat(lens, lens) - 1)
    return blob, blob_off, docs[last], _offsets(-(-lens // BLOCK_SIZE))


def impacts(
    offsets: np.ndarray, tfs: np.ndarray, norms: np.ndarray, block_size: int = BLOCK_SIZE
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Competitive impacts of every block of every row (the
    CompetitiveImpactAccumulator frontier: max freq per distinct norm,
    kept only where it beats every smaller norm) → (block within row,
    freq, norm byte, row offsets), ordered by row, block, norm."""
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    lens = np.diff(offsets)
    n_blocks = -(-lens // block_size)
    block0 = _offsets(n_blocks)[:-1]
    g = np.repeat(block0, lens) + _within(offsets) // block_size
    order = np.lexsort((-tfs, norms, g))
    g, nm, tf = g[order], norms[order], tfs[order]
    # max freq per (block, norm): first of each group in this order
    head = np.ones(len(g), dtype=bool)
    head[1:] = (g[1:] != g[:-1]) | (nm[1:] != nm[:-1])
    g, nm, tf = g[head], nm[head], tf[head]
    # norm ascending within a block: keep freqs above the running max;
    # the g * off term resets the max at each new block
    x = g * (int(tf.max(initial=0)) + 1) + tf
    keep = np.ones(len(x), dtype=bool)
    keep[1:] = x[1:] > np.maximum.accumulate(x)[:-1]
    g, nm, tf = g[keep], nm[keep], tf[keep]
    row = np.repeat(np.arange(len(lens)), n_blocks)[g]
    return g - block0[row], tf, nm, _offsets(np.bincount(row, minlength=len(lens)))


def list_deltas(occ_offsets: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Deltas within each list; the first value of a list stays absolute."""
    vals = np.asarray(vals, dtype=np.int64)
    return np.where(_within(occ_offsets) == 0, vals, np.diff(vals, prepend=0))


def encode_occurrences(
    row_offsets: np.ndarray, occ_offsets: np.ndarray, cols: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Varint stream per row over its postings' occurrences
    (``row_offsets`` over postings, ``occ_offsets`` over occurrences),
    one varint per column of ``cols`` per occurrence, interleaved →
    (bytes, row offsets). Positions: [deltas]; offsets: [start deltas,
    end - start]."""
    data, nb = varints(np.stack(cols, axis=1).ravel())
    n_occ = np.diff(occ_offsets[row_offsets])
    return data, _offsets(_seg_sums(nb, len(cols) * n_occ))


def encode_payloads(
    row_offsets: np.ndarray, occ_offsets: np.ndarray, payloads: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Payload streams: little-endian float32 per occurrence → (bytes,
    row offsets)."""
    data = np.ascontiguousarray(payloads, dtype="<f4").view(np.uint8)
    return data, 4 * occ_offsets[row_offsets]


# ---- Arrow batch ----------------------------------------------------------


def _list_parts(arr: pa.ListArray) -> tuple[np.ndarray, pa.Array]:
    """(offsets from 0, child values) of a possibly sliced list array."""
    off = arr.offsets.to_numpy().astype(np.int64)
    return off - off[0], arr.values.slice(off[0], off[-1] - off[0])


def _binary(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    if offsets[-1] >= 2**31:
        raise ValueError("packed column exceeds 2 GiB in one Arrow batch; lower maxRecordsPerBatch")
    return pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _lists(offsets: np.ndarray, values: np.ndarray, typ: pa.DataType) -> pa.Array:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values, typ))


def pack_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Pack one Arrow batch of posting lists.

    Input columns: ``term``, ``chunk_id``, ``docs``, ``tfs``, ``norms``
    (one list per row, any doc order) and optionally ``poss``, ``sts`` /
    ``ens`` and ``pays`` (one inner list per posting; null payloads are
    NaN). Output: the postings table row per input row."""
    col = dict(zip(batch.schema.names, batch.columns))
    offsets, docs = _list_parts(col["docs"])
    docs = docs.to_numpy().astype(np.int64)
    tfs, norms = (_list_parts(col[c])[1].to_numpy().astype(np.int64) for c in ("tfs", "norms"))
    occ = {}
    for c in ("poss", "sts", "ens", "pays"):
        if c in col:
            occ_off, inner = _list_parts(_list_parts(col[c])[1])
            if c == "pays":
                occ[c] = (occ_off, inner.fill_null(np.nan).to_numpy(zero_copy_only=False))
            else:
                occ[c] = (occ_off, inner.to_numpy(zero_copy_only=False).astype(np.int64))
    perm = sort_rows(offsets, docs)
    if perm is not None:
        docs, tfs, norms = docs[perm], tfs[perm], norms[perm]
        for c, (occ_off, vals) in occ.items():
            new_off, idx = gather_lists(occ_off, perm)
            occ[c] = (new_off, vals[idx])

    blob, blob_off, bl, bl_off = encode_postings(offsets, docs, tfs, norms)
    ib, if_, in_, imp_off = impacts(offsets, tfs, norms)
    null = pa.nulls(batch.num_rows, pa.binary())
    streams = {c: null for c in ("pos_blob", "off_blob", "pay_blob")}
    if "poss" in occ:
        po, pv = occ["poss"]
        streams["pos_blob"] = _binary(*encode_occurrences(offsets, po, [list_deltas(po, pv)]))
    if "sts" in occ:
        (so, sv), (_, ev) = occ["sts"], occ["ens"]
        cols = [list_deltas(so, sv), ev - sv]
        streams["off_blob"] = _binary(*encode_occurrences(offsets, so, cols))
    if "pays" in occ:
        streams["pay_blob"] = _binary(*encode_payloads(offsets, *occ["pays"]))
    return pa.RecordBatch.from_pydict(
        {
            "term": col["term"],
            "chunk_id": col["chunk_id"],
            "df": pa.array(np.diff(offsets), pa.int32()),
            "ttf": pa.array(_seg_sums(tfs, np.diff(offsets)), pa.int64()),
            "blob": _binary(blob, blob_off),
            **streams,
            "block_last": _lists(bl_off, bl, pa.int64()),
            "imp_block": _lists(imp_off, ib, pa.int32()),
            "imp_freq": _lists(imp_off, if_, pa.int32()),
            "imp_norm": _lists(imp_off, in_, pa.int32()),
        }
    )


def pack_batches(batches):
    """``mapInArrow`` function: ``pack_batch`` over every batch."""
    for b in batches:
        yield pack_batch(b)
