"""Per-list reference encoders for the posting byte layout.

These are the one-list encoders the package used before packing moved
to the batch kernel (``lucene_spark.codec.batch``). They are kept here,
outside the package, as the independent oracle the kernel is checked
against byte for byte: a scalar varint writer, per-width FOR bit
packing, and a per-list impacts frontier.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _write_varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _bit_lengths(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.uint64, copy=True)
    w = np.zeros(m.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        gt = m >= np.uint64(1 << s)
        w[gt] += s
        m[gt] >>= np.uint64(s)
    return w + m.astype(np.int64)


def varint_encode_array(vals: np.ndarray) -> bytes:
    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    bl = _bit_lengths(v)
    nb = np.maximum((bl + 6) // 7, 1)
    offsets = np.concatenate(([0], np.cumsum(nb)[:-1]))
    total = int(nb.sum())
    idx = np.arange(total, dtype=np.int64)
    starts = np.repeat(offsets, nb)
    rel = idx - starts
    vr = np.repeat(v, nb)
    out = ((vr >> (np.uint64(7) * rel.astype(np.uint64))) & np.uint64(0x7F)).astype(np.uint8)
    cont = rel < np.repeat(nb, nb) - 1
    out[cont] |= 0x80
    return out.tobytes()


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    if width == 0:
        return b""
    bits = np.unpackbits(vals.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    return np.packbits(bits[:, 64 - width :].reshape(-1)).tobytes()


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray | None = None) -> tuple[bytes, np.ndarray]:
    """Encode one posting list (doc gaps + term freqs + norm bytes).

    Parameters: ``doc_ids`` strictly-increasing int64, ``tfs`` positive
    int32, ``norms`` 0..255 norm bytes (inlined so BM25 scoring needs no
    norms join — Lucene reads .nvd per doc during scoring; the columnar
    equivalent is carrying the byte next to the freq). Returns
    ``(blob, block_last_docids)`` where ``block_last_docids`` has one
    entry per *full* 128-block (the skip-list role: block-level random
    access / WAND skipping without decoding).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.zeros(len(doc_ids), dtype=np.int64) if norms is None else np.asarray(norms, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return b"\x00", np.empty(0, dtype=np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = doc_ids[0] + 1  # gap from virtual doc -1 → always >= 1
    if n > 1:
        gaps = np.diff(doc_ids)
        if (gaps <= 0).any():
            raise ValueError("doc_ids must be strictly increasing")
        deltas[1:] = gaps.astype(np.uint64)

    out = bytearray()
    _write_varint(out, n)
    n_full = n // BLOCK_SIZE
    # last doc of EVERY block (incl. the tail) — the skip-list entries;
    # exact ends are what lets WAND map blocks to doc intervals.
    block_last = doc_ids[BLOCK_SIZE - 1 :: BLOCK_SIZE].copy()
    if n % BLOCK_SIZE:
        block_last = np.append(block_last, doc_ids[-1])
    if n_full:
        # Vectorized across blocks (byte layout identical to the old
        # per-block loop): per-block widths from a reshape-max, then
        # pack all same-width blocks of a stream in ONE _pack_bits call
        # and scatter the bytes to their interleaved offsets. A hot
        # chunk row (docs_per_chunk postings) packs with ~a dozen numpy
        # calls instead of 3*n_blocks Python iterations — the pack
        # stage is the build's long pole, and straggler tasks there are
        # what erodes N→4N scaling efficiency.
        streams = (
            deltas[: n_full * BLOCK_SIZE].reshape(n_full, BLOCK_SIZE),
            tfs[: n_full * BLOCK_SIZE].astype(np.uint64).reshape(n_full, BLOCK_SIZE),
            norms[: n_full * BLOCK_SIZE].astype(np.uint64).reshape(n_full, BLOCK_SIZE),
        )
        widths = [_bit_lengths(s.max(axis=1)) for s in streams]  # (3, n_full)
        bytes_per = [w * (BLOCK_SIZE // 8) for w in widths]
        # per-block segment = [w_d][d..][w_t][t..][w_n][n..]
        seg = 3 + bytes_per[0] + bytes_per[1] + bytes_per[2]
        starts = np.concatenate(([0], np.cumsum(seg)[:-1]))
        total = int(seg.sum())
        buf = np.zeros(total, dtype=np.uint8)
        # stream-relative offsets of the width byte within each segment
        rel = [
            np.zeros(n_full, dtype=np.int64),
            1 + bytes_per[0],
            2 + bytes_per[0] + bytes_per[1],
        ]
        for si, stream in enumerate(streams):
            wpos = starts + rel[si]
            buf[wpos] = widths[si].astype(np.uint8)
            dstart = wpos + 1
            for w in np.unique(widths[si]):
                if w == 0:
                    continue
                sel = widths[si] == w
                packed = np.frombuffer(_pack_bits(stream[sel].ravel(), int(w)), dtype=np.uint8)
                nb = int(w) * (BLOCK_SIZE // 8)
                dest = (
                    np.repeat(dstart[sel], nb)
                    + np.tile(np.arange(nb, dtype=np.int64), int(sel.sum()))
                )
                buf[dest] = packed
        out += buf.tobytes()
    # VInt tail with freq-parity trick (Lucene90PostingsFormat.java:196-211)
    for i in range(n_full * BLOCK_SIZE, n):
        d, f = int(deltas[i]), int(tfs[i])
        _write_varint(out, (d << 1) | (1 if f == 1 else 0))
        if f != 1:
            _write_varint(out, f)
        out.append(int(norms[i]))
    return bytes(out), block_last


def pack_positions(pos_lists: list) -> bytes:
    if len(pos_lists) == 0:
        return b""
    lens = np.fromiter((len(p) for p in pos_lists), dtype=np.int64, count=len(pos_lists))
    if lens.sum() == 0:
        return b""
    flat = np.concatenate(pos_lists).astype(np.int64, copy=False)
    deltas = np.empty(len(flat), dtype=np.int64)
    deltas[0] = flat[0]
    deltas[1:] = flat[1:] - flat[:-1]
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    deltas[starts] = flat[starts]
    return varint_encode_array(deltas)


def pack_offsets(start_lists: list, end_lists: list) -> bytes:
    if len(start_lists) == 0:
        return b""
    lens = np.fromiter((len(p) for p in start_lists), dtype=np.int64, count=len(start_lists))
    total = int(lens.sum())
    if total == 0:
        return b""
    fs = np.concatenate(start_lists).astype(np.int64, copy=False)
    fe = np.concatenate(end_lists).astype(np.int64, copy=False)
    deltas = np.empty(total, dtype=np.int64)
    deltas[0] = fs[0]
    deltas[1:] = fs[1:] - fs[:-1]
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    deltas[starts] = fs[starts]
    inter = np.empty(total * 2, dtype=np.int64)
    inter[0::2] = deltas
    inter[1::2] = fe - fs
    return varint_encode_array(inter)


def pack_payloads(pay_lists: list) -> bytes:
    if len(pay_lists) == 0:
        return b""
    flat = np.concatenate([np.asarray(p, dtype=np.float32) for p in pay_lists])
    if len(flat) == 0:
        return b""
    return flat.astype("<f4", copy=False).tobytes()


def competitive_impacts_flat(
    tfs: np.ndarray, norms: np.ndarray, block_size: int = 128
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pareto frontiers for ALL 128-blocks of a posting list at once —
    the vectorized form of ``competitive_impacts`` mapped over blocks
    (one lexsort over the whole list instead of a Python call per
    block; the pack stage runs this once per chunk row).

    Returns ``(block_ids, freqs, norm_bytes)`` flat arrays, ordered by
    (block, norm ascending) — identical content to looping
    ``competitive_impacts`` per block.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    n = len(tfs)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    # per-block sort by (norm asc, tf desc) as ONE batched np.sort over
    # a composite uint64 key (norm<<40 | ~tf) — blocks are contiguous,
    # so the sort is row-wise on a (n_blocks, block_size) reshape; pad
    # the tail block with +inf keys that sort last and are dropped.
    TFM = np.uint64((1 << 40) - 1)
    comp = (norms.astype(np.uint64) << np.uint64(40)) | (TFM - tfs.astype(np.uint64))
    n_blocks = -(-n // block_size)
    pad = n_blocks * block_size - n
    if pad:
        comp = np.concatenate([comp, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))])
    comp = np.sort(comp.reshape(n_blocks, block_size), axis=1).ravel()
    valid = comp != np.uint64(0xFFFFFFFFFFFFFFFF)
    b = np.repeat(np.arange(n_blocks, dtype=np.int64), block_size)[valid]
    comp = comp[valid]
    nm = (comp >> np.uint64(40)).astype(np.int64)
    tf = (TFM - (comp & TFM)).astype(np.int64)
    # max freq per distinct (block, norm): first row of each group
    first = np.ones(n, dtype=bool)
    first[1:] = (b[1:] != b[:-1]) | (nm[1:] != nm[:-1])
    b, nm, tf = b[first], nm[first], tf[first]
    # within each block (norm ascending) keep rows whose freq exceeds
    # the running max — segmented cummax via a per-block offset large
    # enough that a new block always resets the global running max
    off = int(tf.max()) + 1
    x = b * off + tf
    run = np.maximum.accumulate(x)
    keep = np.ones(len(x), dtype=bool)
    keep[1:] = x[1:] > run[:-1]
    return b[keep], tf[keep], nm[keep]
