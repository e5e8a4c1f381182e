"""FOR/varint-style posting-list compression (numpy kernels).

Semantics follow Lucene's Lucene90 postings format (reference:
lucene/core/src/java/org/apache/lucene/codecs/lucene90/Lucene90PostingsWriter.java:211-272,
ForUtil.java:32, Lucene90PostingsFormat.java:44-59,141-143):

- doc IDs are stored as deltas (gaps) from the previous doc ID,
- full blocks of 128 values are bit-packed with a per-block bit width
  (frame-of-reference; we use plain FOR, not PFOR-with-exceptions),
- the tail (< 128 entries) is VInt-coded with Lucene's freq-parity
  trick: ``(delta << 1) | (tf == 1)`` followed by ``tf`` only when
  tf != 1 (Lucene90PostingsFormat.java:196-211),
- per full block we retain the last doc ID (the skip-list role:
  MultiLevelSkipListWriter.java:53 → here a plain array enabling
  random access / block skipping without decoding).

The byte layout itself is ours (this is not a file-format port); the
*properties* — 128-value blocks, per-block width, delta gaps, varint
tail — match the reference so compression behavior is comparable.

The encoder is ``lucene_spark.codec.batch``, the one implementation of
this layout: the build packs whole Arrow batches with it, and
``pack_postings`` below is a one-row call into it. This module holds
the decoders.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.batch import BLOCK_SIZE, encode_postings


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def varint_decode_array(buf: bytes, start: int = 0) -> np.ndarray:
    """Vectorized inverse of ``batch.varints`` over buf[start:]
    (must contain only whole varints)."""
    b = np.frombuffer(buf, dtype=np.uint8, offset=start).astype(np.uint64)
    if len(b) == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (b & np.uint64(0x80)) == 0
    group_start = np.concatenate(([True], is_last[:-1]))
    starts_idx = np.nonzero(group_start)[0]
    rel = np.arange(len(b), dtype=np.int64) - np.repeat(
        starts_idx, np.diff(np.concatenate((starts_idx, [len(b)])))
    )
    contrib = (b & np.uint64(0x7F)) << (np.uint64(7) * rel.astype(np.uint64))
    return np.add.reduceat(contrib, starts_idx).astype(np.int64)


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray | None = None) -> tuple[bytes, np.ndarray]:
    """Encode one posting list (doc gaps + term freqs + norm bytes) — a
    one-row call into ``batch.encode_postings``.

    Parameters: ``doc_ids`` strictly-increasing int64, ``tfs`` positive
    int32, ``norms`` 0..255 norm bytes (inlined so BM25 scoring needs no
    norms join — Lucene reads .nvd per doc during scoring; the columnar
    equivalent is carrying the byte next to the freq). Returns
    ``(blob, block_last_docids)`` where ``block_last_docids`` has one
    entry per block, the tail included (the skip-list role: block-level
    random access / WAND skipping without decoding).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    norms = np.zeros(len(doc_ids), dtype=np.int64) if norms is None else norms
    blob, _, block_last, _ = encode_postings(np.array([0, len(doc_ids)]), doc_ids, tfs, norms)
    return blob.tobytes(), block_last


def _unpack_blocks_by_width(
    buf: np.ndarray, by_w: dict, nb: int
) -> np.ndarray:
    """Batched FOR-block bit-unpack: ``by_w`` maps width → [(row,
    byte_pos)] into ``buf`` (uint8 view of the blob); returns an
    (nb, BLOCK_SIZE) int64 matrix with each listed row filled. ONE
    numpy unpack per distinct width (chunked to bound the 64-bit
    staging buffer at ~4 MB) instead of one per block — per-call numpy
    overhead was the decode bottleneck on dense terms (hundreds of
    thousands of 128-int blocks per query at web-corpus df)."""
    out = np.zeros((nb, BLOCK_SIZE), dtype=np.int64)
    for w, items in by_w.items():
        if w == 0:
            continue  # rows stay zero
        nbytes = (BLOCK_SIZE * w + 7) // 8
        rows = np.fromiter((r for r, _ in items), dtype=np.int64, count=len(items))
        poss = np.fromiter((p for _, p in items), dtype=np.int64, count=len(items))
        ch = max(1, (1 << 22) // (BLOCK_SIZE * 8))
        for i in range(0, len(items), ch):
            rr = rows[i : i + ch]
            pp = poss[i : i + ch]
            seg = buf[pp[:, None] + np.arange(nbytes)]
            bits = np.unpackbits(seg, axis=1, count=BLOCK_SIZE * w).reshape(
                len(rr), BLOCK_SIZE, w
            )
            stage = np.zeros((len(rr), BLOCK_SIZE, 64), dtype=np.uint8)
            stage[:, :, 64 - w :] = bits
            out[rr] = (
                np.packbits(stage.reshape(-1, 64), axis=1)
                .view(">u8")
                .reshape(len(rr), BLOCK_SIZE)
                .astype(np.int64)
            )
    return out


def unpack_postings(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ``pack_postings`` output → (doc_ids int64, tfs int32, norms uint8)."""
    from collections import defaultdict

    n, pos = _read_varint(blob, 0)
    if n == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32), np.empty(0, dtype=np.uint8))
    deltas = np.empty(n, dtype=np.uint64)
    tfs = np.empty(n, dtype=np.int64)
    norms = np.empty(n, dtype=np.int64)
    n_full = n // BLOCK_SIZE
    if n_full:
        by_w: list[dict] = [defaultdict(list) for _ in range(3)]
        for b in range(n_full):
            for s in range(3):
                w = blob[pos]
                pos += 1
                by_w[s][w].append((b, pos))
                pos += (BLOCK_SIZE * w + 7) // 8
        buf = np.frombuffer(blob, dtype=np.uint8)
        hi = n_full * BLOCK_SIZE
        deltas[:hi] = _unpack_blocks_by_width(buf, by_w[0], n_full).ravel()
        tfs[:hi] = _unpack_blocks_by_width(buf, by_w[1], n_full).ravel()
        norms[:hi] = _unpack_blocks_by_width(buf, by_w[2], n_full).ravel()
    for i in range(n_full * BLOCK_SIZE, n):
        v, pos = _read_varint(blob, pos)
        deltas[i] = v >> 1
        if v & 1:
            tfs[i] = 1
        else:
            tfs[i], pos = _read_varint(blob, pos)
        norms[i] = blob[pos]
        pos += 1
    doc_ids = np.cumsum(deltas.astype(np.int64)) - 1
    return doc_ids, tfs.astype(np.int32), norms.astype(np.uint8)


def decode_blocks(blob: bytes, blocks: list[int], block_last: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Selectively decode only the given 128-blocks (sorted indices;
    ``n_full`` means the VInt tail). This is the skip-list payoff
    (MultiLevelSkipListWriter.java:53 → block-boundary arrays here):
    non-competitive blocks are *skipped over* — header walk only, no
    bit-unpacking — which is what makes block-max WAND pruning pay.

    ``block_last`` (from the index, one entry per block incl. tail)
    provides the absolute doc-id base for each block so deltas can be
    rebased without decoding precursors.
    """
    from collections import defaultdict

    n, pos = _read_varint(blob, 0)
    n_full = n // BLOCK_SIZE
    wanted = set(int(b) for b in blocks)
    out_docs, out_tfs, out_norms = [], [], []
    order = sorted(b for b in wanted if b < n_full)
    if order:
        brow = {b: i for i, b in enumerate(order)}
        by_w: list[dict] = [defaultdict(list) for _ in range(3)]
        for b in range(n_full):
            take = b in wanted
            for s in range(3):
                w = blob[pos]
                pos += 1
                if take:
                    by_w[s][w].append((brow[b], pos))
                pos += (BLOCK_SIZE * w + 7) // 8
        buf = np.frombuffer(blob, dtype=np.uint8)
        nb = len(order)
        dmat = _unpack_blocks_by_width(buf, by_w[0], nb)
        tmat = _unpack_blocks_by_width(buf, by_w[1], nb)
        nmat = _unpack_blocks_by_width(buf, by_w[2], nb)
        ob = np.asarray(order, dtype=np.int64)
        bases = np.where(ob > 0, block_last[np.maximum(ob - 1, 0)], -1)
        docs_mat = bases[:, None] + np.cumsum(dmat, axis=1)
        out_docs.append(docs_mat.ravel())
        out_tfs.append(tmat.ravel())
        out_norms.append(nmat.ravel())
    else:
        for b in range(n_full):
            for _ in range(3):  # skip: header walk only
                w = blob[pos]
                pos += 1 + (BLOCK_SIZE * w + 7) // 8
    if n_full in wanted and n > n_full * BLOCK_SIZE:
        cnt = n - n_full * BLOCK_SIZE
        deltas = np.empty(cnt, dtype=np.int64)
        tfs = np.empty(cnt, dtype=np.int64)
        norms = np.empty(cnt, dtype=np.int64)
        for i in range(cnt):
            v, pos = _read_varint(blob, pos)
            deltas[i] = v >> 1
            tfs[i] = 1 if (v & 1) else 0
            if not (v & 1):
                tfs[i], pos = _read_varint(blob, pos)
            norms[i] = blob[pos]
            pos += 1
        base = int(block_last[n_full - 1]) if n_full > 0 else -1
        out_docs.append(base + np.cumsum(deltas))
        out_tfs.append(tfs)
        out_norms.append(norms)
    if not out_docs:
        return (np.empty(0, dtype=np.int64),) * 3
    return (
        np.concatenate(out_docs),
        np.concatenate(out_tfs),
        np.concatenate(out_norms),
    )
