"""Position stream codec (the .pos file role).

Reference: Lucene stores per-term per-doc position deltas VInt-coded in
a separate .pos file so the doc/freq stream can be read without
touching positions (Lucene90PostingsFormat.java:60-63 file split;
positions written Lucene90PostingsWriter.java). Same split here: the
position blob is a separate nullable column decoded only by phrase
queries.

Layout: for each doc in posting order, ``tf`` varint position deltas
(first absolute, then gaps) — doc boundaries are implied by the tf
array from the doc/freq stream, exactly like the reference.

The encoders here are one-row calls into ``lucene_spark.codec.batch``,
the one implementation of the position, offset and payload layouts
(the build packs whole Arrow batches with it); this module holds the
decoders.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.batch import encode_occurrences, encode_payloads, list_deltas
from lucene_spark.codec.forutil import varint_decode_array


def _flat(lists, dtype) -> tuple[np.ndarray, np.ndarray]:
    """(list offsets, flat values) of per-doc arrays."""
    lens = np.fromiter((len(p) for p in lists), dtype=np.int64, count=len(lists))
    vals = [np.asarray(p, dtype=dtype) for p in lists]
    flat = np.concatenate(vals) if vals else np.empty(0, dtype)
    return np.concatenate(([0], np.cumsum(lens))), flat


def pack_positions(pos_lists: list[np.ndarray]) -> bytes:
    """pos_lists: per-doc ascending position arrays (len == tf) → the
    position stream (first position of a doc absolute, then deltas)."""
    occ, pos = _flat(pos_lists, np.int64)
    data, _ = encode_occurrences(np.array([0, len(pos_lists)]), occ, [list_deltas(occ, pos)])
    return data.tobytes()


def pack_offsets(start_lists: list, end_lists: list) -> bytes:
    """Char-offset stream (the .pay/offsets role of
    IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS,
    IndexOptions.java:29-50; offsets written by
    Lucene90PostingsWriter alongside positions). Layout per doc, per
    occurrence: varint(start delta; first absolute) + varint(end -
    start)."""
    occ, st = _flat(start_lists, np.int64)
    en = _flat(end_lists, np.int64)[1]
    cols = [list_deltas(occ, st), en - st]
    return encode_occurrences(np.array([0, len(start_lists)]), occ, cols)[0].tobytes()


def unpack_offsets(blob: bytes, tfs: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Inverse of ``pack_offsets`` → per-doc (starts, ends) arrays."""
    tfs = np.asarray(tfs, dtype=np.int64)
    vals = varint_decode_array(blob)
    if len(vals) == 0:
        e = np.empty(0, dtype=np.int64)
        return [(e, e) for _ in tfs]
    deltas, lns = vals[0::2], vals[1::2]
    starts_ix = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    nz = starts_ix[tfs > 0]
    cs = np.cumsum(deltas)
    base = np.zeros(len(deltas), dtype=np.int64)
    base[nz] = cs[nz] - deltas[nz]
    np.maximum.accumulate(base, out=base)
    flat_s = cs - base
    flat_e = flat_s + lns
    bounds = starts_ix[1:] if len(starts_ix) > 1 else []
    return list(zip(np.split(flat_s, bounds), np.split(flat_e, bounds)))


class PositionLists(list):
    """Per-doc position views over ONE flat decode buffer, with the
    buffer carried explicitly (``flat``, len == Σtf). The positional
    kernels' zero-copy fast path consumes ``flat`` directly instead of
    re-proving contiguity per query — the invariant is established
    HERE, where the views are created, and any derived shape (slices,
    tier concatenations) degrades to a plain list and takes the copy
    path."""

    __slots__ = ("flat",)

    def __init__(self, views, flat):
        super().__init__(views)
        self.flat = flat


def unpack_positions(blob: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse using the tf array for doc boundaries (vectorized:
    one varint sweep + segmented cumsum)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = varint_decode_array(blob)
    if len(deltas) == 0:
        return [np.empty(0, dtype=np.int64) for _ in tfs]
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    nz = starts[tfs > 0]
    # segmented cumsum: global cumsum minus the running total at each
    # doc's start, re-adding the doc's own absolute first position
    cs = np.cumsum(deltas)
    base = np.zeros(len(deltas), dtype=np.int64)
    base[nz] = cs[nz] - deltas[nz]
    np.maximum.accumulate(base, out=base)
    flat = cs - base
    return PositionLists(np.split(flat, starts[1:] if len(starts) > 1 else []), flat)


def repack_position_lists(views) -> "PositionLists":
    """One flat buffer + np.split views from arbitrary per-doc arrays.

    Used wherever decode-time assembly (doc reorder, derived row sets)
    would otherwise hand the kernels a PLAIN list: that list loses the
    flat carrier, and the positional kernels' _flat_of then re-copies
    every per-doc array on EVERY query — the round-4 positional p50
    regression (2-8x, BENCH_r04 vs r03) was exactly this, the flatten
    cost moving from one cached decode into the per-query hot path."""
    views = list(views)
    if not views:
        return PositionLists([], np.empty(0, dtype=np.int64))
    flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in views])
    lens = np.fromiter((len(v) for v in views), dtype=np.int64, count=len(views))
    return PositionLists(np.split(flat, np.cumsum(lens)[:-1]), flat)


def concat_position_lists(parts: list) -> "PositionLists":
    """Concatenate per-segment position lists (multi-row terms: one row
    per chunk/tier) preserving the flat carrier: O(parts) buffer
    concats when every part is a PositionLists, instead of an O(n_docs)
    per-view copy in the query path."""
    if len(parts) == 1 and isinstance(parts[0], PositionLists):
        return parts[0]
    flats = []
    n_views = 0
    lens_parts = []
    for p in parts:
        n_views += len(p)
        lens_parts.append(np.fromiter((len(v) for v in p), dtype=np.int64, count=len(p)))
        if isinstance(p, PositionLists):
            flats.append(p.flat)
        else:
            flats.extend(np.asarray(v, dtype=np.int64) for v in p)
    if n_views == 0:
        return PositionLists([], np.empty(0, dtype=np.int64))
    flat = np.concatenate(flats) if flats else np.empty(0, dtype=np.int64)
    # views re-split from the MERGED flat (not the parts' own buffers)
    # so the kernels' plist[0].base-is-flat check holds
    lens = np.concatenate(lens_parts)
    return PositionLists(np.split(flat, np.cumsum(lens)[:-1]), flat)


def pack_payloads(pay_lists: list) -> bytes:
    """Per-occurrence payload stream (the .pay file role,
    Lucene90PostingsFormat PAY_EXTENSION; payloads written per position
    by Lucene90PostingsWriter alongside offsets). Documented subset:
    payloads are FLOAT payloads (PayloadHelper/FloatEncoder, the
    DelimitedPayloadTokenFilter default), stored as fixed 4-byte
    little-endian float32 per occurrence in position order; NaN marks
    "no payload at this position" (the reference's null payload).
    ``pay_lists``: per-doc float arrays aligned with the position
    arrays (len == tf)."""
    occ, pays = _flat(pay_lists, np.float32)
    return encode_payloads(np.array([0, len(pay_lists)]), occ, pays)[0].tobytes()


def unpack_payloads(blob: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of ``pack_payloads`` → per-doc float32 arrays (NaN = no
    payload at that occurrence), doc boundaries from the tf array."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if not blob:
        return [np.empty(0, dtype=np.float32) for _ in tfs]
    flat = np.frombuffer(blob, dtype="<f4")
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    return np.split(flat, starts[1:] if len(starts) > 1 else [])
