"""Competitive impacts — block-max metadata for dynamic pruning.

Port of the *semantics* of Lucene's CompetitiveImpactAccumulator
(lucene/core/src/java/org/apache/lucene/codecs/CompetitiveImpactAccumulator.java:30,71-118):
for each 128-doc posting block, retain the Pareto frontier of
(freq, norm) pairs — a pair is competitive iff no other pair in the
block has ``freq >= f`` and ``norm <= n`` (shorter doc + higher freq
dominates). At query time the block's max possible BM25 score is
``max(score(freq, norm) for (freq, norm) in impacts)`` (MaxScoreCache).
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.batch import impacts


def competitive_impacts(tfs: np.ndarray, norms: np.ndarray) -> list[tuple[int, int]]:
    """Pareto frontier of (freq, norm_byte) for one block.

    ``norms`` are the unsigned norm bytes (0..255) of the block's docs;
    comparison is on the decoded length ordering, which equals unsigned
    byte ordering because intToByte4 is monotone.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    if len(tfs) == 0:
        return []
    # max freq per distinct norm
    order = np.lexsort((-tfs, norms))
    n_sorted, f_sorted = norms[order], tfs[order]
    first = np.ones(len(n_sorted), dtype=bool)
    first[1:] = n_sorted[1:] != n_sorted[:-1]
    uniq_norms, uniq_freqs = n_sorted[first], f_sorted[first]
    # ascending norm: keep only strictly increasing freq
    keep_freq = np.maximum.accumulate(uniq_freqs)
    keep = np.ones(len(uniq_norms), dtype=bool)
    keep[1:] = uniq_freqs[1:] > keep_freq[:-1]
    return [(int(f), int(n)) for f, n in zip(uniq_freqs[keep], uniq_norms[keep])]


def competitive_impacts_flat(
    tfs: np.ndarray, norms: np.ndarray, block_size: int = 128
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pareto frontiers for ALL blocks of one posting list — the
    vectorized form of ``competitive_impacts`` mapped over blocks, a
    one-row call into ``batch.impacts``.

    Returns ``(block_ids, freqs, norm_bytes)`` flat arrays, ordered by
    (block, norm ascending) — identical content to looping
    ``competitive_impacts`` per block.
    """
    ib, if_, in_, _ = impacts(np.array([0, len(tfs)]), tfs, norms, block_size)
    return ib, if_, in_


def block_impacts(doc_tfs: np.ndarray, doc_norms: np.ndarray, block_size: int = 128) -> list[list[tuple[int, int]]]:
    """Impacts per 128-block over a full posting list (incl. the tail block)."""
    n = len(doc_tfs)
    out = []
    for lo in range(0, n, block_size):
        out.append(competitive_impacts(doc_tfs[lo : lo + block_size], doc_norms[lo : lo + block_size]))
    return out
