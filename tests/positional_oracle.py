"""Scalar positional references for the flat kernels' property tests.

These are the per-document algorithms the vectorized positional kernels
in ``lucene_spark.search.kernels`` replaced: the minimal-interval
walk (Intervals.ordered/unordered, NearSpansOrdered stretch-to-minimal),
the 2-term mutual-nearest pair forms and the tight 2-slot sloppy
matcher. The engine no longer calls them; the tests compare every flat
producer plus its freq accumulator with them bit for bit.
"""

from __future__ import annotations

import numpy as np


def minimal_intervals(pos_lists: list[np.ndarray], in_order: bool) -> list[tuple[int, int]]:
    """Minimal intervals containing one occurrence of every list
    (ordered: occurrences strictly increasing in clause order).
    "Minimal" = no emitted interval nests inside another (the interval
    semantics of Intervals.ordered/unordered, Intervals.java;
    NearSpansOrdered.java:40 stretch-to-minimal loop). Returns
    (start, end) position pairs, start ascending."""
    n = len(pos_lists)
    out: list[tuple[int, int]] = []
    if any(len(p) == 0 for p in pos_lists):
        return out
    if in_order:
        first = pos_lists[0]
        i0 = 0
        while i0 < len(first):
            # forward greedy chain: each next term strictly after the
            # previous → the minimal end for any start >= first[i0]
            prev = int(first[i0])
            chain_ok = True
            for j in range(1, n):
                pj = pos_lists[j]
                k = int(np.searchsorted(pj, prev, side="right"))
                if k >= len(pj):
                    chain_ok = False
                    break
                prev = int(pj[k])
            if not chain_ok:
                break
            # backward maximization: latest chain reaching this end —
            # c_j = max position of list j strictly before c_{j+1}
            # (NearSpansOrdered.java:40 stretch-to-minimal role)
            c = prev
            for j in range(n - 2, -1, -1):
                pj = pos_lists[j]
                c = int(pj[int(np.searchsorted(pj, c, side="left")) - 1])
            out.append((c, prev))
            i0 = int(np.searchsorted(first, c, side="right"))
        return out
    # unordered: sliding window over the merged streams; a window is
    # emitted when advancing the minimum would grow the right edge
    # (equivalently: no later window nests inside it)
    idx = [0] * n
    cur = [int(p[0]) for p in pos_lists]
    hi = max(cur)
    pending: tuple[int, int] | None = None
    while True:
        lo_list = min(range(n), key=lambda i: cur[i])
        cand = (cur[lo_list], hi)
        idx[lo_list] += 1
        if idx[lo_list] >= len(pos_lists[lo_list]):
            out.append(cand)
            return out
        cur[lo_list] = int(pos_lists[lo_list][idx[lo_list]])
        if cur[lo_list] > hi:
            out.append(cand)
            hi = cur[lo_list]


def _mutual_pairs_py(a, b) -> list[tuple[int, int]]:
    """Minimal ordered 2-term intervals as (pa, pb) pairs: pb is the
    FIRST b after its nearest a-predecessor pa (the mutual-nearest
    characterization the gate oracle uses, fuzz-verified against
    minimal_intervals). Pure-int two-pointer — O(len(a)+len(b)) with no
    per-step numpy overhead (the same trick as the 2-slot sloppy
    kernel)."""
    out: list[tuple[int, int]] = []
    i, la = 0, len(a)
    prev_pa = -1
    for pb in b:
        while i < la and a[i] < pb:
            i += 1
        if i == 0:
            continue
        pa = a[i - 1]
        if pa != prev_pa:  # later pb with the same pa nests this one
            out.append((pa, pb))
            prev_pa = pa
    return out


def _two_term_minimal(a, b, in_order: bool) -> list[tuple[int, int]]:
    """Minimal intervals for a 2-term ordered/unordered source over
    plain int lists. Unordered = union of both orientations with
    cross-orientation nesting removed."""
    if in_order:
        return _mutual_pairs_py(a, b)
    iv = _mutual_pairs_py(a, b) + _mutual_pairs_py(b, a)
    if len(iv) <= 1:
        return iv
    iv = sorted(set(iv))
    n = len(iv)
    suf = [1 << 62] * (n + 1)
    for i in range(n - 1, -1, -1):
        suf[i] = min(iv[i][1], suf[i + 1])
    out: list[tuple[int, int]] = []
    for i, (s, e) in enumerate(iv):
        if suf[i + 1] <= e:  # properly contains a later-sorted pair
            continue
        if out and out[-1][0] == s:  # shorter same-start already kept
            continue
        out.append((s, e))
    return out


def _sloppy_freq2(a_raw, b_raw, slop: int) -> np.float32:
    """Specialized 2-slot (distinct terms) sloppy matcher — exact same
    emissions as ``_lucene_sloppy_freq`` (property-tested equal in
    tests/test_sloppy.py) without the queue machinery: for two
    monotonically increasing iterators, end == max(pos_a, pos_b) at all
    times, so the PQ loop collapses to a two-pointer merge. The lead
    (smaller adjusted position; slot 0 on ties, PhraseQueue order)
    advances through its run; a match is emitted at a STRICT crossing
    (or at exhaustion) with matchLength = the run's closest approach to
    the stationary pointer. ~10x less Python overhead per candidate doc
    on the phrase hot path."""
    A = a_raw.tolist() if hasattr(a_raw, "tolist") else list(a_raw)
    B = [p - 1 for p in (b_raw.tolist() if hasattr(b_raw, "tolist") else b_raw)]
    na, nb = len(A), len(B)
    ia = ib = 0
    pa, pb = A[0], B[0]
    one = np.float32(1.0)
    freq = np.float32(0.0)
    while True:
        if pa <= pb:  # lead = slot 0 (wins ties, PhraseQueue order)
            ml = pb - pa
            crossed = False
            while ia + 1 < na:
                ia += 1
                pa = A[ia]
                if pa > pb:
                    crossed = True
                    break
                if pb - pa < ml:
                    ml = pb - pa
            if ml <= slop:
                freq = np.float32(freq + one / (one + np.float32(ml)))
            if not crossed:
                return freq
        else:  # lead = slot 1
            ml = pa - pb
            crossed = False
            while ib + 1 < nb:
                ib += 1
                pb = B[ib]
                if pb > pa:
                    crossed = True
                    break
                if pa - pb < ml:
                    ml = pa - pb
            if ml <= slop:
                freq = np.float32(freq + one / (one + np.float32(ml)))
            if not crossed:
                return freq
