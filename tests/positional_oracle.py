"""Scalar positional references for the flat kernels' property tests.

These are the per-document algorithms the vectorized positional kernels
in ``lucene_spark.search.kernels`` replaced: the minimal-interval
walk (Intervals.ordered/unordered, NearSpansOrdered stretch-to-minimal),
the 2-term mutual-nearest pair forms, the tight 2-slot sloppy matcher
and the full sloppy matcher with Lucene's repeat groups. The engine no
longer calls them; the tests compare every flat producer plus its freq
accumulator with them bit for bit.
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


def _lucene_sloppy_freq(
    pos_lists: list, slop: int, terms: tuple | None = None, slot_terms: tuple | None = None
) -> np.float32:
    """Exact replication of the reference sloppy matcher semantics
    (SloppyPhraseMatcher.java:162-205 nextMatch loop, PhrasePositions.java
    position = pos - offset, PhraseQueue.java (position, offset, ord)
    ordering; freq accumulation PhraseScorer.java:75-79 in float32,
    sloppyWeight = 1/(1 + matchLength)), including the single-term
    repeat-group handling (initComplex / advanceRepeatGroups /
    advanceRpts collision resolution, SloppyPhraseMatcher.java:286-470:
    two phrase slots carrying the SAME term may never sit on the same
    token position — on collision the lesser of the two advances).

    Algorithm: each phrase slot is an iterator over offset-adjusted
    positions; a priority queue repeatedly advances the minimum; a match
    is emitted each time the advanced iterator overtakes the queue
    minimum captured at pop time while the running matchLength
    (end - min position, minimized while the leader catches up) is
    <= slop. Javadoc-documented behavior replicated: "a b"~2 on doc
    "x a b a y" matches twice — distance 0 and distance 2 — freq =
    1 + 1/3. Like the reference, not every combination is found
    ("a b c b a" scores "a b c"~4 and "c b a"~4 differently —
    SloppyPhraseMatcher.java:45-50 comment); this IS the reference
    behavior, required for rank identity. ``terms`` (aligned with
    pos_lists) drives repeat-group detection; None = all distinct.
    The queue is a re-sorted list (equivalent to the reference's
    pop/re-add heap repair after collision advances).

    ``slot_terms`` (tuple of per-slot term tuples, MultiPhraseQuery
    shape) enables the multi-term repeat handling (hasMultiTermRpts,
    SloppyPhraseMatcher.java:435-453 init collide-loop + :562-585
    connected-component groups over the bipartite slot/term graph):
    slots that share ANY repeating term join one group; init resolves
    collisions by advancing the lesser instead of the j-steps rule.
    """
    n = len(pos_lists)
    plists = [np.asarray(p, dtype=np.int64) for p in pos_lists]
    pos = [int(plists[i][0]) - i for i in range(n)]
    nxt = [1] * n
    end = max(pos)

    grp_of = [-1] * n
    groups: list[list[int]] = []
    has_multi = False
    if slot_terms is not None:
        # repeatingTerms (SloppyPhraseMatcher.java:595-607): terms
        # carried by >= 2 slots
        cnt: dict = {}
        for slot in slot_terms:
            for t in set(slot):
                cnt[t] = cnt.get(t, 0) + 1
        rpt_terms = {t for t, c in cnt.items() if c >= 2}
        if rpt_terms:
            rpt_slots = [i for i, slot in enumerate(slot_terms) if rpt_terms & set(slot)]
            has_multi = any(len(set(slot_terms[i])) > 1 for i in rpt_slots)
            if not has_multi:
                by_term: dict = {}
                for i in rpt_slots:
                    by_term.setdefault(next(iter(slot_terms[i])), []).append(i)
                for idxs in by_term.values():
                    if len(idxs) > 1:
                        for i in idxs:
                            grp_of[i] = len(groups)
                        groups.append(idxs)
            else:
                # unionTermGroups (:648-663): union repeating-term sets
                # sharing a slot until disjoint, then each repeating
                # slot joins its terms' component
                comps: list[set] = []
                for i in rpt_slots:
                    cur = set(slot_terms[i]) & rpt_terms
                    rest = []
                    for m in comps:
                        if m & cur:
                            cur |= m
                        else:
                            rest.append(m)
                    comps = rest + [cur]
                for m in comps:
                    members = [i for i in rpt_slots if set(slot_terms[i]) & m]
                    if len(members) > 1:
                        for i in members:
                            grp_of[i] = len(groups)
                        groups.append(members)  # ascending offset order
    elif terms is not None:
        by_term = {}
        for i, t in enumerate(terms):
            by_term.setdefault(t, []).append(i)
        for idxs in by_term.values():
            if len(idxs) > 1:
                for i in idxs:
                    grp_of[i] = len(groups)
                groups.append(idxs)  # members in phrase-offset order

    def advance(i: int) -> bool:
        nonlocal end
        if nxt[i] < len(plists[i]):
            pos[i] = int(plists[i][nxt[i]]) - i
            nxt[i] += 1
            if pos[i] > end:
                end = pos[i]
            return True
        return False

    def tp(i: int) -> int:  # actual token position (tpPos)
        return pos[i] + i

    # init repeats (advanceRepeatGroups, SloppyPhraseMatcher.java:435-467)
    if has_multi:
        # multi-term branch: some may not collide — resolve by
        # advancing the lesser until the group is collision-free
        for idxs in groups:
            i = 0
            while i < len(idxs):
                incr = 1
                pp = idxs[i]
                while True:
                    k = next((m for m in idxs if m != pp and tp(m) == tp(pp)), None)
                    if k is None:
                        break
                    pp2 = pp if (pos[pp], pp) < (pos[k], k) else k
                    if not advance(pp2):
                        return np.float32(0.0)
                    if idxs.index(pp2) < i:  # rptInd < i: recheck earlier pp
                        incr = 0
                        break
                i += incr
    else:
        # single-term repeats: group member j starts j positions in, so
        # the group begins collision-free ("simpler" branch)
        for idxs in groups:
            for j in range(1, len(idxs)):
                for _ in range(j):
                    if not advance(idxs[j]):
                        return np.float32(0.0)
    end = max(pos)

    def advance_rpts(i: int) -> bool:
        """Collision resolution after advancing pp i: while another
        member of its repeat group sits on the same token position,
        advance the lesser (by adjusted position, then offset)."""
        p = i
        while grp_of[p] >= 0:
            k = next((m for m in groups[grp_of[p]] if m != p and tp(m) == tp(p)), None)
            if k is None:
                return True
            p = p if (pos[p], p) < (pos[k], k) else k
            if not advance(p):
                return False
        return True

    queue = sorted(range(n), key=lambda i: (pos[i], i))
    positioned = True
    has_rpts = bool(groups)

    def next_match() -> tuple[bool, int]:
        nonlocal positioned, queue
        if not positioned:
            return False, 0
        queue.sort(key=lambda i: (pos[i], i))
        lead = queue.pop(0)
        match_length = end - pos[lead]
        next_top = pos[queue[0]]  # captured once per pop, like the reference
        while advance(lead):
            if has_rpts and not advance_rpts(lead):
                break
            if pos[lead] > next_top:
                queue.append(lead)
                if match_length <= slop:
                    return True, match_length
                queue.sort(key=lambda i: (pos[i], i))
                lead = queue.pop(0)
                next_top = pos[queue[0]]
                match_length = end - pos[lead]
            else:
                ml2 = end - pos[lead]
                if ml2 < match_length:
                    match_length = ml2
        positioned = False
        return match_length <= slop, match_length

    ok, ml = next_match()
    if not ok:
        return np.float32(0.0)
    one = np.float32(1.0)
    freq = one / (one + np.float32(ml))  # float32 accumulation, PhraseScorer.java:75-79
    while True:
        ok, ml = next_match()
        if not ok:
            break
        freq = np.float32(freq + one / (one + np.float32(ml)))
    return freq
