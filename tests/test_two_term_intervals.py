"""The 2-slot pair forms of _flat_intervals (ordered mutual-nearest
pairs, unordered closed-form windows) vs from-definition brute force:
minimal intervals over two disjoint position streams.

Definition (Intervals.ordered/unordered minimal-interval semantics,
lucene/queries/src/java/org/apache/lucene/queries/intervals/
OrderedIntervalsSource.java / UnorderedIntervalsSource.java): a window
[s, e] matches when it contains one position from each stream (ordered:
the A position strictly before the B position, s = the A position,
e = the B position); the emitted set keeps only windows that do not
properly contain another matching window. Pure numpy — no Spark.
"""

import numpy as np
import pytest

from positional_oracle import minimal_intervals

from lucene_spark.search.kernels import _flat_intervals


def _brute_doc(a: list, b: list, in_order: bool) -> list[tuple[int, int]]:
    cands = []
    if in_order:
        for x in a:
            for y in b:
                if x < y:
                    cands.append((x, y))
    else:
        for x in a:
            for y in b:
                lo, hi = min(x, y), max(x, y)
                cands.append((lo, hi))
    cands = sorted(set(cands))
    out = []
    for s, e in cands:
        contains_other = any(
            (s2 >= s and e2 <= e and (s2, e2) != (s, e)) for s2, e2 in cands
        )
        if not contains_other:
            out.append((s, e))
    return out


def _keys(doc_pos: dict[int, list]) -> np.ndarray:
    ks = [
        (np.int64(d) << np.int64(32)) | np.int64(p)
        for d, ps in sorted(doc_pos.items())
        for p in sorted(ps)
    ]
    return np.asarray(ks, dtype=np.int64) if ks else np.empty(0, dtype=np.int64)


def _expected(A_docs, B_docs, in_order, cap):
    exp = []
    for d in sorted(set(A_docs) & set(B_docs)):
        for s, e in _brute_doc(A_docs[d], B_docs[d], in_order):
            if cap is None or (e - s - 1) <= cap:
                exp.append(((d << 32) | s, (d << 32) | e))
    return sorted(exp)


@pytest.mark.parametrize("in_order", [True, False])
@pytest.mark.parametrize("cap", [None, 0, 2, 7])
def test_pair_kernel_matches_brute(in_order, cap):
    rng = np.random.default_rng(42 + int(in_order) + (cap or 0) * 10)
    for trial in range(200):
        n_docs = int(rng.integers(1, 5))
        A_docs, B_docs = {}, {}
        for d in range(n_docs):
            pool = rng.permutation(24)
            na, nb = int(rng.integers(0, 6)), int(rng.integers(0, 6))
            # disjoint streams (the kernels' collision-checked contract)
            A_docs[d] = sorted(int(p) for p in pool[:na])
            B_docs[d] = sorted(int(p) for p in pool[na : na + nb])
        S, E = _flat_intervals([_keys(A_docs), _keys(B_docs)], in_order, cap, n_docs)
        got = sorted(zip(S.tolist(), E.tolist()))
        assert got == _expected(A_docs, B_docs, in_order, cap), (
            trial,
            in_order,
            cap,
            A_docs,
            B_docs,
        )
        # output ordering contract: per-doc ascending starts
        assert list(S) == sorted(S.tolist())


@pytest.mark.parametrize("in_order", [True, False])
@pytest.mark.parametrize("cap", [None, 0, 3, 9])
def test_nary_machine_equals_pair_kernel(in_order, cap):
    """The pair forms must emit EXACTLY what the n-ary machine emits
    for the same two streams — set, per-doc order, and gap filtering.
    The machine is the per-doc walk of the scalar reference
    (positional_oracle.minimal_intervals), which the lockstep machine
    replicates step for step (test_sloppy.py
    test_minimal_interval_kernels), so the pair forms are checked
    against that walk doc by doc."""
    rng = np.random.default_rng(7 + (cap or 0))
    for _ in range(100):
        n_docs = int(rng.integers(1, 4))
        A, B = {}, {}
        for d in range(n_docs):
            pool = rng.permutation(26)
            na, nb = int(rng.integers(0, 7)), int(rng.integers(0, 7))
            A[d] = sorted(int(p) for p in pool[:na])
            B[d] = sorted(int(p) for p in pool[na : na + nb])
        want = []
        for d in range(n_docs):
            if not A[d] or not B[d]:
                continue
            for s, e in minimal_intervals([np.array(A[d]), np.array(B[d])], in_order):
                if cap is None or e - s - 1 <= cap:
                    want.append(((d << 32) | s, (d << 32) | e))
        S, E = _flat_intervals([_keys(A), _keys(B)], in_order, cap, n_docs)
        assert list(zip(S.tolist(), E.tolist())) == want


def test_empty_streams():
    e = np.empty(0, dtype=np.int64)
    k = _keys({0: [1, 2]})
    for in_order in (True, False):
        S, E = _flat_intervals([e, k], in_order, None, 1)
        assert not len(S) and not len(E)
        S, E = _flat_intervals([k, e], in_order, None, 1)
        assert not len(S) and not len(E)
