"""Interval query algebra vs a from-definitions brute-force reference.

The brute enumerates EVERY combination of child intervals allowed by
the operator definition (Intervals.java semantics), then applies the
minimal-interval filter (drop any interval that properly contains
another emitted interval) — independent of the engine's greedy/sliding
algorithms.
"""

from __future__ import annotations

from itertools import product

import numpy as np
import pytest

from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.intervals import (
    IAfter,
    IBefore,
    IContainedBy,
    IContaining,
    IExtend,
    IMaxGaps,
    IMaxWidth,
    INonOverlapping,
    INotContainedBy,
    INotContaining,
    IOr,
    IOrdered,
    IOverlapping,
    ITerm,
    IUnordered,
    eval_source,
    not_within,
    terms_of,
)


# ---- brute reference -------------------------------------------------------


def brute_minimalize(iv):
    iv = sorted(set(iv), key=lambda t: (t[0], t[1]))
    out = []
    for i, a in enumerate(iv):
        contains_other = any(
            (b[0] > a[0] and b[1] <= a[1]) or (b[0] == a[0] and b[1] < a[1])
            for b in iv
            if b is not a
        )
        if not contains_other:
            out.append(a)
    # dedupe same (s,e) keeping max covered
    ded = {}
    for s, e, c in out:
        ded[(s, e)] = max(ded.get((s, e), -1), c)
    return sorted((s, e, c) for (s, e), c in ded.items())


def brute(src, pos_of):
    if isinstance(src, ITerm):
        return [(int(p), int(p), 1) for p in pos_of(src.term)]
    if isinstance(src, IOr):
        allv = []
        for s in src.sources:
            allv.extend(brute(s, pos_of))
        return brute_minimalize(allv)
    if isinstance(src, IMaxGaps):
        return [
            (s, e, c) for s, e, c in brute(src.source, pos_of) if (e - s + 1) - c <= src.gaps
        ]
    if isinstance(src, IContaining):
        big, small = brute(src.big, pos_of), brute(src.small, pos_of)
        return [b for b in big if any(b[0] <= s and e <= b[1] for s, e, _ in small)]
    if isinstance(src, IContainedBy):
        small, big = brute(src.small, pos_of), brute(src.big, pos_of)
        return [si for si in small if any(s <= si[0] and si[1] <= e for s, e, _ in big)]
    if isinstance(src, IMaxWidth):
        return [(s, e, c) for s, e, c in brute(src.source, pos_of) if e - s + 1 <= src.width]
    if isinstance(src, IExtend):
        # ExtendedIntervalIterator streams widened bounds WITHOUT
        # re-minimalizing (clipped starts may nest) — see intervals.py
        return [(max(0, s - src.before), e + src.after, c) for s, e, c in brute(src.source, pos_of)]
    if isinstance(src, INotContaining):
        m, sub = brute(src.minuend, pos_of), brute(src.subtrahend, pos_of)
        return [mi for mi in m if not any(mi[0] <= s and e <= mi[1] for s, e, _ in sub)]
    if isinstance(src, INotContainedBy):
        sm, big = brute(src.small, pos_of), brute(src.big, pos_of)
        return [si for si in sm if not any(s <= si[0] and si[1] <= e for s, e, _ in big)]
    if isinstance(src, IOverlapping):
        sv, ref = brute(src.source, pos_of), brute(src.reference, pos_of)
        return [si for si in sv if any(s <= si[1] and si[0] <= e for s, e, _ in ref)]
    if isinstance(src, INonOverlapping):
        m, sub = brute(src.minuend, pos_of), brute(src.subtrahend, pos_of)
        return [mi for mi in m if not any(s <= mi[1] and mi[0] <= e for s, e, _ in sub)]
    if isinstance(src, IBefore):
        sv, ref = brute(src.source, pos_of), brute(src.reference, pos_of)
        return [si for si in sv if any(si[1] < s for s, _, _ in ref)]
    if isinstance(src, IAfter):
        sv, ref = brute(src.source, pos_of), brute(src.reference, pos_of)
        return [si for si in sv if any(si[0] > e for _, e, _ in ref)]
    kids = [brute(s, pos_of) for s in src.sources]
    if any(not k for k in kids):
        return []
    cands = []
    for combo in product(*kids):
        if isinstance(src, IOrdered):
            ok = all(combo[j][0] > combo[j - 1][1] for j in range(1, len(combo)))
            if not ok:
                continue
        s = min(iv[0] for iv in combo)
        e = max(iv[1] for iv in combo)
        cands.append((s, e, sum(c for _, _, c in combo)))
    return brute_minimalize(cands)


_PAIR_KINDS = {
    "containing": lambda a, b: IContaining(a, b),
    "containedby": lambda a, b: IContainedBy(a, b),
    "notcontaining": lambda a, b: INotContaining(a, b),
    "notcontainedby": lambda a, b: INotContainedBy(a, b),
    "overlapping": lambda a, b: IOverlapping(a, b),
    "nonoverlapping": lambda a, b: INonOverlapping(a, b),
    "before": lambda a, b: IBefore(a, b),
    "after": lambda a, b: IAfter(a, b),
}


def rand_source(rng, vocab, depth=0):
    kind = rng.choice(
        ["term"]
        if depth >= 2
        else ["term", "ordered", "unordered", "or", "maxgaps", "maxwidth", "extend"]
        + list(_PAIR_KINDS),
    )
    if kind == "term":
        return ITerm(rng.choice(vocab))
    if kind in ("ordered", "unordered"):
        n = int(rng.integers(2, 4))
        subs = tuple(rand_source(rng, vocab, depth + 1) for _ in range(n))
        return IOrdered(subs) if kind == "ordered" else IUnordered(subs)
    if kind == "or":
        n = int(rng.integers(2, 4))
        return IOr(tuple(rand_source(rng, vocab, depth + 1) for _ in range(n)))
    if kind == "maxgaps":
        return IMaxGaps(int(rng.integers(0, 5)), rand_source(rng, vocab, depth + 1))
    if kind == "maxwidth":
        return IMaxWidth(int(rng.integers(1, 8)), rand_source(rng, vocab, depth + 1))
    if kind == "extend":
        return IExtend(
            rand_source(rng, vocab, depth + 1), int(rng.integers(0, 3)), int(rng.integers(0, 3))
        )
    a = rand_source(rng, vocab, depth + 1)
    b = rand_source(rng, vocab, depth + 1)
    return _PAIR_KINDS[kind](a, b)


class TestEvalVsBrute:
    def test_fuzz_random_trees(self):
        rng = np.random.default_rng(11)
        vocab = ["a", "b", "c", "d"]
        mismatches = []
        for trial in range(400):
            n_tok = int(rng.integers(1, 30))
            doc = [vocab[i] for i in rng.integers(0, len(vocab), n_tok)]
            pos = {t: np.array([i for i, x in enumerate(doc) if x == t], dtype=np.int64) for t in vocab}

            def pos_of(t):
                return pos.get(t, np.empty(0, dtype=np.int64))

            src = rand_source(rng, vocab)
            got = eval_source(src, pos_of)
            want = brute(src, pos_of)
            if sorted(got) != sorted(want):
                mismatches.append((trial, src, doc, got, want))
        assert not mismatches, mismatches[:2]

    def test_ordered_basic(self):
        pos = {"a": np.array([0, 10]), "b": np.array([2, 12])}

        def pos_of(t):
            return pos.get(t, np.empty(0, dtype=np.int64))

        got = eval_source(IOrdered((ITerm("a"), ITerm("b"))), pos_of)
        assert got == [(0, 2, 2), (10, 12, 2)]
        # maxgaps 1 kills both (each has 1 gap? width 3 - covered 2 = 1 → kept)
        assert eval_source(IMaxGaps(1, IOrdered((ITerm("a"), ITerm("b")))), pos_of) == got
        assert eval_source(IMaxGaps(0, IOrdered((ITerm("a"), ITerm("b")))), pos_of) == []

    def test_containedby_basic(self):
        pos = {
            "a": np.array([0, 20]),
            "b": np.array([5, 25]),
            "x": np.array([3, 7, 40]),
        }

        def pos_of(t):
            return pos.get(t, np.empty(0, dtype=np.int64))

        # x occurrences inside a minimal a..b interval: 3 and 7 inside
        # (0,5)? 3 yes, 7 no; (20,25): 40 no → [(3,3,1)]
        got = eval_source(IContainedBy(ITerm("x"), IOrdered((ITerm("a"), ITerm("b")))), pos_of)
        assert got == [(3, 3, 1)]

    def test_two_term_fast_kernel_equals_generic(self):
        # the scalar two-pointer pair reference and the engine's flat
        # producer must emit exactly the generic evaluator's minimal
        # intervals for both orders
        from positional_oracle import _two_term_minimal

        from lucene_spark.search.kernels import _flat_intervals

        rng = np.random.default_rng(5)
        for _ in range(300):
            na, nb = int(rng.integers(0, 12)), int(rng.integers(0, 12))
            a = np.unique(rng.integers(0, 40, na))
            b = np.unique(rng.integers(0, 40, nb))
            b = np.setdiff1d(b, a)  # distinct positions like real tokens
            pos = {"a": a, "b": b}

            def pos_of(t):
                return pos[t]

            for ordered in (True, False):
                src = IOrdered((ITerm("a"), ITerm("b"))) if ordered else IUnordered(
                    (ITerm("a"), ITerm("b"))
                )
                want = [(s, e) for s, e, _c in eval_source(src, pos_of)]
                got = _two_term_minimal(list(a), list(b), ordered)
                assert got == want, (ordered, a, b, got, want)
                S, E = _flat_intervals([a, b], ordered, None, 1)  # one doc: key = position
                assert list(zip(S.tolist(), E.tolist())) == want, (ordered, a, b)

    def test_terms_of(self):
        src = IContaining(IOrdered((ITerm("a"), ITerm("b"))), IOr((ITerm("c"), ITerm("a"))))
        assert terms_of(src) == {"a", "b", "c"}


class TestIntervalQueryEndToEnd:
    def test_interval_query_scores_vs_brute(self, spark, search_index, corpus_pdf, oracle):
        from lucene_spark.analysis.tokenizer import tokenize
        from lucene_spark.codec.smallfloat import int_to_byte4
        from lucene_spark.search.similarity import idf, score_freqs

        s = Searcher(search_index)
        src = IMaxGaps(6, IUnordered((ITerm("return"), ITerm("if"))))
        got = s.search(A.IntervalQuery(src), k=10).hits

        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        stats = oracle.stats
        w = np.float32(
            float(idf(len(oracle.postings["return"]), stats.doc_count))
            + float(idf(len(oracle.postings["if"]), stats.doc_count))
        )
        docs, freqs, norms = [], [], []
        for i in range(len(ordered)):
            toks = tokenize(ordered.loc[i, "content"])
            pos = {"return": [], "if": []}
            for p, t in enumerate(toks):
                if t in pos:
                    pos[t].append(p)

            def pos_of(t, _pos=pos):
                return np.array(_pos.get(t, []), dtype=np.int64)

            f = np.float32(0.0)
            for st, en, c in brute(src, pos_of):
                gaps = max(0, (en - st + 1) - c)
                f = np.float32(f + np.float32(1.0) / (np.float32(1.0) + np.float32(gaps)))
            if f > 0:
                docs.append(i)
                freqs.append(float(f))
                norms.append(int_to_byte4(len(toks)))
        # reference IntervalQuery scoring: boost * f/(f+1) in float32
        # (saturation, no similarity, no norms — IntervalQuery.java:41-58)
        f32 = np.array(freqs, dtype=np.float32)
        scores = (np.float32(1.0) - np.float32(1.0) / (f32 + np.float32(1.0))).astype(
            np.float32
        )
        want = sorted(zip(docs, scores), key=lambda t: (-t[1], t[0]))[:10]
        assert [d for d, _ in got] == [d for d, _ in want]
        assert np.allclose([x for _, x in got], [x for _, x in want], rtol=1e-5)

    def test_distributed_matches_driver(self, spark, search_index):
        s = Searcher(search_index)
        src = IContainedBy(ITerm("return"), IMaxGaps(8, IOrdered((ITerm("int"), ITerm("if")))))
        drv = s.search(A.IntervalQuery(src), k=10).hits
        dist = s.search(A.IntervalQuery(src), k=10, mode="distributed").hits
        assert [(d, round(x, 5)) for d, x in drv] == [(d, round(x, 5)) for d, x in dist]

    @pytest.mark.parametrize(
        "src",
        [
            INotContaining(IMaxGaps(4, IOrdered((ITerm("return"), ITerm("if")))), ITerm("int")),
            INotContainedBy(ITerm("return"), IUnordered((ITerm("int"), ITerm("if")))),
            IBefore(ITerm("return"), ITerm("if")),
            IAfter(ITerm("return"), ITerm("if")),
            IOverlapping(IOrdered((ITerm("return"), ITerm("if"))), ITerm("int")),
            not_within(ITerm("return"), 2, ITerm("if")),
            IMaxWidth(3, IUnordered((ITerm("return"), ITerm("if")))),
        ],
        ids=["notcontaining", "notcontainedby", "before", "after", "overlap", "notwithin", "maxwidth"],
    )
    def test_filtered_sources_distributed_matches_driver(self, spark, search_index, src):
        s = Searcher(search_index)
        drv = s.search(A.IntervalQuery(src), k=10).hits
        dist = s.search(A.IntervalQuery(src), k=10, mode="distributed").hits
        assert [(d, round(x, 5)) for d, x in drv] == [(d, round(x, 5)) for d, x in dist]
        assert drv  # fixture corpus has matches for every shape

    def test_not_variant_matches_docs_without_subtrahend(self, spark, search_index, oracle):
        # a doc with the minuend phrase and NO subtrahend term at all
        # must match (the subtrahend never restricts candidates)
        s = Searcher(search_index)
        src = INotContaining(ITerm("return"), ITerm("zzznotaterm"))
        got = {d for d, _ in s.search(A.IntervalQuery(src), k=10**6).hits}
        want = {d for d, _ in oracle.top_k(A.TermQuery("return"), k=10**9)}
        assert got == want


class TestFilteredFastPath:
    """The flat range-count fast path for filtered combinators
    (notContaining/containing/overlapping/nonOverlapping/before/after/
    containedBy/notContainedBy with a [extend-wrapped] term reference,
    plus IEndingWithin) must be freq-identical to the per-doc tree
    evaluator — including the reference's non-minimalized extended
    intervals (clipped starts may nest) and the zero-start containment
    case."""

    def test_fuzz_vs_tree(self):
        import random

        import numpy as np

        from lucene_spark.search.intervals import (
            IAfter,
            IBefore,
            IContainedBy,
            IContaining,
            IEndingWithin,
            IExtend,
            IMaxGaps,
            INonOverlapping,
            INotContainedBy,
            INotContaining,
            IOrdered,
            IOverlapping,
            ITerm,
            IUnordered,
            eval_source,
        )
        from lucene_spark.search.kernels import (
            _fast_filtered_shape,
            _interval_flat,
            _interval_freqs,
        )

        one = np.float32(1.0)

        def eval_freq(src, pos_of):
            f = np.float32(0.0)
            for s, e, c in eval_source(src, pos_of):
                gaps = max(0, (e - s + 1) - c)
                f = np.float32(f + one / (one + np.float32(gaps)))
            return float(f)

        def fast_freqs(src, docs):
            assert _fast_filtered_shape(src) is not None, src
            n_docs = len(docs)

            def keys_of(t):
                parts = [
                    (np.int64(ci) << 32) | d[t] for ci, d in enumerate(docs) if len(d[t])
                ]
                return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)

            def slot_keys(slot):
                ks = [keys_of(t) for t in slot]
                ks = [k for k in ks if len(k)]
                if not ks:
                    return np.empty(0, dtype=np.int64)
                return ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks))

            flat = _interval_flat(src, slot_keys, keys_of, n_docs)
            assert flat is not None, src
            S, E, covered, cap = flat
            return _interval_freqs(S, E, covered, n_docs, cap)

        rng = random.Random(77)
        for trial in range(250):
            n_docs = rng.randint(1, 8)
            docs = []
            for _ in range(n_docs):
                uni = list(range(22))
                rng.shuffle(uni)
                d, i = {}, 0
                for t in "abc":
                    ln = rng.randint(0 if t == "c" else 1, 6)
                    d[t] = np.array(sorted(uni[i : i + ln]), dtype=np.int64)
                    i += ln
                docs.append(d)
            slop = rng.randint(0, 5)
            pre, post = rng.randint(0, 5), rng.randint(0, 4)
            from lucene_spark.search.intervals import IOr

            posops = [
                ITerm("a"),
                IMaxGaps(slop, IOrdered((ITerm("a"), ITerm("b")))),
                IMaxGaps(slop, IUnordered((ITerm("a"), ITerm("b")))),
                IMaxGaps(slop, IOrdered((IOr((ITerm("a"), ITerm("b"))), ITerm("c")))),
            ]
            ref = ITerm("c") if rng.random() < 0.3 else IExtend(ITerm("c"), pre, post)
            for p in posops:
                shapes = [
                    INotContaining(p, ref), IContaining(p, ref),
                    INonOverlapping(p, ref), IOverlapping(p, ref),
                    IBefore(p, ref), IAfter(p, ref),
                    IContainedBy(p, ref), INotContainedBy(p, ref),
                    IEndingWithin(p, rng.randint(1, 20)),
                    IContainedBy(p, IMaxGaps(slop + 2, IOrdered((ITerm("b"), ITerm("c"))))),
                    INotContainedBy(p, IMaxGaps(slop + 2, IUnordered((ITerm("b"), ITerm("c"))))),
                    # 3-slot big: the n-ary machine's starts interleave docs
                    IContainedBy(
                        p, IMaxGaps(slop + 4, IOrdered((ITerm("a"), ITerm("b"), ITerm("c"))))
                    ),
                ]
                for src in shapes:
                    got = fast_freqs(src, docs)
                    want = np.array(
                        [eval_freq(src, lambda t, _d=d: _d[t]) for d in docs],
                        dtype=np.float32,
                    )
                    assert np.array_equal(got, want), (trial, src, docs, got, want)


class TestOrSlotFastPath:
    """Plain [maxgaps] ordered/unordered shapes whose operands are
    or-of-terms route through the flat kernels with per-slot UNION key
    arrays — freq-identical to the tree evaluator."""

    def test_fuzz(self):
        import random

        import numpy as np

        from lucene_spark.search.intervals import (
            IMaxGaps,
            IOr,
            IOrdered,
            ITerm,
            IUnordered,
            eval_source,
        )
        from lucene_spark.search.kernels import (
            _fast_nterm_shape,
            _flat_intervals,
            _interval_freqs,
        )

        one = np.float32(1.0)
        rng = random.Random(31)
        for trial in range(250):
            n_docs = rng.randint(1, 8)
            docs = []
            for _ in range(n_docs):
                uni = list(range(24))
                rng.shuffle(uni)
                d, i = {}, 0
                for t in "abcd":
                    ln = rng.randint(1, 5)
                    d[t] = np.array(sorted(uni[i : i + ln]), dtype=np.int64)
                    i += ln
                docs.append(d)
            slop = rng.randint(0, 6)
            for Shape in (IOrdered, IUnordered):
                src = IMaxGaps(
                    slop,
                    Shape(
                        (
                            IOr((ITerm("a"), ITerm("b"))),
                            ITerm("c"),
                            IOr((ITerm("d"),)),
                        )
                    ),
                )
                fast = _fast_nterm_shape(src)
                assert fast is not None
                slots, in_order, cap = fast

                def keys_of(t):
                    return np.concatenate(
                        [(np.int64(ci) << 32) | d[t] for ci, d in enumerate(docs)]
                    )

                keys = []
                for s in slots:
                    ks = [keys_of(t) for t in s]
                    keys.append(ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks)))
                S, E = _flat_intervals(keys, in_order, cap, n_docs)
                got = _interval_freqs(S, E, len(keys), n_docs)
                want = np.zeros(n_docs, dtype=np.float32)
                for ci, d in enumerate(docs):
                    f = np.float32(0.0)
                    for s, e, c in eval_source(src, lambda t, _d=d: _d[t]):
                        gaps = max(0, (e - s + 1) - c)
                        f = np.float32(f + one / (one + np.float32(gaps)))
                    want[ci] = f
                assert np.array_equal(got, want), (trial, Shape.__name__, slop, docs, got, want)


class TestOrFastPath:
    """or(...) whose branches are fast shapes / terms / term-unions —
    the Intervals.or and fn:atLeast rewrite family — routes through
    _or_intervals (vectorized union-minimalize) and must be
    freq-identical to the per-doc tree evaluator, including duplicate
    spans across branches (atLeast shares every term pairwise),
    same-start containment, and an outer maxgaps."""

    def test_fuzz_vs_tree(self):
        import random

        import numpy as np

        from lucene_spark.search.intervals import (
            IMaxGaps,
            IOr,
            IOrdered,
            ITerm,
            IUnordered,
            eval_source,
        )
        from lucene_spark.search.kernels import (
            _fast_or_shape,
            _interval_flat,
            _interval_freqs,
        )

        one = np.float32(1.0)

        def eval_freq(src, pos_of):
            f = np.float32(0.0)
            for s, e, c in eval_source(src, pos_of):
                gaps = max(0, (e - s + 1) - c)
                f = np.float32(f + one / (one + np.float32(gaps)))
            return float(f)

        def fast_freqs(src, docs):
            assert _fast_or_shape(src) is not None, src
            n_docs = len(docs)

            def keys_of(t):
                parts = [
                    (np.int64(ci) << 32) | d[t] for ci, d in enumerate(docs) if len(d[t])
                ]
                return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)

            def slot_keys(slot):
                ks = [keys_of(t) for t in slot]
                ks = [k for k in ks if len(k)]
                if not ks:
                    return np.empty(0, dtype=np.int64)
                return ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks))

            flat = _interval_flat(src, slot_keys, keys_of, n_docs)
            assert flat is not None, src
            S, E, covered, cap = flat
            return _interval_freqs(S, E, covered, n_docs, cap)

        rng = random.Random(99)
        for trial in range(300):
            n_docs = rng.randint(1, 8)
            docs = []
            for _ in range(n_docs):
                uni = list(range(24))
                rng.shuffle(uni)
                d, i = {}, 0
                for t in "abcd":
                    ln = rng.randint(0 if t in "cd" else 1, 6)
                    d[t] = np.array(sorted(uni[i : i + ln]), dtype=np.int64)
                    i += ln
                docs.append(d)
            g = rng.randint(0, 6)
            a, b, c, dd = (ITerm(t) for t in "abcd")
            shapes = [
                # atLeast(2 of 3) via or-of-unordered, with/without cap
                IOr((IUnordered((a, b)), IUnordered((a, c)), IUnordered((b, c)))),
                IMaxGaps(
                    g,
                    IOr((IUnordered((a, b)), IUnordered((a, c)), IUnordered((b, c)))),
                ),
                # mixed branch kinds: term, term-union, ordered, capped unordered
                IOr((a, IOrdered((b, c)))),
                IOr((IOr((a, b)), IMaxGaps(g, IUnordered((c, dd))))),
                IOr((IMaxGaps(g, IOrdered((a, b, c))), IUnordered((b, dd)))),
                # duplicate branches → duplicate spans must dedupe
                IOr((IUnordered((a, b)), IUnordered((a, b)), c)),
            ]
            from lucene_spark.search.intervals import (
                IBefore,
                IContainedBy,
                INotContaining,
            )

            shapes += [
                # filtered branches ride the same range-count machinery
                IOr((INotContaining(IMaxGaps(g, IOrdered((a, b))), c), dd)),
                IOr((IBefore(IMaxGaps(g, IUnordered((a, b))), c), IOrdered((c, dd)))),
                IMaxGaps(
                    g + 1,
                    IOr(
                        (
                            IContainedBy(a, IMaxGaps(g + 2, IOrdered((b, c)))),
                            IUnordered((a, dd)),
                        )
                    ),
                ),
            ]
            for src in shapes:
                got = fast_freqs(src, docs)
                want = np.array(
                    [eval_freq(src, lambda t, _d=d: _d[t]) for d in docs],
                    dtype=np.float32,
                )
                assert np.array_equal(got, want), (trial, src, docs, got, want)

    def test_engine_or_query_matches_tree(self, spark, search_index, monkeypatch):
        """End-to-end: the fast path and the (forced) tree path return
        identical hits for an atLeast-style query over the fixture
        index."""
        from lucene_spark.search import ast as A
        from lucene_spark.search import kernels as K
        from lucene_spark.search.engine import Searcher
        from lucene_spark.search.intervals import IOr, IUnordered, ITerm

        s = Searcher(search_index)
        src = IOr(
            (
                IUnordered((ITerm("return"), ITerm("if"))),
                IUnordered((ITerm("return"), ITerm("int"))),
                IUnordered((ITerm("if"), ITerm("int"))),
            )
        )
        q = A.IntervalQuery(src)
        fast = s.search(q, k=50).hits
        monkeypatch.setattr(K, "_fast_or_shape", lambda _src: None)
        tree = s.search(q, k=50).hits
        assert [(d, round(x, 6)) for d, x in fast] == [(d, round(x, 6)) for d, x in tree]
