"""Sloppy phrase matching (slop > 0) vs a pure-python brute force with
the same displacement semantics, plus structural invariants."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_spark.analysis.tokenizer import tokenize, tokenize_with_positions
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.similarity import BM25Stats, idf, norm_inverse_cache, score_freqs
from lucene_spark.codec.smallfloat import int_to_byte4_np


def _sim_match_lengths(plists: list[list[int]], slop: int) -> list[int]:
    """Straight re-derivation of the reference's simple sloppy traversal
    (SloppyPhraseMatcher Javadoc + nextMatch contract): offset-adjusted
    positions, always advance the least iterator, emit a match each time
    the leader overtakes the queue minimum with matchLength <= slop
    (matchLength minimized while the leader catches up). Uses plain
    sorted lists instead of the engine's heap."""
    n = len(plists)
    ptr = [1] * n
    pos = [plists[i][0] - i for i in range(n)]
    end = max(pos)
    order = sorted(range(n), key=lambda i: (pos[i], i))
    leader, queue = order[0], order[1:]
    ml = end - pos[leader]
    out: list[int] = []
    while True:
        if ptr[leader] >= len(plists[leader]):
            if ml <= slop:
                out.append(ml)
            return out
        pos[leader] = plists[leader][ptr[leader]] - leader
        ptr[leader] += 1
        end = max(end, pos[leader])
        queue.sort(key=lambda i: (pos[i], i))
        if pos[leader] > pos[queue[0]]:
            queue.append(leader)
            if ml <= slop:
                out.append(ml)
            queue.sort(key=lambda i: (pos[i], i))
            leader = queue.pop(0)
            ml = end - pos[leader]
        else:
            ml = min(ml, end - pos[leader])


def _sloppy_freq32(plists: list[list[int]], slop: int) -> np.float32:
    one = np.float32(1.0)
    f = np.float32(0.0)
    for ml in _sim_match_lengths(plists, slop):
        f = np.float32(f + one / (one + np.float32(ml)))
    return f


def _brute_sloppy(corpus_texts: dict[int, str], terms: tuple[str, ...], slop: int, k: int):
    """Independent implementation: tokenize per doc, reference sloppy
    traversal over Lucene token positions (a dropped over-length token
    still consumes one), BM25 with doc length = emitted tokens."""
    toks = {d: tokenize_with_positions(t) for d, t in corpus_texts.items()}
    n_docs = len(toks)
    sum_ttf = sum(len(v) for v, _ in toks.values())
    dfs = {t: sum(1 for v, _ in toks.values() if t in v) for t in terms}
    if any(dfs[t] == 0 for t in terms):
        return []
    stats = BM25Stats(n_docs, sum_ttf)
    weight = np.float32(np.sum([float(idf(dfs[t], n_docs)) for t in terms]))
    cache = stats.cache()
    hits = []
    for d, (v, positions) in toks.items():
        pos = {t: [p for x, p in zip(v, positions) if x == t] for t in terms}
        if any(not pos[t] for t in terms):
            continue
        freq = _sloppy_freq32([pos[t] for t in terms], slop)
        if freq > 0:
            nb = int(int_to_byte4_np(np.array([len(v)]))[0])
            s = float(score_freqs(weight, np.array([freq]), np.array([nb]), cache)[0])
            hits.append((d, s))
    hits.sort(key=lambda h: (-h[1], h[0]))
    return hits[:k]


@pytest.fixture(scope="module")
def corpus_texts(corpus_pdf):
    ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    return {i: ordered.loc[i, "content"] for i in range(len(ordered))}


class TestSloppyPhrases:
    @pytest.mark.parametrize("terms,slop,k", [
        (("return", "if"), 1, 10),
        (("return", "if"), 3, 10),
        (("int", "return"), 2, 10),
        (("return", "if", "int"), 4, 10),
        # every match: reaches fixture doc 195, whose dropped >255-char
        # token shifts every later position
        (("return", "if", "int"), 4, 200),
    ])
    def test_vs_brute_force(self, spark, search_index, corpus_texts, terms, slop, k):
        s = Searcher(search_index)
        got = s.search(A.PhraseQuery(terms, slop=slop), k=k).hits
        want = _brute_sloppy(corpus_texts, terms, slop, k)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, rel=1e-6)

    def test_javadoc_golden_case(self):
        # SloppyPhraseMatcher.java:40-44 Javadoc: for "a b"~2, the doc
        # "x a b a y" matches twice — "a b" (distance 0) and "a.. b"
        # backwards (distance 2) — so freq = 1/1 + 1/3
        from positional_oracle import _lucene_sloppy_freq

        a_positions, b_positions = [1, 3], [2]
        f = _lucene_sloppy_freq([np.array(a_positions), np.array(b_positions)], slop=2)
        assert f == pytest.approx(1.0 + 1.0 / 3.0, abs=1e-6)
        # sim used by the brute agrees
        assert _sloppy_freq32([a_positions, b_positions], 2) == pytest.approx(f, abs=1e-7)
        # reversed-only occurrence: "b a x" → single distance-2 match
        f2 = _lucene_sloppy_freq([np.array([1]), np.array([0])], slop=2)
        assert f2 == pytest.approx(1.0 / 3.0, abs=1e-6)
        # out of slop → no match
        assert _lucene_sloppy_freq([np.array([0]), np.array([9])], slop=2) == 0.0

    def test_asymmetric_traversal_matches_reference_note(self):
        # SloppyPhraseMatcher.java:45-50: "a b c b a" scores "a b c"~4
        # and "c b a"~4 DIFFERENTLY (least-position propagation skips
        # some combinations) — replicate that asymmetry, don't "fix" it
        from positional_oracle import _lucene_sloppy_freq

        toks = ["a", "b", "c", "b", "a"]
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in "abc"}
        f_abc = _lucene_sloppy_freq([np.array(pos[t]) for t in ("a", "b", "c")], slop=4)
        f_cba = _lucene_sloppy_freq([np.array(pos[t]) for t in ("c", "b", "a")], slop=4)
        assert f_abc > 0 and f_cba > 0
        assert f_abc != pytest.approx(float(f_cba), abs=1e-9)

    def test_repeating_terms_exact_semantics(self):
        # repeat groups: the same term at two phrase offsets must bind
        # to two DISTINCT token positions (collision resolution)
        from positional_oracle import _lucene_sloppy_freq

        # doc "a b" cannot match "a b a": only one 'a' occurrence
        a, b = [0], [1]
        f = _lucene_sloppy_freq([np.array(a), np.array(b), np.array(a)], 5, terms=("a", "b", "a"))
        assert f == 0.0
        # doc "a x a b" vs "a a b"~3: a@[0,2], b@[3]; init puts the two
        # 'a' slots at 0 and 2; hand-traced reference walk yields one
        # match with matchLength 1 → freq 1/2
        a2, b2 = [0, 2], [3]
        f2 = _lucene_sloppy_freq(
            [np.array(a2), np.array(a2), np.array(b2)], 3, terms=("a", "a", "b")
        )
        assert f2 == pytest.approx(0.5, abs=1e-6)
        # doc "ho my my" matches "ho my my"~0 exactly (Javadoc example 2)
        ho, my = [0], [1, 2]
        f3 = _lucene_sloppy_freq(
            [np.array(ho), np.array(my), np.array(my)], 0, terms=("ho", "my", "my")
        )
        assert f3 == pytest.approx(1.0, abs=1e-6)

    def test_repeating_phrase_through_engine(self, spark, tmp_path_factory):
        from lucene_spark.index import IndexBuilder, IndexConfig, SearchIndex

        rows = [
            (0, "r", "p0", "c", "en", "ho my my oh"),
            (1, "r", "p1", "c", "en", "ho my oh"),
            (2, "r", "p2", "c", "en", "my ho my"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, repo string, path string, commit string, lang string, content string"
        )
        d = str(tmp_path_factory.mktemp("rpt_idx"))
        IndexBuilder(spark, IndexConfig(docs_per_chunk=128, term_buckets=2)).build(
            df, d, assign_ids=False
        )
        s = Searcher(SearchIndex(spark, d))
        hits = {d_ for d_, _ in s.search(A.PhraseQuery(("ho", "my", "my"), slop=2), k=10).hits}
        # doc1 has only one "my" → cannot match a phrase needing two
        assert 0 in hits and 1 not in hits

    def test_slop_zero_equals_exact(self, spark, search_index):
        s = Searcher(search_index)
        exact = s.search(A.PhraseQuery(("return", "if")), k=20).hits
        sloppy0 = s.search(A.PhraseQuery(("return", "if"), slop=0), k=20).hits
        assert exact == sloppy0

    def test_slop_widens_matches(self, spark, search_index):
        s = Searcher(search_index)
        n0 = s.count(A.PhraseQuery(("return", "if"), slop=0))
        n2 = s.count(A.PhraseQuery(("return", "if"), slop=2))
        n5 = s.count(A.PhraseQuery(("return", "if"), slop=5))
        assert n0 <= n2 <= n5
        assert n5 > n0  # fixtures guarantee near-adjacent pairs exist

    def test_parser_slop_syntax(self, spark, search_index):
        s = Searcher(search_index)
        a = s.search('"return if"~2', k=10).hits
        b = s.search(A.PhraseQuery(("return", "if"), slop=2), k=10).hits
        assert a == b


class TestMultiPhrase:
    def test_multiphrase_vs_brute(self, spark, search_index, corpus_texts):
        from lucene_spark.search.similarity import BM25Stats

        slots = (("return", "int"), ("if",))
        s = Searcher(search_index)
        got = s.search(A.MultiPhraseQuery(slots), k=10).hits

        toks = {d: tokenize(t) for d, t in corpus_texts.items()}
        n_docs = len(toks)
        sum_ttf = sum(len(v) for v in toks.values())
        uniq = sorted({t for slot in slots for t in slot})
        dfs = {t: sum(1 for v in toks.values() if t in v) for t in uniq}
        stats = BM25Stats(n_docs, sum_ttf)
        weight = np.float32(np.sum([float(idf(dfs[t], n_docs)) for t in uniq]))
        cache = stats.cache()
        hits = []
        for d, v in toks.items():
            slot_pos = [sorted({i for i, x in enumerate(v) if x in slot}) for slot in slots]
            if any(not p for p in slot_pos):
                continue
            freq = sum(1 for p in slot_pos[0] if all((p + i) in set(slot_pos[i]) for i in range(1, len(slots))))
            if freq:
                nb = int(int_to_byte4_np(np.array([len(v)]))[0])
                sc = float(score_freqs(weight, np.array([freq]), np.array([nb]), cache)[0])
                hits.append((d, sc))
        hits.sort(key=lambda h: (-h[1], h[0]))
        want = hits[:10]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, rel=1e-6)

    def test_rewrites(self, spark):
        # single-term slots collapse to PhraseQuery; single slot → Synonym
        q = A.rewrite(A.MultiPhraseQuery((("a",), ("b",))))
        assert q == A.PhraseQuery(("a", "b"))
        q = A.rewrite(A.MultiPhraseQuery((("a", "b"),)))
        assert q == A.SynonymQuery(("a", "b"))
        q = A.rewrite(A.MultiPhraseQuery((("a",), ())))
        assert isinstance(q, A.MatchNoDocsQuery)


class TestFreq2Equivalence:
    """The tight 2-slot kernel must emit EXACTLY what the reference PQ
    simulation emits — same matches, same float32 accumulation."""

    def test_exhaustive_small(self):
        import itertools

        import numpy as np

        from positional_oracle import _lucene_sloppy_freq, _sloppy_freq2

        from lucene_spark.search.kernels import _sloppy_freqs

        slots = (("x",), ("y",))
        for na in range(1, 4):
            for nb in range(1, 4):
                for A in itertools.combinations(range(6), na):
                    for B in itertools.combinations(range(1, 7), nb):
                        for slop in (0, 1, 2, 4):
                            ref = float(
                                _lucene_sloppy_freq([np.array(A), np.array(B)], slop, terms=("x", "y"))
                            )
                            got = float(_sloppy_freq2(np.array(A), np.array(B), slop))
                            assert ref == got, (A, B, slop, ref, got)
                            # the engine's dispatcher (flat 2-slot form),
                            # one candidate: keys are bare positions
                            keys = [np.array(A, dtype=np.int64), np.array(B, dtype=np.int64)]
                            flat = float(_sloppy_freqs(keys, slop, 1, slots)[0])
                            assert ref == flat, (A, B, slop, ref, flat)

    def test_randomized(self):
        import random

        import numpy as np

        from positional_oracle import _lucene_sloppy_freq, _sloppy_freq2

        from lucene_spark.search.kernels import _sloppy_freqs

        rng = random.Random(7)
        for _ in range(3000):
            na, nb = rng.randint(1, 8), rng.randint(1, 8)
            A = sorted(rng.sample(range(40), na))
            B = sorted(rng.sample(range(1, 41), nb))
            slop = rng.randint(0, 12)
            ref = float(_lucene_sloppy_freq([np.array(A), np.array(B)], slop, terms=("x", "y")))
            got = float(_sloppy_freq2(np.array(A), np.array(B), slop))
            assert ref == got, (A, B, slop, ref, got)
            keys = [np.array(A, dtype=np.int64), np.array(B, dtype=np.int64)]
            flat = float(_sloppy_freqs(keys, slop, 1, (("x",), ("y",)))[0])
            assert ref == flat, (A, B, slop, ref, flat)


class TestTwoTermChainClosedForm:
    """The DuckDB oracle for ft_sloppy_top10 models the 2-term reference
    traversal as an alternating cross-list successor chain (see
    gate.oracle_sql); this fuzz test pins kernel ≡ closed form."""

    def test_fuzz_chain_equivalence(self):
        import bisect
        import random

        import numpy as np

        from positional_oracle import _lucene_sloppy_freq

        def chain_freq(A, Badj, slop):
            a1, b1 = A[0], Badj[0]
            x, lst = (a1, 0) if a1 > b1 else (b1, 1)
            one = np.float32(1.0)
            f = np.float32(0.0)
            L = [sorted(A), sorted(Badj)]
            while x is not None:
                other = L[1 - lst]
                i = bisect.bisect_right(other, x) - 1
                if i >= 0:
                    d = x - other[i]
                    if d <= slop:
                        f = np.float32(f + one / (one + np.float32(d)))
                j = bisect.bisect_right(other, x)
                x, lst = (other[j], 1 - lst) if j < len(other) else (None, lst)
            return f

        rng = random.Random(7)
        for _ in range(1500):
            na, nb = rng.randint(1, 8), rng.randint(1, 8)
            A = sorted(rng.sample(range(15), na))
            B = sorted(rng.sample(range(15), nb))
            for slop in (0, 1, 2, 3, 6):
                k = float(_lucene_sloppy_freq([np.array(A), np.array(B)], slop, terms=("x", "y")))
                h = float(chain_freq(A, [b - 1 for b in B], slop))
                assert abs(k - h) < 1e-6, (A, B, slop, k, h)


class TestLockstepNSlotEquivalence:
    """The flat positional kernels must be bit-equal (same emissions,
    same float32 accumulation order) to the per-candidate reference
    simulations they replace: _sloppy_flat_freqs_n and the _sloppy_freqs
    dispatcher vs _lucene_sloppy_freq, and _flat_intervals +
    _interval_freqs vs minimal_intervals-based accumulation (incl.
    repeated-term slots and shared positions) AND vs the interval tree
    evaluator (eval_source) over distinct-slot shapes."""

    @staticmethod
    def _make_docs(rng, n_slots, n_docs, max_pos=40, max_len=8, repeat=None, shared=False):
        """Per-doc slot position lists; distinct positions across slots
        unless ``shared`` (stacked tokens: slots draw independently, so
        they may share positions). ``repeat[j] = i`` makes slot j repeat
        slot i's term (the same list)."""
        docs = []
        for _ in range(n_docs):
            universe = list(range(max_pos))
            rng.shuffle(universe)
            lists, i = [], 0
            for j in range(n_slots):
                if repeat and j in repeat:
                    lists.append(lists[repeat[j]])
                    continue
                ln = rng.randint(1, max_len)
                if shared:
                    lists.append(np.array(sorted(rng.sample(range(max_pos // 2), ln)), dtype=np.int64))
                else:
                    lists.append(np.array(sorted(universe[i : i + ln]), dtype=np.int64))
                    i += ln
            docs.append(lists)
        return docs

    @staticmethod
    def _repeat_of(rng, n_slots):
        """Random repeated-term layout: slot j → earlier slot it repeats."""
        if n_slots < 2 or rng.random() < 0.5:
            return None
        j = rng.randint(1, n_slots - 1)
        return {j: rng.randint(0, j - 1)}

    @staticmethod
    def _keys(docs, n_slots):
        return [
            np.concatenate([(np.int64(ci) << 32) | d[j] for ci, d in enumerate(docs)])
            for j in range(n_slots)
        ]

    def test_sloppy_n_slots(self):
        import random

        from positional_oracle import _lucene_sloppy_freq

        from lucene_spark.search.kernels import _sloppy_flat_freqs_n, _sloppy_freqs

        rng = random.Random(42)
        rng_rep = random.Random(45)
        rng_multi = random.Random(47)
        for _ in range(300):
            n_slots, n_docs = rng.randint(2, 5), rng.randint(1, 20)
            slop = rng.randint(0, 6)
            docs = self._make_docs(rng, n_slots, n_docs)
            keys = self._keys(docs, n_slots)
            slots = tuple((f"t{j}",) for j in range(n_slots))
            got = _sloppy_flat_freqs_n(keys, slop, n_docs)
            want = np.array([_lucene_sloppy_freq(d, slop) for d in docs], dtype=np.float32)
            assert np.array_equal(got, want), (docs, slop, got, want)
            got = _sloppy_freqs(keys, slop, n_docs, slots)
            assert np.array_equal(got, want), (docs, slop, got, want)
            # repeated terms: single-term repeat groups in the lockstep
            repeat = self._repeat_of(rng_rep, n_slots) or {n_slots - 1: 0}
            docs = self._make_docs(rng_rep, n_slots, n_docs, repeat=repeat)
            terms = tuple(f"t{repeat.get(j, j)}" for j in range(n_slots))
            got = _sloppy_freqs(
                self._keys(docs, n_slots), slop, n_docs, tuple((t,) for t in terms)
            )
            want = np.array(
                [_lucene_sloppy_freq(d, slop, terms=terms) for d in docs], dtype=np.float32
            )
            assert np.array_equal(got, want), (docs, terms, slop, got, want)
            # MultiPhrase slots sharing a term (multi-term repeat groups):
            # each slot reads the union of its terms' positions in one
            # random token stream per doc
            st, docs = self._multi_slot_docs(rng_multi, n_docs)
            got = _sloppy_freqs(self._keys(docs, len(st)), slop, n_docs, st)
            want = np.array(
                [_lucene_sloppy_freq(d, slop, slot_terms=st) for d in docs], dtype=np.float32
            )
            assert np.array_equal(got, want), (docs, st, slop, got, want)

    @staticmethod
    def _multi_slot_docs(rng, n_docs):
        """(slot_terms, docs): 2-5 slots of 1-2 terms from "abc", some
        multi-term slot sharing a term with another slot; per doc, each
        slot's sorted union positions in a random "abcx" token stream,
        redrawn until every slot occurs."""
        while True:
            st = tuple(
                tuple(rng.sample("abc", rng.randint(1, 2))) for _ in range(rng.randint(2, 5))
            )
            if any(
                len(s) > 1 and any(set(s) & set(o) for o in st[:i] + st[i + 1 :])
                for i, s in enumerate(st)
            ):
                break
        docs = []
        while len(docs) < n_docs:
            toks = [rng.choice("abcx") for _ in range(rng.randint(1, 24))]
            lists = [
                np.array([p for p, t in enumerate(toks) if t in s], dtype=np.int64) for s in st
            ]
            if all(len(p) for p in lists):
                docs.append(lists)
        return st, docs

    def test_minimal_interval_kernels(self):
        import random

        from positional_oracle import minimal_intervals

        from lucene_spark.search.kernels import _flat_intervals, _interval_freqs

        rng = random.Random(43)
        rng_rep = random.Random(46)
        one = np.float32(1.0)
        for trial in range(900):
            # 300 distinct-slot cases, then repeated-term slots and
            # shared (stacked) positions, where windows can be zero-width
            r = rng if trial < 300 else rng_rep
            n_slots, n_docs = r.randint(2, 5), r.randint(1, 20)
            cap = r.choice([None, 0, 1, 2, 4, 8])
            repeat = self._repeat_of(r, n_slots) if trial >= 300 else None
            docs = self._make_docs(r, n_slots, n_docs, repeat=repeat, shared=trial >= 600)
            Ks = self._keys(docs, n_slots)
            for in_order in (True, False):
                S, E = _flat_intervals(Ks, in_order, cap, n_docs)
                got = _interval_freqs(S, E, n_slots, n_docs)
                want = np.zeros(n_docs, dtype=np.float32)
                for ci, d in enumerate(docs):
                    f = np.float32(0.0)
                    for lo, hi in minimal_intervals(d, in_order):
                        gaps = (hi - lo + 1) - n_slots
                        if cap is None or gaps <= cap:
                            f = np.float32(f + one / (one + np.float32(max(gaps, 0))))
                    want[ci] = f
                assert np.array_equal(got, want), (docs, cap, in_order, got, want)

    def test_interval_tree_equivalence(self):
        import random

        from lucene_spark.search.intervals import (
            IMaxGaps,
            IOrdered,
            ITerm,
            IUnordered,
            eval_source,
        )
        from lucene_spark.search.kernels import _flat_intervals, _interval_freqs

        rng = random.Random(44)
        one = np.float32(1.0)
        for _ in range(200):
            n_slots, n_docs = rng.randint(2, 5), rng.randint(1, 15)
            cap = rng.choice([None, 0, 1, 2, 4, 8])
            docs = self._make_docs(rng, n_slots, n_docs)
            Ks = self._keys(docs, n_slots)
            terms = [f"t{j}" for j in range(n_slots)]
            for in_order in (True, False):
                src = (IOrdered if in_order else IUnordered)(tuple(ITerm(t) for t in terms))
                if cap is not None:
                    src = IMaxGaps(cap, src)
                S, E = _flat_intervals(Ks, in_order, cap, n_docs)
                got = _interval_freqs(S, E, n_slots, n_docs)
                want = np.zeros(n_docs, dtype=np.float32)
                for ci, d in enumerate(docs):
                    f = np.float32(0.0)
                    for s, e, c in eval_source(src, lambda t: d[terms.index(t)]):
                        gaps = max(0, (e - s + 1) - c)
                        f = np.float32(f + one / (one + np.float32(gaps)))
                    want[ci] = f
                assert np.array_equal(got, want), (docs, cap, in_order, got, want)


class TestSharedTermMachine:
    """Multi-term repeat groups (hasMultiTermRpts,
    SloppyPhraseMatcher.java:435-453,562-585): shared-term multiphrase
    slots run the exact collision-resolving PQ. The DuckDB oracle for
    ft_multiphrase_shared_top10 models the 2-slot case as a flat
    transition system (slot0 = union list, slot1 = shared-term list,
    collisions always advance slot1 — the lesser); this fuzz pins
    kernel ≡ machine."""

    @staticmethod
    def _machine_freq(A, B, slop):
        import bisect

        one = np.float32(1.0)
        f = np.float32(0.0)

        def nxt(L, v):
            i = bisect.bisect_right(L, v)
            return L[i] if i < len(L) else None

        if not A or not B:
            return 0.0
        x0, x1 = A[0], B[0]
        if x1 == x0:
            x1 = nxt(B, x1)
            if x1 is None:
                return float(f)
        end = max(x0, x1 - 1)
        if x0 <= x1 - 1:
            lead, nxtp, ml = 0, x1 - 1, end - x0
        else:
            lead, nxtp, ml = 1, x0, end - (x1 - 1)
        while True:
            adv = nxt(A, x0) if lead == 0 else nxt(B, x1)
            if adv is None:
                if ml <= slop:
                    f = np.float32(f + one / (one + np.float32(ml)))
                return float(f)
            if lead == 0:
                x0 = adv
            else:
                x1 = adv
            end = max(end, adv - lead)
            if x0 == x1:
                nb = nxt(B, x1)
                if nb is None:
                    if ml <= slop:
                        f = np.float32(f + one / (one + np.float32(ml)))
                    return float(f)
                x1 = nb
                end = max(end, x1 - 1)
            p_lead = x0 if lead == 0 else x1 - 1
            if p_lead > nxtp:
                if ml <= slop:
                    f = np.float32(f + one / (one + np.float32(ml)))
                p0, p1 = x0, x1 - 1
                lead = 0 if p0 <= p1 else 1
                nxtp = p1 if lead == 0 else p0
                ml = end - (p0 if lead == 0 else p1)
            else:
                ml = min(ml, end - p_lead)

    def test_golden_cases(self):
        from positional_oracle import _lucene_sloppy_freq

        st = (("a", "b"), ("b",))
        # doc "b x a b": a@2 b@{0,3} -> init displaces slot1 off the
        # shared first token; the a..b pair at 2-3 matches exactly
        f = _lucene_sloppy_freq([np.array([0, 2, 3]), np.array([0, 3])], 2, slot_terms=st)
        assert float(f) == 1.0
        # doc "b a b": exact a-b adjacency at 1-2
        f = _lucene_sloppy_freq([np.array([0, 1, 2]), np.array([0, 2])], 2, slot_terms=st)
        assert float(f) == 1.0
        # doc "b": slot1 cannot move off the only shared token -> no match
        f = _lucene_sloppy_freq([np.array([0]), np.array([0])], 4, slot_terms=st)
        assert float(f) == 0.0

    def test_singleton_slots_equal_terms_path(self):
        import random

        from positional_oracle import _lucene_sloppy_freq

        rng = random.Random(5)
        for _ in range(800):
            n = rng.randint(2, 4)
            tnames = [rng.choice("ab") for _ in range(n)]
            lists = []
            for _ in range(n):
                lists.append(np.array(sorted(rng.sample(range(20), rng.randint(1, 6))), dtype=np.int64))
            by: dict = {}
            for i, t in enumerate(tnames):
                if t in by:
                    lists[i] = lists[by[t]]
                else:
                    by[t] = i
            slop = rng.randint(0, 5)
            a = _lucene_sloppy_freq(lists, slop, terms=tuple(tnames))
            b = _lucene_sloppy_freq(lists, slop, slot_terms=tuple((t,) for t in tnames))
            assert float(a) == float(b), (tnames, [l.tolist() for l in lists], slop)

    def test_fuzz_machine_equivalence(self):
        import random

        from positional_oracle import _lucene_sloppy_freq

        rng = random.Random(11)
        for _ in range(3000):
            uni = sorted(rng.sample(range(25), rng.randint(1, 14)))
            pa = sorted(rng.sample(uni, rng.randint(0, len(uni))))
            pb = sorted(set(uni) - set(pa))
            if not pb:
                continue
            A, B = sorted(pa + pb), pb
            slop = rng.randint(0, 6)
            want = float(
                _lucene_sloppy_freq(
                    [np.array(A), np.array(B)], slop, slot_terms=(("a", "b"), ("b",))
                )
            )
            got = self._machine_freq(A, B, slop)
            assert got == want, (pa, pb, slop, got, want)
