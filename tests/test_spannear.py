"""Span-near / interval proximity tests.

Reference semantics: lucene/queries/src/java/org/apache/lucene/queries/
spans/SpanNearQuery.java:42 (ordered/unordered proximity with slop),
lucene/queries/src/java/org/apache/lucene/queries/intervals/Intervals.java
(minimal-interval matching). The implemented subset is documented on
ast.SpanNearQuery: single-term clauses, minimal intervals, freq =
Σ 1/(1+gaps).
"""

import itertools
import random

import numpy as np
import pytest

from positional_oracle import minimal_intervals

from lucene_spark.search import ast as A


def brute_minimal(pos_lists, in_order):
    n = len(pos_lists)
    wins = []
    for combo in itertools.product(*pos_lists):
        if in_order:
            if all(combo[i] < combo[i + 1] for i in range(n - 1)):
                wins.append((combo[0], combo[-1]))
        else:
            wins.append((min(combo), max(combo)))
    wins = set(wins)
    return sorted(
        (lo, hi)
        for (lo, hi) in wins
        if not any(l2 >= lo and h2 <= hi and (l2, h2) != (lo, hi) for (l2, h2) in wins)
    )


class TestMinimalIntervals:
    def test_documented_examples(self):
        # "a b" ordered in 'x a b a y': minimal ordered = (1,2)
        assert minimal_intervals([np.array([1, 3]), np.array([2])], True) == [(1, 2)]
        # unordered also finds (2,3)
        assert minimal_intervals([np.array([1, 3]), np.array([2])], False) == [(1, 2), (2, 3)]

    def test_nested_interval_dropped(self):
        # ordered chain 5<7<17 contains 13<15<17 → only the inner is minimal
        lists = [np.array([5, 8, 13]), np.array([0, 7, 15]), np.array([1, 17])]
        assert minimal_intervals(lists, True) == [(13, 17)]

    @pytest.mark.parametrize("in_order", [True, False])
    def test_fuzz_vs_bruteforce(self, in_order):
        rng = random.Random(11)
        for _ in range(400):
            n = rng.randint(2, 5)
            allpos = rng.sample(range(34), rng.randint(n, 16))
            rng.shuffle(allpos)
            lists = [[] for _ in range(n)]
            for i, p in enumerate(allpos):
                lists[i % n].append(p)
            if any(not l for l in lists):
                continue
            lists = [np.array(sorted(l)) for l in lists]
            assert sorted(minimal_intervals(lists, in_order)) == brute_minimal(lists, in_order)


class TestSpanNearAst:
    def test_rewrite_single_term(self):
        assert A.rewrite(A.SpanNearQuery(("x",), slop=2)) == A.TermQuery("x")

    def test_rewrite_empty(self):
        assert isinstance(A.rewrite(A.SpanNearQuery(())), A.MatchNoDocsQuery)

    def test_extract_terms(self):
        assert A.extract_terms(A.SpanNearQuery(("a", "b"), slop=1)) == {"a", "b"}


@pytest.fixture(scope="module")
def searcher(search_index):
    from lucene_spark.search.engine import Searcher

    return Searcher(search_index)


@pytest.fixture(scope="module")
def docs_by_id(corpus_pdf):
    ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    return {i: ordered.loc[i, "content"] for i in range(len(ordered))}


class TestSpanNearEngine:
    def test_ordered_vs_unordered(self, searcher):
        s = searcher
        # unordered can only gain matches over ordered for the same slop
        o = s.search(A.SpanNearQuery(("return", "if"), slop=3, in_order=True), k=1000)
        u = s.search(A.SpanNearQuery(("return", "if"), slop=3, in_order=False), k=1000)
        o_docs = {d for d, _ in o.hits}
        u_docs = {d for d, _ in u.hits}
        assert o_docs <= u_docs
        assert len(u_docs) >= len(o_docs)

    def test_ordered_matches_oracle(self, searcher, docs_by_id):
        """Engine span-near hits and scores == independent per-doc
        recomputation from the raw corpus token streams: the scalar
        minimal-interval walk, freq = Σ 1/(1+max(gaps, 0)) over gaps <=
        slop, BM25 over that freq. Distinct and repeated terms, ordered
        and unordered (a repeated term's slots share every position, so
        its unordered windows can be zero-width)."""
        from lucene_spark.analysis import tokenize_with_positions
        from lucene_spark.codec.smallfloat import int_to_byte4_np
        from lucene_spark.search.similarity import score_freqs

        toks = {d: tokenize_with_positions(t) for d, t in docs_by_id.items()}
        one = np.float32(1.0)
        cases = [
            (("return", "if"), 2, True),
            (("return", "return"), 3, True),
            (("return", "return"), 3, False),
            (("if", "return", "if"), 6, True),
            (("return", "if", "return"), 6, False),
        ]
        for terms, slop, in_order in cases:
            q = A.SpanNearQuery(terms, slop=slop, in_order=in_order)
            td = searcher.search(q, k=10)
            assert td.hits, ("expected matches in fixture corpus", terms, in_order)
            _, spec, stats, _ = searcher.prepare(q)
            want = []
            for d, (v, pos) in toks.items():
                pls = [np.array([p for t, p in zip(v, pos) if t == term]) for term in terms]
                f = np.float32(0.0)
                for lo, hi in minimal_intervals(pls, in_order):
                    gaps = (hi - lo + 1) - len(terms)
                    if gaps <= slop:
                        f = np.float32(f + one / (one + np.float32(max(gaps, 0))))
                if f > 0:
                    nb = int(int_to_byte4_np(np.array([len(v)]))[0])
                    sc = score_freqs(spec.weight, np.array([f]), np.array([nb]), stats.cache())
                    want.append((d, float(sc[0])))
            want.sort(key=lambda h: (-h[1], h[0]))
            assert [d for d, _ in td.hits] == [d for d, _ in want[:10]], (terms, in_order)
            for (_, a), (_, b) in zip(td.hits, want):
                assert a == b, (terms, in_order)

    def test_spannear_in_boolean(self, searcher):
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.SpanNearQuery(("return", "if"), slop=3)),
                (A.Occur.MUST_NOT, A.TermQuery("class")),
            )
        )
        td = searcher.search(q, k=20)
        excl = {d for d, _ in searcher.search("class", k=100000).hits}
        assert all(d not in excl for d, _ in td.hits)
