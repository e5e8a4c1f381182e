"""Payload queries (PayloadScoreQuery / SpanPayloadCheckQuery) over an
index built with DelimitedPayloadTokenFilter-style float payloads —
engine results vs a pure-python from-definition brute force.

References:
- lucene/analysis/common/src/java/org/apache/lucene/analysis/payloads/
  DelimitedPayloadTokenFilter.java:35-70 (strip "term|payload" suffix,
  FloatEncoder default, null payload when no delimiter)
- lucene/queries/src/java/org/apache/lucene/queries/payloads/
  PayloadScoreQuery.java:43-95 (factor = PayloadFunction.docScore over
  the payloads of every matching span; includeSpanScore multiplies)
- MinPayloadFunction / MaxPayloadFunction / SumPayloadFunction /
  AveragePayloadFunction.java:39-41 (running value semantics; no
  payloads -> 1; negative docScore truncates to 0 via
  PayloadSpanScorer.getPayloadScore)
- SpanPayloadCheckQuery.java:47-90 (keep only spans whose payload
  sequence equals the given list; null payload never matches)
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from lucene_spark.codec.smallfloat import int_to_byte4_np
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.similarity import BM25Stats, idf, score_freqs

VOCAB = ["alpha", "beta", "gamma", "delta", "echo", "foxtrot", "golf"]
DELIM = "|"


def _make_payload_corpus(n_docs=150, seed=7):
    """Deterministic corpus of whitespace tokens "term" or
    "term|<float>"; payloads include negatives (the truncate-to-0 path)
    and missing payloads (the null-payload path)."""
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        n = rng.randint(5, 30)
        toks = []
        for _ in range(n):
            t = rng.choice(VOCAB)
            if rng.random() < 0.7:
                v = round(rng.uniform(-1.0, 5.0), 2)
                toks.append(f"{t}{DELIM}{v}")
            else:
                toks.append(t)
        rows.append((d, " ".join(toks)))
    return rows


def _parse(text):
    """(term, payload_or_None) per token — the filter's contract."""
    out = []
    for tok in text.split():
        i = tok.rfind(DELIM)
        if i < 0:
            out.append((tok, None))
        else:
            out.append((tok[:i], float(tok[i + 1 :])))
    return out


@pytest.fixture(scope="module")
def pay_rows():
    return _make_payload_corpus()


@pytest.fixture(scope="module")
def pay_index(tmp_path_factory, spark, pay_rows):
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex

    d = str(tmp_path_factory.mktemp("payidx"))
    cfg = IndexConfig(
        analyzer="whitespace",
        delimited_payloads=DELIM,
        docs_per_chunk=64,  # several chunks: hot-term + distributed paths
        term_buckets=4,
    )
    df = spark.createDataFrame(pay_rows, "doc_id long, content string")
    IndexBuilder(spark, cfg).build(df, d, assign_ids=False)
    return SearchIndex(spark, d)


# ---- brute force ------------------------------------------------------------


class _Brute:
    def __init__(self, rows):
        self.docs = {d: _parse(t) for d, t in rows}
        self.n_docs = len(self.docs)
        self.sum_ttf = sum(len(v) for v in self.docs.values())
        self.stats = BM25Stats(self.n_docs, self.sum_ttf)
        self.cache = self.stats.cache()

    def df_of(self, term):
        return sum(1 for v in self.docs.values() if any(t == term for t, _ in v))

    def weight(self, terms):
        """f32 sum of idfs over sorted unique terms (multi_weight)."""
        w = np.float32(0.0)
        for t in sorted(set(terms)):
            w = np.float32(w + idf(self.df_of(t), self.n_docs))
        return w

    @staticmethod
    def factor(fn, pays):
        """PayloadFunction.docScore over the collected payload list
        (sequential f32; None = no payload, skipped)."""
        vals = [np.float32(p) for p in pays if p is not None]
        if not vals:
            return np.float32(1.0)
        if fn == "sum" or fn == "avg":
            s = np.float32(0.0)
            for v in vals:
                s = np.float32(s + v)
            f = np.float32(s / np.float32(len(vals))) if fn == "avg" else s
        elif fn == "min":
            f = min(vals)
        else:
            f = max(vals)
        return f if f >= 0 else np.float32(0.0)

    def score(self, w, freq, dl):
        nb = int(int_to_byte4_np(np.array([dl]))[0])
        return score_freqs(w, np.array([freq], dtype=np.float32), np.array([nb]), self.cache)[0]

    def term_query(self, term, fn, include_span):
        w = self.weight([term])
        hits = []
        for d, toks in self.docs.items():
            occ = [(i, p) for i, (t, p) in enumerate(toks) if t == term]
            if not occ:
                continue
            f = self.factor(fn, [p for _, p in occ])
            if include_span:
                s = np.float32(np.float32(self.score(w, len(occ), len(toks))) * f)
            else:
                s = f
            hits.append((d, float(s)))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits

    def or_query(self, terms, fn, include_span):
        """Span-OR: per-term f32 partial sums combined in term order —
        mirrors the engine's documented per-term-then-combine f32
        associativity (kernels.PayloadSpec docstring)."""
        w = self.weight(terms)
        hits = []
        for d, toks in self.docs.items():
            freq = 0
            cnt = 0
            s32 = np.float32(0.0)
            mn, mx = np.float32(np.inf), np.float32(-np.inf)
            seen = False
            for term in terms:
                occ = [(i, p) for i, (t, p) in enumerate(toks) if t == term]
                if not occ:
                    continue
                seen = True
                freq += len(occ)
                part = np.float32(0.0)
                for _, p in occ:
                    if p is not None:
                        cnt += 1
                        part = np.float32(part + np.float32(p))
                        mn = min(mn, np.float32(p))
                        mx = max(mx, np.float32(p))
                s32 = np.float32(s32 + part)
            if not seen:
                continue
            if cnt == 0:
                f = np.float32(1.0)
            elif fn == "sum":
                f = s32
            elif fn == "avg":
                f = np.float32(s32 / np.float32(cnt))
            elif fn == "min":
                f = mn
            else:
                f = mx
            if not (f >= 0):
                f = np.float32(0.0)
            if include_span:
                s = np.float32(np.float32(self.score(w, freq, len(toks))) * f)
            else:
                s = f
            hits.append((d, float(s)))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits

    def spans_of(self, toks, terms):
        """Exact ordered adjacent spans of distinct terms: start
        positions where terms[i] occurs at start+i for every slot."""
        n = len(terms)
        out = []
        for s in range(len(toks) - n + 1):
            if all(toks[s + i][0] == terms[i] for i in range(n)):
                out.append(s)
        return out

    def phrase_query(self, terms, fn, include_span):
        """Per-slot f32 partial sums across the doc's matching spans,
        combined across slots in slot order (engine associativity)."""
        w = self.weight(terms)
        hits = []
        for d, toks in self.docs.items():
            spans = self.spans_of(toks, terms)
            if not spans:
                continue
            cnt = 0
            s32 = np.float32(0.0)
            mn, mx = np.float32(np.inf), np.float32(-np.inf)
            for i in range(len(terms)):
                part = np.float32(0.0)
                for s in spans:
                    p = toks[s + i][1]
                    if p is not None:
                        cnt += 1
                        part = np.float32(part + np.float32(p))
                        mn = min(mn, np.float32(p))
                        mx = max(mx, np.float32(p))
                s32 = np.float32(s32 + part)
            if cnt == 0:
                f = np.float32(1.0)
            elif fn == "sum":
                f = s32
            elif fn == "avg":
                f = np.float32(s32 / np.float32(cnt))
            elif fn == "min":
                f = mn
            else:
                f = mx
            if not (f >= 0):
                f = np.float32(0.0)
            if include_span:
                s = np.float32(np.float32(self.score(w, len(spans), len(toks))) * f)
            else:
                s = f
            hits.append((d, float(s)))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits

    def check_term(self, term, value):
        w = self.weight([term])
        hits = []
        for d, toks in self.docs.items():
            kept = sum(
                1
                for t, p in toks
                if t == term and p is not None and np.float32(p) == np.float32(value)
            )
            if kept:
                hits.append((d, float(self.score(w, kept, len(toks)))))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits

    def check_phrase(self, terms, values):
        w = self.weight(terms)
        hits = []
        for d, toks in self.docs.items():
            kept = 0
            for s in self.spans_of(toks, terms):
                ok = all(
                    toks[s + i][1] is not None
                    and np.float32(toks[s + i][1]) == np.float32(values[i])
                    for i in range(len(terms))
                )
                kept += ok
            if kept:
                hits.append((d, float(self.score(w, kept, len(toks)))))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits


@pytest.fixture(scope="module")
def brute(pay_rows):
    return _Brute(pay_rows)


def _assert_same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-6, abs=1e-7)


# ---- codec round-trip --------------------------------------------------------


class TestPayloadCodec:
    def test_roundtrip(self):
        from lucene_spark.codec.positions import pack_payloads, unpack_payloads

        rng = np.random.default_rng(3)
        tfs = rng.integers(1, 9, size=40)
        pays = []
        for n in tfs:
            a = rng.uniform(-4, 4, size=n).astype(np.float32)
            a[rng.random(n) < 0.3] = np.nan
            pays.append(a)
        blob = pack_payloads(pays)
        back = unpack_payloads(blob, tfs)
        assert len(back) == len(pays)
        for a, b in zip(pays, back):
            np.testing.assert_array_equal(a, b)

    def test_empty(self):
        from lucene_spark.codec.positions import pack_payloads, unpack_payloads

        assert pack_payloads([]) == b""
        assert unpack_payloads(b"", np.array([2, 1])) == [
            pytest.approx([np.nan, np.nan], nan_ok=True),
            pytest.approx([np.nan], nan_ok=True),
        ] or True  # empty blob -> per-doc empty arrays
        out = unpack_payloads(b"", np.array([2, 1]))
        assert all(len(x) == 0 for x in out)


# ---- engine vs brute ---------------------------------------------------------


FNS = ["min", "max", "avg", "sum"]


class TestPayloadScore:
    @pytest.mark.parametrize("fn", FNS)
    def test_term_span(self, pay_index, brute, fn):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.TermQuery("alpha"), function=fn)
        _assert_same(
            s.search(q, k=25).hits, brute.term_query("alpha", fn, True)[:25]
        )

    @pytest.mark.parametrize("fn", FNS)
    def test_term_span_factor_only(self, pay_index, brute, fn):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.TermQuery("beta"), function=fn, include_span_score=False)
        _assert_same(
            s.search(q, k=25).hits, brute.term_query("beta", fn, False)[:25]
        )

    @pytest.mark.parametrize("fn", FNS)
    def test_span_or(self, pay_index, brute, fn):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.SynonymQuery(("gamma", "delta")), function=fn)
        _assert_same(
            s.search(q, k=25).hits, brute.or_query(("gamma", "delta"), fn, True)[:25]
        )

    @pytest.mark.parametrize("fn", FNS)
    def test_phrase_span(self, pay_index, brute, fn):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.PhraseQuery(("alpha", "beta")), function=fn)
        _assert_same(
            s.search(q, k=25).hits, brute.phrase_query(("alpha", "beta"), fn, True)[:25]
        )

    def test_three_slot_phrase(self, pay_index, brute):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.PhraseQuery(("alpha", "beta", "gamma")), function="sum")
        _assert_same(
            s.search(q, k=25).hits,
            brute.phrase_query(("alpha", "beta", "gamma"), "sum", True)[:25],
        )

    def test_distributed_twin(self, pay_index, brute):
        s = Searcher(pay_index)
        for q in [
            A.PayloadScoreQuery(A.TermQuery("alpha"), function="avg"),
            A.PayloadScoreQuery(A.SynonymQuery(("gamma", "delta")), function="max"),
            A.PayloadScoreQuery(A.PhraseQuery(("alpha", "beta")), function="sum"),
        ]:
            a = s.search(q, k=15, mode="driver").hits
            b = s.search(q, k=15, mode="distributed").hits
            assert a == b

    def test_inside_boolean(self, pay_index, brute):
        """Payload clause composes with ordinary boolean scoring."""
        s = Searcher(pay_index)
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.PayloadScoreQuery(A.TermQuery("alpha"), function="max")),
                (A.Occur.MUST_NOT, A.TermQuery("golf")),
            )
        )
        got = s.search(q, k=20).hits
        want = [
            (d, sc)
            for d, sc in brute.term_query("alpha", "max", True)
            if not any(t == "golf" for t, _ in brute.docs[d])
        ][:20]
        _assert_same(got, want)


class TestPayloadCheck:
    def test_term_check(self, pay_index, brute, pay_rows):
        # pick a payload value that actually occurs on 'echo'
        val = next(
            p
            for _, text in pay_rows
            for t, p in _parse(text)
            if t == "echo" and p is not None
        )
        s = Searcher(pay_index)
        q = A.SpanPayloadCheckQuery(A.TermQuery("echo"), payloads=(val,))
        _assert_same(s.search(q, k=25).hits, brute.check_term("echo", val)[:25])

    def test_term_check_no_match(self, pay_index, brute):
        s = Searcher(pay_index)
        q = A.SpanPayloadCheckQuery(A.TermQuery("echo"), payloads=(123456.5,))
        assert s.search(q, k=10).hits == []

    def test_phrase_check(self, pay_index, brute, pay_rows):
        # find an adjacent (alpha, beta) span whose two payloads exist
        target = None
        for _, text in pay_rows:
            toks = _parse(text)
            for s0 in range(len(toks) - 1):
                if (
                    toks[s0][0] == "alpha"
                    and toks[s0 + 1][0] == "beta"
                    and toks[s0][1] is not None
                    and toks[s0 + 1][1] is not None
                ):
                    target = (toks[s0][1], toks[s0 + 1][1])
                    break
            if target:
                break
        assert target is not None, "corpus must contain a fully-paid alpha beta span"
        s = Searcher(pay_index)
        q = A.SpanPayloadCheckQuery(A.PhraseQuery(("alpha", "beta")), payloads=target)
        _assert_same(
            s.search(q, k=25).hits, brute.check_phrase(("alpha", "beta"), target)[:25]
        )

    def test_wrong_arity_matches_nothing(self, pay_index):
        s = Searcher(pay_index)
        q = A.SpanPayloadCheckQuery(A.TermQuery("echo"), payloads=(1.0, 2.0))
        assert s.search(q, k=10).hits == []

    def test_check_distributed_twin(self, pay_index, pay_rows):
        val = next(
            p
            for _, text in pay_rows
            for t, p in _parse(text)
            if t == "alpha" and p is not None
        )
        s = Searcher(pay_index)
        q = A.SpanPayloadCheckQuery(A.TermQuery("alpha"), payloads=(val,))
        assert s.search(q, k=15, mode="driver").hits == s.search(q, k=15, mode="distributed").hits


class TestPayloadBuildContracts:
    def test_requires_whitespace(self, spark, tmp_path):
        from lucene_spark.index.builder import IndexBuilder, IndexConfig

        df = spark.createDataFrame([(0, "a|1.0 b")], "doc_id long, content string")
        with pytest.raises(ValueError, match="whitespace"):
            IndexBuilder(
                spark, IndexConfig(analyzer="standard", delimited_payloads="|")
            ).build(df, str(tmp_path / "x"), assign_ids=False)

    def test_bad_payload_text_raises(self, spark, tmp_path):
        from lucene_spark.index.builder import IndexBuilder, IndexConfig

        df = spark.createDataFrame([(0, "a|oops b")], "doc_id long, content string")
        with pytest.raises(Exception, match="payload|oops"):
            IndexBuilder(
                spark, IndexConfig(analyzer="whitespace", delimited_payloads="|")
            ).build(df, str(tmp_path / "y"), assign_ids=False)

    def test_payloadless_index_rejects_payload_query(self, search_index):
        s = Searcher(search_index)
        q = A.PayloadScoreQuery(A.TermQuery("return"), function="avg")
        with pytest.raises(ValueError, match="payload"):
            s.search(q, k=5)

    def test_plain_queries_unchanged_on_payload_index(self, pay_index, brute):
        """The stripped terms are what's indexed: a plain TermQuery on
        the payload index scores exactly BM25 over stripped tokens."""
        s = Searcher(pay_index)
        got = s.search(A.TermQuery("alpha"), k=15).hits
        w = brute.weight(["alpha"])
        want = []
        for d, toks in brute.docs.items():
            tf = sum(1 for t, _ in toks if t == "alpha")
            if tf:
                want.append((d, float(brute.score(w, tf, len(toks)))))
        want.sort(key=lambda h: (-h[1], h[0]))
        _assert_same(got, want[:15])

    def test_unknown_function_raises(self, pay_index):
        s = Searcher(pay_index)
        with pytest.raises(ValueError, match="payload function"):
            s.search(A.PayloadScoreQuery(A.TermQuery("alpha"), function="median"), k=5)

    def test_unsupported_span_shape_raises(self, pay_index):
        s = Searcher(pay_index)
        q = A.PayloadScoreQuery(A.PhraseQuery(("alpha", "beta"), slop=2))
        with pytest.raises(ValueError, match="span shape|slop"):
            s.search(q, k=5)


class TestPayloadSortedScan:
    def test_sorted_index_scan_equals_search(self, spark, tmp_path, pay_rows):
        """The early-terminating sorted scan carries payloads: on an
        index-sorted payload index its hits are search()'s hits in
        doc (= index sort) order, scores included."""
        from lucene_spark.index.builder import IndexBuilder, IndexConfig
        from lucene_spark.index.reader import SearchIndex

        rows = [(d, t, len(t.split())) for d, t in pay_rows]
        df = spark.createDataFrame(rows, "key long, content string, n long")
        cfg = IndexConfig(
            analyzer="whitespace",
            delimited_payloads=DELIM,
            docs_per_chunk=32,
            term_buckets=2,
            index_sort=("-n", "key"),
        )
        IndexBuilder(spark, cfg).build(df, str(tmp_path / "sorted_pay"))
        s = Searcher(SearchIndex(spark, str(tmp_path / "sorted_pay")))
        for q in [
            A.PayloadScoreQuery(A.TermQuery("alpha"), function="avg"),
            A.PayloadScoreQuery(A.PhraseQuery(("alpha", "beta")), function="sum"),
            A.SpanPayloadCheckQuery(A.TermQuery("echo"), payloads=(1.0,)),
        ]:
            every = s.search(q, k=len(rows))
            want = sorted(every.hits)[:10]
            got = s.search_sorted_index(q, k=10)
            assert got.hits == want, q

