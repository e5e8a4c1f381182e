"""Facets, highlighting, and the per-reader term-row LRU cache."""

from __future__ import annotations

import time

import pytest

from lucene_spark.analysis.tokenizer import tokenize
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.postprocess import _make_snippet, facet_counts, group_top_hits, highlight


class TestFacets:
    def test_facet_counts_vs_brute(self, spark, search_index, corpus_pdf):
        s = Searcher(search_index)
        docs_df = search_index.docs.select("doc_id", "lang")
        got = {r["lang"]: r["cnt"] for r in facet_counts(s, A.TermQuery("return"), docs_df, "lang").collect()}
        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        want: dict[str, int] = {}
        for i in range(len(ordered)):
            if "return" in tokenize(ordered.loc[i, "content"]):
                want[ordered.loc[i, "lang"]] = want.get(ordered.loc[i, "lang"], 0) + 1
        assert got == want


class TestGrouping:
    def test_group_top_hits_vs_brute(self, spark, search_index, corpus_pdf, oracle):
        s = Searcher(search_index)
        docs_df = search_index.docs.select("doc_id", "lang")
        got = [
            (r["lang"], r["grank"], r["doc_id"])
            for r in group_top_hits(s, A.TermQuery("return"), docs_df, "lang", k_per_group=2)
            .orderBy("lang", "grank")
            .collect()
        ]
        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        lang_of = {i: ordered.loc[i, "lang"] for i in range(len(ordered))}
        hits = oracle.top_k(A.TermQuery("return"), k=10**9)  # (doc, score) desc, doc asc
        want = []
        per: dict[str, int] = {}
        for d, _sc in hits:
            g = lang_of[d]
            per[g] = per.get(g, 0) + 1
            if per[g] <= 2:
                want.append((g, per[g], d))
        assert got == sorted(want)


class TestHighlight:
    def test_snippet_marks_terms(self):
        s = _make_snippet("the quick Brown fox jumps over the lazy dog", {"brown", "lazy"}, window=1)
        assert "<b>Brown</b>" in s and "<b>lazy</b>" in s
        assert "quick" in s and "jumps" not in s.replace("<b>", "")  # windowed

    def test_highlight_df(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "nothing here")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["snippet"] for r in highlight(df, ["beta"]).collect()}
        assert "<b>beta</b>" in rows[0]
        assert rows[1] == ""


class TestQueryCache:
    def test_repeat_query_uses_cache(self, spark, search_index):
        s = Searcher(search_index)
        a = s.search("return AND if", k=10).hits
        assert set(search_index.cache.get_many("rows", ["return", "if"])) == {"return", "if"}
        t0 = time.time()
        b = s.search("return AND if", k=10).hits
        warm = time.time() - t0
        assert a == b
        assert warm < 0.15  # no Spark job on the warm path

    def test_negative_cache(self, spark, search_index):
        s = Searcher(search_index)
        assert s.search("zzzznosuchterm", k=10).hits == []
        assert search_index.cache.get("rows", "zzzznosuchterm") == []
        assert s.search("zzzznosuchterm", k=10).hits == []
