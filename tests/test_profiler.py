"""Query profiler (sandbox QueryProfilerIndexSearcher /
QueryProfilerBreakdown / QueryProfilerTree role): the timing tree must
mirror the rewritten query structure, report non-negative times with
self <= total, count matches per node, and return exactly the hits the
real search returns."""

from __future__ import annotations

import pytest

from lucene_spark.index.builder import IndexBuilder, IndexConfig
from lucene_spark.index.reader import SearchIndex
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.profiler import profile


@pytest.fixture(scope="module")
def searcher(tmp_path_factory, spark, corpus_df):
    d = str(tmp_path_factory.mktemp("prof") / "ix")
    IndexBuilder(spark, IndexConfig(docs_per_chunk=64, term_buckets=2)).build(
        corpus_df.drop("content_sha256"), d
    )
    return Searcher(SearchIndex(spark, d))


def _walk(node):
    yield node
    for c in node["children"]:
        yield from _walk(c)


class TestProfileTree:
    def test_bool_tree_mirrors_query(self, searcher):
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("return")),
                (A.Occur.SHOULD, A.TermQuery("if")),
                (A.Occur.MUST_NOT, A.TermQuery("int")),
            )
        )
        p = profile(searcher, q, k=10)
        t = p["tree"]
        assert t["type"] == "BoolSpec"
        rels = sorted(c["relation"] for c in t["children"])
        assert rels == ["MUST", "MUST_NOT", "SHOULD"]
        for n in _walk(t):
            assert n["total_sec"] >= 0
            assert 0 <= n["self_sec"] <= n["total_sec"] + 1e-9
            assert n["matched"] >= 0
        assert set(p["phases"]) == {"prepare_sec", "rows_sec", "evaluate_sec", "collect_sec"}

    def test_hits_equal_real_search(self, searcher):
        for q in ["return AND if", '"return if"', "ret*", "+return -int"]:
            p = profile(searcher, q, k=10)
            real = searcher.search(q, k=10)
            assert p["hits"] == [(int(d), float(s)) for d, s in real.hits]
            assert p["total_matched"] == real.total_hits
            assert p["search_sec"] > 0

    def test_dismax_children(self, searcher):
        q = A.DisjunctionMaxQuery((A.TermQuery("return"), A.TermQuery("if")), 0.3)
        p = profile(searcher, q, k=5)
        assert p["tree"]["type"] == "DisMaxSpec"
        assert [c["relation"] for c in p["tree"]["children"]] == ["DISJUNCT", "DISJUNCT"]
        # union is at least as large as either disjunct
        assert p["tree"]["matched"] >= max(c["matched"] for c in p["tree"]["children"])

    def test_constant_score_wrapper(self, searcher):
        inner = A.BooleanQuery(
            ((A.Occur.MUST, A.TermQuery("return")), (A.Occur.SHOULD, A.TermQuery("if")))
        )
        p = profile(searcher, A.BoostQuery(A.ConstantScoreQuery(inner), 2.0), k=10)
        t = p["tree"]
        assert (t["type"], t["description"]) == ("ConstWrapSpec", "ConstantScore(boost=2)")
        [child] = t["children"]
        assert (child["relation"], child["type"]) == ("FILTER", "BoolSpec")
        assert [c["relation"] for c in child["children"]] == ["MUST", "SHOULD"]
        assert t["matched"] == child["matched"] > 0
        assert {s for _, s in p["hits"]} == {2.0}

    def test_term_and_phrase_descriptions(self, searcher):
        p = profile(searcher, '"return if"', k=5)
        assert "return if" in p["tree"]["description"]
        p2 = profile(searcher, "return", k=5)
        assert p2["tree"]["type"] == "TermSpec"
        assert p2["tree"]["children"] == []

    def test_match_none(self, searcher):
        p = profile(searcher, A.MatchNoDocsQuery(), k=5)
        assert p["hits"] == [] and p["tree"]["type"] == "NoneSpec"

    def test_live_docs_applied(self, spark, tmp_path, corpus_df):
        """Top-level hits/total_matched exclude tombstoned docs (they
        must equal the real search); per-node matched stays
        scorer-level like Scorer.cost()."""
        import shutil

        from lucene_spark.index.deletes import delete_docs

        d = str(tmp_path / "ix")
        IndexBuilder(spark, IndexConfig(docs_per_chunk=64, term_buckets=2)).build(
            corpus_df.drop("content_sha256"), d
        )
        s0 = Searcher(SearchIndex(spark, d))
        victim = s0.search("return", k=1).hits[0][0]
        delete_docs(spark, d, [victim])
        s = Searcher(SearchIndex(spark, d))
        p = profile(s, "return", k=10)
        real = s.search("return", k=10)
        assert p["hits"] == [(int(x), float(y)) for x, y in real.hits]
        assert victim not in {x for x, _ in p["hits"]}
        assert p["total_matched"] == real.total_hits
        shutil.rmtree(d, ignore_errors=True)
