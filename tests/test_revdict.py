"""Leading-wildcard acceleration via the reversed term dictionary
(ReverseStringFilter role, analysis/common/.../reverse/
ReverseStringFilter.java:30-60 as used by Solr's ReversedWildcardFilter):
the builder writes a term_stats_rev sidecar sorted by reverse(term);
*suffix wildcards become pushed-down startswith on it. Correctness is
path-equivalence (sidecar ≡ regexp scan ≡ brute), plus writer-commit
invalidation so a stale sidecar can never serve a modified index."""

import os
import re

import pytest

from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher


def _brute_suffix_terms(corpus_pdf, suffix):
    from lucene_spark.analysis import tokenize

    terms = set()
    for t in corpus_pdf["content"]:
        terms.update(x for x in tokenize(t) if x.endswith(suffix))
    return terms


class TestReverseDict:
    def test_sidecar_exists_and_flagged(self, search_index, index_dir):
        assert search_index._manifest.get("reverse_dict") is True
        assert os.path.isdir(f"{index_dir}/term_stats_rev")

    def test_suffix_equals_regexp_expansion(self, search_index):
        for suf in ("urn", "nt", "a", "zzznotthere"):
            via_rev = sorted(search_index.expand_terms("suffix", suf))
            via_rx = sorted(search_index.expand_terms("regexp", f".*{suf}"))
            assert via_rev == via_rx, suf

    def test_engine_leading_wildcard(self, search_index, corpus_pdf):
        s = Searcher(search_index)
        hits = {d for d, _ in s.search(A.WildcardQuery("*urn"), k=10**6).hits}
        want_terms = _brute_suffix_terms(corpus_pdf, "urn")
        from lucene_spark.analysis import tokenize

        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        want = {
            i
            for i in range(len(ordered))
            if any(t in want_terms for t in tokenize(ordered.loc[i, "content"]))
        }
        assert hits == want

    def test_mixed_wildcards_keep_regexp_path(self, search_index):
        # *a*b / *a?b are NOT pure suffixes — they must stay on the
        # regexp route and still work
        s = Searcher(search_index)
        got = {d for d, _ in s.search(A.WildcardQuery("*od?"), k=10**6).hits}
        rx_terms = search_index.expand_terms("regexp", ".*od.")
        want = {d for d, _ in s.search(A.TermInSetQuery(tuple(rx_terms)), k=10**6).hits}
        assert got == want

    def test_fallback_without_sidecar(self, search_index):
        # manifest without the flag (writer-modified index): plain
        # endswith scan, identical results
        m = dict(search_index._manifest)
        had = m.pop("reverse_dict", None)
        assert had
        orig = search_index._manifest
        try:
            search_index.__dict__["_manifest"] = m
            search_index.cache.clear()
            via_scan = sorted(search_index.expand_terms("suffix", "urn"))
        finally:
            search_index.__dict__["_manifest"] = orig
            search_index.cache.clear()
        assert via_scan == sorted(search_index.expand_terms("regexp", ".*urn"))

    def test_sidecar_plan_pushes_startswith(self, spark, search_index, index_dir):
        from pyspark.sql import functions as F

        plan = (
            spark.read.parquet(f"{index_dir}/term_stats_rev")
            .filter(F.col("term_rev").startswith("nru"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert re.search(r"PushedFilters: \[.*StringStartsWith\(term_rev,nru", plan), plan


class TestWriterInvalidation:
    def test_commit_drops_sidecar_and_stays_correct(self, spark, corpus_df, tmp_path):
        from lucene_spark.index.builder import IndexConfig
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.index.writer import IndexWriter

        wdir = str(tmp_path / "wix")
        w = IndexWriter(spark, wdir, IndexConfig(docs_per_chunk=128, term_buckets=4))
        w.add_documents(corpus_df.drop("content_sha256"))
        w.commit()
        # a NEW term ending in a never-seen suffix
        extra = spark.createDataFrame(
            [("r", "p", "c", "en", "zzqueryburn zzqueryburn")],
            "repo string, path string, commit string, lang string, content string",
        )
        w.add_documents(extra)
        ix = w.commit()
        assert not os.path.exists(f"{wdir}/term_stats_rev")
        assert not ix._manifest.get("reverse_dict")
        s = Searcher(ix)
        td = s.search(A.WildcardQuery("*burn"), k=10)
        assert td.total_hits == 1  # found via the fallback scan
