"""Percolator (lucene/monitor role): registered queries vs streaming
docs, checked against the brute-force oracle's match sets."""

from __future__ import annotations

import pytest

from lucene_spark.search import ast as A
from lucene_spark.search.percolate import QueryMonitor, trigger_terms

QUERIES: dict[str, A.Query] = {
    "q_term": A.TermQuery("return"),
    "q_and": A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("return")), (A.Occur.MUST, A.TermQuery("if")))
    ),
    "q_or2": A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("int")),
            (A.Occur.SHOULD, A.TermQuery("class")),
            (A.Occur.SHOULD, A.TermQuery("self")),
        ),
        minimum_should_match=2,
    ),
    "q_not": A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("return")), (A.Occur.MUST_NOT, A.TermQuery("class")))
    ),
    "q_phrase": A.PhraseQuery(("return", "if")),
    "q_sloppy": A.PhraseQuery(("return", "if"), slop=2),
    "q_sloppy_rep": A.PhraseQuery(("return", "return"), slop=3),
    "q_sloppy3": A.PhraseQuery(("return", "if", "int"), slop=4),
    "q_prefix": A.PrefixQuery("ret"),
    "q_all": A.MatchAllDocsQuery(),
    "q_synonym": A.SynonymQuery(("int", "class")),
    "q_dismax": A.DisjunctionMaxQuery((A.TermQuery("int"), A.TermQuery("class")), 0.3),
}
SLOPPY = {"q_sloppy", "q_sloppy_rep", "q_sloppy3"}


@pytest.fixture(scope="module")
def percolated(spark, corpus_pdf):
    ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    docs = spark.createDataFrame(
        [(i, ordered.loc[i, "content"]) for i in range(len(ordered))], "doc_id long, text string"
    )
    qm = QueryMonitor(spark, dict(QUERIES))
    rows = qm.match(docs).collect()
    got: dict[str, set[int]] = {qid: set() for qid in QUERIES}
    for r in rows:
        got[r["query_id"]].add(r["doc_id"])
    return got


class TestPercolate:
    @pytest.mark.parametrize("qid", sorted(set(QUERIES) - SLOPPY))
    def test_match_set_equals_oracle(self, percolated, oracle, qid):
        want = set(oracle.score(A.rewrite(QUERIES[qid])))
        assert percolated[qid] == want, qid

    def test_sloppy_matches_engine(self, percolated, spark, search_index):
        """The brute oracle has no sloppy support; compare against the
        engine's index-based sloppy kernel (independent of the
        percolator's tokenize-per-doc path)."""
        from lucene_spark.search.engine import Searcher

        s = Searcher(search_index)
        for qid in sorted(SLOPPY):  # 2-term, repeated-term, 3-term
            td = s.search(QUERIES[qid], k=10**6)
            assert td.hits, qid
            assert percolated[qid] == {d for d, _ in td.hits}, qid

    def test_triggers_sound(self):
        assert trigger_terms(A.TermQuery("x")) == {"x"}
        # conjunction: one branch suffices (the smaller)
        t = trigger_terms(
            A.BooleanQuery(
                (
                    (A.Occur.MUST, A.TermQuery("a")),
                    (A.Occur.MUST, A.SynonymQuery(("b", "c"))),
                )
            )
        )
        assert t == {"a"}
        # disjunction needs every branch
        assert trigger_terms(
            A.BooleanQuery(
                ((A.Occur.SHOULD, A.TermQuery("a")), (A.Occur.SHOULD, A.TermQuery("b")))
            )
        ) == {"a", "b"}
        # no guarantee cases
        assert trigger_terms(A.MatchAllDocsQuery()) is None
        assert trigger_terms(A.PrefixQuery("re")) is None

    def test_empty_docs(self, spark):
        qm = QueryMonitor(spark, {"q": A.TermQuery("x")})
        docs = spark.createDataFrame([], "doc_id long, text string")
        assert qm.match(docs).count() == 0

    def test_string_queries_parsed(self, spark):
        qm = QueryMonitor(spark, {"q": "return AND if"})
        docs = spark.createDataFrame([(0, "return if done"), (1, "return only")], "doc_id long, text string")
        got = {(r["doc_id"], r["query_id"]) for r in qm.match(docs).collect()}
        assert got == {(0, "q")}


def test_monitor_runs_on_structured_stream(spark, corpus_df, tmp_path):
    """The Monitor role at cluster scale is ALERTING on a document
    STREAM: match() is one stateless mapInPandas, so the identical call
    runs on a readStream DataFrame — streamed pairs must equal the
    batch pairs over the same docs."""
    docs = corpus_df.drop("content_sha256").selectExpr(
        "doc_id", "content AS text"
    ) if "doc_id" in corpus_df.columns else None
    if docs is None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        docs = (
            corpus_df.drop("content_sha256")
            .withColumn(
                "doc_id",
                F.row_number().over(Window.orderBy("repo", "path", "commit")) - 1,
            )
            .selectExpr("CAST(doc_id AS LONG) AS doc_id", "content AS text")
        )
    src = str(tmp_path / "pstream")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    qm = QueryMonitor(spark, dict(QUERIES))
    batch_pairs = {(r["doc_id"], r["query_id"]) for r in qm.match(docs).collect()}
    assert batch_pairs  # fixture corpus matches some registered query

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        qm.match(stream)
        .writeStream.format("memory")
        .queryName("percolate_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_pairs = {
        (r["doc_id"], r["query_id"])
        for r in spark.sql("SELECT * FROM percolate_stream").collect()
    }
    assert stream_pairs == batch_pairs
