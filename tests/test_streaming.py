"""Structured-Streaming incremental indexing (NRT): micro-batch
segments, refresh-reopen, equivalence with a batch build."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lucene_spark.fixtures import make_corpus
from lucene_spark.index.builder import IndexConfig
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.streaming import StreamingIndexer

CFG = dict(docs_per_chunk=64, term_buckets=4)


@pytest.fixture(scope="module")
def stream_setup(tmp_path_factory, spark):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "source")
    idx = str(root / "index")
    ckpt = str(root / "ckpt")
    os.makedirs(src)
    pdf = make_corpus(n_docs=120, seed=11).drop(columns=["content_sha256"])
    return src, idx, ckpt, pdf


class TestStreamingIndex:
    def test_incremental_batches_then_search(self, spark, stream_setup):
        src, idx, ckpt, pdf = stream_setup
        schema = spark.createDataFrame(pdf.head(1)).schema

        # batch 1: first 70 docs arrive
        spark.createDataFrame(pdf.iloc[:70]).coalesce(1).write.mode("append").parquet(src)
        indexer = StreamingIndexer(spark, idx, IndexConfig(**CFG))
        stream = spark.readStream.schema(schema).parquet(src)
        q = indexer.start(stream, ckpt)
        q.awaitTermination(120)
        index1 = indexer.refresh()
        n1 = index1.stats.doc_count
        assert n1 == 70
        s1 = Searcher(index1)
        hits1 = s1.search("return", k=5).hits
        assert len(hits1) == 5

        # batch 2: 50 more docs land; stream picks them up incrementally
        spark.createDataFrame(pdf.iloc[70:]).coalesce(1).write.mode("append").parquet(src)
        q = indexer.start(spark.readStream.schema(schema).parquet(src), ckpt)
        q.awaitTermination(120)
        index2 = indexer.refresh()
        assert index2.stats.doc_count == 120

        segs = os.listdir(f"{idx}/segments")
        assert len(segs) >= 2  # one stream segment per micro-batch

    def test_matches_batch_build_results(self, spark, stream_setup, tmp_path):
        """Same 120 docs through streaming vs one-shot batch: identical
        BM25 scores for every query (doc ids differ by design — compare
        score multisets + result sizes)."""
        from lucene_spark.index.builder import IndexBuilder

        src, idx, ckpt, pdf = stream_setup
        d = str(tmp_path / "batch_ix")
        IndexBuilder(spark, IndexConfig(**CFG)).build(
            spark.createDataFrame(pdf), d, assign_ids=True
        )
        s_batch = Searcher(__import__("lucene_spark.index.reader", fromlist=["SearchIndex"]).SearchIndex(spark, d))
        s_stream = Searcher(indexer_index(spark, idx))
        for query in ["return", "return AND if", '"return if"', "return OR class"]:
            a = s_stream.search(query, k=120)
            b = s_batch.search(query, k=120)
            assert a.total_hits == b.total_hits, query
            assert sorted(round(s, 5) for _, s in a.hits) == sorted(round(s, 5) for _, s in b.hits), query


    def test_two_micro_batches_keep_doc_ids(self, spark, tmp_path):
        """Each micro-batch's doc ids are its 1-based rank over the doc
        keys, then every other column by name (content before lang),
        offset by batch_id << 33: rows that tie on the keys keep their
        order."""
        import hashlib

        pdf = make_corpus(n_docs=40, seed=5).drop(columns=["content_sha256"])
        twins = pdf.iloc[[3, 25]].copy()
        twins["content"] = "zz " + twins["content"]  # same keys, later content
        pdf = __import__("pandas").concat([pdf, twins], ignore_index=True)
        batches = [pdf.iloc[::2], pdf.iloc[1::2]]
        src, idx, ckpt = (str(tmp_path / n) for n in ("src", "ix", "ckpt"))
        schema = spark.createDataFrame(pdf.head(1)).schema
        indexer = StreamingIndexer(spark, idx, IndexConfig(**CFG))
        for part in batches:
            spark.createDataFrame(part).coalesce(1).write.mode("append").parquet(src)
            indexer.start(spark.readStream.schema(schema).parquet(src), ckpt).awaitTermination(120)
        for bid, part in enumerate(batches):
            want = part.sort_values(["repo", "path", "commit", "content", "lang"])
            want = {
                (r.repo, r.path, r.commit, hashlib.sha256(r.content.encode()).hexdigest()): n + 1 + (bid << 33)
                for n, r in enumerate(want.itertuples())
            }
            rows = spark.read.parquet(f"{idx}/segments/seg=s{bid}/docs").collect()
            got = {(r["repo"], r["path"], r["commit"], r["content_sha256"]): r["doc_id"] for r in rows}
            assert got == want, bid


def indexer_index(spark, idx):
    from lucene_spark.index.reader import SearchIndex

    return SearchIndex(spark, idx)


class TestStreamingPercolate:
    def test_stream_matches_equal_batch_matches(self, spark, tmp_path):
        """Percolation composes with Structured Streaming unchanged:
        QueryMonitor.match is map-only (zero shuffles, the PLANS.md
        check), so the same call works on a readStream DataFrame —
        the lucene/monitor 'register queries, stream documents' shape.
        """
        from lucene_spark.search.percolate import QueryMonitor

        pdf = make_corpus(n_docs=80, seed=23).drop(columns=["content_sha256"])
        pdf = pdf.reset_index().rename(columns={"index": "doc_id"})[["doc_id", "content"]]
        src = str(tmp_path / "src")
        os.makedirs(src)
        spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(pdf.iloc[40:]).coalesce(1).write.mode("append").parquet(src)

        qm = QueryMonitor(
            spark,
            {
                "q_term": A.TermQuery("return"),
                "q_and": "return AND if",
                "q_phrase": '"return if"',
            },
        )
        batch_df = spark.createDataFrame(pdf)
        want = sorted(
            (r["doc_id"], r["query_id"])
            for r in qm.match(batch_df, text_col="content").collect()
        )

        schema = batch_df.schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = qm.match(stream, text_col="content")
        q = (
            out.writeStream.format("memory")
            .queryName("pc_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["doc_id"], r["query_id"]) for r in spark.sql("SELECT * FROM pc_stream").collect()
        )
        assert got == want and len(got) > 0


class TestStreamDedup:
    def test_cross_batch_exact_dedup(self, spark, tmp_path):
        """Duplicates in LATER batches are suppressed by streaming
        state: two parquet drops where the second repeats half the
        first's contents + adds new docs."""
        import pandas as pd

        from lucene_spark.streaming.dedup import stream_exact_dedup

        pdf = make_corpus(n_docs=40, seed=31).drop(columns=["content_sha256"])
        pdf = pdf.reset_index().rename(columns={"index": "doc_id"})[["doc_id", "content"]]
        batch1 = pdf.iloc[:20]
        dups = batch1.iloc[:10].copy()
        dups["doc_id"] += 1000  # same content, new ids
        batch2 = pd.concat([dups, pdf.iloc[20:]])

        src = str(tmp_path / "dsrc")
        os.makedirs(src)
        spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src)

        stream = spark.readStream.schema(spark.createDataFrame(pdf).schema).parquet(src)
        out = stream_exact_dedup(stream, text_col="content")
        q = (
            out.writeStream.format("memory")
            .queryName("dd_stream")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM dd_stream").collect()
        # exactly one survivor per distinct content; all 40 contents present
        shas = [r["content_sha256"] for r in rows]
        assert len(shas) == len(set(shas)) == 40


class TestStreamNearDup:
    """applyInPandasWithState MinHash/LSH near-dup: flags a document
    when anything earlier in the stream (previous batch OR earlier in
    the same batch) shares an LSH bucket with signature similarity >=
    threshold."""

    @staticmethod
    def _sig(text, n=5, num_perm=64, seed=7):
        import re

        import numpy as np

        from lucene_spark.pipeline.dedup import (
            _MERSENNE_P,
            _fnv1a64_batch,
            _minhash_params,
            _mulmod_p61,
        )

        a, b = _minhash_params(num_perm, seed)
        toks = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        sh = sorted({" ".join(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))})
        hs = _fnv1a64_batch(np.array(sh))
        x = (hs % np.uint64(_MERSENNE_P))[:, None]
        v = (_mulmod_p61(x, a.astype(np.uint64)[None, :]) + b.astype(np.uint64)[None, :]) % np.uint64(
            _MERSENNE_P
        )
        return np.min(v, axis=0).astype(np.int64)

    def test_cross_and_within_batch_flags(self, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from lucene_spark.streaming.neardup import stream_minhash_neardup

        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        near = base.replace("upsilon", "phi")  # one-token edit
        other = "one two three four five six seven eight nine ten eleven twelve"
        b1 = pd.DataFrame({"doc_id": [1, 2], "content": [base, other]})
        # 10 = exact dup of 1 (cross-batch); 11 near-dup; 12/13 a
        # within-batch identical pair; 14 unrelated
        pair = "red orange yellow green blue indigo violet cyan magenta white black grey"
        b2 = pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "content": [base, near, pair, pair, "totally different words with zero overlap whatsoever here now"],
            }
        )
        src = str(tmp_path / "nsrc")
        os.makedirs(src)
        spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(spark.createDataFrame(b1).schema).parquet(src)
        out = stream_minhash_neardup(stream, threshold=0.5)
        q = (
            out.writeStream.format("memory")
            .queryName("nd_stream")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "nckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.sql("SELECT * FROM nd_stream").collect()
        flagged = {}
        for r in rows:
            if r["is_dup"]:
                flagged.setdefault(r["doc_id"], set()).add(r["match_doc"])
        # exact cross-batch dup: every band flags 10 against 1
        assert 1 in flagged.get(10, set())
        assert sum(1 for r in rows if r["doc_id"] == 10 and r["is_dup"]) == 16
        # near-dup flags in at least one band, against 1 or its copy 10
        assert flagged.get(11, set()) & {1, 10}
        # within-batch identical pair: the LARGER id flags the smaller
        assert 12 in flagged.get(13, set())
        assert 12 not in flagged
        # unrelated docs never flag
        assert 2 not in flagged and 14 not in flagged
        # similarity on the exact dup is 1.0 and matches the reference
        # signature equality fraction
        s1, s10 = self._sig(base), self._sig(base)
        assert float(np.mean(s1 == s10)) == 1.0
        exact = [r for r in rows if r["doc_id"] == 10]
        assert all(r["similarity"] == 1.0 for r in exact)
