"""Every write path lays its tables out one way (builder.TABLE_LAYOUT):
each parquet file of each table is sorted by that table's sort keys —
the one-shot build (with term vectors and vectors), an IndexWriter
tiered commit and then a full commit, a resumable build, an NRT
refresh, both split halves, and add_indexes in merge and copy mode."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.addindexes import add_indexes
from lucene_spark.index.builder import TABLE_LAYOUT, IndexBuilder, IndexConfig, assign_doc_ids
from lucene_spark.index.checkpoint import ResumableIndexBuilder
from lucene_spark.index.split import split_index
from lucene_spark.index.writer import IndexWriter
from lucene_spark.streaming import StreamingIndexer

CFG = dict(docs_per_chunk=32, term_buckets=2)


def _files(index_dir: str, table: str) -> list[str]:
    root = os.path.join(index_dir, table)
    return sorted(
        os.path.join(dp, f)
        for dp, _, names in os.walk(root)
        for f in names
        if f.endswith(".parquet")
    )


def assert_layout(index_dir: str, expect=("docs", "norms", "postings", "term_stats")) -> None:
    """Each file of each layout table is sorted by the table's keys."""
    present = [t for t in TABLE_LAYOUT if os.path.isdir(os.path.join(index_dir, t))]
    assert set(expect) <= set(present), present
    for t in present:
        files = _files(index_dir, t)
        assert files, t
        _, keys = TABLE_LAYOUT[t]
        for f in files:
            cols = pq.read_table(f, columns=list(keys)).to_pydict()
            rows = list(zip(*(cols[k] for k in keys)))
            assert rows == sorted(rows), f"{t}: {f} is not sorted by {keys}"


@pytest.fixture(scope="module")
def layout_root(tmp_path_factory):
    d = tmp_path_factory.mktemp("layout")
    yield d
    shutil.rmtree(str(d), ignore_errors=True)


@pytest.fixture(scope="module")
def ided(spark, corpus_pdf):
    df = assign_doc_ids(spark.createDataFrame(corpus_pdf.head(120)).drop("content_sha256"))
    return spark.createDataFrame(df.toPandas())


def test_one_shot_build_with_vectors(spark, corpus_pdf, layout_root):
    pdf = corpus_pdf.head(120).drop(columns=["content_sha256"]).copy()
    pdf["vec"] = [[float(x) for x in np.random.RandomState(i).randn(4)] for i in range(len(pdf))]
    d = str(layout_root / "build")
    IndexBuilder(
        spark, IndexConfig(term_vectors=True, vector_field="vec", offsets=True, **CFG)
    ).build(spark.createDataFrame(pdf), d)
    assert_layout(d, expect=("docs", "norms", "postings", "term_stats", "term_stats_rev",
                             "vectors", "term_vectors"))


def test_writer_tiered_then_full_commit(spark, corpus_pdf, ided, layout_root):
    d = str(layout_root / "writer")
    cfg = IndexConfig(extra_fields=("path",), **CFG)
    ResumableIndexBuilder(spark, cfg, n_segments=2).build(
        ided.filter("doc_id < 60"), d, assign_ids=False
    )
    w = IndexWriter(spark, d, cfg)
    pdf = corpus_pdf.drop(columns=["content_sha256"])
    w.add_documents(spark.createDataFrame(pdf.iloc[120:160]))
    w.commit()
    assert any(p.startswith("tier=") for p in os.listdir(f"{d}/postings"))
    assert_layout(d)
    w.add_documents(spark.createDataFrame(pdf.iloc[160:]))
    w.commit(full=True)
    assert not any(p.startswith("tier=") for p in os.listdir(f"{d}/postings"))
    assert_layout(d)


def test_resumable_build(spark, ided, layout_root):
    d = str(layout_root / "resumable")
    ResumableIndexBuilder(spark, IndexConfig(**CFG), n_segments=3).build(
        ided, d, assign_ids=False
    )
    assert_layout(d)


def test_nrt_refresh(spark, corpus_pdf, layout_root):
    root = layout_root / "nrt"
    src, d = str(root / "src"), str(root / "index")
    pdf = corpus_pdf.head(90).drop(columns=["content_sha256"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    ix = StreamingIndexer(spark, d, IndexConfig(**CFG))
    schema = spark.createDataFrame(pdf.head(1)).schema
    q = ix.start(spark.readStream.schema(schema).parquet(src), str(root / "ckpt"))
    q.awaitTermination(120)
    assert ix.refresh().stats.doc_count == 90
    assert_layout(d)


def test_split_halves(spark, ided, layout_root):
    src = str(layout_root / "split_src")
    IndexBuilder(spark, IndexConfig(term_vectors=True, **CFG)).build(ided, src, assign_ids=False)
    lo, hi = str(layout_root / "split_lo"), str(layout_root / "split_hi")
    split_index(spark, src, 64, lo, hi)
    for half in (lo, hi):
        assert_layout(half, expect=("docs", "norms", "postings", "term_stats",
                                    "term_stats_rev", "term_vectors"))


@pytest.mark.parametrize("mode", ["merge", "copy"])
def test_add_indexes(spark, ided, layout_root, mode):
    cfg = IndexConfig(term_vectors=True, **CFG)
    parts = []
    for i, (lo, hi) in enumerate([(0, 50), (50, 120)]):
        p = str(layout_root / f"add_{mode}_part{i}")
        IndexBuilder(spark, cfg).build(
            ided.filter(f"doc_id >= {lo} and doc_id < {hi}").withColumn(
                "doc_id", F.col("doc_id") - lo
            ),
            p,
            assign_ids=False,
        )
        parts.append(p)
    out = str(layout_root / f"add_{mode}")
    add_indexes(spark, parts[0], parts[1:], out_dir=out, mode=mode)
    assert_layout(out, expect=("docs", "norms", "postings", "term_stats", "term_stats_rev",
                               "term_vectors"))
