"""Multi-index search (MultiReader / composite reader).

Invariant under test (MultiReader.java:33-60, BaseCompositeReader.java:58-77,
IndexSearcher.java:947-962): searching N sub-indexes through one
MultiSearcher — global statistics summed across leaves, doc ids rebased
by cumulative maxDoc — returns EXACTLY the hits of a single index built
over the concatenated corpus.
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from lucene_spark.index.builder import IndexBuilder, IndexConfig
from lucene_spark.index.reader import SearchIndex
from lucene_spark.search.engine import Searcher
from lucene_spark.search.multi import MultiSearcher


@pytest.fixture(scope="module")
def split_indexes(tmp_path_factory, spark, corpus_pdf):
    """(two half-indexes in doc order, the whole single index).

    The corpus is split at the doc-id midpoint AFTER the engine's
    (repo, path, commit) ordering, so half-2's local ids 0..m map to
    global ids docBase..: the composite space coincides with the
    single index's ids and hits must match 1:1."""
    ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    mid = len(ordered) // 2
    cfg = dict(docs_per_chunk=128, term_buckets=4, positions=True)
    dirs = []
    for i, part in enumerate((ordered.iloc[:mid], ordered.iloc[mid:], ordered)):
        d = str(tmp_path_factory.mktemp(f"mr{i}"))
        IndexBuilder(spark, IndexConfig(**cfg)).build(
            spark.createDataFrame(part.reset_index(drop=True)).drop("content_sha256"), d
        )
        dirs.append(d)
    yield SearchIndex(spark, dirs[0]), SearchIndex(spark, dirs[1]), SearchIndex(spark, dirs[2])
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


QUERIES = [
    "return",
    "return AND class",
    "return OR class OR data",
    "return AND NOT class",
    '"the data"',
    "ret*",
    "[qa TO sc]",
    "*:*",
    "return^2.5 OR class",
]


def test_multi_equals_single(split_indexes):
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    ss = Searcher(whole)
    assert ms.index.stats == whole.stats
    for q in QUERIES:
        got = ms.search(q, k=10)
        want = ss.search(q, k=10)
        assert got.hits == want.hits, q
        assert got.total_hits == want.total_hits, q


def test_doc_bases_are_cumulative_maxdoc(split_indexes):
    a, b, _ = split_indexes
    ms = MultiSearcher([a, b])
    assert ms.index.doc_bases == [0, a.doc_id_bounds[0]]


def test_term_stats_summed(split_indexes):
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    got = ms.index.term_stats(["return", "class"])
    want = whole.term_stats(["return", "class"])
    assert got == want


def test_multi_with_similarity(split_indexes):
    a, b, whole = split_indexes
    for model in ["classic", "lmdirichlet"]:
        got = MultiSearcher([a, b], similarity=model).search("return OR class", k=10)
        want = Searcher(whole, similarity=model).search("return OR class", k=10)
        assert got.hits == want.hits, model


def test_multi_respects_leaf_deletes(tmp_path_factory, spark, corpus_pdf, split_indexes):
    """liveDocs of each leaf apply in the composite space."""
    from lucene_spark.index.deletes import delete_docs

    a, b, whole = split_indexes
    base = Searcher(whole).search("return", k=5).hits
    victim_global = base[0][0]
    mid = a.doc_id_bounds[0]
    # delete the top hit from whichever half owns it
    d = str(tmp_path_factory.mktemp("mrdel"))
    src = a if victim_global < mid else b
    local = victim_global if victim_global < mid else victim_global - mid
    shutil.copytree(src.index_dir, d, dirs_exist_ok=True)
    delete_docs(spark, d, [int(local)])
    halves = (
        [SearchIndex(spark, d), b] if victim_global < mid else [a, SearchIndex(spark, d)]
    )
    got = MultiSearcher(halves).search("return", k=5)
    assert victim_global not in [h for h, _ in got.hits]
    # survivors keep their single-index scores (stats unchanged by delete)
    want = [(h, s) for h, s in Searcher(whole).search("return", k=6).hits if h != victim_global]
    assert got.hits == want[:5]
    shutil.rmtree(d, ignore_errors=True)


def test_heterogeneous_indexes_rejected(split_indexes, tmp_path_factory, spark, corpus_pdf):
    a, _, _ = split_indexes
    d = str(tmp_path_factory.mktemp("mrp"))
    IndexBuilder(spark, IndexConfig(docs_per_chunk=128, term_buckets=4, analyzer="porter")).build(
        spark.createDataFrame(corpus_pdf.iloc[:20].reset_index(drop=True)).drop("content_sha256"),
        d,
    )
    with pytest.raises(ValueError):
        MultiSearcher([a, SearchIndex(spark, d)])
    shutil.rmtree(d, ignore_errors=True)


def test_merged_positions_keep_flat_buffer(split_indexes):
    """The composite's positional lists join with their flat decode
    buffer (the positional kernels' zero-copy input), and composite
    phrase hits equal the single index's."""
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    pl = ms.index.collect_postings(["return"], with_positions=True)["return"]
    one = whole.collect_postings(["return"], with_positions=True)["return"]
    assert np.array_equal(pl.docs, one.docs)
    assert len(pl.positions.flat) == int(pl.tfs.sum())
    assert pl.positions[0].base is pl.positions.flat
    ss = Searcher(whole)
    for q in ['"return if"', '"the data"', '"return if"~3']:
        assert ms.search(q, k=10).hits == ss.search(q, k=10).hits, q


def test_multi_count(split_indexes):
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    ss = Searcher(whole)
    for q in ["return", "*:*", "return AND class"]:
        assert ms.count(q) == ss.count(q), q
        assert ms.count(q, mode="distributed") == ss.count(q), q


def test_multi_distributed_equals_driver(split_indexes):
    """Distributed composite search: one composite Weight runs each
    leaf's chunk-parallel plan; merged TopDocs must be rank- AND
    score-identical to the driver-mode composite (and so to the
    single whole index)."""
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    ss = Searcher(whole)
    for q in ["return", "return AND class", "return OR class OR data",
              '"the data"', "return^2.5 OR class"]:
        got = ms.search(q, k=10, mode="distributed")
        drv = ms.search(q, k=10)
        want = ss.search(q, k=10)
        assert got.hits == drv.hits == want.hits, q
        assert got.total_hits == drv.total_hits == want.total_hits, q


def test_multi_distributed_term_missing_from_one_leaf(tmp_path_factory, spark, corpus_pdf, split_indexes):
    """A term present in only one leaf still scores with the COMPOSITE
    statistics on the distributed path."""
    a, b, _ = split_indexes
    ms = MultiSearcher([a, b])
    # pick a term unique to one half (fall back to skip if none)
    from lucene_spark.analysis.tokenizer import tokenize

    ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    mid = len(ordered) // 2
    t1 = {t for text in ordered.iloc[:mid]["content"] for t in tokenize(text)}
    t2 = {t for text in ordered.iloc[mid:]["content"] for t in tokenize(text)}
    only2 = sorted(t2 - t1)
    if not only2:
        import pytest

        pytest.skip("fixture halves share the whole vocabulary")
    q = only2[0]
    got = ms.search(q, k=10, mode="distributed")
    drv = ms.search(q, k=10)
    assert got.hits == drv.hits and got.total_hits == drv.total_hits


def test_multi_distributed_filters_and_mtq(split_indexes):
    """Lazy field filters (PredSpec) and dictionary-expanded patterns
    (ConstSpec carries TERMS, not ids) work on the distributed
    composite path and match driver mode exactly."""
    a, b, whole = split_indexes
    ms = MultiSearcher([a, b])
    ss = Searcher(whole)
    for q in ["return AND lang:java", "ret*", "return AND ta*"]:
        got = ms.search(q, k=10, mode="distributed")
        drv = ms.search(q, k=10)
        want = ss.search(q, k=10)
        assert got.hits == drv.hits == want.hits, q
        assert got.total_hits == drv.total_hits == want.total_hits, q
