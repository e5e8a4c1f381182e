"""Searchers sharing one SparkSession do not interfere: two Searchers on
one reader and a second reader run driver and distributed queries from
threads while another thread builds an index. Every hit list equals the
serial run's and the session's AQE setting is never changed."""

from __future__ import annotations

import shutil
import threading

import pytest

from lucene_spark.search.engine import Searcher

QUERIES = [
    "return",
    "return AND if",
    "return OR int",
    '"return if"',
    "ret*",
    "+return -if",
    "+return +lang:java",
]
MODES = ("driver", "distributed")
ROUNDS = 2


@pytest.fixture(scope="module")
def own_index(tmp_path_factory, spark):
    """A private index: closing its readers cannot unpersist relations
    other tests' readers share."""
    from lucene_spark.fixtures import make_corpus
    from lucene_spark.index.builder import IndexBuilder, IndexConfig

    d = str(tmp_path_factory.mktemp("conc_index"))
    corpus = spark.createDataFrame(make_corpus(n_docs=150, seed=11)).drop("content_sha256")
    IndexBuilder(spark, IndexConfig(docs_per_chunk=64, term_buckets=2)).build(corpus, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_concurrent_searchers_and_build(spark, own_index, tmp_path):
    from lucene_spark.fixtures import make_corpus
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with SearchIndex(spark, own_index) as serial_reader:
        s = Searcher(serial_reader)
        want = {(q, m): s.search(q, k=10, mode=m).hits for q in QUERIES for m in MODES}

    r1, r2 = SearchIndex(spark, own_index), SearchIndex(spark, own_index)
    searchers = [Searcher(r1), Searcher(r1), Searcher(r2)]
    got: dict[int, list] = {i: [] for i in range(len(searchers))}
    errors: list[BaseException] = []
    build_corpus = spark.createDataFrame(make_corpus(n_docs=60, seed=3)).drop("content_sha256")

    def run(i: int) -> None:
        try:
            for rnd in range(ROUNDS):
                for j, q in enumerate(QUERIES):
                    # threads walk the mix at different offsets so
                    # driver and distributed queries overlap
                    m = MODES[(i + j + rnd) % 2]
                    got[i].append(((q, m), searchers[i].search(q, k=10, mode=m).hits))
        except Exception as e:
            errors.append(e)

    def build() -> None:
        try:
            IndexBuilder(spark, IndexConfig(docs_per_chunk=32, term_buckets=2)).build(
                build_corpus, str(tmp_path / "built")
            )
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(searchers))]
    threads.append(threading.Thread(target=build))
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        r1.close()
        r2.close()
    assert not any(t.is_alive() for t in threads) and not errors, errors
    for i, results in got.items():
        assert len(results) == ROUNDS * len(QUERIES)
        for key, hits in results:
            assert hits == want[key], (i, key)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert (tmp_path / "built" / "manifest.json").exists()
