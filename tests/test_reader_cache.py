"""ReaderCache: one byte-bounded, lock-guarded LRU per reader with
per-namespace hit / miss / eviction / byte counts."""

from __future__ import annotations

import sys
import threading
from dataclasses import dataclass

import numpy as np

from lucene_spark.index.cache import ENTRY_BYTES, MISS, OPAQUE_BYTES, ReaderCache, nbytes
from lucene_spark.search.engine import Searcher


def _small(budget: int) -> ReaderCache:
    rc = ReaderCache()
    rc.BUDGET_BYTES = budget
    return rc


class TestNbytes:
    def test_sizes(self):
        @dataclass
        class PL:
            docs: np.ndarray
            positions: list | None = None

        a = np.zeros(10, dtype=np.int64)
        assert nbytes(a) == 80
        assert nbytes(b"abc") == 3 and nbytes(bytearray(5)) == 5 and nbytes("term") == 4
        assert nbytes([a, (a, b"xy")]) == 80 + 80 + 2
        assert nbytes(PL(a, [a[:4], a[4:]])) == 160
        assert nbytes(None) == 8 and nbytes((3, 4)) == 16
        assert nbytes([]) == 0

    def test_parsed_queries_charged_their_size(self):
        """An Enum member (ast.Occur) is a shared singleton: a parsed
        Boolean query is charged its terms, not phantom bytes."""
        from lucene_spark.search import ast as A
        from lucene_spark.search.parser import parse_query

        assert nbytes(A.Occur.SHOULD) == 8
        q = parse_query("a OR b OR c")
        # three (Occur, TermQuery(term, field)) clauses and the msm int
        assert nbytes(q) == 3 * (8 + len("a") + len("content")) + 8

    def test_jvm_backed_values_charged_fixed(self):
        class Column:  # stands in for any value Python cannot size
            pass

        assert nbytes(Column()) == OPAQUE_BYTES
        assert nbytes((("eq", "lang", "java"), Column())) == 2 + 4 + 4 + OPAQUE_BYTES


class TestReaderCacheUnit:
    def test_miss_sentinel_and_negative_entries(self):
        rc = ReaderCache()
        assert rc.get("tstats", "t") is MISS
        rc.put("tstats", "t", None)
        rc.put("rows", "t", [])
        assert rc.get("tstats", "t") is None and rc.get("rows", "t") == []
        assert rc.stats()["tstats"] == {"hits": 1, "misses": 1, "evictions": 0, "bytes": 8 + ENTRY_BYTES}

    def test_lru_eviction_by_bytes(self):
        size = 1000 + ENTRY_BYTES
        rc = _small(3 * size)
        for k in "abc":
            rc.put("ns", k, b"x" * 1000)
        assert rc.get("ns", "a") == b"x" * 1000  # a is now most recent
        rc.put("ns", "d", b"x" * 1000)  # evicts b, the least recent
        assert rc.get("ns", "b") is MISS
        assert all(rc.get("ns", k) is not MISS for k in "acd")
        st = rc.stats()["ns"]
        assert st["evictions"] == 1 and st["bytes"] == 3 * size

    def test_put_existing_key_refreshes_recency_and_size(self):
        rc = _small(2 * (1000 + ENTRY_BYTES))
        rc.put("ns", "a", b"x" * 1000)
        rc.put("ns", "b", b"x" * 1000)
        rc.put("ns", "a", b"x" * 10)  # re-put: a becomes most recent, smaller
        rc.put("ns", "c", b"x" * 1000)
        assert rc.get("ns", "a") == b"x" * 10 and rc.get("ns", "b") is MISS
        assert rc.stats()["ns"]["bytes"] == 1010 + 2 * ENTRY_BYTES

    def test_over_budget_value_returned_not_stored(self):
        rc = _small(1000)
        rc.put("ns", "small", b"x")
        v = b"y" * 2000
        assert rc.put("ns", "big", v) is v
        assert rc.get("ns", "big") is MISS and rc.get("ns", "small") == b"x"
        assert rc.stats()["ns"]["evictions"] == 0

    def test_namespaces_share_one_budget(self):
        size = 1000 + ENTRY_BYTES
        rc = _small(2 * size)
        rc.put("rows", "t", b"x" * 1000)
        rc.put("decoded", "t", b"x" * 1000)
        rc.put("chunk", ("t", 0), b"x" * 1000)
        st = rc.stats()
        assert rc.get("rows", "t") is MISS
        assert st["rows"]["evictions"] == 1 and st["rows"]["bytes"] == 0
        assert st["decoded"]["bytes"] == st["chunk"]["bytes"] == size

    def test_get_many_is_a_snapshot(self):
        rc = _small(2 * (1000 + ENTRY_BYTES))
        rc.put("ns", "a", b"x" * 1000)
        got = rc.get_many("ns", ["a", "zz"])
        rc.put("ns", "b", b"x" * 1000)
        rc.put("ns", "c", b"x" * 1000)  # evicts a from the cache...
        assert got == {"a": b"x" * 1000}  # ...not from the snapshot
        assert rc.get("ns", "a") is MISS

    def test_clear_keeps_counters(self):
        rc = ReaderCache()
        rc.put("ns", "a", b"x")
        rc.get("ns", "a")
        rc.clear()
        assert rc.get("ns", "a") is MISS
        assert rc.stats()["ns"] == {"hits": 1, "misses": 1, "evictions": 0, "bytes": 0}

    def test_threads_keep_byte_accounting_exact(self):
        rc = _small(40 * (100 + ENTRY_BYTES))
        errors = []

        def work(seed):
            rng = np.random.default_rng(seed)
            try:
                for _ in range(3000):
                    k = int(rng.integers(0, 100))
                    if rc.get("ns", k) is MISS:
                        rc.put("ns", k, b"x" * (50 + k))
            except Exception as e:  # pragma: no cover - reported below
                errors.append(e)

        threads = [threading.Thread(target=work, args=(s,)) for s in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # switch threads mid-update as often as possible
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads) and not errors
        st = rc.stats()["ns"]
        held = sum(size for (_v, size) in rc._od.values())
        assert st["bytes"] == held <= rc.BUDGET_BYTES
        assert st["hits"] + st["misses"] == 8 * 3000 and st["evictions"] > 0


class TestReaderCacheOnIndex:
    def test_repeat_driver_query_hits_without_new_misses(self, spark, index_dir):
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx)
        for q in ("return AND if", "return OR int", '"return if"'):
            first = s.search(q, k=10).hits
            before = idx.cache.stats()
            assert s.search(q, k=10).hits == first
            after = idx.cache.stats()
            for ns, st in after.items():
                assert st["misses"] == before.get(ns, {}).get("misses", 0), (q, ns)
            assert sum(st["hits"] for st in after.values()) > sum(st["hits"] for st in before.values())
            # the repeat's plan: one "prepared" hit, no parse or compile
            assert after["prepared"]["hits"] == before["prepared"]["hits"] + 1, q
        assert after["rows"]["hits"] > 0 and after["rows"]["bytes"] > 0

    def test_repeat_wand_query_decodes_nothing(self, spark, index_dir, monkeypatch):
        """A WAND disjunction's decoded blocks live in its terms'
        reader-cached stores ("source" entries): the second run finds
        every store in the cache (one hit per term, no misses) with the
        blocks it scores already decoded, makes no decode_blocks call
        and scores its intervals in one pass."""
        from lucene_spark.codec import forutil
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search import wand

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx, total_hits_threshold=10)
        q = "return OR if OR class OR import"
        first = s.search(q, k=10)
        assert first.info["decoded_blocks"] > 0, "must take the WAND path"
        calls = []

        def counted(*args, **kwargs):
            calls.append(args[1])
            return forutil.decode_blocks(*args, **kwargs)

        monkeypatch.setattr(wand, "decode_blocks", counted)
        passes = []
        score_intervals = wand._score_intervals

        def scored(*args, **kwargs):
            passes.append(len(args[3]))
            return score_intervals(*args, **kwargs)

        monkeypatch.setattr(wand, "_score_intervals", scored)
        stores = [idx.cache.get("source", t) for t in ("class", "if", "import", "return")]
        decoded = [tb.decoded.copy() for tb in stores]
        assert sum(int(d.sum()) for d in decoded) >= first.info["decoded_blocks"]
        before = idx.cache.stats()["source"]
        again = s.search(q, k=10)
        after = idx.cache.stats()["source"]
        assert (again.hits, again.info) == (first.hits, first.info)
        assert after["misses"] == before["misses"]
        assert after["hits"] - before["hits"] == len(stores)
        assert all((tb.decoded == d).all() for tb, d in zip(stores, decoded))
        assert calls == []
        assert len(passes) == 1

    def test_conjunction_fills_leave_blocks_unswept(self, spark, index_dir):
        """Blocks a conjunction decoded are in the store but not marked
        swept: a later disjunction over the same terms runs its sweep as
        on a fresh reader (same hits and info) instead of scoring every
        decoded block up front."""
        from lucene_spark.index.reader import SearchIndex

        q = "return OR if"
        fresh = Searcher(SearchIndex(spark, index_dir), total_hits_threshold=10).search(q, k=10)
        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx, total_hits_threshold=10)
        assert s.search("return AND if", k=10).hits
        stores = [idx.cache.get("source", t) for t in ("if", "return")]
        assert all(tb.decoded.any() and not tb.swept.any() for tb in stores)
        after = s.search(q, k=10)
        assert (after.hits, after.info) == (fresh.hits, fresh.info)
        assert all(not (tb.swept & ~tb.decoded).any() for tb in stores)

    def test_repeat_skipping_conjunction_decodes_nothing(self, spark, tmp_path, monkeypatch):
        """A conjunction that skips blocks of a multi-block chunk reads
        the blocks it needs from the reader cache on a repeat: zero
        decode_blocks calls on the second run."""
        from lucene_spark.codec import forutil
        from lucene_spark.index.builder import IndexBuilder, IndexConfig
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search import wand

        # one 512-doc chunk: "common" has 4 blocks, "rare" sits in block 0
        rows = [(d, "common rare" if d < 10 else "common other") for d in range(400)]
        d = str(tmp_path / "conj")
        IndexBuilder(spark, IndexConfig(docs_per_chunk=512, term_buckets=2)).build(
            spark.createDataFrame(rows, "doc_id long, content string"), d, assign_ids=False
        )
        s = Searcher(SearchIndex(spark, d))
        first = s.search("rare AND common", k=5)
        assert first.info["blocks_skipped"] == 3, "must take the skipping conjunction path"
        calls = []

        def counted(*args, **kwargs):
            calls.append(args[1])
            return forutil.decode_blocks(*args, **kwargs)

        monkeypatch.setattr(wand, "decode_blocks", counted)
        again = s.search("rare AND common", k=5)
        assert (again.hits, again.info) == (first.hits, first.info)
        assert calls == []

    def test_budget_holds_and_hits_match_unbounded(self, spark, index_dir, search_index):
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.wand import TermBlocks

        queries = [
            "return", "if", "int", "return AND if", "return OR int OR if",
            '"return if"', '"return if"~3', "ret*", "+return -if", "class OR import OR if",
        ]
        want = {q: Searcher(search_index).search(q, k=10).hits for q in queries}
        small = SearchIndex(spark, index_dir)
        # a few hot-term row sets' worth: the loop below must evict
        small.cache.BUDGET_BYTES = 64 << 10
        s = Searcher(small)
        stores = plans = 0
        for _round in range(3):
            for q in queries:
                assert s.search(q, k=10).hits == want[q], q
                st = small.cache.stats()
                assert sum(v["bytes"] for v in st.values()) <= small.cache.BUDGET_BYTES
                for (ns, _t), (v, size) in list(small.cache._od.items()):
                    if ns == "source":
                        # each decoded store is charged its full decoded size
                        assert isinstance(v, TermBlocks)
                        assert size >= v.docs.nbytes + v.tfs.nbytes + v.norms.nbytes
                        stores += 1
                    if ns == "prepared":
                        # a plan is charged what it holds: its query,
                        # spec, stats and terms, no phantom bytes
                        assert size < 4 << 10, (_t, size)
                        plans += 1
        assert sum(v["evictions"] for v in small.cache.stats().values()) > 0
        # the WAND and conjunction stores and the plans were cached under the cap too
        assert stores and plans and small.cache.stats()["source"]["misses"] > 0

    def test_first_seen_driver_term_query_is_one_job(self, spark, index_dir):
        """A driver term query whose term this reader has not seen
        point-reads its rows in ONE Spark job (no range-sampling sort
        job, no shuffle) and takes df/ttf from those rows."""
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx)
        assert s.search("return", k=5).hits  # reader-wide state loads once
        sc = spark.sparkContext
        group = "first-seen-driver-term-query"
        sc.setJobGroup(group, "first-seen driver term query")
        try:
            td = s.search("import", k=5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert td.hits and "decoded_blocks" in td.info
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        rows = idx.collect_rows(["import"])["import"]
        assert idx.term_stats(["import"])["import"] == (
            sum(r["df"] for r in rows),
            sum(r["ttf"] for r in rows),
        )

    def test_concurrent_cold_disjunction_fills_one_store(self, spark, index_dir):
        """One cold disjunction from 8 threads on one reader: every
        thread gets the same hits, each term's store marks swept only
        decoded blocks, and it holds, for every block it marks decoded,
        exactly what a fresh decode_blocks of that block returns."""
        from lucene_spark.codec.forutil import decode_blocks
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx, total_hits_threshold=10)
        q = "return OR if OR class OR import OR int"
        s.prepare(q, collect_rows=True)  # rows and norms only: no store yet
        assert idx.cache.get("source", "return") is MISS
        results, errors = [None] * 8, []
        barrier = threading.Barrier(8)

        def run(i):
            try:
                barrier.wait(timeout=60)
                results[i] = s.search(q, k=10).hits
            except Exception as e:  # pragma: no cover - reported below
                errors.append(e)

        threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors and not any(t.is_alive() for t in threads)
        assert results[0] and all(r == results[0] for r in results)
        for term in ("return", "if", "class", "import", "int"):
            tb = idx.cache.get("source", term)
            assert tb is not MISS and tb.decoded.any(), term
            assert not (tb.swept & ~tb.decoded).any(), term
            for b in np.flatnonzero(tb.decoded):
                ci, lb = int(tb.block_chunk[b]), int(tb.block_local[b])
                want = decode_blocks(tb.blobs[ci], [lb], tb.chunk_last[ci])
                at = slice(tb.block_start[b], tb.block_start[b + 1])
                for got, w in zip((tb.docs[at], tb.tfs[at], tb.norms[at]), want):
                    assert np.array_equal(got, w), (term, b)


class TestSharedPersistedRelations:
    """The chunk-partitioned postings and the fuzzy gram relation are
    persisted plans of the index directory alone: every reader of that
    directory shares one cache-manager entry, so closing one reader
    must leave another's cached data in place."""

    def test_close_releases_only_after_the_last_reader(self, spark, corpus_pdf, tmp_path_factory):
        from pyspark import StorageLevel

        from lucene_spark.index.builder import IndexBuilder, IndexConfig
        from lucene_spark.index.reader import SearchIndex

        d = str(tmp_path_factory.mktemp("shared_rel"))
        IndexBuilder(spark, IndexConfig(docs_per_chunk=32, term_buckets=2)).build(
            spark.createDataFrame(corpus_pdf.head(80)).drop("content_sha256"), d
        )
        r1, r2 = SearchIndex(spark, d), SearchIndex(spark, d)
        hits = []
        for r in (r1, r2):
            s = Searcher(r)
            hits.append(s.search("return", k=5, mode="distributed").hits)
            s.search("retrun~1", k=5)
        assert hits[0] == hits[1] and hits[0]
        frames = [r1._chunked_postings, r1._term_grams]
        assert all(f is not None for f in frames)
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        r2.close()
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        assert Searcher(r1).search("return", k=5, mode="distributed").hits == hits[0]
        r1.close()
        assert all(f.storageLevel == StorageLevel.NONE for f in frames)
        r1.close()  # idempotent
