"""End-to-end rank identity: the engine's top-k (docIDs AND float32
scores) must equal the brute-force oracle exactly — Lucene's CheckHits
strategy (SURVEY §5) — across query shapes, k values, execution modes,
and pruning on/off. Plus algebraic equivalence laws
(SearchEquivalenceTestBase role)."""

import numpy as np
import pytest

from lucene_spark.fixtures import make_queries
from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.parser import parse_query


@pytest.fixture(scope="module")
def searcher(search_index):
    # low threshold so pruning engages on the 200-doc fixture
    return Searcher(search_index, total_hits_threshold=10)


@pytest.fixture(scope="module")
def query_set(corpus_pdf):
    return make_queries(corpus_pdf, n_per_band=2)


@pytest.fixture(scope="module")
def nopos_index(spark, tmp_path_factory):
    """600 docs cycling four short texts (exact-score ties across doc
    ids), indexed WITHOUT positions."""
    import shutil

    import pandas as pd

    from lucene_spark.index.builder import IndexBuilder, IndexConfig

    texts = [
        "alpha beta gamma delta",
        "alpha epsilon zeta eta",
        "beta theta iota kappa",
        "alpha beta lam mu",
    ]
    rows = []
    for i in range(600):
        rows.append((i, "r", f"p{i}", "c", "en", texts[i % 4]))
    pdf = pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("wandtie"))
    IndexBuilder(
        spark, IndexConfig(docs_per_chunk=128, term_buckets=2, positions=False)
    ).build(spark.createDataFrame(pdf), d, assign_ids=False)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def assert_rank_identical(engine_hits, oracle_hits, msg=""):
    assert len(engine_hits) == len(oracle_hits), f"{msg}: sizes {len(engine_hits)} vs {len(oracle_hits)}"
    for i, ((ed, es), (od, os_)) in enumerate(zip(engine_hits, oracle_hits)):
        assert ed == od, f"{msg}: rank {i} doc {ed} != {od}"
        assert np.float32(es) == np.float32(os_), f"{msg}: rank {i} score {es} != {os_}"


class TestRankIdentity:
    def test_fixture_query_set(self, searcher, oracle, query_set):
        for q in query_set:
            ast = parse_query(q["query"])
            got = searcher.search(ast, k=q["k"]).hits
            want = oracle.top_k(ast, q["k"])
            assert_rank_identical(got, want, f"q={q['query']!r} k={q['k']}")

    @pytest.mark.parametrize("k", [1, 10, 100])
    def test_single_terms_all_k(self, searcher, oracle, k):
        for term in ["return", "int", "if", "self", "nonexistentterm"]:
            got = searcher.search(A.TermQuery(term), k=k).hits
            want = oracle.top_k(A.TermQuery(term), k)
            assert_rank_identical(got, want, f"term={term} k={k}")

    def test_boost_query(self, searcher, oracle):
        q = parse_query("return^2 OR if")
        assert_rank_identical(searcher.search(q, k=20).hits, oracle.top_k(q, 20), "boost")

    def test_must_not(self, searcher, oracle):
        q = parse_query("+return -if")
        assert_rank_identical(searcher.search(q, k=50).hits, oracle.top_k(q, 50), "must_not")

    def test_nested(self, searcher, oracle):
        q = parse_query("(return OR if) AND (int OR class)")
        assert_rank_identical(searcher.search(q, k=30).hits, oracle.top_k(q, 30), "nested")

    def test_synonym(self, searcher, oracle):
        q = A.SynonymQuery(("return", "int"))
        assert_rank_identical(searcher.search(q, k=25).hits, oracle.top_k(q, 25), "synonym")

    def test_dismax(self, searcher, oracle):
        q = A.DisjunctionMaxQuery((A.TermQuery("return"), A.TermQuery("if")), tie_breaker=0.3)
        assert_rank_identical(searcher.search(q, k=25).hits, oracle.top_k(q, 25), "dismax")

    def test_match_all(self, searcher, oracle):
        q = A.MatchAllDocsQuery()
        assert_rank_identical(searcher.search(q, k=15).hits, oracle.top_k(q, 15), "matchall")

    def test_match_all_minus_term(self, searcher, oracle):
        q = A.BooleanQuery(((A.Occur.MUST, A.MatchAllDocsQuery()), (A.Occur.MUST_NOT, A.TermQuery("return"))))
        assert_rank_identical(searcher.search(q, k=15).hits, oracle.top_k(q, 15), "all-minus")

    def test_filter_clause(self, searcher, oracle):
        q = A.BooleanQuery(((A.Occur.SHOULD, A.TermQuery("return")), (A.Occur.FILTER, A.TermQuery("if"))))
        assert_rank_identical(searcher.search(q, k=20).hits, oracle.top_k(q, 20), "filter")

    def test_minimum_should_match(self, searcher, oracle):
        q = A.BooleanQuery(
            (
                (A.Occur.SHOULD, A.TermQuery("return")),
                (A.Occur.SHOULD, A.TermQuery("if")),
                (A.Occur.SHOULD, A.TermQuery("int")),
            ),
            minimum_should_match=2,
        )
        assert_rank_identical(searcher.search(q, k=30).hits, oracle.top_k(q, 30), "msm")


class TestMultiTerm:
    def test_prefix(self, searcher, oracle):
        q = A.PrefixQuery("re")
        assert_rank_identical(searcher.search(q, k=300).hits, oracle.top_k(q, 300), "prefix")

    def test_wildcard(self, searcher, oracle):
        q = A.WildcardQuery("r?turn")
        assert_rank_identical(searcher.search(q, k=300).hits, oracle.top_k(q, 300), "wildcard")

    def test_regexp(self, searcher, oracle):
        q = A.RegexpQuery("ret.*|int")
        assert_rank_identical(searcher.search(q, k=300).hits, oracle.top_k(q, 300), "regexp")

    def test_fuzzy(self, searcher, oracle):
        q = A.FuzzyQuery("retur", max_edits=2)
        assert_rank_identical(searcher.search(q, k=300).hits, oracle.top_k(q, 300), "fuzzy")

    def test_term_in_set(self, searcher, oracle):
        q = A.TermInSetQuery(("return", "if", "zzznope"))
        assert_rank_identical(searcher.search(q, k=300).hits, oracle.top_k(q, 300), "tis")

    def test_prefix_scored_in_boolean(self, searcher, oracle):
        q = A.BooleanQuery(((A.Occur.MUST, A.TermQuery("return")), (A.Occur.MUST, A.PrefixQuery("cl"))))
        assert_rank_identical(searcher.search(q, k=50).hits, oracle.top_k(q, 50), "bool+prefix")


class TestWand:
    """WAND ≡ exhaustive (TestWANDScorer role), and pruning must engage."""

    @pytest.mark.parametrize("k", [1, 3, 10, 50, 150])
    def test_wand_equals_exhaustive(self, searcher, search_index, oracle, k):
        from lucene_spark.search.engine import Searcher as S

        q = parse_query("return OR if OR class OR import")
        wand_hits = searcher.search(q, k=k).hits  # disjunction → WAND path
        spec_q, spec, stats, _ = searcher.prepare(q)
        exh = searcher._search_exhaustive(spec, k, stats.cache())
        assert_rank_identical(wand_hits, exh.hits, f"wand-vs-exhaustive k={k}")
        assert_rank_identical(wand_hits, oracle.top_k(q, k), f"wand-vs-oracle k={k}")

    def test_tie_heavy_trimmed_wand_equals_exhaustive(self, spark, nopos_index):
        """Exact-score ties across doc ids (duplicated docs) + heap
        trims + low threshold: WAND must keep the exhaustive doc-asc
        tie-break (prune strictly BELOW kth — interval order is not
        doc order, so nextUp pruning could drop an equal-scoring
        smaller id) and hits_seen must never double-count docs
        re-pulled after a trim."""
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.engine import Searcher as S

        s = S(SearchIndex(spark, nopos_index), total_hits_threshold=10)
        q = A.BooleanQuery(
            ((A.Occur.SHOULD, A.TermQuery("alpha")), (A.Occur.SHOULD, A.TermQuery("beta")))
        )
        for k in (1, 5, 17, 40):
            td = s.search(q, k=k)
            _, spec, stats, _ = s.prepare(q)
            exh = s._search_exhaustive(spec, k, stats.cache())
            assert td.hits == exh.hits, f"k={k}"
            if td.relation == "EQUAL_TO":
                assert td.total_hits == exh.total_hits, f"k={k}"
            else:
                assert td.total_hits <= exh.total_hits, f"k={k}"

    def test_pruning_engages(self, searcher):
        td = searcher.search(parse_query("return OR if"), k=3)
        info = td.info
        assert info.get("decoded_blocks") is not None
        # with threshold=10 and a 200-doc corpus, some block should be pruned
        assert info["decoded_blocks"] <= info["total_blocks"]

    def test_high_threshold_no_relation_change(self, search_index, oracle):
        s = Searcher(search_index, total_hits_threshold=10**9)
        q = parse_query("return OR if")
        td = s.search(q, k=5)
        assert td.relation == "EQUAL_TO"
        assert_rank_identical(td.hits, oracle.top_k(q, 5), "no-prune")


@pytest.fixture(scope="module")
def writer_index(spark, corpus_df, tmp_path_factory):
    """The fixture corpus through an IndexWriter: a tiered commit, then
    a full one, in 32-doc chunks (hot terms span several chunks), with
    every 9th doc tombstoned."""
    import shutil

    from lucene_spark.index.builder import IndexConfig
    from lucene_spark.index.deletes import delete_docs
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.index.writer import IndexWriter

    df = corpus_df.drop("content_sha256")
    d = str(tmp_path_factory.mktemp("wandgen") / "w")
    w = IndexWriter(spark, d, IndexConfig(docs_per_chunk=32, term_buckets=2))
    w.add_documents(df.filter("lang = 'python'"))
    w.commit()
    w.add_documents(df.filter("lang != 'python'"))
    w.commit(full=True)
    delete_docs(spark, d, SearchIndex(spark, d).all_doc_ids()[::9])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _wand_queries(rng, vocab, universe, n):
    """``n`` seeded term disjunctions: 2-5 terms, msm 1-3, optional
    FILTER / MUST_NOT doc sets, optional tombstones, threshold and k."""
    for _ in range(n):
        terms = rng.choice(vocab, int(rng.integers(2, 6)), replace=False)
        clauses = [(A.Occur.SHOULD, A.TermQuery(str(t))) for t in terms]
        if rng.random() < 0.3:
            keep = universe[rng.random(len(universe)) < 0.6]
            clauses.append((A.Occur.FILTER, A.DocSetQuery(tuple(int(d) for d in keep))))
        if rng.random() < 0.3:
            drop = universe[rng.random(len(universe)) < 0.15]
            clauses.append((A.Occur.MUST_NOT, A.DocSetQuery(tuple(int(d) for d in drop))))
        msm = int(rng.integers(1, min(3, len(terms)) + 1))
        tombs = universe[rng.random(len(universe)) < 0.1] if rng.random() < 0.3 else None
        yield (
            A.BooleanQuery(tuple(clauses), minimum_should_match=msm),
            tombs,
            int(rng.choice([1, 10, 1000])),
            int(rng.choice([1, 10, 100])),
        )


class TestGeneratedWand:
    """Seeded term disjunctions on three indexes, each run cold (an
    empty reader cache) and then repeated on the same reader: both runs'
    WAND hits and float32 scores equal the exhaustive kernel's bitwise;
    ``total_hits`` is exact under EQUAL_TO and a lower bound under
    GREATER_THAN_OR_EQUAL_TO. The repeat decodes no block, scores its
    intervals in one pass and reports the cold run's ``info``. Each
    query also runs first on the stores the previous queries left
    (some of its blocks already swept, others not) with the cold run's
    hits and ``info``."""

    @pytest.mark.parametrize("which", ["fixture", "nopos", "writer"])
    def test_generated_wand_equals_exhaustive(
        self, spark, index_dir, nopos_index, writer_index, which, monkeypatch
    ):
        from lucene_spark.codec import forutil
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search import wand

        d = {"fixture": index_dir, "nopos": nopos_index, "writer": writer_index}[which]
        idx = SearchIndex(spark, d)
        real_tombs = idx.deleted_ids
        universe = idx.all_doc_ids()
        dfs = {r["term"]: r["df"] for r in idx.postings.groupBy("term").agg({"df": "sum"})
               .withColumnRenamed("sum(df)", "df").collect()}
        ranked = sorted((t for t in dfs if ":" not in t), key=lambda t: (-dfs[t], t))
        rng = np.random.default_rng(20261019)
        vocab = ranked[:6] + [str(t) for t in rng.choice(ranked[6:], min(8, len(ranked) - 6), replace=False)]
        decodes = []

        def counted(*args, **kwargs):
            decodes.append(args[1])
            return forutil.decode_blocks(*args, **kwargs)

        monkeypatch.setattr(wand, "decode_blocks", counted)
        passes = []
        score_intervals = wand._score_intervals

        def scored(*args, **kwargs):
            passes.append(len(args[3]))
            return score_intervals(*args, **kwargs)

        monkeypatch.setattr(wand, "_score_intervals", scored)
        flips = np.random.default_rng(7)  # apart from ``rng``: the query stream stays as it was
        pruned = 0
        for n, (q, tombs, thr, k) in enumerate(_wand_queries(rng, np.asarray(vocab), universe, 30)):
            if tombs is not None:
                idx.deleted_ids = np.union1d(real_tombs, tombs)
            s = Searcher(idx, total_hits_threshold=thr)
            warm = s.search(q, k=k)
            idx.cache.clear()
            del passes[:]
            cold = s.search(q, k=k)
            cold_passes = len(passes)
            del decodes[:], passes[:]
            again = s.search(q, k=k)
            again_passes = len(passes)
            # any swept subset of the decoded blocks: the one pass covers
            # a shorter run and the sweep scores the rest
            terms = sorted(A.extract_terms(s.prepare(q)[0]))
            for tb in idx.cache.get_many("source", terms).values():
                tb.swept &= flips.random(len(tb.swept)) < 0.7
            partial = s.search(q, k=k)
            _, spec, stats, _ = s.prepare(q)
            exh = s._search_exhaustive(spec, k, s._norm_caches(stats))
            idx.deleted_ids = real_tombs
            msg = f"{which} #{n} k={k} thr={thr} {q}"
            assert decodes == [], msg
            assert again_passes == min(cold_passes, 1), msg
            assert again.info == cold.info, msg
            assert (warm.hits, warm.info) == (cold.hits, cold.info), msg
            assert (partial.hits, partial.info) == (cold.hits, cold.info), msg
            for td in (cold, again):
                assert "decoded_blocks" in td.info or not exh.hits, msg
                assert [h for h, _ in td.hits] == [h for h, _ in exh.hits], msg
                assert [np.float32(x).tobytes() for _, x in td.hits] == [
                    np.float32(x).tobytes() for _, x in exh.hits
                ], msg
                if td.relation == "EQUAL_TO":
                    assert td.total_hits == exh.total_hits, msg
                else:
                    assert td.total_hits <= exh.total_hits, msg
            pruned += cold.relation != "EQUAL_TO"
        # the 200-doc fixture has too few blocks per term to prune
        assert pruned or which == "fixture", "no generated query pruned an interval"


def _same_topdocs(a, b, msg):
    """Hits, float32 score bytes, total, relation and ``info`` equal."""
    assert [d for d, _ in a.hits] == [d for d, _ in b.hits], msg
    assert [np.float32(x).tobytes() for _, x in a.hits] == [np.float32(x).tobytes() for _, x in b.hits], msg
    assert (a.total_hits, a.relation, a.info) == (b.total_hits, b.relation, b.info), msg


@pytest.fixture
def planning_calls(monkeypatch):
    """Counts of parse_query and compile_query calls made by the engine."""
    from lucene_spark.search import engine

    calls = {"parse": 0, "compile": 0}

    def counting(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(engine, "parse_query", counting("parse", engine.parse_query))
    monkeypatch.setattr(engine, "compile_query", counting("compile", engine.compile_query))
    return calls


class TestPreparedPlans:
    """A repeat driver query takes its plan from the reader cache
    ("prepared", keyed by (query, similarity)): it calls neither
    parse_query nor compile_query, and its hits, float32 scores, totals,
    relation and ``info`` are those of a run that planned the query —
    on the same warm stores (a second searcher with another instance of
    the same similarity misses) and on a fresh reader."""

    @staticmethod
    def _check(spark, d, queries, planning_calls, thr=1000, ks=None):
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.similarity import BM25Sim

        idx, fresh_idx = SearchIndex(spark, d), SearchIndex(spark, d)
        s = Searcher(idx, total_hits_threshold=thr)
        for n, q in enumerate(queries):
            k = ks[n] if ks else 10
            msg = f"#{n} {q}"
            fresh = Searcher(fresh_idx, total_hits_threshold=thr).search(q, k=k)
            cold = s.search(q, k=k)
            before = idx.cache.stats()["prepared"]
            calls = dict(planning_calls)
            hit = s.search(q, k=k)
            after = idx.cache.stats()["prepared"]
            assert planning_calls == calls, msg
            assert (after["hits"] - before["hits"], after["misses"] - before["misses"]) == (1, 0), msg
            planned = Searcher(idx, total_hits_threshold=thr, similarity=BM25Sim()).search(q, k=k)
            assert idx.cache.stats()["prepared"]["misses"] == after["misses"] + 1, msg
            for other in (cold, planned, fresh):
                _same_topdocs(hit, other, msg)

    @pytest.mark.parametrize("which", ["fixture", "nopos", "writer"])
    def test_generated_wand_queries(self, spark, index_dir, nopos_index, writer_index, which, planning_calls):
        from lucene_spark.index.reader import SearchIndex

        d = {"fixture": index_dir, "nopos": nopos_index, "writer": writer_index}[which]
        idx = SearchIndex(spark, d)
        universe = idx.all_doc_ids()
        dfs = {r["term"]: r["df"] for r in idx.postings.groupBy("term").agg({"df": "sum"})
               .withColumnRenamed("sum(df)", "df").collect()}
        ranked = sorted((t for t in dfs if ":" not in t), key=lambda t: (-dfs[t], t))
        rng = np.random.default_rng(20261020)
        vocab = ranked[:6] + [str(t) for t in rng.choice(ranked[6:], min(8, len(ranked) - 6), replace=False)]
        gen = [(q, thr, k) for q, _tombs, thr, k in _wand_queries(rng, np.asarray(vocab), universe, 12)]
        for thr in sorted({t for _, t, _ in gen}):
            qs = [(q, k) for q, t, k in gen if t == thr]
            self._check(spark, d, [q for q, _ in qs], planning_calls, thr=thr, ks=[k for _, k in qs])

    def test_query_shapes(self, spark, index_dir, planning_calls):
        from lucene_spark.search.intervals import IMaxGaps, ITerm, IUnordered

        queries = [
            "return",
            "return AND if",
            "return OR if OR class",
            '"return if"',
            '"return if"~3',
            A.SpanNearQuery(("return", "if"), slop=4, in_order=True),
            A.IntervalQuery(IMaxGaps(6, IUnordered((ITerm("return"), ITerm("if"))))),
            "ret*",
            "+return -if +lang:python",
            A.BooleanQuery(  # WAND with a FILTER doc set
                (
                    (A.Occur.SHOULD, A.TermQuery("return")),
                    (A.Occur.SHOULD, A.TermQuery("if")),
                    (A.Occur.FILTER, A.FieldValueQuery("lang", "java")),
                )
            ),
        ]
        self._check(spark, index_dir, queries, planning_calls, thr=10)

    def test_every_driver_entry_point_reuses_the_plan(self, spark, index_dir, planning_calls):
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx)
        q = "+return -if +lang:python"
        td = s.search(q, k=5)
        calls = dict(planning_calls)
        before = idx.cache.stats()["prepared"]
        assert s.search_after(td.hits[1], q, k=3).hits == td.hits[2:5]
        assert s.count(q) == td.total_hits
        assert s.explain(q, td.hits[0][0])["match"]
        after = idx.cache.stats()["prepared"]
        assert (after["hits"] - before["hits"], after["misses"]) == (3, before["misses"])
        # count() still analyzes for its df shortcut; nothing compiles
        assert planning_calls["compile"] == calls["compile"]

    def test_similarities_get_their_own_plans(self, spark, index_dir):
        from lucene_spark.index.reader import SearchIndex

        idx, fresh = SearchIndex(spark, index_dir), SearchIndex(spark, index_dir)
        q = "return OR if OR class"
        bm25, classic = Searcher(idx), Searcher(idx, similarity="classic")
        for _ in range(2):
            a, b = bm25.search(q, k=10), classic.search(q, k=10)
            _same_topdocs(a, Searcher(fresh).search(q, k=10), "bm25")
            _same_topdocs(b, Searcher(fresh, similarity="classic").search(q, k=10), "classic")
            assert [x for _, x in a.hits] != [x for _, x in b.hits]
        st = idx.cache.stats()["prepared"]
        assert (st["hits"], st["misses"]) == (2, 2)
        # each searcher builds its norm table once, shared read-only
        tables = [s._norm_caches(idx.stats) for s in (bm25, classic)]
        for s, t in zip((bm25, classic), tables):
            assert s._norm_caches(idx.stats) is t and not t.flags.writeable
        assert not np.array_equal(*tables)

    def test_unhashable_query_is_planned_every_time(self, spark, index_dir, planning_calls):
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx)
        q = A.BooleanQuery([(A.Occur.SHOULD, A.TermQuery("return")), (A.Occur.SHOULD, A.TermQuery("if"))])
        want = s.search(A.BooleanQuery(tuple(q.clauses)), k=10)
        for _ in range(2):
            _same_topdocs(s.search(q, k=10), want, "unhashable")
        assert planning_calls["compile"] == 3
        assert idx.cache.stats()["prepared"]["hits"] == 0

    def test_distributed_after_driver_finds_its_lazy_conditions(self, spark, index_dir):
        """A driver search caches a plan with the filter's doc set
        resolved; a later distributed query of the same string prepares
        lazily again and registers its lazy filter on the searcher."""
        from lucene_spark.index.reader import SearchIndex

        s = Searcher(SearchIndex(spark, index_dir))
        q = "+return -if +lang:python"
        drv = s.search(q, k=10)
        assert not s._pred_conds
        assert s.match_frame(q).count() == drv.total_hits
        assert s._pred_conds
        dist = s.search(q, k=10, mode="distributed")
        assert [d for d, _ in dist.hits] == [d for d, _ in drv.hits]
        assert [np.float32(x) for _, x in dist.hits] == [np.float32(x) for _, x in drv.hits]


class TestSweptRuns:
    """wand_top_k on synthetic multi-chunk stores: whatever leading run
    of its bound order a query finds swept (none, part of a batch,
    several batches, all of it), its hits and ``info`` are the cold
    run's, and the blocks it reads are swept afterwards — for three
    sources and for one (whose swept run is gathered block by block),
    with and without a FILTER doc set and tombstones."""

    @staticmethod
    def _stores(rng, n_docs, chunk):
        from lucene_spark.codec.forutil import pack_postings
        from lucene_spark.codec.impacts import competitive_impacts_flat
        from lucene_spark.search.wand import TermBlocks

        stores = []
        for density in (0.5, 0.3, 0.2):
            docs = np.flatnonzero(rng.random(n_docs) < density)
            tfs = rng.integers(1, 6, len(docs))
            norms = rng.integers(1, 120, len(docs))
            rows = []
            for lo in range(0, n_docs, chunk):  # one row per doc-range chunk
                sel = (docs >= lo) & (docs < lo + chunk)
                blob, last = pack_postings(docs[sel], tfs[sel], norms[sel])
                ib, fr, nb = competitive_impacts_flat(tfs[sel], norms[sel])
                rows.append({"df": int(sel.sum()), "blob": blob, "block_last": last,
                             "imp_block": ib, "imp_freq": fr, "imp_norm": nb})
            stores.append(TermBlocks.from_rows(rows))
        return stores

    def test_any_swept_run_replays_the_cold_sweep(self, monkeypatch):
        from lucene_spark.search import wand
        from lucene_spark.search.similarity import norm_inverse_cache
        from lucene_spark.search.wand import PostingSource, wand_top_k

        class Clock:  # one tick per timeout checkpoint (one per batch)
            t = 0

            def monotonic(self):
                self.t += 1
                return self.t

        def run(sources, kw, thr, swept, batches=None):
            """wand_top_k on the given swept masks; with ``batches``, the
            partial result of a timeout after that many batches."""
            for tb, m in zip(stores, swept):
                tb.swept[:] = m
            if batches is None:
                return wand_top_k(sources, 10, thr, **kw)
            monkeypatch.setattr(wand, "time", Clock())
            try:
                return wand_top_k(sources, 10, thr, deadline=batches + 0.5, **kw)
            finally:
                monkeypatch.undo()

        rng = np.random.default_rng(20261019)
        cache = norm_inverse_cache(np.float32(40.0))
        n_docs = 20000
        masks = {
            "none": {},
            "masked": {
                "allowed": np.flatnonzero(rng.random(n_docs) < 0.7),
                "deleted": np.flatnonzero(rng.random(n_docs) < 0.05),
            },
        }
        for thr in (10, 1000, 10**6):  # early, late and no pruning
            for n_src in (3, 1):
                for how, kw in masks.items():
                    stores = self._stores(rng, n_docs, 4096)[:n_src]
                    sources = [PostingSource(np.float32(w), cache, tb) for w, tb in zip((1.0, 2.0, 3.0), stores)]
                    unswept = [np.zeros_like(tb.swept) for tb in stores]
                    # a timeout's partial result batch by batch, then the full run
                    cold_partial = {j: run(sources, kw, thr, unswept, j) for j in (1, 2, 3)}
                    cold = run(sources, kw, thr, unswept)
                    scanned = [tb.swept.copy() for tb in stores]
                    assert cold[1]["total_intervals"] > (100 if n_src == 3 else 60) and any(m.any() for m in scanned)
                    for trial in range(12):
                        swept = [m.copy() for m in scanned]
                        if trial:  # unsweep a few blocks: the run stops at the first one
                            for m in swept:
                                m[rng.integers(len(m), size=trial)] = False
                        msg = (thr, n_src, how, trial)
                        assert run(sources, kw, thr, swept) == cold, msg
                        assert all((tb.swept == m).all() for tb, m in zip(stores, scanned)), msg
                        for j, want in cold_partial.items():
                            assert run(sources, kw, thr, swept, j) == want, (*msg, j)

    def test_block_bounds_are_kept_per_similarity_field_and_weight(self):
        """A store keeps the last query's per-block bounds: a source of
        the same (similarity, field, weight) reuses them, any other key
        recomputes, and either way they equal a fresh computation."""
        from lucene_spark.search.similarity import BM25Stats, ClassicSim, norm_inverse_cache
        from lucene_spark.search.wand import PostingSource

        tb = self._stores(np.random.default_rng(3), 20000, 4096)[0]
        cache = norm_inverse_cache(np.float32(40.0))
        classic = ClassicSim()
        classic_table = classic.table(BM25Stats(doc_count=20000, sum_total_term_freq=800000))
        first = PostingSource(np.float32(2.0), cache, tb)
        again = PostingSource(np.float32(2.0), cache, tb)
        assert again.block_ub is first.block_ub
        fresh = first._block_ub()
        assert fresh is not first.block_ub and np.array_equal(fresh, first.block_ub)
        assert fresh.max() > 0
        for other in (
            PostingSource(np.float32(3.0), cache, tb),
            PostingSource(np.float32(2.0), cache, tb, field="title"),
            PostingSource(np.float32(2.0), classic_table, tb, sim=classic),
        ):
            assert other.block_ub is not first.block_ub
            assert np.array_equal(other.block_ub, other._block_ub())
        assert not np.array_equal(PostingSource(np.float32(3.0), cache, tb).block_ub, first.block_ub)
        assert not first.block_ub.flags.writeable


class TestMissingPositions:
    def test_positional_queries_raise_without_positions(self, spark, nopos_index):
        """On an index built without positions, every positional query
        over co-occurring terms fails loudly: a missing position stream
        must not read as "no match"."""
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.intervals import IOrdered, ITerm

        s = Searcher(SearchIndex(spark, nopos_index))
        queries = [
            A.PhraseQuery(("alpha", "beta")),
            A.PhraseQuery(("alpha", "beta"), slop=2),
            A.SpanNearQuery(("alpha", "beta"), slop=2),
            A.IntervalQuery(IOrdered((ITerm("alpha"), ITerm("beta")))),
        ]
        for q in queries:
            with pytest.raises(ValueError, match="no positions"):
                s.search(q, k=10)


class TestDistributed:
    """Distributed (chunk-parallel applyInPandas) ≡ driver mode."""

    @pytest.mark.parametrize(
        "query,k",
        [
            ("return", 10),
            ("return AND if", 20),
            ("return OR if OR class", 15),
            ("+return -if", 25),
            ("(return OR if) AND int", 10),
        ],
    )
    def test_distributed_equals_driver(self, searcher, oracle, query, k):
        q = parse_query(query)
        got = searcher.search(q, k=k, mode="distributed").hits
        assert_rank_identical(got, oracle.top_k(q, k), f"distributed {query!r}")


class TestConjunctionKernel:
    """Skip-data conjunction (BlockMaxConjunctionScorer role) ≡ oracle
    and ≡ exhaustive evaluation — the dispatch must not change results."""

    @pytest.mark.parametrize("k", [1, 5, 50, 500])
    def test_and_rank_identity(self, searcher, oracle, k):
        for qs in ["return AND if", "return AND if AND int", "class AND return"]:
            q = parse_query(qs)
            td = searcher.search(q, k=k)
            assert "blocks_decoded" in td.info, f"conjunction kernel not used for {qs!r}"
            assert_rank_identical(td.hits, oracle.top_k(q, k), f"conj {qs!r} k={k}")

    def test_total_hits_exact(self, searcher, oracle):
        q = parse_query("return AND if")
        td = searcher.search(q, k=3)
        assert td.relation == "EQUAL_TO"
        assert td.total_hits == len(oracle.score(A.rewrite(q)))

    def test_skips_blocks_for_asymmetric_terms(self, searcher, oracle):
        # a term pair where the rare side bounds the candidates: the
        # common side must not decode more blocks than it has, and the
        # kernel reports its decode accounting
        td = searcher.search(parse_query("self AND return"), k=10)
        info = td.info
        assert info["hits_seen"] > 0
        assert info["blocks_decoded"] >= 2
        assert info["blocks_skipped"] >= 0

    def test_mixed_shapes_not_dispatched(self, searcher):
        # shapes outside pure-term AND must keep the exhaustive path
        td = searcher.search(parse_query("return AND (if OR int)"), k=10)
        assert "blocks_decoded" not in td.info
        td = searcher.search(parse_query("+return -if"), k=10)
        assert "blocks_decoded" not in td.info


class TestFieldQueries:
    """Keyword-field (StringField) scoping: `lang:x` = column-equality
    doc set; FILTER occur keeps content-only BM25 scores rank-identical."""

    @pytest.fixture(scope="class")
    def lang_of(self, corpus_pdf):
        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        return {i: ordered.loc[i, "lang"] for i in range(len(ordered))}

    def test_filter_rank_identity(self, searcher, oracle, lang_of):
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("return")),
                (A.Occur.FILTER, A.FieldValueQuery("lang", "java")),
            )
        )
        got = searcher.search(q, k=20).hits
        scores = oracle.score(A.TermQuery("return"))
        want = sorted(
            ((d, float(s)) for d, s in scores.items() if lang_of[d] == "java"),
            key=lambda t: (-np.float32(t[1]), t[0]),
        )[:20]
        assert_rank_identical(got, want, "lang-filtered")

    def test_parsed_field_and(self, searcher, oracle, lang_of):
        got = {d for d, _ in searcher.search(parse_query("lang:go AND return"), k=10**6).hits}
        want = {d for d in oracle.score(A.TermQuery("return")) if lang_of[d] == "go"}
        assert got == want

    def test_pure_field_query(self, searcher, lang_of):
        got = {d for d, _ in searcher.search(parse_query("lang:c"), k=10**6).hits}
        want = {d for d, lg in lang_of.items() if lg == "c"}
        assert got == want

    def test_field_no_match(self, searcher):
        assert searcher.search(parse_query("lang:klingon"), k=10).hits == []

    def test_distributed_field_filter(self, searcher, oracle, lang_of):
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("return")),
                (A.Occur.FILTER, A.FieldValueQuery("lang", "python")),
            )
        )
        got = searcher.search(q, k=15, mode="distributed").hits
        scores = oracle.score(A.TermQuery("return"))
        want = sorted(
            ((d, float(s)) for d, s in scores.items() if lang_of[d] == "python"),
            key=lambda t: (-np.float32(t[1]), t[0]),
        )[:15]
        assert_rank_identical(got, want, "distributed lang-filtered")

    def test_parsed_range_equals_ast(self, searcher):
        a = searcher.search(parse_query("[scan TO table]"), k=10**6).hits
        b = searcher.search(A.TermRangeQuery("scan", "table"), k=10**6).hits
        assert a == b

    def test_field_in_set(self, searcher, lang_of):
        """DocValuesTermsQuery role: set membership == union of the
        per-value equality queries, as a FILTER keeps scores."""
        q = A.FieldInSetQuery("lang", ("go", "c"))
        got = {d for d, _ in searcher.search(q, k=10**6).hits}
        want = {d for d, lg in lang_of.items() if lg in ("go", "c")}
        assert got == want and want
        filt = A.BooleanQuery(
            (
                (A.Occur.MUST, A.TermQuery("return")),
                (A.Occur.FILTER, q),
            )
        )
        base = dict(searcher.search(A.TermQuery("return"), k=10**6).hits)
        for d, s in searcher.search(filt, k=10**6).hits:
            assert lang_of[d] in ("go", "c") and s == base[d]
        # distributed twin
        gd = {d for d, _ in searcher.search(q, k=10**6, mode="distributed").hits}
        assert gd == want


class TestEquivalences:
    def test_commutativity(self, searcher):
        a = searcher.search(parse_query("return AND if"), k=20).hits
        b = searcher.search(parse_query("if AND return"), k=20).hits
        assert a == b

    def test_or_superset_of_and(self, searcher):
        and_hits = {d for d, _ in searcher.search(parse_query("return AND if"), k=500).hits}
        or_hits = {d for d, _ in searcher.search(parse_query("return OR if"), k=500).hits}
        assert and_hits <= or_hits

    def test_count_matches_topk(self, searcher, oracle):
        q = parse_query("return OR if")
        assert searcher.count(q) == len(oracle.score(A.rewrite(q)))

    def test_total_hits(self, searcher, oracle):
        q = parse_query("return AND if")
        td = searcher.search(q, k=5)
        true_count = len(oracle.score(A.rewrite(q)))
        if td.relation == "EQUAL_TO":
            assert td.total_hits == true_count
        else:
            assert td.total_hits <= true_count
