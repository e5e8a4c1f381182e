"""Multi-index search — the MultiReader / composite-reader role.

Reference:
- lucene/core/src/java/org/apache/lucene/index/MultiReader.java:33-60 —
  a composite IndexReader over sub-readers; docBase offsets per leaf
  (BaseCompositeReader.java:58-77: starts[i] = cumulative maxDoc).
- lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:947-962 —
  collectionStatistics/termStatistics SUM over all leaves, so one
  Weight (one idf, one norm cache) scores every leaf: two half-indexes
  searched together are score-identical to one index over the union.

The facade exposes the subset of the SearchIndex surface the driver
query path touches, with doc ids rebased into the composite space.
At cluster scale each sub-index is typically a time- or shard-
partitioned index directory; the same docBase arithmetic applies.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.index.cache import ReaderCache
from lucene_spark.index.reader import MAX_EXPANSION, PostingList, SearchIndex, concat_doc_order
from lucene_spark.search.engine import Searcher, TopDocs
from lucene_spark.search.kernels import NoneSpec
from lucene_spark.search.similarity import BM25Stats


class MultiSearchIndex:
    """Composite read-only view over N sub-indexes (MultiReader)."""

    def __init__(self, indexes: list[SearchIndex]):
        if not indexes:
            raise ValueError("MultiSearchIndex needs at least one sub-index")
        a = indexes[0].analyzer
        f = indexes[0].primary_field
        for ix in indexes[1:]:
            if ix.analyzer != a or ix.primary_field != f:
                raise ValueError("sub-indexes must share analyzer and primary field")
            if ix.stem_repeat != indexes[0].stem_repeat:
                raise ValueError("sub-indexes must agree on stem_repeat")
            if len(ix.text_fields) > 1 or len(indexes[0].text_fields) > 1:
                raise ValueError("multi-index search supports single-field sub-indexes")
        self.indexes = indexes
        self.cache = ReaderCache()  # the composite's own (field conditions, merged postings)
        # BaseCompositeReader.java:58-77 — starts[i] = Σ maxDoc(<i)
        bases = [0]
        for ix in indexes[:-1]:
            bases.append(bases[-1] + ix.doc_id_bounds[0])
        self.doc_bases = bases

    # ---- identity / config ---------------------------------------------------

    @property
    def analyzer(self) -> str:
        return self.indexes[0].analyzer

    @property
    def stem_repeat(self) -> bool:
        return self.indexes[0].stem_repeat

    @property
    def primary_field(self) -> str:
        return self.indexes[0].primary_field

    @property
    def text_fields(self) -> tuple[str, ...]:
        return self.indexes[0].text_fields

    @property
    def index_sort(self):
        return []

    # ---- global statistics (IndexSearcher.java:947-962) ----------------------

    @property
    def stats(self) -> BM25Stats:
        return BM25Stats(
            doc_count=sum(ix.stats.doc_count for ix in self.indexes),
            sum_total_term_freq=sum(ix.stats.sum_total_term_freq for ix in self.indexes),
        )

    def stats_for(self, field: str) -> BM25Stats:
        if field != self.primary_field:
            raise ValueError("multi-index search supports the primary field only")
        return self.stats

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for ix in self.indexes:
            for t, (df, ttf) in ix.term_stats(terms).items():
                cur = out.setdefault(t, [0, 0])
                cur[0] += df
                cur[1] += ttf
        return {t: (df, ttf) for t, (df, ttf) in out.items()}

    # ---- term dictionary / filters -------------------------------------------

    def expand_terms(self, kind, arg, limit: int = MAX_EXPANSION, field=None) -> list[str]:
        """Union across sub-term-dictionaries (MultiTerms.java role)."""
        seen: set[str] = set()
        for ix in self.indexes:
            seen.update(ix.expand_terms(kind, arg, limit=limit, field=field))
        out = sorted(seen)
        if len(out) > limit:
            raise ValueError(f"expansion produced {len(out)} terms (> {limit})")
        return out

    def field_doc_set(self, key: tuple, cond) -> tuple:
        out: list[int] = []
        for base, ix in zip(self.doc_bases, self.indexes):
            out.extend(base + d for d in ix.field_doc_set(key, cond))
        return tuple(out)

    # ---- postings / doc domain (rebased) --------------------------------------

    def collect_postings(
        self,
        terms: list[str],
        with_positions: bool = False,
        with_offsets: bool = False,
        with_payloads: bool = False,
    ) -> dict[str, PostingList]:
        """Each term's sub-index postings rebased into the composite doc
        space and joined, cached per (term, streams) like a single
        reader's decodes: the sub-indexes are fixed for the composite's
        lifetime, and the join re-splits every position list."""
        flags = (with_positions, with_offsets, with_payloads)
        got = self.cache.get_many("decoded", [(t, *flags) for t in terms])
        missing = [t for t in terms if (t, *flags) not in got]
        parts: dict[str, list[tuple]] = {}
        wanted = (
            (with_positions, "positions", "positional queries need every sub-index "
             "built with positions=True"),
            (with_offsets, "offsets", "highlighting needs every sub-index built "
             "with offsets=True"),
            (with_payloads, "payloads", "payload queries need every sub-index built "
             "with delimited_payloads"),
        )
        for base, ix in zip(self.doc_bases, self.indexes):
            for t, p in ix.collect_postings(missing, *flags).items():
                for want, what, hint in wanted:
                    if want and getattr(p, what) is None:
                        raise ValueError(f"sub-index lacks {what} for term {t!r}; {hint}")
                parts.setdefault(t, []).append(
                    (base + p.docs, p.tfs, p.norms, p.positions, p.offsets, p.payloads)
                )
        # leaves cover increasing composite doc ranges: the join keeps
        # the flat position buffer the positional kernels read
        for t, ps in parts.items():
            docs, *streams = concat_doc_order(ps)
            got[(t, *flags)] = self.cache.put(
                "decoded", (t, *flags), PostingList(t, -1, len(docs), docs, *streams)
            )
        return {t: got[(t, *flags)] for t in terms if (t, *flags) in got}

    def all_doc_ids(self) -> np.ndarray:
        return np.concatenate(
            [base + ix.all_doc_ids() for base, ix in zip(self.doc_bases, self.indexes)]
        )

    @property
    def deleted_ids(self) -> np.ndarray:
        parts = [
            base + ix.deleted_ids
            for base, ix in zip(self.doc_bases, self.indexes)
            if len(ix.deleted_ids)
        ]
        return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


class MultiSearcher(Searcher):
    """IndexSearcher over a MultiReader: one Weight from the summed
    collection/term statistics scores every leaf, hits come back in the
    composite doc-id space. Runs the exhaustive vectorized kernels per
    term over the rebased posting arrays (leaf iteration collapses into
    array concatenation — the block-at-a-time reframing of
    IndexSearcher.search's leaf loop)."""

    def __init__(self, indexes: list[SearchIndex], total_hits_threshold: int = 1000, similarity="bm25"):
        super().__init__(MultiSearchIndex(indexes), total_hits_threshold, similarity)

    def search(self, query, k: int = 10, mode: str = "driver") -> TopDocs:
        if mode == "distributed":
            return self._search_distributed_multi(query, k)
        if mode != "driver":
            raise ValueError(f"unknown mode {mode!r}")
        q, spec, stats, _ = self.prepare(query, collect_rows=False)
        if isinstance(spec, NoneSpec) or k <= 0:
            return TopDocs([], 0, "EQUAL_TO", {})
        cache = self._norm_caches(stats)
        return self._search_exhaustive(spec, k, cache, rows_by_term=None)

    def _search_distributed_multi(self, query, k: int) -> TopDocs:
        """Distributed composite search: ONE Weight from the summed
        statistics (this searcher's prepare) runs each sub-index's
        chunk-parallel plan, then per-leaf TopDocs merge with the
        Lucene tie-break — (score desc, shard order, local doc asc) ==
        (score desc, composite doc asc) after docBase rebasing
        (TopDocs.java merge :270-320). Rank- and score-identical to
        driver mode: per-doc scores depend only on (tf, norm) and the
        composite weight/norm caches, which are shared across leaves.
        Field filters stay lazy (PredSpec), resolving against each
        sub-index's own docs table — never against composite ids."""
        from lucene_spark.search.kernels import DocSetSpec

        _q, spec, stats, _ = self.prepare(query, collect_rows=False, lazy_docsets=True)
        if isinstance(spec, NoneSpec) or k <= 0:
            return TopDocs([], 0, "EQUAL_TO", {})

        def has_docset(s) -> bool:
            if isinstance(s, DocSetSpec):
                return True
            for grp in ("musts", "shoulds", "filters", "nots", "subs"):
                for x in getattr(s, grp, ()) or ():
                    if has_docset(x):
                        return True
            if isinstance(s, tuple) and s and s[0] == "const":
                return has_docset(s[1])
            return False

        if has_docset(spec):
            raise ValueError(
                "distributed multi-index search needs lazily-resolved filters; "
                "this query resolved a doc set in composite id space"
            )
        cache = self._norm_caches(stats)
        hits: list[tuple[int, float]] = []
        total = 0
        for base, ix in zip(self.index.doc_bases, self.index.indexes):
            sub = Searcher(ix, self.total_hits_threshold, self.sim)
            # lazy filter conditions were registered by THIS searcher's
            # prepare; the leaf plans resolve them by key
            sub._pred_conds = self._pred_conds
            sub._val_conds = self._val_conds
            td = sub._search_distributed(spec, k, cache)
            total += td.total_hits
            hits.extend((int(d) + int(base), s) for d, s in td.hits)
        hits.sort(key=lambda t: (-t[1], t[0]))
        return TopDocs(hits[:k], total, "EQUAL_TO", {"mode": "distributed-multi"})

    def count(self, query, mode: str = "driver") -> int:
        """Weight#count over the composite: TermQuery = summed docFreq,
        MatchAll = summed docCount (no leaf has deletions); exhaustive
        evaluation otherwise. ``distributed`` sums per-leaf distributed
        counts (leaf doc spaces are disjoint; counting needs no shared
        statistics)."""
        if mode == "distributed":
            return sum(
                Searcher(ix, self.total_hits_threshold, self.sim).count(query, mode="distributed")
                for ix in self.index.indexes
            )
        from lucene_spark.search import ast as A

        # the shortcuts read the ANALYZED query, like Searcher.count
        q0 = self._analyze(query)
        if not len(self.index.deleted_ids):
            if isinstance(q0, A.TermQuery):
                return self.index.term_stats([q0.term]).get(q0.term, (0, 0))[0]
            if isinstance(q0, A.MatchAllDocsQuery):
                return self.index.stats.doc_count
        q, spec, stats, _ = self.prepare(query, collect_rows=False)
        if isinstance(spec, NoneSpec):
            return 0
        ctx = self._driver_context(spec, self._norm_caches(stats))
        docs, _ = self._live_matches(spec, ctx)
        return len(docs)
