"""SearchIndex — opens the index tables and serves the read path.

The term dictionary role (Lucene's block-tree .tim/.tip,
Lucene90BlockTreeTermsWriter.java:152-202) is played by the term-
bucketed, term-sorted parquet tables: a point lookup is a Catalyst
filter that prunes buckets/row-groups via parquet dictionary + min/max
stats; prefix/wildcard/fuzzy expansion is a JVM-side predicate scan of
``term_stats`` (startswith / rlike / levenshtein — all whole-stage
codegen, no Python).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import os
import threading

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.codec.forutil import unpack_postings
from lucene_spark.codec.positions import (
    concat_position_lists,
    repack_position_lists,
    unpack_offsets,
    unpack_payloads,
    unpack_positions,
)
from lucene_spark.index.cache import MISS, ReaderCache
from lucene_spark.search.similarity import BM25Stats

MAX_EXPANSION = 1024  # IndexSearcher.maxClauseCount analogue

# Open holders of each persisted per-directory relation. A persisted
# plan that depends only on the index directory is ONE cache-manager
# entry for every reader of that directory on a SparkContext, so only
# the last holder's close() may unpersist it.
_SHARED_LOCK = threading.RLock()
_SHARED_HOLDERS: dict[tuple, int] = {}


@dataclass
class PostingList:
    """Decoded (or decodable) posting data for one (term, chunk)."""

    term: str
    chunk_id: int
    df: int
    docs: np.ndarray
    tfs: np.ndarray
    norms: np.ndarray
    positions: list | None = None  # per-doc position arrays (aligned with docs)
    offsets: list | None = None  # per-doc (starts, ends) arrays (aligned with docs)
    payloads: list | None = None  # per-doc float32 payload arrays (position-aligned)


def concat_doc_order(parts: list[tuple]) -> tuple:
    """One term's posting parts — (docs, tfs, norms, positions, *more
    per-doc streams) tuples, one per chunk or tier row — as one part in
    doc order. Tier rows cover disjoint, increasing doc ranges, so the
    concatenation is normally ordered already; otherwise one stable
    argsort reorders every column. A stream that is None in any part is
    None in the result; positions keep their flat decode buffer
    (PositionLists) for the positional kernels."""
    if len(parts) == 1:
        return parts[0]
    cols = [np.concatenate([p[i] for p in parts]) for i in range(3)]
    streams = []
    for i in range(3, len(parts[0])):
        if any(p[i] is None for p in parts):
            streams.append(None)
        elif i == 3:
            streams.append(concat_position_lists([p[3] for p in parts]))
        else:
            streams.append([v for p in parts for v in p[i]])
    if len(cols[0]) > 1 and not (np.diff(cols[0]) > 0).all():
        order = np.argsort(cols[0], kind="stable")
        cols = [c[order] for c in cols]
        streams = [None if st is None else [st[j] for j in order] for st in streams]
        if streams[0] is not None:
            streams[0] = repack_position_lists(streams[0])
    return (*cols, *streams)


def decode_row(
    term: str,
    row,
    with_positions: bool = False,
    with_offsets: bool = False,
    with_payloads: bool = False,
) -> tuple:
    """One posting row (a Spark Row or a pandas itertuples record) →
    (docs, tfs, int64 norms, positions, offsets, payloads); a stream not
    asked for is None. Asking for a stream the index was built without
    (its blob is null or its column absent) raises ValueError, so a
    missing stream never reads as "no match"."""
    docs, tfs, norms = unpack_postings(bytes(row.blob))
    streams = []
    for want, col, unpack, what, built in (
        (with_positions, "pos_blob", unpack_positions, "positions", "with positions=False"),
        (with_offsets, "off_blob", unpack_offsets, "offsets", "with offsets=False"),
        (with_payloads, "pay_blob", unpack_payloads, "payloads", "without delimited_payloads"),
    ):
        blob = getattr(row, col, None) if want else None
        if want and blob is None:
            raise ValueError(f"index has no {what} for term {term!r} (built {built})")
        streams.append(None if blob is None else unpack(bytes(blob), tfs))
    return (docs, tfs, norms.astype(np.int64), *streams)


class SearchIndex:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        # all a repeat query reads (rows, decoded, source, expand, docset,
        # docvals, tstats, layout; the Searcher's fieldcond and plan):
        # the index is immutable for a reader's lifetime (DirectoryReader)
        self.cache = ReaderCache()
        self._term_grams: DataFrame | None = None
        self._chunked_postings: DataFrame | None = None

    def close(self) -> None:
        """Release executor-storage held by this reader (the
        IndexReader.close role). Idempotent; the reader stays usable —
        the gram relation just rebuilds (and re-persists) on next use.
        Sessions that open many readers should close them, or the
        per-reader persisted (term, gram) relations accumulate until
        executor storage evicts them. Both relations are shared with
        every other open reader of this directory (one cache-manager
        entry), so only the last one to close unpersists them."""
        for attr in ("_term_grams", "_chunked_postings"):
            frame = getattr(self, attr, None)
            if frame is None:
                continue
            setattr(self, attr, None)
            with _SHARED_LOCK:
                key = self._shared_key(attr)
                _SHARED_HOLDERS[key] -= 1
                if not _SHARED_HOLDERS[key]:
                    del _SHARED_HOLDERS[key]
                    frame.unpersist()

    def _shared_key(self, attr: str) -> tuple:
        return (
            self.spark.sparkContext.applicationId,
            os.path.realpath(self.index_dir),
            attr,
        )

    def _hold(self, attr: str, frame: DataFrame) -> DataFrame:
        """Persist ``frame`` as this reader's ``attr`` relation and count
        this reader as one more holder of the shared cache entry."""
        with _SHARED_LOCK:
            frame = frame.persist()
            key = self._shared_key(attr)
            _SHARED_HOLDERS[key] = _SHARED_HOLDERS.get(key, 0) + 1
            setattr(self, attr, frame)
        return frame

    def __del__(self):  # best-effort backstop; close() is the contract
        try:
            self.close()
        except Exception:
            pass

    def __enter__(self) -> "SearchIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def field_doc_set(self, key: tuple, cond) -> tuple:
        """doc ids matching a docs-table predicate, cached per reader.
        ``key`` identifies the predicate; ``cond`` is the Catalyst
        Column (pushed to the parquet scan on miss)."""
        hit = self.cache.get("docset", key)
        if hit is not MISS:
            return hit
        rows = self.docs.filter(cond).select("doc_id").orderBy("doc_id").collect()
        return self.cache.put("docset", key, tuple(int(r["doc_id"]) for r in rows))

    def field_doc_values(self, key: tuple, cond, cols) -> tuple:
        """(doc_ids, per-doc value tuples) for docs matching a
        docs-table predicate, cached per reader — the docvalues read
        behind FeatureQuery / DistanceFeatureQuery (driver-mode
        interactive convenience like :meth:`field_doc_set`; the
        distributed path keeps values lazy and bucketed per chunk)."""
        hit = self.cache.get("docvals", key)
        if hit is not MISS:
            return hit
        rows = (
            self.docs.filter(cond)
            .select(F.col("doc_id"), *[c.cast("double") for c in cols])
            .orderBy("doc_id")
            .collect()
        )
        docs = tuple(int(r[0]) for r in rows)
        vals = tuple(tuple(float(x) for x in r[1:]) for r in rows)
        return self.cache.put("docvals", key, (docs, vals))

    @cached_property
    def manifest(self) -> dict:
        import json

        path = os.path.join(self.index_dir, "manifest.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        return {}

    @property
    def analyzer(self) -> str:
        """Analyzer the index was built with ("standard" | "porter") —
        the Searcher analyzes query terms with the same chain, the
        IndexWriterConfig.getAnalyzer contract."""
        return self.manifest.get("analyzer") or "standard"

    @property
    def stem_repeat(self) -> bool:
        """Index built with the KeywordRepeat+stem stacked stage — the
        Searcher rewrites query terms into SynonymQuery(term, stem)
        (QueryBuilder's graph-token path over the same chain)."""
        return bool(self.manifest.get("stem_repeat"))

    @property
    def delimited_payloads(self) -> str | None:
        """Delimiter char when the index carries per-occurrence float
        payloads (DelimitedPayloadTokenFilter stage); None otherwise."""
        return self.manifest.get("delimited_payloads") or None

    @property
    def index_sort(self) -> list[str]:
        """The index-time sort spec this index was built with
        (IndexWriterConfig.setIndexSort / LeafMetaData.getSort role);
        empty = unsorted (doc ids follow DOC_KEYS identity order)."""
        return list(self.manifest.get("index_sort") or [])

    @cached_property
    def vectors(self) -> DataFrame:
        """The KNN vector sidecar (doc_id, vec, vnorm) — the .vec/.vem
        role. Raises if the index was built without a vector_field."""
        if not os.path.exists(f"{self.index_dir}/vectors"):
            raise ValueError("index has no vector field (built without IndexConfig.vector_field)")
        return self.spark.read.parquet(f"{self.index_dir}/vectors")

    @cached_property
    def term_vectors_df(self) -> DataFrame:
        """The doc-keyed term-vector table (doc_id, term, tf [, poss])
        — Lucene90CompressingTermVectorsFormat role. Raises if the
        index was built without IndexConfig.term_vectors."""
        if not os.path.exists(f"{self.index_dir}/term_vectors"):
            raise ValueError("index has no term vectors (built without IndexConfig.term_vectors)")
        return self.spark.read.parquet(f"{self.index_dir}/term_vectors")

    def term_vector(self, doc_id: int, field: str | None = None) -> DataFrame:
        """TermVectors.get(doc, field): the terms of ONE document with
        tf (and positions when indexed), served by a doc-range
        pushed-down point read on the doc-sorted table — parquet
        min/max prunes to one file + row group, the same access shape
        as the reference's per-doc chunk lookup. ``field`` scopes to a
        field's key space (default: the primary field); bare terms are
        returned (composite prefix stripped)."""
        from lucene_spark.index.builder import FIELD_SEP

        tv = self.term_vectors_df.filter(F.col("doc_id") == int(doc_id))
        if field in (None, self.primary_field):
            tv = tv.filter(~F.col("term").contains(FIELD_SEP))
        else:
            pre = field + FIELD_SEP
            tv = tv.filter(F.col("term").startswith(pre)).withColumn(
                "term", F.col("term").substr(F.lit(len(pre) + 1), F.length("term"))
            )
        return tv.orderBy("term")

    @cached_property
    def postings(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_dir}/postings")

    @cached_property
    def dist_spark(self) -> SparkSession:
        """Child session with AQE off, opened once per reader: the
        distributed plan is rooted in it, so its fixed shape skips
        adaptive stage materialization (~60 ms per query at local[32])
        and the caller's session conf is never written. It shares the
        SparkContext and cache manager with the caller's session."""
        child = self.spark.newSession()
        child.conf.set("spark.sql.adaptive.enabled", "false")
        return child

    @cached_property
    def dist_postings(self) -> DataFrame:
        return self.dist_spark.read.parquet(f"{self.index_dir}/postings")

    @cached_property
    def term_stats_df(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_dir}/term_stats")

    @cached_property
    def norms(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_dir}/norms")

    @cached_property
    def docs(self) -> DataFrame:
        """Stored fields / doc values. Staged numeric DV updates (see
        index/dvupdates.py — IndexWriter.updateNumericDocValue role)
        overlay merge-on-read; snapshot at first touch per reader."""
        from lucene_spark.index.dvupdates import overlay_docs

        base = self.spark.read.parquet(f"{self.index_dir}/docs")
        return overlay_docs(self.spark, self.index_dir, base)

    def deletes_df(self) -> DataFrame | None:
        """Tombstones as a DataFrame (distinct doc_id), or None if the
        index has none — distributed mode buckets these by doc-range
        chunk instead of collecting them (liveDocs-at-search contract,
        Lucene90LiveDocsFormat)."""
        path = f"{self.index_dir}/deletes"
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path).select("doc_id").distinct()

    @cached_property
    def deleted_ids(self) -> np.ndarray:
        """liveDocs snapshot: sorted tombstoned doc ids (empty if none).
        Loaded once per reader open, like a Lucene reader's bitset."""
        from lucene_spark.index.deletes import load_deleted

        return load_deleted(self.spark, self.index_dir)

    @property
    def _manifest(self) -> dict:
        return self.manifest  # single cached load (one source of truth)

    @cached_property
    def primary_field(self) -> str:
        return self._manifest.get("field", "content")

    @cached_property
    def text_fields(self) -> tuple[str, ...]:
        """All TOKENIZED fields (primary first) — the FieldInfos list."""
        return (self.primary_field, *self._manifest.get("extra_fields", ()))

    @cached_property
    def _all_stats(self) -> dict[str, BM25Stats]:
        rows = self.spark.read.parquet(f"{self.index_dir}/collection_stats").collect()
        return {
            r["field"]: BM25Stats(doc_count=r["doc_count"], sum_total_term_freq=r["sum_ttf"])
            for r in rows
        }

    @cached_property
    def stats(self) -> BM25Stats:
        return self._all_stats.get(self.primary_field) or next(iter(self._all_stats.values()))

    def stats_for(self, field: str) -> BM25Stats:
        """Per-field CollectionStatistics (per-field BM25 df/avgdl/
        docCount — IndexSearcher.collectionStatistics per field)."""
        st = self._all_stats.get(field)
        if st is None:
            raise KeyError(f"field {field!r} is not a tokenized index field")
        return st

    # ---- term dictionary ---------------------------------------------------

    def term_stats(
        self, terms: list[str], rows_by_term: dict[str, list] | None = None
    ) -> dict[str, tuple[int, int]]:
        """term → (df, ttf); point lookups pushed to the parquet scan.
        Aggregated across tiers (a tiered-writer index keeps one
        term_stats row per (term, tier) — per-segment term dicts).
        Cached per reader (absent terms cache a negative entry), so
        repeat queries cost zero stats jobs. Given the terms' collected
        chunk rows (``collect_rows``, the driver path), a miss sums their
        df / ttf columns instead of running a job: the term dictionary
        holds those sums (CheckIndex verifies it), so the driver and
        distributed paths read one set of term statistics."""
        if not terms:
            return {}
        # snapshot THIS call's answers before storing the fetched ones:
        # a query can carry more terms than the cache holds (stacked
        # multi-clause expansions), and eviction racing the read would
        # silently score the evicted terms as absent
        got = self.cache.get_many("tstats", terms)
        missing = [t for t in terms if t not in got]
        if missing:
            fetched: dict[str, tuple | None] = {t: None for t in missing}
            if rows_by_term is not None:
                for t in missing:
                    rs = rows_by_term.get(t)
                    if rs:
                        fetched[t] = (sum(int(r["df"]) for r in rs), sum(int(r["ttf"]) for r in rs))
            else:
                rows = (
                    self.term_stats_df.filter(F.col("term").isin(missing))
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
                    .collect()
                )
                for r in rows:
                    fetched[r["term"]] = (int(r["df"]), int(r["ttf"]))
            for t, v in fetched.items():
                got[t] = self.cache.put("tstats", t, v)
        return {t: got[t] for t in terms if got[t] is not None}

    def chunk_layout(self, terms: list[str]) -> list[tuple]:
        """Per-(term, tier) posting-row layout: (term, tier, n_rows,
        max_chunk_id) — the hot/confined-vs-spanning classification
        input of the distributed planner, cached per reader so repeat
        queries skip the layout group-by job. ``tier`` is None on
        non-tiered indexes."""
        tiered = "tier" in self.postings.columns
        # snapshot before storing (same race as term_stats — eviction
        # of this call's entries would misclassify hot terms)
        got = self.cache.get_many("layout", terms)
        missing = [t for t in terms if t not in got]
        if missing:
            gcols = ["term", "tier"] if tiered else ["term"]
            rows = (
                self.postings_rows(missing)
                .groupBy(*gcols)
                .agg(F.count("*").alias("n"), F.max("chunk_id").alias("maxc"))
                .collect()
            )
            fetched: dict[str, list] = {t: [] for t in missing}
            for r in rows:
                fetched[r["term"]].append(
                    (r["tier"] if tiered else None, int(r["n"]), int(r["maxc"]))
                )
            for t, v in fetched.items():
                got[t] = self.cache.put("layout", t, v)
        return [(t, tier, n, maxc) for t in terms for tier, n, maxc in got[t]]

    def term_grams_df(self) -> DataFrame:
        """Lazy (term, gram) DISTINCT-bigram relation over the term
        dictionary, persisted per reader — the relational port of the
        reference's Levenshtein-automaton candidate pruning
        (CORE/util/automaton/LevenshteinAutomata.java:33-60: enumerate
        only terms the automaton can accept, never the whole
        dictionary). Pruning bound (distinct q-gram lemma): one
        classic edit touches <= n gram positions and one OSA edit
        <= n+1, so a term within e edits of t shares at least
        |distinct_grams(t)| - e*n (classic) / - e*(n+1) (OSA) of t's
        distinct bigrams. Built with one shuffle-free projection and
        persisted for the reader's lifetime — release via close() (the
        reader is a context manager); a production build would write it
        as an index-time sidecar next to term_stats_rev."""
        if self._term_grams is None:
            g = (
                self.term_stats_df.select("term")
                .distinct()
                .filter(F.length("term") >= 2)
                .select(
                    "term",
                    F.explode(
                        F.array_distinct(
                            F.expr(
                                "transform(sequence(1, length(term) - 1), "
                                "i -> substring(term, i, 2))"
                            )
                        )
                    ).alias("gram"),
                )
            )
            self._hold("_term_grams", g)
        return self._term_grams

    def fuzzy_candidates(self, full_term: str, max_edits: int, transpositions: bool):
        """Candidate term relation for a fuzzy expansion, or None when
        the gram bound cannot prune (short terms / high edit budgets).
        The returned single-column (term) DataFrame semi-joins into
        the dictionary scan, replacing the full-dictionary levenshtein
        pass with a pushed-down gram IN-join + count filter."""
        qgrams = sorted({full_term[i : i + 2] for i in range(len(full_term) - 1)})
        per_edit = 3 if transpositions else 2
        thresh = len(qgrams) - max_edits * per_edit
        if thresh <= 0:
            return None
        return (
            self.term_grams_df()
            .filter(F.col("gram").isin(qgrams))
            .groupBy("term")
            .agg(F.count("*").alias("_shared"))
            .filter(F.col("_shared") >= thresh)
            .select("term")
        )

    def expand_wildcard(self, pattern: str, limit: int = MAX_EXPANSION, field: str | None = None) -> list[str]:
        """Wildcard expansion with path selection: a pure leading
        wildcard (*suffix) rides the reversed-dictionary sidecar
        (pruned startswith) instead of the full regexp scan; everything
        else goes through the wildcard→regexp automaton route."""
        from lucene_spark.search.textmatch import wildcard_to_regex

        if pattern.startswith("*") and len(pattern) > 1 and not any(
            c in "*?" for c in pattern[1:]
        ):
            return self.expand_terms("suffix", pattern[1:], limit=limit, field=field)
        return self.expand_terms("regexp", wildcard_to_regex(pattern), limit=limit, field=field)

    def expand_terms(self, kind: str, arg, limit: int = MAX_EXPANSION, field: str | None = None) -> list[str]:
        """MultiTermQuery expansion against the term dictionary
        (MultiTermQuery.java:55-93; AutomatonTermsEnum ∩ dictionary →
        here a Catalyst predicate on the sorted term table). ``field``
        scopes the expansion to a non-primary tokenized field's key
        space (startswith on the composite prefix — pushed-down, same
        pruning as a term lookup); returned terms are FULL keys."""
        from lucene_spark.index.builder import FIELD_SEP

        keyprefix = "" if field in (None, self.primary_field) else field + FIELD_SEP
        ckey = (kind, arg if not isinstance(arg, list) else tuple(arg), limit, keyprefix)
        cached = self.cache.get("expand", ckey)
        if cached is not MISS:
            return list(cached)
        t = self.term_stats_df
        if kind == "suffix" and self._manifest.get("reverse_dict"):
            # leading-wildcard acceleration (ReverseStringFilter role):
            # the reversed-key sidecar is sorted by term_rev, so the
            # startswith below prunes row groups instead of scanning
            # the whole dictionary
            t = self.spark.read.parquet(f"{self.index_dir}/term_stats_rev")
        bare = F.col("term")
        if keyprefix:
            t = t.filter(F.col("term").startswith(keyprefix))
            bare = F.col("term").substr(F.lit(len(keyprefix) + 1), F.length("term"))
        else:
            # primary-field expansion must not leak other fields'
            # composite keys (e.g. wildcard '*ow' matching
            # 'title<SEP>window') — the FieldInfos key-space boundary
            t = t.filter(~F.col("term").contains(FIELD_SEP))
        if kind == "suffix":
            # a composite key reversed starts with the reversed bare
            # term, so the pruning column works for every field
            if "term_rev" in t.columns:
                cond = F.col("term_rev").startswith(arg[::-1])
            else:  # no sidecar (writer-modified index): plain scan
                cond = bare.endswith(arg)
        elif kind == "prefix":
            cond = bare.startswith(arg)
        elif kind == "regexp":
            cond = bare.rlike(f"^(?:{arg})$")
        elif kind == "fuzzy":
            if len(arg) == 4:
                term, max_edits, prefix_len, transpositions = arg
            else:
                term, max_edits, prefix_len = arg
                transpositions = False
            # JVM pre-filter: classic Levenshtein bounds the OSA metric
            # (osa <= classic <= 2*osa), so transpositions=True scans
            # classic <= 2k pushed-down and exact-checks OSA below
            classic_bound = 2 * max_edits if transpositions else max_edits
            cond = F.levenshtein(bare, F.lit(term)) <= classic_bound
            if prefix_len:
                cond = cond & bare.startswith(term[:prefix_len])
            # cheap length pre-filter keeps the levenshtein scan tight
            # (the OSA metric also never beats the length difference)
            cond = cond & (F.length(bare) >= len(term) - max_edits) & (
                F.length(bare) <= len(term) + max_edits
            )
            # n-gram candidate pruning (LevenshteinAutomata role): when
            # the distinct-bigram bound prunes, the scan semi-joins a
            # gram-IN candidate set instead of levenshtein-scanning the
            # whole dictionary — the 10^8-term path
            cand = self.fuzzy_candidates(keyprefix + term, max_edits, transpositions)
            if cand is not None:
                t = t.join(cand, "term", "left_semi")
        elif kind == "range":
            lower, upper, incl_lo, incl_hi = arg
            cond = F.lit(True)
            if lower is not None:
                c = bare >= lower if incl_lo else bare > lower
                cond = cond & c
            if upper is not None:
                c = bare <= upper if incl_hi else bare < upper
                cond = cond & c
        else:
            raise ValueError(kind)
        if kind == "fuzzy" and len(arg) == 4 and arg[3]:
            # transpositions: exact OSA check pushed INTO the scan as an
            # Arrow-batched predicate over the (classic <= 2k) JVM
            # pre-filtered candidates, so ``limit`` applies to TRUE OSA
            # matches — a driver-side post-filter over a capped slice
            # would silently drop matches sorting late in dictionary
            # order whenever the pre-filter pool exceeds the cap
            from pyspark.sql.functions import pandas_udf

            term, max_edits = arg[0], arg[1]
            pl = len(keyprefix)

            @pandas_udf("boolean")
            def _osa_ok(s):
                import pandas as pd

                from lucene_spark.search.textmatch import osa_distance

                return pd.Series(
                    [osa_distance(x[pl:], term, max_edits) <= max_edits for x in s]
                )

            out = [
                r["term"]
                for r in t.filter(cond)
                .filter(_osa_ok(F.col("term")))
                .select("term")
                .distinct()
                .orderBy("term")
                .limit(limit)
                .collect()
            ]
        else:
            out = [
                r["term"]
                for r in t.filter(cond).select("term").distinct().orderBy("term").limit(limit).collect()
            ]
        return list(self.cache.put("expand", ckey, out))

    # ---- postings ------------------------------------------------------------

    # persist the chunk-partitioned postings relation only while the
    # table fits comfortably in executor storage; larger indexes keep
    # the pushed-down per-query scan (term IN ... reaches parquet)
    CHUNKED_POSTINGS_MAX_BYTES = 8 << 30

    def chunked_postings(self) -> DataFrame | None:
        """The postings relation pre-shuffled on chunk_id and persisted
        (the executor-resident segment the reference gets from the OS
        page cache over .doc files): a distributed query then runs
        filter → groupBy(chunk_id) → applyInPandas with NO per-query
        exchange — filter preserves the hash partitioning, so the whole
        query is one in-memory stage + the merge. Built lazily on the
        first distributed query; None (caller falls back to the scan)
        when the postings files exceed CHUNKED_POSTINGS_MAX_BYTES.
        Released by close()."""
        if self._chunked_postings is None:
            total = 0
            for root, _dirs, files in os.walk(f"{self.index_dir}/postings"):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            if total > self.CHUNKED_POSTINGS_MAX_BYTES:
                return None
            # width ~6 chunks per task, floored at 8: near-empty tasks
            # are pure scheduling cost on a latency path (32 tasks over
            # 49 groups measured ~80 ms slower than 8 tasks at 800k
            # docs), while a big index still fans out to full cluster
            # width. Term-sorted within partitions so the cached
            # batches carry term min/max stats and a query's term IN
            # filter prunes batches instead of re-scanning everything.
            import math

            max_doc, _n, _c = self.doc_id_bounds
            dpc = int(self.manifest.get("docs_per_chunk", 1 << 17))
            n_chunks = max(1, math.ceil(max_doc / dpc))
            n = min(
                self.spark.sparkContext.defaultParallelism,
                max(8, math.ceil(n_chunks / 6)),
            )
            self._hold(
                "_chunked_postings",
                self.dist_postings.repartition(n, "chunk_id").sortWithinPartitions("term", "chunk_id"),
            )
            self._chunked_postings.count()  # materialize once, eagerly
        return self._chunked_postings

    def postings_rows(self, terms: list[str]) -> DataFrame:
        return self.postings.filter(F.col("term").isin(list(terms)))

    def collect_rows(self, terms: list[str]) -> dict[str, list]:
        """ONE point-read job for all query terms: term → chunk rows in
        doc-range order. Serves both the stats need (df/ttf are columns
        of every chunk row, see ``term_stats``) and the decode need — the
        driver query path is a single Spark job with no shuffle and no
        sort (SURVEY §3.1 Spark design: shuffle-free)."""
        if not terms:
            return {}
        got = self.cache.get_many("rows", terms)
        missing = [t for t in terms if t not in got]
        if missing:
            # collected unsorted (a Spark sort adds a sampling job and a
            # shuffle) and sorted here: tiered indexes' tiers cover
            # increasing doc-id ranges, so (chunk_id, tier) order =
            # global doc order within a term
            tiered = "tier" in self.postings.columns
            fetched: dict[str, list] = {t: [] for t in missing}
            for r in self.postings_rows(missing).collect():
                fetched[r["term"]].append(r)
            for t, rs in fetched.items():
                rs.sort(key=lambda r: (r["chunk_id"], r["tier"]) if tiered else r["chunk_id"])
                got[t] = self.cache.put("rows", t, rs)  # negative results cached too ([])
        return {t: got[t] for t in terms if got[t]}

    def collect_postings(
        self,
        terms: list[str],
        with_positions: bool = False,
        with_offsets: bool = False,
        with_payloads: bool = False,
    ) -> dict[str, PostingList]:
        """Driver-mode read: decode and concatenate all chunks per term
        (chunk rows are doc-range ordered by chunk_id)."""
        return self.postings_from_rows(
            self.collect_rows(terms), with_positions, with_offsets, with_payloads
        )

    def postings_from_rows(
        self,
        by_term: dict[str, list],
        with_positions: bool = False,
        with_offsets: bool = False,
        with_payloads: bool = False,
    ) -> dict[str, PostingList]:
        """Decode already-collected chunk rows (no Spark job), cached
        per (term, streams): ``by_term`` holds each term's FULL row set
        (the cache is keyed by term alone)."""
        out: dict[str, PostingList] = {}
        flags = (with_positions, with_offsets, with_payloads)
        hits = self.cache.get_many("decoded", [(t, *flags) for t in by_term])
        for term, rs in by_term.items():
            dkey = (term, *flags)
            if dkey not in hits:
                # the flat position decode buffer stays attached
                # (PositionLists): the positional kernels' zero-copy fast
                # path reads it, and this decode is cached across queries
                docs, *streams = concat_doc_order([decode_row(term, r, *flags) for r in rs])
                hits[dkey] = self.cache.put(
                    "decoded", dkey, PostingList(term, -1, len(docs), docs, *streams)
                )
            out[term] = hits[dkey]
        return out

    @cached_property
    def doc_id_bounds(self) -> tuple[int, int, bool]:
        """(max_doc_exclusive, n_docs, contiguous). ``contiguous`` means
        doc ids are exactly 0..max_doc-1 (always true for builder
        output; false after a physical purge left gaps). One tiny agg
        job, cached per reader."""
        row = self.norms.agg(
            F.max("doc_id").alias("mx"), F.min("doc_id").alias("mn"), F.count("*").alias("n")
        ).first()
        if row["n"] == 0:
            return 0, 0, True
        max_doc = int(row["mx"]) + 1
        return max_doc, int(row["n"]), bool(row["mn"] == 0 and max_doc == row["n"])

    def all_doc_ids(self) -> np.ndarray:
        """MatchAllDocs domain. Contiguous indexes synthesize the range
        arithmetically — no driver collect of O(maxDoc) ids; only a
        purged (gappy) index pays a scan."""
        max_doc, _, contiguous = self.doc_id_bounds
        if contiguous:
            return np.arange(max_doc, dtype=np.int64)
        rows = self.norms.select("doc_id").orderBy("doc_id").collect()
        return np.array([r["doc_id"] for r in rows], dtype=np.int64)
