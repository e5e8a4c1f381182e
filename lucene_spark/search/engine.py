"""Searcher — the IndexSearcher equivalent.

Query lifecycle (mirrors SURVEY §3.1 / IndexSearcher.java:451-492):
1. parse → AST rewrite to fixpoint        (driver, microseconds)
2. MultiTermQuery expansion against the term dictionary
   (Catalyst predicate scan on term_stats — JVM-side)
3. Weight creation: fetch GLOBAL df/ttf + collection stats, fold
   boosts, build the float32 norm-inverse cache. Steps 1-3 of a driver
   query are one reader cache entry ("prepared") and the norm tables
   are built once per searcher: a repeat skips them.
4. Execution:
   - driver mode: posting rows of the query's terms are point-read
     (partition-pruned parquet filter), kernels score on the driver.
     Right for interactive top-k — the query job is shuffle-free.
   - distributed mode: hot-term chunk rows stay on executors; an
     applyInPandas over chunk_id groups scores each doc-range "leaf"
     (Spark partitions ARE Lucene's leaf slices, IndexSearcher.java:128)
     with small-term posting arrays broadcast into the kernel; each
     leaf emits its local top-k and a TakeOrderedAndProject merges —
     the TopDocs.merge step (TopDocs.java:202-215).
5. Tie-break everywhere: score desc, doc_id asc (HitQueue.java:78-84).

Pure disjunctions of terms take the block-max WAND path (the
Boolean2ScorerSupplier TOP_SCORES branch, Boolean2ScorerSupplier.java:141-247);
everything else is evaluated exhaustively by the vectorized kernels
(correct for all shapes; pruning for conjunctions is a later milestone).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_spark.index.cache import MISS
from lucene_spark.index.reader import MAX_EXPANSION, SearchIndex, decode_row
from lucene_spark.search import ast as A
from lucene_spark.search.kernels import (
    BoolSpec,
    ChunkContext,
    NoneSpec,
    TermSpec,
    compile_query,
    evaluate,
    leaf_context,
    spec_terms,
    top_k_from_arrays,
)
from lucene_spark.search.parser import parse_query
from lucene_spark.search.wand import PostingSource, TermBlocks, conjunction_top_k, wand_top_k


@dataclass
class TopDocs:
    hits: list[tuple[int, float]]  # (doc_id, score), rank order
    total_hits: int
    relation: str  # "EQUAL_TO" | "GREATER_THAN_OR_EQUAL_TO"
    info: dict


class Searcher:
    def __init__(
        self,
        index: SearchIndex,
        total_hits_threshold: int = 1000,
        similarity="bm25",
        timeout_ms: float | None = None,
    ):
        from lucene_spark.search.similarity import get_similarity

        self.index = index
        self.total_hits_threshold = total_hits_threshold
        # pluggable scoring model (IndexSearcher.setSimilarity role);
        # "bm25" | "classic" | "boolean" | "lmdirichlet" or an instance
        self.sim = get_similarity(similarity)
        # IndexSearcher.setTimeout(QueryTimeout) role: best-effort time
        # budget per search() call, checked at kernel checkpoints
        # (WAND interval batches; conjunction per-term steps). On
        # expiry the WAND path returns the fully-scored partial top-k,
        # the conjunction path returns no hits (mid-intersection
        # candidates are unverified); both set relation GTE and
        # info["timed_out"]. The exhaustive and distributed paths have
        # no checkpoints (single vectorized pass / cluster job) and
        # ignore the budget, like un-wrapped readers under
        # TimeLimitingCollector.
        self.timeout_ms = timeout_ms
        # PredDocSetQuery key → Catalyst Column (distributed mode keeps
        # field predicates lazy; the ids never land on the driver)
        self._pred_conds: dict[tuple, object] = {}
        # PredValueScoreQuery key → (Catalyst cond, [value Columns])
        # (feature / distance-feature queries, same lazy contract)
        self._val_conds: dict[tuple, tuple] = {}
        # (stats, norm tables) of the last _norm_caches call
        self._norms = None

    def _stats_by_field(self):
        """field → BM25Stats for non-primary tokenized fields (None for
        single-field indexes — zero overhead on the common path)."""
        fields = self.index.text_fields
        if len(fields) <= 1:
            return None
        return {f: self.index.stats_for(f) for f in fields[1:]}

    def _norm_caches(self, stats):
        """ChunkContext cache argument: plain array (single field) or
        {field: cache} dict with "" = primary (multi-field). The table
        is similarity-specific (norm-inverse cache for BM25, lengthNorm
        table for TF-IDF, ln(mu/(len+mu)) for LMDirichlet, ...). Built
        once per searcher: the similarity and the reader's stats do not
        change, so every query shares the one result, read-only."""
        if self._norms is not None and self._norms[0] == stats:
            return self._norms[1]
        sbf = self._stats_by_field()
        if not sbf:
            caches = self.sim.table(stats)
        else:
            caches = {"": self.sim.for_field("").table(stats)}
            for f, st in sbf.items():
                caches[f] = self.sim.for_field(f).table(st)
        tables = [caches]
        while tables:
            t = tables.pop()
            if isinstance(t, np.ndarray):
                t.flags.writeable = False
            else:  # a field → table dict, or MultiSim's tuple of tables
                tables.extend(t.values() if isinstance(t, dict) else t)
        self._norms = (stats, caches)
        return caches

    # ---- query preparation -------------------------------------------------

    def _field_cond(self, q):
        """(key, Catalyst cond) for a metadata-field predicate node.
        Memoized on the (frozen, hashable) AST node: building a
        Catalyst Column is driver-side Py4J traffic, and the shape
        conditions (per-triangle SAT over the tessellation column) run
        to hundreds of ms of pure expression construction — a repeated
        filter must not pay that per query."""
        hit = self.index.cache.get("fieldcond", q)
        if hit is not MISS:
            return hit
        return self.index.cache.put("fieldcond", q, self._field_cond_build(q))

    def _field_cond_build(self, q):
        import pyspark.sql.functions as F

        if isinstance(q, A.GeoBoxQuery):
            from lucene_spark.search.geo import box_condition

            key = ("geobox", q.lat_field, q.lon_field, q.min_lat, q.max_lat, q.min_lon, q.max_lon)
            return key, box_condition(q)
        if isinstance(q, A.GeoDistanceQuery):
            from lucene_spark.search.geo import distance_condition

            key = ("geodist", q.lat_field, q.lon_field, q.lat, q.lon, q.radius_m)
            return key, distance_condition(q)
        if isinstance(q, A.GeoPolygonQuery):
            from lucene_spark.search.geo import polygon_condition

            key = ("geopoly", q.lat_field, q.lon_field, q.points, q.holes)
            return key, polygon_condition(q)
        if isinstance(q, A.Geo3DDistanceQuery):
            from lucene_spark.search.spatial3d import circle_condition

            key = ("geo3dcircle", q.lat_field, q.lon_field, q.lat, q.lon, q.radius_m, q.model)
            return key, circle_condition(q)
        if isinstance(q, A.Geo3DPolygonQuery):
            from lucene_spark.search.spatial3d import convex_polygon_condition

            key = ("geo3dpoly", q.lat_field, q.lon_field, q.points)
            return key, convex_polygon_condition(q)
        if isinstance(q, A.ShapeBoxQuery):
            from lucene_spark.search.shapes import shape_box_condition

            key = ("shapebox", q.field, q.min_lat, q.max_lat, q.min_lon, q.max_lon, q.relation)
            return key, shape_box_condition(q)
        if isinstance(q, A.ShapePolygonQuery):
            from lucene_spark.search.shapes import shape_polygon_condition

            key = ("shapepoly", q.field, q.points, q.holes, q.relation)
            return key, shape_polygon_condition(q)
        if isinstance(q, A.ShapePointQuery):
            from lucene_spark.search.shapes import shape_point_condition

            key = ("shapepoint", q.field, q.lat, q.lon, q.relation)
            return key, shape_point_condition(q)
        if isinstance(q, A.ShapeLineQuery):
            from lucene_spark.search.shapes import shape_line_condition

            key = ("shapeline", q.field, q.points, q.relation)
            return key, shape_line_condition(q)
        if isinstance(q, A.FieldExistsQuery):
            return ("exists", q.field), F.col(q.field).isNotNull()
        if isinstance(q, A.FieldInSetQuery):
            return ("inset", q.field, q.values), F.col(q.field).isin(list(q.values))
        if isinstance(q, A.RangeFieldQuery):
            lo, hi = F.col(q.lo_field), F.col(q.hi_field)
            intersects = (lo <= q.upper) & (hi >= q.lower)
            within = (lo >= q.lower) & (hi <= q.upper)
            if q.relation == "intersects":
                cond = intersects
            elif q.relation == "within":
                cond = within
            elif q.relation == "contains":
                cond = (lo <= q.lower) & (hi >= q.upper)
            elif q.relation == "crosses":
                # RangeFieldQuery.java:328-345: intersects && !within
                cond = intersects & ~within
            else:
                raise ValueError(f"unknown range relation {q.relation!r}")
            key = ("rangefield", q.lo_field, q.hi_field, q.lower, q.upper, q.relation)
            return key, cond
        if isinstance(q, A.FieldRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                c = F.col(q.field) >= q.lower if q.include_lower else F.col(q.field) > q.lower
                cond = cond & c
            if q.upper is not None:
                c = F.col(q.field) <= q.upper if q.include_upper else F.col(q.field) < q.upper
                cond = cond & c
            key = ("range", q.field, q.lower, q.upper, q.include_lower, q.include_upper)
            return key, cond
        if isinstance(q, A.MultiRangeQuery):
            # sandbox MultiRangeQuery: one scan, OR of inclusive ranges
            cond = F.lit(False)
            for lo, hi in q.ranges:
                c = F.lit(True)
                if lo is not None:
                    c = c & (F.col(q.field) >= lo)
                if hi is not None:
                    c = c & (F.col(q.field) <= hi)
                cond = cond | c
            key = ("multirange", q.field, q.ranges)
            return key, cond
        return ("eq", q.field, q.value), F.col(q.field) == q.value

    def _value_cond(self, q):
        """(kind, params, key, Catalyst cond, value Columns) for a
        value-scored query node (FeatureQuery / distance features).
        Validates parameters with the reference's constructor checks."""
        import pyspark.sql.functions as F

        if isinstance(q, A.FeatureQuery):
            fn = q.function
            if fn == "linear":
                params: tuple = ()
            elif fn == "log":
                if not (q.a >= 1.0):
                    raise ValueError(f"scalingFactor must be >= 1, got: {q.a}")
                params = (float(q.a),)
            elif fn == "saturation":
                if not (q.pivot > 0.0):
                    raise ValueError(f"pivot must be > 0, got: {q.pivot}")
                params = (float(q.pivot),)
            elif fn == "sigmoid":
                if not (q.pivot > 0.0 and q.a > 0.0):
                    raise ValueError(f"pivot and exp must be > 0, got: {q.pivot}, {q.a}")
                params = (float(q.pivot), float(q.a))
            else:
                raise ValueError(f"unknown feature function {fn!r}")
            kind = f"feature_{fn}"
            key = (kind, q.field) + params
            return kind, params, key, F.col(q.field).isNotNull(), [F.col(q.field)]
        if isinstance(q, A.LongDistanceFeatureQuery):
            if not (q.pivot > 0):
                raise ValueError(f"pivotDistance must be > 0, got: {q.pivot}")
            params = (float(q.origin), float(q.pivot))
            key = ("dist_long", q.field) + params
            return "dist_long", params, key, F.col(q.field).isNotNull(), [F.col(q.field)]
        if isinstance(q, A.GeoDistanceFeatureQuery):
            if not (q.pivot_m > 0):
                raise ValueError(f"pivotDistance must be > 0, got: {q.pivot_m}")
            params = (float(q.lat), float(q.lon), float(q.pivot_m))
            key = ("dist_geo", q.lat_field, q.lon_field) + params
            cond = F.col(q.lat_field).isNotNull() & F.col(q.lon_field).isNotNull()
            return "dist_geo", params, key, cond, [F.col(q.lat_field), F.col(q.lon_field)]
        raise TypeError(type(q))

    def _fieldize(self, q: A.Query) -> A.Query:
        """Map queries scoped to a non-primary TOKENIZED field into that
        field's composite key space (FieldInfos union role: the postings
        table keys terms as field + FIELD_SEP + term). Keyword-column
        (StringField) queries pass through untouched. A FieldValueQuery
        naming a tokenized field gets ANALYZED semantics — its value is
        tokenized and becomes a term/phrase query, exactly like
        `title:foo bar` against a TextField in the reference parser."""
        from lucene_spark.index.builder import FIELD_SEP

        primary = self.index.primary_field
        tf = set(self.index.text_fields)

        def is_extra(f: str) -> bool:
            return f != primary and f in tf

        def key(f: str, t: str) -> str:
            return f + FIELD_SEP + t

        if isinstance(q, A.TermQuery) and is_extra(q.field):
            return A.TermQuery(key(q.field, q.term))
        if isinstance(q, A.PhraseQuery) and is_extra(q.field):
            return A.PhraseQuery(tuple(key(q.field, t) for t in q.terms), q.slop)
        if isinstance(q, A.MultiPhraseQuery) and is_extra(q.field):
            return A.MultiPhraseQuery(
                tuple(tuple(key(q.field, t) for t in slot) for slot in q.positions), q.slop
            )
        if isinstance(q, A.SpanNearQuery) and is_extra(q.field):
            return A.SpanNearQuery(tuple(key(q.field, t) for t in q.terms), q.slop, q.in_order)
        if isinstance(q, A.SynonymQuery) and is_extra(q.field):
            return A.SynonymQuery(tuple(key(q.field, t) for t in q.terms))
        if isinstance(q, A.TermInSetQuery) and is_extra(q.field):
            return A.TermInSetQuery(tuple(key(q.field, t) for t in q.terms))
        if isinstance(q, A.FieldValueQuery) and is_extra(q.field):
            from lucene_spark.analysis.tokenizer import tokenize

            toks = tokenize(q.value, stem=self.index.analyzer)
            if not toks:
                return A.MatchNoDocsQuery(f"empty analyzed value for {q.field}")
            if len(toks) == 1:
                return A.TermQuery(key(q.field, toks[0]))
            return A.PhraseQuery(tuple(key(q.field, t) for t in toks))
        if isinstance(q, A.BooleanQuery):
            return A.BooleanQuery(
                tuple((o, self._fieldize(s)) for o, s in q.clauses), q.minimum_should_match
            )
        if isinstance(q, A.BoostQuery):
            return A.BoostQuery(self._fieldize(q.query), q.boost)
        if isinstance(q, A.ConstantScoreQuery):
            return A.ConstantScoreQuery(self._fieldize(q.query))
        if isinstance(q, A.DisjunctionMaxQuery):
            return A.DisjunctionMaxQuery(tuple(self._fieldize(s) for s in q.queries), q.tie_breaker)
        return q

    def _stem_query(self, q: A.Query) -> A.Query:
        """Apply the index's analyzer filter chain to query-side terms
        (QueryBuilder.createFieldQuery analyzes query text through the
        SAME analyzer as indexing). MultiTermQuery patterns (prefix /
        wildcard / regexp / fuzzy / term ranges) are NOT analyzed,
        matching the classic QueryParser contract.

        Stop-removed terms (the "english" analyzer): a bare stop term
        becomes MatchNoDocs and a boolean clause that analyzes away is
        OMITTED — QueryBuilder returns null for an all-stopwords field
        query and the parser drops null clauses. Inside positional
        queries stop terms are removed WITHOUT a position gap (the
        query-side enablePositionIncrements=false convention); since
        the INDEX keeps the gap (StopFilter position increments), an
        exact phrase spanning a removed stopword does not match — use
        slop >= number of removed terms. Documented subset.

        1:N chains (the "code" analyzer): a term that splits into
        multiple parts follows QueryBuilder.createFieldQuery
        (QueryBuilder.java:350-384) — an unquoted term producing
        several sequential tokens becomes a SHOULD BooleanQuery of the
        parts (analyzeMultiBoolean), a phrase term splices its parts
        into the phrase slots in order (positions are sequential, no
        graph arises with generate-only flags)."""
        from lucene_spark.analysis.tokenizer import _emitter, _expander

        ex = _expander(self.index.analyzer)
        if ex is None:
            em = _emitter(self.index.analyzer)
            if em is None:
                # filter-less chains (whitespace): tokens pass through;
                # the parser already applied the right tokenizer
                def mex(t: str) -> list[str]:
                    return [t]

            else:

                def mex(t: str) -> list[str]:
                    r = em(t)
                    return [r] if r is not None else []

        else:
            mex = ex
        out = self._analyze_node(q, mex)
        return out if out is not None else A.MatchNoDocsQuery("query analyzed to no terms")

    def _analyze_node(self, q: A.Query, mex):
        """``mex``: token → list of analyzed parts ([] = removed)."""

        def one(t: str):
            parts = mex(t)
            return parts[0] if parts else None

        def keep(ts):
            return tuple(r for r in (one(t) for t in ts) if r is not None)

        def flat(ts):
            return tuple(p for t in ts for p in mex(t))

        if isinstance(q, A.TermQuery):
            parts = mex(q.term)
            if not parts:
                return None
            if len(parts) == 1:
                return A.TermQuery(parts[0], q.field)
            # analyzeMultiBoolean: multi-token unquoted term → SHOULD
            return A.BooleanQuery(
                tuple((A.Occur.SHOULD, A.TermQuery(p, q.field)) for p in parts)
            )
        if isinstance(q, A.PhraseQuery):
            ts = flat(q.terms)
            if not ts:
                return None
            return A.TermQuery(ts[0], q.field) if len(ts) == 1 else A.PhraseQuery(ts, q.slop, q.field)
        if isinstance(q, A.MultiPhraseQuery):
            slots = []
            for slot in q.positions:
                if len(slot) == 1:
                    # single-alternative slot: parts splice in sequence
                    slots.extend((p,) for p in mex(slot[0]))
                else:
                    alts = keep(slot)
                    if alts:
                        slots.append(alts)
            if not slots:
                return None
            return A.MultiPhraseQuery(tuple(slots), q.slop, q.field)
        if isinstance(q, A.SpanNearQuery):
            ts = flat(q.terms)
            if not ts:
                return None
            return A.TermQuery(ts[0], q.field) if len(ts) == 1 else A.SpanNearQuery(ts, q.slop, q.in_order, q.field)
        if isinstance(q, A.IntervalQuery):
            # analyze terms in place; a stop term keeps its surface form
            # (it is absent from the index, so the source just won't
            # match — dropping an interval operand would change shape).
            # 1:N chains map each term to its FIRST part (documented
            # subset: interval sources are positional trees, not graphs)
            from lucene_spark.search.intervals import map_terms

            return A.IntervalQuery(
                map_terms(q.source, lambda t: (mex(t) or [t])[0]),
                q.field,
                q.score_mode,
                q.pivot,
            )
        if isinstance(q, A.SynonymQuery):
            ts = flat(q.terms)
            return A.SynonymQuery(ts, q.field) if ts else None
        if isinstance(q, A.TermInSetQuery):
            ts = flat(q.terms)
            return A.TermInSetQuery(ts, q.field) if ts else None
        if isinstance(q, A.BooleanQuery):
            clauses = tuple(
                (o, s)
                for o, s in ((o, self._analyze_node(s, mex)) for o, s in q.clauses)
                if s is not None
            )
            if not clauses:
                return None
            return A.BooleanQuery(clauses, q.minimum_should_match)
        if isinstance(q, A.BoostQuery):
            s = self._analyze_node(q.query, mex)
            return A.BoostQuery(s, q.boost) if s is not None else None
        if isinstance(q, A.ConstantScoreQuery):
            s = self._analyze_node(q.query, mex)
            return A.ConstantScoreQuery(s) if s is not None else None
        if isinstance(q, A.DisjunctionMaxQuery):
            subs = tuple(
                s for s in (self._analyze_node(s, mex) for s in q.queries) if s is not None
            )
            return A.DisjunctionMaxQuery(subs, q.tie_breaker) if subs else None
        return q

    def _stem_repeat_query(self, q: A.Query) -> A.Query:
        """Query-side graph-token rewrite for a stem_repeat index
        (KeywordRepeatFilter chain): analyzing a query term through the
        same chain yields the surface form plus its stem stacked at one
        position, which QueryBuilder turns into a SynonymQuery
        (QueryBuilder.java:391-400 newSynonymQuery) and, inside a
        phrase, into per-slot MultiPhrase alternatives (:544-560
        analyzeMultiPhrase). MultiTermQuery patterns stay unanalyzed
        (classic QueryParser contract)."""
        from dataclasses import replace

        from lucene_spark.analysis.porter import porter_stem

        def slot(t: str) -> tuple[str, ...]:
            st = porter_stem(t)
            return (t,) if st == t else (t, st)

        def walk(x: A.Query) -> A.Query:
            if isinstance(x, A.TermQuery):
                alts = slot(x.term)
                return x if len(alts) == 1 else A.SynonymQuery(alts, field=x.field)
            if isinstance(x, A.PhraseQuery):
                slots = tuple(slot(t) for t in x.terms)
                if all(len(s) == 1 for s in slots):
                    return x
                return A.MultiPhraseQuery(slots, slop=x.slop, field=x.field)
            if isinstance(x, A.MultiPhraseQuery):
                slots = tuple(
                    tuple(dict.fromkeys(a for t in s for a in slot(t))) for s in x.positions
                )
                return replace(x, positions=slots)
            if isinstance(x, A.BooleanQuery):
                return replace(x, clauses=tuple((o, walk(s)) for o, s in x.clauses))
            if isinstance(x, A.BoostQuery):
                return replace(x, query=walk(x.query))
            if isinstance(x, A.ConstantScoreQuery):
                return replace(x, query=walk(x.query))
            if isinstance(x, A.DisjunctionMaxQuery):
                return replace(x, queries=tuple(walk(s) for s in x.queries))
            return x

        return walk(q)

    def _mtq_rewrite(self, terms: list, q) -> A.Query:
        """Apply the MultiTermQuery rewrite method (MultiTermQuery.java
        :55-93): "constant" -> constant-score TermInSet (the default);
        "scoring_boolean" -> SHOULD boolean of every expansion, each
        scored with its own idf (ScoringRewrite.java:40-55);
        "top_terms" -> the same over only the top_n best expansions —
        equal-boost terms keep the lexicographically smallest
        (TopTermsRewrite.java:119-122 pq competitiveness rule).
        Expansion keys are full composite keys, which TermQuery accepts
        verbatim (primary terms have no field prefix)."""
        rewrite = getattr(q, "rewrite", "constant")
        if rewrite == "constant":
            return A.ConstantScoreQuery(A.TermInSetQuery(tuple(terms)))
        if rewrite == "top_terms":
            terms = sorted(terms)[: q.top_n]
        elif rewrite != "scoring_boolean":
            raise ValueError(f"unknown multi-term rewrite {rewrite!r}")
        if not terms:
            return A.MatchNoDocsQuery(f"no expansions for {q!r}")
        return A.BooleanQuery(tuple((A.Occur.SHOULD, A.TermQuery(t)) for t in terms))

    def _expand_multiterm(self, q: A.Query, lazy_docsets: bool = False) -> A.Query:
        """Rewrite MultiTermQuery nodes into constant-score TermInSet
        (CONSTANT_SCORE_REWRITE, MultiTermQuery.java:55-93)."""
        if isinstance(q, A.PrefixQuery):
            terms = self.index.expand_terms("prefix", q.prefix, field=q.field)
            return self._mtq_rewrite(terms, q)
        if isinstance(q, A.WildcardQuery):
            # leading wildcards ride the reversed-dictionary sidecar
            # (ReverseStringFilter role) instead of a full regexp scan
            terms = self.index.expand_wildcard(q.pattern, field=q.field)
            return self._mtq_rewrite(terms, q)
        if isinstance(q, A.RegexpQuery):
            terms = self.index.expand_terms("regexp", q.pattern, field=q.field)
            return self._mtq_rewrite(terms, q)
        if isinstance(q, A.FuzzyQuery):
            terms = self.index.expand_terms(
                "fuzzy",
                (q.term, q.max_edits, q.prefix_length, q.transpositions),
                field=q.field,
            )
            if q.rewrite == "blended_freq":
                # TopTermsBlendedFreqScoringRewrite (the REFERENCE's
                # default, FuzzyQuery.java:59-62): top max_expansions
                # by boost -> boolean-rewrite BlendedTermQuery; boost =
                # 1.0 exact else 1 - ed/min(|cand|, |term|)
                # (FuzzyTermsEnum.java:247-255, f32)
                import numpy as np

                from lucene_spark.index.builder import FIELD_SEP
                from lucene_spark.search.textmatch import levenshtein, osa_distance

                dist = osa_distance if q.transpositions else levenshtein
                scored = []
                for t in terms:
                    bare = t.split(FIELD_SEP)[-1]
                    ed = dist(bare, q.term, q.max_edits)
                    b = 1.0 if ed == 0 else 1.0 - ed / min(len(bare), len(q.term))
                    scored.append((t, float(np.float32(b))))
                scored.sort(key=lambda x: (-x[1], x[0]))
                scored = scored[: q.max_expansions]
                if not scored:
                    return A.MatchNoDocsQuery(f"no fuzzy expansions for {q.term!r}")
                return A.BlendedTermQuery(
                    tuple(t for t, _ in scored),
                    tuple(b for _, b in scored),
                    boolean_rewrite=True,
                )
            return A.ConstantScoreQuery(A.TermInSetQuery(tuple(terms)))
        if isinstance(q, A.TermRangeQuery):
            terms = self.index.expand_terms(
                "range", (q.lower, q.upper, q.include_lower, q.include_upper), field=q.field
            )
            return A.ConstantScoreQuery(A.TermInSetQuery(tuple(terms)))
        if isinstance(
            q,
            (A.FieldRangeQuery, A.FieldValueQuery, A.FieldExistsQuery, A.RangeFieldQuery, A.FieldInSetQuery,
             A.MultiRangeQuery, A.GeoBoxQuery, A.GeoDistanceQuery, A.GeoPolygonQuery,
             A.Geo3DDistanceQuery, A.Geo3DPolygonQuery,
             A.ShapeBoxQuery, A.ShapePolygonQuery, A.ShapePointQuery, A.ShapeLineQuery),
        ):
            # PointRangeQuery / StringField equality = pushed-down
            # predicate on the docs table (parquet min-max pruning =
            # the BKD traversal; SURVEY §1.1 StringField disposition).
            # Distributed mode keeps the predicate LAZY — each chunk
            # kernel is joined only its own doc-range slice, so a
            # non-selective filter (lang:python over 10^12 docs) never
            # materializes ids on the driver. Driver mode (interactive
            # top-k) resolves the set via the cached point-read.
            key, cond = self._field_cond(q)
            if lazy_docsets:
                self._pred_conds[key] = cond
                return A.PredDocSetQuery(key)
            return A.DocSetQuery(self.index.field_doc_set(key, cond))
        if isinstance(q, (A.FeatureQuery, A.LongDistanceFeatureQuery, A.GeoDistanceFeatureQuery)):
            # value-SCORED docs-table queries (FeatureField /
            # DistanceFeatureQuery roles): same lazy/driver split as the
            # constant-score predicates above, but each doc carries its
            # raw column value(s); the scoring function runs in the
            # kernel (kernels.value_scores) so both modes share one
            # float path.
            kind, params, key, cond, cols = self._value_cond(q)
            if lazy_docsets:
                self._val_conds[key] = (cond, cols)
                return A.PredValueScoreQuery(kind, params, key)
            docs, vals = self.index.field_doc_values(key, cond, cols)
            return A.DocValueScoreQuery(kind, params, docs, vals)
        if isinstance(q, A.BooleanQuery):
            return A.BooleanQuery(
                tuple((o, self._expand_multiterm(s, lazy_docsets)) for o, s in q.clauses),
                q.minimum_should_match,
            )
        if isinstance(q, A.BoostQuery):
            return A.BoostQuery(self._expand_multiterm(q.query, lazy_docsets), q.boost)
        if isinstance(q, A.ConstantScoreQuery):
            return A.ConstantScoreQuery(self._expand_multiterm(q.query, lazy_docsets))
        if isinstance(q, A.DisjunctionMaxQuery):
            return A.DisjunctionMaxQuery(
                tuple(self._expand_multiterm(s, lazy_docsets) for s in q.queries), q.tie_breaker
            )
        return q

    def _analyze(self, query: str | A.Query) -> A.Query:
        """Parse and analyze ``query`` with the index's own chain: the
        parser flags, then the stem / stem_repeat / multi-field
        composite-key rewrites. Every query entry point (prepare,
        count) analyzes through here, so they cannot disagree."""
        from lucene_spark.analysis.tokenizer import _expander

        analyzer = self.index.analyzer
        one_to_n = _expander(analyzer) is not None
        if isinstance(query, str):
            # cased 1:N chains ("code") analyze AFTER parsing and need
            # the surface form AND the un-rewritten shape (a quoted
            # single identifier must stay a phrase until its parts are
            # spliced); "whitespace" needs its own case-preserving
            # splitter; 1:1 chains lowercase themselves
            q = parse_query(
                query,
                preserve_case=one_to_n,
                rewrite_tree=not one_to_n,
                analyzer=analyzer if analyzer in ("whitespace", "keyword") else None,
            )
        else:
            q = query if one_to_n else A.rewrite(query)
        if analyzer not in ("standard", None):
            q = self._stem_query(q)
        if self.index.stem_repeat:
            q = self._stem_repeat_query(q)
        if len(self.index.text_fields) > 1:
            q = self._fieldize(q)
        return q

    def prepare(self, query: str | A.Query, collect_rows: bool = False, lazy_docsets: bool = False):
        """Parse → rewrite → Weight creation: (rewritten query, compiled
        spec, collection stats, posting rows or None). With
        ``collect_rows`` (driver mode) the query's posting rows are
        point-read in ONE Spark job (no shuffle, no sort), and a term
        first seen by this reader takes its df/ttf from their columns —
        no separate term_stats job; a first-seen driver query is one
        job, a repeat none. Either way df/ttf come from the reader's
        term_stats cache. A repeat query skips parse, analysis, rewrite
        and compile: the plan — the rewritten query, its spec, the stats
        and its sorted terms — is a pure function of (query, similarity)
        for the reader's lifetime, so it is cached per reader
        ("prepared"), and a hit only reads the terms' rows (a "rows"
        hit). Lazy (distributed) preparation is not cached: it registers
        the query's lazy conditions on this searcher, and its Spark plan
        is cached downstream ("plan")."""
        key = None if lazy_docsets else (query, self.sim)
        plan = MISS
        if key is not None:
            try:
                plan = self.index.cache.get("prepared", key)
            except TypeError:  # unhashable query shape: skip caching
                key = None
        if plan is not MISS:
            q, spec, stats, terms = plan
            return q, spec, stats, self.index.collect_rows(terms) if collect_rows else None
        q = A.rewrite(self._expand_multiterm(self._analyze(query), lazy_docsets))
        terms = sorted(A.extract_terms(q))
        stats = self.index.stats
        rows_by_term = None
        if collect_rows:
            rows_by_term = self.index.collect_rows(terms)
            tstats = self.index.term_stats(terms, rows_by_term)
        else:
            tstats = self.index.term_stats(terms)
        term_df = {t: df for t, (df, _) in tstats.items()}
        term_ttf = {t: ttf for t, (_, ttf) in tstats.items()} if self.sim.needs_ttf else None
        sbf = self._stats_by_field()
        spec = compile_query(q, stats, term_df, stats_by_field=sbf, sim=self.sim, term_ttf=term_ttf)
        if key is not None:
            self.index.cache.put("prepared", key, (q, spec, stats, tuple(terms)))
        return q, spec, stats, rows_by_term

    # ---- search -------------------------------------------------------------

    def search(self, query: str | A.Query, k: int = 10, mode: str = "driver") -> TopDocs:
        q, spec, stats, rows = self.prepare(
            query, collect_rows=(mode == "driver"), lazy_docsets=(mode == "distributed")
        )
        if isinstance(spec, NoneSpec) or k <= 0:
            return TopDocs([], 0, "EQUAL_TO", {})
        cache = self._norm_caches(stats)
        if mode == "distributed":
            return self._search_distributed(spec, k, cache, plan_key=q)
        if self._is_pure_term_disjunction(spec):
            return self._search_wand(spec, k, cache, rows)
        if self._is_term_must_tree(spec):
            return self._search_conjunction(spec, k, cache, rows)
        return self._search_exhaustive(spec, k, cache, rows)

    @staticmethod
    def _is_pure_term_disjunction(spec) -> bool:
        """Term disjunctions at ANY minimumNumberShouldMatch — the
        WANDScorer handles msm natively (WANDScorer.java:38,146).
        Resolved doc-set FILTER / MUST_NOT clauses (metadata filters:
        lang:python, numeric ranges) ride along as an allowed-set mask
        — the req(filter)+opt(TOP_SCORES) Boolean2ScorerSupplier branch
        — since filtering only removes hits, block-max upper bounds
        stay valid."""
        from lucene_spark.search.kernels import DocSetSpec

        if isinstance(spec, TermSpec):
            return True
        return (
            isinstance(spec, BoolSpec)
            and not spec.musts
            and all(isinstance(f, DocSetSpec) for f in spec.filters)
            and all(isinstance(n, DocSetSpec) for n in spec.nots)
            and all(isinstance(s, TermSpec) for s in spec.shoulds)
            and len(spec.shoulds) > 0
        )

    @staticmethod
    def _is_term_must_tree(spec) -> bool:
        """MUST-only or MUST+SHOULD term booleans (msm == 0) — the
        block-max conjunction kernel drives candidates off the MUSTs
        and adds SHOULD scores with skip-data decode
        (Boolean2ScorerSupplier req/opt branch)."""
        return (
            isinstance(spec, BoolSpec)
            and not spec.filters
            and not spec.nots
            and spec.msm == 0
            and len(spec.musts) >= 1
            and len(spec.musts) + len(spec.shoulds) >= 2
            and all(isinstance(s, TermSpec) for s in spec.musts)
            and all(isinstance(s, TermSpec) for s in spec.shoulds)
        )

    def _posting_sources(self, term_specs, cache, rows_by_term=None) -> list[PostingSource]:
        terms = [t.term for t in term_specs]
        if rows_by_term is None:
            rows_by_term = self.index.collect_rows(terms)
        terms = [t for t in dict.fromkeys(terms) if t in rows_by_term]
        # a term's block table and decoded store are built from its
        # chunk rows once per reader
        by_term = self.index.cache.get_many("source", terms)
        for t in terms:
            if t not in by_term:
                by_term[t] = self.index.cache.put("source", t, TermBlocks.from_rows(rows_by_term[t]))

        def _c(ts):
            # per-field norm-inverse cache (multi-field: per-field avgdl)
            return cache[ts.field] if isinstance(cache, dict) else cache

        return [
            # PerFieldSimilarityWrapper: block-max bounds and scoring
            # use the term's field's model (for_field is identity for
            # plain similarities)
            PostingSource(ts.weight, _c(ts), by_term[ts.term], sim=self.sim.for_field(ts.field), field=ts.field)
            for ts in term_specs
            if ts.term in by_term
        ]

    def _deadline(self):
        if self.timeout_ms is None:
            return None
        import time

        return time.monotonic() + self.timeout_ms / 1000.0

    def _search_wand(self, spec, k: int, cache, rows_by_term=None) -> TopDocs:
        term_specs = [spec] if isinstance(spec, TermSpec) else list(spec.shoulds)
        msm = spec.msm if isinstance(spec, BoolSpec) else 1
        sources = self._posting_sources(term_specs, cache, rows_by_term)
        if len(sources) < max(1, msm):  # too few present terms to ever satisfy msm
            return TopDocs([], 0, "EQUAL_TO", {})
        allowed = None
        if isinstance(spec, BoolSpec) and (spec.filters or spec.nots):
            for f in spec.filters:
                allowed = f.array if allowed is None else np.intersect1d(allowed, f.array, assume_unique=True)
            for nspec in spec.nots:
                if allowed is not None:
                    allowed = allowed[~np.isin(allowed, nspec.array, assume_unique=False)]
                # with no positive filter, negations fold into the
                # tombstone mask below instead
            if allowed is not None and not len(allowed):
                return TopDocs([], 0, "EQUAL_TO", {"filtered_empty": True})
        deleted = self.index.deleted_ids
        if isinstance(spec, BoolSpec) and spec.nots and allowed is None:
            # negation-only mask: fold MUST_NOT doc sets into the
            # tombstone mask (both are "exclude these ids")
            neg = np.concatenate([n.array for n in spec.nots])
            deleted = np.union1d(deleted, neg) if len(deleted) else np.unique(neg)
        hits, info = wand_top_k(
            sources,
            k,
            self.total_hits_threshold,
            deleted=deleted if len(deleted) else None,
            msm=msm,
            deadline=self._deadline(),
            allowed=allowed,
        )
        relation = (
            "GREATER_THAN_OR_EQUAL_TO"
            if info.get("pruned_intervals") or info.get("timed_out")
            else "EQUAL_TO"
        )
        return TopDocs(hits, info["hits_seen"], relation, info)

    def _search_conjunction(self, spec, k: int, cache, rows_by_term=None) -> TopDocs:
        """Term AND (+ optional SHOULD adders): skip-data conjunction
        kernel (exact result, decodes only candidate-covering blocks of
        the costlier terms; SHOULD terms decode candidate blocks only)."""
        term_specs = list(spec.musts)
        sources = self._posting_sources(term_specs, cache, rows_by_term)
        if len(sources) < len(term_specs):  # a MUST term is missing entirely
            return TopDocs([], 0, "EQUAL_TO", {})
        should_sources = (
            self._posting_sources(list(spec.shoulds), cache, rows_by_term) if spec.shoulds else None
        )
        deleted = self.index.deleted_ids
        hits, info = conjunction_top_k(
            sources,
            k,
            deleted=deleted if len(deleted) else None,
            should_sources=should_sources,
            deadline=self._deadline(),
        )
        relation = "GREATER_THAN_OR_EQUAL_TO" if info.get("timed_out") else "EQUAL_TO"
        return TopDocs(hits, info["hits_seen"], relation, info)

    def _driver_context(self, spec, cache, rows_by_term=None) -> ChunkContext:
        """The whole-index kernel context: each term's cached decode is
        its one part (no window), so it reaches the kernels uncopied."""
        if rows_by_term is not None:
            plists = self.index.postings_from_rows(rows_by_term, *_streams(spec))
        else:
            plists = self.index.collect_postings(sorted(spec_terms(spec)), *_streams(spec))
        all_docs = self.index.all_doc_ids() if _needs_all_docs(spec) else None
        return leaf_context({t: [p] for t, p in plists.items()}, cache, self.sim, all_docs=all_docs)

    def _live_matches(self, spec, ctx) -> tuple[np.ndarray, np.ndarray]:
        """(docs, scores) of ``spec`` over ``ctx`` with tombstoned docs
        masked (liveDocs applied at search, Lucene90LiveDocsFormat;
        stats/scores of survivors unchanged)."""
        return _drop_deleted(*evaluate(spec, ctx), self.index.deleted_ids)

    def _search_exhaustive(self, spec, k: int, cache, rows_by_term=None) -> TopDocs:
        docs, scores = self._live_matches(spec, self._driver_context(spec, cache, rows_by_term))
        return TopDocs(top_k_from_arrays(docs, scores, k), len(docs), "EQUAL_TO", {})

    def search_sorted_index(self, query: str | A.Query, k: int = 10) -> TopDocs:
        """Early-terminating sorted search over an INDEX-SORTED index
        (IndexWriterConfig.setIndexSort + TopFieldCollector early exit,
        TopFieldCollector.java canEarlyTerminate: when the query sort
        is a prefix of the index sort, stop after k collected hits).

        Doc-id order IS the sort order on a sorted index, so the top-k
        by the index sort = the FIRST k matches in doc order. Doc-range
        chunks are visited in ascending order and the loop stops — and
        stops DECODING — at the first chunk boundary with >= k hits
        collected; ``total_hits`` degrades to a lower bound with
        relation GREATER_THAN_OR_EQUAL_TO exactly like the reference
        collector. Hits carry their BM25 scores (TopFieldCollector
        with setScores). At cluster scale the same contract holds
        per-leaf: each doc-range task collects its first k and the
        merge keeps the globally-first k (chunks here, executors
        there)."""
        index = self.index
        sort_spec = index.index_sort
        if not sort_spec:
            raise ValueError(
                "search_sorted_index requires an index built with IndexConfig.index_sort"
            )
        if "tier" in index.postings.columns:
            # writer tiers append doc ids AFTER the sorted base, so doc
            # order is no longer the sort order — early termination
            # would return wrong docs (the reference likewise rejects
            # addIndexes/merges that violate the index sort)
            raise ValueError(
                "index has writer tiers appended after the sorted build; "
                "doc order no longer matches the index sort — force_merge "
                "and rebuild with index_sort, or use search()/match_frame"
            )
        q, spec, stats, rows = self.prepare(query, collect_rows=True)
        info: dict = {"index_sort": sort_spec}
        if isinstance(spec, NoneSpec) or k <= 0:
            return TopDocs([], 0, "EQUAL_TO", info)
        cache = self._norm_caches(stats)
        dpc = int(index.manifest.get("docs_per_chunk", 1 << 17))
        flags = _streams(spec)
        all_ids = index.all_doc_ids() if _needs_all_docs(spec) else None

        # hot terms: per-chunk rows decoded on demand (the skip); cold
        # terms: one small row, decoded once, sliced per chunk
        hot_rows_by_chunk: dict[int, list] = {}
        cold_terms: list[str] = []
        chunk_ids: set[int] = set()
        for term, rs in rows.items():
            if len(rs) > 1 or (rs and int(rs[0]["chunk_id"]) > 0):
                for r in rs:
                    c = int(r["chunk_id"])
                    hot_rows_by_chunk.setdefault(c, []).append((term, r))
                    chunk_ids.add(c)
            else:
                cold_terms.append(term)
        cold = index.postings_from_rows({t: rows[t] for t in cold_terms}, *flags)
        for t, p in cold.items():
            chunk_ids |= set(np.unique(p.docs // dpc).tolist())
        for ds in _collect_docsets(spec):
            d = ds.array
            chunk_ids |= set(np.unique(d // dpc).tolist())
        for vs in _collect_eager_valspecs(spec):
            # feature/distance-feature clauses: docs scored ONLY by the
            # value source still need their chunks visited, or the scan
            # would skip them entirely
            d = np.asarray(vs.docs, dtype=np.int64)
            chunk_ids |= set(np.unique(d // dpc).tolist())
        if all_ids is not None:
            chunk_ids |= set(np.unique(all_ids // dpc).tolist())
        ordered_chunks = sorted(chunk_ids)

        collected: list[tuple[int, float]] = []
        scanned = 0
        for c in ordered_chunks:
            lo, hi = c * dpc, (c + 1) * dpc
            parts = {t: [p] for t, p in cold.items()}
            for term, r in hot_rows_by_chunk.get(c, ()):
                parts.setdefault(term, []).append(decode_row(term, r, *flags))
            ctx = leaf_context(parts, cache, self.sim, window=(lo, hi), all_docs=all_ids)
            docs, scores = self._live_matches(spec, ctx)
            collected.extend(zip(docs.tolist(), scores.tolist()))
            scanned += 1
            if len(collected) >= k:
                break
        early = scanned < len(ordered_chunks)
        info.update(
            {
                "chunks_scanned": scanned,
                "chunks_total": len(ordered_chunks),
                "early_terminated": early,
            }
        )
        relation = "GREATER_THAN_OR_EQUAL_TO" if early else "EQUAL_TO"
        return TopDocs(
            [(int(d), float(s)) for d, s in collected[:k]], len(collected), relation, info
        )

    def knn_search(
        self,
        query_vec,
        k: int = 10,
        filter: "str | A.Query | None" = None,
        metric: str = "cosine",
    ) -> TopDocs:
        """KnnFloatVectorQuery(field, target, k, filter) — exact top-k
        vector search over the index's vector sidecar with PRE-filter
        semantics (AbstractKnnVectorQuery.rewrite: the filter's doc set
        restricts candidates BEFORE nearest-neighbor selection, so
        exactly k survivors come back).

        Scores follow VectorSimilarityFunction.java: COSINE →
        (1+cos)/2, DOT_PRODUCT → (1+dot)/2, EUCLIDEAN → 1/(1+d²);
        tie-break doc_id asc. The whole scan is JVM-side column
        arithmetic (zip_with/aggregate inside whole-stage codegen —
        no Python in the plan) and the top-k is Catalyst
        TakeOrderedAndProject: per-partition top-k + driver merge,
        exactly the per-leaf HNSW collect + TopDocs.merge shape. The
        reference's HNSW graph is an index-side accelerator for this
        same contract; at 100 TB the accelerated paths are the
        doc-range-partitioned scan here plus pipeline.similarity's
        IVF (partition-pruned) and sign-LSH variants.

        Metadata-only filters (field = value / numeric range) push
        down to the docs-table parquet scan — no ids ever reach the
        driver. Text-query filters evaluate on the driver like every
        driver-mode query (the reference materializes the same filter
        BitSet per leaf)."""
        info: dict = {"metric": metric, "filtered": filter is not None}
        if k <= 0:
            return TopDocs([], 0, "EQUAL_TO", info)
        frame = self.knn_frame(query_vec, k, filter, metric)
        if frame is None:
            return TopDocs([], 0, "EQUAL_TO", info)
        top = frame.collect()
        hits = [(int(r["doc_id"]), float(r["score"])) for r in top]
        return TopDocs(hits, len(hits), "EQUAL_TO", info)

    def knn_frame(self, query_vec, k: int, filter=None, metric: str = "cosine"):
        """The knn_search plan as a DataFrame (doc_id, score) LIMIT k —
        exposed separately so the physical plan is inspectable
        (explain_audit) and composable. None = provably-empty filter."""
        import pyspark.sql.functions as F

        index = self.index
        vdf = index.vectors
        qv = np.asarray(query_vec, dtype=np.float64)
        if filter is not None:
            q0 = parse_query(filter) if isinstance(filter, str) else A.rewrite(filter)
            if len(index.text_fields) > 1:
                q0 = self._fieldize(q0)
            if isinstance(q0, (A.FieldValueQuery, A.FieldRangeQuery, A.FieldExistsQuery, A.RangeFieldQuery, A.FieldInSetQuery, A.MultiRangeQuery)):
                # (_fieldize already rewrote tokenized-field values to
                # term/phrase queries, so this is a keyword/range
                # predicate on the docs table)
                # pushed-down predicate: semi-join against the docs
                # scan, both sides doc-range partitioned
                _, cond = self._field_cond(q0)
                ids_df = index.docs.filter(cond).select("doc_id")
                vdf = vdf.join(ids_df, "doc_id", "left_semi")
            else:
                # text-query filter: semi-join the vectors table against
                # the DISTRIBUTED match relation (match_frame) — the
                # filter's doc ids never land on the driver, so a
                # non-selective text filter stays a shuffle join at
                # 100 TB instead of an O(matches) driver materialization
                ids_df = self.match_frame(filter).select("doc_id")
                vdf = vdf.join(ids_df, "doc_id", "left_semi")
        deletes = index.deletes_df()
        if deletes is not None:
            vdf = vdf.join(deletes, "doc_id", "left_anti")

        qlit = F.array(*[F.lit(float(x)) for x in qv])
        dot = F.aggregate(
            F.zip_with(F.col("vec"), qlit, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if metric == "cosine":
            qn = float(np.sqrt(np.dot(qv, qv)))
            score = (F.lit(1.0) + dot / (F.col("vnorm") * F.lit(qn))) / F.lit(2.0)
        elif metric == "dot":
            score = (F.lit(1.0) + dot) / F.lit(2.0)
        elif metric == "euclidean":
            d2 = F.aggregate(
                F.zip_with(
                    F.col("vec"), qlit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            score = F.lit(1.0) / (F.lit(1.0) + d2)
        else:
            raise ValueError(f"unknown metric {metric!r}")
        return (
            vdf.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_after(self, after: tuple[int, float] | None, query: str | A.Query, k: int = 10) -> TopDocs:
        """IndexSearcher.searchAfter(ScoreDoc, Query, int): the top-k
        hits strictly after the (doc_id, score) mark in (score desc,
        doc asc) order — deep pagination without a growing heap
        (PagingTopScoreDocCollector role). Driver mode."""
        if after is None:
            return self.search(query, k=k)
        after_doc, after_score = int(after[0]), np.float32(after[1])
        q, spec, stats, rows = self.prepare(query, collect_rows=True)
        if isinstance(spec, NoneSpec) or k <= 0:
            return TopDocs([], 0, "EQUAL_TO", {})
        ctx = self._driver_context(spec, self._norm_caches(stats), rows)
        docs, scores = self._live_matches(spec, ctx)
        mask = (scores < after_score) | ((scores == after_score) & (docs > after_doc))
        return TopDocs(
            top_k_from_arrays(docs[mask], scores[mask], k), len(docs), "EQUAL_TO", {"after": after}
        )

    def explain(self, query: str | A.Query, doc_id: int) -> dict:
        """IndexSearcher.explain(Query, int): Explanation tree
        (match, value, description, details) for one document."""
        from lucene_spark.search.explain import explain_spec

        q, spec, stats, rows = self.prepare(query, collect_rows=True)
        if isinstance(spec, NoneSpec):
            return {"match": False, "value": 0.0, "description": "MatchNoDocsQuery", "details": []}
        ctx = self._driver_context(spec, self._norm_caches(stats), rows)
        return explain_spec(spec, ctx, int(doc_id))

    def doc(self, doc_id: int) -> dict | None:
        """IndexSearcher.storedFields().document(docID): the stored
        fields of one doc. Stored fields ARE the source columns of the
        docs table (SURVEY §1.1 stored-fields disposition) — a
        partition-pruned point read, no Lucene .fdt analog needed."""
        import pyspark.sql.functions as F

        rows = self.index.docs.filter(F.col("doc_id") == int(doc_id)).limit(1).collect()
        return rows[0].asDict() if rows else None

    def retrieve(self, top_docs: TopDocs):
        """Hits → DataFrame of (rank, doc_id, score, <stored fields>):
        the SearchFiles demo's doc-fetch loop as ONE broadcast join."""
        import pyspark.sql.functions as F

        spark = self.index.spark
        hits = spark.createDataFrame(
            [(i + 1, int(d), float(s)) for i, (d, s) in enumerate(top_docs.hits)],
            "rank bigint, doc_id bigint, score double",
        )
        return self.index.docs.join(F.broadcast(hits), "doc_id").orderBy("rank")

    def count(self, query: str | A.Query, mode: str = "driver") -> int:
        """TotalHitCountCollector equivalent, with the reference's
        Weight#count shortcuts when the reader has no deletions
        (TermQuery count == docFreq, TermQuery.java Weight#count;
        MatchAllDocsQuery count == docCount) — a stats-table point read
        instead of decoding any postings. mode="distributed" counts
        over the chunked match relation (one long per chunk reaches the
        driver — the cluster shape for non-selective queries)."""
        # analyze EXACTLY like prepare() and take the shortcut only if
        # the ANALYZED query is still a plain term (e.g. stem_repeat
        # rewrites a term to a SynonymQuery; fieldize composite-keys
        # the df point-read)
        q0 = self._analyze(query)
        if not len(self.index.deleted_ids):
            if isinstance(q0, A.TermQuery):
                return self.index.term_stats([q0.term]).get(q0.term, (0, 0))[0]
            if isinstance(q0, A.MatchAllDocsQuery):
                return self.index.stats.doc_count
        if mode == "distributed":
            return self.match_frame(query).count()
        # prepare() re-analyzes from the pristine query (stemming is
        # not guaranteed idempotent, so never feed q0 back through)
        q, spec, stats, rows = self.prepare(query, collect_rows=True)
        if isinstance(spec, NoneSpec):
            return 0
        ctx = self._driver_context(spec, self._norm_caches(stats), rows)
        docs, _ = self._live_matches(spec, ctx)
        return len(docs)

    # ---- distributed execution ----------------------------------------------

    def _search_distributed(self, spec, k: int, cache, plan_key=None) -> TopDocs:
        """Leaf-parallel search: one applyInPandas group per doc-range
        chunk of the hot terms; small-term arrays ride along broadcast
        (they are ≤ docs_per_chunk entries each by construction).

        NOTHING O(corpus) touches the driver on this path: field-filter
        doc sets arrive as per-chunk rows from a pushed-down docs-table
        scan (PredSpec), tombstones arrive bucketed by doc-range the
        same way, and MatchAllDocs synthesizes each chunk's doc range
        arithmetically (contiguous ids) or joins the norms table
        per-chunk (purged/gappy index)."""
        import pyspark.sql.functions as F

        # the plan is a pure function of (query, k, similarity — its norm
        # tables) for the reader's lifetime; a rebuild cost ~95 ms of Py4J
        ck = (plan_key, k, self.sim) if plan_key is not None else None
        try:
            payload = self.index.cache.get("plan", ck) if ck is not None else MISS
        except TypeError:  # unhashable query shape: skip caching
            ck, payload = None, MISS
        if payload is MISS:
            kind, payload = self._distributed_plan(spec, k, cache)
            if kind == "topdocs":
                return payload
            if ck is not None:
                self.index.cache.put("plan", ck, payload)
        # ONE action: the global merge is a TakeOrderedAndProject
        # (TopDocs.merge role) and the total rides an Observation over
        # the per-chunk COUNT rows (doc_id NULL, score NULL, n_matched
        # = chunk match count — null scores sort after every real hit
        # under DESC NULLS LAST, so they never displace top-k rows).
        # No persist, no second aggregation job per query.
        from pyspark.sql import Observation

        obs = Observation()
        plan = (
            payload.observe(obs, F.sum("n_matched").alias("total"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        # the plan is rooted in the reader's AQE-off child session
        # (SearchIndex.dist_spark), so this action runs non-adaptive
        # while builds and pipeline jobs keep the session's setting
        top_rows = plan.collect()
        hits = [(r["doc_id"], r["score"]) for r in top_rows if r["doc_id"] is not None]
        total = obs.get.get("total")
        return TopDocs(hits, int(total or 0), "EQUAL_TO", {"mode": "distributed"})

    def match_frame(self, query: str | A.Query):
        """The FULL scored match set of ``query`` as a DataFrame
        (doc_id, score) — the distributed hit relation for facets /
        grouping / function-score / exports. Per-chunk kernels emit
        every match (no per-chunk top-k) and the result stays a
        DataFrame end-to-end: nothing O(matches) ever lands on the
        driver, unlike TopDocs-returning search. The CollectorManager-
        over-all-hits role (IndexSearcher.search(Query, Collector))."""
        spec, cache = self._prepared_spec(query)
        kind, payload = self._distributed_plan(spec, None, cache)
        if kind == "topdocs":  # term-free query shapes fall back to
            # the driver evaluator (bounded: MatchAll/doc-set guards)
            rows = [(int(d), float(s)) for d, s in payload.hits]
            return self.index.spark.createDataFrame(rows, "doc_id bigint, score double")
        import pyspark.sql.functions as F

        return payload.select("doc_id", F.col("score").cast("double"))

    def _prepared_spec(self, query):
        """prepare() with lazy doc sets (the distributed contract)."""
        _q, spec, stats, _rows = self.prepare(query, lazy_docsets=True)
        return spec, self._norm_caches(stats)

    def _distributed_plan(self, spec, k: int | None, cache):
        """Build the chunked scoring plan. Returns ("topdocs", TopDocs)
        when the query resolves driver-side (no terms / all-small
        terms), else ("df", result) with result = one row per (chunk,
        match) — per-chunk top-k rows when k is set, every match when
        k is None."""
        import pyspark.sql.functions as F

        index = self.index
        terms = sorted(spec_terms(spec))
        preds = _collect_predspecs(spec)
        vspecs = _collect_valspecs(spec)
        needs_all = _needs_all_docs(spec)
        if not terms and not preds and not vspecs:
            td = self._search_exhaustive(spec, k if k is not None else 1 << 62, cache)
            return "topdocs", td
        def rows_df_of(ts):
            # the executor-resident chunk-partitioned relation (if the
            # index fits the persist budget): filter preserves its hash
            # partitioning, so the groupBy below needs NO per-query
            # exchange — the distributed query becomes one in-memory
            # stage. Resolved lazily so all-small-term queries (the
            # driver fallback) never pay the one-time persist.
            chunked = index.chunked_postings()
            if chunked is None:
                chunked = index.dist_postings
            return chunked.filter(F.col("term").isin(list(ts)))
        # Row classification. A row is CONFINED when all its docs lie in
        # [chunk_id*dpc, (chunk_id+1)*dpc) — true for every hot-term
        # doc-range chunk and for every chunk_all tier row. A tier's
        # SINGLETON chunk-0 row, however, may be a flat-build COLD row
        # spanning the tier's whole doc range (IndexWriter flattens a
        # one-shot base to tier=0 by renames, keeping its cold layout),
        # so keying it to leaf 0 would hide its postings from every
        # later leaf — wrong for MUST_NOT / FILTER shapes. Those rows
        # take the driver-collected sliced-per-chunk path instead (each
        # is df <= docs_per_chunk by construction, the bound the cold
        # path already relies on); a term can have BOTH kinds and
        # score_chunk concatenates.
        tiered = "tier" in index.postings.columns
        # (term, tier, n_rows, max_chunk_id) from the per-reader layout
        # cache — zero Spark jobs on repeat terms
        chunk_counts = index.chunk_layout(terms) if terms else []
        if tiered:
            span_keys = {
                (t, tier) for (t, tier, n, maxc) in chunk_counts if n == 1 and maxc == 0
            }
            hot_terms = {
                t for (t, tier, _n, _maxc) in chunk_counts if (t, tier) not in span_keys
            }
            mixed_span = sorted({t for (t, _tr) in span_keys if t in hot_terms})
        else:
            hot_terms = {t for (t, _tier, n, maxc) in chunk_counts if n > 1 or maxc > 0}
            span_keys = set()
            mixed_span = []
        small_terms = [t for t in terms if t not in hot_terms]
        flags = _streams(spec)
        with_pos, _, with_pay = flags
        # each small term is one whole-term part, sliced per leaf
        small_parts = {
            t: [p] for t, p in index.collect_postings(small_terms, *flags).items()
        }
        if mixed_span:
            # spanning rows of terms that ALSO have confined rows: rows
            # come from the per-reader row cache (shared with the driver
            # path — no extra Spark job on repeat queries), each decoded
            # row one part (the decoded cache holds full row sets only)
            for t, rs in index.collect_rows(mixed_span).items():
                span = [r for r in rs if int(r["chunk_id"]) == 0 and (t, r["tier"]) in span_keys]
                if span:
                    span.sort(key=lambda r: r["tier"])
                    small_parts[t] = [decode_row(t, r, *flags) for r in span]
        if not hot_terms and not preds and not vspecs and not needs_all:
            # all-small-term query: bounded driver evaluation (each
            # small term covers ≤ docs_per_chunk docs by construction)
            docs, scores = self._live_matches(spec, leaf_context(small_parts, cache, self.sim))
            top = top_k_from_arrays(docs, scores, k if k is not None else len(docs))
            return "topdocs", TopDocs(top, len(docs), "EQUAL_TO", {})

        spec_b = spec
        cache_b = cache
        sim_b = self.sim
        kk = k
        manifest = index.manifest
        dpc = int(manifest.get("docs_per_chunk", 1 << 17))
        max_doc, _, contiguous = index.doc_id_bounds
        all_contiguous = needs_all and contiguous

        # chunks that must exist as groups even with no hot-term row:
        # small-term docs (bounded: ≤ dpc ids per small term) and — for
        # MatchAll over contiguous ids — the whole chunk universe,
        # synthesized arithmetically (range(), not a collect).
        small_chunks = set()
        for ps in small_parts.values():
            for p in ps:
                docs = p[0] if isinstance(p, tuple) else p.docs
                small_chunks |= set((docs // dpc).tolist())
        for ds in _collect_docsets(spec):
            small_chunks |= {int(x) // dpc for x in ds.docs}
        if all_contiguous:
            small_chunks |= set(range((max_doc + dpc - 1) // dpc))

        if hot_terms:
            # NOTE: a driver-cached variant (createDataFrame from the
            # per-reader row cache) was tried and measured SLOWER than
            # this pushed-down scan (~1.0 s vs 0.54 s at 800k docs):
            # per-query Py4J serialization of ~10 MB of posting blobs
            # costs more than the cached parquet point read.
            hcond = F.col("term").isin(list(hot_terms))
            if mixed_span:
                # their spanning rows went to small_parts above — keep
                # them out of the chunk-keyed groups
                pairs = [f"{t}\x00{tr}" for (t, tr) in span_keys if t in hot_terms]
                hcond = hcond & ~F.concat_ws(
                    "\x00", F.col("term"), F.col("tier").cast("string")
                ).isin(pairs)
            hot_rows = rows_df_of(terms).filter(hcond)
        else:
            hot_rows = None

        # ---- per-chunk auxiliary doc-set rows (marker terms) ----------
        # each is (chunk_id, term='\0...', ds_docs sorted array<long>):
        # the scan is pushed down, the group-by buckets by doc range —
        # the ids never pass through the driver.
        chunk_col = F.floor(F.col("doc_id") / dpc).cast("long").alias("chunk_id")
        aux_parts = []
        pred_keys: dict[str, tuple] = {}
        for i, ps in enumerate(preds):
            marker = f"\x00pred{i}"
            pred_keys[marker] = ps.key
            cond = self._pred_conds[ps.key]
            aux_parts.append(
                index.docs.filter(cond)
                .select(chunk_col, F.col("doc_id"))
                .groupBy("chunk_id")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ds_docs"))
                .withColumn("term", F.lit(marker))
            )
        # value-scored specs: per-chunk (doc_id, value...) rows packed
        # as array<double> (doc_id first — sort_array orders by it);
        # like the pred markers, values never pass through the driver.
        val_keys: dict[str, tuple] = {}
        for i, vs in enumerate(vspecs):
            marker = f"\x00val{i}"
            val_keys[marker] = vs.key
            vcond, vcols = self._val_conds[vs.key]
            aux_parts.append(
                index.docs.filter(vcond)
                .select(
                    chunk_col,
                    F.array(
                        F.col("doc_id").cast("double"), *[c.cast("double") for c in vcols]
                    ).alias("dv"),
                )
                .groupBy("chunk_id")
                .agg(F.sort_array(F.collect_list("dv")).alias("ds_vals"))
                .withColumn("term", F.lit(marker))
            )
        deletes_df = index.deletes_df()
        if deletes_df is not None:
            aux_parts.append(
                deletes_df.select(chunk_col, F.col("doc_id"))
                .groupBy("chunk_id")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ds_docs"))
                .withColumn("term", F.lit("\x00del"))
            )
        if needs_all and not contiguous:
            aux_parts.append(
                index.norms.select(chunk_col, F.col("doc_id"))
                .groupBy("chunk_id")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ds_docs"))
                .withColumn("term", F.lit("\x00all"))
            )

        def score_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
            chunk_id = int(key[0])
            lo, hi = chunk_id * dpc, (chunk_id + 1) * dpc
            parts = {t: list(ps) for t, ps in small_parts.items()}
            docsets: dict = {}
            docvals: dict = {}
            deleted = None
            all_docs = None
            for r in pdf.itertuples(index=False):
                t = r.term
                if t is None:
                    continue
                if t.startswith("\x00"):
                    if t.startswith("\x00val"):
                        m = np.asarray([np.asarray(x, dtype=np.float64) for x in r.ds_vals])
                        docvals[val_keys[t]] = (m[:, 0].astype(np.int64), m[:, 1:])
                        continue
                    ds = np.asarray(r.ds_docs, dtype=np.int64)
                    if t == "\x00del":
                        deleted = ds
                    elif t == "\x00all":
                        all_docs = ds
                    else:
                        docsets[pred_keys[t]] = ds
                    continue
                # tiered index: a boundary chunk can hold one row per
                # tier for the same term; a term with spanning rows too
                # (mixed layout) joins them with its small part
                parts.setdefault(t, []).append(decode_row(t, r, *flags))
            if all_contiguous:
                all_docs = np.arange(lo, min(hi, max_doc), dtype=np.int64)
            ctx = leaf_context(
                parts, cache_b, sim_b, window=(lo, hi), all_docs=all_docs, docsets=docsets,
                docvals=docvals,
            )
            docs, scores = _drop_deleted(*evaluate(spec_b, ctx), deleted)
            if kk is None:  # match_frame: emit EVERY match in the chunk
                if not len(docs):
                    return pd.DataFrame({"chunk_id": [], "doc_id": [], "score": [], "n_matched": []})
                return pd.DataFrame(
                    {
                        "chunk_id": chunk_id,
                        "doc_id": docs,
                        "score": scores.astype(np.float32),
                        "n_matched": len(docs),
                    }
                )
            top = top_k_from_arrays(docs, scores, kk)
            if not len(docs):
                return pd.DataFrame({"chunk_id": [], "doc_id": [], "score": [], "n_matched": []})
            # top rows carry n_matched=0; ONE trailing count row (null
            # doc_id/score) carries the chunk's match count so the
            # driver total is a plain sum during the top-k action
            return pd.DataFrame(
                {
                    "chunk_id": chunk_id,
                    "doc_id": [d for d, _ in top] + [None],
                    "score": [s for _, s in top] + [None],
                    "n_matched": [0] * len(top) + [len(docs)],
                }
            )

        spark = index.dist_spark
        # pos_blob is the LARGEST postings column (ttf-sized varints vs
        # df-sized) — scan it only for positional queries; the column
        # set stays schema-consistent across every unioned part
        col_types = (
            [("chunk_id", "long"), ("term", "string"), ("df", "int"), ("ttf", "long"),
             ("blob", "binary")]
            + ([("pos_blob", "binary")] if with_pos else [])
            + [("block_last", "array<long>"), ("imp_block", "array<int>"),
               ("imp_freq", "array<int>"), ("imp_norm", "array<int>"),
               ("ds_docs", "array<long>"), ("ds_vals", "array<array<double>>")]
            + ([("pay_blob", "binary")] if with_pay else [])
        )
        cols = [c for c, _t in col_types]

        sql_t = {
            "long": "BIGINT", "int": "INT", "string": "STRING",
            "binary": "BINARY", "array<long>": "ARRAY<BIGINT>",
            "array<int>": "ARRAY<INT>",
            "array<array<double>>": "ARRAY<ARRAY<DOUBLE>>",
        }

        def _pad_select(df):
            # ONE selectExpr call per part: the per-column
            # lit/cast/alias chain was ~360 Py4J round trips per plan
            # (~35 ms of the per-query latency budget)
            have = set(df.columns)
            return df.selectExpr(
                *[
                    c if c in have else f"CAST(NULL AS {sql_t[t]}) AS {c}"
                    for c, t in col_types
                ]
            )

        parts = []
        if hot_rows is not None:
            parts.append(_pad_select(hot_rows))
        extra = sorted(small_chunks)
        if extra:
            parts.append(
                _pad_select(spark.createDataFrame([(int(c),) for c in extra], "chunk_id long"))
            )
        elif hot_rows is None:
            # aux rows only (parent session): an always-empty frame roots
            # the plan in the AQE-off session; the optimizer prunes it
            parts.append(_pad_select(spark.range(1).selectExpr("id AS chunk_id").where("false")))
        for aux in aux_parts:
            parts.append(_pad_select(aux))
        grouped_src = parts[0]
        for p in parts[1:]:
            grouped_src = grouped_src.unionByName(p)
        # hot-rows-only queries over the persisted chunk-partitioned
        # relation keep its hash partitioning through the filter, so
        # the groupBy below runs WITHOUT an exchange; any unioned pad/
        # aux part (small-term chunks, filters, tombstones) reintroduces
        # the shuffle, which those shapes genuinely need
        result = grouped_src.groupBy("chunk_id").applyInPandas(
            score_chunk, schema="chunk_id long, doc_id long, score float, n_matched long"
        )
        return "df", result


def _drop_deleted(docs, scores, deleted):
    """Mask the tombstoned ``deleted`` ids out of (docs, scores)."""
    if deleted is None or not len(deleted) or not len(docs):
        return docs, scores
    live = ~np.isin(docs, deleted, assume_unique=False)
    return docs[live], scores[live]


def _streams(spec) -> tuple[bool, bool, bool]:
    """(positions, offsets, payloads): the decode streams ``spec`` reads."""
    return _has_phrase(spec), False, bool(_payload_terms(spec))


def _has_phrase(spec) -> bool:
    from lucene_spark.search.kernels import (
        DisMaxSpec,
        IntervalSpec,
        MultiPhraseSpec,
        PayloadSpec,
        PhraseSpec,
        SpanNearSpec,
        TermAutomatonSpec,
    )

    if isinstance(spec, (PhraseSpec, MultiPhraseSpec, SpanNearSpec, IntervalSpec, TermAutomatonSpec)):
        return True
    if isinstance(spec, PayloadSpec):
        return spec.kind == "phrase"  # positional alignment only for phrase spans
    if isinstance(spec, BoolSpec):
        return any(_has_phrase(s) for g in (spec.musts, spec.shoulds, spec.filters, spec.nots) for s in g)
    if isinstance(spec, DisMaxSpec):
        return any(_has_phrase(s) for s in spec.subs)
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _has_phrase(spec[1])
    return False


def _payload_terms(spec) -> set[str]:
    """Terms whose payload streams a PayloadSpec in the tree needs."""
    from lucene_spark.search.kernels import DisMaxSpec, PayloadSpec

    if isinstance(spec, PayloadSpec):
        return set(spec.terms)
    if isinstance(spec, BoolSpec):
        out: set[str] = set()
        for g in (spec.musts, spec.shoulds, spec.filters, spec.nots):
            for s in g:
                out |= _payload_terms(s)
        return out
    if isinstance(spec, DisMaxSpec):
        return set().union(*(_payload_terms(s) for s in spec.subs)) if spec.subs else set()
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _payload_terms(spec[1])
    return set()


def _collect_predspecs(spec) -> list:
    """All PredSpec nodes (lazy field-filter doc sets) in the tree."""
    from lucene_spark.search.kernels import DisMaxSpec, PredSpec

    if isinstance(spec, PredSpec):
        return [spec]
    if isinstance(spec, BoolSpec):
        return [
            d
            for g in (spec.musts, spec.shoulds, spec.filters, spec.nots)
            for s in g
            for d in _collect_predspecs(s)
        ]
    if isinstance(spec, DisMaxSpec):
        return [d for s in spec.subs for d in _collect_predspecs(s)]
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _collect_predspecs(spec[1])
    return []


def _collect_valspecs(spec) -> list:
    """All lazy ValueSpec nodes (feature / distance-feature scores)."""
    from lucene_spark.search.kernels import DisMaxSpec, ValueSpec

    if isinstance(spec, ValueSpec):
        return [spec] if spec.key is not None else []
    if isinstance(spec, BoolSpec):
        return [
            d
            for g in (spec.musts, spec.shoulds, spec.filters, spec.nots)
            for s in g
            for d in _collect_valspecs(s)
        ]
    if isinstance(spec, DisMaxSpec):
        return [d for s in spec.subs for d in _collect_valspecs(s)]
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _collect_valspecs(spec[1])
    return []


def _collect_eager_valspecs(spec) -> list:
    """All EAGER ValueSpec nodes (feature / distance-feature scores
    with driver-resolved (docs, vals) — the sorted-scan / driver-mode
    form, as opposed to the key-addressed lazy form the distributed
    plan ships per chunk)."""
    from lucene_spark.search.kernels import DisMaxSpec, ValueSpec

    if isinstance(spec, ValueSpec):
        return [spec] if spec.key is None and spec.docs is not None else []
    if isinstance(spec, BoolSpec):
        return [
            d
            for g in (spec.musts, spec.shoulds, spec.filters, spec.nots)
            for s in g
            for d in _collect_eager_valspecs(s)
        ]
    if isinstance(spec, DisMaxSpec):
        return [d for s in spec.subs for d in _collect_eager_valspecs(s)]
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _collect_eager_valspecs(spec[1])
    return []


def _collect_docsets(spec) -> list:
    from lucene_spark.search.kernels import DisMaxSpec, DocSetSpec

    if isinstance(spec, DocSetSpec):
        return [spec]
    if isinstance(spec, BoolSpec):
        return [
            d
            for g in (spec.musts, spec.shoulds, spec.filters, spec.nots)
            for s in g
            for d in _collect_docsets(s)
        ]
    if isinstance(spec, DisMaxSpec):
        return [d for s in spec.subs for d in _collect_docsets(s)]
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _collect_docsets(spec[1])
    return []


def _needs_all_docs(spec) -> bool:
    from lucene_spark.search.kernels import AllSpec

    if isinstance(spec, AllSpec):
        return True
    if isinstance(spec, BoolSpec):
        return any(
            _needs_all_docs(s) for g in (spec.musts, spec.shoulds, spec.filters, spec.nots) for s in g
        )
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return _needs_all_docs(spec[1])
    return False
