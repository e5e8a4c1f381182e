"""Vectorized scoring kernels (numpy) + query compilation.

The Scorer layer of the reference (Boolean2ScorerSupplier picking
ConjunctionScorer / DisjunctionSumScorer / ReqExclScorer / WANDScorer,
lucene/core/src/java/org/apache/lucene/search/Boolean2ScorerSupplier.java:141-247)
re-expressed block-at-a-time: doc-at-a-time iterators with galloping
``advance()`` become sorted-array set operations (np.intersect1d /
searchsorted membership), scores are float32 arrays, and boolean sums
accumulate in float64 before a final float32 cast — exactly the
double-accumulate-then-cast of DisjunctionSumScorer/ConjunctionScorer.

``compile_query`` captures global statistics into weights on the driver
(the Weight-creation step, TermQuery.java:56-100 / IndexSearcher.java:947)
producing a plain-dataclass spec tree that is cheap to ship into
executor-side kernels (distributed mode) or evaluate on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from lucene_spark.index.builder import FIELD_SEP
from lucene_spark.index.reader import PostingList, concat_doc_order
from lucene_spark.search import ast as A
from lucene_spark.search.similarity import BM25_SIM, BM25Stats


def field_of_key(key: str) -> str:
    """Field of a composite term key ("" = primary field)."""
    return key.split(FIELD_SEP, 1)[0] if FIELD_SEP in key else ""

EMPTY_I = np.empty(0, dtype=np.int64)
EMPTY_F = np.empty(0, dtype=np.float32)


# ---- compiled scorer specs (plain, picklable) -------------------------------


@dataclass(frozen=True)
class TermSpec:
    term: str  # composite key ("field\x1fterm") for non-primary fields
    weight: object  # similarity weight params (BM25: float32 boost * idf)
    field: str = ""  # "" = primary field (selects the norm-inverse cache)


@dataclass(frozen=True)
class SynonymSpec:
    terms: tuple[str, ...]
    weight: float
    field: str = ""


@dataclass(frozen=True)
class ConstSpec:
    """Constant-score doc-set (MultiTermQuery CONSTANT_SCORE rewrite)."""

    terms: tuple[str, ...]
    boost: float


@dataclass(frozen=True)
class AllSpec:
    boost: float


@dataclass(frozen=True)
class NoneSpec:
    pass


@dataclass(frozen=True)
class BoolSpec:
    musts: tuple = ()
    shoulds: tuple = ()
    filters: tuple = ()
    nots: tuple = ()
    msm: int = 0


@dataclass(frozen=True)
class DocSetSpec:
    """Constant-score membership in a resolved sorted doc-id set
    (keyword-field filters; see ast.FieldValueQuery)."""

    docs: tuple  # kept hashable and equal by value
    boost: float = 1.0
    # the same ids as a read-only int64 array, built once: a cached
    # plan's doc set is not converted again on every query
    array: np.ndarray = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        a = np.asarray(self.docs, dtype=np.int64)
        a.flags.writeable = False
        object.__setattr__(self, "array", a)


@dataclass(frozen=True)
class PredSpec:
    """Constant-score membership in a LAZY doc set (docs-table
    predicate). The ids never exist on the driver: the chunk context
    carries this chunk's slice under ``key`` (ctx.docsets), delivered
    by a pushed-down scan grouped by doc-range chunk."""

    key: tuple
    boost: float = 1.0


@dataclass(frozen=True)
class ValueSpec:
    """Per-doc scores derived from docs-table numeric column(s) — the
    FeatureQuery / DistanceFeatureQuery roles (FeatureField.java:221+,
    LongDistanceFeatureQuery.java:95-122). Driver mode resolves
    ``docs``/``vals`` up front; distributed mode sets ``key`` and each
    chunk context carries its own (docs, vals) slice (ctx.docvals).
    Both modes score through :func:`value_scores`, one float path."""

    kind: str  # feature_linear|feature_log|feature_saturation|feature_sigmoid|dist_long|dist_geo
    params: tuple
    boost: float = 1.0
    key: tuple | None = None  # distributed: ctx.docvals[key]
    docs: tuple = ()  # driver-resolved doc ids (sorted)
    vals: tuple = ()  # driver-resolved per-doc value tuples


@dataclass(frozen=True)
class DisMaxSpec:
    subs: tuple
    tie: float


@dataclass(frozen=True)
class PhraseSpec:
    terms: tuple[str, ...]
    weight: float
    slop: int = 0
    field: str = ""


@dataclass(frozen=True)
class SpanNearSpec:
    """Span/interval proximity (SpanNearQuery.java:42, Intervals.java):
    minimal intervals containing all terms (ordered or not) with
    gap count <= slop; freq = Σ 1/(1+max(gaps, 0)) per SpanScorer's
    sloppy accumulation."""

    terms: tuple[str, ...]
    weight: float
    slop: int = 0
    in_order: bool = True
    field: str = ""


@dataclass(frozen=True)
class IntervalSpec:
    """Interval algebra query (IntervalQuery.java role): ``source`` is
    a lucene_spark.search.intervals tree; terms = its literal terms
    (postings + positions fetched like phrase kernels); freq =
    Σ 1/(1 + max(0, gaps)) over the source's minimal intervals."""

    source: object
    terms: tuple[str, ...]
    weight: float
    field: str = ""
    # "saturation" (reference IntervalQuery: score = weight *
    # freq/(freq+pivot), weight = BOOST, no similarity/norms) or
    # "span" (SpanScorer convention: BM25 over the sloppy freq,
    # weight = the similarity multi-weight)
    score_mode: str = "span"
    pivot: float = 1.0


@dataclass(frozen=True)
class PayloadSpec:
    """PayloadScoreQuery / SpanPayloadCheckQuery kernel spec
    (lucene/queries/payloads; see ast.PayloadScoreQuery). ``kind``
    picks the wrapped-span shape: "term" (every occurrence), "or"
    (every occurrence of any member), "phrase" (exact ordered match of
    distinct terms; payloads of every slot per matching span).
    ``check`` (SpanPayloadCheckQuery) keeps only spans whose payload
    sequence equals it; None applies ``function`` as a score factor.
    Float32 summation runs per-term/per-slot then combines, so "sum"/
    "avg" may differ from the reference's position-interleaved
    accumulation order by f32 associativity (last-ulp; documented)."""

    terms: tuple[str, ...]
    kind: str  # term | or | phrase
    weight: object
    function: str = "avg"
    include_span_score: bool = True
    check: tuple | None = None
    field: str = ""


@dataclass(frozen=True)
class TermAutomatonSpec:
    """TermAutomatonQuery kernel spec (sandbox TermAutomatonScorer).
    ``terms``/``syms`` align: the automaton's real terms and their
    symbol ids; ``steps``/``accepts``/``any_sym`` are the finished DFA
    (automaton.TermDFA). Candidates = the UNION of the terms' postings
    (the scorer is a disjunction — TermAutomatonQuery.java:69-71);
    freq per doc = the countMatches state walk over the merged
    (position, symbol) stream; weight = similarity scorer over the
    stats of every term with df > 0 (TermAutomatonWeight:380-399)."""

    terms: tuple  # real terms present in the index (df > 0)
    syms: tuple  # symbol id per term, aligned with ``terms``
    steps: tuple
    accepts: tuple
    any_sym: "int | None"
    weight: object
    field: str = ""


@dataclass(frozen=True)
class MultiPhraseSpec:
    """Alternatives per slot (MultiPhraseQuery.java); weight = summed
    idf over ALL distinct terms, like PhraseWeight over the union."""

    slots: tuple[tuple[str, ...], ...]
    weight: float
    slop: int = 0
    field: str = ""


def compile_query(
    q: A.Query,
    stats: BM25Stats,
    term_df: dict[str, int],
    boost: float = 1.0,
    stats_by_field: dict[str, BM25Stats] | None = None,
    sim=None,
    term_ttf: dict[str, int] | None = None,
):
    """AST (+ global stats) → spec tree. ``term_df`` maps term → df;
    missing terms score nothing. Boost folds into weights as float32
    (BM25Scorer weight = boost * idf, BM25Similarity.java:236-238).
    ``stats_by_field`` supplies per-field CollectionStatistics for
    composite term keys (multi-field indexes); a key's field picks its
    own docCount for idf and its own norm-inverse cache at score time.
    ``sim`` picks the Similarity (default BM25; Similarity.scorer role);
    ``term_ttf`` supplies totalTermFreq for models that need it
    (sim.needs_ttf, e.g. LMDirichlet's collection probability)."""
    b32 = np.float32(boost)
    sim = sim if sim is not None else BM25_SIM
    ttf_of = (term_ttf or {}).get

    def _recur(sub, b):
        return compile_query(sub, stats, term_df, b, stats_by_field, sim, term_ttf)

    def _stats_of(key: str) -> tuple[str, BM25Stats]:
        f = field_of_key(key)
        if f and stats_by_field and f in stats_by_field:
            return f, stats_by_field[f]
        return f, stats
    if isinstance(q, A.MatchNoDocsQuery):
        return NoneSpec()
    if isinstance(q, A.MatchAllDocsQuery):
        return AllSpec(float(b32))
    if isinstance(q, A.BoostQuery):
        return _recur(q.query, float(np.float32(b32 * np.float32(q.boost))))
    if isinstance(q, A.ConstantScoreQuery):
        inner = q.query
        if isinstance(inner, A.TermInSetQuery):
            terms = tuple(t for t in inner.terms if term_df.get(t))
            return ConstSpec(terms, float(b32)) if terms else NoneSpec()
        if isinstance(inner, A.TermQuery):
            return ConstSpec((inner.term,), float(b32)) if term_df.get(inner.term) else NoneSpec()
        # generic: score inner, replace scores by boost
        sub = _recur(inner, 1.0)
        return ("const", sub, float(b32))
    if isinstance(q, A.TermQuery):
        df = term_df.get(q.term, 0)
        if df == 0:
            return NoneSpec()
        fld, st = _stats_of(q.term)
        return TermSpec(q.term, sim.for_field(fld).term_weight(st, df, ttf_of(q.term, 0), float(b32)), fld)
    if isinstance(q, A.BlendedTermQuery):
        # BlendedTermQuery.rewrite (BlendedTermQuery.java:270-300):
        # artificial df = max docFreq, ttf = sum totalTermFreq, each
        # term then scores as a plain TermQuery against its OWN field's
        # norms/avgdl but the blended frequencies
        present = [t for t in q.terms if term_df.get(t)]
        if not present:
            return NoneSpec()
        df_b = max(term_df[t] for t in present)
        ttf_b = sum(ttf_of(t, 0) for t in present)
        boosts = q.boosts if q.boosts is not None else (1.0,) * len(q.terms)
        subs = []
        for t, bo in zip(q.terms, boosts):
            if not term_df.get(t):
                continue
            fld, st = _stats_of(t)
            w = sim.for_field(fld).term_weight(st, df_b, ttf_b, float(np.float32(b32 * np.float32(bo))))
            subs.append(TermSpec(t, w, fld))
        if q.boolean_rewrite:
            return BoolSpec(shoulds=tuple(subs))
        return DisMaxSpec(tuple(subs), q.tie_breaker)
    if isinstance(q, A.SynonymQuery):
        present = [t for t in q.terms if term_df.get(t)]
        if not present:
            return NoneSpec()
        fld, st = _stats_of(q.terms[0])
        dfs = [term_df[t] for t in present]
        w = sim.for_field(fld).synonym_weight(st, dfs, [ttf_of(t, 0) for t in present], float(b32))
        return SynonymSpec(tuple(present), w, fld)
    if isinstance(q, A.TermInSetQuery):
        terms = tuple(t for t in q.terms if term_df.get(t))
        return ConstSpec(terms, float(b32)) if terms else NoneSpec()
    if isinstance(q, A.DocSetQuery):
        return DocSetSpec(q.doc_ids, float(b32)) if q.doc_ids else NoneSpec()
    if isinstance(q, A.PredDocSetQuery):
        return PredSpec(q.key, float(b32))
    if isinstance(q, A.DocValueScoreQuery):
        if not q.doc_ids:
            return NoneSpec()
        return ValueSpec(q.kind, q.params, float(b32), docs=q.doc_ids, vals=q.values)
    if isinstance(q, A.PredValueScoreQuery):
        return ValueSpec(q.kind, q.params, float(b32), key=q.key)
    if isinstance(q, A.PhraseQuery):
        if any(not term_df.get(t) for t in q.terms):
            return NoneSpec()
        fld, st = _stats_of(q.terms[0])
        w = sim.for_field(fld).multi_weight(st, [term_df[t] for t in q.terms], [ttf_of(t, 0) for t in q.terms], float(b32))
        return PhraseSpec(q.terms, w, q.slop, fld)
    if isinstance(q, A.SpanNearQuery):
        if any(not term_df.get(t) for t in q.terms):
            return NoneSpec()
        fld, st = _stats_of(q.terms[0])
        w = sim.for_field(fld).multi_weight(st, [term_df[t] for t in q.terms], [ttf_of(t, 0) for t in q.terms], float(b32))
        return SpanNearSpec(q.terms, w, q.slop, q.in_order, fld)
    if isinstance(q, A.IntervalQuery):
        from lucene_spark.search.intervals import terms_of

        terms = tuple(sorted(terms_of(q.source)))
        present = [t for t in terms if term_df.get(t)]
        if not present:
            return NoneSpec()
        fld, st = _stats_of(present[0])
        if getattr(q, "score_mode", "saturation") == "saturation":
            # reference IntervalQuery: weight IS the boost; no
            # similarity weight, no norms (IntervalQuery.java:41-58)
            return IntervalSpec(
                q.source, terms, float(b32), fld, score_mode="saturation", pivot=q.pivot
            )
        w = sim.for_field(fld).multi_weight(st, [term_df[t] for t in present], [ttf_of(t, 0) for t in present], float(b32))
        return IntervalSpec(q.source, terms, w, fld, score_mode="span")
    if isinstance(q, A.MultiPhraseQuery):
        slots = tuple(tuple(t for t in slot if term_df.get(t)) for slot in q.positions)
        if any(not s for s in slots):
            return NoneSpec()
        uniq = sorted({t for slot in slots for t in slot})
        fld, st = _stats_of(uniq[0])
        w = sim.for_field(fld).multi_weight(st, [term_df[t] for t in uniq], [ttf_of(t, 0) for t in uniq], float(b32))
        return MultiPhraseSpec(slots, w, q.slop, fld)
    if isinstance(q, (A.PayloadScoreQuery, A.SpanPayloadCheckQuery)):
        span = q.span
        while isinstance(span, A.BoostQuery):  # boost folds into the weight
            b32 = np.float32(b32 * np.float32(span.boost))
            span = span.query
        if isinstance(span, A.TermQuery):
            kind, pterms = "term", (span.term,)
        elif isinstance(span, A.SynonymQuery):
            kind, pterms = "or", tuple(span.terms)
        elif isinstance(span, A.PhraseQuery) and span.slop == 0:
            if len(set(span.terms)) != len(span.terms):
                raise ValueError("payload phrase spans require distinct terms (documented subset)")
            kind, pterms = "phrase", tuple(span.terms)
        else:
            raise ValueError(
                f"unsupported payload span shape {type(span).__name__} "
                "(subset: TermQuery / SynonymQuery-as-SpanOr / PhraseQuery slop=0)"
            )
        if kind == "or":
            pterms = tuple(t for t in pterms if term_df.get(t))
            if not pterms:
                return NoneSpec()
        elif any(not term_df.get(t) for t in pterms):
            return NoneSpec()
        uniq = sorted(set(pterms))
        fld, st = _stats_of(uniq[0])
        if kind == "term":
            w = sim.for_field(fld).term_weight(
                st, term_df[pterms[0]], ttf_of(pterms[0], 0), float(b32)
            )
        else:
            w = sim.for_field(fld).multi_weight(
                st, [term_df[t] for t in uniq], [ttf_of(t, 0) for t in uniq], float(b32)
            )
        if isinstance(q, A.SpanPayloadCheckQuery):
            check = tuple(float(np.float32(x)) for x in q.payloads)
            n_span = 1 if kind in ("term", "or") else len(pterms)
            if len(check) != n_span:
                # spans collecting a different payload count never match
                # (SpanPayloadCheckQuery PayloadChecker upto contract)
                return NoneSpec()
            return PayloadSpec(pterms, kind, w, check=check, field=fld)
        if q.function not in ("min", "max", "avg", "sum"):
            raise ValueError(f"unknown payload function {q.function!r}")
        return PayloadSpec(pterms, kind, w, q.function, q.include_span_score, None, fld)
    if isinstance(q, A.TermAutomatonQuery):
        dfa = q.dfa
        pairs = [
            (t, i)
            for i, t in enumerate(dfa.terms)
            if t is not None and term_df.get(t)
        ]
        if not pairs:
            return NoneSpec()  # no automaton term matches any doc
        uniq = sorted({t for t, _ in pairs})
        fld, st = _stats_of(uniq[0])
        # TermAutomatonWeight:380-399 — similarity scorer over the
        # stats of every term with df>0 (summed idfs for BM25)
        w = sim.for_field(fld).multi_weight(
            st, [term_df[t] for t in uniq], [ttf_of(t, 0) for t in uniq], float(b32)
        )
        return TermAutomatonSpec(
            tuple(t for t, _ in pairs),
            tuple(i for _, i in pairs),
            dfa.steps,
            dfa.accepts,
            dfa.any_sym,
            w,
            fld,
        )
    if isinstance(q, A.DisjunctionMaxQuery):
        subs = tuple(_recur(s, float(b32)) for s in q.queries)
        subs = tuple(s for s in subs if not isinstance(s, NoneSpec))
        return DisMaxSpec(subs, q.tie_breaker) if subs else NoneSpec()
    if isinstance(q, A.BooleanQuery):
        musts, shoulds, filters, nots = [], [], [], []
        for occ, sub in q.clauses:
            spec = _recur(sub, float(b32) if occ is not A.Occur.FILTER else 1.0)
            if occ is A.Occur.MUST:
                if isinstance(spec, NoneSpec):
                    return NoneSpec()
                musts.append(spec)
            elif occ is A.Occur.FILTER:
                if isinstance(spec, NoneSpec):
                    return NoneSpec()
                filters.append(spec)
            elif occ is A.Occur.SHOULD:
                if not isinstance(spec, NoneSpec):
                    shoulds.append(spec)
            else:
                if not isinstance(spec, NoneSpec):
                    nots.append(spec)
        if not musts and not filters and not shoulds:
            return NoneSpec()
        if q.minimum_should_match > len(shoulds):
            # Boolean2ScorerSupplier: optional.size() < minShouldMatch
            # → no scorer (BooleanWeight.java/Boolean2ScorerSupplier
            # .java:220-230). SHOULD clauses whose terms are absent
            # were dropped above; fewer survivors than msm can never
            # satisfy it — even when MUST/FILTER clauses match.
            return NoneSpec()
        return BoolSpec(tuple(musts), tuple(shoulds), tuple(filters), tuple(nots), q.minimum_should_match)
    raise TypeError(f"cannot compile {type(q)}")


def spec_terms(spec) -> set[str]:
    if isinstance(spec, (TermSpec,)):
        return {spec.term}
    if isinstance(
        spec,
        (SynonymSpec, ConstSpec, PhraseSpec, SpanNearSpec, IntervalSpec, PayloadSpec, TermAutomatonSpec),
    ):
        return set(spec.terms)
    if isinstance(spec, MultiPhraseSpec):
        return {t for slot in spec.slots for t in slot}
    if isinstance(spec, BoolSpec):
        out: set[str] = set()
        for group in (spec.musts, spec.shoulds, spec.filters, spec.nots):
            for s in group:
                out |= spec_terms(s)
        return out
    if isinstance(spec, DisMaxSpec):
        out = set()
        for s in spec.subs:
            out |= spec_terms(s)
        return out
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        return spec_terms(spec[1])
    return set()


# ---- evaluation --------------------------------------------------------------


def _membership(sorted_docs: np.ndarray, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For each cand doc, (mask present in sorted_docs, index into it)."""
    idx = np.searchsorted(sorted_docs, cand)
    idx_c = np.minimum(idx, max(len(sorted_docs) - 1, 0))
    mask = (len(sorted_docs) > 0) & (idx < len(sorted_docs))
    if len(sorted_docs):
        mask = mask & (sorted_docs[idx_c] == cand)
    else:
        mask = np.zeros(len(cand), dtype=bool)
    return mask, idx_c


class ChunkContext:
    """Posting arrays visible to a kernel evaluation: term →
    (docs sorted int64, tfs, norms), plus the norm-inverse cache,
    optional per-term position lists (phrase queries), and (optionally)
    the full doc-id domain for MatchAllDocs."""

    def __init__(
        self,
        arrays: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
        cache: np.ndarray,
        all_docs: np.ndarray | None = None,
        positions: dict[str, list] | None = None,
        doc_range: tuple[int, int] | None = None,
        docsets: dict | None = None,
        sim=None,
        docvals: dict | None = None,
        payloads: dict | None = None,
    ):
        self.arrays = arrays
        self.cache = cache
        # pluggable Similarity (BM25 default); owns score(freq, norm)
        self.sim = sim if sim is not None else BM25_SIM
        self.all_docs = all_docs if all_docs is not None else EMPTY_I
        self.positions = positions or {}
        # [lo, hi) doc-id window of this chunk; None = whole corpus.
        # DocSetSpecs slice to it so chunk-parallel evaluation never
        # emits the same doc from two chunks.
        self.doc_range = doc_range
        # PredSpec key → this context's doc-id slice (chunk-local in
        # distributed mode; whole set in driver mode)
        self.docsets = docsets or {}
        # ValueSpec key → (docs int64, vals float64 [n, m]) slice
        self.docvals = docvals or {}
        # term → per-doc float32 payload arrays (position-aligned; the
        # .pay stream), present only when the query has a PayloadSpec
        self.payloads = payloads or {}
        # term → (flat positions, offsets[n+1]) memo (see _flat_of):
        # built lazily the first time a positional kernel touches the
        # term in this context, shared across slots/branches
        self.pos_flats: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def score(self, weight, freqs, norms, field: str) -> np.ndarray:
        """Vectorized SimScorer.score over this context's field table
        (PerFieldSimilarityWrapper resolves per field here)."""
        return self.sim.for_field(field).score(weight, freqs, norms, self.cache_for(field))

    def cache_for(self, field: str) -> np.ndarray:
        """Norm-inverse cache for a field ("" = primary). ``cache`` is
        a plain array (single-field index) or a field → array dict
        (multi-field: per-field avgdl ⇒ per-field cache)."""
        if isinstance(self.cache, dict):
            return self.cache[field]
        return self.cache

    def term(self, t: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return self.arrays.get(t, (EMPTY_I, EMPTY_I, EMPTY_I))


def leaf_context(
    parts: dict[str, list],
    cache,
    sim=None,
    window: tuple[int, int] | None = None,
    all_docs: np.ndarray | None = None,
    docsets: dict | None = None,
    docvals: dict | None = None,
) -> ChunkContext:
    """The one kernel context of every evaluator — driver, sorted scan
    and distributed leaf. ``parts`` maps a term to its posting parts:
    decoded rows (``decode_row`` tuples) and whole-term PostingLists.
    With a ``window`` [lo, hi) each part, and ``all_docs``, is sliced
    to the leaf's doc range; the parts of a term then join in doc order
    (``concat_doc_order``). A part that needs no slice and has no
    sibling passes through uncopied, flat position buffer included."""
    arrays, positions, payloads = {}, {}, {}
    for t, ps in parts.items():
        cut = []
        for p in ps:
            if isinstance(p, PostingList):
                p = (p.docs, p.tfs, p.norms, p.positions, p.offsets, p.payloads)
            if window is not None:
                i0, i1 = np.searchsorted(p[0], window)
                if i0 > 0 or i1 < len(p[0]):
                    p = tuple(None if s is None else s[i0:i1] for s in p)
            cut.append(p)
        if len(cut) > 1:  # empty slices add nothing to a joined term
            cut = [p for p in cut if len(p[0])] or cut[:1]
        docs, tfs, norms, pos, _off, pay = concat_doc_order(cut)
        arrays[t] = (docs, tfs, norms)
        if pos is not None:
            positions[t] = pos
        if pay is not None:
            payloads[t] = pay
    if window is not None and all_docs is not None:
        i0, i1 = np.searchsorted(all_docs, window)
        all_docs = all_docs[i0:i1]
    return ChunkContext(
        arrays, cache, all_docs, positions, doc_range=window, docsets=docsets, sim=sim,
        docvals=docvals, payloads=payloads,
    )


MIN_NORMAL_F32 = float(np.finfo(np.float32).tiny)  # Float.MIN_NORMAL


def decode_feature_values(v: np.ndarray) -> np.ndarray:
    """FeatureField's store/decode round trip: the feature is stored IN
    the term frequency as floatToIntBits(value) >>> 15
    (FeatureField.java:196-202 FeatureTokenStream.incrementToken sets
    termFrequency) and decoded as intBitsToFloat(tf << 15)
    (:208-218 decodeFeatureValue) — i.e. the float32 mantissa truncated
    to its top 8 bits. Input float64/float32, output float32."""
    f = np.asarray(v, dtype=np.float32)
    bits = f.view(np.int32)
    return np.left_shift(np.right_shift(bits, 15), 15).view(np.float32)


def value_scores(kind: str, params: tuple, boost: float, vals: np.ndarray) -> np.ndarray:
    """Score per-doc value rows (float64 [n, m]) → float32, matching the
    reference's float semantics per function:
    - feature_linear: w * v, all-float32 arithmetic (FeatureField.java:
      231-239 LinearFunction)
    - feature_log: (float)(w * Math.log(a + v)) — double, f32 cast
      (:305-312 LogFunction)
    - feature_saturation: w * (1 - pivot/(v + pivot)), all-float32 —
      the monotonic rewrite (:373-387 SaturationFunction)
    - feature_sigmoid: (float)(w * (1 - pivot^a/(v^a + pivot^a))) —
      double, f32 cast (:441-450 SigmoidFunction)
    - dist_long: (float)(boost * (pivot / (pivot + |v - origin|)))
      (LongDistanceFeatureQuery.java:112-117)
    - dist_geo: boost * pivot_m / (pivot_m + haversine_m) over
      EARTH_MEAN_RADIUS (LatLonPointDistanceFeatureQuery role)."""
    if kind.startswith("feature_"):
        dec = decode_feature_values(vals[:, 0])
        fn = kind[len("feature_") :]
        w = np.float32(boost)
        if fn == "linear":
            return (w * dec).astype(np.float32)
        if fn == "log":
            (a,) = params
            return (float(boost) * np.log(float(a) + dec.astype(np.float64))).astype(np.float32)
        if fn == "saturation":
            (pivot,) = params
            p = np.float32(pivot)
            return (w * (np.float32(1.0) - p / (dec + p))).astype(np.float32)
        if fn == "sigmoid":
            pivot, a = params
            pa = float(pivot) ** float(a)
            f = dec.astype(np.float64)
            return (float(boost) * (1.0 - pa / (np.power(f, float(a)) + pa))).astype(np.float32)
        raise ValueError(f"unknown feature function {fn!r}")
    if kind == "dist_long":
        origin, pivot = params
        dist = np.abs(vals[:, 0] - float(origin))
        return (float(boost) * (float(pivot) / (float(pivot) + dist))).astype(np.float32)
    if kind == "dist_geo":
        from lucene_spark.search.geo import haversine_np

        lat, lon, pivot = params
        d = haversine_np(vals[:, 0], vals[:, 1], float(lat), float(lon))
        return (float(boost) * (float(pivot) / (float(pivot) + d))).astype(np.float32)
    raise ValueError(f"unknown value-score kind {kind!r}")


def evaluate(spec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    """→ (docs sorted int64, scores float32) over the context's domain."""
    if isinstance(spec, NoneSpec):
        return EMPTY_I, EMPTY_F
    if isinstance(spec, AllSpec):
        return ctx.all_docs, np.full(len(ctx.all_docs), np.float32(spec.boost), dtype=np.float32)
    if isinstance(spec, TermSpec):
        docs, tfs, norms = ctx.term(spec.term)
        if not len(docs):
            return EMPTY_I, EMPTY_F
        return docs, ctx.score(spec.weight, tfs, norms, spec.field)
    if isinstance(spec, SynonymSpec):
        # union with per-doc tf sums (SynonymQuery.java:196-212)
        parts = [ctx.term(t) for t in spec.terms]
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return EMPTY_I, EMPTY_F
        docs = np.unique(np.concatenate([p[0] for p in parts]))
        tf_sum = np.zeros(len(docs), dtype=np.int64)
        norms_out = np.zeros(len(docs), dtype=np.int64)
        for d, t, nm in parts:
            mask, idx = _membership(d, docs)
            tf_sum[mask] += t[idx[mask]]
            norms_out[mask] = nm[idx[mask]]
        return docs, ctx.score(spec.weight, tf_sum, norms_out, spec.field)
    if isinstance(spec, DocSetSpec):
        d = spec.array
        if ctx.doc_range is not None:
            lo, hi = ctx.doc_range
            d = d[np.searchsorted(d, lo) : np.searchsorted(d, hi)]
        return d, np.full(len(d), np.float32(spec.boost), dtype=np.float32)
    if isinstance(spec, PredSpec):
        d = ctx.docsets.get(spec.key)
        d = EMPTY_I if d is None else np.asarray(d, dtype=np.int64)
        return d, np.full(len(d), np.float32(spec.boost), dtype=np.float32)
    if isinstance(spec, ValueSpec):
        if spec.key is not None:
            dv = ctx.docvals.get(spec.key)
            if dv is None:
                return EMPTY_I, EMPTY_F
            docs, vals = dv
        else:
            docs = np.asarray(spec.docs, dtype=np.int64)
            if not len(docs):
                return EMPTY_I, EMPTY_F
            vals = np.asarray(spec.vals, dtype=np.float64).reshape(len(docs), -1)
        if ctx.doc_range is not None:
            # like DocSetSpec above: a driver-resolved doc set must be
            # sliced to this chunk's window, or chunk-parallel scans
            # (distributed / sorted early-termination) emit the same
            # doc once per chunk
            lo, hi = ctx.doc_range
            a, b = np.searchsorted(docs, lo), np.searchsorted(docs, hi)
            docs, vals = docs[a:b], vals[a:b]
            if not len(docs):
                return EMPTY_I, EMPTY_F
        return docs, value_scores(spec.kind, spec.params, spec.boost, vals)
    if isinstance(spec, ConstSpec):
        parts = [ctx.term(t)[0] for t in spec.terms]
        parts = [p for p in parts if len(p)]
        if not parts:
            return EMPTY_I, EMPTY_F
        docs = np.unique(np.concatenate(parts))
        return docs, np.full(len(docs), np.float32(spec.boost), dtype=np.float32)
    if isinstance(spec, tuple) and spec and spec[0] == "const":
        docs, _ = evaluate(spec[1], ctx)
        return docs, np.full(len(docs), np.float32(spec[2]), dtype=np.float32)
    if isinstance(spec, DisMaxSpec):
        subs = [evaluate(s, ctx) for s in spec.subs]
        subs = [s for s in subs if len(s[0])]
        if not subs:
            return EMPTY_I, EMPTY_F
        docs = np.unique(np.concatenate([s[0] for s in subs]))
        mx = np.zeros(len(docs), dtype=np.float64)
        sm = np.zeros(len(docs), dtype=np.float64)
        for d, sc in subs:
            mask, idx = _membership(d, docs)
            v = sc[idx[mask]].astype(np.float64)
            sm[mask] += v
            np.maximum.at(mx, np.nonzero(mask)[0], v)
        return docs, (mx + (sm - mx) * spec.tie).astype(np.float32)
    if isinstance(spec, BoolSpec):
        return _evaluate_bool(spec, ctx)
    if isinstance(spec, PhraseSpec):
        return _evaluate_phrase(spec, ctx, tuple((t,) for t in spec.terms))
    if isinstance(spec, MultiPhraseSpec):
        return _evaluate_phrase(spec, ctx, spec.slots)
    if isinstance(spec, SpanNearSpec):
        return _evaluate_spannear(spec, ctx)
    if isinstance(spec, IntervalSpec):
        return _evaluate_interval(spec, ctx)
    if isinstance(spec, PayloadSpec):
        return _evaluate_payload(spec, ctx)
    if isinstance(spec, TermAutomatonSpec):
        return _evaluate_termautomaton(spec, ctx)
    raise TypeError(type(spec))


def _evaluate_termautomaton(spec: TermAutomatonSpec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    """TermAutomatonScorer: union candidates, per-doc merged-position
    state walk. The per-candidate loop is Python by design parity —
    the reference itself is a merge-sort-positions-per-doc scorer and
    documents that it 'is likely slow' (TermAutomatonQuery.java:69-71);
    candidates are bounded by the union of the automaton's term
    postings, and each doc's walk is linear in its query-term
    occurrences (plus ANY gap spans)."""
    from lucene_spark.search.automaton import automaton_freq

    table = {(s, a): d for s, a, d in spec.steps}
    accepts = frozenset(spec.accepts)
    per_term = []
    for t, sym in zip(spec.terms, spec.syms):
        docs, tfs, norms = ctx.term(t)
        if len(docs):
            pos = ctx.positions[t]
            per_term.append((docs, norms, pos, sym))
    if not per_term:
        return EMPTY_I, EMPTY_F
    u_docs = np.unique(np.concatenate([p[0] for p in per_term]))
    n = len(u_docs)
    norms_out = np.zeros(n, dtype=np.int64)
    # per-doc (symbol, positions) lists, indexed by candidate slot
    doc_toks: list[list] = [[] for _ in range(n)]
    for docs, norms, pos, sym in per_term:
        mask, idx = _membership(docs, u_docs)
        cand_slots = np.nonzero(mask)[0]
        norms_out[mask] = norms[idx[mask]]
        for slot, row in zip(cand_slots, idx[mask]):
            doc_toks[slot].append((sym, pos[row]))
    freqs = np.zeros(n, dtype=np.float64)
    for j, toks in enumerate(doc_toks):
        if len(toks) == 1:
            sym, pos = toks[0]
            stream = [(int(p), sym) for p in pos]
        else:
            stream = sorted(
                (int(p), sym) for sym, pos in toks for p in pos
            )
        freqs[j] = automaton_freq(stream, table, accepts, spec.any_sym)
    m = freqs > 0
    if not m.any():
        return EMPTY_I, EMPTY_F
    return u_docs[m], ctx.score(
        spec.weight, freqs[m].astype(np.float32), norms_out[m], spec.field
    )


def _payload_segment_aggs(flat: np.ndarray, bounds: np.ndarray):
    """Per-segment (count, f32 sum, min, max) of the non-NaN entries of
    ``flat`` — the PayloadFunction running values (currentScore is
    sequential f32 accumulation; np.ufunc.reduceat IS sequential, so
    the f32 sums are bit-equal to the reference's within a segment).
    ``bounds`` are segment starts (each segment non-empty)."""
    valid = ~np.isnan(flat)
    cnt = np.add.reduceat(valid.astype(np.int64), bounds)
    sums = np.add.reduceat(np.where(valid, flat, np.float32(0.0)).astype(np.float32), bounds)
    mins = np.minimum.reduceat(np.where(valid, flat, np.float32(np.inf)), bounds)
    maxs = np.maximum.reduceat(np.where(valid, flat, np.float32(-np.inf)), bounds)
    return cnt, sums, mins, maxs


def _payload_factor(function: str, cnt, sums, mins, maxs) -> np.ndarray:
    """PayloadFunction.docScore (xxxPayloadFunction.java:39-43): docs
    with no collected payloads keep 1; negative (or NaN) truncates to 0
    (PayloadSpanScorer.getPayloadScore :250-257)."""
    f = np.ones(len(cnt), dtype=np.float32)
    has = cnt > 0
    if function == "sum":
        f[has] = sums[has]
    elif function == "min":
        f[has] = mins[has]
    elif function == "max":
        f[has] = maxs[has]
    else:  # avg: f32 sum / count (AveragePayloadFunction.java:39-41)
        f[has] = (sums[has] / cnt[has].astype(np.float32)).astype(np.float32)
    np.copyto(f, np.float32(0.0), where=~(f >= 0))  # catches negatives AND NaN
    return f


def _flat_payload_stream(ctx: ChunkContext, term: str):
    """(docs, tfs, norms, flat payload f32, per-doc start bounds)."""
    docs, tfs, norms = ctx.term(term)
    pays = ctx.payloads.get(term)
    if pays is None:
        raise ValueError(f"no payload stream for term {term!r} in this context")
    flat = (
        np.concatenate([np.asarray(p, dtype=np.float32) for p in pays])
        if len(pays)
        else np.empty(0, dtype=np.float32)
    )
    bounds = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
    return docs, tfs, norms, flat, bounds


def _evaluate_payload(spec: PayloadSpec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    if spec.kind == "term":
        docs, tfs, norms, flat, bounds = _flat_payload_stream(ctx, spec.terms[0])
        if not len(docs):
            return EMPTY_I, EMPTY_F
        if spec.check is not None:
            keep = (~np.isnan(flat)) & (flat == np.float32(spec.check[0]))
            freq = np.add.reduceat(keep.astype(np.int64), bounds)
            m = freq > 0
            return docs[m], ctx.score(spec.weight, freq[m].astype(np.float32), norms[m], spec.field)
        cnt, sums, mins, maxs = _payload_segment_aggs(flat, bounds)
        factor = _payload_factor(spec.function, cnt, sums, mins, maxs)
        if not spec.include_span_score:
            return docs, factor
        span = ctx.score(spec.weight, tfs.astype(np.float32), norms, spec.field)
        return docs, (span * factor).astype(np.float32)
    if spec.kind == "or":
        parts = []
        for t in spec.terms:
            docs, tfs, norms, flat, bounds = _flat_payload_stream(ctx, t)
            if len(docs):
                parts.append((docs, tfs, norms, flat, bounds))
        if not parts:
            return EMPTY_I, EMPTY_F
        u_docs = np.unique(np.concatenate([p[0] for p in parts]))
        n = len(u_docs)
        freq = np.zeros(n, dtype=np.float64)
        norms_out = np.zeros(n, dtype=np.int64)
        cnt = np.zeros(n, dtype=np.int64)
        sums = np.zeros(n, dtype=np.float32)
        mins = np.full(n, np.float32(np.inf), dtype=np.float32)
        maxs = np.full(n, np.float32(-np.inf), dtype=np.float32)
        for docs, tfs, norms, flat, bounds in parts:
            mask, idx = _membership(docs, u_docs)
            src = idx[mask]
            if spec.check is not None:
                keep = (~np.isnan(flat)) & (flat == np.float32(spec.check[0]))
                freq[mask] += np.add.reduceat(keep.astype(np.int64), bounds)[src]
            else:
                freq[mask] += tfs[src]
                c, s, mn, mx = _payload_segment_aggs(flat, bounds)
                cnt[mask] += c[src]
                sums[mask] = (sums[mask] + s[src]).astype(np.float32)
                np.minimum.at(mins, np.nonzero(mask)[0], mn[src])
                np.maximum.at(maxs, np.nonzero(mask)[0], mx[src])
            norms_out[mask] = norms[src]
        if spec.check is not None:
            m = freq > 0
            return u_docs[m], ctx.score(
                spec.weight, freq[m].astype(np.float32), norms_out[m], spec.field
            )
        factor = _payload_factor(spec.function, cnt, sums, mins, maxs)
        if not spec.include_span_score:
            return u_docs, factor
        span = ctx.score(spec.weight, freq.astype(np.float32), norms_out, spec.field)
        return u_docs, (span * factor).astype(np.float32)
    # ---- exact ordered phrase span ------------------------------------------
    n_slots = len(spec.terms)
    slot_data = []
    for t in spec.terms:
        docs, tfs, norms, flat, bounds = _flat_payload_stream(ctx, t)
        if not len(docs):
            return EMPTY_I, EMPTY_F
        slot_data.append((docs, tfs, norms, flat, bounds))
    cand = slot_data[0][0]
    for docs, *_ in slot_data[1:]:
        cand = cand[np.isin(cand, docs, assume_unique=True)]
    if not len(cand):
        return EMPTY_I, EMPTY_F
    # composite key = cand_index * P + (pos - slot); P bounds positions
    pos_lists = {t: ctx.positions[t] for t in set(spec.terms)}
    keys_per_slot, pay_per_slot = [], []
    P = 0
    slot_flat = []
    for i, t in enumerate(spec.terms):
        docs, tfs, norms, flat_y, _ = slot_data[i]
        mask, idx = _membership(docs, cand)
        sel = idx[mask]  # every cand doc is present in every slot
        plist = pos_lists[t]
        sel_pos = [plist[j] for j in sel]
        lens = np.fromiter((len(x) for x in sel_pos), dtype=np.int64, count=len(sel))
        flat_p = np.concatenate(sel_pos) if len(sel_pos) else np.empty(0, dtype=np.int64)
        # payloads: slice the flat stream to the selected docs
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
        y_parts = [flat_y[starts[j] : starts[j] + tfs[j]] for j in sel]
        flat_yy = (
            np.concatenate(y_parts) if y_parts else np.empty(0, dtype=np.float32)
        )
        doc_ix = np.repeat(np.arange(len(cand), dtype=np.int64), lens)
        slot_flat.append((doc_ix, flat_p, flat_yy))
        if len(flat_p):
            P = max(P, int(flat_p.max()) + n_slots + 1)
    P = max(P, n_slots + 1)
    matched = None
    for i, (doc_ix, flat_p, _) in enumerate(slot_flat):
        keys = doc_ix * P + (flat_p - i)
        keys_per_slot.append(keys)
        matched = keys if matched is None else matched[np.isin(matched, keys, assume_unique=True)]
    if matched is None or not len(matched):
        return EMPTY_I, EMPTY_F
    # per-slot payloads of each matched span (keys are sorted per slot)
    span_pays = []
    for keys, (_, _, flat_yy) in zip(keys_per_slot, slot_flat):
        pos_in = np.searchsorted(keys, matched)
        span_pays.append(flat_yy[pos_in])
    doc_of = matched // P  # cand indices, sorted
    if spec.check is not None:
        kept = np.ones(len(matched), dtype=bool)
        for i, y in enumerate(span_pays):
            kept &= (~np.isnan(y)) & (y == np.float32(spec.check[i]))
        freq = np.bincount(doc_of[kept], minlength=len(cand))
        m = freq > 0
        norms_c = _norms_of(ctx, spec.terms[:1], cand)
        return cand[m], ctx.score(
            spec.weight, freq[m].astype(np.float32), norms_c[m], spec.field
        )
    mdocs = np.unique(doc_of)
    seg = np.searchsorted(doc_of, mdocs)
    cnt = np.zeros(len(mdocs), dtype=np.int64)
    sums = np.zeros(len(mdocs), dtype=np.float32)
    mins = np.full(len(mdocs), np.float32(np.inf), dtype=np.float32)
    maxs = np.full(len(mdocs), np.float32(-np.inf), dtype=np.float32)
    for y in span_pays:
        c, s, mn, mx = _payload_segment_aggs(y, seg)
        cnt += c
        sums = (sums + s).astype(np.float32)
        np.minimum(mins, mn, out=mins)
        np.maximum(maxs, mx, out=maxs)
    factor = _payload_factor(spec.function, cnt, sums, mins, maxs)
    freq = np.bincount(doc_of, minlength=len(cand))[mdocs].astype(np.float32)
    out_docs = cand[mdocs]
    norms_c = _norms_of(ctx, spec.terms[:1], cand)[mdocs]
    if not spec.include_span_score:
        return out_docs, factor
    span = ctx.score(spec.weight, freq, norms_c, spec.field)
    return out_docs, (span * factor).astype(np.float32)


def _slot_conjunction(ctx: ChunkContext, slots) -> np.ndarray:
    """Docs holding a term of every slot, a slot being a tuple of
    alternative terms whose docs union (UnionPostingsEnum in
    MultiPhraseQuery; phrase and span-near slots hold one term)."""
    cand = None
    for slot in slots:
        ds = [d for d in (ctx.term(t)[0] for t in slot) if len(d)]
        if not ds:
            return EMPTY_I
        d = ds[0] if len(ds) == 1 else np.unique(np.concatenate(ds))
        cand = d if cand is None else np.intersect1d(cand, d, assume_unique=True)
    return EMPTY_I if cand is None else cand


def _slot_keys(ctx: ChunkContext, slot, cand: np.ndarray) -> np.ndarray:
    """Sorted flat (cand_index << 32 | position) keys of one slot: the
    union of its terms' keys (co-positioned alternatives count once)."""
    ks = [k for k in (_term_keys_ctx(ctx, t, cand) for t in slot) if len(k)]
    if not ks:
        return EMPTY_I
    return ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks))


def _norms_of(ctx: ChunkContext, terms, docs: np.ndarray) -> np.ndarray:
    """Norm of each doc from the first of ``terms`` holding it (a norm
    is per doc, so every holder stores the same value)."""
    out = got = None
    for t in terms:
        d, _, nm = ctx.term(t)
        if not len(d):
            continue
        idx = np.minimum(np.searchsorted(d, docs), len(d) - 1)
        hit = d[idx] == docs
        if out is None:
            if hit.all():
                return nm[idx]
            out, got = np.where(hit, nm[idx], 0), hit
        else:
            fill = hit & ~got
            out[fill] = nm[idx[fill]]
            got |= hit
    return np.zeros(len(docs), dtype=np.int64) if out is None else out


def _positional_hits(spec, ctx: ChunkContext, cand: np.ndarray, freqs: np.ndarray, norm_terms):
    """(docs, scores) of the candidates with freq > 0, scored by the
    field similarity over their freqs and norms."""
    matched = freqs > 0
    if not matched.any():
        return EMPTY_I, EMPTY_F
    docs = cand[matched]
    norms = _norms_of(ctx, norm_terms, docs)
    return docs, ctx.score(spec.weight, freqs[matched], norms, spec.field)


def _evaluate_spannear(spec: SpanNearSpec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    """Span-near over the positions index: candidate docs = term
    conjunction, then the flat minimal-interval producer over every
    candidate at once; freq = Σ 1/(1+max(gaps, 0)) over intervals with
    gaps = width - n_terms <= slop. Repeated terms and co-positioned
    stacked tokens make zero-width windows, which count as gaps 0."""
    slots = [(t,) for t in spec.terms]
    cand = _slot_conjunction(ctx, slots)
    if not len(cand):
        return EMPTY_I, EMPTY_F
    keys = [_slot_keys(ctx, s, cand) for s in slots]
    S, E = _flat_intervals(keys, spec.in_order, spec.slop, len(cand))
    freqs = _interval_freqs(S, E, len(keys), len(cand))
    return _positional_hits(spec, ctx, cand, freqs.astype(np.float64), spec.terms[:1])


def _fast_nterm_shape(src):
    """(slots, in_order, gaps_cap|None) when ``src`` is the common
    n-slot proximity shape — [maxgaps(g,)] ordered/unordered of n >= 2
    operands, each a bare term OR an or-of-terms (the surround QL's
    ``nW(a, OR(b, c))`` shape) — with all terms DISTINCT across slots;
    else None. Each slot is a tuple of terms; an or-slot's interval
    set is the plain union of its terms' positions (single positions
    never nest), so the flat kernels consume one merged key array per
    slot — the same union trick as multiphrase slots. Fuzz-verified
    freq-identical to eval_source over these shapes."""
    from lucene_spark.search.intervals import IMaxGaps, IOr, IOrdered, ITerm, IUnordered

    cap = None
    if isinstance(src, IMaxGaps):
        cap, src = src.gaps, src.source
    if isinstance(src, (IOrdered, IUnordered)) and len(src.sources) >= 2:
        slots = []
        for x in src.sources:
            if isinstance(x, ITerm):
                slots.append((x.term,))
            elif isinstance(x, IOr) and x.sources and all(
                isinstance(y, ITerm) for y in x.sources
            ):
                slots.append(tuple(y.term for y in x.sources))
            else:
                return None
        flat = [t for s in slots for t in s]
        if len(set(flat)) == len(flat):
            return tuple(slots), isinstance(src, IOrdered), cap
    return None


def _fast_or_shape(src):
    """([(slots, in_order, cap), ...], outer_cap) when ``src`` is
    [maxgaps(g,)] or(...) whose every branch is a fast n-slot shape, a
    bare term, or an or-of-terms — the Intervals.or / atLeast rewrite
    family (Intervals.java:127; flexible fn:atLeast lowers to
    or-of-unordered). Terms may REPEAT across branches (atLeast(2 of 3)
    shares every term pairwise); distinctness is only required within a
    branch (checked by :func:`_fast_nterm_shape`). None → tree
    evaluator."""
    from lucene_spark.search.intervals import IMaxGaps, IOr, ITerm

    cap = None
    if isinstance(src, IMaxGaps):
        cap, src = src.gaps, src.source
    if not isinstance(src, IOr) or not src.sources:
        return None
    branches = []
    for b in src.sources:
        if isinstance(b, ITerm):
            branches.append(("plain", (((b.term,),), True, None)))
            continue
        if isinstance(b, IOr) and b.sources and all(isinstance(y, ITerm) for y in b.sources):
            branches.append(("plain", ((tuple(y.term for y in b.sources),), True, None)))
            continue
        d = _fast_nterm_shape(b)
        if d is not None:
            branches.append(("plain", d))
            continue
        fd = _fast_filtered_shape(b)
        if fd is not None:
            # filtered combinator branch (notContaining / before / ...):
            # its interval set comes from the same range-count machinery
            branches.append(("filtered", fd))
            continue
        return None
    return branches, cap


def _slot_intervals(descr, slot_keys, n_cand: int):
    """Minimal intervals (S, E, covered) of a ``(slots, in_order, cap)``
    shape descriptor, or None when two slots share a (doc, position)
    key: stacked tokens, which the tree evaluator handles. A single
    slot's intervals are its own positions."""
    slots, in_order, cap = descr
    keys = [slot_keys(s) for s in slots]
    if _keys_collide(keys):
        return None
    if len(slots) == 1:
        return keys[0], keys[0], 1
    S, E = _flat_intervals(keys, in_order, cap, n_cand)
    return S, E, len(slots)


def _filtered_intervals_from_keys(ffd, slot_keys, term_keys, n_cand: int):
    """Filtered-shape intervals (S, E, covered) from a
    :func:`_fast_filtered_shape` descriptor, or None on stacked-token
    key collisions (tree evaluator territory). ``slot_keys(slot)`` and
    ``term_keys(term)`` supply flat composite-key position arrays."""
    descr, kind, rterm, pre, post = ffd
    pos = _slot_intervals(descr, slot_keys, n_cand)
    ref = None
    if rterm is not None and rterm[0] == "pairs":
        ref = _slot_intervals(rterm[1], slot_keys, n_cand)
        if ref is None:
            return None
    if pos is None:
        return None
    S, E, covered = pos
    if len(S):
        if kind == "endingwithin":
            # SpanFirst/position-range: exclusive span end <= limit
            # (pre carries the limit, post the minimum start)
            keep = ((E & _LOW32) + 1) <= pre
            if post:
                keep &= (S & _LOW32) >= post
        elif ref is not None:
            Sr, Er, _ = ref
            exists = np.zeros(len(S), dtype=bool)
            if len(Sr):
                # the producers order starts per doc only: containment
                # needs one global start order for the prefix-max
                o = np.argsort(Sr, kind="stable")
                Sr, Er = Sr[o], Er[o]
                pref = np.maximum.accumulate(Er)
                idx = np.searchsorted(Sr, S, side="right") - 1
                valid = idx >= 0
                exists[valid] = pref[idx[valid]] >= E[valid]
            keep = exists if kind == "containedby" else ~exists
        else:
            keep = _filtered_interval_keep(S, E, term_keys(rterm[1]), kind, pre, post)
        S, E = S[keep], E[keep]
    return S, E, covered


def _fast_filtered_shape(src):
    """Descriptor for filtered combinators whose positive operand is a
    fast shape (bare term, or [maxgaps] ordered/unordered of distinct
    terms) and whose filter operand is a bare or extend-wrapped term:
    ((terms, in_order, cap), kind, ref_term, pre, post), else None.

    Every such filter reduces to a per-interval RANGE COUNT of the
    reference term's positions over the flat composite keys — e.g.
    notContaining keeps [s,e] with no ref position in [s+pre, e-post]
    (an extended subtrahend [p-pre, p+post] nests iff p lands there) —
    so the whole evaluation is searchsorted arithmetic, no per-doc
    Python (VERDICT r2: the last per-candidate loops in the query
    path)."""
    from lucene_spark.search.intervals import (
        IAfter,
        IBefore,
        IContainedBy,
        IContaining,
        IExtend,
        INonOverlapping,
        INotContainedBy,
        INotContaining,
        IOverlapping,
        ITerm,
    )

    kinds = {
        INotContaining: ("notcontaining", "minuend", "subtrahend"),
        IContaining: ("containing", "big", "small"),
        INonOverlapping: ("nonoverlapping", "minuend", "subtrahend"),
        IOverlapping: ("overlapping", "source", "reference"),
        IBefore: ("before", "source", "reference"),
        IAfter: ("after", "source", "reference"),
        IContainedBy: ("containedby", "small", "big"),
        INotContainedBy: ("notcontainedby", "small", "big"),
    }
    from lucene_spark.search.intervals import IEndingWithin, IPositionRange

    if isinstance(src, (IEndingWithin, IPositionRange)):
        # unary position filters: pre carries the exclusive end limit,
        # post the minimum start (0 for SpanFirst/IEndingWithin)
        lo = src.start if isinstance(src, IPositionRange) else 0
        pos_op = src.source
        if isinstance(pos_op, ITerm):
            return (((pos_op.term,),), True, None), "endingwithin", None, src.limit, lo
        pd = _fast_nterm_shape(pos_op)
        if pd is None:
            return None
        return pd, "endingwithin", None, src.limit, lo
    info = kinds.get(type(src))
    if info is None:
        return None
    kind, pos_attr, ref_attr = info
    pos_op, ref_op = getattr(src, pos_attr), getattr(src, ref_attr)
    pre = post = 0
    if isinstance(ref_op, IExtend):
        pre, post, ref_op = ref_op.before, ref_op.after, ref_op.source
    if isinstance(pos_op, ITerm):
        pos_descr = (((pos_op.term,),), True, None)
    else:
        pos_descr = _fast_nterm_shape(pos_op)
        if pos_descr is None:
            return None
    if isinstance(ref_op, ITerm):
        return pos_descr, kind, ("term", ref_op.term), pre, post
    if kind in ("containedby", "notcontainedby") and pre == 0 and post == 0:
        # containment in a PAIR-SOURCE big (Intervals.within shape):
        # exists big with S <= s and e <= E ⇔ prefix-max of big ends
        # over bigs with start <= s reaches e (composite keys keep the
        # test doc-local for free)
        ref_descr = _fast_nterm_shape(ref_op)
        if ref_descr is not None:
            return pos_descr, kind, ("pairs", ref_descr), 0, 0
    return None


def _filtered_interval_keep(
    S: np.ndarray, E: np.ndarray, Kc: np.ndarray, kind: str, pre: int, post: int
) -> np.ndarray:
    """Boolean keep-mask over minimal intervals (composite-key S/E) for
    one filtered combinator with a (pre, post)-extended single-position
    reference whose flat sorted keys are ``Kc``. Every reference point
    p yields the widened interval [max(0, p-pre), p+post] and ALL of
    them participate (ExtendedIntervalIterator.java:52-79 streams
    without re-minimalizing; NonOverlappingIntervalsSource.java:64-80
    checks every subtrahend interval), incl. the zero-start containment
    special case for clipped points."""
    sp = (S & _LOW32).astype(np.int64)
    ep = (E & _LOW32).astype(np.int64)
    hi_doc = S & ~_LOW32

    def _exists(lo, hi):
        lo_c = np.maximum(lo, 0)
        rng_valid = (hi >= lo_c) & (hi >= 0)
        hi_c = np.clip(hi, 0, int(_LOW32))
        cnt = np.searchsorted(Kc, hi_doc | hi_c, side="right") - np.searchsorted(
            Kc, hi_doc | lo_c, side="left"
        )
        return rng_valid & (cnt > 0)

    if kind in ("notcontaining", "containing"):
        # [max(0, p-pre), p+post] nests in [s,e] ⇔ p in [s+pre, e-post];
        # a CLIPPED point (p < pre, start 0) nests iff s == 0 and
        # p + post <= e
        exists = _exists(sp + pre, ep - post)
        if pre > 0:
            clip = _exists(
                np.zeros(len(S), dtype=np.int64),
                np.minimum(np.int64(pre - 1), ep - post),
            )
            exists = exists | (clip & (sp == 0))
    elif kind in ("nonoverlapping", "overlapping"):
        exists = _exists(sp - post, ep + pre)
    elif kind in ("containedby", "notcontainedby"):
        exists = _exists(ep - post, sp + pre)
    elif kind == "before":
        exists = _exists(ep + pre + 1, np.full(len(S), int(_LOW32), dtype=np.int64))
    else:  # after
        exists = _exists(np.zeros(len(S), dtype=np.int64), sp - post - 1)
    if kind in ("containing", "overlapping", "before", "after", "containedby"):
        return exists
    return ~exists


def _or_intervals(branch_ivs: list[tuple[np.ndarray, np.ndarray, int]]):
    """Union-minimalize branch interval sets into (S, E, covered) — the
    vectorized twin of intervals._minimalize (DisjunctionIntervalsSource
    semantics: dedupe identical spans keeping max covered, drop spans
    properly containing another span of the union), globally sorted by
    start. All arrays are composite doc<<32|pos keys, so every
    comparison is automatically per-doc (doc bits dominate — a later
    doc's end can never fake containment in an earlier doc)."""
    parts = [(S, E, c) for S, E, c in branch_ivs if len(S)]
    if not parts:
        return EMPTY_I, EMPTY_I, EMPTY_I
    S = np.concatenate([p[0] for p in parts])
    E = np.concatenate([p[1] for p in parts])
    C = np.concatenate([np.full(len(p[0]), p[2], dtype=np.int64) for p in parts])
    order = np.lexsort((-C, E, S))
    S, E, C = S[order], E[order], C[order]
    # dedupe identical (start, end): first occurrence carries max covered
    keep = np.ones(len(S), dtype=bool)
    keep[1:] = (S[1:] != S[:-1]) | (E[1:] != E[:-1])
    S, E, C = S[keep], E[keep], C[keep]
    # same start: the shortest end survives (a longer same-start span
    # properly contains it)
    keep = np.ones(len(S), dtype=bool)
    keep[1:] = S[1:] != S[:-1]
    S, E, C = S[keep], E[keep], C[keep]
    # (s,e) properly contains a later-starting span iff some later row
    # has end <= e — suffix-min of ends, excluding self
    if len(S) > 1:
        sufmin = np.minimum.accumulate(E[::-1])[::-1]
        nxt = np.empty(len(S), dtype=np.int64)
        nxt[:-1] = sufmin[1:]
        nxt[-1] = _I64_MAX
        keep = nxt > E
        S, E, C = S[keep], E[keep], C[keep]
    return S, E, C


def _interval_flat(src, slot_keys, term_keys, n_cand: int):
    """Flat lowering of an interval source over every candidate doc at
    once: (S, E, covered, cap) for :func:`_interval_freqs`, or None
    when the shape is outside the flat family (n-slot proximity,
    filtered combinators, or-of-those) or its inputs collide — the tree
    evaluator's territory. ``slot_keys(slot)`` / ``term_keys(term)``
    supply the flat composite-key position arrays."""
    d = _fast_nterm_shape(src)
    if d is not None:
        iv = _slot_intervals(d, slot_keys, n_cand)
        return None if iv is None else (*iv, None)
    ff = _fast_filtered_shape(src)
    if ff is not None:
        iv = _filtered_intervals_from_keys(ff, slot_keys, term_keys, n_cand)
        return None if iv is None else (*iv, None)
    orr = _fast_or_shape(src)
    if orr is None:
        return None
    branches, outer_cap = orr
    branch_ivs = []
    for tag, descr in branches:
        if tag == "filtered":
            iv = _filtered_intervals_from_keys(descr, slot_keys, term_keys, n_cand)
        else:
            iv = _slot_intervals(descr, slot_keys, n_cand)
        if iv is None:
            return None
        branch_ivs.append(iv)
    return (*_or_intervals(branch_ivs), outer_cap)


def _evaluate_interval(spec: IntervalSpec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    """Interval-algebra kernel: doc-level candidate pruning via the
    source's conjunction/union structure, then minimal-interval
    evaluation over the positions index — the flat lowering
    (:func:`_interval_flat`) over every candidate at once, or the
    per-candidate tree evaluator for the shapes and stacked-token
    inputs outside it (named in the flat-kernel header below). freq
    accumulates 1/(1 + gaps) per emitted interval with
    gaps = max(0, width - covered) (overlapping unordered
    operands can cover more than the width; clamped like
    SloppyPhraseMatcher clamps negative slop)."""
    from lucene_spark.search.intervals import candidate_docs, eval_source

    cand = candidate_docs(spec.source, {t: ctx.term(t)[0] for t in spec.terms})
    if cand is None or not len(cand):
        return EMPTY_I, EMPTY_F
    n = len(cand)
    flat = _interval_flat(
        spec.source,
        lambda slot: _slot_keys(ctx, slot, cand),
        lambda t: _term_keys_ctx(ctx, t, cand),
        n,
    )
    if flat is None:
        # per-candidate tree path over slices of the flat position
        # buffers; its intervals feed the same accumulator
        rows = {}
        for t in spec.terms:
            d = ctx.term(t)[0]
            if len(d):
                mask, idx = _membership(d, cand)
                pos, offs = _flat_of(ctx, t)
                rows[t] = (mask, offs[idx], offs[idx + 1], pos)
        S, E, C = [], [], []
        for ci in range(n):

            def pos_of(t: str, _ci=ci):
                r = rows.get(t)
                if r is None or not r[0][_ci]:
                    return EMPTY_I
                return r[3][r[1][_ci] : r[2][_ci]]

            hi = ci << 32
            for s, e, c in eval_source(spec.source, pos_of):
                S.append(hi | s)
                E.append(hi | e)
                C.append(c)
        flat = (
            np.array(S, dtype=np.int64),
            np.array(E, dtype=np.int64),
            np.array(C, dtype=np.int64),
            None,
        )
    S, E, covered, cap = flat
    freqs = _interval_freqs(S, E, covered, n, cap).astype(np.float64)
    if spec.score_mode == "saturation":
        # IntervalScoreFunction.SaturationFunction: weight *
        # (1 - pivot/(freq + pivot)) in float32, norm-free
        matched = freqs > 0
        if not matched.any():
            return EMPTY_I, EMPTY_F
        f = freqs[matched].astype(np.float32)
        p = np.float32(spec.pivot)
        w = np.float32(spec.weight)
        return cand[matched], (w * (np.float32(1.0) - p / (f + p))).astype(np.float32)
    return _positional_hits(spec, ctx, cand, freqs, spec.terms)


def _evaluate_phrase(spec, ctx: ChunkContext, slots) -> tuple[np.ndarray, np.ndarray]:
    """PhraseQuery (one term per slot) and MultiPhraseQuery, whose slot
    postings are the union of its alternative terms (UnionPostingsEnum —
    one flat sorted key array per slot). Candidates = the conjunction of
    the slots; the freq feeds BM25 with the summed-idf weight
    (PhraseWeight).

    slop 0: ExactPhraseMatcher (ExactPhraseMatcher.java:39,109), freq =
    #positions p of slot 0 with p+i present for every slot i. slop > 0
    (SloppyPhraseMatcher.java:53): the reference's priority-queue
    matcher (:func:`_sloppy_freqs`) over every candidate at once — a
    match needs matchLength <= slop and contributes 1/(1+matchLength)
    (Similarity.SloppySimScorer weighting), accumulated in float32.
    Slots sharing a term take Lucene's repeat groups
    (SloppyPhraseMatcher.java:286-470, hasMultiTermRpts :435-453,
    :562-585) in the same lockstep: two slots carrying the same term
    never sit on the same token position. No sloppy phrase runs per
    candidate."""
    cand = _slot_conjunction(ctx, slots)
    if not len(cand):
        return EMPTY_I, EMPTY_F
    keys = [_slot_keys(ctx, s, cand) for s in slots]
    if spec.slop == 0:
        freqs = _exact_phrase_freqs_keys(keys, len(cand))
    else:
        freqs = _sloppy_freqs(keys, spec.slop, len(cand), slots).astype(np.float64)
    return _positional_hits(spec, ctx, cand, freqs, slots[0])


def _flat_of(ctx: "ChunkContext", t: str) -> tuple[np.ndarray, np.ndarray]:
    """(flat concatenated positions, doc-boundary offsets[n+1]) of one
    term's position lists — built once per (context, term) and
    memoized, so positional shapes that touch the same term from
    several slots/branches (IOr of unordered pairs, repeated-term
    phrases) never re-flatten it. Offsets come from the tf array (a
    term's per-doc position-list length IS its tf); the flat array is
    zero-copy when the per-doc lists are np.split views of one decode
    buffer (unpack_positions' output shape).

    The one missing-positions check of the positional kernels: a term
    with postings in this context but no position stream raises
    ValueError instead of reading as "no match"."""
    fo = ctx.pos_flats.get(t)
    if fo is not None:
        return fo
    plist = ctx.positions.get(t)
    if plist is None:
        if len(ctx.term(t)[0]):
            raise ValueError(f"no positions available for term {t!r}")
        plist = []
    tfs = ctx.term(t)[1]
    offs = np.zeros(len(plist) + 1, dtype=np.int64)
    if len(plist):
        np.cumsum(np.asarray(tfs[: len(plist)], dtype=np.int64), out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        fo = (EMPTY_I, offs)
    else:
        # zero-copy fast path: unpack_positions carries its flat decode
        # buffer on the returned PositionLists — the contiguity
        # invariant is established at creation, not re-proved here.
        # O(1) sanity: the stashed buffer must be the views' base and
        # cover exactly ``total`` entries (derived shapes — slices,
        # tier concatenations — are plain lists and take the copy path)
        flat = getattr(plist, "flat", None)
        if not (
            flat is not None
            and len(flat) == total
            and len(plist)
            and isinstance(plist[0], np.ndarray)
            and plist[0].base is flat
        ):
            flat = np.concatenate(
                [np.asarray(p, dtype=np.int64) for p in plist if len(p)]
            )
        fo = (flat, offs)
    ctx.pos_flats[t] = fo
    return fo


def _keys_from_flat(
    d: np.ndarray, flat: np.ndarray, offs: np.ndarray, cand: np.ndarray
) -> np.ndarray:
    """Sorted flat (cand_index << 32 | position) keys of one term's
    occurrences in the candidate docs, gathered from its flattened
    positions (see :func:`_flat_of`) — a pure vectorized ragged gather,
    no per-doc Python (positions < 2^32: Lucene caps per-doc positions
    at Integer.MAX_VALUE)."""
    mask, idx = _membership(d, cand)
    ci = np.nonzero(mask)[0].astype(np.int64)
    sel = idx[mask]
    if not len(sel):
        return EMPTY_I
    starts = offs[sel]
    lens = offs[sel + 1] - starts
    tot = int(lens.sum())
    if not tot:
        return EMPTY_I
    di = np.repeat(ci, lens)
    cum = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=cum[1:])
    within = np.arange(tot, dtype=np.int64) - np.repeat(cum, lens)
    pos = flat[np.repeat(starts, lens) + within]
    return (di << np.int64(32)) | pos


def _term_keys_ctx(ctx: "ChunkContext", t: str, cand: np.ndarray) -> np.ndarray:
    """Flat keys of term ``t`` over the candidates: the context's
    memoized flat positions + :func:`_keys_from_flat`."""
    flat, offs = _flat_of(ctx, t)
    return _keys_from_flat(ctx.term(t)[0], flat, offs, cand)


def _exact_phrase_freqs_keys(key_arrays: list[np.ndarray], n_cand: int) -> np.ndarray:
    """Vectorized exact-phrase frequencies over ALL candidate docs at
    once: each slot is one sorted (doc << 32 | position) key array; one
    searchsorted membership test per slot instead of a Python loop per
    doc — the block-at-a-time replacement for doc-at-a-time iteration
    (SURVEY §4.2 disposition of ExactPhraseMatcher.java)."""
    alive = key_arrays[0]
    for i in range(1, len(key_arrays)):
        if not len(alive):
            break
        ki = key_arrays[i]
        if not len(ki):
            return np.zeros(n_cand, dtype=np.float64)
        want = alive + i  # position + i within the same doc
        j = np.searchsorted(ki, want)
        jc = np.minimum(j, len(ki) - 1)
        alive = alive[(j < len(ki)) & (ki[jc] == want)]
    return np.bincount(alive >> np.int64(32), minlength=n_cand).astype(np.float64)


# ---- flat positional kernels ----------------------------------------------
#
# Every positional semantic runs over FLAT composite keys (cand_index << 32
# | position, one sorted array per slot) for every candidate doc at once:
#
# - minimal intervals: one producer per semantic behind _flat_intervals
#   (ordered: mutual-nearest pairs for two slots, the greedy-chain +
#   backward-stretch machine for more; unordered: the closed-form pair
#   windows for two disjoint slots, the sliding-window machine
#   otherwise), and one float32 accumulator, _interval_freqs, deriving
#   every span-near and interval freq from them. Repeated terms and
#   co-positioned stacked tokens run the same machines (their zero-width
#   windows count as gaps 0), so span-near has no per-candidate path.
# - sloppy phrases: one dispatcher, _sloppy_freqs, for phrases,
#   multiphrases and the percolator: the 2-slot merge form for two
#   disjoint slots, the n-slot lockstep otherwise, Lucene's repeat
#   groups (slots sharing a term) included.
#
# The n-slot machines run the per-doc state machines of the scalar
# references (tests/positional_oracle.py) for all docs in lockstep — one
# numpy pass advances one step of every active doc — so each doc emits
# the same sequence and float32 accumulation is bit-identical
# (fuzz-verified in tests/test_sloppy.py / test_spannear.py). Sloppy
# phrases and span-near have no per-candidate path. Interval sources
# run through intervals.eval_source one candidate at a time when two
# slots' keys collide (stacked tokens) or the shape falls outside the
# flat lowering (_interval_flat): a bare top-level term, IMaxWidth,
# IExtend outside a filter's reference, proximity operands other than
# terms and or-of-terms, proximity slots repeating a term, and filters
# whose reference is a proximity (bar a containedBy / notContainedBy
# pair source) or whose positive operand is not a term or proximity.

_HI64 = np.int64((1 << 62))
_LOW32 = np.int64((1 << 32) - 1)
_I64_MAX = np.int64(np.iinfo(np.int64).max)


def _flat_slots(key_arrays: list[np.ndarray], n_cand: int):
    """Split composite (ci<<32|pos) key arrays into per-slot flat
    position arrays plus per-candidate segment bounds. Returns
    (pos_flat[j], seg_start[j], seg_len[j]) triples; positions are RAW
    (not offset-adjusted)."""
    out = []
    for K in key_arrays:
        ci = (K >> np.int64(32)).astype(np.int64)
        pos = (K & _LOW32).astype(np.int64)
        seg_len = np.bincount(ci, minlength=n_cand).astype(np.int64)
        seg_start = np.concatenate([[0], np.cumsum(seg_len)[:-1]]).astype(np.int64)
        out.append((pos, seg_start, seg_len))
    return out


def _init_slot_state(slots, n_cand: int, offsets: bool = False):
    """(pos, ptr, lim, ok_docs) initial lockstep state. Docs missing a
    slot entirely (possible when the caller's candidate set is not a
    full conjunction — NOT-variant filter operands) start inactive with
    sentinel positions instead of reading a neighbor's segment."""
    n = len(slots)
    pos = np.zeros((n_cand, n), dtype=np.int64)
    ptr = np.empty((n_cand, n), dtype=np.int64)
    lim = np.empty((n_cand, n), dtype=np.int64)
    ok = np.ones(n_cand, dtype=bool)
    for j, (P, s, ln) in enumerate(slots):
        ok &= ln > 0
        s_c = np.minimum(s, max(len(P) - 1, 0))
        if len(P):
            pos[:, j] = P[s_c] - (j if offsets else 0)
        ptr[:, j] = s + 1
        lim[:, j] = s + ln
    return pos, ptr, lim, ok


def _keys_collide(key_arrays: list[np.ndarray]) -> bool:
    """True when two slots share a (doc, position) composite key —
    possible only on stacked-token indexes (posInc-0 shingles/ngrams).
    The interval tree evaluator's semantics differ from the flat
    machines' on such inputs (intervals._unordered minimalizes emitted
    windows), so colliding interval inputs take the per-candidate tree
    path."""
    total = sum(len(k) for k in key_arrays)
    if total == 0:
        return False
    return len(np.unique(np.concatenate(key_arrays))) < total


def _flat_intervals(
    keys: list[np.ndarray], in_order: bool, cap, n_cand: int
) -> tuple[np.ndarray, np.ndarray]:
    """Minimal intervals of n >= 2 slots (Intervals.ordered/unordered;
    NearSpansOrdered.java:40 stretch-to-minimal) as flat composite-key
    (start, end) arrays over every candidate doc at once, each doc's
    intervals in ascending start order (docs may interleave). Keeps
    the intervals with gaps = width - n <= cap (None = all)."""
    if n_cand == 0 or any(not len(K) for K in keys):
        return EMPTY_I, EMPTY_I
    S, E = (_ordered_intervals if in_order else _unordered_intervals)(keys, n_cand)
    if cap is not None and len(S):
        keep = (E & _LOW32) - (S & _LOW32) + 1 - len(keys) <= cap
        S, E = S[keep], E[keep]
    return S, E


def _ordered_intervals(keys: list[np.ndarray], n_cand: int) -> tuple[np.ndarray, np.ndarray]:
    """Ordered minimal intervals: mutual-nearest pairs for two slots;
    for more, lockstep rounds of the greedy forward chain (each next
    slot strictly after the previous) plus the backward stretch to the
    latest chain reaching the same end — one round emits one interval
    per live doc, every chain step one composite-key searchsorted
    across all docs."""
    if len(keys) == 2:
        return _mutual_pairs_flat(keys[0], keys[1])
    n = len(keys)
    K0 = keys[0]
    seg_len0 = np.bincount(K0 >> np.int64(32), minlength=n_cand)
    seg_start0 = np.concatenate([[0], np.cumsum(seg_len0)[:-1]]).astype(np.int64)
    cur = K0[seg_start0[seg_len0 > 0]]  # each doc's current chain start
    S_out: list[np.ndarray] = []
    E_out: list[np.ndarray] = []
    while len(cur):
        prev = cur
        okm = np.ones(len(cur), dtype=bool)
        for j in range(1, n):
            Kj = keys[j]
            kk = np.searchsorted(Kj, prev, side="right")
            v = kk < len(Kj)
            kc = np.minimum(kk, len(Kj) - 1)
            v &= (Kj[kc] >> 32) == (prev >> 32)
            okm &= v
            prev = np.where(okm, Kj[kc], prev)
        cur, prev = cur[okm], prev[okm]
        if not len(cur):
            break
        c = prev
        for j in range(n - 2, -1, -1):
            Kj = keys[j]
            c = Kj[np.searchsorted(Kj, c, side="left") - 1]
        S_out.append(c)
        E_out.append(prev)
        # next chain starts strictly past this one's start
        kk = np.searchsorted(K0, c, side="right")
        v = kk < len(K0)
        kc = np.minimum(kk, len(K0) - 1)
        v &= (K0[kc] >> 32) == (c >> 32)
        cur = K0[kc[v]]
    if not S_out:
        return EMPTY_I, EMPTY_I
    return np.concatenate(S_out), np.concatenate(E_out)


def _mutual_pairs_flat(A: np.ndarray, B: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Ordered 2-slot minimal intervals over flat key arrays:
    mutual-nearest (a, b) pairs — b is the first B-key after a, a is the
    last A-key before b, both in the same doc (the scalar two-pointer is
    tests/positional_oracle.py's _mutual_pairs_py). One searchsorted +
    two masks; pairs come out in A order, so starts ascend."""
    if not len(A) or not len(B):
        return EMPTY_I, EMPTY_I
    j = np.searchsorted(B, A, side="right")
    valid = j < len(B)
    jc = np.minimum(j, len(B) - 1)
    valid &= (B[jc] >> 32) == (A >> 32)
    Ai, Bj = A[valid], B[jc[valid]]
    if not len(Ai):
        return EMPTY_I, EMPTY_I
    keep = np.ones(len(Bj), dtype=bool)
    keep[:-1] = Bj[1:] != Bj[:-1]  # duplicate next-b → keep the LAST a
    return Ai[keep], Bj[keep]


def _unordered_intervals(keys: list[np.ndarray], n_cand: int) -> tuple[np.ndarray, np.ndarray]:
    """Unordered minimal intervals. Two disjoint slots take the closed
    form: A-started windows [a, first B >= a] kept iff the next A lies
    beyond the window (else the later start yields a contained
    interval), plus the symmetric B-started windows. Otherwise — more
    slots, or two slots sharing a key (repeated terms, stacked tokens),
    where the closed form differs — the sliding window over the merged
    streams runs in lockstep: one numpy pass advances every live doc's
    minimum, emitting a window when that grows the right edge or
    exhausts its slot (ties advance the lowest slot)."""
    if len(keys) == 2:
        A, B = keys
        ja = np.searchsorted(B, A)  # first B >= a
        hiA = B[np.minimum(ja, len(B) - 1)]
        if not (hiA == A).any():  # disjoint: >= and > coincide
            va = (ja < len(B)) & ((hiA >> 32) == (A >> 32))
            nxtA = np.empty(len(A), dtype=np.int64)
            nxtA[:-1] = A[1:]
            nxtA[-1] = _I64_MAX
            va &= nxtA > hiA
            jb = np.searchsorted(A, B)  # first A >= b
            hiB = A[np.minimum(jb, len(A) - 1)]
            vb = (jb < len(A)) & ((hiB >> 32) == (B >> 32))
            nxtB = np.empty(len(B), dtype=np.int64)
            nxtB[:-1] = B[1:]
            nxtB[-1] = _I64_MAX
            vb &= nxtB > hiB
            S = np.concatenate([A[va], B[vb]])
            E = np.concatenate([hiA[va], hiB[vb]])
            order = np.argsort(S, kind="stable")
            return S[order], E[order]
    slots = _flat_slots(keys, n_cand)
    pos, ptr, lim, active = _init_slot_state(slots, n_cand)
    hi = pos.max(axis=1)
    S_out: list[np.ndarray] = []
    E_out: list[np.ndarray] = []
    while True:
        act = np.nonzero(active)[0]
        if not len(act):
            break
        lo_slot = np.argmin(pos[act], axis=1).astype(np.int64)
        lo = pos[act, lo_slot]
        window_hi = hi[act]
        exhausted = ptr[act, lo_slot] >= lim[act, lo_slot]
        newpos = np.empty(len(act), dtype=np.int64)
        for j, (P, _s, _ln) in enumerate(slots):
            m = (lo_slot == j) & ~exhausted
            if m.any():
                newpos[m] = P[ptr[act[m], j]]
        grow = ~exhausted & (newpos > window_hi)
        em = np.nonzero(exhausted | grow)[0]
        if len(em):
            ci = act[em].astype(np.int64) << np.int64(32)
            S_out.append(ci | lo[em])
            E_out.append(ci | window_hi[em])
        lv = np.nonzero(~exhausted)[0]
        pos[act[lv], lo_slot[lv]] = newpos[lv]
        ptr[act[lv], lo_slot[lv]] += 1
        g = np.nonzero(grow)[0]
        hi[act[g]] = newpos[g]
        active[act[exhausted]] = False
    if not S_out:
        return EMPTY_I, EMPTY_I
    return np.concatenate(S_out), np.concatenate(E_out)


def _interval_freqs(S: np.ndarray, E: np.ndarray, covered, n_cand: int, cap=None) -> np.ndarray:
    """float32 freq per candidate: Σ 1/(1 + max(gaps, 0)) over the
    intervals, gaps = width - covered (an int, or one per interval),
    keeping those with gaps <= cap (None = all). np.add.at adds in array
    order, so each doc accumulates in its intervals' start order — the
    float32 sequence of the per-doc evaluators (SpanScorer /
    IntervalScorer sloppy freq)."""
    freqs = np.zeros(n_cand, dtype=np.float32)
    if not len(S):
        return freqs
    gaps = (E & _LOW32) - (S & _LOW32) + 1 - covered
    if cap is not None:
        keep = gaps <= cap
        S, gaps = S[keep], gaps[keep]
    one = np.float32(1.0)
    np.add.at(freqs, S >> np.int64(32), one / (one + np.maximum(gaps, 0).astype(np.float32)))
    return freqs


def _sloppy_freqs(keys: list[np.ndarray], slop: int, n_cand: int, slot_terms) -> np.ndarray:
    """Sloppy-phrase freqs (float32 per candidate) of the slots whose
    flat keys are ``keys``; ``slot_terms`` holds each slot's terms. The
    reference priority-queue matcher (SloppyPhraseMatcher.java:174-206)
    runs over every candidate at once: two slots with no term in common
    take the 2-slot merge form, everything else the n-slot lockstep,
    which also carries Lucene's repeat groups for slots sharing a term."""
    terms = [t for slot in slot_terms for t in slot]
    if len(keys) == 2 and len(set(terms)) == len(terms):
        return _sloppy2_flat_freqs(keys[0], keys[1], slop, n_cand)
    return _sloppy_flat_freqs_n(keys, slop, n_cand, slot_terms)


def _sloppy2_flat_freqs(A: np.ndarray, B: np.ndarray, slop: int, n_cand: int) -> np.ndarray:
    """2-slot sloppy matcher over every candidate at once. The reference
    PQ walk emits one match per ADJACENT CROSS-LIST pair in the merged
    order of (A-positions + 1) and B-positions, matchLength = the pair's
    gap, in merged order (the reference's float32 add sequence). A tie
    (equal keys) opens with its predecessor's slot, slot 0 at a doc
    start (PhraseQueue pa <= pb rule). A tie right behind another tie
    in one doc has that pair's second element as predecessor, so such a
    chain alternates: pair j of a chain opens with slot 1 iff j plus the
    slot before the chain is odd.

    The merged order is never built: the shorter list X is located in
    the longer Y, ties fix how many Y elements precede each x, and each
    run of X elements emits its two cross pairs (Y before its first x, Y
    after its last), which in X order is merged order. Fuzz-verified
    bit-equal to positional_oracle._sloppy_freq2."""
    freqs = np.zeros(n_cand, dtype=np.float32)
    if not len(A) or not len(B):
        return freqs
    P = A + 1  # phrase offset: slot 1 is expected at pos + 1
    x0 = len(P) <= len(B)  # X is slot 0
    X, Y = (P, B) if x0 else (B, P)
    lo = np.searchsorted(Y, X)  # Y elements strictly before each x
    tie = Y[np.minimum(lo, len(Y) - 1)] == X
    ny = lo + tie  # ... and x's tie, placed first until resolved below
    doc = X >> 32
    t = np.nonzero(tie)[0]
    if len(t):
        lt, tp = lo[t], t - 1
        # x_{j-1} precedes the pair when no Y lies between them (for
        # t == 0, ny[-1] > lt: the wrap never matches)
        px = (ny[tp] == lt) & (doc[tp] == doc[t])
        if x0:  # the pair opens with Y (slot 1) iff Y precedes it in this doc
            opens_y = ~px & (lt > 0) & ((Y[lt - 1] >> 32) == doc[t])
        else:  # ... with Y (slot 0) unless X precedes it in this doc
            opens_y = ~px
        cont = px & tie[tp]  # right behind the previous tie pair
        if cont.any():
            i = np.arange(len(t))
            f = np.maximum.accumulate(np.where(cont, 0, i))  # chain start
            opens_y = opens_y[f] != ((i - f) % 2 == 1)
        ny[t] -= ~opens_y
    # candidate pairs in merged order: (Y before, x) where x opens a run
    # of X elements, (x, Y after) where x closes one
    cand = np.empty((len(X), 2), dtype=bool)
    np.greater(ny[1:], ny[:-1], out=cand[1:, 0])
    cand[:-1, 1] = cand[1:, 0]
    cand[0, 0] = ny[0] > 0
    cand[-1, 1] = ny[-1] < len(Y)
    e = np.nonzero(cand.ravel())[0]
    xi = e >> 1
    y = Y[ny[xi] - 1 + (e & 1)]
    gaps = np.abs(y - X[xi])
    keep = (gaps <= slop) & ((y >> 32) == doc[xi])
    one = np.float32(1.0)
    np.add.at(freqs, doc[xi[keep]], one / (one + gaps[keep].astype(np.float32)))
    return freqs


def _repeat_groups(slot_terms) -> tuple[list[list[int]], bool]:
    """Lucene's repeat groups (SloppyPhraseMatcher.java:562-663): the
    connected components, members in offset order, of the slots linked
    by sharing a term that >= 2 slots carry; and whether a grouped slot
    has several terms (hasMultiTermRpts)."""
    cnt: dict = {}
    for s in slot_terms:
        for t in set(s):
            cnt[t] = cnt.get(t, 0) + 1
    comps: list[tuple[list[int], set]] = []
    for i, s in enumerate(slot_terms):
        ts = {t for t in s if cnt[t] > 1}
        if ts:
            hit = [c for c in comps if c[1] & ts]
            comps = [c for c in comps if not c[1] & ts]
            members = sorted([i, *(m for c in hit for m in c[0])])
            comps.append((members, ts.union(*(c[1] for c in hit))))
    groups = [members for members, _ in comps]
    return groups, any(len(set(slot_terms[i])) > 1 for g in groups for i in g)


def _sloppy_flat_freqs_n(
    key_arrays: list[np.ndarray], slop: int, n_cand: int, slot_terms=None
) -> np.ndarray:
    """The reference sloppy matcher (SloppyPhraseMatcher.java:174-206
    nextMatch; PhraseQueue (position, offset) order) for n slots over
    every candidate doc at once: each numpy iteration performs one
    advancePP per active doc, so every doc emits the reference's match
    sequence and float32 accumulation (PhraseScorer.java:75-79).

    Slots sharing a term (``slot_terms``; None = all distinct) form
    repeat groups whose members never share a token position. Init
    (advanceRepeatGroups, :435-467): member j of a single-term group
    starts j advances in; multi-term groups run the collide loop, one
    cursor per doc, advancing the lesser of two colliding members. After
    each lead advance, advanceRpts (:286-330) advances the lesser (by
    position, then offset) of two same-position group-mates until none
    collide. A doc whose advance runs out takes the final
    positioned=false check. Fuzz-verified bit-equal to
    positional_oracle._lucene_sloppy_freq."""
    n = len(key_arrays)
    freqs = np.zeros(n_cand, dtype=np.float32)
    if n_cand == 0 or any(not len(K) for K in key_arrays):
        return freqs
    slots = _flat_slots(key_arrays, n_cand)
    offs = np.arange(n, dtype=np.int64)
    pos, ptr, lim, ok_docs = _init_slot_state(slots, n_cand, offsets=True)
    # one flat position buffer: cursors become global indices into it
    base = np.cumsum([0] + [len(P) for P, _s, _ln in slots[:-1]]).astype(np.int64)
    flat = np.concatenate([P for P, _s, _ln in slots])
    ptr += base
    lim += base
    end = pos.max(axis=1)

    def advance(rows: np.ndarray, sl: np.ndarray) -> np.ndarray:
        """advancePP of slot sl[i] in doc rows[i]; False where exhausted."""
        moved = ptr[rows, sl] < lim[rows, sl]
        r, s = rows[moved], sl[moved]
        p = flat[ptr[r, s]] - s
        pos[r, s] = p
        ptr[r, s] += 1
        end[r] = np.maximum(end[r], p)
        return moved

    groups, has_multi = _repeat_groups(slot_terms) if slot_terms else ([], False)
    mates = np.zeros((n, n), dtype=bool)  # same repeat group, other slot
    for g in groups:
        mates[np.ix_(g, g)] = True
    np.fill_diagonal(mates, False)

    def lesser_collider(rows: np.ndarray, sl: np.ndarray):
        """(hit, lesser): whether slot sl[i] shares its token position
        with a group-mate in doc rows[i] (collide: the first such mate in
        offset order), and the lesser of the two by (position, offset)."""
        tp = pos[rows] + offs
        same = mates[sl] & (tp == (pos[rows, sl] + sl)[:, None])
        hit = same.any(axis=1)
        k = same.argmax(axis=1)
        first = pos[rows, sl] * n + sl < pos[rows, k] * n + k
        return hit, np.where(first, sl, k)

    for g in groups:
        if has_multi:
            garr = np.asarray(g, dtype=np.int64)
            cur = np.zeros(n_cand, dtype=np.int64)
            while True:
                rows = np.nonzero(ok_docs & (cur < len(g)))[0]
                if not len(rows):
                    break
                hit, sl = lesser_collider(rows, garr[cur[rows]])
                cur[rows[~hit]] += 1
                rows, sl = rows[hit], sl[hit]
                ok_docs[rows[~advance(rows, sl)]] = False
        else:
            for j, i in enumerate(g):
                for _ in range(j):
                    rows = np.nonzero(ok_docs)[0]
                    ok_docs[rows[~advance(rows, np.full(len(rows), i))]] = False

    lead = np.zeros(n_cand, dtype=np.int64)
    next_top = np.zeros(n_cand, dtype=np.int64)
    match_len = np.zeros(n_cand, dtype=np.int64)

    def pop(rows: np.ndarray) -> None:
        """pq.pop(): the lead, pq.top().position after it, matchLength."""
        order = pos[rows] * n + offs  # PhraseQueue order: (position, offset)
        lead[rows] = l = np.argmin(order, axis=1)
        order[np.arange(len(rows)), l] = _HI64
        next_top[rows] = order.min(axis=1) // n
        match_len[rows] = end[rows] - pos[rows, l]

    pop(np.arange(n_cand))
    one = np.float32(1.0)
    active = ok_docs
    while True:
        act = np.nonzero(active)[0]
        if not len(act):
            break
        moved = advance(act, lead[act])
        if groups:  # advanceRpts: resolve the lead's collisions
            idx = np.nonzero(moved)[0]
            sl = lead[act[idx]]
            while len(idx):
                hit, sl = lesser_collider(act[idx], sl)
                idx, sl = idx[hit], sl[hit]
                ran = advance(act[idx], sl)
                moved[idx[~ran]] = False
                idx, sl = idx[ran], sl[ran]
        stop = act[~moved]
        if len(stop):  # positioned=false path: final emission check
            ml = match_len[stop]
            ok = ml <= slop
            freqs[stop[ok]] += one / (one + ml[ok].astype(np.float32))
            active[stop] = False
        live = act[moved]
        if not len(live):
            continue
        lpos = pos[live, lead[live]]
        crossed = lpos > next_top[live]
        nc = live[~crossed]
        if len(nc):  # keep minimizing the current match length
            match_len[nc] = np.minimum(match_len[nc], end[nc] - lpos[~crossed])
        cr = live[crossed]
        if len(cr):  # done minimizing: emit if within slop, then re-pop
            ml = match_len[cr]
            ok = ml <= slop
            freqs[cr[ok]] += one / (one + ml[ok].astype(np.float32))
            pop(cr)
    return freqs


def _evaluate_bool(spec: BoolSpec, ctx: ChunkContext) -> tuple[np.ndarray, np.ndarray]:
    musts = [evaluate(s, ctx) for s in spec.musts]
    filters = [evaluate(s, ctx)[0] for s in spec.filters]
    shoulds = [evaluate(s, ctx) for s in spec.shoulds]
    nots = [evaluate(s, ctx)[0] for s in spec.nots]

    if musts or filters:
        cand: np.ndarray | None = None
        for d, _ in musts:
            cand = d if cand is None else np.intersect1d(cand, d, assume_unique=True)
        for d in filters:
            cand = d if cand is None else np.intersect1d(cand, d, assume_unique=True)
    else:
        msm = max(spec.msm, 1)
        alldocs = np.concatenate([d for d, _ in shoulds]) if shoulds else EMPTY_I
        uniq, counts = np.unique(alldocs, return_counts=True)
        cand = uniq[counts >= msm]
    if spec.msm > 0 and (musts or filters) and shoulds:
        alldocs = np.concatenate([d for d, _ in shoulds])
        uniq, counts = np.unique(alldocs, return_counts=True)
        ok = uniq[counts >= spec.msm]
        cand = np.intersect1d(cand, ok, assume_unique=True)
    for d in nots:
        if len(d) and len(cand):
            cand = cand[~np.isin(cand, d, assume_unique=False)]
    if not len(cand):
        return EMPTY_I, EMPTY_F
    acc = np.zeros(len(cand), dtype=np.float64)  # double accumulation
    for d, sc in musts + shoulds:
        mask, idx = _membership(d, cand)
        acc[mask] += sc[idx[mask]].astype(np.float64)
    return cand, acc.astype(np.float32)


def top_k_from_arrays(docs: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top-k with Lucene tie-break: score desc, doc_id asc
    (HitQueue.java:78-84; TopDocs.merge TopDocs.java:202-215)."""
    n = len(docs)
    if n == 0:
        return []
    if n > k:
        # exact: sort all candidates whose score >= kth partition score
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        cand_idx = np.nonzero(scores >= kth)[0]
    else:
        cand_idx = np.arange(n)
    order = np.lexsort((docs[cand_idx], -scores[cand_idx].astype(np.float64)))
    top = cand_idx[order[:k]]
    return [(int(docs[i]), float(scores[i])) for i in top]
