"""Query AST + Lucene-equivalent logical rewrites.

Node set mirrors the reference query classes (lucene/core/src/java/org/
apache/lucene/search/): TermQuery, BooleanQuery/BooleanClause,
PhraseQuery, PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery,
TermInSetQuery, SynonymQuery, DisjunctionMaxQuery, BoostQuery,
ConstantScoreQuery, MatchAll/MatchNoDocsQuery.

``rewrite`` ports the algebraic simplifications of
BooleanQuery.rewrite (BooleanQuery.java:241-398) and runs them to a
fixpoint, the way IndexSearcher.rewrite loops until the query stops
changing (IndexSearcher.java:765-774). These rewrites are OURS (query
AST level), deliberately not Catalyst rules: they run on the driver in
microseconds before any Spark plan is built.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from enum import Enum
from typing import Optional


class Occur(Enum):
    MUST = "+"
    FILTER = "#"
    SHOULD = ""
    MUST_NOT = "-"


class Query:
    """Marker base class (immutable, hashable nodes)."""


@dataclass(frozen=True)
class TermQuery(Query):
    term: str
    field: str = "content"


@dataclass(frozen=True)
class BooleanQuery(Query):
    clauses: tuple[tuple[Occur, Query], ...]
    minimum_should_match: int = 0


@dataclass(frozen=True)
class PhraseQuery(Query):
    terms: tuple[str, ...]
    slop: int = 0
    field: str = "content"


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with alternatives per position (MultiPhraseQuery.java):
    e.g. (("table","merge"), ("hash",)) matches "table hash" or
    "merge hash"."""

    positions: tuple[tuple[str, ...], ...]
    slop: int = 0
    field: str = "content"


@dataclass(frozen=True)
class PrefixQuery(Query):
    """``rewrite``: "constant" (CONSTANT_SCORE_REWRITE, the default),
    "scoring_boolean" (SCORING_BOOLEAN_REWRITE — SHOULD boolean of
    every expansion, each scored with its own idf,
    ScoringRewrite.java:40-55), or "top_terms" (TopTermsScoring-
    BooleanQueryRewrite — keep the ``top_n`` best expansions; with the
    equal-boost terms a non-fuzzy expansion produces, the reference pq
    keeps the lexicographically SMALLEST terms,
    TopTermsRewrite.java:119-122)."""

    prefix: str
    field: str = "content"
    rewrite: str = "constant"
    top_n: int = 1024  # IndexSearcher maxClauseCount role


@dataclass(frozen=True)
class WildcardQuery(Query):
    """``rewrite`` as in PrefixQuery."""

    pattern: str  # Lucene wildcard syntax: * (any run), ? (one char)
    field: str = "content"
    rewrite: str = "constant"
    top_n: int = 1024


@dataclass(frozen=True)
class RegexpQuery(Query):
    """``rewrite`` as in PrefixQuery."""

    pattern: str
    field: str = "content"
    rewrite: str = "constant"
    top_n: int = 1024


@dataclass(frozen=True)
class FuzzyQuery(Query):
    """``rewrite="constant"`` (this engine's default, the
    CONSTANT_SCORE rewrite shared with the other MultiTermQuery
    shapes); ``rewrite="blended_freq"`` reproduces the REFERENCE's
    default TopTermsBlendedFreqScoringRewrite
    (FuzzyQuery.java:59-62, MultiTermQuery.java:163-200): the top
    ``max_expansions`` expansions by boost become a boolean-rewrite
    BlendedTermQuery (df blended to the max) with per-term boost
    1.0 for an exact match else 1 - ed/min(|candidate|, |term|)
    (FuzzyTermsEnum.java:247-255)."""

    term: str
    max_edits: int = 2  # FuzzyQuery.java:52-54 defaultMaxEdits
    prefix_length: int = 0
    field: str = "content"
    rewrite: str = "constant"
    max_expansions: int = 50  # FuzzyQuery.java:56 defaultMaxExpansions
    # FuzzyQuery.java:57 defaultTranspositions = true: edit distance is
    # optimal-string-alignment (adjacent transposition = ONE edit);
    # False = classic Levenshtein (the SQL-oracle-friendly subset)
    transpositions: bool = True


@dataclass(frozen=True)
class TermInSetQuery(Query):
    terms: tuple[str, ...]
    field: str = "content"


@dataclass(frozen=True)
class TermRangeQuery(Query):
    """Lexicographic term range (TermRangeQuery.java; `[a TO b]` syntax).
    ``None`` bounds are open-ended."""

    lower: Optional[str]
    upper: Optional[str]
    include_lower: bool = True
    include_upper: bool = True
    field: str = "content"


@dataclass(frozen=True)
class FieldValueQuery(Query):
    """Atomic keyword-field equality — StringField semantics
    (StringField.java:27: not tokenized, indexed as a single term).
    Spark disposition per SURVEY §1.1: a plain column-equality filter
    on the docs table (Catalyst pushdown), surfaced as a constant-score
    doc set (CONSTANT_SCORE_REWRITE); in FILTER clauses Lucene strips
    scores anyway (BooleanQuery.rewriteNoScoring)."""

    field: str
    value: str


@dataclass(frozen=True)
class FieldExistsQuery(Query):
    """Docs that have ANY value for a stored field — the
    FieldExistsQuery role (lucene/core/src/java/org/apache/lucene/
    search/FieldExistsQuery.java:42: matches via norms/docValues/
    vector presence). Spark disposition: ``col IS NOT NULL`` on the
    docs table (Catalyst null-count pruning per row group), surfaced
    as a constant-score doc set like FieldValueQuery."""

    field: str


@dataclass(frozen=True)
class FieldRangeQuery(Query):
    """Range over a stored metadata column — the PointRangeQuery role
    (PointRangeQuery.java:50; BKD traversal → SURVEY §2.3 disposition:
    Catalyst range predicate + parquet min-max stats pruning on the
    docs table). Values compare with the column's native type
    (numeric or string)."""

    field: str
    lower: object = None  # None = open bound
    upper: object = None
    include_lower: bool = True
    include_upper: bool = True


@dataclass(frozen=True)
class FieldInSetQuery(Query):
    """DocValuesTermsQuery / SortedSetDocValuesField.newSlowSetQuery
    role (lucene/sandbox DocValuesTermsQuery.java:60-90 — docs whose
    doc-values field holds ANY of the given terms): set membership on
    a stored metadata column, Catalyst ``IN`` predicate (dictionary +
    min-max pruning on the parquet scan), constant score."""

    field: str
    values: tuple


@dataclass(frozen=True)
class MultiRangeQuery(Query):
    """lucene/sandbox MultiRangeQuery.java:45-55: a disjunction of
    point ranges over ONE field evaluated in a single pass ("OR'd
    together" range clauses — the single BKD traversal the sandbox
    query exists for). ``ranges`` are inclusive (lower, upper) pairs;
    None bounds are open. Rewrite merges overlapping 1-D ranges
    (MultiRangeQuery.rewrite:172-188 + mergeOverlappingRanges:197) and
    unwraps a single surviving range to FieldRangeQuery. Spark
    disposition: ONE Catalyst OR-of-BETWEEN predicate on the docs
    table — one scan, parquet min-max pruning per range, constant
    score."""

    field: str
    ranges: tuple  # tuple[(lower|None, upper|None), ...] inclusive


@dataclass(frozen=True)
class RangeFieldQuery(Query):
    """LongRange/DoubleRange field queries (document/RangeFieldQuery
    .java:65-347; LongRange.newIntersectsQuery / newWithinQuery /
    newContainsQuery / newCrossesQuery): each doc stores a RANGE as a
    (lo, hi) column pair; the query relates it to [lower, upper]:

    - ``intersects``: doc range overlaps the query range
    - ``within``:     doc range lies entirely inside the query range
    - ``contains``:   doc range entirely covers the query range
    - ``crosses``:    intersects but NOT within (RangeFieldQuery
      CROSSES.compare :328-345)

    Spark disposition: a Catalyst predicate over the two columns
    (parquet min-max stats prune files exactly like the BKD cells),
    constant score. Bounds are inclusive, matching the reference's
    packed-value comparisons."""

    lo_field: str
    hi_field: str
    lower: object
    upper: object
    relation: str = "intersects"


@dataclass(frozen=True)
class GeoBoxQuery(Query):
    """LatLonPoint.newBoxQuery (LatLonPoint.java:236-266): docs whose
    point lies in [min_lat, max_lat] x [min_lon, max_lon]; a box with
    min_lon > max_lon crosses the dateline and matches the union of
    the two longitude ranges. Spark disposition: Catalyst range
    predicate on the lat/lon doc columns (parquet min-max stats = the
    BKD traversal), constant score."""

    lat_field: str
    lon_field: str
    min_lat: float
    max_lat: float
    min_lon: float
    max_lon: float


@dataclass(frozen=True)
class GeoDistanceQuery(Query):
    """LatLonPoint.newDistanceQuery (LatLonPoint.java:272-297): docs
    within ``radius_m`` meters of (lat, lon) by haversine over the
    earth mean radius (SloppyMath.haversinMeters / GeoUtils
    EARTH_MEAN_RADIUS = 6371008.7714 m). Spark disposition: a
    latitude-band range predicate (pushdown pre-filter, the BKD
    bounding-box phase) AND the exact haversine test in Catalyst trig
    (the two-phase match of Lucene's distance query); constant score."""

    lat_field: str
    lon_field: str
    lat: float
    lon: float
    radius_m: float


@dataclass(frozen=True)
class GeoPolygonQuery(Query):
    """LatLonPoint.newPolygonQuery (LatLonPoint.java; Polygon.java
    shell + holes): docs whose point lies inside the polygon shell and
    outside every hole. Spark disposition: even-odd ray casting as a
    fixed whole-stage-codegen expression (the polygon is a query-time
    constant) AND'd with the shell bounding box for parquet row-group
    pruning (the BKD bounding-box phase); constant score. Documented
    subset: edge-exact boundary points follow the ray-cast convention;
    no dateline-crossing polygons."""

    lat_field: str
    lon_field: str
    points: tuple  # ((lat, lon), ...) shell, open or closed ring
    holes: tuple = ()  # optional rings


@dataclass(frozen=True)
class Geo3DDistanceQuery(Query):
    """Geo3DPoint.newDistanceQuery (spatial3d Geo3DPoint.java): docs
    whose point lies within the GeoStandardCircle of cutoffAngle =
    radius_m / PlanetModel.meanRadius around (lat, lon) —
    central-angle membership over the direction vectors
    (GeoStandardCircle.java:24-64). ``model``: "sphere" | "wgs84"
    (PlanetModel.java:33-35). Spark disposition: latitude-band
    pushdown + an exact dot-product test in Catalyst trig; constant
    score."""

    lat_field: str
    lon_field: str
    lat: float
    lon: float
    radius_m: float
    model: str = "wgs84"


@dataclass(frozen=True)
class Geo3DPolygonQuery(Query):
    """Geo3DPoint.newShapeQuery over a GeoConvexPolygon
    (spatial3d geom/GeoConvexPolygon.java): membership by sidedness
    against each edge's great-circle plane (normals are query-time
    constants). Documented subset: convex, non-dateline-crossing
    rings. Spark disposition: vertex-bbox pushdown + AND of per-edge
    plane dot products in Catalyst trig; constant score."""

    lat_field: str
    lon_field: str
    points: tuple  # ((lat, lon), ...) convex ring, open or closed


@dataclass(frozen=True)
class ShapeBoxQuery(Query):
    """LatLonShape.newBoxQuery (LatLonShapeBoundingBoxQuery.java;
    ShapeField.QueryRelation, ShapeField.java:121-127): docs whose
    indexed GEOMETRY (tessellated triangles in the ``{field}_tris``
    column, LatLonShape.createIndexableFields role) relates to the box
    by ``relation`` ∈ intersects/within/disjoint/contains. Spark
    disposition: scalar bbox columns give the pushed-down coarse phase
    (parquet min-max = BKD traversal); the exact phase is a
    whole-stage-codegen F.exists/F.forall over the triangle array —
    no Python in the plan; constant score."""

    field: str
    min_lat: float
    max_lat: float
    min_lon: float
    max_lon: float
    relation: str = "intersects"


@dataclass(frozen=True)
class ShapePolygonQuery(Query):
    """LatLonShape.newGeometryQuery with a Polygon (LatLonShape.java:
    createIndexableFields + Tessellator.java): the query polygon is
    tessellated at plan time into constant triangles; docs match when
    their indexed geometry relates by ``relation`` ∈
    intersects/within/disjoint (closed-region semantics; CONTAINS is
    box-only, documented subset). Same two-phase Catalyst plan as
    ShapeBoxQuery."""

    field: str
    points: tuple  # ((lat, lon), ...) shell
    holes: tuple = ()  # (((lat, lon), ...), ...)
    relation: str = "intersects"


@dataclass(frozen=True)
class ShapePointQuery(Query):
    """LatLonShape.newGeometryQuery with a Point (LatLonShape.java;
    Point2D role): docs whose indexed geometry contains the query point
    (closed semantics). Relations: intersects / disjoint. Same two-phase
    Catalyst plan as ShapeBoxQuery."""

    field: str
    lat: float
    lon: float
    relation: str = "intersects"


@dataclass(frozen=True)
class ShapeLineQuery(Query):
    """LatLonShape.newLineQuery (LatLonShape.java; Line2D role): docs
    whose indexed geometry meets the query polyline. Relations:
    intersects / disjoint (WITHIN/CONTAINS are degenerate for line
    queries). Same two-phase Catalyst plan as ShapeBoxQuery."""

    field: str
    points: tuple  # ((lat, lon), ...) polyline, >= 2 points
    relation: str = "intersects"


@dataclass(frozen=True)
class DocSetQuery(Query):
    """Resolved doc-id set (internal: produced by the Searcher from
    FieldValueQuery after the metadata scan; constant score)."""

    doc_ids: tuple[int, ...]


@dataclass(frozen=True)
class FeatureQuery(Query):
    """Static per-doc ranking feature — FeatureField.newLinearQuery /
    newLogQuery / newSaturationQuery / newSigmoidQuery
    (CORE/document/FeatureField.java:505-615). Matches every doc with a
    non-null value in the numeric ``field`` column; the score is
    function(decodeFeatureValue(v)) where the encode/decode round-trip
    truncates the float32 mantissa to its top 8 bits — the reference
    stores the feature IN the term frequency as floatToIntBits(v) >>> 15
    (FeatureField.java:196-218), and this engine reproduces that
    quantization so scores are bit-compatible. The reference's ``weight``
    parameter arrives as an enclosing BoostQuery (FeatureField.java:
    525-527 wraps in BoostQuery), folded into the spec boost.

    functions: "linear" (w * v, float32 arithmetic), "log"
    (w * ln(a + v), double then f32 cast), "saturation"
    (w * (1 - pivot/(v + pivot)), float32 arithmetic — the
    monotonicity-preserving rewrite at FeatureField.java:380-387),
    "sigmoid" (w * (1 - pivot^a/(v^a + pivot^a)), double then f32)."""

    field: str
    function: str = "saturation"  # linear | log | saturation | sigmoid
    a: float = 1.0  # log scalingFactor (>= 1) / sigmoid exponent (> 0)
    pivot: float = 0.0  # saturation / sigmoid pivot (> 0, required there)


@dataclass(frozen=True)
class LongDistanceFeatureQuery(Query):
    """Boost-by-proximity over a numeric docvalue — LongField.
    newDistanceFeatureQuery (CORE/document/LongDistanceFeatureQuery.
    java:95-122): matches docs with a non-null ``field`` value, score =
    boost * pivot / (pivot + |value - origin|) (double math, float32
    cast). pivot must be > 0 (:49-51). Typical use: recency boosting
    as a SHOULD clause next to a relevance query."""

    field: str
    origin: float
    pivot: float


@dataclass(frozen=True)
class GeoDistanceFeatureQuery(Query):
    """Boost-by-geo-proximity — LatLonPoint.newDistanceFeatureQuery
    (CORE/document/LatLonPointDistanceFeatureQuery.java): matches docs
    with non-null lat/lon, score = boost * pivot_m / (pivot_m +
    distance_m) with haversine over EARTH_MEAN_RADIUS (the engine's
    geo.haversine convention; the reference's SloppyMath approximation
    differs by < 0.5% — documented divergence shared with
    GeoDistanceQuery)."""

    lat_field: str
    lon_field: str
    lat: float
    lon: float
    pivot_m: float


@dataclass(frozen=True)
class DocValueScoreQuery(Query):
    """RESOLVED value-scored doc set (internal, driver mode): raw
    docs-table column values collected per matching doc; ``kind`` +
    ``params`` select the scoring function applied at evaluate time
    (kernels.value_scores), so driver and distributed modes share one
    float path."""

    kind: str
    params: tuple
    doc_ids: tuple
    values: tuple  # one tuple of float column values per doc


@dataclass(frozen=True)
class PredValueScoreQuery(Query):
    """UNRESOLVED value-scored doc set (internal, distributed mode):
    like PredDocSetQuery but each chunk kernel receives its own
    (doc_id, value...) slice via a pushed-down scan + per-chunk group —
    feature values never pass through the driver."""

    kind: str
    params: tuple
    key: tuple


@dataclass(frozen=True)
class SpanNearQuery(Query):
    """Proximity query over term spans — the SpanNearQuery /
    Intervals.ordered|unordered role
    (lucene/queries/src/java/org/apache/lucene/queries/spans/SpanNearQuery.java:42,
    lucene/queries/src/java/org/apache/lucene/queries/intervals/Intervals.java).

    Implemented subset: single-term clauses, minimal-interval matching
    (an interval is a match iff it contains one occurrence of every
    term, respects order when ``in_order``, no matching interval nests
    inside it, and its gap count ``width - n_terms <= slop``). Scoring
    follows SpanScorer's sloppy accumulation: freq = Σ 1/(1 + gaps)
    over minimal matches, fed to BM25 with the summed-idf weight."""

    terms: tuple[str, ...]
    slop: int = 0
    in_order: bool = True
    field: str = "content"


@dataclass(frozen=True)
class IntervalQuery(Query):
    """Full interval algebra — the lucene/queries/intervals
    IntervalQuery role (IntervalQuery.java; combinators in
    Intervals.java:66-443). ``source`` is a tree of
    :mod:`lucene_spark.search.intervals` sources (ITerm / IOrdered /
    IUnordered / IOr / IMaxGaps / IContaining / IContainedBy).
    Matches docs where the source yields >= 1 minimal interval;
    freq = Σ 1/(1 + gaps) per emitted interval (the reference
    IntervalScorer accumulation, 1/max(length - minExtent + 1, 1)).

    ``score_mode``: "saturation" (the DEFAULT and the reference
    contract — IntervalQuery.java:41-58: score = boost *
    freq/(freq + pivot), bounded to [0, boost), NO similarity/idf/
    norms; IntervalScoreFunction.saturationFunction) or "span" (the
    SpanScorer convention — BM25 over the sloppy freq with the
    summed-idf weight — used by the span/surround/complex-phrase
    surfaces, whose reference modules score through a Similarity).
    Primary field only (documented subset)."""

    source: object
    field: str = "content"
    score_mode: str = "saturation"
    pivot: float = 1.0


@dataclass(frozen=True)
class PayloadScoreQuery(Query):
    """lucene/queries/payloads PayloadScoreQuery.java:43-95: wrap a
    span query and fold its matches' per-occurrence FLOAT payloads
    (PayloadDecoder.FLOAT_DECODER) into the score through a
    PayloadFunction:

    - payload factor = function.docScore over the payloads collected
      from every matching span in the doc — "min" / "max" / "sum"
      keep the running value, "avg" divides the running sum by the
      payload count (AveragePayloadFunction.java:39-41); docs whose
      spans carry NO payloads keep factor 1; a negative (or NaN)
      factor truncates to 0 (PayloadSpanScorer.getPayloadScore
      :250-257).
    - ``include_span_score``: score = spanScore * factor, else the
      factor alone (:259-266 scoreCurrentDoc).

    Implemented span subset (the SpanCollector shapes whose collected
    payloads are position-complete in this engine): SpanTermQuery
    (every occurrence of the term), span-OR of terms (every occurrence
    of any member), and exact ordered SpanNear of distinct single
    terms (payloads of every slot of every matching span) — expressed
    as TermQuery / SynonymQuery / PhraseQuery(slop=0) wrapped nodes.
    Requires an index built with IndexConfig.delimited_payloads."""

    span: "Query"
    function: str = "avg"  # min | max | avg | sum
    include_span_score: bool = True


@dataclass(frozen=True)
class SpanPayloadCheckQuery(Query):
    """lucene/queries/payloads SpanPayloadCheckQuery.java:47-90: keep
    only the spans whose collected payload sequence EQUALS the given
    payload list (MatchOperation.EQ over PayloadType.FLOAT); the doc
    matches (and its freq counts) only those spans. An occurrence
    without a payload never matches (null payload fails the
    comparison). Same wrapped-span subset as PayloadScoreQuery; scores
    like the underlying span query over the kept spans."""

    span: "Query"
    payloads: tuple[float, ...] = ()


@dataclass(frozen=True)
class TermAutomatonQuery(Query):
    """lucene/sandbox TermAutomatonQuery.java:66-80: a proximity query
    whose transitions are terms (or ANY) — the generalization of
    Phrase/MultiPhrase/SpanNear. ``dfa`` is the FINISHED automaton
    (search.automaton.TermAutomatonBuilder.finish()); matching acts as
    a disjunction over the automaton's terms with a per-doc
    position-merge state walk (TermAutomatonScorer), freq = accept
    arrivals via term arcs / initial seeds. Rewrites like the
    reference (:430-520): singleton → TermQuery, sausage → Phrase /
    MultiPhrase, empty → MatchNoDocs."""

    dfa: "object"  # search.automaton.TermDFA (frozen/hashable)
    field: str = "content"


@dataclass(frozen=True)
class PredDocSetQuery(Query):
    """UNRESOLVED doc-set: a docs-table predicate identified by ``key``
    (internal: produced by the Searcher in distributed mode instead of
    DocSetQuery so the matching doc ids are NEVER collected to the
    driver — each chunk kernel receives only its own doc-range slice
    via a pushed-down scan + per-chunk group, the semi-join shape that
    survives 10^12 docs)."""

    key: tuple


@dataclass(frozen=True)
class SynonymQuery(Query):
    terms: tuple[str, ...]
    field: str = "content"


@dataclass(frozen=True)
class DisjunctionMaxQuery(Query):
    queries: tuple[Query, ...]
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class BlendedTermQuery(Query):
    """Blended term scoring (CORE/search/BlendedTermQuery.java:270-300
    rewrite): every term scores as a TermQuery whose statistics are
    ARTIFICIALLY blended — df = max over the terms' docFreqs, ttf = sum
    of totalTermFreqs — so the rarer surface form (or the field where
    the term is rarer) no longer gets an outsized idf. Combined via
    DisjunctionMax(tie_breaker) (DISJUNCTION_MAX_REWRITE default 0.01)
    or a SHOULD BooleanQuery when boolean_rewrite (BOOLEAN_REWRITE).
    Terms may be composite field keys (cross-field blending)."""

    terms: tuple[str, ...]
    boosts: tuple[float, ...] | None = None
    tie_breaker: float = 0.01
    boolean_rewrite: bool = False


@dataclass(frozen=True)
class BoostQuery(Query):
    query: Query
    boost: float


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    query: Query


@dataclass(frozen=True)
class MatchAllDocsQuery(Query):
    pass


@dataclass(frozen=True)
class MatchNoDocsQuery(Query):
    reason: str = ""


def _rewrite_boolean(q: BooleanQuery) -> Query:
    """One pass of BooleanQuery.rewrite (BooleanQuery.java:241-398)."""
    clauses = [(occ, rewrite(sub)) for occ, sub in q.clauses]

    # drop clauses that can never match / flatten MatchNoDocs
    out: list[tuple[Occur, Query]] = []
    for occ, sub in clauses:
        if isinstance(sub, MatchNoDocsQuery):
            if occ in (Occur.MUST, Occur.FILTER):
                return MatchNoDocsQuery("MUST/FILTER clause never matches")
            continue  # SHOULD/MUST_NOT MatchNoDocs: drop
        if isinstance(sub, MatchAllDocsQuery) and occ is Occur.MUST_NOT:
            return MatchNoDocsQuery("MUST_NOT MatchAllDocs")
        out.append((occ, sub))
    clauses = out

    # dedup FILTER / MUST_NOT always; SHOULD dedups ONLY when
    # msm <= 1 and duplicates merge by SUMMING boosts
    # (BooleanQuery.java:292-330: with msm > 1 each duplicate SHOULD
    # counts separately toward the minimum, so they must survive)
    merge_should = q.minimum_should_match <= 1
    sh_boost: dict[Query, float] = {}
    if merge_should:
        for occ, sub in clauses:
            if occ is Occur.SHOULD:
                base, b = (sub.query, sub.boost) if isinstance(sub, BoostQuery) else (sub, 1.0)
                sh_boost[base] = sh_boost.get(base, 0.0) + b
    seen: set[tuple[Occur, Query]] = set()
    deduped: list[tuple[Occur, Query]] = []
    for occ, sub in clauses:
        if occ is Occur.SHOULD and merge_should:
            base = sub.query if isinstance(sub, BoostQuery) else sub
            if (occ, base) in seen:
                continue
            seen.add((occ, base))
            b = sh_boost[base]
            deduped.append((occ, base if b == 1.0 else BoostQuery(base, b)))
            continue
        key = (occ, sub)
        if occ in (Occur.FILTER, Occur.MUST_NOT) and key in seen:
            continue
        seen.add(key)
        deduped.append((occ, sub))
    clauses = deduped

    positives = {s for o, s in clauses if o in (Occur.MUST, Occur.FILTER)}
    negatives = {s for o, s in clauses if o is Occur.MUST_NOT}
    if positives & negatives:
        return MatchNoDocsQuery("same query MUST and MUST_NOT")

    # drop MatchAllDocs FILTER when another positive clause exists
    if any(o in (Occur.MUST, Occur.FILTER) and not isinstance(s, MatchAllDocsQuery) for o, s in clauses):
        clauses = [(o, s) for o, s in clauses if not (o is Occur.FILTER and isinstance(s, MatchAllDocsQuery))]

    if not clauses:
        return MatchNoDocsQuery("empty BooleanQuery")
    if not any(o is not Occur.MUST_NOT for o, s in clauses):
        return MatchNoDocsQuery("only MUST_NOT clauses")

    # single-clause unwrap (BooleanQuery.java:241-268)
    if len(clauses) == 1 and q.minimum_should_match <= 1:
        occ, sub = clauses[0]
        if occ in (Occur.MUST, Occur.SHOULD):
            return sub
        if occ is Occur.FILTER:
            return BoostQuery(ConstantScoreQuery(sub), 0.0)

    new = BooleanQuery(tuple(clauses), q.minimum_should_match)
    return new


def _merge_ranges(ranges) -> tuple:
    """mergeOverlappingRanges (sandbox MultiRangeQuery.java:197-230):
    sort by lower bound, merge clauses whose ranges overlap. None
    bounds are open (-inf / +inf for the comparison)."""
    import math

    def lo_key(r):
        return -math.inf if r[0] is None else r[0]

    def hi_key(r):
        return math.inf if r[1] is None else r[1]

    srt = sorted(ranges, key=lambda r: (lo_key(r), hi_key(r)))
    out = [srt[0]]
    for lo, hi in srt[1:]:
        plo, phi = out[-1]
        if lo_key((lo, hi)) <= hi_key((plo, phi)):  # overlap: merge
            nhi = None if (phi is None or hi is None) else max(phi, hi)
            out[-1] = (plo, nhi)
        else:
            out.append((lo, hi))
    return tuple(out)


def rewrite(q: Query) -> Query:
    """Rewrite to fixpoint (IndexSearcher.java:765-774)."""
    for _ in range(16):
        nq = _rewrite_once(q)
        if nq == q:
            return q
        q = nq
    return q


def _rewrite_once(q: Query) -> Query:
    if isinstance(q, BooleanQuery):
        return _rewrite_boolean(q)
    if isinstance(q, BoostQuery):
        inner = rewrite(q.query)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        if isinstance(inner, BoostQuery):  # fold nested boosts
            return BoostQuery(inner.query, q.boost * inner.boost)
        if q.boost == 1.0:
            return inner
        return BoostQuery(inner, q.boost)
    if isinstance(q, ConstantScoreQuery):
        inner = rewrite(q.query)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        if isinstance(inner, ConstantScoreQuery):
            return inner
        return ConstantScoreQuery(inner)
    if isinstance(q, DisjunctionMaxQuery):
        subs = tuple(rewrite(s) for s in q.queries)
        subs = tuple(s for s in subs if not isinstance(s, MatchNoDocsQuery))
        if not subs:
            return MatchNoDocsQuery("empty DisjunctionMax")
        if len(subs) == 1:
            return subs[0]
        return DisjunctionMaxQuery(subs, q.tie_breaker)
    if isinstance(q, SynonymQuery) and len(q.terms) == 1:
        return TermQuery(q.terms[0], q.field)
    if isinstance(q, TermInSetQuery):
        if not q.terms:
            return MatchNoDocsQuery("empty TermInSet")
    if isinstance(q, DocSetQuery) and not q.doc_ids:
        return MatchNoDocsQuery("empty doc set")
    if isinstance(q, PhraseQuery) and len(q.terms) == 1:
        return TermQuery(q.terms[0], q.field)
    if isinstance(q, SpanNearQuery):
        if not q.terms:
            return MatchNoDocsQuery("empty SpanNear")
        if len(q.terms) == 1:
            return TermQuery(q.terms[0], q.field)
    if isinstance(q, MultiPhraseQuery):
        if not q.positions or any(not slot for slot in q.positions):
            return MatchNoDocsQuery("empty MultiPhrase slot")
        if all(len(slot) == 1 for slot in q.positions):
            return PhraseQuery(tuple(s[0] for s in q.positions), q.slop, q.field)
        if len(q.positions) == 1:
            return SynonymQuery(q.positions[0], q.field)
    if isinstance(q, MultiRangeQuery):
        if not q.ranges:
            return MatchNoDocsQuery("empty MultiRangeQuery")
        merged = _merge_ranges(q.ranges)
        if len(merged) == 1:
            lo, hi = merged[0]
            return FieldRangeQuery(q.field, lo, hi, True, True)
        if merged != tuple(q.ranges):
            return MultiRangeQuery(q.field, merged)
    if isinstance(q, TermAutomatonQuery):
        from lucene_spark.search.automaton import try_rewrite

        rq = try_rewrite(q.dfa)
        if rq is not None:
            if q.field != "content" and hasattr(rq, "field"):
                rq = replace(rq, field=q.field)
            return rq
    return q


def extract_terms(q: Query) -> set[str]:
    """All literal terms mentioned by the (rewritten) query."""
    if isinstance(q, TermQuery):
        return {q.term}
    if isinstance(q, PhraseQuery):
        return set(q.terms)
    if isinstance(q, MultiPhraseQuery):
        return {t for slot in q.positions for t in slot}
    if isinstance(q, (SynonymQuery, TermInSetQuery, SpanNearQuery, BlendedTermQuery)):
        return set(q.terms)
    if isinstance(q, IntervalQuery):
        from lucene_spark.search.intervals import terms_of

        return terms_of(q.source)
    if isinstance(q, BooleanQuery):
        return set().union(*(extract_terms(s) for _, s in q.clauses)) if q.clauses else set()
    if isinstance(q, DisjunctionMaxQuery):
        return set().union(*(extract_terms(s) for s in q.queries)) if q.queries else set()
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return extract_terms(q.query)
    if isinstance(q, (PayloadScoreQuery, SpanPayloadCheckQuery)):
        return extract_terms(q.span)
    if isinstance(q, TermAutomatonQuery):
        return set(q.dfa.real_terms())
    return set()


def map_children(q: Query, fn) -> Query | None:
    """Rebuild a compound node (Boolean, Boost, ConstantScore,
    DisjunctionMax) over ``fn`` of each child — the one child walk every
    AST rebuilder shares. A child mapped to None is dropped, and a node
    whose children were all dropped becomes None (an all-stopword
    clause analyzes away, QueryBuilder returning null). Any other node
    is returned as is."""
    if isinstance(q, BooleanQuery):
        kids = tuple((o, c) for o, c in ((o, fn(s)) for o, s in q.clauses) if c is not None)
        return BooleanQuery(kids, q.minimum_should_match) if kids or not q.clauses else None
    if isinstance(q, DisjunctionMaxQuery):
        subs = tuple(c for c in map(fn, q.queries) if c is not None)
        return DisjunctionMaxQuery(subs, q.tie_breaker) if subs or not q.queries else None
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        c = fn(q.query)
        return replace(q, query=c) if c is not None else None
    return q
