"""XML query parser — the queryparser/xml CoreParser surface.

Reference re-expressed over this engine's AST:
- lucene/queryparser/src/java/org/apache/lucene/queryparser/xml/
  CoreParser.java:69-116 — the element-name -> builder registry this
  module's dispatch table mirrors (TermQuery, TermsQuery,
  MatchAllDocsQuery, BooleanQuery, PointRangeQuery, RangeQuery,
  DisjunctionMaxQuery, UserQuery, ConstantScoreQuery, and the span
  family SpanTerm/SpanOr/SpanOrTerms/SpanNear/SpanFirst/SpanNot/
  SpanPositionRange).
- xml/builders/*.java — per-element attribute contracts followed here:
  ``fieldName`` resolves with ANCESTOR INHERITANCE
  (DOMUtils.getAttributeWithInheritance), ``boost`` (default 1.0)
  wraps the built query in a BoostQuery, BooleanQuery ``Clause``
  children carry occurs in {should,must,mustnot,filter} plus
  minimumNumberShouldMatch (BooleanQueryBuilder.java:46-79),
  RangeQuery include bounds default true (RangeQueryBuilder.java:35),
  PointRangeQuery is inclusive with type in {int,long,float,double}
  (PointRangeQueryBuilder.java:75-79), SpanNear requires ``slop`` and
  defaults inOrder=false (SpanNearBuilder.java:39-41), SpanFirst
  ``end`` defaults 1 (SpanFirstBuilder.java:36).
- TermQueryBuilder.java:33-36 passes the text through UNANALYZED (the
  element text is the exact index term); TermsQueryBuilder.java:48-67
  is the analyzed variant (tokenize -> SHOULD TermQueries + msm).

Not mapped: BoostingTermQuery (payload-scored terms — payloads are out
of scope for this engine; raises with that message) and the deprecated
filter factories CoreParser itself no longer registers.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from lucene_spark.search import ast as A
from lucene_spark.search import spans as S
from lucene_spark.search.ast import Occur, rewrite

__all__ = ["parse_xml_query"]

_OCCURS = {
    "should": Occur.SHOULD,
    "must": Occur.MUST,
    "mustnot": Occur.MUST_NOT,
    "filter": Occur.FILTER,
    "": Occur.SHOULD,  # BooleanQueryBuilder defaults absent occurs to SHOULD
}

_NUM = {"int": int, "long": int, "float": float, "double": float}


def _text(e: ET.Element) -> str:
    return "".join(e.itertext()).strip()


def _field(e: ET.Element, inherited: str | None) -> str:
    f = e.get("fieldName")
    if f is not None:
        return f
    if inherited is None:
        raise ValueError(f"element <{e.tag}> needs a fieldName attribute (or an ancestor's)")
    return inherited


def _boost(e: ET.Element, q: A.Query) -> A.Query:
    b = float(e.get("boost", "1.0"))
    return A.BoostQuery(q, b) if b != 1.0 else q


def _tokenize(text: str, analyzer: str | None) -> list[str]:
    from lucene_spark.analysis import tokenize

    # same chain as the rest of the parse (UserQuery passes analyzer to
    # parse_query) — TermsQuery/SpanOrTerms must tokenize identically
    return list(tokenize(text, stem=analyzer or False))


def parse_xml_query(
    xml: str, default_field: str = "content", analyzer: str | None = None
) -> A.Query:
    """CoreParser.parse(InputStream) role: build a Query from the XML
    document. ``default_field`` feeds UserQuery (the classic-parser
    escape hatch), exactly CoreParser's defaultField constructor arg."""
    root = ET.fromstring(xml)
    return rewrite(_build(root, None, default_field, analyzer))


def _build(e: ET.Element, field: str | None, default_field: str, analyzer) -> A.Query:
    tag = e.tag
    if tag in _SPAN_TAGS:
        return _boost(e, S.span_query(_span(e, field, analyzer)))
    fn = _BUILDERS.get(tag)
    if fn is None:
        if tag == "BoostingTermQuery":
            raise ValueError("BoostingTermQuery needs payloads, which are out of scope")
        raise ValueError(f"unknown query element <{tag}>")
    return fn(e, field, default_field, analyzer)


def _term_query(e, field, default_field, analyzer):
    return _boost(e, A.TermQuery(_text(e), field=_field(e, field)))


def _terms_query(e, field, default_field, analyzer):
    f = _field(e, field)
    toks = _tokenize(_text(e), analyzer)
    msm = int(e.get("minimumNumberShouldMatch", "0"))
    q = A.BooleanQuery(
        tuple((Occur.SHOULD, A.TermQuery(t, field=f)) for t in toks), msm
    )
    return _boost(e, q)


def _match_all(e, field, default_field, analyzer):
    return _boost(e, A.MatchAllDocsQuery())


def _boolean(e, field, default_field, analyzer):
    f = e.get("fieldName") or field
    clauses = []
    msm = int(e.get("minimumNumberShouldMatch", "0"))
    for c in e:
        if c.tag != "Clause":
            continue
        # case-insensitive like BooleanQueryBuilder (canonical spelling
        # in the reference's XML is camelCase "mustNot")
        occ = _OCCURS.get(c.get("occurs", "").lower())
        if occ is None:
            raise ValueError(f"invalid occurs value {c.get('occurs')!r}")
        sub = [x for x in c if isinstance(x.tag, str)]
        if len(sub) != 1:
            raise ValueError("Clause must hold exactly one query element")
        clauses.append((occ, _build(sub[0], f, default_field, analyzer)))
    return _boost(e, A.BooleanQuery(tuple(clauses), msm))


def _range(e, field, default_field, analyzer):
    lower, upper = e.get("lowerTerm"), e.get("upperTerm")
    q = A.TermRangeQuery(
        lower if lower else None,
        upper if upper else None,
        include_lower=e.get("includeLower", "true").lower() == "true",
        include_upper=e.get("includeUpper", "true").lower() == "true",
        field=_field(e, field),
    )
    return _boost(e, q)


def _point_range(e, field, default_field, analyzer):
    conv = _NUM.get(e.get("type", "int"))
    if conv is None:
        raise ValueError(f"unknown PointRangeQuery type {e.get('type')!r}")
    lower, upper = e.get("lowerTerm"), e.get("upperTerm")
    q = A.FieldRangeQuery(
        _field(e, field),
        conv(lower) if lower not in (None, "") else None,
        conv(upper) if upper not in (None, "") else None,
    )
    return _boost(e, q)


def _dismax(e, field, default_field, analyzer):
    f = e.get("fieldName") or field
    subs = tuple(_build(c, f, default_field, analyzer) for c in e if isinstance(c.tag, str))
    q = A.DisjunctionMaxQuery(subs, tie_breaker=float(e.get("tieBreaker", "0.0")))
    return _boost(e, q)


def _const_score(e, field, default_field, analyzer):
    f = e.get("fieldName") or field
    subs = [c for c in e if isinstance(c.tag, str)]
    if len(subs) != 1:
        raise ValueError("ConstantScoreQuery must hold exactly one query element")
    return _boost(e, A.ConstantScoreQuery(_build(subs[0], f, default_field, analyzer)))


def _user_query(e, field, default_field, analyzer):
    from dataclasses import replace

    from lucene_spark.search.parser import parse_query

    q = parse_query(_text(e), analyzer=analyzer)
    f = e.get("fieldName", default_field)
    if f != "content":
        # UserInputQueryBuilder parses against the element's field:
        # re-home default-field leaves (same walk as parse_multifield)
        def walk(x):
            if getattr(x, "field", None) == "content":
                return replace(x, field=f)
            return A.map_children(x, walk)

        q = walk(q)
    return _boost(e, q)


_BUILDERS = {
    "TermQuery": _term_query,
    "TermsQuery": _terms_query,
    "MatchAllDocsQuery": _match_all,
    "BooleanQuery": _boolean,
    "RangeQuery": _range,
    "PointRangeQuery": _point_range,
    "DisjunctionMaxQuery": _dismax,
    "ConstantScoreQuery": _const_score,
    "UserQuery": _user_query,
}

_SPAN_TAGS = {
    "SpanTerm", "SpanOr", "SpanOrTerms", "SpanNear", "SpanFirst",
    "SpanNot", "SpanPositionRange",
}


def _span_field(f: str | None) -> str | None:
    # span_term uses None for the PRIMARY field (plain term key);
    # "content" is that field's AST name
    return None if f == "content" else f


def _span(e: ET.Element, field: str | None, analyzer):
    """Build an interval source from a span element (the spanFactory
    registry, CoreParser.java:86-116)."""
    tag = e.tag
    kids = [c for c in e if isinstance(c.tag, str)]
    if tag == "SpanTerm":
        return S.span_term(_text(e), field=_span_field(_field(e, field)))
    if tag == "SpanOrTerms":
        f = _span_field(_field(e, field))
        toks = _tokenize(_text(e), analyzer)
        return S.span_or(*(S.span_term(t, field=f) for t in toks))
    if tag == "SpanOr":
        f = e.get("fieldName") or field
        return S.span_or(*(_span(c, f, analyzer) for c in kids))
    if tag == "SpanNear":
        f = e.get("fieldName") or field
        slop = e.get("slop")
        if slop is None:
            raise ValueError("SpanNear needs a slop attribute")
        in_order = e.get("inOrder", "false").lower() == "true"
        return S.span_near(
            [_span(c, f, analyzer) for c in kids], slop=int(slop), in_order=in_order
        )
    if tag == "SpanFirst":
        f = e.get("fieldName") or field
        if len(kids) != 1:
            raise ValueError("SpanFirst must hold exactly one span element")
        return S.span_first(_span(kids[0], f, analyzer), end=int(e.get("end", "1")))
    if tag == "SpanNot":
        f = e.get("fieldName") or field
        inc = [c for c in e if c.tag == "Include"]
        exc = [c for c in e if c.tag == "Exclude"]
        if len(inc) != 1 or len(exc) != 1:
            raise ValueError("SpanNot needs one Include and one Exclude element")
        (i,) = [c for c in inc[0] if isinstance(c.tag, str)]
        (x,) = [c for c in exc[0] if isinstance(c.tag, str)]
        return S.span_not(_span(i, f, analyzer), _span(x, f, analyzer))
    if tag == "SpanPositionRange":
        f = e.get("fieldName") or field
        if len(kids) != 1:
            raise ValueError("SpanPositionRange must hold exactly one span element")
        return S.span_position_range(
            _span(kids[0], f, analyzer),
            start=int(e.get("start", "0")),
            end=int(e.get("end", "1")),
        )
    raise ValueError(f"unknown span element <{tag}>")
