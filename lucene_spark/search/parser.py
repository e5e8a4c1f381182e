"""Classic query-parser subset → AST.

Covers the subset of Lucene's classic syntax
(lucene/queryparser/src/java/org/apache/lucene/queryparser/classic/QueryParser.jj:188-227,333-341)
used by the reference benchmark query sets (BENCH/conf/query-*.txt):

- bare terms (analyzed), implicit OR between terms (default operator OR)
- ``AND`` / ``&&``, ``OR`` / ``||``, ``NOT`` / ``!``
- ``+term`` (MUST) / ``-term`` (MUST_NOT)
- grouping ``( ... )``
- quoted phrases ``"a b"`` with optional ``~slop``
- trailing-``*`` prefix, general ``*``/``?`` wildcards
- ``term~`` / ``term~N`` fuzzy (default max edits 2, FuzzyQuery.java:52-54)
- ``/regex/`` regexp queries
- ``^boost``
- ``[a TO b]`` / ``{a TO b}`` term ranges (``*`` = open bound)
- ``field:value`` — ``content:`` keeps analyzed semantics; any other
  field is a keyword (StringField) equality on the raw value

Recursive-descent, ~150 lines; precedence NOT > AND > OR.
"""

from __future__ import annotations

import re

from lucene_spark.analysis import tokenize
from lucene_spark.analysis.tokenizer import MAX_TOKEN_LENGTH, _raw_tokens
from lucene_spark.search.ast import (
    BooleanQuery,
    BoostQuery,
    FieldValueQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    map_children,
    rewrite,
)

_TOKEN_RE = re.compile(
    r"""
    (?P<space>\s+)
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<and>AND\b|&&)
  | (?P<or>OR\b|\|\|)
  | (?P<not>NOT\b|!)
  | (?P<plus>\+)
  | (?P<minus>-)
  | (?P<phrase>"(?P<phrase_body>[^"]*)"(?:~(?P<slop>\d+))?)
  | (?P<regex>/(?P<regex_body>[^/]+)/)
  | (?P<range>(?P<rlo_b>[\[{])\s*(?P<rlo>\S+)\s+TO\s+(?P<rhi>\S+)\s*(?P<rhi_b>[\]}]))
  | (?P<field>[A-Za-z_][A-Za-z0-9_]*):(?!\s)
  | (?P<star>\*)(?=\s|$)
  | (?P<term>[^\s()+\-!"^][^\s()+!"^]*)
  | (?P<boost>\^(?P<boost_val>\d+(?:\.\d+)?))
""",
    re.VERBOSE,
)


def _lex(s: str) -> list[tuple[str, str]]:
    toks = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            raise ValueError(f"cannot lex query at {s[pos:]!r}")
        pos = m.end()
        kind = m.lastgroup if m.lastgroup in ("slop", "phrase_body", "regex_body", "boost_val") else None
        for k in ("space",):
            if m.group(k):
                break
        else:
            for k in ("lparen", "rparen", "and", "or", "not", "plus", "minus", "phrase", "regex", "range", "field", "star", "term", "boost"):
                if m.group(k) is not None:
                    if k == "phrase":
                        toks.append(("phrase", (m.group("phrase_body"), int(m.group("slop") or 0))))
                    elif k == "regex":
                        toks.append(("regex", m.group("regex_body")))
                    elif k == "range":
                        toks.append(
                            (
                                "range",
                                (
                                    m.group("rlo"),
                                    m.group("rhi"),
                                    m.group("rlo_b") == "[",
                                    m.group("rhi_b") == "]",
                                ),
                            )
                        )
                    elif k == "field":
                        toks.append(("field", m.group("field")))
                    elif k == "boost":
                        toks.append(("boost", float(m.group("boost_val"))))
                    else:
                        toks.append((k, m.group(k)))
                    break
    return toks


class _Parser:
    preserve_case = False
    analyzer = None

    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i][0] if self.i < len(self.toks) else None

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse_or(self) -> Query:
        parts = [self.parse_and()]
        ops = []
        while self.peek() in ("or",) or (self.peek() not in (None, "rparen", "and", "or")):
            if self.peek() == "or":
                self.next()
            parts.append(self.parse_and())
        if len(parts) == 1:
            return parts[0]
        clauses = []
        for p in parts:
            if isinstance(p, tuple):  # (occur, query) from modifiers
                clauses.append(p)
            else:
                clauses.append((Occur.SHOULD, p))
        return BooleanQuery(tuple(clauses))

    def parse_and(self) -> Query:
        parts = [self.parse_unary()]
        while self.peek() == "and":
            self.next()
            parts.append(self.parse_unary())
        if len(parts) == 1:
            return parts[0]
        clauses = []
        for p in parts:
            if isinstance(p, tuple):
                occ, q = p
                clauses.append((occ if occ is Occur.MUST_NOT else Occur.MUST, q))
            else:
                clauses.append((Occur.MUST, p))
        return BooleanQuery(tuple(clauses))

    def parse_unary(self):
        kind = self.peek()
        if kind == "not":
            self.next()
            inner = self.parse_unary()
            q = inner[1] if isinstance(inner, tuple) else inner
            return (Occur.MUST_NOT, q)
        if kind == "plus":
            self.next()
            inner = self.parse_unary()
            q = inner[1] if isinstance(inner, tuple) else inner
            return (Occur.MUST, q)
        if kind == "minus":
            self.next()
            inner = self.parse_unary()
            q = inner[1] if isinstance(inner, tuple) else inner
            return (Occur.MUST_NOT, q)
        return self.parse_primary()

    def parse_primary(self) -> Query:
        kind, val = self.next()
        q: Query
        if kind == "field":
            q = self._field_scoped(val)
        elif kind == "range":
            lo, hi, inc_lo, inc_hi = val
            q = TermRangeQuery(
                None if lo == "*" else lo.lower(),
                None if hi == "*" else hi.lower(),
                inc_lo,
                inc_hi,
            )
        elif kind == "lparen":
            q = self.parse_or()
            if isinstance(q, tuple):
                # a lone modifier clause in a group ("(-foo)", "(+a)")
                # surfaces as (occur, query) — wrap as a one-clause
                # boolean so postfix operators (boost) and rewrite see
                # a Query node, never a raw tuple
                q = BooleanQuery((q,))
            if self.peek() == "rparen":
                self.next()
        elif kind == "phrase":
            body, slop = val
            terms = tuple(self._tok(body))
            if not terms:
                q = MatchNoDocsQuery("empty phrase")
            elif len(terms) == 1 and not self.preserve_case:
                q = TermQuery(terms[0])
            else:
                # preserve_case keeps single-token phrases AS phrases:
                # the index analyzer may split the token into several
                # sequential parts and quoted text must stay positional
                # (QueryBuilder.createFieldQuery(quoted=true))
                q = PhraseQuery(terms, slop=slop)
        elif kind == "regex":
            q = RegexpQuery(val)
        elif kind == "star":
            q = MatchAllDocsQuery()
        elif kind == "term":
            q = self._term_query(val)
        else:
            raise ValueError(f"unexpected token {kind}")
        if self.peek() == "boost":
            _, b = self.next()
            q = BoostQuery(q, b)
        return q

    def _field_scoped(self, field: str) -> Query:
        """``field:...`` — the default field (content) keeps analyzed
        semantics; any other field is a keyword (StringField) column:
        equality on the RAW value (QueryParser.jj field-scoped clause;
        StringField values are not analyzed)."""
        kind = self.peek()
        if kind == "range":
            _, (lo, hi, inc_lo, inc_hi) = self.next()
            if field != "content":
                # metadata range (PointRangeQuery role); numeric bounds
                # when both parse as numbers, else native string compare
                from lucene_spark.search.ast import FieldRangeQuery

                return FieldRangeQuery(
                    field, _range_bound(lo), _range_bound(hi), inc_lo, inc_hi
                )
            return TermRangeQuery(
                None if lo == "*" else lo.lower(), None if hi == "*" else hi.lower(), inc_lo, inc_hi
            )
        if kind == "phrase":
            _, (body, slop) = self.next()
            if field != "content":
                return FieldValueQuery(field, body)
            terms = tuple(self._tok(body))
            if not terms:
                return MatchNoDocsQuery("empty phrase")
            if len(terms) == 1 and not self.preserve_case:
                return TermQuery(terms[0])
            return PhraseQuery(terms, slop=slop)
        if kind in ("term", "star"):
            _, raw = self.next()
            if field == "content":
                return self._term_query(raw)
            if kind == "star" or raw == "*":
                # `field:*` = any value for the field — FieldExistsQuery
                # (the classic parser's field-scoped all-wildcard
                # rewrites to FieldExistsQuery, WildcardQuery.java:74)
                from lucene_spark.search.ast import FieldExistsQuery

                return FieldExistsQuery(field)
            return FieldValueQuery(field, raw)
        raise ValueError(f"expected value after {field}:")

    def _tok(self, body: str) -> list[str]:
        """Analyzed tokens of quoted/bare text. ``preserve_case`` keeps
        the surface form (1:N cased analyzers like "code" split on case
        transitions AFTER parsing — QueryParser hands the raw term text
        to the index analyzer); default lowercases like
        StandardAnalyzer (the engine re-analyzes for porter/english,
        whose chains lowercase themselves)."""
        if self.analyzer == "whitespace":
            # WhitespaceAnalyzer: split the surface text on whitespace,
            # keep case (no LowerCaseFilter in the chain)
            return [t for t in body.split() if len(t) <= MAX_TOKEN_LENGTH]
        if self.analyzer == "keyword":
            # KeywordAnalyzer: the whole clause text is ONE case-
            # preserved token (the QueryParser hands each clause's text
            # to the analyzer, which emits it verbatim)
            return [body] if body else []
        if self.preserve_case:
            return [t for t in _raw_tokens(body) if len(t) <= MAX_TOKEN_LENGTH]
        return tokenize(body)

    def _term_query(self, text: str) -> Query:
        m = re.fullmatch(r"(?P<body>.+?)~(?P<edits>\d)?", text)
        if m and "*" not in text and "?" not in text:
            edits = int(m.group("edits")) if m.group("edits") else 2
            return FuzzyQuery(m.group("body").lower(), max_edits=edits)
        if text == "*:*":
            return MatchAllDocsQuery()
        if "*" in text or "?" in text:
            body = text.lower()
            if body.endswith("*") and "*" not in body[:-1] and "?" not in body:
                return PrefixQuery(body[:-1])
            return WildcardQuery(body)
        toks = self._tok(text)
        if not toks:
            return MatchNoDocsQuery("term analyzed to nothing")
        if len(toks) == 1:
            return TermQuery(toks[0])
        return PhraseQuery(tuple(toks))


def _range_bound(text: str):
    """``*`` = open; int/float if numeric, else the raw string."""
    if text == "*":
        return None
    for cast in (int, float):
        try:
            return cast(text)
        except ValueError:
            continue
    return text


def parse_query(
    s: str, preserve_case: bool = False, rewrite_tree: bool = True, analyzer: str | None = None
) -> Query:
    """Parse + rewrite a classic-syntax query string. ``preserve_case``
    keeps term/phrase surface forms for cased 1:N analyzer chains;
    those callers pass ``rewrite_tree=False`` so shape-normalizing
    rewrites (e.g. single-slot phrase → term) run AFTER analysis —
    analysis may re-expand a slot into several (QueryBuilder analyzes
    before BooleanQuery rewrite in the reference lifecycle)."""
    toks = _lex(s)
    if not toks:
        return MatchNoDocsQuery("empty query")
    p = _Parser(toks)
    p.preserve_case = preserve_case
    p.analyzer = analyzer
    q = p.parse_or()
    if isinstance(q, tuple):
        q = BooleanQuery((q,))
    return rewrite(q) if rewrite_tree else q


# ---- MultiFieldQueryParser --------------------------------------------------

_MULTIFIELD_LEAVES = (
    TermQuery,
    PhraseQuery,
    PrefixQuery,
    WildcardQuery,
    RegexpQuery,
    FuzzyQuery,
    TermRangeQuery,
)


def parse_multifield(
    s: str,
    fields: tuple[str, ...] | list[str],
    boosts: dict[str, float] | None = None,
    analyzer: str | None = None,
) -> Query:
    """MultiFieldQueryParser (lucene/queryparser/classic/
    MultiFieldQueryParser.java:43-121): parse ``s`` with the classic
    grammar, then expand every clause the user did NOT field-qualify
    into a SHOULD BooleanQuery of per-field copies (:98-121 —
    getFieldQuery(null, ...) loops the fields), each wrapped in a
    BoostQuery when ``boosts`` maps its field away from 1.0 (:114-118).
    Field-qualified clauses parse exactly as the single-field parser
    would. Unqualified means the leaf landed on the parser's default
    field ("content"); an explicit ``content:`` prefix is
    indistinguishable and expands too."""
    from dataclasses import replace

    fields = tuple(fields)
    if not fields:
        raise ValueError("parse_multifield needs at least one field")
    boosts = dict(boosts or {})

    def fan(q: Query) -> Query:
        copies = []
        for f in fields:
            c = q if f == "content" else replace(q, field=f)
            b = float(boosts.get(f, 1.0))
            copies.append(BoostQuery(c, b) if b != 1.0 else c)
        if len(copies) == 1:
            return copies[0]
        return BooleanQuery(tuple((Occur.SHOULD, c) for c in copies))

    def walk(q: Query) -> Query:
        if isinstance(q, _MULTIFIELD_LEAVES) and q.field == "content":
            return fan(q)
        return map_children(q, walk)

    parsed = parse_query(s, analyzer=analyzer)
    return rewrite(walk(parsed))
