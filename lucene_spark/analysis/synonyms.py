"""Query-time synonym expansion — the SynonymGraphFilter / QueryBuilder
synonym role.

The reference applies synonyms with an analyzer stage
(lucene/analysis/common/src/java/org/apache/lucene/analysis/synonym/
SynonymGraphFilter.java:55-90, built from SynonymMap.Builder), and
QueryBuilder turns same-position alternatives into a SynonymQuery
(QueryBuilder.java:391-400, newSynonymQuery) for single-token terms or
per-position alternatives of a MultiPhraseQuery for phrases
(QueryBuilder.java:544-560, analyzeMultiPhrase).

Here the same behavior runs as an AST rewrite (query-time synonyms —
the common deployment, since index-time synonyms bake the map into the
postings): every analyzed term that hits the map becomes the blended
SynonymQuery of its group; phrase slots grow same-position
alternatives (PhraseQuery → MultiPhraseQuery).  Expansion applies only
to ``field``-matching leaves; multi-term patterns (prefix/wildcard/
fuzzy/regexp/range) are never analyzed, matching the reference's
QueryBuilder contract.

MULTI-WORD (graph) rules — the posLength>1 case QueryBuilder routes to
the graph analyzers: a term whose outputs span several tokens becomes
the SHOULD boolean of per-path queries (analyzeGraphBoolean,
QueryBuilder.java:503-560, newGraphSynonymQuery:617-624 — single-token
paths stay TermQuery, multi-token paths auto-generate a PhraseQuery);
a phrase touching any graph rule becomes the SHOULD boolean of one
PhraseQuery per finite string with the slop preserved
(analyzeGraphPhrase:565-582 over
GraphTokenStreamFiniteStrings.getFiniteStrings). Multi-word INPUTS
match consecutive token runs (keep-orig equivalence rules only —
multi-word replacement inputs raise, a documented subset).
"""

from __future__ import annotations

from lucene_spark.search import ast as A


def _norm_map(groups) -> dict[str, tuple[str, ...]]:
    """Accepts {term: alts} or an iterable of synonym groups (every
    member expands to the whole group, the SynonymMap.Builder
    ``add(..., includeOrig=true)`` bidirectional shape).  Keys and
    values are lowercased; a term never lists itself as an alt."""
    out: dict[str, tuple[str, ...]] = {}
    if isinstance(groups, dict):
        items = [(k, tuple(v) if not isinstance(v, str) else (v,)) for k, v in groups.items()]
        for k, alts in items:
            k = k.lower()
            out[k] = tuple(dict.fromkeys(a.lower() for a in alts if a.lower() != k))
    else:
        for group in groups:
            g = tuple(dict.fromkeys(t.lower() for t in group))
            for t in g:
                alts = tuple(x for x in g if x != t)
                out[t] = tuple(dict.fromkeys(out.get(t, ()) + alts))
    return {k: v for k, v in out.items() if v}


class SynonymMap:
    """Immutable term → alternatives map (SynonymMap role).

    ``groups`` carries keep-orig alternatives (SynonymMap.Builder add
    includeOrig=true); ``replace`` carries explicit-mapping outputs
    (includeOrig=false — the matched term is substituted, not kept).
    A term present in both keeps the original and gets the union of
    outputs (Builder.add merges entries per input)."""

    def __init__(self, groups, replace: dict | None = None):
        self.map = _norm_map(groups)
        self.replace: dict[str, tuple[str, ...]] = {
            k.lower(): tuple(dict.fromkeys(a.lower() for a in v))
            for k, v in (replace or {}).items()
        }
        for k in self.replace:
            if " " in k:
                raise ValueError(
                    f"multi-word INPUT {k!r} with a replacement rule is "
                    "unsupported (documented subset: multi-word inputs are "
                    "keep-orig equivalence alternatives only; multi-word "
                    "OUTPUTS work in both rule kinds)"
                )

    def multi_inputs(self) -> tuple[str, ...]:
        """Keep-orig rule inputs spanning several tokens (the
        SynonymGraphFilter consecutive-token match keys)."""
        return tuple(k for k in self.map if " " in k)

    def alts(self, term: str) -> tuple[str, ...]:
        return self.map.get(term, ())

    def outputs(self, term: str) -> tuple[tuple[str, ...], bool]:
        """(all mapped outputs, keep_original) for ``term`` — empty
        outputs = no rule matched."""
        keep_alts = self.map.get(term, ())
        repl = self.replace.get(term, ())
        if keep_alts or not repl:
            outs = tuple(dict.fromkeys(keep_alts + tuple(a for a in repl if a != term)))
            return outs, True
        return repl, False


def _split_escaped(s: str, sep: str) -> list[str]:
    """Split on ``sep`` ignoring backslash-escaped occurrences
    (SolrSynonymParser.split/unescape, SolrSynonymParser.java:140-170)."""
    parts, cur, i = [], [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            cur.append(s[i + 1])
            i += 2
            continue
        if s.startswith(sep, i):
            parts.append("".join(cur))
            cur = []
            i += len(sep)
            continue
        cur.append(s[i])
        i += 1
    parts.append("".join(cur))
    return parts


def parse_solr_synonyms(text: str, expand: bool = True, allow_multi_word: bool = False) -> SynonymMap:
    """Parser for the Solr synonyms format
    (analysis/common/.../synonym/SolrSynonymParser.java:82-137):

    - blank lines and ``#`` comments are skipped
    - ``a, b => c, d`` — explicit mapping: every LHS term maps to every
      RHS term with the original REPLACED (add includeOrig=false);
      entries for the same input merge across lines
    - ``a, b, c`` — equivalence line: with ``expand`` every member maps
      to every other keeping the original (includeOrig=true); without
      it every member is replaced by the FIRST (includeOrig=false)
    - backslash escapes ``\\,`` / ``\\=>`` protect separators

    Single-token terms only (this engine's synonym stages are the
    single-token-rule subset that index-time flattening preserves; a
    multi-word term raises). The returned map drives query-time
    ``expand_synonyms``; its ``index_sets()`` feeds
    ``IndexConfig.synonyms`` when the file is pure expand-equivalence."""
    groups: list[tuple[str, ...]] = []
    replace: dict[str, list[str]] = {}

    def _terms(chunk: str) -> list[str]:
        out = []
        for raw in _split_escaped(chunk, ","):
            t = " ".join(raw.strip().lower().split())
            if not t:
                continue
            if any(c.isspace() for c in t) and not allow_multi_word:
                raise ValueError(
                    f"multi-word synonym {t!r} unsupported here: single-token rules "
                    "only (multi-word rules do not survive index-time graph "
                    "flattening); pass allow_multi_word=True for QUERY-TIME graph "
                    "expansion (QueryBuilder.analyzeGraphBoolean/-Phrase role)"
                )
            out.append(t)
        return out

    for line in text.splitlines():
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        sides = _split_escaped(line, "=>")
        if len(sides) > 2:
            raise ValueError(f"more than one explicit mapping on one line: {line!r}")
        if len(sides) == 2:
            lhs, rhs = _terms(sides[0]), _terms(sides[1])
            if not lhs or not rhs:
                raise ValueError(f"empty side of explicit mapping: {line!r}")
            for t in lhs:
                bucket = replace.setdefault(t, [])
                for o in rhs:
                    if o not in bucket:
                        bucket.append(o)
            continue
        members = _terms(line)
        if len(members) < 2:
            raise ValueError(f"equivalence line needs >= 2 terms: {line!r}")
        if expand:
            groups.append(tuple(members))
        else:
            first = members[0]
            for t in members:
                bucket = replace.setdefault(t, [])
                if first not in bucket:
                    bucket.append(first)
    m = SynonymMap(groups, replace={k: tuple(v) for k, v in replace.items()})
    m.groups = tuple(groups)
    return m


def index_sets(syn: SynonymMap) -> tuple[tuple[str, ...], ...]:
    """The equivalence sets of a parsed map, for ``IndexConfig.synonyms``.
    Raises when the map carries replacement rules — substitution is a
    different index-time transform than posInc-0 stacking and would
    silently change which surface terms are searchable — or multi-word
    terms (they do not survive index-time graph flattening)."""
    if syn.replace:
        raise ValueError(
            "synonym file has explicit '=>' (or expand=false) rules; only pure "
            "expand-equivalence files can back an index-time stacked stage"
        )
    sets = tuple(getattr(syn, "groups", ()) or ())
    for g in sets:
        for t in g:
            if " " in t:
                raise ValueError(
                    f"multi-word synonym {t!r} cannot back an index-time stacked "
                    "stage; use query-time expand_synonyms (graph paths)"
                )
    return sets


def expand_synonyms(q: A.Query, syn: "SynonymMap | dict | list", field: str = "content") -> A.Query:
    """Rewrite ``q`` with synonym expansion on ``field``'s analyzed
    leaves: TermQuery → SynonymQuery(group); PhraseQuery /
    MultiPhraseQuery slots → per-position alternatives.  Everything
    else passes through structurally (booleans/dismax/boost recurse)."""
    if not isinstance(syn, SynonymMap):
        syn = SynonymMap(syn)
    return _walk(q, syn, field)


def _slot_alts(terms: tuple[str, ...], syn: SynonymMap) -> tuple[str, ...]:
    out: list[str] = []
    for t in terms:
        outs, keep = syn.outputs(t)
        for a in ((t,) if keep or not outs else ()) + outs:
            if " " in a:
                raise ValueError(
                    f"multi-word synonym {a!r} inside a MultiPhrase slot: only "
                    "PhraseQuery/TermQuery leaves take the graph-path expansion"
                )
            if a not in out:
                out.append(a)
    return tuple(out)


MAX_GRAPH_PATHS = 1024  # IndexSearcher maxClauseCount role: the SHOULD
# boolean of path queries is capped like any boolean


def _graph_involved(terms: tuple[str, ...], syn: SynonymMap) -> bool:
    """True when the analyzed token sequence forms a GRAPH (some rule
    output spans >1 position, or a multi-word input matches a
    consecutive run) — the posLength>1 condition that routes
    QueryBuilder to analyzeGraphPhrase instead of analyzeMultiPhrase."""
    for i, t in enumerate(terms):
        outs, _ = syn.outputs(t)
        if any(" " in o for o in outs):
            return True
    for key in syn.multi_inputs():
        kt = key.split()
        n = len(kt)
        for i in range(len(terms) - n + 1):
            if list(terms[i : i + n]) == kt:
                return True
    return False


def _phrase_paths(terms: tuple[str, ...], syn: SynonymMap) -> tuple[tuple[str, ...], ...]:
    """Every finite string through the synonym graph over ``terms``
    (GraphTokenStreamFiniteStrings.getFiniteStrings role): at each slot
    branch on the slot term's outputs (multi-word outputs splice their
    tokens in) and on multi-word INPUT rules matching the consecutive
    run starting there (SynonymGraphFilter's multi-token match). Capped
    at MAX_GRAPH_PATHS like the boolean the paths feed."""
    multi_keys = [k.split() for k in syn.multi_inputs()]

    def rec(i: int) -> list[tuple[str, ...]]:
        if i == len(terms):
            return [()]
        out: list[tuple[str, ...]] = []
        outs, keep = syn.outputs(terms[i])
        members = ((terms[i],) + outs) if (keep or not outs) else outs
        rest1 = rec(i + 1)
        for m in dict.fromkeys(members):
            mt = tuple(m.split())
            out.extend(mt + r for r in rest1)
        for kt in multi_keys:
            n = len(kt)
            if list(terms[i : i + n]) == kt:
                outs2, _keep2 = syn.outputs(" ".join(kt))
                # the kept-original consecutive run already arises from
                # the per-slot branch above; add the mapped outputs
                restn = rec(i + n)
                for m in dict.fromkeys(outs2):
                    mt = tuple(m.split())
                    out.extend(mt + r for r in restn)
        if len(out) > MAX_GRAPH_PATHS:
            raise ValueError(
                f"synonym graph explodes past {MAX_GRAPH_PATHS} paths "
                "(maxClauseCount role)"
            )
        return out

    return tuple(dict.fromkeys(rec(0)))


def _walk(q: A.Query, syn: SynonymMap, field: str) -> A.Query:
    if isinstance(q, A.TermQuery) and q.field == field:
        outs, keep = syn.outputs(q.term)
        if not outs:
            return q
        terms = ((q.term,) + outs) if keep else outs
        if any(" " in t for t in terms):
            # graph side-path segment (QueryBuilder.analyzeGraphBoolean
            # :503-560 + newGraphSynonymQuery:617-624): one SHOULD
            # clause per finite path — single-token paths stay
            # TermQuery, multi-token paths become the auto-generated
            # PhraseQuery (autoGenerateMultiTermSynonymsPhraseQuery)
            clauses = []
            for t in dict.fromkeys(terms):
                parts = tuple(t.split())
                sub = (
                    A.TermQuery(parts[0], field=field)
                    if len(parts) == 1
                    else A.PhraseQuery(parts, field=field)
                )
                clauses.append((A.Occur.SHOULD, sub))
            return A.BooleanQuery(tuple(clauses))
        if len(terms) == 1:
            return A.TermQuery(terms[0], field=field)
        return A.SynonymQuery(terms, field=field)
    if isinstance(q, A.SynonymQuery) and q.field == field:
        return A.SynonymQuery(_slot_alts(q.terms, syn), field=field)
    if isinstance(q, A.PhraseQuery) and q.field == field:
        if _graph_involved(q.terms, syn):
            # analyzeGraphPhrase (QueryBuilder.java:565-582): one
            # PhraseQuery per finite string, SHOULD-combined, the
            # phrase slop applied to every path
            paths = _phrase_paths(q.terms, syn)
            subs = tuple(
                A.TermQuery(p[0], field=field)
                if len(p) == 1
                else A.PhraseQuery(p, slop=q.slop, field=field)
                for p in paths
            )
            if len(subs) == 1:
                return subs[0]
            return A.BooleanQuery(tuple((A.Occur.SHOULD, s) for s in subs))
        slots = tuple(_slot_alts((t,), syn) for t in q.terms)
        if all(len(s) == 1 for s in slots):
            new_terms = tuple(s[0] for s in slots)
            if new_terms == q.terms:
                return q
            # replacement rules (a => b, expand=false): the surviving
            # single alternative may DIFFER from the surface term —
            # rebuild the phrase over the substituted terms (returning
            # q unchanged would keep the replaced word and match
            # nothing the rule intended)
            return A.PhraseQuery(new_terms, slop=q.slop, field=field)
        return A.MultiPhraseQuery(slots, slop=q.slop, field=field)
    if isinstance(q, A.MultiPhraseQuery) and getattr(q, "field", field) == field:
        return A.MultiPhraseQuery(
            tuple(_slot_alts(s, syn) for s in q.positions), slop=q.slop, field=q.field
        )
    return A.map_children(q, lambda sub: _walk(sub, syn, field))
