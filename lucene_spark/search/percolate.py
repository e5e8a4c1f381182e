"""Percolator / reverse search (the lucene/monitor module role).

The reference's Monitor (lucene/monitor/src/java/org/apache/lucene/
monitor/Monitor.java: register(MonitorQuery..) + match(Document..))
inverts the search problem: queries are the persistent set, documents
stream past, and each document reports which registered queries match
it. Two stages, exactly as the reference:

1. **Presearcher** (TermFilteredPresearcher.java role): each
   registered query is reduced to a disjunction of *trigger terms* —
   a sound overapproximation such that any matching document must
   contain at least one trigger (for a conjunction, ONE must-term
   suffices; for a disjunction, the union of all branches is needed;
   queries that cannot guarantee a term, e.g. MatchAll or pure
   negation, fall back to matching every document). In Spark this is
   a broadcast hash join: distinct document tokens (vectorized
   tokenize, posexplode) against the small (query_id, trigger) relation
   — no shuffle of the document text.
2. **Exact verify** (CandidateMatcher.java role): candidate
   (document, query) pairs are re-checked with the full matcher over
   the document's token stream, Arrow-batched via mapInPandas (the
   per-segment in-memory index the reference builds per doc batch).
   Sloppy phrases reuse the engine's sloppy-phrase dispatcher
   (kernels._sloppy_freqs, vectorized with no per-candidate path,
   repeated terms included) on the document as its one candidate.

Scale: the registered query set is the SMALL side (broadcast); the
document stream is the big side and is touched once — tokenize +
join + verify all pipeline inside one stage, so percolation of a
100 TB stream is a map-only job. Works identically under Structured
Streaming (call ``match`` inside foreachBatch).
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from lucene_spark.analysis.tokenizer import tokenize_with_positions
from lucene_spark.search import ast as A
from lucene_spark.search.parser import parse_query


def trigger_terms(q: A.Query) -> set[str] | None:
    """Terms such that every matching doc contains >=1 of them;
    None = no such guarantee (query must be verified on every doc)."""
    if isinstance(q, A.TermQuery):
        return {q.term}
    if isinstance(q, (A.PhraseQuery, A.SynonymQuery, A.TermInSetQuery)):
        return set(q.terms)
    if isinstance(q, A.MultiPhraseQuery):
        out: set[str] = set()
        for slot in q.positions:
            out |= set(slot)
        return out
    if isinstance(q, A.BoostQuery):
        return trigger_terms(q.query)
    if isinstance(q, A.ConstantScoreQuery):
        return trigger_terms(q.query)
    if isinstance(q, A.DisjunctionMaxQuery):
        out = set()
        for sub in q.queries:
            t = trigger_terms(sub)
            if t is None:
                return None
            out |= t
        return out
    if isinstance(q, A.BooleanQuery):
        musts = [sq for occ, sq in q.clauses if occ in (A.Occur.MUST, A.Occur.FILTER)]
        # any ONE positive conjunct with triggers is a sound filter —
        # pick the one with the fewest triggers (cheapest join fan-out)
        best: set[str] | None = None
        for sq in musts:
            t = trigger_terms(sq)
            if t is not None and (best is None or len(t) < len(best)):
                best = t
        if best is not None:
            return best
        shoulds = [sq for occ, sq in q.clauses if occ == A.Occur.SHOULD]
        # the SHOULD union is only a SOUND filter when at least one
        # SHOULD must match: no positive conjuncts (pure disjunction)
        # or minimum_should_match >= 1. With trigger-less MUSTs and
        # optional SHOULDs, a doc can match on the MUSTs alone while
        # containing no SHOULD term — scan-all (None) is required.
        if shoulds and (not musts or q.minimum_should_match >= 1):
            out = set()
            for sq in shoulds:
                t = trigger_terms(sq)
                if t is None:
                    return None
                out |= t
            return out
        return None  # pure negation / empty / unfilterable conjunction
    return None  # MatchAll, multi-term expansions, field queries, ...


def _matches(q: A.Query, toks: list[tuple[str, int]], tset: set[str]) -> bool:
    """Full matcher over one doc's (token, position) stream (binary; no
    scoring). Positions are the index's: a dropped over-length token
    still consumes one."""
    if isinstance(q, A.TermQuery):
        return q.term in tset
    if isinstance(q, A.MatchAllDocsQuery):
        return True
    if isinstance(q, A.MatchNoDocsQuery):
        return False
    if isinstance(q, (A.BoostQuery, A.ConstantScoreQuery)):
        return _matches(q.query, toks, tset)
    if isinstance(q, A.SynonymQuery):
        return any(t in tset for t in q.terms)
    if isinstance(q, A.TermInSetQuery):
        return any(t in tset for t in q.terms)
    if isinstance(q, A.DisjunctionMaxQuery):
        return any(_matches(sq, toks, tset) for sq in q.queries)
    if isinstance(q, A.PrefixQuery):
        return any(t.startswith(q.prefix) for t in tset)
    if isinstance(q, A.WildcardQuery):
        from lucene_spark.search.textmatch import wildcard_to_regex

        rx = _re.compile(wildcard_to_regex(q.pattern))
        return any(rx.fullmatch(t) for t in tset)
    if isinstance(q, A.RegexpQuery):
        rx = _re.compile(f"(?:{q.pattern})")
        return any(rx.fullmatch(t) for t in tset)
    if isinstance(q, A.TermRangeQuery):
        lo, hi = q.lower, q.upper
        for t in tset:
            if lo is not None and (t < lo or (t == lo and not q.include_lower)):
                continue
            if hi is not None and (t > hi or (t == hi and not q.include_upper)):
                continue
            return True
        return False
    if isinstance(q, A.FuzzyQuery):
        from lucene_spark.search.textmatch import levenshtein, osa_distance

        dist = osa_distance if q.transpositions else levenshtein
        return any(dist(t, q.term, q.max_edits) <= q.max_edits for t in tset)
    if isinstance(q, A.PhraseQuery):
        if any(t not in tset for t in q.terms):
            return False
        pos = {t: [p for tok, p in toks if tok == t] for t in set(q.terms)}
        if q.slop == 0:
            later = [set(pos[t]) for t in q.terms[1:]]
            return any(
                all((p + i + 1) in s for i, s in enumerate(later)) for p in pos[q.terms[0]]
            )
        from lucene_spark.search.kernels import _sloppy_freqs

        # one candidate (index 0), so each flat key is the bare position
        keys = [np.asarray(pos[t], dtype=np.int64) for t in q.terms]
        slots = tuple((t,) for t in q.terms)
        return float(_sloppy_freqs(keys, q.slop, 1, slots)[0]) > 0.0
    if isinstance(q, A.BooleanQuery):
        should_hits = 0
        has_should = False
        for occ, sq in q.clauses:
            hit = _matches(sq, toks, tset)
            if occ in (A.Occur.MUST, A.Occur.FILTER):
                if not hit:
                    return False
            elif occ == A.Occur.MUST_NOT:
                if hit:
                    return False
            else:
                has_should = True
                should_hits += hit
        msm = max(q.minimum_should_match, 1) if not _has_positive_non_should(q) else q.minimum_should_match
        return (not has_should) or should_hits >= msm
    raise NotImplementedError(f"percolation of {type(q).__name__} (needs doc metadata)")


def _has_positive_non_should(q: A.BooleanQuery) -> bool:
    return any(occ in (A.Occur.MUST, A.Occur.FILTER) for occ, _ in q.clauses)


class QueryMonitor:
    """Registered-query store + document matcher (Monitor role)."""

    def __init__(self, spark, queries: dict[str, "str | A.Query"]):
        self.spark = spark
        self.queries: dict[str, A.Query] = {
            qid: A.rewrite(parse_query(q) if isinstance(q, str) else q)
            for qid, q in queries.items()
        }
        self.triggers: dict[str, set[str] | None] = {
            qid: trigger_terms(q) for qid, q in self.queries.items()
        }

    def match(self, docs_df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """(doc, query) pairs for every registered query matching each
        doc. One map-only pass over ``docs_df``."""
        queries = self.queries
        triggers = self.triggers
        scan_all = sorted(qid for qid, t in triggers.items() if t is None)
        trig_rows = [
            (qid, t) for qid, ts in triggers.items() if ts is not None for t in sorted(ts)
        ]
        # trigger → [query ids] inverted map rides the closure (small)
        trig_map: dict[str, list[str]] = {}
        for qid, t in trig_rows:
            trig_map.setdefault(t, []).append(qid)

        out_schema = f"{id_col} long, query_id string"

        def _percolate(batches):
            for pdf in batches:
                rows_doc, rows_q = [], []
                for did, text in zip(pdf[id_col], pdf[text_col]):
                    words, positions = tokenize_with_positions(text or "")
                    toks = list(zip(words, positions))
                    tset = set(words)
                    cand: set[str] = set(scan_all)
                    for t in tset:
                        cand.update(trig_map.get(t, ()))
                    for qid in cand:
                        if _matches(queries[qid], toks, tset):
                            rows_doc.append(did)
                            rows_q.append(qid)
                yield pd.DataFrame({id_col: pd.Series(rows_doc, dtype="int64"), "query_id": rows_q})

        return docs_df.select(id_col, text_col).mapInPandas(_percolate, out_schema)
