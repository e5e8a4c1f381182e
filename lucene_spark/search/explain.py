"""Score explanation — the IndexSearcher.explain / Weight.explain
equivalent (CORE/search/Weight.java explain contract; output shape
mirrors Lucene's Explanation tree: value, description, details).

Each node re-evaluates its spec over the driver context and reports
the doc's contribution; term leaves expose the BM25 inputs (weight =
boost * idf, freq, norm byte, decoded length, norm inverse) exactly as
BM25Similarity's Explanation does (BM25Similarity.java:254-297).
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.smallfloat import NORM_LENGTH_TABLE
from lucene_spark.search.kernels import (
    AllSpec,
    BoolSpec,
    ChunkContext,
    ConstSpec,
    ConstWrapSpec,
    DisMaxSpec,
    DocSetSpec,
    MultiPhraseSpec,
    NoneSpec,
    PhraseSpec,
    SynonymSpec,
    TermSpec,
    ValueSpec,
    evaluate,
)


def _wnum(w) -> float:
    """A spec weight as a displayable number: scalar weights pass
    through; tuple weights (SimilarityBase models carry per-term
    (boost, params...) tuples) display their summed boosts."""
    if isinstance(w, (tuple, list)):
        out = 0.0
        for x in w:
            out += _wnum(x[0] if isinstance(x, (tuple, list)) and x else x)
        return out
    try:
        return float(w)
    except (TypeError, ValueError):
        return 0.0


def _node(match: bool, value: float, description: str, details: list | None = None) -> dict:
    return {
        "match": bool(match),
        "value": float(value),
        "description": description,
        "details": details or [],
    }


def _doc_value(spec, ctx: ChunkContext, doc: int) -> float | None:
    docs, scores = evaluate(spec, ctx)
    i = int(np.searchsorted(docs, doc))
    if i < len(docs) and docs[i] == doc:
        return float(scores[i])
    return None


def explain_spec(spec, ctx: ChunkContext, doc: int) -> dict:
    if isinstance(spec, NoneSpec):
        return _node(False, 0.0, "MatchNoDocsQuery")
    if isinstance(spec, AllSpec):
        return _node(True, spec.boost, "*:*, constant score")
    val = _doc_value(spec, ctx, doc)
    matched = val is not None
    v = val or 0.0
    if isinstance(spec, TermSpec):
        docs, tfs, norms = ctx.term(spec.term)
        i = int(np.searchsorted(docs, doc))
        details = []
        if matched:
            freq, nb = int(tfs[i]), int(norms[i])
            details = [
                _node(True, _wnum(spec.weight), "weight = boost * idf (BM25Similarity.java:236)"),
                _node(True, freq, "freq, occurrences of term within document"),
                _node(True, int(NORM_LENGTH_TABLE[nb]), f"dl, length of field (norm byte {nb})"),
                _node(True, float(ctx.cache_for(spec.field)[nb]), "1 / (k1 * ((1 - b) + b * dl / avgdl))"),
            ]
        return _node(matched, v, f"weight(content:{spec.term} in {doc}) [BM25Similarity]", details)
    if isinstance(spec, SynonymSpec):
        return _node(matched, v, f"synonym({', '.join(spec.terms)}) summed tf, max-df idf")
    if isinstance(spec, (ConstSpec, DocSetSpec)):
        return _node(matched, v, "ConstantScore")
    if isinstance(spec, ValueSpec):
        return _node(
            matched,
            v,
            f"{spec.kind}{spec.params}, weight {spec.boost:g} "
            "(FeatureField / DistanceFeatureQuery per-doc value score)",
        )
    if isinstance(spec, PhraseSpec):
        return _node(matched, v, f'phrase "{" ".join(spec.terms)}"~{spec.slop}, summed-idf weight {_wnum(spec.weight):.6g}')
    if isinstance(spec, MultiPhraseSpec):
        return _node(matched, v, "MultiPhraseQuery")
    if isinstance(spec, DisMaxSpec):
        return _node(
            matched,
            v,
            f"max plus {spec.tie} times others of:",
            [explain_spec(s, ctx, doc) for s in spec.subs],
        )
    if isinstance(spec, BoolSpec):
        details = [explain_spec(s, ctx, doc) for s in spec.musts + spec.shoulds]
        for s in spec.filters:
            d = explain_spec(s, ctx, doc)
            d["description"] = "FILTER (non-scoring): " + d["description"]
            d["value"] = 0.0
            details.append(d)
        for s in spec.nots:
            d = explain_spec(s, ctx, doc)
            d["description"] = "MUST_NOT (excluding): " + d["description"]
            d["value"] = 0.0
            details.append(d)
        return _node(matched, v, "sum of:", details)
    if isinstance(spec, ConstWrapSpec):
        return _node(matched, v, "ConstantScore wrapper", [explain_spec(spec.sub, ctx, doc)])
    return _node(matched, v, type(spec).__name__)
