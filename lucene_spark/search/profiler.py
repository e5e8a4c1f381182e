"""Query profiler — the sandbox QueryProfilerIndexSearcher role.

Reference:
- lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
  QueryProfilerIndexSearcher.java (wrap a searcher, time every query
  node), QueryProfilerBreakdown.java (per-node timing buckets),
  QueryProfilerTree.java:30-90 (the nested result tree mirroring the
  rewritten query structure), QueryProfilerTimingType.java.

Spark disposition: the engine compiles a query to a spec tree and
scores it with vectorized kernels, so the reference's per-method
buckets (NEXT_DOC / ADVANCE / SCORE per scorer call) do not exist —
each node evaluates in one vectorized pass. The profile therefore
reports, per spec node: the node's wall time (its subtree evaluated
through the SAME kernels the search uses), self time (total minus
children), and matched-doc count (the scorer ``cost`` analog). Phase
buckets cover the searcher pipeline: prepare (parse → rewrite → spec
compile, the CREATE_WEIGHT bucket), rows (term dictionary + postings
point-reads, the BUILD_SCORER bucket), evaluate, and collect (top-k).
Per-node ``matched`` is SCORER-level (before the live-docs mask,
exactly like Scorer.cost()); the top-level hits/total_matched apply
live docs and equal the real search's.

Honesty note: node timings re-evaluate each subtree with the
exhaustive evaluator, so a parent's total includes re-scoring its
children and WAND/conjunction early-exit is deliberately not engaged —
relative node costs over the full match set is the contract (the
reference's profiler likewise inhibits some scorer optimizations:
QueryProfilerWeight returns no bulk scorer). ``search_sec`` reports
the real, optimized search wall time alongside.
"""

from __future__ import annotations

import time

from lucene_spark.search import kernels as K
from lucene_spark.search.kernels import evaluate, top_k_from_arrays

__all__ = ["profile"]


def _describe(spec) -> str:
    name = type(spec).__name__.removesuffix("Spec")
    for attr in ("term", "terms"):
        v = getattr(spec, attr, None)
        if v is not None:
            toks = [v] if isinstance(v, str) else list(v)
            return f"{name}({' '.join(map(str, toks[:6]))}{'…' if len(toks) > 6 else ''})"
    if isinstance(spec, K.BoolSpec):
        msm = f", msm={spec.msm}" if spec.msm else ""
        return f"Bool({len(K.clauses(spec))} clauses{msm})"
    if isinstance(spec, K.DisMaxSpec):
        return f"DisMax({len(spec.subs)} subs, tie={spec.tie})"
    if isinstance(spec, K.ConstWrapSpec):
        return f"ConstantScore(boost={spec.boost:g})"
    return name


def _profile_node(spec, ctx, label: str) -> dict:
    kids = [_profile_node(s, ctx, rel) for rel, s in K.clauses(spec)]
    t0 = time.perf_counter()
    docs, _scores = evaluate(spec, ctx)
    total = time.perf_counter() - t0
    child_total = sum(c["total_sec"] for c in kids)
    return {
        "relation": label,
        "type": type(spec).__name__,
        "description": _describe(spec),
        "total_sec": round(total, 6),
        # evaluate(parent) re-scores the children inline, so self time
        # is the parent pass minus one child pass each — floored at 0
        # (timer noise on sub-ms nodes)
        "self_sec": round(max(0.0, total - child_total), 6),
        "matched": int(len(docs)),
        "children": kids,
    }


def profile(searcher, query, k: int = 10) -> dict:
    """Profile ``query`` through the driver pipeline. Returns the full
    result dict: phase buckets, the per-node timing tree over the
    rewritten spec, the top-k hits it produced, and the wall time of
    the real (optimized) ``searcher.search`` for comparison."""
    t0 = time.perf_counter()
    q, spec, stats, rows = searcher.prepare(query, collect_rows=False)
    t_prepare = time.perf_counter() - t0
    if isinstance(spec, K.NoneSpec):
        return {
            "query": str(query),
            "phases": {"prepare_sec": round(t_prepare, 6)},
            "tree": {
                "relation": "ROOT",
                "type": "NoneSpec",
                "description": "None",
                "total_sec": 0.0,
                "self_sec": 0.0,
                "matched": 0,
                "children": [],
            },
            "hits": [],
            "total_matched": 0,
            "search_sec": 0.0,
        }
    cache = searcher._norm_caches(stats)
    t0 = time.perf_counter()
    ctx = searcher._driver_context(spec, cache)
    t_rows = time.perf_counter() - t0

    t0 = time.perf_counter()
    docs, scores = searcher._live_matches(spec, ctx)
    t_eval = time.perf_counter() - t0
    t0 = time.perf_counter()
    hits = top_k_from_arrays(docs, scores, k)
    t_collect = time.perf_counter() - t0

    tree = _profile_node(spec, ctx, "ROOT")

    t0 = time.perf_counter()
    searcher.search(query, k=k)
    search_sec = time.perf_counter() - t0
    return {
        "query": str(query),
        "phases": {
            "prepare_sec": round(t_prepare, 6),   # CREATE_WEIGHT
            "rows_sec": round(t_rows, 6),         # BUILD_SCORER (postings reads)
            "evaluate_sec": round(t_eval, 6),     # NEXT_DOC+SCORE (one vectorized pass)
            "collect_sec": round(t_collect, 6),   # top-k heap
        },
        "tree": tree,
        "hits": [(int(d), float(s)) for d, s in hits],
        "total_matched": int(len(docs)),
        "search_sec": round(search_sec, 6),
    }
