"""Query-profiler CLI (the sandbox QueryProfilerIndexSearcher as a
command-line tool; see lucene_spark/search/profiler.py).

Usage:
  python scripts/profile_query.py --index-dir DIR 'QUERY' [-k N] [--repeat N]

Prints the phase buckets, the per-node timing tree and the reader
cache's hits / misses / evictions / bytes per namespace after the
query, then one JSON line with the full profile and those cache counts
(key "cache"). ``--repeat N`` first runs the query N times on the fresh
reader (``Searcher.search``) and prints each run's wall time, the part
of it spent preparing the query (parse through compile, or the cached
plan), its ``decode_blocks`` calls and blocks (the WAND / conjunction
store fills) and its per-namespace cache deltas — so run 1 is cold and
a repeat should show hits only (a "prepared" hit among them), no
decode and a prepare time near zero; they are in the JSON line too
(key "repeat"). Cluster form: spark-submit --py-files
lucene_spark.zip scripts/profile_query.py ...
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str]) -> int:
    index_dir, query, k, repeat = None, None, 10, 0
    it = iter(argv)
    for a in it:
        if a == "--index-dir":
            index_dir = next(it, None)
        elif a == "-k":
            k = int(next(it, "10"))
        elif a == "--repeat":
            repeat = int(next(it, "1"))
        else:
            query = a
    if not index_dir or not query:
        print(__doc__)
        return 2
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.search.engine import Searcher
    from lucene_spark.search.profiler import profile
    from lucene_spark.session import get_spark

    spark = get_spark("profile_query")
    index = SearchIndex(spark, index_dir)
    searcher = Searcher(index)
    runs = repeat_runs(index, searcher, query, k, repeat) if repeat > 0 else []
    p = profile(searcher, query, k=k)
    print(f"query: {p['query']}")
    for name, sec in p["phases"].items():
        print(f"  {name:<14} {sec * 1000:9.3f} ms")

    def show(n, indent):
        print(
            f"{' ' * indent}{n['relation']:<9} {n['description']:<40} "
            f"total={n['total_sec'] * 1000:8.3f} ms  self={n['self_sec'] * 1000:8.3f} ms  "
            f"matched={n['matched']}"
        )
        for c in n["children"]:
            show(c, indent + 2)

    show(p["tree"], 2)
    print(f"  optimized search: {p['search_sec'] * 1000:.3f} ms, "
          f"{p['total_matched']} matched, top hit {p['hits'][:1]}")
    cache = index.cache.stats()
    print("  reader cache:")
    for ns, st in sorted(cache.items()):
        print(f"    {ns:<10} hits={st['hits']:<6} misses={st['misses']:<6} "
              f"evictions={st['evictions']:<6} bytes={st['bytes']}")
    print(json.dumps({**p, "cache": cache, **({"repeat": runs} if runs else {})}))
    return 0


def repeat_runs(index, searcher, query: str, k: int, n: int) -> list[dict]:
    """Run ``query`` ``n`` times on one reader; per run: wall time,
    prepare time, decode_blocks calls and blocks, and the reader cache's
    per-namespace deltas (namespaces that did not move are left out)."""
    from lucene_spark.search import wand

    decode_blocks = wand.decode_blocks
    decoded: list[int] = []
    prepare = searcher.prepare
    prepare_s: list[float] = []

    def counted(blob, blocks, block_last):
        decoded.append(len(blocks))
        return decode_blocks(blob, blocks, block_last)

    def timed_prepare(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return prepare(*args, **kwargs)
        finally:
            prepare_s.append(time.perf_counter() - t0)

    wand.decode_blocks = counted
    searcher.prepare = timed_prepare  # search() calls it once per query
    runs = []
    try:
        print(f"repeat: {n} runs on one reader")
        for i in range(n):
            before = index.cache.stats()
            del decoded[:], prepare_s[:]
            t0 = time.perf_counter()
            td = searcher.search(query, k=k)
            wall_ms = (time.perf_counter() - t0) * 1000
            delta = {}
            for ns, st in index.cache.stats().items():
                d = {key: v - before.get(ns, {}).get(key, 0) for key, v in st.items()}
                if any(d.values()):
                    delta[ns] = d
            prepare_ms = sum(prepare_s) * 1000
            print(f"  run {i + 1}: {wall_ms:9.3f} ms  prepare {prepare_ms:8.3f} ms  {len(td.hits)} hits  "
                  f"decode_blocks calls={len(decoded)} blocks={sum(decoded)}")
            for ns, d in sorted(delta.items()):
                print(f"    {ns:<10} hits+{d['hits']:<6} misses+{d['misses']:<6} "
                      f"evictions+{d['evictions']:<6} bytes{d['bytes']:+d}")
            runs.append({"wall_ms": wall_ms, "prepare_ms": prepare_ms, "decode_blocks_calls": len(decoded),
                         "decode_blocks_blocks": sum(decoded), "cache": delta})
    finally:
        wand.decode_blocks = decode_blocks
        del searcher.prepare
    return runs


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
