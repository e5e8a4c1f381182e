"""Query-profiler CLI (the sandbox QueryProfilerIndexSearcher as a
command-line tool; see lucene_spark/search/profiler.py).

Usage:
  python scripts/profile_query.py --index-dir DIR 'QUERY' [-k N]

Prints the phase buckets, the per-node timing tree and the reader
cache's hits / misses / evictions / bytes per namespace after the
query, then one JSON line with the full profile and those cache counts
(key "cache"). Cluster form: spark-submit --py-files lucene_spark.zip
scripts/profile_query.py ...
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str]) -> int:
    index_dir, query, k = None, None, 10
    it = iter(argv)
    for a in it:
        if a == "--index-dir":
            index_dir = next(it, None)
        elif a == "-k":
            k = int(next(it, "10"))
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
    print(json.dumps({**p, "cache": cache}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
