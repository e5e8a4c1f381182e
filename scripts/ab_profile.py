"""cProfile one query against a codebase (A/B hotspot comparison aid).

Usage: python scripts/ab_profile.py --repo PATH --query q_phrase --reps 200
"""

from __future__ import annotations

import argparse
import cProfile
import importlib.util
import os
import pstats
import shutil
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--query", default="q_phrase")
    ap.add_argument("--reps", type=int, default=200)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--top", type=int, default=30)
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    spec = importlib.util.spec_from_file_location("target_bench", os.path.join(repo, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)  # type: ignore[union-attr]

    from lucene_spark.gate import corpus_df
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.search.engine import Searcher
    from lucene_spark.session import get_spark

    spark = get_spark("ab_profile", master=f"local[{args.cpus}]")
    tag = os.path.basename(repo.rstrip("/"))
    # the index ab_positional.py builds for the same codebase and scale
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".ab_positional")
    idx_dir = os.path.join(scratch, f"{tag}_{os.path.basename(os.path.normpath(args.sf_dir))}")
    if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
        shutil.rmtree(idx_dir, ignore_errors=True)
        IndexBuilder(spark, IndexConfig(docs_per_chunk=1 << 12, term_buckets=8, positions=True)).build(
            corpus_df(spark, args.sf_dir), idx_dir, assign_ids=False
        )
    searcher = Searcher(SearchIndex(spark, idx_dir))
    q = bench.QUERIES[args.query]
    for _ in range(3):
        searcher.search(q, k=10)

    pr = cProfile.Profile()
    pr.enable()
    for _ in range(args.reps):
        searcher.search(q, k=10)
    pr.disable()
    st = pstats.Stats(pr)
    st.sort_stats("cumulative").print_stats(args.top)
    st.sort_stats("tottime").print_stats(args.top)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
