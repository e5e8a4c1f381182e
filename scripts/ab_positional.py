"""Interleaved A/B latency harness for the positional query family.

Round-4 verdict flagged a 2-8x positional p50 regression (BENCH_r04 vs
BENCH_r03: q_spannear 1.6->13.4 ms etc.) with candidate commits 76092cd
(width-batched FOR unpack) and 97d2d2c (flat position buffer).  This is
the same methodology as the round-4 q_and exoneration recorded in
BENCH/BASELINE.md: each codebase builds its OWN index with its OWN
builder, then trials run in ABBA order within one host session so host
drift shows up as t1-vs-t2 spread instead of biasing one side.

Usage (one trial; the ABBA driver runs this four times):
  python scripts/ab_positional.py --repo ../other_checkout --label r3_t1 \
      --reps 30 [--out FILE]

Prints one JSON line {label, queries: {name: p50_sec}}. Indexes (one
per target codebase and scale, reused across its trials) and Spark
local dirs live in the git-ignored ``.ab_positional/`` of this
checkout; delete it to rebuild.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".ab_positional")

POSITIONAL = [
    "q_phrase",
    "q_sloppy",
    "q_spannear",
    "q_interval",
    "q_sloppy3",
    "q_spannear3",
    "q_spannear_rep",
    "q_sloppy_rep",
    "q_interval3",
    "q_atleast",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True, help="codebase root (has bench.py, lucene_spark/)")
    ap.add_argument("--label", required=True)
    ap.add_argument("--reps", type=int, default=30)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    import importlib.util

    spec = importlib.util.spec_from_file_location("target_bench", os.path.join(repo, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)  # type: ignore[union-attr]

    from lucene_spark.gate import corpus_df  # the target repo's copy (sys.path)
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.search.engine import Searcher
    from lucene_spark.session import get_spark

    assert os.path.dirname(os.path.abspath(sys.modules["lucene_spark"].__file__)).startswith(repo), (
        "imported lucene_spark is not the target repo's copy"
    )

    local_dir = os.path.join(SCRATCH, "spark_local")
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        f"ab_positional_{args.label}",
        master=f"local[{args.cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.local.dir": local_dir,
        },
    )

    # per-codebase index, built once and reused across this codebase's trials
    tag = os.path.basename(repo.rstrip("/"))
    idx_dir = os.path.join(SCRATCH, f"{tag}_{os.path.basename(os.path.normpath(args.sf_dir))}")
    if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
        shutil.rmtree(idx_dir, ignore_errors=True)
        corpus = corpus_df(spark, args.sf_dir)
        cfg = IndexConfig(docs_per_chunk=1 << 12, term_buckets=8, positions=True)
        IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)

    searcher = Searcher(SearchIndex(spark, idx_dir))
    # a checkout whose bench.py predates a query simply omits it
    queries = {n: bench.QUERIES[n] for n in POSITIONAL if n in bench.QUERIES}
    for q in queries.values():  # warm: decode caches + JIT
        searcher.search(q, k=10)
        searcher.search(q, k=10)

    lat: dict[str, float] = {}
    for name, q in queries.items():
        times = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            searcher.search(q, k=10)
            times.append(time.perf_counter() - t0)
        lat[name] = round(statistics.median(times), 5)

    line = json.dumps({"label": args.label, "repo": repo, "reps": args.reps, "queries": lat})
    print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
