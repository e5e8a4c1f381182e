"""Per-round benchmark harness (driver contract).

Builds the inverted index over $SPARK_GRAFT_SF_DIR/documents.parquet on
local[$SPARK_GRAFT_CPUS], then runs the headline BM25 query set (terms,
boolean AND/OR/NOT, phrase, dismax, wildcard — the shape of the
reference's query workload, lucene/benchmark/conf/query-*.txt) in
driver mode (warm) and reports per-query p50 latency.

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: p50_sec, ...}, "sf": f,
   "build_sec": ..., "docs_per_sec": ..., "n_docs": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lucene_spark.search import ast as A  # noqa: E402
from lucene_spark.search.intervals import IMaxGaps, IOr, IOrdered, ITerm, IUnordered  # noqa: E402

QUERIES: dict[str, A.Query] = {
    "q_term": A.TermQuery("table"),
    "q_term_rare": A.TermQuery("dup"),
    "q_and": A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("merge")), (A.Occur.MUST, A.TermQuery("vector")))
    ),
    "q_or": A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("dup")),
            (A.Occur.SHOULD, A.TermQuery("vector")),
            (A.Occur.SHOULD, A.TermQuery("scan")),
        )
    ),
    "q_not": A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST_NOT, A.TermQuery("merge")))
    ),
    "q_phrase": A.PhraseQuery(("table", "hash")),
    "q_sloppy": A.PhraseQuery(("table", "hash"), slop=3),
    "q_dismax": A.DisjunctionMaxQuery((A.TermQuery("table"), A.TermQuery("merge")), 0.3),
    "q_wildcard": A.WildcardQuery("*ow"),
    "q_spannear": A.SpanNearQuery(("table", "hash"), slop=4, in_order=True),
    "q_interval": A.IntervalQuery(IMaxGaps(6, IUnordered((ITerm("table"), ITerm("merge"))))),
    # 3-term positional shapes: the lockstep-vectorized n-slot kernels
    # (round-3 item — must stay within ~2x of the 2-term entries)
    "q_sloppy3": A.PhraseQuery(("table", "hash", "merge"), slop=6),
    "q_spannear3": A.SpanNearQuery(("table", "hash", "merge"), slop=8, in_order=False),
    # repeated-term span-near: both slots read one term's positions
    # (same flat interval producer as distinct terms)
    "q_spannear_rep": A.SpanNearQuery(("table", "table"), slop=4, in_order=True),
    # repeated-term sloppy phrase: Lucene's repeat groups in the n-slot
    # lockstep matcher
    "q_sloppy_rep": A.PhraseQuery(("table", "table"), slop=3),
    "q_interval3": A.IntervalQuery(
        IMaxGaps(8, IOrdered((ITerm("table"), ITerm("hash"), ITerm("merge"))))
    ),
    "q_field_filter": A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("table")), (A.Occur.FILTER, A.FieldValueQuery("lang", "en")))
    ),
    # FeatureField saturation as a scored SHOULD (ValueSpec path: the
    # docvalues read is cached after first touch, like term postings)
    "q_feature": A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("table")),
            (A.Occur.SHOULD, A.BoostQuery(A.FeatureQuery("n_chars", "saturation", pivot=256.0), 1.5)),
        )
    ),
    # LatLonShape filter: pushed-down bbox coarse phase + JVM
    # separating-axis exact phase over the tessellation column
    "q_shape_filter": A.BooleanQuery(
        (
            (A.Occur.MUST, A.TermQuery("table")),
            (A.Occur.FILTER, A.ShapeBoxQuery("shape", 8.0, 18.0, -45.0, -35.0)),
        )
    ),
    # Intervals.atLeast(2 of 3) via the or-of-unordered rewrite
    "q_atleast": A.IntervalQuery(
        IOr(
            (
                IUnordered((ITerm("table"), ITerm("hash"))),
                IUnordered((ITerm("table"), ITerm("scan"))),
                IUnordered((ITerm("hash"), ITerm("scan"))),
            )
        )
    ),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0)

    from lucene_spark.gate import corpus_df
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.search.engine import Searcher
    from lucene_spark.session import get_spark

    t_all = time.time()
    # tmpfs shuffle dir + 8 MB input splits: same rationale as
    # scripts/bench_scaling.py (sandbox disk writeback storm stand-in
    # for cluster-local NVMe; splits sized so every core gets scan work)
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.local.dir": "/dev/shm/spark_local",
        },
    )
    idx_dir = f"/tmp/lucene_spark_bench/{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(idx_dir, ignore_errors=True)

    corpus = corpus_df(spark, sf_dir)
    cfg = IndexConfig(docs_per_chunk=1 << 12, term_buckets=8, positions=True)
    # untimed warm-up build on a tiny slice: spins up the Python worker
    # pool + lazy pyarrow imports once (same methodology as
    # scripts/bench_scaling.py / BENCH/BASELINE.md — this cost is paid
    # once per executor JVM and amortizes to ~0 in a real
    # minutes-long build, so steady-state docs/sec is the honest number)
    IndexBuilder(spark, cfg).build(corpus.limit(64), idx_dir + "_warm", assign_ids=False)
    shutil.rmtree(idx_dir + "_warm", ignore_errors=True)
    t0 = time.time()
    metrics = IndexBuilder(spark, cfg).build(corpus, idx_dir, assign_ids=False)
    build_sec = time.time() - t0
    n_docs = metrics["docs"]

    searcher = Searcher(SearchIndex(spark, idx_dir))
    # warm-up: touch all tables + JIT the kernels
    for q in QUERIES.values():
        searcher.search(q, k=10)

    lat: dict[str, float] = {}
    for name, q in QUERIES.items():
        times = []
        for _ in range(5):
            t0 = time.time()
            searcher.search(q, k=10)
            times.append(time.time() - t0)
        lat[name] = round(statistics.median(times), 4)

    # the 100-TB execution path: one representative query through the
    # chunked leaf-parallel mode (applyInPandas kernels + Catalyst
    # merge). Latency here is Spark job scheduling (~constant), not
    # kernel time — reported so the cluster path's cost is on record.
    q_dist = QUERIES["q_and"]
    searcher.search(q_dist, k=10, mode="distributed")  # warm
    times = []
    for _ in range(3):
        t0 = time.time()
        searcher.search(q_dist, k=10, mode="distributed")
        times.append(time.time() - t0)
    lat["q_and_distributed"] = round(statistics.median(times), 4)

    # steady-state build throughput at a scale-representative size: the
    # sf corpus replicated with shifted doc ids (same bytes tokenized
    # per replica), materialized once as a multi-file parquet so the
    # scan splits — the small sf corpus alone is fixed-overhead
    # dominated (stage barriers ~10 s vs <20 s of work) and would
    # under-report docs/sec by ~50x vs the BENCH/BASELINE.md runs.
    from pyspark.sql import functions as F

    # 160 replicas at sf0.1 = 800k docs / ~44M postings — the same
    # scale as the BENCH/BASELINE.md runs; smaller inputs are dominated
    # by the ~20 s of size-independent stage barriers and under-report
    # throughput several-fold
    replicas = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "160"))
    bulk_path = f"/tmp/lucene_spark_bench/bulk_{os.path.basename(os.path.normpath(sf_dir))}_r{replicas}"
    if not os.path.exists(f"{bulk_path}/_SUCCESS"):
        bulk = (
            corpus.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
            .select(
                (F.col("doc_id") + F.col("r") * n_docs).alias("doc_id"),
                "repo",
                F.concat(F.col("r").cast("string"), F.lit("/"), F.col("path")).alias("path"),
                "commit",
                "lang",
                "n_chars",
                "content",
            )
            .repartition(64, "doc_id")
        )
        bulk.write.mode("overwrite").parquet(bulk_path)
    bulk_cfg = IndexConfig(docs_per_chunk=1 << 14, term_buckets=8, positions=True)
    t0 = time.time()
    bulk_metrics = IndexBuilder(spark, bulk_cfg).build(
        spark.read.parquet(bulk_path), idx_dir + "_bulk", assign_ids=False
    )
    bulk_sec = time.time() - t0
    # distributed query against the BULK index: terms here are genuinely
    # hot (multi-chunk), so this measures the real applyInPandas leaf
    # path (scan → chunk shuffle → kernel → merged top-k in one action),
    # not the all-small driver fallback the sf-corpus number reflects
    bulk_searcher = Searcher(SearchIndex(spark, idx_dir + "_bulk"))
    q_hot = A.BooleanQuery(
        ((A.Occur.MUST, A.TermQuery("table")), (A.Occur.MUST, A.TermQuery("hash")))
    )
    bulk_searcher.search(q_hot, k=10, mode="distributed")  # warm
    times = []
    for _ in range(3):
        t0 = time.time()
        bulk_searcher.search(q_hot, k=10, mode="distributed")
        times.append(time.time() - t0)
    lat["q_and_distributed_bulk"] = round(statistics.median(times), 4)
    shutil.rmtree(idx_dir + "_bulk", ignore_errors=True)

    # training-data pipeline operators at the same sf (wall sec per op,
    # one timed run after a count() warm-up of the source scan)
    from lucene_spark.pipeline import dedup as _dd
    from lucene_spark.pipeline import substrings as _ss
    from lucene_spark.pipeline.curation import c4_line_filters as _c4

    raw_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    raw_docs.count()
    pipe: dict[str, float] = {}
    t0 = time.time()
    _dd.minhash_lsh_pairs(raw_docs, threshold=0.5).count()
    pipe["dd_minhash"] = round(time.time() - t0, 2)
    t0 = time.time()
    _ss.duplicated_ngram_spans(raw_docs, n=5).count()
    pipe["dd_dupspans"] = round(time.time() - t0, 2)
    t0 = time.time()
    _c4(raw_docs.withColumn("text", F.col("text"))).count()
    pipe["tx_c4"] = round(time.time() - t0, 2)

    # HNSW graph build throughput (round-5 tracked metric): the sf
    # embeddings replicated to 50k deterministic vectors, 8 shards —
    # same construction bench_hnsw.py A/Bs, kept small enough for the
    # per-round budget
    import shutil as _sh

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base_n = emb.count()
    n_vec = 50_000
    reps = -(-n_vec // base_n)
    hsrc = (
        emb.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            (F.col("vec_id") + F.col("r") * base_n).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + 0.01 * sin(CAST(vec_id AS DOUBLE)"
                " * 0.73 + i * 1.31 + r * 2.17))"
            ).alias("embedding"),
        )
        .filter(F.col("vec_id") < n_vec)
        .repartition(32)
    )
    hsrc_path = "/tmp/lucene_spark_bench/hnsw_bench_src"
    if not os.path.exists(f"{hsrc_path}/_SUCCESS"):
        hsrc.write.mode("overwrite").parquet(hsrc_path)
    from lucene_spark.pipeline.hnsw import build_hnsw as _bh

    hout = "/tmp/lucene_spark_bench/hnsw_bench_graph"
    _sh.rmtree(hout, ignore_errors=True)
    t0 = time.time()
    _bh(spark.read.parquet(hsrc_path), hout, n_shards=8)
    hnsw_sec = time.time() - t0
    pipe["ann_hnsw_build_50k"] = round(hnsw_sec, 2)
    _sh.rmtree(hout, ignore_errors=True)

    total = time.time() - t_all
    print(
        json.dumps(
            {
                "metric": "index-build + BM25 query p50 (documents corpus)",
                "value": round(total, 2),
                "unit": "sec",
                "queries": lat,
                "pipeline_sec": pipe,
                "sf": sf,
                "build_sec": round(build_sec, 2),
                "docs_per_sec": round(n_docs / build_sec, 1),
                "n_docs": n_docs,
                "bulk_n_docs": bulk_metrics["docs"],
                "bulk_build_sec": round(bulk_sec, 2),
                "bulk_docs_per_sec": round(bulk_metrics["docs"] / bulk_sec, 1),
                "hnsw_build_vectors_per_sec": round(n_vec / hnsw_sec),
                "query_p50_sec": round(statistics.median(lat.values()), 4),
            }
        )
    )


if __name__ == "__main__":
    main()
