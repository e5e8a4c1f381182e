"""Resumable, checkpointed index builds (north-rule requirement).

Lucene's crash story is two-phase commit over segment files
(`segments_N` generations, lucene/core/src/java/org/apache/lucene/
index/SegmentInfos.java:54-63): work already flushed into segments
survives; the commit point advances atomically. This module re-creates
that on Spark primitives:

- the corpus is split into S deterministic **segments** (doc_id mod S —
  doc ids are themselves deterministic, so segment membership is stable
  across runs and retries are idempotent);
- each segment is one medium Spark job writing its *inverted*
  intermediate (term, doc_id, tf, norm[, poss]) + docs/norms rows to
  ``index_dir/segments/seg=K/`` and then a **checkpoint record**
  (JSON: lineage fingerprint, row counts, docs/sec, top-df skew
  report) — the `segments_N` role;
- resume = skip every segment whose checkpoint exists AND whose input
  fingerprint still matches (tampered/changed input → rebuilt);
- the final **merge job** unions all segment intermediates through the
  same hot-term-chunked sort-merge aggregation as the one-shot builder
  (SegmentMerger.merge ≅ groupBy(term), SURVEY §3.3) and writes the
  identical final table layout — search results are byte-identical to a
  one-shot build.

On a real cluster each segment job is a full-parallelism stage; S just
bounds the blast radius of a failure (lose at most 1/S of the work).
Iceberg swap-in: segment writes become appends to a staging table and
the checkpoint record a snapshot property; the merge commit is the
atomic snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import IndexBuilder, IndexConfig, assign_doc_ids


def _fingerprint(seg_corpus: DataFrame, field: str) -> str:
    """Order-independent lineage fingerprint of a segment's input:
    XOR-aggregated hash over (doc_id, sha256(content))."""
    row = seg_corpus.select(
        F.bit_xor(F.xxhash64(F.col("doc_id"), F.sha2(F.col(field), 256))).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return f"{row['h']}:{row['n']}"


class ResumableIndexBuilder:
    def __init__(self, spark: SparkSession, config: IndexConfig | None = None, n_segments: int = 8):
        self.spark = spark
        self.config = config or IndexConfig()
        self.n_segments = n_segments
        self._inner = IndexBuilder(spark, self.config)

    # ---- segment stage ----------------------------------------------------

    def _seg_dir(self, index_dir: str, seg: int) -> str:
        return f"{index_dir}/segments/seg={seg}"

    def _ckpt_path(self, index_dir: str, seg: int) -> str:
        return f"{index_dir}/checkpoints/seg_{seg}.json"

    def segment_done(self, index_dir: str, seg: int, fingerprint: str) -> bool:
        p = self._ckpt_path(index_dir, seg)
        if not os.path.exists(p):
            return False
        with open(p) as fh:
            rec = json.load(fh)
        return rec.get("fingerprint") == fingerprint and rec.get("status") == "done"

    def build_segment(self, corpus_ids: DataFrame, index_dir: str, seg: int) -> dict:
        """Tokenize + invert one segment; write intermediates + the
        checkpoint record. Idempotent (overwrite + deterministic ids)."""
        cfg = self.config
        t0 = time.time()
        seg_corpus = corpus_ids.filter(F.pmod(F.col("doc_id"), F.lit(self.n_segments)) == seg)
        fp = _fingerprint(seg_corpus, cfg.field)
        if self.segment_done(index_dir, seg, fp):
            with open(self._ckpt_path(index_dir, seg)) as fh:
                rec = json.load(fh)
            rec["resumed"] = True
            return rec

        d = self._seg_dir(index_dir, seg)
        self._inner.write_segment(seg_corpus, d)
        n_docs = self.spark.read.parquet(f"{d}/norms").count()
        inv = self.spark.read.parquet(f"{d}/inverted")
        n_postings = inv.count()
        skew = [
            {"term": r["term"], "df": r["df"]}
            for r in inv.groupBy("term").agg(F.count("*").alias("df")).orderBy(F.desc("df"), "term").limit(10).collect()
        ]
        elapsed = time.time() - t0
        rec = {
            "segment": seg,
            "status": "done",
            "fingerprint": fp,
            "n_docs": int(n_docs),
            "n_postings": int(n_postings),
            "elapsed_sec": round(elapsed, 3),
            "docs_per_sec": round(n_docs / elapsed, 2) if elapsed else None,
            "top_df_terms": skew,
        }
        os.makedirs(f"{index_dir}/checkpoints", exist_ok=True)
        tmp = self._ckpt_path(index_dir, seg) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh, indent=2)
        os.replace(tmp, self._ckpt_path(index_dir, seg))  # atomic commit point
        return rec

    # ---- merge stage ------------------------------------------------------

    def merge(self, index_dir: str) -> dict:
        """Union all segment intermediates → the same chunked/packed
        final layout as IndexBuilder.build (one shuffle by term)."""
        cfg = self.config
        t0 = time.time()
        segs = sorted(
            p.split("=")[1] for p in os.listdir(f"{index_dir}/segments") if p.startswith("seg=")
        )
        self._inner.merge_segments([self._seg_dir(index_dir, s) for s in segs], index_dir)
        # the merged term set changed: a reversed-dictionary sidecar
        # from an earlier one-shot build would be stale
        shutil.rmtree(f"{index_dir}/term_stats_rev", ignore_errors=True)
        self.spark.catalog.refreshByPath(f"{index_dir}/collection_stats")

        from lucene_spark.index.builder import write_collection_stats_from_tables

        n_docs = write_collection_stats_from_tables(self.spark, index_dir, cfg)
        return {"merged_segments": segs, "docs": int(n_docs), "merge_sec": round(time.time() - t0, 3)}

    # ---- end-to-end -------------------------------------------------------

    def build(self, corpus: DataFrame, index_dir: str, assign_ids: bool = True) -> dict:
        t0 = time.time()
        os.makedirs(index_dir, exist_ok=True)
        base = assign_doc_ids(corpus, partitions=self.config.id_partitions) if assign_ids else corpus
        base = base.persist()
        seg_recs = [self.build_segment(base, index_dir, s) for s in range(self.n_segments)]
        merge_rec = self.merge(index_dir)
        base.unpersist()
        pers = getattr(base, "_assign_ids_persisted", None)
        if pers is not None:
            pers.unpersist()
        elapsed = time.time() - t0
        stats_row = self.spark.read.parquet(f"{index_dir}/collection_stats").first()
        from lucene_spark.index.builder import chain_manifest_keys

        metrics = {
            **chain_manifest_keys(self.config, index_dir),
            "docs": merge_rec["docs"],
            "sum_ttf": int(stats_row["sum_ttf"]),
            "elapsed_sec": elapsed,
            "docs_per_sec": merge_rec["docs"] / elapsed if elapsed else None,
            "docs_per_chunk": self.config.docs_per_chunk,
            "n_segments": self.n_segments,
            "segments": seg_recs,
            "merge": merge_rec,
            "resumed_segments": sum(1 for r in seg_recs if r.get("resumed")),
        }
        with open(f"{index_dir}/manifest.json", "w") as fh:
            json.dump(metrics, fh, indent=2)
        return metrics
