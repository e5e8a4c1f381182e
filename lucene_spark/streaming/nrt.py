"""Near-real-time incremental indexing via Structured Streaming.

Lucene's NRT story: writer threads flush DWPT segments, and
`DirectoryReader.openIfChanged` exposes newly-flushed segments to
searchers without a full commit (lucene/core/src/java/org/apache/
lucene/index/DirectoryReader.java; DocumentsWriterPerThread.java:341).
The Spark-native equivalent:

- a streaming source (file drop, Kafka, ...) feeds micro-batches;
- ``foreachBatch`` writes each micro-batch as one **stream segment**
  (the same inverted/docs/norms intermediates the resumable builder
  uses — a DWPT flush), with doc ids made unique by a per-batch high
  bits offset;
- ``refresh()`` is the NRT reopen: it merges all segments into the
  searchable final layout (sort-merge by term — SegmentMerger.merge ≅
  groupBy(term)) and reopens the SearchIndex. Searchers keep serving
  the previous generation until the swap.

Exactly-once: Structured Streaming checkpointing makes foreachBatch
retries re-run with the same batch_id; segment writes are idempotent
overwrites keyed by batch_id, so replays converge (same pattern as the
resumable builder's checkpoint records).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import DOC_KEYS, IndexBuilder, IndexConfig, assign_doc_ids
from lucene_spark.index.reader import SearchIndex


class StreamingIndexer:
    def __init__(self, spark: SparkSession, index_dir: str, config: IndexConfig | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # the analyzer/field chain is a property of the INDEX: appending
        # to an existing one adopts its chain so streamed segments
        # tokenize identically (same contract as IndexWriter)
        from lucene_spark.index.builder import adopt_chain_config

        self.config = adopt_chain_config(config or IndexConfig(), index_dir)
        self._inner = IndexBuilder(spark, self.config)

    # ---- write path --------------------------------------------------------

    def _write_segment(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch → one stream segment (idempotent on replay)."""
        cfg = self.config
        # per-batch doc ids: deterministic 1-based rank within the batch,
        # offset into a per-batch id space (ids need not be contiguous,
        # only unique + stable; 2^33 docs per batch headroom)
        keyset = [k for k in DOC_KEYS if k in batch_df.columns]
        keys = list(keyset or [cfg.field])
        # a TOTAL deterministic order: rows tied on the doc keys break
        # on every remaining column, so replays assign identical ids
        # and rows equal in every column are genuinely interchangeable.
        # Complex columns (array/map/struct/binary) are not directly
        # orderable-by-value across all types, so they participate via
        # a deterministic digest column — without it two rows equal on
        # every scalar but differing in a complex column could swap ids
        # across a re-execution
        staged, digests = batch_df, []
        for c, t in sorted(batch_df.dtypes):
            if c in keyset:
                continue
            if t.startswith(("array", "map", "struct")) or t == "binary":
                name = f"_nrt_tie{len(digests)}"
                src = F.to_json(F.col(c)) if t != "binary" else F.col(c)
                staged = staged.withColumn(name, F.xxhash64(src))
                digests.append(name)
                keys.append(name)
            else:
                keys.append(c)
        # range-partitioned rank (the IndexWriter's id path): an
        # unpartitioned window would run the whole batch in one task
        ided = assign_doc_ids(staged, keys=tuple(keys))
        base = ided.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(batch_id * (1 << 33) + 1)).cast("long")
        ).drop(*digests)
        try:
            self._inner.write_segment(base, f"{self.index_dir}/segments/seg=s{batch_id}")
        finally:
            ided._assign_ids_persisted.unpersist()

    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_available_now: bool = True):
        """Attach the indexer to a streaming DataFrame of corpus rows.
        Returns the StreamingQuery (caller awaits/stops it)."""
        writer = (
            stream_df.writeStream.foreachBatch(lambda df, bid: self._write_segment(df, bid))
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ---- NRT reopen --------------------------------------------------------

    def refresh(self) -> SearchIndex:
        """Merge all stream segments into the searchable layout and
        reopen — the openIfChanged step. Cost model: one shuffle by
        term over the union of segment intermediates; at scale you
        amortize by merging only new segments into a staging level
        first (tiered merging — TieredMergePolicy.java:89-95)."""
        from lucene_spark.index.checkpoint import ResumableIndexBuilder

        merger = ResumableIndexBuilder(self.spark, self.config)
        merger.merge(self.index_dir)
        import json

        from lucene_spark.index.builder import chain_manifest_keys

        stats = self.spark.read.parquet(f"{self.index_dir}/collection_stats").first()
        with open(f"{self.index_dir}/manifest.json", "w") as fh:
            json.dump(
                {
                    **chain_manifest_keys(self.config, self.index_dir),
                    "docs": int(stats["doc_count"]),
                    "docs_per_chunk": self.config.docs_per_chunk,
                    "mode": "streaming",
                },
                fh,
            )
        return SearchIndex(self.spark, self.index_dir)
