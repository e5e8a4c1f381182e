"""Index splitting — the lucene/misc IndexSplitter / PKIndexSplitter role.

Reference:
- lucene/misc/src/java/org/apache/lucene/misc/index/IndexSplitter.java
  (split an index at SEGMENT boundaries by manipulating segment metadata
  — no per-doc re-processing)
- lucene/misc/src/java/org/apache/lucene/misc/index/PKIndexSplitter.java
  (split by a doc-id predicate into two self-contained indexes)
- lucene/misc/src/java/org/apache/lucene/misc/index/MultiPassIndexSplitter.java

Spark disposition: splitting at a doc cut (a multiple of
``docs_per_chunk``) produces two self-contained indexes WITHOUT ever
re-tokenizing or re-inverting:

- doc-keyed tables (docs / norms / term_vectors) are pure relational
  filters with arithmetic id rebasing — pushed-down range predicates;
- postings rows are handled by a MAP-ONLY kernel with three cases:
  a row entirely inside the LO half passes through byte-identical (hot
  doc-range chunks below the cut — the IndexSplitter "move the segment
  file" case); a row entirely in the HI half re-encodes only the doc-id
  stream (the leading delta changes; positions/offsets/payload blobs
  carry no doc ids and the 128-block boundaries don't move, so impacts
  metadata is reused and block_last is arithmetic); a STRADDLING row
  (cold terms live in one chunk spanning the whole doc range) is
  decoded once, sliced at the cut, and re-packed — per-occurrence
  streams (positions/offsets/payloads) slice at Σtf of the kept docs,
  impacts are recomputed because block boundaries move.

No shuffle exists anywhere except the dictionary-layout writes (the
builder's term-bucketed sorted files), so splitting a 100 TB index
costs one postings scan per half plus metadata-sized aggregations —
never the tokenize+invert build path.

Indexes with live tombstones or staged DV-update generations must be
purged/compacted first (``purge_deletes`` / ``apply_dv_updates``) — the
reference's splitters likewise operate on committed segment state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import FIELD_SEP, stats_frame, write_reverse_dict, write_table

__all__ = ["split_index"]


def decode_streams(row, tfs) -> dict:
    """The non-null per-occurrence streams of a postings row, decoded
    once: {blob column: per-doc lists}."""
    from lucene_spark.codec.positions import unpack_offsets, unpack_payloads, unpack_positions

    out = {}
    for col, unpack in (
        ("pos_blob", unpack_positions),
        ("off_blob", unpack_offsets),
        ("pay_blob", unpack_payloads),
    ):
        if getattr(row, col, None) is not None:
            out[col] = unpack(bytes(getattr(row, col)), tfs)
    return out


def repack_slice(d: dict, ids, tfs, norms, streams: dict, sl: slice) -> dict:
    """Re-encode docs ``sl`` of a decoded postings row into its column
    dict ``d``: blob, block_last, df, ttf, impacts (block boundaries
    move) and every decoded stream cut to the kept docs."""
    import numpy as np

    from lucene_spark.codec.forutil import pack_postings
    from lucene_spark.codec.impacts import competitive_impacts_flat
    from lucene_spark.codec.positions import pack_offsets, pack_payloads, pack_positions

    t2, n2 = tfs[sl].astype(np.int64), norms[sl].astype(np.int64)
    blob, block_last = pack_postings(ids[sl], t2, n2)
    ib, if_, in_ = competitive_impacts_flat(t2, n2)
    d.update(
        blob=blob,
        block_last=block_last.tolist(),
        df=len(t2),
        ttf=int(t2.sum()),
        imp_block=ib.tolist(),
        imp_freq=if_.tolist(),
        imp_norm=in_.tolist(),
    )
    if "pos_blob" in streams:
        d["pos_blob"] = pack_positions(streams["pos_blob"][sl])
    if "off_blob" in streams:
        o = streams["off_blob"][sl]
        d["off_blob"] = pack_offsets([st for st, _ in o], [en for _, en in o])
    if "pay_blob" in streams:
        d["pay_blob"] = pack_payloads(streams["pay_blob"][sl])
    return d


def _split_kernel(pdf_iter, cut: int, side: str):
    """mapInPandas kernel over postings rows; emits this ``side``'s
    share of each row (possibly nothing). See module docstring for the
    three cases."""
    import numpy as np
    import pandas as pd

    from lucene_spark.codec.forutil import pack_postings, unpack_postings

    lo = side == "lo"
    for pdf in pdf_iter:
        out = []
        for row in pdf.itertuples(index=False):
            ids, tfs, norms = unpack_postings(bytes(row.blob))
            k = int(np.searchsorted(ids, cut))
            n = len(ids)
            keep_all = (lo and k == n) or (not lo and k == 0)
            keep_none = (lo and k == 0) or (not lo and k == n)
            if keep_none:
                continue
            d = row._asdict()
            if keep_all and lo:
                pass  # byte-identical pass-through
            elif keep_all:
                # HI, whole row: rebase ids; everything else unchanged
                blob2, _ = pack_postings(
                    ids - cut, tfs.astype(np.int64), norms.astype(np.int64)
                )
                d["blob"] = blob2
                d["block_last"] = (
                    (np.asarray(row.block_last, dtype=np.int64) - cut).tolist()
                    if row.block_last is not None
                    else []
                )
            else:
                # straddling row: slice at the cut
                sl = slice(0, k) if lo else slice(k, n)
                base = 0 if lo else cut
                repack_slice(d, ids - base, tfs, norms, decode_streams(row, tfs), sl)
            out.append(d)
        yield pd.DataFrame(out, columns=list(pdf.columns)) if out else pd.DataFrame(
            {c: pd.Series(dtype=pdf[c].dtype) for c in pdf.columns}
        )


def split_index(
    spark: SparkSession, index_dir: str, cut: int, out_lo: str, out_hi: str
) -> tuple[int, int]:
    """Split ``index_dir`` into two self-contained indexes: docs
    ``[0, cut)`` → ``out_lo`` (ids unchanged) and docs ``[cut, maxDoc)``
    → ``out_hi`` (ids rebased to 0). ``cut`` must be a multiple of
    ``docs_per_chunk`` (the segment-boundary restriction of
    IndexSplitter.java lifted to doc-range chunks). Returns
    (n_docs_lo, n_docs_hi)."""
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    dpc = int(manifest["docs_per_chunk"])
    if cut <= 0 or cut % dpc != 0:
        raise ValueError(f"cut must be a positive multiple of docs_per_chunk={dpc}, got {cut}")
    for sidecar, remedy in (
        ("deletes", "purge_deletes"),
        ("dv_updates", "apply_dv_updates"),
    ):
        if os.path.exists(os.path.join(index_dir, sidecar)):
            raise ValueError(
                f"index has a live {sidecar} sidecar; run {remedy} before splitting"
            )
    cut_chunk = cut // dpc
    primary = manifest.get("field", "content")
    extra_fields = tuple(manifest.get("extra_fields", ()))
    buckets = max(
        1,
        len([f for f in os.listdir(os.path.join(index_dir, "term_stats")) if f.endswith(".parquet")]),
    )

    docs = spark.read.parquet(f"{index_dir}/docs")
    norms = spark.read.parquet(f"{index_dir}/norms")
    postings = spark.read.parquet(f"{index_dir}/postings")
    has_tv = os.path.exists(os.path.join(index_dir, "term_vectors"))

    counts = {}
    for half, out in (("lo", out_lo), ("hi", out_hi)):
        lo = half == "lo"
        d = docs.filter(F.col("doc_id") < cut) if lo else (
            docs.filter(F.col("doc_id") >= cut).withColumn("doc_id", F.col("doc_id") - cut)
        )
        nr = norms.filter(F.col("doc_id") < cut) if lo else (
            norms.filter(F.col("doc_id") >= cut).withColumn("doc_id", F.col("doc_id") - cut)
        )
        if lo:
            # chunks below the cut hold only lo docs; chunk 0 may straddle
            p0 = postings.filter(F.col("chunk_id") < cut_chunk)
        else:
            p0 = postings.filter((F.col("chunk_id") >= cut_chunk) | (F.col("chunk_id") == 0))
        p = p0.mapInPandas(
            lambda it, c=cut, s=half: _split_kernel(it, c, s), schema=p0.schema
        )
        if not lo:
            p = p.withColumn(
                "chunk_id",
                F.when(F.col("chunk_id") >= cut_chunk, F.col("chunk_id") - cut_chunk).otherwise(F.lit(0)),
            )

        write_table(d, "docs", f"{out}/docs", buckets)
        write_table(nr, "norms", f"{out}/norms", buckets)
        write_table(p, "postings", f"{out}/postings", buckets)
        if has_tv:
            tv = spark.read.parquet(f"{index_dir}/term_vectors")
            tv = tv.filter(F.col("doc_id") < cut) if lo else (
                tv.filter(F.col("doc_id") >= cut).withColumn("doc_id", F.col("doc_id") - cut)
            )
            write_table(tv, "term_vectors", f"{out}/term_vectors", buckets)

        # term dictionary + reversed sidecar re-derived from this half's
        # postings rows (df/ttf are additive over chunks)
        pw = spark.read.parquet(f"{out}/postings")
        ts = pw.groupBy("term").agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        write_table(ts, "term_stats", f"{out}/term_stats", buckets)
        if manifest.get("reverse_dict"):
            write_reverse_dict(
                spark.read.parquet(f"{out}/term_stats"), f"{out}/term_stats_rev", buckets
            )

        # per-field CollectionStatistics: sum_ttf / sum_df are additive
        # over the half's dictionary rows; docCount per field needs the
        # decoded doc sets only for EXTRA fields (primary = the docs
        # table count). One map-side decode + distinct, metadata-sized.
        n_docs = d.count()
        tsd = spark.read.parquet(f"{out}/term_stats")
        fexpr = F.when(
            F.col("term").contains(FIELD_SEP), F.split("term", FIELD_SEP).getItem(0)
        ).otherwise(F.lit(primary))
        agg_rows = {
            r["f"]: (int(r["st"] or 0), int(r["sd"] or 0))
            for r in tsd.select(fexpr.alias("f"), "ttf", "df")
            .groupBy("f")
            .agg(F.sum("ttf").alias("st"), F.sum("df").alias("sd"))
            .collect()
        }
        rows = [
            (n_docs, agg_rows.get(primary, (0, 0))[0], agg_rows.get(primary, (0, 0))[1], primary)
        ]
        if extra_fields:

            def _doc_ids(it):
                import pandas as pd

                from lucene_spark.codec.forutil import unpack_postings as _unp

                for pdf in it:
                    out_rows = []
                    for term, blob in zip(pdf["term"], pdf["blob"]):
                        fld = term.split(FIELD_SEP)[0]
                        ids, _, _ = _unp(bytes(blob))
                        out_rows.extend((fld, int(i)) for i in set(ids.tolist()))
                    yield pd.DataFrame(out_rows, columns=["f", "doc_id"])

            dc_rows = {
                r["f"]: int(r["dc"])
                for r in pw.filter(F.col("term").contains(FIELD_SEP))
                .select("term", "blob")
                .mapInPandas(_doc_ids, schema="f string, doc_id long")
                .groupBy("f")
                .agg(F.countDistinct("doc_id").alias("dc"))
                .collect()
            }
            for f in extra_fields:
                st, sd = agg_rows.get(f, (0, 0))
                rows.append((dc_rows.get(f, 0), st, sd, f))
        stats_frame(spark, rows).write.mode("overwrite").parquet(f"{out}/collection_stats")

        m = dict(manifest)
        m["docs"] = n_docs
        m["sum_ttf"] = rows[0][1]
        m["vocab"] = tsd.count()
        m["split_from"] = os.path.abspath(index_dir)
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump(m, fh, indent=2)
        counts[half] = n_docs
    return counts["lo"], counts["hi"]
