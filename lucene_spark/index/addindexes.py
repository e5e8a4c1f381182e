"""IndexWriter.addIndexes — merge whole indexes without re-analyzing.

Reference:
- lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3137
  ``addIndexes(CodecReader...)`` — "merges the provided indexes into
  this index … the provided IndexReaders are not closed"; documents are
  NOT re-analyzed, the merge runs through SegmentMerger
  (lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:41)
  which re-writes postings/norms/stored fields with rebased doc ids.
- IndexWriter.java:2954 ``addIndexes(Directory...)`` is the file-copy
  variant; its "same index sort required / no pending deletes" checks
  are mirrored here as up-front validations.

Spark disposition (the CodecReader variant): the expensive half of a
build is tokenization (Python/regex over raw text). This module never
touches text — it DECODES each source's packed postings rows back into
the inverted relation (term, doc_id, tf, norm[, poss…]) with a map-only
Arrow kernel, rebases doc ids by each source's base offset (the
``docBase`` bookkeeping of SegmentMerger), unions, and re-runs the
builder's one term-keyed ``posting_lists`` shuffle. Doc-keyed tables
(docs/norms/term_vectors/vectors) are pure relational rebased unions —
no decode at all. Collection stats are summed per field (doc_count /
sum_ttf / sum_df are additive over disjoint doc sets).

Because the final aggregation IS the one-shot builder's, the merged
index is table-identical to building once over the concatenated corpus
with the same doc ids — hot/cold chunking, impacts, skip data and the
term dictionary all come out globally consistent (no per-source chunk
seams). Cost at 100 TB: one postings-sized shuffle — the SegmentMerger
cost Lucene users already pay for addIndexes(CodecReader), and ~10-50x
cheaper than rebuilding because tokenize+invert of the raw text never
runs.

Validations (the reference's IllegalArgumentException paths):
- every input must share the dest's analyzer/field chain (a Lucene doc
  indexed under a different Analyzer can't be merged meaningfully);
- inputs with live ``deletes`` / ``dv_updates`` sidecars are rejected
  (run purge_deletes / apply_dv_updates first — the Directory variant
  likewise requires no pending deletes);
- index-sorted inputs are rejected: concatenation breaks "doc order ==
  sort order" and with it sorted early termination (the reference
  requires equal index sorts and SegmentMerger re-sorts; rebuild with
  index_sort instead);
- tiered (uncommitted-writer) inputs are rejected: force-merge to the
  flat layout first (IndexWriter.force_merge).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import (
    IndexBuilder,
    IndexConfig,
    chain_manifest_keys,
    write_reverse_dict,
    write_table,
)

__all__ = ["add_indexes"]


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        return json.load(fh)


def _bucket_count(index_dir: str) -> int:
    """Output-bucket count inferred from the term_stats file layout —
    for a tiered dest, from the newest tier dir (a plain top-level
    listdir sees only tier=N subdirectories and would report 0)."""
    d = os.path.join(index_dir, "term_stats")
    tiers = sorted(
        (p for p in os.listdir(d) if p.startswith("tier=")),
        key=lambda p: int(p.split("=")[1]),
    )
    if tiers:
        d = os.path.join(d, tiers[-1])
    return max(1, len([f for f in os.listdir(d) if f.endswith(".parquet")]))


def _validate_input(index_dir: str, allow_tiered: bool = False) -> dict:
    m = _manifest(index_dir)
    for sidecar, remedy in (("deletes", "purge_deletes"), ("dv_updates", "apply_dv_updates")):
        if os.path.exists(os.path.join(index_dir, sidecar)):
            raise ValueError(
                f"{index_dir}: live {sidecar} sidecar; run {remedy} before add_indexes "
                "(IndexWriter.addIndexes requires no pending deletes, IndexWriter.java:2996)"
            )
    if m.get("index_sort"):
        raise ValueError(
            f"{index_dir}: index-sorted indexes cannot be concatenated (doc order would "
            "no longer be the sort order); rebuild the union with index_sort instead"
        )
    if not allow_tiered:
        for t in ("postings", "docs"):
            d = os.path.join(index_dir, t)
            if os.path.isdir(d) and any(p.startswith("tier=") for p in os.listdir(d)):
                raise ValueError(
                    f"{index_dir}: tiered writer layout; run IndexWriter.force_merge() "
                    "to the flat layout before add_indexes"
                )
    return m


def _decode_kernel(has_pos: bool, has_off: bool, has_pay: bool, doc_base: int):
    """mapInPandas kernel: packed postings rows → inverted rows
    (term, doc_id+base, tf, norm[, poss][, sts, ens][, pays]) — the
    SegmentMerger postings re-map with docBase rebasing
    (SegmentMerger.java:41, MappedMultiFields role)."""

    # inverted column → (blob column, its per-doc value in the decoded list)
    views = (
        ([("poss", "pos_blob", lambda p: p)] if has_pos else [])
        + (
            [("sts", "off_blob", lambda o: o[0]), ("ens", "off_blob", lambda o: o[1])]
            if has_off
            else []
        )
        + ([("pays", "pay_blob", lambda p: p)] if has_pay else [])
    )

    def kern(pdf_iter):
        import numpy as np
        import pandas as pd

        from lucene_spark.codec.forutil import unpack_postings
        from lucene_spark.index.split import decode_streams

        for pdf in pdf_iter:
            out: dict = {c: [] for c in ["term", "doc_id", "tf", "norm"] + [v[0] for v in views]}
            for row in pdf.itertuples(index=False):
                ids, tfs, norms = unpack_postings(bytes(row.blob))
                streams = decode_streams(row, tfs)
                out["term"].extend([row.term] * len(ids))
                out["doc_id"].append(ids + doc_base)
                out["tf"].append(tfs.astype(np.int64))
                out["norm"].append(norms.astype(np.int64))
                for col, blob_col, view in views:
                    lists = streams.get(blob_col)
                    out[col].extend(
                        [None] * len(ids) if lists is None else [view(x).tolist() for x in lists]
                    )
            for c in ("doc_id", "tf", "norm"):
                out[c] = np.concatenate(out[c]) if out[c] else np.empty(0, dtype=np.int64)
            yield pd.DataFrame(out)

    return kern


def _rebased_inverted(
    spark: SparkSession, index_dir: str, doc_base: int, has_pos: bool, has_off: bool, has_pay: bool
) -> DataFrame:
    schema = (
        "term string, doc_id long, tf long, norm long"
        + (", poss array<int>" if has_pos else "")
        + (", sts array<int>, ens array<int>" if has_off else "")
        + (", pays array<float>" if has_pay else "")
    )
    postings = spark.read.parquet(f"{index_dir}/postings")
    return postings.mapInPandas(_decode_kernel(has_pos, has_off, has_pay, doc_base), schema=schema)


def _rebase_docs(df: DataFrame, doc_base: int) -> DataFrame:
    return df.withColumn("doc_id", F.col("doc_id") + F.lit(doc_base)) if doc_base else df


def _copy_kernel(doc_base: int, dpc: int):
    """mapInPandas kernel for the Directory-variant tier append: rebase
    each packed row by ``doc_base`` re-encoding ONLY the doc-id stream
    (positions/offsets/payloads blobs carry no doc ids — byte-identical
    pass-through; impacts are freq/norm-only — carried), and confine
    every output row to its true doc-range chunk (the chunk_all
    invariant of writer tiers). ``doc_base`` is a multiple of ``dpc``,
    so hot-term chunks shift whole; a COLD row spanning several chunks
    is sliced at chunk boundaries like split.py's straddling case
    (impacts recomputed only there — block boundaries move)."""

    def kern(pdf_iter):
        import numpy as np
        import pandas as pd

        from lucene_spark.codec.forutil import pack_postings, unpack_postings
        from lucene_spark.index.split import decode_streams, repack_slice

        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                ids, tfs, norms = unpack_postings(bytes(row.blob))
                ids = ids + doc_base
                c0, c1 = int(ids[0] // dpc), int(ids[-1] // dpc)
                if c0 == c1:
                    d = row._asdict()
                    blob2, bl2 = pack_postings(
                        ids, tfs.astype(np.int64), norms.astype(np.int64)
                    )
                    d["blob"] = blob2
                    d["block_last"] = bl2.tolist()
                    d["chunk_id"] = c0
                    out.append(d)
                    continue
                # spanning cold row: slice at chunk boundaries
                streams = decode_streams(row, tfs)
                for c in range(c0, c1 + 1):
                    i0 = int(np.searchsorted(ids, c * dpc))
                    i1 = int(np.searchsorted(ids, (c + 1) * dpc))
                    if i0 < i1:
                        d = repack_slice(row._asdict(), ids, tfs, norms, streams, slice(i0, i1))
                        d["chunk_id"] = c
                        out.append(d)
            yield pd.DataFrame(out, columns=list(pdf.columns)) if out else pd.DataFrame(
                {c: pd.Series(dtype=pdf[c].dtype) for c in pdf.columns}
            )

    return kern


def _copy_into(
    spark: SparkSession,
    dest_dir: str,
    src_dirs,
    dest_m: dict,
    doc_bases: list[int],
    doc_counts: list[int],
    dpc: int,
    buckets: int,
    t0: float,
) -> dict:
    """The addIndexes(Directory...) tier append. Every Spark job writes
    into a staging dir first; publication is renames/moves only."""
    # flatten dest's term-keyed tables to tier=0 (renames, no data job
    # — the writer's _flatten_to_tier0 move)
    for t in ("postings", "term_stats"):
        d = f"{dest_dir}/{t}"
        if not any(p.startswith("tier=") for p in os.listdir(d)):
            tmp = d + "._tier0"
            os.rename(d, tmp)
            os.makedirs(d)
            os.rename(tmp, f"{d}/tier=0")
            spark.catalog.refreshByPath(d)
    tier0 = max(
        int(p.split("=")[1])
        for p in os.listdir(f"{dest_dir}/postings")
        if p.startswith("tier=")
    )
    doc_tables = ["docs", "norms"] + [
        t for t in ("term_vectors", "vectors") if os.path.exists(f"{dest_dir}/{t}")
    ]
    for t in doc_tables[2:]:
        for d in src_dirs:
            if not os.path.exists(f"{d}/{t}"):
                raise ValueError(f"{d}: missing {t} table (dest has one — layouts must match)")

    stage = dest_dir.rstrip("/") + ".addcopy_tmp"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    tiers = []
    for i, (src, off) in enumerate(zip(src_dirs, doc_bases[1:])):
        tier = tier0 + 1 + i
        tiers.append(tier)
        p = spark.read.parquet(f"{src}/postings")
        p = p.mapInPandas(_copy_kernel(off, dpc), schema=p.schema)
        write_table(p, "postings", f"{stage}/postings_t{tier}", buckets)
        # the source's term dictionary IS this tier's (df/ttf invariant
        # under id shifts; the reader sums across tiers)
        ts = spark.read.parquet(f"{src}/term_stats")
        write_table(ts, "term_stats", f"{stage}/term_stats_t{tier}", buckets)
        for t in doc_tables:
            rebased = _rebase_docs(spark.read.parquet(f"{src}/{t}"), off)
            write_table(rebased, t, f"{stage}/{t}_t{tier}", buckets)

    # collection stats: additive per field over the INPUT dirs
    _write_summed_stats(spark, [dest_dir, *src_dirs], f"{stage}/collection_stats")

    # publish: tier dirs by rename, doc-keyed tables by file moves
    for tier in tiers:
        os.rename(f"{stage}/postings_t{tier}", f"{dest_dir}/postings/tier={tier}")
        os.rename(f"{stage}/term_stats_t{tier}", f"{dest_dir}/term_stats/tier={tier}")
        for t in doc_tables:
            _append_files(f"{stage}/{t}_t{tier}", f"{dest_dir}/{t}")
    shutil.rmtree(f"{dest_dir}/collection_stats")
    os.rename(f"{stage}/collection_stats", f"{dest_dir}/collection_stats")
    for t in ("docs", "norms", "postings", "term_stats", "term_vectors", "vectors",
              "collection_stats"):
        spark.catalog.refreshByPath(f"{dest_dir}/{t}")

    # reversed-dictionary sidecar: regenerate from the tier union
    if dest_m.get("reverse_dict") and os.path.exists(f"{dest_dir}/term_stats_rev"):
        terms = spark.read.parquet(f"{dest_dir}/term_stats").select("term").distinct()
        write_reverse_dict(terms, f"{stage}/term_stats_rev", buckets)
        shutil.rmtree(f"{dest_dir}/term_stats_rev")
        os.rename(f"{stage}/term_stats_rev", f"{dest_dir}/term_stats_rev")
        spark.catalog.refreshByPath(f"{dest_dir}/term_stats_rev")
    shutil.rmtree(stage, ignore_errors=True)

    n_docs = sum(doc_counts)
    metrics = {
        **dest_m,
        "docs": int(n_docs),
        "added_docs": int(n_docs) - doc_counts[0],
        "doc_bases": doc_bases,
        "tiers_added": tiers,
        "mode": "copy",
        "elapsed_sec": round(time.time() - t0, 3),
    }
    with open(f"{dest_dir}/manifest.json", "w") as fh:
        json.dump(metrics, fh, indent=2)
    return metrics


def _write_summed_stats(spark: SparkSession, dirs, path: str) -> None:
    """``collection_stats`` of indexes over disjoint doc sets: doc_count,
    sum_ttf and sum_df are additive per field."""
    cs = None
    for d in dirs:
        part = spark.read.parquet(f"{d}/collection_stats")
        cs = part if cs is None else cs.unionByName(part)
    (
        cs.groupBy("field")
        .agg(
            F.sum("doc_count").cast("long").alias("doc_count"),
            F.sum("sum_ttf").cast("long").alias("sum_ttf"),
            F.sum("sum_df").cast("long").alias("sum_df"),
        )
        .select("doc_count", "sum_ttf", "sum_df", "field")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def _append_files(stage_table: str, dest_table: str) -> None:
    """Move a staged parquet dir's data files into an existing table
    dir (the addIndexes(Directory) file-copy step; part names carry
    task UUIDs so they never collide)."""
    for f in os.listdir(stage_table):
        if f.startswith("part-"):
            os.rename(os.path.join(stage_table, f), os.path.join(dest_table, f))


def add_indexes(
    spark: SparkSession,
    dest_dir: str,
    src_dirs: list[str] | tuple[str, ...],
    out_dir: str | None = None,
    mode: str = "merge",
) -> dict:
    """Merge ``src_dirs`` into ``dest_dir`` (IndexWriter.addIndexes).
    Source doc ids are rebased after the preceding indexes' max doc
    (SegmentMerger's docBase), dest ids are unchanged. In-place by
    default; pass ``out_dir`` to leave dest untouched.

    ``mode="merge"`` (addIndexes(CodecReader...), IndexWriter.java:3137)
    re-runs the builder's global term-keyed aggregation over decoded
    postings — one postings-sized shuffle, output table-identical to a
    one-shot build over the union (globally consistent chunking /
    impacts / dictionary). ``mode="copy"`` (addIndexes(Directory...),
    IndexWriter.java:2954) is the file-copy variant: each source
    becomes a new postings/term_stats TIER with a map-only doc-id
    re-encode (doc bases chunk-aligned, so only cold rows straddling
    chunk boundaries re-pack more than the id stream) and doc-keyed
    tables are appended as files — no term-keyed aggregation (only
    the table-layout writes shuffle), ~the cost of one read+write of
    each source table, at the price of per-source
    chunk layout (the reader's tier union) instead of a globally
    re-chunked dictionary; chunk-aligned rebasing leaves doc-id gaps
    (supported, like Lucene's deleted-doc gaps).

    Returns {"docs": total, "added_docs": n, "doc_bases": [...]}."""
    if isinstance(src_dirs, str):
        src_dirs = [src_dirs]
    if not src_dirs:
        raise ValueError("add_indexes needs at least one source index")
    if mode not in ("merge", "copy"):
        raise ValueError(f"mode must be 'merge' or 'copy', got {mode!r}")
    t0 = time.time()
    if mode == "copy" and out_dir is not None:
        # Directory variant is in-place by contract; out_dir = copy
        # dest first (at cluster scale: an object-store prefix copy)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.copytree(dest_dir, out_dir)
        dest_dir, out_dir = out_dir, None
    all_dirs = [dest_dir, *src_dirs]
    manifests = [
        _validate_input(d, allow_tiered=(mode == "copy" and i == 0))
        for i, d in enumerate(all_dirs)
    ]
    if mode == "copy" and os.path.exists(f"{dest_dir}/commits.json"):
        raise ValueError(
            f"{dest_dir}: writer-managed tiered index (commits.json); use "
            "IndexWriter or force_merge before add_indexes(mode='copy')"
        )

    # chain compatibility: the index's true build chain (manifest wins
    # over the probe config) must be identical everywhere
    chains = [chain_manifest_keys(IndexConfig(), index_dir=d) for d in all_dirs]
    for d, ch in zip(all_dirs[1:], chains[1:]):
        if ch != chains[0]:
            diff = sorted(k for k in ch if ch[k] != chains[0].get(k))
            if set(diff) <= {"positions", "offsets"}:
                # postings-feature mismatch, not an analysis mismatch —
                # the reference's IllegalArgumentException vocabulary
                raise ValueError(
                    f"{d}: IndexOptions differ from dest on {diff} — "
                    "indexes with different IndexOptions cannot merge"
                )
            raise ValueError(
                f"{d}: analyzer/field chain differs from dest on {diff} — "
                "addIndexes cannot merge fields analyzed differently"
            )
    # docs-table schema equality: copy mode moves raw parquet FILES
    # into the dest dir, so types must match too, not just names
    docs_schemas = [
        sorted((f.name, str(f.dataType)) for f in spark.read.parquet(f"{d}/docs").schema.fields)
        for d in all_dirs
    ]
    for d, cols in zip(all_dirs[1:], docs_schemas[1:]):
        if cols != docs_schemas[0]:
            raise ValueError(
                f"{d}: docs-table schema {cols} differs from dest {docs_schemas[0]}"
            )

    dest_m = manifests[0]
    dpc = int(dest_m["docs_per_chunk"])
    buckets = _bucket_count(dest_dir)
    # postings feature flags: payloads from the (already equal) chain;
    # positions/offsets probed per input from one packed row (uniform
    # per build config) — a dest built without positions cannot absorb
    # a positioned source and vice versa (the reference's
    # IllegalArgumentException on IndexOptions mismatches)
    has_pay = bool(chains[0].get("delimited_payloads"))
    flags: list[tuple[bool, bool] | None] = []
    for d in all_dirs:
        row = (
            spark.read.parquet(f"{d}/postings")
            .select("pos_blob", "off_blob")
            .limit(1)
            .collect()
        )
        flags.append(
            (row[0]["pos_blob"] is not None, row[0]["off_blob"] is not None) if row else None
        )
    present = [f for f in flags if f is not None]
    if not present:
        raise ValueError("every input index has an empty postings table")
    for d, f in zip(all_dirs, flags):
        if f is not None and f != present[0]:
            raise ValueError(
                f"{d}: positions/offsets={f} differs from {all_dirs[0]}'s "
                f"{flags[0]} — indexes with different IndexOptions cannot merge"
            )
    has_pos, has_off = present[0]
    has_pos = has_pos or has_off
    cfg = IndexConfig(
        docs_per_chunk=dpc,
        term_buckets=buckets,
        field=dest_m.get("field", "content"),
        positions=has_pos and not has_off,
        offsets=has_off,
        extra_fields=tuple(dest_m.get("extra_fields", ()) or ()),
        analyzer=dest_m.get("analyzer", "standard"),
        delimited_payloads=dest_m.get("delimited_payloads") if has_pay else None,
    )

    # docBase per input: cumulative (max doc id + 1) — SegmentMerger's
    # per-reader docBase table. Copy mode aligns each base UP to a
    # chunk boundary so hot-term chunks shift whole (doc-id gaps are
    # fine — the reader supports gappy id spaces)
    doc_bases: list[int] = []
    doc_counts: list[int] = []
    base = 0
    for d in all_dirs:
        if mode == "copy":
            base = -(-base // dpc) * dpc
        doc_bases.append(base)
        mx, cnt = spark.read.parquet(f"{d}/norms").agg(F.max("doc_id"), F.count("*")).first()
        doc_counts.append(int(cnt))
        base += int(mx) + 1 if mx is not None else 0

    if mode == "copy":
        for d, m in zip(all_dirs[1:], manifests[1:]):
            if int(m["docs_per_chunk"]) != dpc:
                raise ValueError(
                    f"{d}: docs_per_chunk={m['docs_per_chunk']} differs from dest's "
                    f"{dpc}; copy mode reuses the source chunk layout — use mode='merge'"
                )
        return _copy_into(
            spark, dest_dir, src_dirs, dest_m, doc_bases, doc_counts, dpc, buckets, t0
        )

    inverted = None
    for d, off in zip(all_dirs, doc_bases):
        part = _rebased_inverted(spark, d, off, has_pos, has_off, has_pay)
        inverted = part if inverted is None else inverted.unionByName(part)

    stage = out_dir or (dest_dir.rstrip("/") + ".addindexes_tmp")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage, exist_ok=True)

    builder = IndexBuilder(spark, cfg)
    postings, term_stats = builder.posting_lists(inverted)
    write_table(postings, "postings", f"{stage}/postings", buckets)
    write_table(term_stats, "term_stats", f"{stage}/term_stats", buckets)
    term_stats.unpersist()

    # doc-keyed tables: rebased relational unions, no decode
    tables = ["docs", "norms"] + [
        t for t in ("term_vectors", "vectors") if os.path.exists(f"{all_dirs[0]}/{t}")
    ]
    for t in tables[2:]:
        for d in all_dirs[1:]:
            if not os.path.exists(f"{d}/{t}"):
                raise ValueError(f"{d}: missing {t} table (dest has one — layouts must match)")
    for t in tables:
        merged = None
        for d, off in zip(all_dirs, doc_bases):
            part = _rebase_docs(spark.read.parquet(f"{d}/{t}"), off)
            merged = part if merged is None else merged.unionByName(part)
        write_table(merged, t, f"{stage}/{t}", buckets)

    if dest_m.get("reverse_dict"):
        terms = spark.read.parquet(f"{stage}/term_stats")
        write_reverse_dict(terms, f"{stage}/term_stats_rev", buckets)

    # collection stats: additive per field over disjoint doc sets
    _write_summed_stats(spark, all_dirs, f"{stage}/collection_stats")

    n_docs = spark.read.parquet(f"{stage}/norms").count()
    metrics = {
        **{k: dest_m.get(k) for k in ("docs_per_chunk", "reverse_dict") if k in dest_m},
        **chains[0],
        "docs": int(n_docs),
        "added_docs": int(n_docs) - doc_counts[0],
        "doc_bases": doc_bases,
        "merged_from": list(all_dirs),
        "elapsed_sec": round(time.time() - t0, 3),
    }
    with open(f"{stage}/manifest.json", "w") as fh:
        json.dump(metrics, fh, indent=2)

    if out_dir is None:
        # atomic per-table swap into dest; stale sidecars die with the
        # old tables
        out_tables = [p for p in os.listdir(stage)]
        for t in out_tables:
            old = f"{dest_dir}/{t}"
            if os.path.isdir(old) or os.path.isfile(old):
                shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)
            os.rename(f"{stage}/{t}", old)
        for t in ("term_stats_rev",):
            if t not in out_tables and os.path.exists(f"{dest_dir}/{t}"):
                shutil.rmtree(f"{dest_dir}/{t}", ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        for t in ("docs", "norms", "postings", "term_stats", "term_stats_rev",
                  "collection_stats", "term_vectors", "vectors"):
            spark.catalog.refreshByPath(f"{dest_dir}/{t}")
    return metrics
