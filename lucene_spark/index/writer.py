"""IndexWriter — incremental add/update/delete over a segmented index.

The reference's public ingestion API (lucene/core/src/java/org/apache/
lucene/index/IndexWriter.java: addDocument :1469, updateDocument :1816
= deleteDocuments(Term) + addDocument, deleteDocuments :1768, commit
:4003) over the Spark-native segment layout:

- ``add_documents`` stages a new segment (tokenize + invert one batch —
  a DWPT flush writing the same intermediates the resumable/streaming
  builders use) under ``index_dir/segments/seg=wG``;
- ``update_documents`` tombstones every live doc whose key columns
  match an incoming row (deleteDocuments(Term) with a composite key
  term), then stages the incoming rows as a new segment;
- ``delete_documents`` / ``delete_by_query`` delegate to the liveDocs
  tombstone model (index/deletes.py);
- ``commit`` is the segments_N advance: re-merge all segment
  intermediates into the searchable final layout (SegmentMerger.merge ≅
  one shuffle by term) and rewrite the manifest; with
  ``expunge_deletes=True`` the merge physically drops tombstoned docs
  and recomputes collection stats first (forceMergeDeletes role).

Requires a segmented index (resumable or streaming build, or a
directory this writer created) — a one-shot ``IndexBuilder.build``
index keeps no segment intermediates to merge against, exactly as a
bare Lucene Directory without segment files cannot host a writer.

Scale: each add is one medium Spark job over just the new batch; commit
shuffles the union of segment intermediates by term. At 10^12 docs you
amortize commits (micro-batches stage cheaply; merge runs on a cadence)
— the TieredMergePolicy disposition from SURVEY §3.3.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import DOC_KEYS, IndexBuilder, IndexConfig
from lucene_spark.index.reader import SearchIndex


class IndexWriter:
    def __init__(self, spark: SparkSession, index_dir: str, config: IndexConfig | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # the analyzer/field chain is a property of the INDEX, not of
        # this writer: new segments must tokenize exactly like the
        # existing ones (see adopt_chain_config)
        from lucene_spark.index.builder import adopt_chain_config

        self.config = adopt_chain_config(config or IndexConfig(), index_dir)
        self._inner = IndexBuilder(spark, self.config)
        seg_root = f"{index_dir}/segments"
        if os.path.exists(f"{index_dir}/manifest.json") and not os.path.exists(seg_root):
            raise ValueError(
                "IndexWriter needs a segmented index (resumable/streaming build); "
                "this directory holds a one-shot build with no segment intermediates"
            )

    # ---- write path --------------------------------------------------------

    def _manifest_chain(self) -> dict:
        """Analyzer/field configuration the reader needs to analyze
        queries identically to indexing (SegmentInfos carries the
        per-field analyzer contract in Lucene; here it lives in the
        manifest). A writer commit must not lose it: existing manifest
        values win — they are the index's true build chain even when
        the writer was opened with a default config — and a fresh
        index falls back to this writer's config."""
        from lucene_spark.index.builder import chain_manifest_keys

        return chain_manifest_keys(self.config, self.index_dir)

    def _next_gen(self) -> int:
        seg_root = f"{self.index_dir}/segments"
        if not os.path.exists(seg_root):
            return 0
        gens = [
            int(m.group(1))
            for p in os.listdir(seg_root)
            if (m := re.fullmatch(r"seg=w(\d+)", p))
        ]
        return max(gens, default=-1) + 1

    def _base_doc_id(self) -> int:
        """Smallest id strictly above every id already staged — scans
        segment docs (covers uncommitted adds), not the merged table."""
        seg_root = f"{self.index_dir}/segments"
        if not os.path.exists(seg_root):
            return 0
        paths = [
            f"{seg_root}/{p}/docs"
            for p in os.listdir(seg_root)
            if os.path.exists(f"{seg_root}/{p}/docs")
        ]
        if not paths:
            return 0
        row = self.spark.read.parquet(*paths).agg(F.max("doc_id")).first()
        return int(row[0]) + 1 if row[0] is not None else 0

    def add_documents(self, df: DataFrame) -> dict:
        """Stage one batch as a new segment. ``df`` is corpus-shaped
        (content + any of repo/path/commit/lang). Returns
        {"segment", "n_docs", "first_doc_id"}."""
        cfg = self.config
        gen = self._next_gen()
        base = self._base_doc_id()
        # scale-safe id assignment (the builder's partition-offset
        # pattern: range partition + per-partition counts -> offsets +
        # local ranks), shifted by the segment base — a global
        # Window.orderBy here would funnel the whole batch through one
        # partition, fine for NRT-sized adds but a bottleneck for a
        # large add_documents batch
        from lucene_spark.index.builder import assign_doc_ids

        keys = tuple(k for k in DOC_KEYS if k in df.columns) or (cfg.field,)
        ided = assign_doc_ids(df, keys=keys)
        pers = getattr(ided, "_assign_ids_persisted", None)
        with_ids = ided.withColumn("doc_id", (F.col("doc_id") + F.lit(base)).cast("long"))
        d = f"{self.index_dir}/segments/seg=w{gen}"
        self._inner.write_segment(with_ids, d)
        if pers is not None:
            pers.unpersist()
        n = self.spark.read.parquet(f"{d}/norms").count()
        return {"segment": f"w{gen}", "n_docs": int(n), "first_doc_id": base}

    def update_documents(self, df: DataFrame, key_cols: tuple[str, ...] = ("repo", "path")) -> dict:
        """updateDocument(Term, doc): tombstone every staged doc whose
        ``key_cols`` match an incoming row, then stage ``df`` as a new
        segment. Visible after ``commit()``."""
        from lucene_spark.index.deletes import delete_docs

        seg_root = f"{self.index_dir}/segments"
        doc_paths = (
            [f"{seg_root}/{p}/docs" for p in os.listdir(seg_root) if os.path.exists(f"{seg_root}/{p}/docs")]
            if os.path.exists(seg_root)
            else []
        )
        n_del = 0
        if doc_paths:
            existing = self.spark.read.parquet(*doc_paths)
            keys = df.select(*key_cols).distinct()
            hit = existing.join(F.broadcast(keys), list(key_cols)).select("doc_id")
            n_hit = hit.count()
            if n_hit:
                n_del = delete_docs(self.spark, self.index_dir, hit)
        added = self.add_documents(df)
        return {"tombstones": int(n_del), **added}

    def delete_documents(self, doc_ids) -> int:
        from lucene_spark.index.deletes import delete_docs

        return delete_docs(self.spark, self.index_dir, doc_ids)

    def delete_by_query(self, query) -> int:
        """deleteDocuments(Query): needs a committed, searchable index."""
        from lucene_spark.index.deletes import delete_by_query
        from lucene_spark.search.engine import Searcher

        return delete_by_query(Searcher(SearchIndex(self.spark, self.index_dir)), query)

    def update_numeric_doc_value(self, query, field: str, value: float) -> int:
        """updateNumericDocValue(Term, field, value)
        (IndexWriter.java:1900-1930): set ``field`` to ``value`` on
        every COMMITTED doc matching ``query`` (Lucene's Term selector
        generalized to any query) without re-inverting anything —
        a parquet delta the readers overlay merge-on-read. Needs a
        committed, searchable index; new readers see the change.
        Returns the number of docs updated."""
        from lucene_spark.index.dvupdates import update_numeric_doc_values
        from lucene_spark.search.engine import Searcher

        searcher = Searcher(SearchIndex(self.spark, self.index_dir))
        td = searcher.search(query, k=10**9)
        if not td.hits:
            return 0
        update_numeric_doc_values(
            self.spark, self.index_dir, field, {d: value for d, _ in td.hits}
        )
        return len(td.hits)

    # ---- rollback / snapshots ------------------------------------------------

    def rollback(self) -> list[str]:
        """IndexWriter.rollback (IndexWriter.java:2337): discard all
        staged-but-uncommitted segments; the last commit point stays
        untouched. Tombstones and DV updates are visible immediately in
        this engine (documented divergence from Lucene's buffered
        deletes) — commit-point recovery including deletes is
        ``snapshot()`` / ``restore()``. Returns the dropped segments."""
        import shutil

        commits = self._load_commits()
        committed = {s for t in commits["tiers"] for s in t["segments"]}
        if not commits["tiers"] and os.path.exists(f"{self.index_dir}/postings"):
            # flat tables without a commit record (one-shot / resumable /
            # streaming-merged build): the flat tables ARE the last
            # commit point, backed by every segment whose docs precede
            # the flat max doc id — the same coverage heuristic
            # _tiered_commit applies. Without this guard a rollback on a
            # fresh resumable build would delete the intermediates
            # behind the live index.
            flat_max = (
                self.spark.read.parquet(f"{self.index_dir}/norms")
                .agg(F.max("doc_id"))
                .first()[0]
            )
            if flat_max is not None:
                for s in self._staged_segments():
                    mn = (
                        self.spark.read.parquet(f"{self.index_dir}/segments/seg={s}/norms")
                        .agg(F.min("doc_id"))
                        .first()[0]
                    )
                    if mn is not None and int(mn) <= int(flat_max):
                        committed.add(s)
        removed = []
        for s in self._staged_segments():
            if s not in committed:
                shutil.rmtree(f"{self.index_dir}/segments/seg={s}", ignore_errors=True)
                removed.append(s)
        return removed

    def _snapshots_path(self) -> str:
        return f"{self.index_dir}/snapshots.json"

    def _rel_files(self, sub: str) -> list[str]:
        root = os.path.join(self.index_dir, sub)
        if not os.path.exists(root):
            return []
        out = []
        for dirpath, _, names in os.walk(root):
            for n in names:
                out.append(os.path.relpath(os.path.join(dirpath, n), self.index_dir))
        return sorted(out)

    def snapshot(self) -> str:
        """SnapshotDeletionPolicy.snapshot() (lucene/core .../index/
        SnapshotDeletionPolicy.java:38-74): pin the CURRENT commit
        point. The tiered layout makes this a metadata record — tiers
        are append-only hive dirs, deletes and DV updates are
        append-only files — so the snapshot is just the file listing.
        A later ``full``/``expunge_deletes`` commit rewrites tiers in
        place and invalidates older snapshots (Lucene's deletion policy
        would have PREVENTED that merge from reclaiming the commit;
        here the invariant is checked at restore time instead)."""
        snaps = {"snapshots": {}}
        if os.path.exists(self._snapshots_path()):
            with open(self._snapshots_path()) as fh:
                snaps = json.load(fh)
        sid = f"snap{len(snaps['snapshots'])}"
        snaps["snapshots"][sid] = {
            "commits": self._load_commits(),
            "tables": {t: self._rel_files(t) for t in self._TABLES},
            "deletes": self._rel_files("deletes"),
            "dv_updates": self._rel_files("dv_updates"),
        }
        with open(self._snapshots_path(), "w") as fh:
            json.dump(snaps, fh, indent=2)
        return sid

    def restore(self, snapshot_id: str) -> dict:
        """Roll the index back to a pinned commit point: drop tier
        dirs, delete files, and DV-update generations created after the
        snapshot, restore commits.json, and recompute collection stats.
        Raises if the snapshot's files are no longer on disk (a
        full-merge rewrote them)."""
        import shutil

        with open(self._snapshots_path()) as fh:
            snap = json.load(fh)["snapshots"][snapshot_id]
        wanted = {
            f
            for group in (list(snap["tables"].values()) + [snap["deletes"], snap["dv_updates"]])
            for f in group
        }
        missing = [f for f in wanted if not os.path.exists(os.path.join(self.index_dir, f))]
        if missing:
            raise ValueError(
                f"snapshot {snapshot_id} is gone: {len(missing)} files were rewritten "
                f"by a later full merge (first: {missing[0]})"
            )
        # drop anything under the snapshotted trees that the snapshot
        # does not reference (newer tiers / delete files / dv gens)
        removed = 0
        for sub in (*self._TABLES, "deletes", "dv_updates"):
            for f in self._rel_files(sub):
                if f not in wanted:
                    os.remove(os.path.join(self.index_dir, f))
                    removed += 1
        # prune now-empty dirs (e.g. a dropped tier=K or gen=N)
        for sub in (*self._TABLES, "deletes", "dv_updates"):
            root = os.path.join(self.index_dir, sub)
            for dirpath, dirnames, names in list(os.walk(root, topdown=False)):
                if not dirnames and not names:
                    shutil.rmtree(dirpath, ignore_errors=True)
        # staged segments not referenced by the snapshot's commit point
        committed = {s for t in snap["commits"]["tiers"] for s in t["segments"]}
        for s in self._staged_segments():
            if s not in committed:
                shutil.rmtree(f"{self.index_dir}/segments/seg={s}", ignore_errors=True)
        self._save_commits(snap["commits"])
        shutil.rmtree(f"{self.index_dir}/term_stats_rev", ignore_errors=True)
        for t in self._TABLES:
            self.spark.catalog.refreshByPath(f"{self.index_dir}/{t}")
        n_docs = self._write_collection_stats()
        with open(f"{self.index_dir}/manifest.json", "w") as fh:
            json.dump(
                {
                    **self._manifest_chain(),
                    "docs": n_docs,
                    "docs_per_chunk": self.config.docs_per_chunk,
                    "mode": "writer",
                    "restored_from": snapshot_id,
                },
                fh,
            )
        return {"snapshot": snapshot_id, "files_removed": removed, "docs": n_docs}

    # ---- commit ------------------------------------------------------------

    _TABLES = ("postings", "term_stats", "docs", "norms")

    def _commits_path(self) -> str:
        return f"{self.index_dir}/commits.json"

    def _load_commits(self) -> dict:
        p = self._commits_path()
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {"tiers": []}

    def _save_commits(self, commits: dict) -> None:
        tmp = self._commits_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(commits, fh, indent=2)
        os.replace(tmp, self._commits_path())  # atomic, the segments_N role

    def _staged_segments(self) -> list[str]:
        seg_root = f"{self.index_dir}/segments"
        if not os.path.exists(seg_root):
            return []
        return sorted(p.split("=", 1)[1] for p in os.listdir(seg_root) if p.startswith("seg="))

    def _is_tiered(self, table: str) -> bool:
        d = f"{self.index_dir}/{table}"
        return os.path.exists(d) and any(p.startswith("tier=") for p in os.listdir(d))

    def _flatten_to_tier0(self, covered: list[str], n_docs: int) -> dict:
        """Move existing FLAT final tables under ``tier=0`` hive dirs
        (pure filesystem renames — no data job), so tiered commits can
        append sibling tiers. ``covered``: the staged segments the flat
        tables were merged from."""
        for t in self._TABLES:
            d = f"{self.index_dir}/{t}"
            if not os.path.exists(d) or self._is_tiered(t):
                continue
            tmp = f"{d}._tmp_tier0"
            os.rename(d, tmp)
            os.makedirs(d)
            os.rename(tmp, f"{d}/tier=0")
            self.spark.catalog.refreshByPath(d)
        commits = {"tiers": [{"tier": 0, "segments": covered, "n_docs": int(n_docs)}]}
        self._save_commits(commits)
        return commits

    def _write_collection_stats(self) -> int:
        """Recompute collection stats over ALL tiers (aggregation scan
        of norms + term_stats — no shuffle, no postings decode)."""
        from lucene_spark.index.builder import write_collection_stats_from_tables

        return write_collection_stats_from_tables(self.spark, self.index_dir, self.config)

    def _tiered_commit(self) -> dict:
        """Pack ONLY the not-yet-committed segments into a new tier —
        commit cost is O(new docs), not O(index) (the TieredMergePolicy
        contract, lucene/core/src/java/org/apache/lucene/index/
        TieredMergePolicy.java:89-95: merges are sized by the segments
        being merged, never the whole index). Each tier is a hive
        partition dir (``postings/tier=K`` …) covering a disjoint
        doc-id range; the reader unions tiers and orders chunk rows by
        (chunk_id, tier) = global doc order."""
        import time

        t0 = time.time()
        staged = self._staged_segments()
        commits = self._load_commits()
        committed = {s for t in commits["tiers"] for s in t["segments"]}
        flat_exists = os.path.exists(f"{self.index_dir}/postings") and not self._is_tiered("postings")
        if flat_exists:
            if commits["tiers"]:
                # flat tables from a prior merge-down; commits.json says
                # exactly which segments they cover
                covered = sorted(committed)
            else:
                # flat tables from a prior full merge with no commit
                # record: coverage = segments whose docs all precede the
                # flat max doc id (ids are assigned monotonically with
                # staging order)
                flat_max = self.spark.read.parquet(f"{self.index_dir}/norms").agg(
                    F.max("doc_id")
                ).first()[0]
                covered = []
                for s in staged:
                    mn = self.spark.read.parquet(
                        f"{self.index_dir}/segments/seg={s}/norms"
                    ).agg(F.min("doc_id")).first()[0]
                    if mn is not None and int(mn) <= int(flat_max):
                        covered.append(s)
            n_flat = self.spark.read.parquet(f"{self.index_dir}/norms").count()
            commits = self._flatten_to_tier0(covered, n_flat)
            committed = set(covered)
        new = [s for s in staged if s not in committed]
        if not new:
            return {"mode": "tiered", "packed_segments": [], "packed_docs": 0}
        tier = max((t["tier"] for t in commits["tiers"]), default=-1) + 1
        seg_root = f"{self.index_dir}/segments"
        self._inner.merge_segments([f"{seg_root}/seg={s}" for s in new], self.index_dir, tier=tier)
        n_new = self.spark.read.parquet(f"{self.index_dir}/norms/tier={tier}").count()
        commits["tiers"].append({"tier": tier, "segments": new, "n_docs": int(n_new)})
        self._save_commits(commits)
        return {
            "mode": "tiered",
            "tier": tier,
            "packed_segments": new,
            "packed_docs": int(n_new),
            "commit_sec": round(time.time() - t0, 3),
        }

    def commit(
        self, expunge_deletes: bool = False, full: bool = False, max_tiers: int = 10
    ) -> SearchIndex:
        """Advance the commit point (segments_N). Default: a TIERED
        commit — pack only the new segments into a new tier, cost
        bounded by the new docs (TieredMergePolicy role). When the tier
        count exceeds ``max_tiers``, or with ``full=True`` /
        ``expunge_deletes=True``, all segments re-merge into one flat
        layout (forceMerge / forceMergeDeletes)."""
        from lucene_spark.index.checkpoint import ResumableIndexBuilder
        from lucene_spark.index.deletes import purge_deletes

        # capture the chain BEFORE the merge/pack steps below — their
        # inner IndexBuilder.build rewrites the manifest from THIS
        # writer's config, which may be the default when the writer was
        # opened on an existing differently-analyzed index
        chain = self._manifest_chain()
        rec: dict = {}
        # a merge writes collection_stats itself and returns n_docs; only
        # a tiered commit leaves them to recompute over all tiers
        merged = None
        if expunge_deletes and os.path.exists(f"{self.index_dir}/deletes"):
            merged = purge_deletes(self.spark, self.index_dir, self.config)  # full collapse
        elif full:
            merged = ResumableIndexBuilder(self.spark, self.config).merge(self.index_dir)
        else:
            rec = self._tiered_commit()
            if len(self._load_commits()["tiers"]) > max_tiers:
                # over budget → merge down (the policy's big merge)
                merged = ResumableIndexBuilder(self.spark, self.config).merge(self.index_dir)
        if merged is None:
            n_docs = self._write_collection_stats()
        else:
            self._save_commits(
                {"tiers": [{"tier": 0, "segments": self._staged_segments(), "n_docs": -1}]}
            )
            n_docs = merged["docs"]
        # the committed tier changes the term set: drop the reversed-
        # dictionary sidecar (the rewritten manifest below has no
        # reverse_dict flag, so readers fall back to the plain scan)
        shutil.rmtree(f"{self.index_dir}/term_stats_rev", ignore_errors=True)
        with open(f"{self.index_dir}/manifest.json", "w") as fh:
            json.dump(
                {
                    **chain,
                    "docs": n_docs,
                    "docs_per_chunk": self.config.docs_per_chunk,
                    "mode": "writer",
                    "last_commit": rec,
                },
                fh,
            )
        return SearchIndex(self.spark, self.index_dir)
