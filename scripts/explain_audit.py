"""Physical-plan audit: capture .explain("formatted") for the engine's
hot paths and verify scale-critical plan properties hold:

1. postings point-read: term filter PUSHED to the parquet scan
   (PushedFilters: [In(term, ...)]), ReadSchema pruned to needed cols;
   the driver's point read has no Exchange and no Sort (one job)
2. term-dictionary prefix scan: StartsWith pushed
3. norms doc-range read: range filter pushed (min/max row-group prune)
4. index build: inversion is a partial-agg (map-side combine) hash
   aggregate inside WholeStageCodegen; only ONE shuffle by (term,...);
   postings pack through MapInArrow (no MapInPandas); the
   collection_stats write has no Python stage; a staged segment
   tokenizes once (only its inverted write has Python stages)
5. distributed search: no shuffle beyond the chunk groupBy;
   TakeOrderedAndProject (not a global sort) for the top-k merge

Writes PLANS.md with the captured plans + a PASS/FAIL per property.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

CHECKS: list[tuple[str, str, bool]] = []


def _capture(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _stable(plan: str) -> str:
    """The plan text PLANS.md records: expression, plan and RDD ids,
    numbered lambda variables and the audit's temporary index directory
    change on every run, so they are replaced by placeholders and an
    unchanged plan rewrites the same bytes. Checks run on the raw
    capture."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"\b(lambda \w+)_\d+\b", r"\1_N", plan)
    return re.sub(r"/[^\s\[,]*/audit_(dv|seg)_\w+", r"<tmp>/audit_\1", plan)


def check(name: str, plan: str, pattern: str) -> None:
    ok = re.search(pattern, plan) is not None
    CHECKS.append((name, pattern, ok))


def check_absent(name: str, plan: str, pattern: str) -> None:
    """PASS iff ``pattern`` matches NOWHERE in the plan — for
    properties like column pruning, where a some-line-lacks-it
    negative lookahead would pass as soon as ANY other scan exists."""
    ok = re.search(pattern, plan) is None
    CHECKS.append((name, f"ABSENT: {pattern}", ok))


def main() -> None:
    from pyspark.sql import functions as F

    from lucene_spark.gate import corpus_df, gate_index
    from lucene_spark.index.builder import IndexBuilder, IndexConfig, stats_frame
    from lucene_spark.session import get_spark

    spark = get_spark("explain_audit", master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    index, searcher = gate_index(spark, sf)
    sections: list[tuple[str, str]] = []

    # 1. postings point read
    p = index.postings.filter(F.col("term").isin(["table", "merge"])).select(
        "term", "chunk_id", "df", "blob", "block_last"
    )
    plan = _capture(p)
    check("postings term filter pushed to scan", plan, r"PushedFilters: \[.*[Ii]n\(term")
    check_absent("postings column pruning (no pos_blob)", plan, r"ReadSchema:.*pos_blob")
    sections.append(("Postings point read (query hot path)", plan))

    # 1b. the driver's point read exactly as SearchIndex.collect_rows
    # collects it: one job — no Exchange and no Sort (rows are ordered on
    # the driver)
    plan = _capture(index.postings_rows(["table", "merge"]))
    check_absent("driver point read has no Exchange and no Sort", plan, r"Exchange|\bSort\b")
    sections.append(("Driver point read (collect_rows, one job)", plan))

    # 2. term dictionary prefix scan
    t = index.term_stats_df.filter(F.col("term").startswith("sc")).select("term", "df")
    plan = _capture(t)
    check("prefix StartsWith pushed", plan, r"PushedFilters: \[.*StartsWith\(term")
    sections.append(("Term-dictionary prefix expansion", plan))

    # 2b. reversed dictionary: leading wildcard = pushed StartsWith on
    # term_rev (ReverseStringFilter sidecar), not a regexp full scan
    tr = (
        spark.read.parquet(f"{index.index_dir}/term_stats_rev")
        .filter(F.col("term_rev").startswith("wo"))
        .select("term")
    )
    plan = _capture(tr)
    check("leading wildcard StartsWith(term_rev) pushed", plan, r"PushedFilters: \[.*StartsWith\(term_rev")
    sections.append(("Reversed-dictionary suffix expansion (leading wildcard)", plan))

    # 2c. fuzzy expansion candidate pruning: the gram sidecar joins in
    # with the query's bigrams pushed down (In(gram, ...)) and the
    # dictionary scan is a LeftSemi against that candidate set — no
    # full-dictionary levenshtein pass (LevenshteinAutomata role)
    cand = index.fuzzy_candidates("table", 1, False)
    fz = index.term_stats_df.join(cand, "term", "left_semi").select("term")
    plan = _capture(fz)
    check(
        "fuzzy gram filter pushed to sidecar scan",
        plan,
        r"gram#\d+ IN \(|PushedFilters: \[.*[Ii]n\(gram",
    )
    check("fuzzy candidates semi-join the dictionary", plan, r"LeftSemi")
    sections.append(("Fuzzy expansion: gram-pruned candidate set", plan))

    # 3. norms doc-range read
    n = index.norms.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    plan = _capture(n)
    check("norm doc-range pushed", plan, r"PushedFilters: \[.*GreaterThanOrEqual\(doc_id")
    sections.append(("Norms doc-range read", plan))

    # 4. build inversion plan
    b = IndexBuilder(spark, IndexConfig(positions=False))
    inv = b.inverted(b.tokenized(corpus_df(spark, sf)))
    plan = _capture(inv)
    check("inversion partial agg (map-side combine)", plan, r"HashAggregate")
    check("single shuffle keyed by term", plan, r"hashpartitioning\(term")
    # exactly 2 Python stages expected: tokenize + norm. 3+ means
    # Catalyst re-evaluated the tokenizer (e.g. behind an injected
    # explode guard filter) — the build would tokenize twice.
    n_py = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    CHECKS.append(("tokenizer UDF evaluated exactly once", f"ArrowEvalPython nodes x{n_py} (want 2: tok+norm)", n_py == 2))
    sections.append(("Index build: inversion aggregation", plan))

    # 4b. postings pack: every posting list of an Arrow batch packs in
    # one vectorized pass (MapInArrow), no per-row pandas kernel
    packed, term_stats = b.posting_lists(inv)
    plan = _capture(packed)
    check("postings pack is MapInArrow", plan, r"MapInArrow")
    check_absent("postings pack has no MapInPandas", plan, r"MapInPandas")
    term_stats.unpersist()
    sections.append(("Index build: postings pack", plan))

    # 4c. collection_stats write: a literal frame planned in the JVM,
    # not a pickled Python RDD of driver rows
    plan = _capture(stats_frame(spark, [(200, 5000, 3000, "content")]))
    check_absent("collection_stats write has no Python stage", plan, r"ExistingRDD|BatchEvalPython")
    sections.append(("Index build: collection_stats write", plan))

    # 4d. segment staging (IndexWriter.add_documents, resumable and
    # streaming segments): the tokenizer runs once per segment — only
    # the inverted write carries the tokenize + norm UDFs; docs come
    # from the source relation and norms from the written inverted rows
    import shutil as _sh
    import tempfile

    seg_dir = tempfile.mkdtemp(prefix="audit_seg_")
    sb = IndexBuilder(spark, IndexConfig())
    base = corpus_df(spark, sf).filter(F.col("doc_id") < 50)
    seg_docs, _, seg_inv = sb.stage(base)
    sb.write_segment(base, seg_dir)
    seg_norms = sb.norms(
        spark.read.parquet(f"{seg_dir}/docs"), spark.read.parquet(f"{seg_dir}/inverted")
    )
    for what, frame, want in (("docs", seg_docs, 0), ("norms", seg_norms, 0), ("inverted", seg_inv, 2)):
        plan = _capture(frame)
        n_py = len(re.findall(r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython)", plan, re.M))
        CHECKS.append((
            f"segment {what} write: Python stages = {'tokenize + norm' if want else 'none'}",
            f"EvalPython nodes x{n_py} (want {want})",
            n_py == want,
        ))
        sections.append((f"Segment staging: {what} write", plan))
    _sh.rmtree(seg_dir, ignore_errors=True)

    # codegen on a pure-JVM aggregation (Python stages legitimately
    # break codegen; the JVM-side spans must still fuse). AQE's
    # formatted output hides codegen ids pre-execution → disable
    # adaptive just for this capture.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    ts_agg = index.term_stats_df.groupBy().agg(F.sum("df"))
    plan = _capture(ts_agg)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    check("codegen spans on JVM aggregation", plan, r"codegen id")
    sections.append(("JVM-side aggregation codegen", plan))

    # 5. top-k merge (TakeOrderedAndProject, not global sort)
    hot = index.postings.select("chunk_id", "term", "df").limit(50)
    merged = hot.orderBy(F.desc("df"), F.asc("term")).limit(10)
    plan = _capture(merged)
    check("top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("Top-k merge shape", plan))

    # 6. suggest: prefix completion = pushed StartsWith + top-k, no sort
    from lucene_spark.search.suggest import complete_prefix

    plan = _capture(complete_prefix(index, "sc", k=10))
    check("suggest prefix pushed to term-table scan", plan, r"PushedFilters: \[.*StartsWith\(term")
    check("suggest top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("Suggest: prefix completion", plan))

    # 7. query-time join: scored hits broadcast into the docs join
    from lucene_spark.search import ast as A
    from lucene_spark.search.joins import join_top_parents

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _capture(join_top_parents(searcher, A.TermQuery("table"), docs, "source", "max", k=10))
    check("join: hit set broadcast (no shuffle of docs text)", plan, r"BroadcastHashJoin")
    sections.append(("Query-time join (JoinUtil ScoreMode)", plan))

    # 8. percolator: map-only over the doc stream — NO Exchange at all
    from lucene_spark.search.percolate import QueryMonitor

    qm = QueryMonitor(spark, {"q1": "table", "q2": '"table hash"'})
    plan = _capture(qm.match(docs.select("doc_id", "text")))
    CHECKS.append(
        ("percolate is map-only (zero shuffles)", "no Exchange node", "Exchange" not in plan)
    )
    sections.append(("Percolator match (reverse search)", plan))

    # 9. knn with metadata pre-filter: predicate pushed to the docs
    # scan, top-k is TakeOrderedAndProject, zero Python in the plan
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(1).first()["embedding"]
    kf = searcher.knn_frame(list(emb), k=5, filter=A.FieldValueQuery("lang", "en"))
    plan = _capture(kf)
    check("knn filter pushed to docs scan", plan, r"PushedFilters: \[.*EqualTo\(lang")
    check("knn top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    CHECKS.append(
        ("knn plan has zero Python stages", "no ArrowEvalPython/BatchEvalPython",
         "EvalPython" not in plan)
    )
    sections.append(("KNN vector search (filtered)", plan))

    # 9b. knn with a TEXT-QUERY pre-filter: the filter evaluates through
    # the distributed match relation and semi-joins DataFrame-to-
    # DataFrame — the doc ids are never collected to the driver, so the
    # plan must contain no LocalTableScan/ExistingRDD of a doc_id-only
    # relation (the r2 scale-weak item)
    kf = searcher.knn_frame(list(emb), k=5, filter="table")
    plan = _capture(kf)
    CHECKS.append(
        ("knn text filter: no driver-materialized ids",
         "no LocalTableScan [doc_id relation in the plan",
         re.search(r"LocalTableScan \[doc_id", plan) is None
         and re.search(r"Scan ExistingRDD\[doc_id#?\w*\]", plan) is None)
    )
    check("knn text filter semi-join", plan, r"LeftSemi")
    sections.append(("KNN vector search (text-query filtered)", plan))

    # 10. distributed facet over match_frame: the hit relation is never
    # collected — one chunk-groupBy exchange feeds the kernel, the facet
    # aggregate is a partial-agg HashAggregate over its output, and the
    # plan contains no local (driver) hits relation at all
    from lucene_spark.search.postprocess import facet_counts

    plan = _capture(facet_counts(searcher, A.TermQuery("table"), docs, "lang", mode="distributed"))
    check("dist facet: partial agg over chunk kernel output", plan, r"HashAggregate")
    CHECKS.append(
        ("dist facet: no driver-materialized hits (no LocalTableScan of ids)",
         "no 'Scan ExistingRDD' / LocalTableScan doc_id-only relation",
         re.search(r"LocalTableScan \[doc_id", plan) is None)
    )
    sections.append(("Distributed facet over match_frame", plan))

    # 11. block join: the docs-table reads prune to the key columns
    # (never the content), the tiny next-bucket relation broadcasts,
    # and the top-k merge is TakeOrderedAndProject — no global sort,
    # no corpus-wide window
    from lucene_spark.search.blockjoin import to_parent_block_join

    plan = _capture(to_parent_block_join(searcher, A.TermQuery("table"), "doc_id % 5 = 4", "total", k=10))
    CHECKS.append(
        ("block join never reads doc content", "no 'content' in any ReadSchema",
         re.search(r"ReadSchema:[^\n]*content", plan) is None)
    )
    check("block join next-bucket fallback broadcast", plan, r"BroadcastHashJoin")
    check("block join top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("Block join (ToParentBlockJoinQuery)", plan))

    # 12. covering query: match-frame union -> ONE doc_id aggregation,
    # threshold filter stays a JVM expression, top-k merge shape
    from lucene_spark.search.covering import covering_top_k

    plan = _capture(
        covering_top_k(searcher, [A.TermQuery("table"), A.TermQuery("hash")], "1 + doc_id % 3", k=10)
    )
    check("covering: hash agg over the union", plan, r"HashAggregate")
    check("covering top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("CoveringQuery (per-doc msm)", plan))

    # 13. diversified top-k: per-key window = ONE Exchange keyed by the
    # key column; the global cut is TakeOrderedAndProject
    from lucene_spark.search.misc import diversified_top_k

    plan = _capture(diversified_top_k(searcher, A.TermQuery("table"), "lang", 1, k=10))
    check("diversified: per-key exchange", plan, r"hashpartitioning\(key")
    check("diversified top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("Diversified top-k (per-key cap)", plan))

    # 14. geo: the box predicate reaches the parquet scan (BKD role);
    # the distance sort is TakeOrderedAndProject over JVM trig — no
    # Python eval anywhere in the plan
    from lucene_spark.search.geo import box_condition, nearest

    geo_docs = index.docs
    if "lat" in geo_docs.columns:
        plan = _capture(
            geo_docs.filter(
                box_condition(A.GeoBoxQuery("lat", "lon", -30.0, 45.0, -90.0, 60.0))
            ).select("doc_id")
        )
        check("geo box predicate pushed to scan", plan, r"PushedFilters: \[.*GreaterThanOrEqual\(lat")
        sections.append(("Geo box filter (LatLonPoint.newBoxQuery)", plan))
        plan = _capture(nearest(searcher, "table", 48.8, 2.3, k=5))
        check("geo distance sort is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
        CHECKS.append(
            ("geo distance sort stays JVM-side (no Python eval)",
             "no ArrowEvalPython/BatchEvalPython in plan",
             re.search(r"(ArrowEvalPython|BatchEvalPython)", plan) is None)
        )
        sections.append(("Geo distance sort (LatLonDocValuesField.newDistanceSort)", plan))

    # 14b. LatLonShape: the scalar bbox coarse phase reaches the parquet
    # scan (the BKD traversal role) and the exact triangle phase is a
    # higher-order-function expression — zero Python stages
    if "shape_tris" in index.docs.columns:
        from lucene_spark.search.shapes import shape_box_condition

        plan = _capture(
            index.docs.filter(
                shape_box_condition(A.ShapeBoxQuery("shape", 8.0, 18.0, -45.0, -35.0))
            ).select("doc_id")
        )
        check(
            "shape bbox coarse phase pushed to scan",
            plan,
            r"PushedFilters: \[.*LessThanOrEqual\(shape_minlon",
        )
        CHECKS.append(
            ("shape exact phase stays JVM-side (no Python eval)",
             "no ArrowEvalPython/BatchEvalPython in plan",
             re.search(r"(ArrowEvalPython|BatchEvalPython)", plan) is None)
        )
        sections.append(("LatLonShape box filter (triangle exact phase)", plan))

    # 14c. IndexSortSortedNumericDocValuesRangeQuery role: a range over
    # the index-sort field on a SORTED index must push down to the scan
    # — parquet min-max row-group pruning on the sorted column is the
    # binary-search-on-sorted-docids optimization (sandbox/search/
    # IndexSortSortedNumericDocValuesRangeQuery.java:55-90)
    from lucene_spark.gate import sorted_gate_index

    try:
        s_index, _ = sorted_gate_index(spark, sf)
        plan = _capture(
            s_index.docs.filter(
                (F.col("n_chars") >= 200) & (F.col("n_chars") <= 400)
            ).select("doc_id")
        )
        check(
            "range on index-sort field pushed to sorted scan",
            plan,
            r"PushedFilters: \[.*GreaterThanOrEqual\(n_chars,200\)",
        )
        sections.append(("Index-sort range (IndexSortSortedNumericDVRangeQuery)", plan))
    except Exception as e:  # noqa: BLE001
        CHECKS.append(("range on index-sort field pushed to sorted scan", str(e), False))

    # 15. DV-update overlay: merge-on-read join is broadcast (delta is
    # small), base docs scan still prunes columns
    import tempfile

    from lucene_spark.index.dvupdates import update_numeric_doc_values

    dvdir = tempfile.mkdtemp(prefix="audit_dv_")
    import shutil as _sh

    _sh.copytree(index.index_dir, dvdir, dirs_exist_ok=True)
    update_numeric_doc_values(spark, dvdir, "n_chars", {0: -1.0})
    from lucene_spark.index.reader import SearchIndex as _SI

    plan = _capture(_SI(spark, dvdir).docs.filter(F.col("n_chars") < 0).select("doc_id", "n_chars"))
    check("dv-update overlay join is broadcast", plan, r"BroadcastHashJoin")
    sections.append(("DocValues-update merge-on-read overlay", plan))
    _sh.rmtree(dvdir, ignore_errors=True)

    # 16. distributed feature query (ValueSpec): the aux value scan
    # pushes the non-null predicate to parquet, and no doc/value list
    # ever materializes on the driver (no LocalTableScan of values)
    from lucene_spark.search import ast as A

    featq = A.BooleanQuery(
        (
            (A.Occur.SHOULD, A.TermQuery("table")),
            (A.Occur.SHOULD, A.FeatureQuery("n_chars", "saturation", pivot=256.0)),
        )
    )
    plan = _capture(searcher.match_frame(featq))
    check("feature aux scan pushes IsNotNull", plan, r"PushedFilters: \[.*IsNotNull\(n_chars")
    ok_local = "LocalTableScan" not in plan
    CHECKS.append(
        ("feature values never driver-materialized", "no LocalTableScan in distributed feature plan", ok_local)
    )
    sections.append(("Distributed feature query (ValueSpec aux scan)", plan))

    # 17. pipeline: C4 filters and PII scrub are single-scan map-only
    # (zero Exchange); substring dedup's gram count partial-aggregates
    # map-side before its one shuffle
    from lucene_spark.pipeline.curation import c4_line_filters, scrub_pii
    from lucene_spark.pipeline.substrings import duplicated_ngram_spans

    raw = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _capture(c4_line_filters(raw))
    CHECKS.append(("c4 filters are map-only (zero shuffles)", "no Exchange node", "Exchange" not in plan))
    check("c4 filters have zero Python stages", plan, r"^(?:(?!ArrowEvalPython|BatchEvalPython)[\s\S])*$")
    sections.append(("Pipeline: C4 line filters", plan))
    plan = _capture(scrub_pii(raw))
    CHECKS.append(("pii scrub is map-only (zero shuffles)", "no Exchange node", "Exchange" not in plan))
    sections.append(("Pipeline: PII scrub", plan))
    plan = _capture(duplicated_ngram_spans(raw, n=5))
    check("substring dedup: map-side partial agg on gram", plan, r"HashAggregate")
    check("substring dedup: gram shuffle", plan, r"hashpartitioning\(gram")
    sections.append(("Pipeline: duplicated n-gram spans", plan))

    # 18. pipeline: bigram-LM perplexity — all-JVM (no Python stages),
    # the model's V scalar broadcasts onto the gram relation, scoring
    # joins stay shuffle/broadcast joins (no driver materialization)
    from lucene_spark.pipeline.lm import perplexity

    plan = _capture(perplexity(raw))
    check(
        "lm perplexity has zero Python stages",
        plan,
        r"^(?:(?!ArrowEvalPython|BatchEvalPython)[\s\S])*$",
    )
    check("lm perplexity V scalar broadcasts", plan, r"BroadcastExchange|BroadcastNestedLoopJoin")
    CHECKS.append(
        ("lm perplexity never collects to driver", "no LocalTableScan", "LocalTableScan" not in plan)
    )
    sections.append(("Pipeline: bigram-LM perplexity", plan))

    # 19. FreeTextSuggester lookup is one Catalyst plan: pushdown-style
    # filters on the model relation, window dedup, TakeOrderedAndProject
    from lucene_spark.search.suggest import build_freetext_model, free_text_suggest

    model = build_freetext_model(raw)
    plan = _capture(free_text_suggest(model, "table s", num=10))
    check(
        "freetext lookup has zero Python stages",
        plan,
        r"^(?:(?!ArrowEvalPython|BatchEvalPython)[\s\S])*$",
    )
    check("freetext lookup top-k is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
    sections.append(("FreeTextSuggester lookup", plan))

    # 20. Naive Bayes batch classification: the class table broadcasts
    # (never shuffles the token relation against a 5-row table), the
    # only Python stages are the two analyzer UDFs (train + score
    # tokenize), and nothing corpus-sized lands on the driver
    from lucene_spark.gate import corpus_df, gate_index
    from lucene_spark.search.classify import naive_bayes_classify

    index, _ = gate_index(spark, sf)
    corpus = corpus_df(spark, sf)
    plan = _capture(
        naive_bayes_classify(
            index, corpus.limit(50), corpus, class_col="lang", text_col="content"
        )
    )
    check("naive-bayes class table broadcasts", plan, r"BroadcastExchange")
    n_py = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    CHECKS.append(
        (
            "naive-bayes Python stages = analyzer UDFs only",
            f"ArrowEvalPython nodes x{n_py} (want <=2: train+score tokenize)",
            n_py <= 2,
        )
    )
    sections.append(("Naive Bayes batch classification", plan))

    # 12 (round 5). geo3d predicates: the coarse phase (lat band /
    # vertex bbox) is PUSHED to the docs-table parquet scan; the exact
    # phase is pure Catalyst trig (no Python stage in the plan)
    g3 = index.docs.filter(
        __import__("lucene_spark.search.spatial3d", fromlist=["circle_condition"]).circle_condition(
            A.Geo3DDistanceQuery("lat", "lon", 10.0, 20.0, 4_000_000.0)
        )
    ) if "lat" in index.docs.columns else None
    if g3 is not None:
        plan = _capture(g3.select("doc_id"))
        check("geo3d circle: lat band pushed to scan", plan, r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(lat")
        check_absent("geo3d circle: no Python stage", plan, r"EvalPython")
        sections.append(("Geo3D circle membership (spatial3d role)", plan))

    # 13 (round 5). distributed hot-path plan over the PERSISTED chunk
    # relation: the only Exchange in the final plan is the one-time
    # repartition INSIDE the cached InMemoryRelation — the per-query
    # stage is scan→filter→sort→FlatMapGroupsInPandas with no new
    # exchange, and the merge is TakeOrderedAndProject
    hot_terms_present = index.chunked_postings() is not None
    if hot_terms_present:
        spec, cache = searcher._prepared_spec(A.TermQuery("table"))
        kind, payload = searcher._distributed_plan(spec, 10, cache)
        if kind == "df":
            plan = _capture(payload.orderBy(F.desc("score")).limit(10))
            mem_split = plan.split("InMemoryRelation", 1)
            pre = mem_split[0]
            check("dist hot path reads the cached chunk relation", plan, r"InMemoryTableScan")
            CHECKS.append(
                ("dist hot path: no per-query exchange outside the cached relation",
                 "no Exchange before InMemoryRelation in the formatted plan",
                 "Exchange" not in pre)
            )
            check("dist hot-path merge is TakeOrderedAndProject", plan, r"TakeOrderedAndProject")
            sections.append(("Distributed hot path over persisted chunk relation", plan))

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    with open(out, "w") as fh:
        fh.write("# PLANS — physical-plan audit (scripts/explain_audit.py)\n\n")
        fh.write("| check | pattern | result |\n|---|---|---|\n")
        for name, pat, ok in CHECKS:
            fh.write(f"| {name} | `{pat}` | {'PASS' if ok else 'FAIL'} |\n")
        for title, plan in sections:
            fh.write(f"\n## {title}\n\n```\n{_stable(plan).strip()}\n```\n")
    print(f"wrote {out}")
    for name, _, ok in CHECKS:
        print(("PASS " if ok else "FAIL ") + name)
    if not all(ok for _, _, ok in CHECKS):
        sys.exit(1)


if __name__ == "__main__":
    main()
