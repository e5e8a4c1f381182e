"""Index build pipeline — the Spark-native IndexWriter.

Reference lifecycle (IndexFiles demo → IndexWriter → IndexingChain →
FreqProxTermsWriter → Lucene90PostingsWriter; SURVEY §3.2) re-expressed
as one declarative DataFrame job:

    corpus ──assign_doc_ids──▶ tokenize (pandas UDF) ──▶ explode
      ──▶ groupBy(term, doc_id, norm).count()              [inversion]
      ──▶ hot-term chunking (broadcast join on the hot set) [skew]
      ──▶ groupBy(term, chunk).agg(posting arrays)          [flush/merge]
      ──▶ mapInArrow: codec.batch.pack_batches               [codec]
          (every list of an Arrow batch in one vectorized pass:
          doc sort, FOR/varint blob, position/offset/payload
          streams, block skip data, impacts)
      ──▶ parquet tables bucketed/sorted by term            [term dict]

Lucene's DWPT-per-thread segments + k-way merge collapse into Spark's
partial (map-side) aggregation + shuffle-by-term sort-merge aggregation
(SegmentMerger.java:103 ≅ groupBy(term); SURVEY §3.3). Global doc IDs
are deterministic, so there is no DocMap remapping.

Skew strategy (north rule): hot terms (df > docs_per_chunk — the
`return`/`int` stop-word-likes of code) are split into doc-range chunk
rows BEFORE the list aggregation, bounding every aggregation buffer and
every output row; the hot-term set is discovered by a lightweight
pre-aggregation and broadcast. Rare terms keep one row each.

Output tables (all Parquet here; Iceberg is a writer swap — the one
layout of every table is TABLE_LAYOUT, written by ``write_table``):
- ``docs``              doc_id ↔ (repo, path, commit, lang) + content_sha256
- ``norms``             doc_id, dl, norm (SmallFloat byte; Lucene .nvd)
- ``postings``          term, chunk_id, df, blob, block_last, impacts
- ``term_stats``        term, df, ttf  (the term dictionary / .tim role)
- ``collection_stats``  doc_count, sum_ttf, sum_df (global BM25 stats)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis.tokenizer import tokenize_series
from lucene_spark.codec.batch import pack_batches
from lucene_spark.codec.smallfloat import int_to_byte4_np

DOC_KEYS = ("repo", "path", "commit")

# composite term-key separator for non-primary tokenized fields:
# postings/term_stats key = f"{field}\x1f{term}" (the FieldInfos union
# role, lucene/core/src/java/org/apache/lucene/index/FieldInfos.java —
# per-field postings spaces in one physical table, prunable by prefix)
FIELD_SEP = "\x1f"


@dataclass
class IndexConfig:
    """Build knobs. Defaults sized for the sandbox; the scale story is in
    the comments — every knob is a spark-submit override at cluster size."""

    # docs per hot-term chunk row (aligned to BLOCK_SIZE). At 10^12 docs
    # a term like `return` yields ~maxDoc/docs_per_chunk rows ≈ bounded
    # MBs each instead of one impossible multi-TB row.
    docs_per_chunk: int = 1 << 17
    # parallelism of doc-id assignment / postings shuffle (cluster: set
    # spark.sql.shuffle.partitions; this only seeds repartitionByRange).
    id_partitions: int | None = None
    # output buckets for the postings/term_stats tables (term dictionary
    # pruning granularity; Iceberg: bucket(term, n) + sort_order(term)).
    term_buckets: int = 16
    field: str = "content"
    # DOCS_AND_FREQS_AND_POSITIONS (TextField default, IndexOptions.java:29-50);
    # False = DOCS_AND_FREQS (no phrase queries, smaller index).
    positions: bool = True
    # DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS: also store char offsets
    # per occurrence (the UnifiedHighlighter's offsets source;
    # IndexOptions.java:44-50). Opt-in like the reference — costs ~2
    # varints per posting occurrence.
    offsets: bool = False
    # additional TOKENIZED fields (multi-field text indexing, the
    # FieldInfos union role): each gets its own postings space (term
    # key = field + FIELD_SEP + term), its own norms (inlined per
    # posting) and its own collection-stats row, so BM25 scores with
    # per-field df / avgdl / docCount exactly like per-field Lucene.
    extra_fields: tuple[str, ...] = ()
    # analyzer: "standard" (StandardAnalyzer default pipeline),
    # "porter" (= standard + PorterStemFilter, PorterStemFilter.java:
    # 33-55), or "english" (EnglishAnalyzer.createComponents,
    # EnglishAnalyzer.java:102-110: EnglishPossessiveFilter → lowercase
    # → StopFilter(ENGLISH_STOP_WORDS_SET) → PorterStemFilter; stop-
    # removed tokens consume positions). Recorded in the manifest so
    # the Searcher analyzes query terms identically.
    analyzer: str = "standard"
    # pre-tokenizer char filters (HTMLStripCharFilter / MappingCharFilter
    # role, analysis/common/.../charfilter/): names resolved by
    # analysis.folding.char_filter_chain ("html_strip"); all filters are
    # length-preserving so offsets index the original markup exactly.
    char_filters: tuple[str, ...] = ()
    # KNN vector field (KnnFloatVectorField / Lucene94HnswVectorsFormat
    # role): name of an array<float> corpus column stored as the
    # ``vectors`` sidecar table (doc_id, vec, vnorm), doc-range
    # partitioned. Search = Searcher.knn_search (exact, JVM-side);
    # the HNSW graph's scale role is played by partition pruning +
    # the IVF/LSH variants in pipeline.similarity (SURVEY §2).
    vector_field: str | None = None
    # index-time sort (IndexWriterConfig.setIndexSort,
    # IndexWriterConfig.java:475): doc IDs are assigned in the order of
    # these metadata columns ("-col" = descending), so doc-id order IS
    # the sort order and a matching query sort can terminate early
    # (TopFieldCollector early exit over a sorted index). The spec must
    # be a TOTAL order (append a unique key column) for deterministic
    # ids. Empty = sort by DOC_KEYS (the default identity order).
    index_sort: tuple[str, ...] = ()
    # ShingleFilter stage (analysis/common/.../shingle/ShingleFilter.java:
    # 30-120) applied AFTER the analyzer chain: (min, max) word-gram
    # sizes emitted as STACKED tokens (posInc 0) at each position;
    # None = off. shingle_unigrams mirrors outputUnigrams. Norms
    # discount stacked tokens (discountOverlaps), collection sum_ttf
    # counts them — the reference's exact statistics for shingled
    # fields. Unigram queries work unchanged; shingle terms are
    # first-class postings ("table hash" is a TermQuery).
    shingles: tuple[int, int] | None = None
    shingle_unigrams: bool = True
    # CommonGramsFilter (analysis/common/.../commongrams/
    # CommonGramsFilter.java:37-60): adjacent pairs involving these
    # words additionally index as stacked "w1_w2" grams.
    common_grams: tuple[str, ...] = ()
    # NGramTokenFilter / EdgeNGramTokenFilter (analysis/common/.../ngram/
    # NGramTokenFilter.java:25-40, EdgeNGramTokenFilter.java:25-60):
    # (min, max) char-gram lengths per token, stacked posInc-0 like
    # shingles (substring search / suggest-as-you-type). Mutually
    # exclusive with shingles/common_grams.
    ngrams: tuple[int, int] | None = None
    edge_ngrams: tuple[int, int] | None = None
    ngram_preserve_original: bool = False
    # KeywordRepeatFilter + PorterStemFilter + RemoveDuplicates
    # (miscellaneous/KeywordRepeatFilter.java:28-44): index the surface
    # form AND its Porter stem stacked at the same position — exact and
    # stemmed matching in one field. Query side rewrites a term into
    # SynonymQuery(term, stem) / multiphrase slot alternatives
    # (QueryBuilder's graph-token path). Mutually exclusive with the
    # other stacked stages.
    stem_repeat: bool = False
    # Index-time synonyms (SynonymGraphFilter + FlattenGraphFilter,
    # analysis/common/.../synonym/SynonymGraphFilter.java:221-280;
    # SynonymMap expand=true, keepOrig=true): equivalence sets of
    # single tokens — each occurrence of a member additionally indexes
    # every other member stacked at posInc 0, so querying ANY member
    # (term, phrase, or span) matches documents containing any of
    # them with shared statistics. Single-token rules only (what
    # index-time graph flattening preserves losslessly); terms are
    # lowercased to match the standard chain. Mutually exclusive with
    # the other stacked stages.
    synonyms: tuple[tuple[str, ...], ...] = ()
    # DelimitedPayloadTokenFilter (analysis/common/.../payloads/
    # DelimitedPayloadTokenFilter.java:35-70): tokens of the form
    # "term<delim>payload" carry a per-occurrence FLOAT payload
    # (FloatEncoder, the filter's default encoder); the payload is
    # stripped from the term and stored in a parallel per-occurrence
    # stream (the .pay file role). Set to the delimiter char (the
    # reference's DEFAULT_DELIMITER is '|'). Requires the whitespace
    # analyzer (the canonical pairing — any splitting tokenizer would
    # cut the payload off the token) with positions on and no stacked
    # stages/offsets. Tokens without the delimiter carry no payload
    # (the reference's null payload).
    delimited_payloads: str | None = None
    # term vectors (Lucene90TermVectorsFormat role,
    # lucene/core/src/java/org/apache/lucene/codecs/lucene90/compressing/
    # Lucene90CompressingTermVectorsFormat.java): the per-DOCUMENT view
    # of the inverted index — (doc_id, term, tf [, positions]) stored
    # doc-range partitioned + doc-sorted so TermVectors.get(doc) is a
    # pushed-down point read, not a scan over the term-keyed postings.
    # Opt-in like Field.Store term vectors (costs a second copy of the
    # inverted relation).
    term_vectors: bool = False


_POSTINGS_SCHEMA = (
    "term string, chunk_id long, df int, ttf long, blob binary, pos_blob binary, "
    "off_blob binary, pay_blob binary, block_last array<long>, imp_block array<int>, "
    "imp_freq array<int>, imp_norm array<int>"
)


def parse_sort_spec(spec: tuple[str, ...]) -> list[tuple[str, bool]]:
    """("-n_chars", "src_id") → [("n_chars", False), ("src_id", True)]
    (col, ascending) pairs; the Sort/SortField parse."""
    return [(c[1:], False) if c.startswith("-") else (c, True) for c in spec]


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows (``schema`` in DDL) as a JVM-only plan:
    ``spark.range(1)`` + an inline of one JSON literal. Unlike
    ``spark.createDataFrame(list)`` — a pickled Python RDD scan that
    every job over the frame re-runs, ~1.5 s per write — the plan has
    no Python stage; the columns stay nullable like createDataFrame's."""
    st = StructType.fromDDL(schema)
    js = json.dumps([dict(zip(st.names, r)) for r in rows])
    return spark.range(1).select(F.inline(F.from_json(F.lit(js), ArrayType(st))))


def stats_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """The one-file ``collection_stats`` table: one (doc_count,
    sum_ttf, sum_df, field) row per field."""
    return literal_frame(
        spark, rows, "doc_count long, sum_ttf long, sum_df long, field string"
    ).coalesce(1)


# The physical layout of every index table: (partition key, sort keys).
# Term-keyed tables hash-bucket on the key and sort within files, so a
# term lookup touches 1/buckets of the files and parquet dictionary /
# min-max stats narrow it to row groups (the FST/.tip role; Iceberg:
# bucket(term, n) + sort_order(term)). Doc-keyed tables range-partition
# on doc_id, so min/max prunes doc-range point reads (Iceberg:
# sort_order(doc_id)).
TABLE_LAYOUT = {
    "postings": ("term", ("term", "chunk_id")),
    "term_stats": ("term", ("term",)),
    "term_stats_rev": ("term_rev", ("term_rev",)),
    "docs": ("doc_id", ("doc_id",)),
    "norms": ("doc_id", ("doc_id",)),
    "vectors": ("doc_id", ("doc_id",)),
    "term_vectors": ("doc_id", ("doc_id", "term")),
}


def write_table(df: DataFrame, table: str, path: str, buckets: int) -> None:
    """Write ``df`` to ``path`` as index table ``table``, laid out per
    TABLE_LAYOUT in ``buckets`` files."""
    key, sort = TABLE_LAYOUT[table]
    parts = df.repartitionByRange(buckets, key) if key == "doc_id" else df.repartition(buckets, key)
    parts.sortWithinPartitions(*sort).write.mode("overwrite").parquet(path)


def write_reverse_dict(terms: DataFrame, path: str, buckets: int) -> None:
    """ReverseStringFilter role (analysis/common/.../reverse/
    ReverseStringFilter.java:30-60, Solr's leading-wildcard trick): the
    ``term_stats_rev`` sidecar of the ``term`` column of ``terms``,
    sorted by reverse(term) so a leading wildcard (*suffix) becomes a
    pushed-down startswith on term_rev — row-group min/max pruning
    instead of a full-dictionary regexp scan. Vocabulary-sized (no
    postings duplicated); IndexWriter commits drop it (their manifest
    has no reverse_dict flag)."""
    rev = terms.select("term", F.reverse("term").alias("term_rev"))
    write_table(rev, "term_stats_rev", path, buckets)


def assign_doc_ids(
    df: DataFrame,
    keys: tuple[str, ...] = DOC_KEYS,
    partitions: int | None = None,
    sort_spec: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic contiguous doc IDs = global rank over ``keys`` —
    or, with ``sort_spec`` (index-time sort, IndexWriterConfig
    .setIndexSort), global rank over the sort columns so doc-id order
    is the index sort order.

    Lucene reassigns per-segment IDs on merge (DocIDMerger.java:32-43);
    we instead fix GLOBAL IDs once so merges never remap and rebuilds /
    resumes are idempotent (SURVEY §1.2). Scalable pattern: range
    partition + in-partition sort, per-partition counts → offsets, then
    a per-partition window for local ranks. The intermediate is
    persisted so the sampled range boundaries are identical between the
    count job and the rank job (range sampling is not otherwise stable
    across jobs).
    """
    spark = df.sparkSession
    p = partitions or max(spark.sparkContext.defaultParallelism, 8)
    if sort_spec:
        kcols = [
            F.col(c).asc() if asc else F.col(c).desc() for c, asc in parse_sort_spec(sort_spec)
        ]
    else:
        kcols = [F.col(k) for k in keys]
    ordered = (
        df.repartitionByRange(p, *kcols)
        .sortWithinPartitions(*kcols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = literal_frame(spark, list(offsets.items()), "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(*kcols)
    out = (
        ordered.join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", F.col("_offset") + F.row_number().over(w) - 1)
        .drop("_pid", "_offset")
    )
    # hand the persisted intermediate to the caller for release after
    # its job materializes (a session looping over builds would
    # otherwise accumulate one pinned corpus copy per call)
    out._assign_ids_persisted = ordered
    return out


def _tokenize_udf(cfg: "IndexConfig"):
    """The one analysis UDF of every write path: content → a struct of
    ``tokens`` plus exactly the per-token streams ``cfg`` indexes —
    ``positions`` (Lucene positions: a dropped >255-char token consumes
    one, StandardTokenizer.java:158-166), ``starts``/``ends`` (the
    OffsetAttribute contract), float ``payloads`` (the
    DelimitedPayloadTokenFilter stage) and, behind a stacked-token
    stage, ``dl`` = the non-stacked token count (the discountOverlaps
    field length, FieldInvertState.getLength() - getNumOverlap()). With
    no stream beyond the tokens it returns the bare token array from
    ``tokenize_series``, which never computes positions."""
    from pyspark.sql.functions import pandas_udf

    stack = _stacker_of(cfg)
    delim = cfg.delimited_payloads
    if delim and stack is not None:
        raise ValueError("delimited_payloads is mutually exclusive with stacked-token stages")
    if delim and cfg.analyzer != "whitespace":
        raise ValueError(
            "delimited_payloads requires analyzer='whitespace' "
            "(the DelimitedPayloadTokenFilter pairing — a splitting "
            "tokenizer would cut the payload off the token)"
        )
    if delim and (cfg.offsets or not cfg.positions):
        raise ValueError("delimited_payloads requires positions=True and offsets=False")
    stem, cfs, off = cfg.analyzer, tuple(cfg.char_filters), cfg.offsets
    ints = ArrayType(IntegerType())
    fields = [StructField("tokens", ArrayType(StringType()))]
    if cfg.positions or off:
        fields.append(StructField("positions", ints))
    if off:
        fields += [StructField("starts", ints), StructField("ends", ints)]
    if delim:
        fields.append(StructField("payloads", ArrayType(FloatType())))
    if stack is not None:
        fields.append(StructField("dl", IntegerType()))
    names = [f.name for f in fields]
    bare = len(fields) == 1

    @pandas_udf(fields[0].dataType if bare else StructType(fields))
    def _tok(content: pd.Series) -> pd.DataFrame:  # a Series when bare
        from lucene_spark.analysis.tokenizer import (
            tokenize_pos_off_series,
            tokenize_pos_series,
        )

        if bare:
            return tokenize_series(content, stem=stem, char_filters=cfs)
        if off:
            cols = tokenize_pos_off_series(content, stem=stem, char_filters=cfs)
        else:
            cols = tokenize_pos_series(content, stem=stem, char_filters=cfs)
        cols = dict(zip(("tokens", "positions", "starts", "ends"), cols))
        if stack is not None:
            # per row: (tokens, positions, overlaps[, starts, ends])
            rows = [stack(*r) for r in zip(*cols.values())]
            outs = ("tokens", "positions", "ov", "starts", "ends")[: 5 if off else 3]
            cols = {k: [r[i] for r in rows] for i, k in enumerate(outs)}
            cols["dl"] = [sum(1 for o in ov if not o) for ov in cols.pop("ov")]
        if delim:
            cols["tokens"], cols["payloads"] = _strip_payloads(cols["tokens"], delim)
            cols["positions"] = list(cols["positions"])
        return pd.DataFrame({n: cols[n] for n in names})

    return _tok


def _strip_payloads(toks_s, delim: str) -> tuple[list, list]:
    """DelimitedPayloadTokenFilter (DelimitedPayloadTokenFilter.java:
    60-70): scan each token from the END for the delimiter, strip the
    suffix and decode it with FloatEncoder; no delimiter = null
    payload, here NaN. Unparsable payload text raises, matching
    FloatEncoder's NumberFormatException."""
    out_t, out_y = [], []
    for toks in toks_s:
        terms, pays = [], []
        for tok in toks:
            i = tok.rfind(delim)
            if i < 0:
                terms.append(tok)
                pays.append(float("nan"))
                continue
            body, ptxt = tok[:i], tok[i + 1 :]
            try:
                pays.append(float(ptxt))
            except ValueError as e:
                raise ValueError(
                    f"undecodable payload {ptxt!r} in token {tok!r} (FloatEncoder contract)"
                ) from e
            terms.append(body)
        out_t.append(terms)
        out_y.append(pays)
    return out_t, out_y


def chain_manifest_keys(cfg: "IndexConfig", index_dir: str | None = None) -> dict:
    """The analyzer/field-chain manifest keys EVERY manifest writer
    must carry so readers analyze queries identically to indexing
    (Searcher reads analyzer/stem_repeat/field/extra_fields/index_sort
    from the manifest — losing them silently re-analyzes queries with
    the standard chain). With ``index_dir``, values already present in
    that index's manifest win: they are the index's true build chain
    even when a writer/merger was opened with a default config."""
    base = {
        "field": cfg.field,
        "extra_fields": list(cfg.extra_fields),
        "index_sort": list(cfg.index_sort),
        "vector_field": cfg.vector_field,
        "analyzer": cfg.analyzer,
        "shingles": list(cfg.shingles) if cfg.shingles else None,
        "shingle_unigrams": cfg.shingle_unigrams,
        "common_grams": list(cfg.common_grams),
        "ngrams": list(cfg.ngrams) if cfg.ngrams else None,
        "edge_ngrams": list(cfg.edge_ngrams) if cfg.edge_ngrams else None,
        "stem_repeat": cfg.stem_repeat,
        "synonyms": [list(g) for g in cfg.synonyms] or None,
        "char_filters": list(cfg.char_filters),
        "delimited_payloads": cfg.delimited_payloads,
        # IndexOptions: a writer/merger opened on this index must stage
        # segments with the SAME inverted schema (a positions=True
        # append onto a positions=False index would mix schemas)
        "positions": cfg.positions,
        "offsets": cfg.offsets,
    }
    if index_dir:
        mpath = f"{index_dir}/manifest.json"
        if os.path.exists(mpath):
            try:
                with open(mpath) as fh:
                    cur = json.load(fh)
            except (OSError, ValueError):
                cur = {}
            for k in base:
                if k in cur:
                    base[k] = cur[k]
    return base


def write_collection_stats_from_tables(spark, index_dir: str, cfg: "IndexConfig") -> int:
    """Recompute collection_stats from the final norms/term_stats
    tables (no postings decode), one row PER FIELD — the build()
    contract that SearchIndex.stats_for(field) depends on. Used by the
    incremental paths (IndexWriter commits, resumable merge) whose
    stats must match a one-shot build over the same corpus."""
    norms = spark.read.parquet(f"{index_dir}/norms")
    n_docs, sum_ttf = norms.agg(F.count("*"), F.sum("dl")).first()
    ts = spark.read.parquet(f"{index_dir}/term_stats")
    prim_ts = ts.filter(~F.col("term").contains(FIELD_SEP))
    if _stacker_of(cfg) is not None:
        # stacked tokens: sum_ttf counts every posting; Σ dl is the
        # DISCOUNTED total (the statistics split, see IndexBuilder)
        sum_ttf = prim_ts.agg(F.sum("ttf")).first()[0]
    sum_df = prim_ts.agg(F.sum("df")).first()[0]
    rows = [(int(n_docs), int(sum_ttf or 0), int(sum_df or 0), cfg.field)]
    for xf in cfg.extra_fields:
        r = (
            ts.filter(F.col("term").startswith(xf + FIELD_SEP))
            .agg(F.sum("df"), F.sum("ttf"))
            .first()
        )
        dc = (
            norms.filter(F.col(f"norm_{xf}").isNotNull()).count()
            if f"norm_{xf}" in norms.columns
            else 0
        )
        rows.append((int(dc), int(r[1] or 0), int(r[0] or 0), xf))
    stats_frame(spark, rows).write.mode("overwrite").parquet(f"{index_dir}/collection_stats")
    spark.catalog.refreshByPath(f"{index_dir}/collection_stats")
    return int(n_docs)


def adopt_chain_config(cfg: "IndexConfig", index_dir: str) -> "IndexConfig":
    """The analyzer/field chain is a property of the INDEX, not of a
    writer: appending to an existing index must tokenize new segments
    exactly like the old ones, or the shared postings space (and the
    manifest the Searcher analyzes queries from) silently mixes
    analyses. Returns ``cfg`` with the chain fields overridden from the
    index's manifest when one exists."""
    import dataclasses

    mpath = f"{index_dir}/manifest.json"
    if not os.path.exists(mpath):
        return cfg
    try:
        with open(mpath) as fh:
            m = json.load(fh)
    except (OSError, ValueError):
        return cfg
    over: dict = {}
    if "analyzer" in m:
        over["analyzer"] = m["analyzer"] or "standard"
    for k in (
        "field",
        "vector_field",
        "stem_repeat",
        "shingle_unigrams",
        "delimited_payloads",
        "positions",
        "offsets",
    ):
        if k in m:
            over[k] = m[k]
    for k in ("extra_fields", "index_sort", "char_filters", "common_grams"):
        if k in m:
            over[k] = tuple(m[k] or ())
    for k in ("shingles", "ngrams", "edge_ngrams"):
        if k in m:
            over[k] = tuple(m[k]) if m[k] is not None else None
    if "synonyms" in m:
        over["synonyms"] = tuple(tuple(g) for g in (m["synonyms"] or ()))
    return dataclasses.replace(cfg, **over) if over else cfg


def _stacker_of(cfg):
    """Per-row stacked-token transform of the analyzed stream
    (ShingleFilter / CommonGramsFilter chained in that order), or None
    when neither is configured. Takes (tokens, positions[, starts,
    ends]) lists, returns (tokens, positions, overlaps[, starts,
    ends]) — ``overlaps`` flags posInc-0 tokens for norm discounting."""
    cjk_search = (
        isinstance(cfg.analyzer, str) and cfg.analyzer.startswith("cjk_search")
    ) or None
    ko_mixed = (
        isinstance(cfg.analyzer, str) and cfg.analyzer.partition(":")[0] == "ko_mixed"
    ) or None
    n_stages = sum(
        1
        for x in (
            cfg.shingles,
            tuple(cfg.common_grams) or None,
            cfg.ngrams,
            cfg.edge_ngrams,
            cfg.stem_repeat or None,
            tuple(cfg.synonyms) or None,
            cjk_search,
            ko_mixed,
        )
        if x is not None
    )
    if n_stages == 0:
        return None
    if n_stages > 1:
        raise ValueError(
            "shingles / common_grams / ngrams / edge_ngrams / stem_repeat "
            "/ synonyms / cjk_search are mutually exclusive stages"
        )
    if cjk_search:
        # JapaneseAnalyzer's default SEARCH mode with
        # discardCompoundToken=false: dictionary compounds covering
        # consecutive segmented parts stack posInc-0 at the first
        # part's position (the SynonymGraph+FlattenGraph index-time
        # approximation — posLength squashes)
        from lucene_spark.analysis.cjk import compound_stream, compound_surfaces
        from lucene_spark.analysis.tokenizer import _cjk_ext, _cjk_user_words

        uw = _cjk_user_words(cfg.analyzer)
        # resolved once, not per row (extended lexicon honored)
        surf = compound_surfaces(uw, _cjk_ext(cfg.analyzer))

        def cjk_stack(toks, poss, sts=None, ens=None):
            return compound_stream(toks, poss, starts=sts, ends=ens, surfaces=surf)

        return cjk_stack
    if ko_mixed:
        # KoreanTokenizer DecompoundMode.MIXED: over the DISCARD part
        # stream, the original COMPOUND/INFLECT surfaces stack
        # posInc-0 at the first part's position (DecompoundToken role)
        from lucene_spark.analysis.korean import mixed_stack_maps, mixed_stream
        from lucene_spark.analysis.tokenizer import _cjk_user_words

        maps = mixed_stack_maps(_cjk_user_words(cfg.analyzer))

        def ko_stack(toks, poss, sts=None, ens=None):
            return mixed_stream(toks, poss, starts=sts, ends=ens, maps=maps)

        return ko_stack
    from lucene_spark.analysis.shingles import (
        build_synonym_map,
        common_grams_stream,
        ngram_stream,
        shingle_stream,
        stem_repeat_stream,
        synonym_stream,
    )

    sh, uni, cg = cfg.shingles, cfg.shingle_unigrams, tuple(cfg.common_grams)
    ng, eng, pres = cfg.ngrams, cfg.edge_ngrams, cfg.ngram_preserve_original

    repeat = cfg.stem_repeat
    syn_map = build_synonym_map(cfg.synonyms) if cfg.synonyms else None

    def stack(toks, poss, sts=None, ens=None):
        if syn_map is not None:
            return synonym_stream(toks, poss, syn_map, starts=sts, ends=ens)
        if sh is not None:
            return shingle_stream(
                toks, poss, sh[0], sh[1], output_unigrams=uni, starts=sts, ends=ens
            )
        if ng is not None or eng is not None:
            lo, hi = ng if ng is not None else eng
            return ngram_stream(
                toks, poss, lo, hi,
                edge=eng is not None, preserve_original=pres, starts=sts, ends=ens,
            )
        if repeat:
            return stem_repeat_stream(toks, poss, starts=sts, ends=ens)
        return common_grams_stream(toks, poss, cg, starts=sts, ends=ens)

    return stack


def _norm_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(IntegerType())
    def _norm(dl: pd.Series) -> pd.Series:
        return pd.Series(int_to_byte4_np(dl.to_numpy()).astype(np.int32))

    return _norm


class IndexBuilder:
    def __init__(self, spark: SparkSession, config: IndexConfig | None = None):
        self.spark = spark
        self.config = config or IndexConfig()

    # ---- stages ----------------------------------------------------------

    def tokenized(self, corpus: DataFrame, field: str | None = None) -> DataFrame:
        """corpus (+doc_id) → + tokens [, positions [, starts, ends]]
        [, payloads], dl, norm for ``field`` (default the primary
        field); dl/norm are the FIELD's own length stats (per-field
        norms, FieldInfos role). The analyzer name selects the whole
        post-tokenizer filter chain (tokenizer._emitter)."""
        tok = _tokenize_udf(self.config)
        col = tok(F.col(field or self.config.field))
        names = tok.returnType.fieldNames() if isinstance(tok.returnType, StructType) else []
        if not names:
            out = corpus.withColumn("tokens", col)
        else:
            out = corpus.withColumn("_tp", col)
            for c in names:
                out = out.withColumn(c, F.col(f"_tp.{c}"))
            out = out.drop("_tp")
        if "dl" not in names:
            # stacked stages carry their discounted dl from the UDF —
            # size(tokens) would over-count the posInc-0 stack
            out = out.withColumn("dl", F.size("tokens"))
        return out.withColumn("norm", _norm_udf()(F.col("dl")))

    def inverted(self, tokenized: DataFrame, prefix: str = "") -> DataFrame:
        """(term, doc_id, norm [, dl], tf [, poss [, sts, ens] [, pays]])
        — the IndexingChain inversion (IndexingChain.java:519,674) as
        explode + partial-agg groupBy; every indexed occurrence stream
        is collected per (term, doc) in position order. ``prefix``
        (field + FIELD_SEP for non-primary fields) keys the rows into
        that field's postings space — applied AFTER the aggregation so
        the concat touches one row per (term, doc)."""
        cfg = self.config
        # stacked-token stages: the discounted field length can't be
        # recovered from Σ tf (posInc-0 tokens inflate it), so the
        # tokenize-stage dl rides through the inversion — one small int
        # per (term, doc) row, only on stacked builds
        keys = ["doc_id", "norm"] + (["dl"] if _stacker_of(cfg) is not None else [])
        # (tokenized column, occurrence column, per-(term, doc) list)
        streams = [("positions", "pos", "poss")] if cfg.positions or cfg.offsets else []
        if cfg.offsets:
            streams += [("starts", "st", "sts"), ("ends", "en", "ens")]
        if cfg.delimited_payloads:
            streams.append(("payloads", "pay", "pays"))
        # explode_outer, NOT explode: Catalyst guards a plain explode
        # with an injected `size(col) > 0` filter, and with a Python-UDF
        # input that filter re-evaluates the UDF — the tokenizer would
        # run TWICE per row (two ArrowEvalPython nodes; caught by
        # scripts/explain_audit.py). outer + null-filter keeps one UDF
        # evaluation; the null filter is JVM-side on exploded rows.
        zipped = F.arrays_zip("tokens", *[src for src, _, _ in streams]) if streams else "tokens"
        occ = tokenized.select(*keys, F.explode_outer(zipped).alias("tp" if streams else "term"))
        if streams:
            cols = [F.col("tp.tokens").alias("term")]
            for src, o, _ in streams:
                c = F.col(f"tp.{src}")
                # NaN payloads can't ride the position sort (NaN
                # ordering), so "no payload" travels as null and
                # decodes back to NaN
                cols.append((F.when(~F.isnan(c), c) if src == "payloads" else c).alias(o))
            occ = occ.select(*keys, *cols)
        grouped = occ.filter(F.col("term").isNotNull()).groupBy("term", *keys)
        tf = F.count("*").alias("tf")
        if not streams:
            out = grouped.agg(tf)
        elif len(streams) == 1:
            out = grouped.agg(tf, F.sort_array(F.collect_list("pos")).alias("poss"))
        else:
            # sort_array on the occurrence structs orders by position,
            # keeping every stream position-aligned (the .pay/offsets
            # contract)
            out = grouped.agg(
                tf, F.sort_array(F.collect_list(F.struct(*[o for _, o, _ in streams]))).alias("occ")
            ).select(
                "term",
                *keys,
                "tf",
                *[F.expr(f"transform(occ, x -> x.{o})").alias(lst) for _, o, lst in streams],
            )
        if prefix:
            out = out.withColumn("term", F.concat(F.lit(prefix), F.col("term")))
        return out

    def stage(self, base: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """An id-assigned corpus → lazy (docs, norms, inverted): the
        one write-path front end behind the one-shot build, every
        segment writer (IndexWriter, resumable, streaming) and
        ``write_segment``. ``inverted`` is the all-field relation —
        each extra field's inversion unions in under its prefixed key
        space (FieldInfos union: one shuffle, one pack stage, one
        postings table for every field)."""
        cfg = self.config
        inverted = self.inverted(self.tokenized(base))
        for f in cfg.extra_fields:
            inverted = inverted.unionByName(
                self.inverted(self.tokenized(base, field=f), prefix=f + FIELD_SEP)
            )
        # all non-content columns ride along as stored fields/DocValues
        # (SURVEY §1.1: DocValues = ordinary DataFrame columns) — they
        # serve keyword-field equality and numeric-range queries with
        # Catalyst pushdown on the doc_id-sorted table. Derived from
        # the SOURCE relation (columnar scan + JVM sha2), not the
        # tokenize pass — no Python in this branch at all.
        meta_cols = [
            c for c in base.columns if c not in (cfg.field, "doc_id", "content_sha256", cfg.vector_field)
        ]
        docs = base.select(
            "doc_id", *meta_cols, F.sha2(F.col(cfg.field), 256).alias("content_sha256")
        )
        return docs, self.norms(docs, inverted), inverted

    def norms(self, docs: DataFrame, inverted: DataFrame) -> DataFrame:
        """(doc_id, dl, norm [, norm_<field>…]) derived from the
        inverted relation, never from a second tokenize pass: dl = Σ tf
        per doc (identical to len(tokens) — overlong tokens were
        dropped before inversion), or the carried discounted dl on
        stacked builds; docs with zero surviving tokens are absent
        from ``inverted`` and re-attach from ``docs`` with dl=0,
        norm=intToByte4(0)."""
        from lucene_spark.codec.smallfloat import int_to_byte4

        cfg = self.config
        primary = inverted.filter(~F.col("term").contains(FIELD_SEP)) if cfg.extra_fields else inverted
        dl = F.min("dl") if _stacker_of(cfg) is not None else F.sum("tf")
        norms = (
            docs.select("doc_id")
            .join(primary.groupBy("doc_id", "norm").agg(dl.cast("int").alias("dl")), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("dl"), F.lit(0)).alias("dl"),
                F.coalesce(F.col("norm"), F.lit(int(int_to_byte4(0)))).cast("int").alias("norm"),
            )
        )
        # dense per-extra-field norm bytes (Lucene stores norms PER
        # FIELD — reader.getNormValues(field)): CombinedFieldQuery's
        # MultiNormsLeafSimScorer needs a doc's norm for EVERY queried
        # field, including fields whose postings the doc doesn't match,
        # so the sparse inline-per-posting copies aren't enough. NULL =
        # the doc has no tokens of the field (advanceExact false).
        for xf in cfg.extra_fields:
            agg_f = (
                inverted.filter(F.col("term").startswith(xf + FIELD_SEP))
                .groupBy("doc_id")
                .agg(F.max("norm").cast("int").alias(f"norm_{xf}"))
            )
            norms = norms.join(agg_f, "doc_id", "left")
        return norms

    def write_segment(self, base: DataFrame, seg_dir: str) -> None:
        """Stage one id-assigned batch as segment intermediates under
        ``seg_dir`` (a DWPT flush): docs (no Python stage), then the
        inverted relation (the batch's one tokenize pass), then norms
        derived from the written inverted files. ``base`` is read once
        per write, so its doc ids must be stable across jobs."""
        docs, _, inverted = self.stage(base)
        docs.write.mode("overwrite").parquet(f"{seg_dir}/docs")
        inverted.write.mode("overwrite").parquet(f"{seg_dir}/inverted")
        read = self.spark.read.parquet
        self.norms(read(f"{seg_dir}/docs"), read(f"{seg_dir}/inverted")).write.mode(
            "overwrite"
        ).parquet(f"{seg_dir}/norms")

    def merge_segments(self, seg_dirs: list[str], index_dir: str, tier: int | None = None) -> None:
        """Segment intermediates → the final docs/norms/postings/
        term_stats tables (SegmentMerger.merge ≅ one shuffle by term):
        flat under ``index_dir``, or as the ``tier=K`` hive partition of
        a tiered commit. A tier chunks EVERY term by doc range
        (``chunk_all``) so the distributed leaf grouping stays
        doc-range-partitioned across tiers."""
        read = self.spark.read.parquet
        postings, term_stats = self.posting_lists(
            read(*[f"{d}/inverted" for d in seg_dirs]), chunk_all=tier is not None
        )
        tables = {
            "docs": read(*[f"{d}/docs" for d in seg_dirs]),
            "norms": read(*[f"{d}/norms" for d in seg_dirs]),
            "postings": postings,
            "term_stats": term_stats,
        }
        part = "" if tier is None else f"/tier={tier}"
        for t, df in tables.items():
            write_table(df, t, f"{index_dir}/{t}{part}", self.config.term_buckets)
        term_stats.unpersist()
        # a session that read these paths before the overwrite would see
        # stale file listings (Spark caches the FileIndex per path)
        for t in tables:
            self.spark.catalog.refreshByPath(f"{index_dir}/{t}")

    def posting_lists(
        self, inverted: DataFrame, chunk_all: bool = False
    ) -> tuple[DataFrame, DataFrame]:
        """→ (packed postings rows, term_stats). Hot-term doc-range
        chunking bounds all buffers (skew salting, SURVEY §3.3).
        ``chunk_all`` doc-range-chunks EVERY term (tiered commits: a
        tier's rows must sit in their true doc-range chunk so the
        distributed leaf grouping stays doc-range-partitioned across
        tiers — the per-segment postings space of a Lucene segment)."""
        dpc = self.config.docs_per_chunk
        from pyspark import StorageLevel

        # term_stats feeds the hot-set broadcast, its own table write,
        # and the sum_df aggregate — one vocabulary-sized relation,
        # compute once
        term_stats = (
            inverted.groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("ttf"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if chunk_all:
            chunked = inverted.withColumn("chunk_id", (F.col("doc_id") / dpc).cast("long"))
        else:
            hot = term_stats.filter(F.col("df") > dpc).select("term").withColumn("_hot", F.lit(True))
            chunked = inverted.join(F.broadcast(hot), "term", "left").withColumn(
                "chunk_id",
                F.when(F.col("_hot").isNotNull(), (F.col("doc_id") / dpc).cast("long")).otherwise(F.lit(0)),
            )
        has_pos = self.config.positions or self.config.offsets
        has_off = self.config.offsets
        has_pay = bool(self.config.delimited_payloads)
        struct_cols = ["doc_id", "tf", "norm"] + (["poss"] if has_pos else []) + (
            ["sts", "ens"] if has_off else []
        ) + (["pays"] if has_pay else [])
        sel = [
            "term",
            "chunk_id",
            F.expr("transform(plist, x -> x.doc_id)").alias("docs"),
            F.expr("transform(plist, x -> x.tf)").alias("tfs"),
            F.expr("transform(plist, x -> x.norm)").alias("norms"),
        ]
        if has_pos:
            sel.append(F.expr("transform(plist, x -> x.poss)").alias("poss"))
        if has_off:
            sel.append(F.expr("transform(plist, x -> x.sts)").alias("sts"))
            sel.append(F.expr("transform(plist, x -> x.ens)").alias("ens"))
        if has_pay:
            sel.append(F.expr("transform(plist, x -> x.pays)").alias("pays"))
        # plain collect_list + the pack kernel's per-row stable doc sort:
        # sorting structs that carry nested position arrays is much
        # cheaper as one lexsort + gather over the batch's flat Arrow
        # buffers than as a JVM sort_array over deeply nested rows
        grouped = (
            chunked.groupBy("term", "chunk_id")
            .agg(F.collect_list(F.struct(*struct_cols)).alias("plist"))
            .select(*sel)
        )
        packed = grouped.mapInArrow(pack_batches, schema=_POSTINGS_SCHEMA)
        return packed, term_stats

    # ---- end-to-end ------------------------------------------------------

    def build(self, corpus: DataFrame, index_dir: str, assign_ids: bool = True) -> dict:
        """One-shot build → index tables under ``index_dir``. Returns metrics."""
        t0 = time.time()
        cfg = self.config
        from pyspark import StorageLevel

        base = (
            corpus
            if not assign_ids
            else assign_doc_ids(corpus, partitions=cfg.id_partitions, sort_spec=cfg.index_sort)
        )
        # ONE persisted intermediate: the inverted relation (DISK_ONLY —
        # cached on-heap it dominates the heap at scale and turns into
        # GC churn). It feeds the term_stats aggregation, the chunked
        # posting-list aggregation, AND the norms derivation. The wide
        # tokenized relation (raw content + token/position arrays, ~3x
        # the text) is deliberately NOT persisted: tokenize pipelines
        # straight into the inversion aggregation in a single pass, and
        # the per-doc outputs are derived without it — measured ~25%
        # less wall time at local[8] and a flat-out removal of the
        # biggest memory-bandwidth consumer (three re-reads of the wide
        # rows), which is what inflated core-seconds as parallelism
        # grew (N→4N efficiency).
        docs, norms, inverted = self.stage(base)
        # persisted after staging: every plan over ``inverted`` (norms,
        # term_stats, the posting lists, term vectors, the stats)
        # resolves to the cached relation when it executes
        inverted = inverted.persist(StorageLevel.DISK_ONLY)
        postings, term_stats = self.posting_lists(inverted)

        os.makedirs(index_dir, exist_ok=True)
        # materialize each persisted intermediate exactly once (a count
        # runs at full parallelism), THEN submit the four independent
        # table writes from driver threads: concurrent Spark jobs fill
        # each other's stage-barrier idle gaps, which is what keeps
        # core-utilization — and with it N→4N scaling efficiency — flat
        # as parallelism grows (on a cluster: the same trick, one job
        # per output table).
        t_pre = time.time()
        inverted.count()
        t_inv = time.time()

        tables = {"postings": postings, "docs": docs, "norms": norms, "term_stats": term_stats}
        if cfg.vector_field:
            # vectors sidecar (.vec/.vem role): doc-range partitioned
            # like docs/norms so knn + filter co-locates; vnorm is
            # precomputed JVM-side (cosine denominators at build time)
            vnorm = F.sqrt(
                F.aggregate(
                    F.transform(cfg.vector_field, lambda x: x.cast("double") * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("vnorm")
            # docs without the vector field are absent from the sidecar
            # (Lucene: no vector value → not in the HNSW graph)
            tables["vectors"] = base.filter(F.col(cfg.vector_field).isNotNull()).select(
                "doc_id", F.col(cfg.vector_field).alias("vec"), vnorm
            )
        if cfg.term_vectors:
            # the doc-keyed copy of the inverted relation; positions and
            # char offsets ride along when indexed (the TermVectorsFormat
            # positions/offsets bits — offsets make the vectors a
            # FastVectorHighlighter source, vectorhighlight/
            # FastVectorHighlighter.java)
            tables["term_vectors"] = inverted.select(
                "doc_id",
                "term",
                "tf",
                *[c for c in ("poss", "sts", "ens") if c in inverted.columns],
            )

        def _write(t: str) -> None:
            write_table(tables[t], t, f"{index_dir}/{t}", cfg.term_buckets)
            if t == "term_stats":
                write_reverse_dict(term_stats, f"{index_dir}/term_stats_rev", cfg.term_buckets)

        # the collection-stats aggregations read the SAME persisted
        # intermediates as the writes — run them as a fifth concurrent
        # job instead of a serial tail: the ~3 s they cost is
        # size-independent, so serializing them taxes high-parallelism
        # builds proportionally more (it is pure Amdahl serial fraction
        # — measured to move N→4N efficiency by ~0.05 at this scale)
        def _collect_stats():
            nd, st = norms.agg(F.count("*"), F.sum("dl")).first()
            if _stacker_of(cfg) is not None:
                # stacked tokens: sumTotalTermFreq counts EVERY posting
                # (shingles included) while norms stay discounted —
                # Lucene's exact statistics split for shingled fields
                # (CollectionStatistics.sumTotalTermFreq vs
                # FieldInvertState length-numOverlap). PRIMARY field
                # only: extra-field postings carry the FIELD_SEP prefix
                # and have their own stats rows
                prim = (
                    inverted.filter(~F.col("term").contains(FIELD_SEP))
                    if cfg.extra_fields
                    else inverted
                )
                st = prim.agg(F.sum("tf")).first()[0]
            if cfg.extra_fields:
                fexpr = F.when(
                    F.col("term").contains(FIELD_SEP), F.split("term", FIELD_SEP).getItem(0)
                ).otherwise(F.lit(cfg.field))
                sd_rows = {
                    r["f"]: int(r["sd"] or 0)
                    for r in term_stats.select(fexpr.alias("f"), "df")
                    .groupBy("f")
                    .agg(F.sum("df").alias("sd"))
                    .collect()
                }
                # per-field docCount / sumTotalTermFreq (FieldInfos +
                # CollectionStatistics per field): docs with >= 1 token
                # of the field, Σ tf over the field
                frows = {
                    r["f"]: (int(r["dc"]), int(r["st"] or 0))
                    for r in inverted.select(fexpr.alias("f"), "doc_id", "tf")
                    .groupBy("f")
                    .agg(F.countDistinct("doc_id").alias("dc"), F.sum("tf").alias("st"))
                    .collect()
                }
                rows = [(int(nd), int(st or 0), sd_rows.get(cfg.field, 0), cfg.field)]
                for f in cfg.extra_fields:
                    dc, stf = frows.get(f, (0, 0))
                    rows.append((dc, stf, sd_rows.get(f, 0), f))
                sd = sum(sd_rows.values())
            else:
                sd = term_stats.agg(F.sum("df")).first()[0]
                rows = [(int(nd), int(st or 0), int(sd or 0), cfg.field)]
            # the tiny collection_stats write rides inside the pool too
            # so the long-pole postings write hides it entirely
            stats_frame(self.spark, rows).write.mode("overwrite").parquet(
                f"{index_dir}/collection_stats"
            )
            # vocabulary / partition / skew metrics (terms per postings
            # bucket + hot-term chunking): the bucket id replays the
            # write's HashPartitioning (pmod(murmur3(term), buckets));
            # chunks/term = ceil(df / docs_per_chunk) — the salting the
            # hot-set broadcast applies. One vocab-sized agg, hidden
            # behind the postings write like the rest of this job.
            bkt = F.pmod(F.hash("term"), F.lit(cfg.term_buckets))
            per_bucket = [
                int(r["n"])
                for r in term_stats.groupBy(bkt.alias("b"))
                .agg(F.count("*").alias("n"))
                .collect()
            ]
            vrow = term_stats.agg(
                F.count("*").alias("terms"),
                F.max("df").alias("max_df"),
                F.sum((F.col("df") > cfg.docs_per_chunk).cast("long")).alias("hot"),
            ).first()
            vocab = {
                "terms_total": int(vrow["terms"]),
                "terms_per_partition": {
                    "buckets": cfg.term_buckets,
                    "min": min(per_bucket) if per_bucket else 0,
                    "max": max(per_bucket) if per_bucket else 0,
                    "avg": round(sum(per_bucket) / len(per_bucket), 1) if per_bucket else 0,
                },
                "max_df": int(vrow["max_df"] or 0),
                "hot_terms_chunked": int(vrow["hot"] or 0),
                "max_chunks_per_term": -(-int(vrow["max_df"] or 0) // cfg.docs_per_chunk),
            }
            return nd, st, sd, vocab

        from concurrent.futures import ThreadPoolExecutor

        t_writes = time.time()
        with ThreadPoolExecutor(max_workers=6) as pool:
            stats_fut = pool.submit(_collect_stats)
            futures = [pool.submit(_write, t) for t in tables]
            for fut in futures:
                fut.result()
            n_docs, sum_ttf, sum_df, vocab_metrics = stats_fut.result()
        t_done = time.time()
        inverted.unpersist()
        term_stats.unpersist()
        pers = getattr(base, "_assign_ids_persisted", None)
        if pers is not None:
            pers.unpersist()

        elapsed = time.time() - t0
        metrics = {
            "docs": int(n_docs),
            "sum_ttf": int(sum_ttf or 0),
            "elapsed_sec": elapsed,
            # phase wall-clock (driver view): plan = doc-id/table prep
            # before the inverted materialization, invert = the one
            # persisted shuffle, pack+writes = the concurrent table
            # jobs. The serial (non-overlapped) driver fraction is
            # elapsed - invert - writes.
            "phase_sec": {
                "prep": round(t_pre - t0, 2),
                "invert_materialize": round(t_inv - t_pre, 2),
                "concurrent_writes": round(t_done - t_writes, 2),
                "between": round(t_writes - t_inv, 2),
            },
            "docs_per_sec": (int(n_docs) / elapsed) if elapsed else None,
            # terms/partition + skew-salting metrics (north-rule build
            # observability: docs/sec, terms per partition, hot-term
            # chunking); per-segment lineage lives in checkpoint.py
            "vocab": vocab_metrics,
            "docs_per_chunk": cfg.docs_per_chunk,
            **chain_manifest_keys(cfg),
            "reverse_dict": True,
        }
        with open(f"{index_dir}/manifest.json", "w") as fh:
            json.dump(metrics, fh, indent=2)
        return metrics
