"""Block-max WAND — dynamic pruning for top-k disjunctions.

The reference's WANDScorer (lucene/core/src/java/org/apache/lucene/
search/WANDScorer.java:53-642, Broder et al. WAND + Ding & Suel
block-max, cited at :30-34) is a doc-at-a-time iterator juggling
lead/head/tail scorer lists. A vectorized engine wants the same
*pruning guarantee* in block-at-a-time form, so this kernel reframes it
as an interval sweep:

1. every term's posting list is divided into 128-doc blocks whose max
   possible score comes from the indexed competitive impacts
   (ImpactsDISI.java / MaxScoreCache.java — computed here WITHOUT
   decoding the block),
2. block boundaries across all query terms cut doc-id space into
   elementary intervals; each interval's upper bound = Σ (per-term
   block-max of the covering block),
3. intervals are scored exhaustively in descending upper-bound order;
   once the top-k heap is full (and the totalHitsThreshold — default
   1000, IndexSearcher.java:104 — has been crossed), any interval with
   upper bound below minCompetitiveScore = nextUp(kth score)
   (TopScoreDocCollector.java:335-355) is pruned: its blocks are never
   bit-unpacked.

Like the reference (WANDScorer.java:88-118 rounds max scores UP),
pruning is by true upper bounds, so the returned top-k is EXACTLY the
exhaustive result — verified by equivalence tests.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.codec.forutil import BLOCK_SIZE, decode_blocks
from lucene_spark.search.kernels import top_k_from_arrays
from lucene_spark.search.similarity import BM25_SIM

_INF_DOC = np.int64(2**62)


class PostingSource:
    """Lazily-decodable posting list for one term: block upper bounds
    from impacts, selective block decode on demand."""

    def __init__(
        self,
        weight,
        cache: np.ndarray,
        chunks: list[tuple[bytes, np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]],
        sim=None,
        term: str | None = None,
        reader_cache=None,
    ):
        """chunks: list of (blob, block_last, imp_block, imp_freq, imp_norm, df)
        in ascending doc-range order (chunk rows from the index). ``sim``
        is the pluggable Similarity (BM25 default); every model is
        monotone in freq and anti-monotone in length, so block maxima
        over the competitive-impact Pareto pairs stay true upper bounds."""
        self.sim = sim if sim is not None else BM25_SIM
        self.weight = weight
        self.cache = cache
        self.chunks = chunks
        # global block table: (chunk_idx, local_block, end_doc, ub_score)
        ends, ubs, owner = [], [], []
        for ci, (blob, block_last, ib, if_, in_, df) in enumerate(chunks):
            n_blocks = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
            ub = np.zeros(n_blocks, dtype=np.float32)
            if len(ib):
                in_arr = np.asarray(in_)
                if not getattr(self.sim, "length_monotone", True):
                    # models whose lengthNorm is NOT non-increasing
                    # (SweetSpotSimilarity's plateau): the competitive
                    # impacts' Pareto frontier (max freq, min norm) no
                    # longer contains the max scorer, so substitute the
                    # globally-best norm byte — a true (looser) upper
                    # bound that keeps dynamic pruning exact
                    best = int(np.argmax(np.asarray(cache, dtype=np.float64)))
                    in_arr = np.full(len(in_arr), best, dtype=np.int64)
                s = self.sim.score(self.weight, np.asarray(if_), in_arr, cache)
                np.maximum.at(ub, np.asarray(ib, dtype=np.int64), s)
            for b in range(n_blocks):
                end = int(block_last[b])  # exact per-block last doc (incl. tail)
                ends.append(end)
                ubs.append(float(ub[b]))
                owner.append((ci, b))
        self.block_end = np.array(ends, dtype=np.int64)
        self.block_ub = np.array(ubs, dtype=np.float32)
        self.owner = owner
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        # FULL-chunk decodes shared across queries in the reader's
        # cache under "chunk", keyed (term, chunk ordinal); keys are
        # stable because collect_rows is reader-cached with a fixed
        # row order
        self.term = term
        self.reader_cache = reader_cache

    def block_ranges(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(start_doc, end_doc, ub) per block; start = prev end + 1."""
        starts = np.empty_like(self.block_end)
        starts[0] = 0
        starts[1:] = self.block_end[:-1] + 1
        return starts, self.block_end, self.block_ub

    def decode(self, block_idx: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        got = self._decoded.get(block_idx)
        if got is None:
            ci, lb = self.owner[block_idx]
            blob, block_last, *_ = self.chunks[ci]
            got = decode_blocks(blob, [lb], np.asarray(block_last, dtype=np.int64))
            self._decoded[block_idx] = got
        return got

    def decoded_blocks_scored(self, block_indices: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if not len(block_indices):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        # group uncached blocks by owning chunk and decode each chunk's
        # set in ONE decode_blocks call — decode_blocks walks the blob's
        # block headers once per CALL, so per-block calls would cost
        # O(blocks^2) header walks on long posting lists (measured 100x
        # on a 400k-doc corpus: q_or 1.4s -> 14ms)
        need: dict[int, list[int]] = {}
        for b in block_indices:
            if int(b) not in self._decoded:
                ci, _ = self.owner[int(b)]
                need.setdefault(ci, []).append(int(b))
        for ci, bs in need.items():
            blob, block_last, _ib, _if, _in, df = self.chunks[ci]
            bs.sort(key=lambda b: self.owner[b][1])
            lbs = [self.owner[b][1] for b in bs]
            d, t, nm = decode_blocks(blob, lbs, np.asarray(block_last, dtype=np.int64))
            n_full = df // BLOCK_SIZE
            off = 0
            for gb, lb in zip(bs, lbs):
                size = BLOCK_SIZE if lb < n_full else df - n_full * BLOCK_SIZE
                self._decoded[gb] = (d[off : off + size], t[off : off + size], nm[off : off + size])
                off += size
        parts = [self._decoded[int(b)] for b in block_indices]
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        norms = np.concatenate([p[2] for p in parts])
        return docs, self.sim.score(self.weight, tfs, norms, self.cache)

    def decoded_blocks_arrays(
        self, block_indices: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, norms) of the given blocks, concatenated in
        ascending doc order, UNSCORED and with chunk-granular assembly
        (no per-block cache entries). The conjunction's dense-hot-side
        path: when the candidate set touches most of a 62k-block hot
        term, per-block slicing/caching dominated the walk (measured
        ~0.8 s/query on the 8M-doc skew drill) and scoring belongs
        AFTER the intersection, not on every decoded doc.
        ``block_indices`` must be ascending (np.unique output)."""
        if not len(block_indices):
            e = np.empty(0, dtype=np.int64)
            return e, e, np.empty(0, dtype=np.int64)
        need: dict[int, list[int]] = {}
        for b in block_indices:
            ci, lb = self.owner[int(b)]
            need.setdefault(ci, []).append(lb)
        # only whole chunks are shared across queries (one lookup per source)
        full = {ci for ci, lbs in need.items() if len(lbs) == (self.chunks[ci][5] + BLOCK_SIZE - 1) // BLOCK_SIZE}
        rc = self.reader_cache if self.term is not None else None
        cached = rc.get_many("chunk", [(self.term, ci) for ci in full]) if rc is not None else {}
        dparts, tparts, nparts = [], [], []
        for ci in sorted(need):
            blob, block_last, *_ = self.chunks[ci]
            got = cached.get((self.term, ci))
            if got is None:
                got = decode_blocks(blob, sorted(need[ci]), np.asarray(block_last, dtype=np.int64))
                if rc is not None and ci in full:
                    rc.put("chunk", (self.term, ci), got)
            d, t, nm = got
            dparts.append(d)
            tparts.append(t)
            nparts.append(nm)
        return np.concatenate(dparts), np.concatenate(tparts), np.concatenate(nparts)

    def score_at(self, tfs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        return self.sim.score(self.weight, tfs, norms, self.cache)


def wand_top_k(
    sources: list[PostingSource],
    k: int,
    total_hits_threshold: int = 1000,
    deleted: np.ndarray | None = None,
    msm: int = 1,
    deadline: float | None = None,
    allowed: "np.ndarray | None" = None,
) -> tuple[list[tuple[int, float]], dict]:
    """Exact top-k over the disjunction of term sources, with block-max
    pruning. ``msm`` > 1 applies the WANDScorer
    minimumNumberShouldMatch pruning (WANDScorer.java:38,146): an
    interval covered by fewer than msm sources cannot contain a hit —
    its blocks are never decoded — and scored docs matching fewer than
    msm terms are discarded. Returns (hits, info)."""
    msm = max(1, msm)
    # ---- elementary intervals from all block boundaries
    all_ends = np.unique(np.concatenate([s.block_end for s in sources]))
    n_iv = len(all_ends)
    # interval j covers (all_ends[j-1], all_ends[j]]
    ub_sum = np.zeros(n_iv, dtype=np.float64)
    n_cover = np.zeros(n_iv, dtype=np.int64)
    term_block_of_iv = []  # per source: block index covering each interval (or -1)
    for s in sources:
        starts, ends, ub = s.block_ranges()
        # interval j's end doc all_ends[j] falls in source block: first block with end >= all_ends[j]
        bidx = np.searchsorted(ends, all_ends)
        valid = bidx < len(ends)
        contrib = np.zeros(n_iv, dtype=np.float64)
        # block covers interval only if block start <= interval start region;
        # using block [start,end] vs interval (prev_end, end]: overlap iff
        # block_end >= iv_end is chosen via searchsorted and block_start <= iv_end
        iv_lo = np.empty(n_iv, dtype=np.int64)
        iv_lo[0] = 0
        iv_lo[1:] = all_ends[:-1] + 1
        bidx_c = np.minimum(bidx, len(ends) - 1)
        overlap = valid & (starts[bidx_c] <= all_ends)
        contrib[overlap] = ub[bidx_c[overlap]]
        ub_sum += contrib
        n_cover += overlap.astype(np.int64)
        tb = np.where(overlap, bidx_c, -1)
        term_block_of_iv.append(tb)

    if msm > 1:
        # coverage pruning: < msm covering sources → no possible hit
        ub_sum = np.where(n_cover >= msm, ub_sum, -np.inf)
    order = np.argsort(-ub_sum, kind="stable")
    if msm > 1:
        order = order[ub_sum[order] > -np.inf]
    heap_docs = np.empty(0, dtype=np.int64)
    heap_scores = np.empty(0, dtype=np.float32)
    hits = 0
    scored_blocks: list[set] = [set() for _ in sources]
    pruned_intervals = 0
    min_competitive = -np.inf

    BATCH = 8
    i = 0
    timed_out = False
    while i < len(order):
        # QueryTimeout checkpoint (IndexSearcher.setTimeout /
        # TimeLimitingCollector role): between interval batches — every
        # doc already in the heap is fully scored, so the partial
        # result is a correct (possibly incomplete) top-k
        if deadline is not None:
            import time

            if time.monotonic() > deadline:
                timed_out = True
                pruned_intervals = len(order) - i
                break
        batch = []
        while i < len(order) and len(batch) < BATCH:
            j = order[i]
            if hits >= total_hits_threshold and len(heap_docs) >= k and ub_sum[j] < min_competitive:
                # everything after j in desc order is also below: prune the rest
                pruned_intervals = len(order) - i
                i = len(order)
                break
            batch.append(j)
            i += 1
        if not batch:
            break
        # decode the covering blocks (dedup per source)
        need = [set() for _ in sources]
        for j in batch:
            for si, tb in enumerate(term_block_of_iv):
                b = tb[j]
                if b >= 0 and b not in scored_blocks[si]:
                    need[si].add(int(b))
        new_docs, new_scores, new_counts = _score_union(sources, need, scored_blocks)
        for si in range(len(sources)):
            scored_blocks[si] |= need[si]
        if msm > 1 and len(new_docs):
            enough = new_counts >= msm
            new_docs, new_scores = new_docs[enough], new_scores[enough]
        if allowed is not None and len(new_docs):
            # FILTER-clause doc-set mask (sorted): the filtered WAND of
            # Boolean2ScorerSupplier's req(filter)+opt(TOP_SCORES)
            # branch — pruning bounds stay true upper bounds because a
            # filter only removes hits
            idx = np.searchsorted(allowed, new_docs)
            idx_c = np.minimum(idx, max(len(allowed) - 1, 0))
            inset = (idx < len(allowed)) & (allowed[idx_c] == new_docs) if len(allowed) else np.zeros(len(new_docs), bool)
            new_docs, new_scores = new_docs[inset], new_scores[inset]
        if deleted is not None and len(new_docs):
            # liveDocs mask (scorer.score(collector, liveDocs) role)
            live = ~np.isin(new_docs, deleted, assume_unique=False)
            new_docs, new_scores = new_docs[live], new_scores[live]
        if len(new_docs):
            # drop docs already in heap (blocks span multiple intervals)
            if len(heap_docs):
                fresh = ~np.isin(new_docs, heap_docs)
                new_docs, new_scores = new_docs[fresh], new_scores[fresh]
            hits += len(new_docs)
            heap_docs = np.concatenate([heap_docs, new_docs])
            heap_scores = np.concatenate([heap_scores, new_scores])
            if len(heap_docs) > 4 * k:
                top = top_k_from_arrays(heap_docs, heap_scores, k)
                heap_docs = np.array([d for d, _ in top], dtype=np.int64)
                heap_scores = np.array([s for _, s in top], dtype=np.float32)
            if len(heap_docs) >= k:
                kth = np.partition(heap_scores, len(heap_scores) - k)[len(heap_scores) - k]
                # the reference prunes at Math.nextUp(kth)
                # (TopScoreDocCollector.java:335-355) — sound there
                # because docs are scored in docID order, so a later
                # equal-scoring doc always loses the doc-asc tie-break.
                # THIS scorer visits intervals in upper-bound order, so
                # an unvisited interval can still hold an equal-scoring
                # SMALLER doc id that wins the tie-break — prune
                # strictly below kth to stay exactly ≡ exhaustive.
                min_competitive = float(kth)
    result = top_k_from_arrays(heap_docs, heap_scores, k)
    info = {
        "pruned_intervals": int(pruned_intervals),
        "total_intervals": int(n_iv),
        "decoded_blocks": int(sum(len(s) for s in scored_blocks)),
        "total_blocks": int(sum(len(s.block_end) for s in sources)),
        "hits_seen": int(hits),
        "timed_out": timed_out,
    }
    return result, info


def conjunction_top_k(
    sources: list[PostingSource],
    k: int,
    deleted: np.ndarray | None = None,
    should_sources: list[PostingSource] | None = None,
    deadline: float | None = None,
) -> tuple[list[tuple[int, float]], dict]:
    """Exact top-k over a pure term conjunction with skip-data block
    decoding (BlockMaxConjunctionScorer.java:30-80 cost ordering +
    the galloping `advance()` of Lucene90PostingsReader.java:483-495,
    845-861, replayed block-at-a-time): sources are sorted by cost
    (Boolean2ScorerSupplier sorts conjunctions by cost, :203-210), the
    rarest term is decoded fully, and every other term bit-unpacks ONLY
    the 128-blocks that contain a surviving candidate — block_last is
    the skip list. All matches are scored exactly (sum in float64, cast
    float32 — same accumulation as the exhaustive kernel), so the
    result is identical to exhaustive evaluation; the saving is decode
    work: O(df_min · blocks_touched), not O(Σ df).

    ``should_sources`` (MUST + SHOULD booleans,
    Boolean2ScorerSupplier.java req+opt branch): optional clauses add
    score to surviving MUST candidates only — each SHOULD term decodes
    just the blocks containing a candidate, the same skip-data bound."""
    sources = sorted(sources, key=lambda s: sum(c[5] for c in s.chunks))
    lead = sources[0]
    cand, lead_tf, lead_nm = lead.decoded_blocks_arrays(np.arange(len(lead.block_end)))
    acc = lead.score_at(lead_tf, lead_nm).astype(np.float64)
    blocks_decoded = len(lead.block_end)
    blocks_skipped = 0
    timed_out = False
    for s in sources[1:]:
        if deadline is not None:
            import time

            if time.monotonic() > deadline:
                # mid-intersection candidates are NOT verified matches —
                # the only correct partial here is the empty one
                # (TimeExceededException keeps collected hits; none are)
                timed_out = True
                cand = cand[:0]
                break
        if not len(cand):
            break
        bidx = np.searchsorted(s.block_end, cand)
        valid = bidx < len(s.block_end)
        cand, acc, bidx = cand[valid], acc[valid], bidx[valid]
        need = np.unique(bidx)
        blocks_decoded += len(need)
        blocks_skipped += len(s.block_end) - len(need)
        if not len(need):
            cand = cand[:0]
            break
        d, tf, nm = s.decoded_blocks_arrays(need)
        idx = np.searchsorted(d, cand)
        idxc = np.minimum(idx, max(len(d) - 1, 0))
        m = (idx < len(d)) & (d[idxc] == cand) if len(d) else np.zeros(len(cand), dtype=bool)
        cand = cand[m]
        sel = idxc[m]
        if len(sel) * 2 > len(d):
            # dense intersection: score the decoded run once and gather
            # (one float32 gather beats two int64 gathers + a sparse
            # score at >50% survival)
            acc = acc[m] + s.score_at(tf, nm)[sel].astype(np.float64)
        else:
            # sparse intersection: score ONLY the survivors
            acc = acc[m] + s.score_at(tf[sel], nm[sel]).astype(np.float64)
    for s in should_sources or ():
        if not len(cand):
            break
        bidx = np.searchsorted(s.block_end, cand)
        valid = bidx < len(s.block_end)
        need = np.unique(bidx[valid])
        if not len(need):
            continue
        blocks_decoded += len(need)
        blocks_skipped += len(s.block_end) - len(need)
        d, tf, nm = s.decoded_blocks_arrays(need)
        idx = np.searchsorted(d, cand)
        idxc = np.minimum(idx, max(len(d) - 1, 0))
        m = (idx < len(d)) & (d[idxc] == cand) if len(d) else np.zeros(len(cand), dtype=bool)
        sel = idxc[m]
        if len(sel) * 2 > len(d):
            acc[m] += s.score_at(tf, nm)[sel].astype(np.float64)
        else:
            acc[m] += s.score_at(tf[sel], nm[sel]).astype(np.float64)
    if deleted is not None and len(deleted) and len(cand):
        live = ~np.isin(cand, deleted, assume_unique=False)
        cand, acc = cand[live], acc[live]
    scores = acc.astype(np.float32)
    info = {
        "blocks_decoded": blocks_decoded,
        "blocks_skipped": blocks_skipped,
        "hits_seen": len(cand),
        "timed_out": timed_out,
    }
    return top_k_from_arrays(cand, scores, k), info


def _score_union(
    sources: list[PostingSource], need: list[set], scored: list[set] | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Disjunction-sum over the decoded blocks of each source →
    (docs, scores, per-doc match counts).

    Contract (required for the caller's ``scored_blocks`` bookkeeping):
    EVERY doc of EVERY block in the final (mutated) ``need`` sets is
    emitted, with its FULL score across all sources. To complete
    scores, other sources' covering blocks are pulled in, iterating to
    a fixpoint (a pulled block may introduce docs needing further
    blocks at its edges). Blocks in ``scored`` were fully emitted by an
    EARLIER call (inductively: every doc of a scored block already left
    with its full score — its covering blocks in every other source
    were pulled then), so the fixpoint never re-pulls them; re-emitting
    their docs would double-count hits after a heap trim dropped them."""
    scored = scored if scored is not None else [set() for _ in sources]
    if not any(need):
        e = np.empty(0, dtype=np.int64)
        return e, np.empty(0, dtype=np.float32), e
    # fixpoint: docs of all needed blocks → covering blocks of all docs
    while True:
        doc_parts = []
        for si, s in enumerate(sources):
            if need[si]:
                d, _ = s.decoded_blocks_scored(np.array(sorted(need[si]), dtype=np.int64))
                doc_parts.append(d)
        docs = np.unique(np.concatenate(doc_parts))
        grew = False
        for si, s in enumerate(sources):
            covering = np.unique(np.searchsorted(s.block_end, docs))
            covering = covering[covering < len(s.block_end)]
            # only blocks that actually contain one of `docs` matter;
            # searchsorted gives the candidate block, membership is
            # settled by the final scoring pass either way.
            new = set(int(b) for b in covering) - need[si] - scored[si]
            if new:
                # a candidate block is only *required* if one of `docs`
                # is really inside it — bulk-decode the candidates
                # (one header walk per chunk, fills the block cache),
                # then check membership per block against the cache
                s.decoded_blocks_scored(np.array(sorted(new), dtype=np.int64))
                for b in new:
                    d, _, _ = s.decode(b)
                    i0 = np.searchsorted(docs, d[0]) if len(d) else 0
                    i1 = np.searchsorted(docs, d[-1], side="right") if len(d) else 0
                    if len(d) and i0 < i1 and np.isin(docs[i0:i1], d, assume_unique=True).any():
                        need[si].add(b)
                        grew = True
        if not grew:
            break
    acc = np.zeros(len(docs), dtype=np.float64)
    counts = np.zeros(len(docs), dtype=np.int64)
    for si, s in enumerate(sources):
        if not need[si]:
            continue
        d, sc = s.decoded_blocks_scored(np.array(sorted(need[si]), dtype=np.int64))
        idx = np.searchsorted(d, docs)
        idx_c = np.minimum(idx, max(len(d) - 1, 0))
        mask = (idx < len(d)) & (d[idx_c] == docs) if len(d) else np.zeros(len(docs), bool)
        acc[mask] += sc[idx_c[mask]].astype(np.float64)
        counts += mask
    return docs, acc.astype(np.float32), counts
