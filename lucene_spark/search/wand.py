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
3. decoded intervals first, then the bound-ordered sweep: intervals
   are taken in descending upper-bound order, a batch at a time,
   against one decoded store per term and reader (``TermBlocks``, the
   reader cache's "source" entry) that fills block by block. Every
   elementary interval lies inside exactly one block of each term, so
   a batch is scored in one pass: each term's covering blocks are
   decoded into its store unless they are there already, read back
   with one ragged gather, the docs whose interval is in the batch are
   scored, and their scores are summed in float64 term by term, then
   cast to float32 — the exhaustive kernel's accumulation. Each doc
   lies in exactly one interval, so it is scored exactly once. Once
   the top-k heap is full (and the totalHitsThreshold — default 1000,
   IndexSearcher.java:104 — has been crossed), every interval whose
   upper bound is below minCompetitiveScore = kth score
   (TopScoreDocCollector.java:335-355) is pruned: the blocks only it
   needs are never bit-unpacked. Before the first batch, the leading
   run of the order whose covering blocks an earlier sweep has read
   (each store's ``swept`` mask) is scored in ONE pass, and the batches
   take their docs from it instead of re-reading those blocks. The
   batches, and so the pruning, hits and ``info``, do not depend on
   what the stores already held: a repeat query on an unchanged reader
   scores its first run's intervals in one pass, decodes nothing and
   reports the same ``info``.

Like the reference (WANDScorer.java:88-118 rounds max scores UP),
pruning is by true upper bounds, so the returned top-k is EXACTLY the
exhaustive result — verified by equivalence tests.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from lucene_spark.codec.forutil import BLOCK_SIZE, decode_blocks
from lucene_spark.search.kernels import top_k_from_arrays
from lucene_spark.search.similarity import BM25_SIM

BATCH = 8  # intervals in the first batch; each later batch doubles


def _ragged(offsets: np.ndarray, groups: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, ends): the positions of every element of the given groups,
    group g being ``offsets[g]:offsets[g + 1]``, in the given group order
    — one ragged gather index — and each group's end in that index."""
    starts = offsets[groups]
    lens = offsets[groups + 1] - starts
    ends = np.cumsum(lens)
    return np.arange(ends[-1] if len(ends) else 0) + np.repeat(starts - ends + lens, lens), ends


@dataclass
class TermBlocks:
    """One term's posting chunks as the reader holds them, in ascending
    doc-range order: the global block table over all its chunks, its
    competitive impacts and ONE decoded store — flat ``docs`` / ``tfs``
    / ``norms`` arrays in global block order (block b's postings sit at
    ``block_start[b]:block_start[b + 1]``, offsets taken from the
    chunks' df) with a per-block ``decoded`` mask. Built once per
    reader from the term's chunk rows (reader cache "source" entries)
    and shared by every query on the term. The store is allocated at
    its full decoded size — ``np.empty``, whose pages cost no memory
    until a block is written — so the cache charges it at that size
    when the entry is put. ``fill`` writes a block's arrays before it
    sets the block's mask bit, so a concurrent query reads only
    finished blocks (two fills of one block write the same values).
    ``swept`` marks the decoded blocks a WAND sweep has read: a repeat
    sweep scores the intervals they cover in one pass. Blocks only a
    conjunction decoded stay unmarked — a conjunction may decode a hot
    term whole, and a sweep would then score all of it up front."""

    blobs: list  # encoded postings per chunk
    chunk_last: list  # per chunk: exact last doc of each block (incl. tail)
    block_end: np.ndarray  # per global block: its last doc
    block_chunk: np.ndarray  # per global block: owning chunk
    block_local: np.ndarray  # per global block: block index inside its chunk
    block_start: np.ndarray  # per global block, plus the end: offset into the store
    imp_block: np.ndarray  # per competitive impact: its global block
    imp_freq: np.ndarray
    imp_norm: np.ndarray
    df: int
    docs: np.ndarray  # the decoded store, valid where ``decoded``
    tfs: np.ndarray
    norms: np.ndarray
    decoded: np.ndarray  # per global block: its postings are in the store
    swept: np.ndarray  # per global block: decoded and read by a WAND sweep
    # the last query's per-block score upper bounds and their key
    # (similarity, field, weight): a pure function of the key for the
    # reader's lifetime (the field's norm table is fixed), so a repeat
    # query reuses them; one slot, so the store never grows with them
    bounds: tuple = (None, None)

    @classmethod
    def from_rows(cls, rows) -> "TermBlocks":
        chunk_df = np.array([int(r["df"]) for r in rows], dtype=np.int64)
        n_blocks = (chunk_df + BLOCK_SIZE - 1) // BLOCK_SIZE
        first = np.concatenate([[0], np.cumsum(n_blocks)[:-1]]).astype(np.int64)
        chunk_last = [np.asarray(r["block_last"], dtype=np.int64)[:n] for r, n in zip(rows, n_blocks)]
        block_chunk = np.repeat(np.arange(len(rows), dtype=np.int64), n_blocks)
        block_local = np.arange(len(block_chunk), dtype=np.int64) - first[block_chunk]
        # every block holds BLOCK_SIZE postings but a chunk's tail
        sizes = np.minimum(BLOCK_SIZE, chunk_df[block_chunk] - block_local * BLOCK_SIZE)
        imp_chunk = [np.asarray(r["imp_block"], dtype=np.int64) + f for r, f in zip(rows, first)]
        df = int(chunk_df.sum())
        return cls(
            blobs=[r["blob"] for r in rows],
            chunk_last=chunk_last,
            block_end=np.concatenate(chunk_last),
            block_chunk=block_chunk,
            block_local=block_local,
            block_start=np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64),
            imp_block=np.concatenate(imp_chunk),
            imp_freq=np.concatenate([np.asarray(r["imp_freq"], dtype=np.int64) for r in rows]),
            imp_norm=np.concatenate([np.asarray(r["imp_norm"], dtype=np.int64) for r in rows]),
            df=df,
            docs=np.empty(df, dtype=np.int64),
            tfs=np.empty(df, dtype=np.int64),
            norms=np.empty(df, dtype=np.int64),
            decoded=np.zeros(len(block_chunk), dtype=bool),
            swept=np.zeros(len(block_chunk), dtype=bool),
        )

    def positions(self, blocks: np.ndarray) -> np.ndarray:
        """Store offsets of every posting of the given global blocks, in
        the given block order: one ragged gather index."""
        return _ragged(self.block_start, blocks)[0]

    def fill(self, blocks: np.ndarray) -> None:
        """Decode the given ascending global blocks that are not in the
        store yet, with one decode_blocks call per chunk — decode_blocks
        walks the blob's block headers once per CALL."""
        todo = blocks[~self.decoded[blocks]]
        if not len(todo):
            return
        cuts = np.flatnonzero(np.diff(self.block_chunk[todo])) + 1
        for part in np.split(todo, cuts):
            ci = int(self.block_chunk[part[0]])
            d, t, nm = decode_blocks(self.blobs[ci], self.block_local[part].tolist(), self.chunk_last[ci])
            if part[-1] - part[0] + 1 == len(part):  # a run of blocks: one slice
                at = slice(self.block_start[part[0]], self.block_start[part[-1] + 1])
            else:
                at = self.positions(part)
            self.docs[at], self.tfs[at], self.norms[at] = d, t, nm
        self.decoded[todo] = True

    def arrays(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, norms) of the given ascending global blocks
        (np.unique output), concatenated in ascending doc order and
        UNSCORED (the conjunction scores after the intersection): one
        gather from the store, decoding the blocks not in it first, so
        a repeat conjunction decodes nothing."""
        self.fill(blocks)
        if len(blocks) == len(self.decoded):  # every block: the store itself
            return self.docs, self.tfs, self.norms
        at = self.positions(blocks)
        return self.docs[at], self.tfs[at], self.norms[at]


class PostingSource:
    """One query term over its TermBlocks: per-block score upper bounds
    from the impacts, and its postings read from (and decoded on demand
    into) the term's reader-cached decoded store."""

    def __init__(self, weight, cache: np.ndarray, blocks: TermBlocks, sim=None, field: str = ""):
        """``sim`` is the pluggable Similarity (BM25 default); every
        model is monotone in freq and anti-monotone in length, so block
        maxima over the competitive-impact Pareto pairs stay true upper
        bounds. ``cache`` is the norm table of ``field`` under ``sim``:
        the bounds are kept on ``blocks`` under (sim, field, weight)."""
        self.sim = sim if sim is not None else BM25_SIM
        self.weight = weight
        self.cache = cache
        self.blocks = blocks
        self.block_end = blocks.block_end
        key = (self.sim, field, weight)
        memo_key, ub = blocks.bounds
        if memo_key != key:
            ub = self._block_ub()
            blocks.bounds = (key, ub)
        self.block_ub = ub

    def _block_ub(self) -> np.ndarray:
        blocks = self.blocks
        ub = np.zeros(len(blocks.block_end), dtype=np.float32)
        if len(blocks.imp_block):
            norms = blocks.imp_norm
            if not getattr(self.sim, "length_monotone", True):
                # models whose lengthNorm is NOT non-increasing
                # (SweetSpotSimilarity's plateau): the competitive
                # impacts' Pareto frontier (max freq, min norm) no
                # longer contains the max scorer, so substitute the
                # globally-best norm byte — a true (looser) upper
                # bound that keeps dynamic pruning exact
                best = int(np.argmax(np.asarray(self.cache, dtype=np.float64)))
                norms = np.full(len(norms), best, dtype=np.int64)
            s = self.sim.score(self.weight, blocks.imp_freq, norms, self.cache)
            np.maximum.at(ub, blocks.imp_block, s)
        ub.flags.writeable = False
        return ub

    def score_at(self, tfs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        return self.sim.score(self.weight, tfs, norms, self.cache)


def _score_intervals(sources, cover, all_ends, intervals, msm, allowed, deleted):
    """(docs, float32 scores) of the hits in the given elementary
    intervals, in one pass: every interval lies inside one block of each
    term, so each term's covering blocks are decoded into its store
    unless they are there already (and marked swept), then read with one
    ragged gather, and only the docs whose interval is given are scored.
    Hits ascend by doc. The scores
    are summed in float64 term by term in source order, then cast to
    float32 — the exhaustive kernel's accumulation."""
    in_iv = np.zeros(len(all_ends), dtype=bool)
    in_iv[intervals] = True
    parts = []
    for s, blk in zip(sources, cover):
        tb = s.blocks
        used = np.zeros(len(tb.decoded) + 1, dtype=bool)
        used[blk[intervals]] = True  # -1 (no covering block) marks the spare last slot
        need = np.flatnonzero(used[:-1])
        if not len(need):
            continue
        tb.fill(need)
        tb.swept[need] = True
        at = tb.positions(need)
        d = tb.docs[at]
        if len(sources) > 1:  # one source: its blocks are the intervals
            keep = in_iv[np.searchsorted(all_ends, d)]
            at, d = at[keep], d[keep]
        parts.append((d, s.score_at(tb.tfs[at], tb.norms[at])))
    if not sum(len(d) for d, _ in parts):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    if len(parts) == 1:  # one source: its float32 scores are the sums
        docs, scores = parts[0]
    else:
        # each part ascends, so the stable sort merges sorted runs and
        # keeps a doc's parts in source order; bincount adds in element
        # order from 0.0 — the exhaustive kernel's accumulation
        cat = np.concatenate([d for d, _ in parts])
        by_doc = np.argsort(cat, kind="stable")
        cat = cat[by_doc]
        first = np.empty(len(cat), dtype=bool)
        first[0] = True
        np.not_equal(cat[1:], cat[:-1], out=first[1:])
        group = np.cumsum(first) - 1
        weights = np.concatenate([sc for _, sc in parts]).astype(np.float64)[by_doc]
        docs = cat[first]
        scores = np.bincount(group, weights=weights).astype(np.float32)
        if msm > 1:
            enough = np.bincount(group) >= msm
            docs, scores = docs[enough], scores[enough]
    keep = _kept(docs, allowed, deleted)
    return (docs, scores) if keep is None else (docs[keep], scores[keep])


def _kept(docs, allowed, deleted) -> "np.ndarray | None":
    """The mask of the hits to keep: in the sorted FILTER doc set
    ``allowed`` — the filtered WAND of Boolean2ScorerSupplier's
    req(filter)+opt(TOP_SCORES) branch; pruning bounds stay true upper
    bounds because a filter only removes hits — and not tombstoned in
    ``deleted`` (the liveDocs role). None when neither is given."""
    keep = None
    if allowed is not None:
        idx = np.minimum(np.searchsorted(allowed, docs), max(len(allowed) - 1, 0))
        keep = allowed[idx] == docs if len(allowed) else np.zeros(len(docs), dtype=bool)
    if deleted is not None:
        live = ~np.isin(docs, deleted, assume_unique=False)
        keep = live if keep is None else keep & live
    return keep


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
    msm terms are discarded. Returns (hits, info); ``hits_seen`` counts
    every hit of the scored intervals, so it is the exact total when no
    interval was pruned. Hits, scores and ``info`` depend on the query
    alone, not on which blocks the stores held before it ran: the
    intervals an earlier sweep read are scored in one pass up front and
    replayed batch by batch."""
    msm = max(1, msm)
    # ---- elementary intervals from all block boundaries: interval j
    # covers (all_ends[j-1], all_ends[j]], inside one block of every
    # source whose last block ends at or after all_ends[j]
    all_ends = np.unique(np.concatenate([s.block_end for s in sources]))
    n_iv = len(all_ends)
    ub_sum = np.zeros(n_iv, dtype=np.float64)
    n_cover = np.zeros(n_iv, dtype=np.int64)
    cover = []  # per source: its block holding each interval, or -1
    for s in sources:
        b = np.searchsorted(s.block_end, all_ends)
        inside = b < len(s.block_end)
        b[~inside] = -1
        ub_sum[inside] += s.block_ub[b[inside]]
        n_cover += inside
        cover.append(b)
    order = np.argsort(-ub_sum, kind="stable")
    if msm > 1:
        # coverage pruning: < msm covering sources → no possible hit
        order = order[n_cover[order] >= msm]
    # a doc's score is float32(its float64 sum), so float32(bound) bounds
    # it; the negated bounds ascend along ``order``
    neg_bound = -ub_sum[order].astype(np.float32)
    # ---- decoded intervals first: the leading run of ``order`` whose
    # covering blocks an earlier sweep has read (none on a cold run) is
    # scored in one pass when it spans more than the first batch (which
    # would score it in one pass anyway)
    p = 0
    if len(order) > BATCH:
        ready = np.ones(len(order), dtype=bool)
        for s, blk in zip(sources, cover):
            ready &= np.append(s.blocks.swept, True)[blk[order]]  # -1 (no covering block) reads the spare True
        p = len(order) if ready.all() else int(np.argmin(ready))
    if p <= BATCH:
        p = 0
    elif len(sources) == 1:
        # one source: its intervals are its blocks, all swept (so in the
        # store); one ragged gather reads them in ``order``, and the
        # hits of order[i:end] are pre_docs[pre_end[i]:pre_end[end]]
        s = sources[0]
        tb = s.blocks
        at, ends = _ragged(tb.block_start, order[:p])
        pre_docs, pre_scores = tb.docs[at], s.score_at(tb.tfs[at], tb.norms[at])
        keep = _kept(pre_docs, allowed, deleted)
        if keep is not None:
            pre_docs, pre_scores = pre_docs[keep], pre_scores[keep]
            ends = np.cumsum(keep)[ends - 1]  # every block holds a posting
        pre_end = [0] + ends.tolist()
    else:
        pre_docs, pre_scores = _score_intervals(sources, cover, all_ends, order[:p], msm, allowed, deleted)
        # the hits ascend by doc, so interval j's are the run
        # pre_docs[edge[j]:edge[j + 1]]: one ragged gather lays the runs
        # out in ``order``, and the hits of order[i:end] are
        # pre_docs[pre_end[i]:pre_end[end]]
        edge = np.concatenate([[0], np.searchsorted(pre_docs, all_ends, side="right")])
        at, ends = _ragged(edge, order[:p])
        pre_docs, pre_scores = pre_docs[at], pre_scores[at]
        pre_end = [0] + ends.tolist()
    # ---- the bound-ordered sweep: intervals in descending upper-bound
    # order, a batch at a time; a batch takes the hits of its intervals
    # below ``p`` from the first pass and scores the rest in one pass
    # that reads their blocks from the stores (decoding only those not
    # there yet). Batches and pruning are those of a cold run.
    heap_docs = np.empty(0, dtype=np.int64)
    heap_scores = np.empty(0, dtype=np.float32)
    hits = 0
    min_competitive = None
    i, n, size = 0, len(order), BATCH
    timed_out = False
    while i < n:
        # QueryTimeout checkpoint (IndexSearcher.setTimeout /
        # TimeLimitingCollector role): between interval batches — every
        # doc already in the heap is fully scored, so the partial
        # result is a correct (possibly incomplete) top-k
        if deadline is not None and time.monotonic() > deadline:
            timed_out = True
            break
        end = min(n, i + size)
        size *= 2
        if min_competitive is not None and hits >= total_hits_threshold:
            # the competitive intervals are a prefix of the rest; every
            # interval after it is pruned
            cut = i + int(np.searchsorted(neg_bound[i:end], -min_competitive, side="right"))
            if cut < end:
                end = n = cut
        if end == i:
            break
        if end <= p:
            docs, scores = pre_docs[pre_end[i] : pre_end[end]], pre_scores[pre_end[i] : pre_end[end]]
        else:
            docs, scores = _score_intervals(sources, cover, all_ends, order[max(i, p) : end], msm, allowed, deleted)
            if i < p:
                docs = np.concatenate([pre_docs[pre_end[i] :], docs])
                scores = np.concatenate([pre_scores[pre_end[i] :], scores])
        i = end
        if not len(docs):
            continue
        hits += len(docs)
        heap_docs = np.concatenate([heap_docs, docs])
        heap_scores = np.concatenate([heap_scores, scores])
        if len(heap_docs) >= k:
            # the reference prunes at Math.nextUp(kth)
            # (TopScoreDocCollector.java:335-355) — sound there because
            # docs are scored in docID order, so a later equal-scoring
            # doc always loses the doc-asc tie-break. THIS scorer visits
            # intervals in upper-bound order, so an unvisited interval
            # can still hold an equal-scoring SMALLER doc id that wins
            # the tie-break — prune strictly below kth to stay exactly
            # ≡ exhaustive.
            min_competitive = np.partition(heap_scores, len(heap_scores) - k)[len(heap_scores) - k]
            if len(heap_docs) > 4 * k:
                # a doc below the kth score can never enter the top k;
                # the ties at kth all stay for the final doc-asc break
                top = heap_scores >= min_competitive
                heap_docs, heap_scores = heap_docs[top], heap_scores[top]
    # every block covering a scored interval was read (decoded by this
    # query or an earlier one)
    read = 0
    for s, blk in zip(sources, cover):
        seen = np.zeros(len(s.block_end) + 1, dtype=bool)
        seen[blk[order[:i]]] = True  # -1 (no covering block) marks the spare last slot
        read += int(np.count_nonzero(seen[:-1]))
    info = {
        "pruned_intervals": int(len(order) - i),
        "total_intervals": int(n_iv),
        "decoded_blocks": int(read),
        "total_blocks": int(sum(len(s.block_end) for s in sources)),
        "hits_seen": int(hits),
        "timed_out": timed_out,
    }
    return top_k_from_arrays(heap_docs, heap_scores, k), info


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
    sources = sorted(sources, key=lambda s: s.blocks.df)
    lead = sources[0]
    cand, lead_tf, lead_nm = lead.blocks.arrays(np.arange(len(lead.block_end)))
    acc = lead.score_at(lead_tf, lead_nm).astype(np.float64)
    blocks_decoded = len(lead.block_end)
    blocks_skipped = 0
    timed_out = False
    for s in sources[1:]:
        if deadline is not None:
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
        d, tf, nm = s.blocks.arrays(need)
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
        d, tf, nm = s.blocks.arrays(need)
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
