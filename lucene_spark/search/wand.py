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
3. intervals are taken in descending upper-bound order, a batch at a
   time. Every elementary interval lies inside exactly one block of
   each term, so a batch is scored in one pass: each term's covering
   blocks are decoded once per reader (the reader cache's "block"
   entries) and scored once per query, the docs whose interval is in
   the batch are kept, and their scores are summed in float64 term by
   term, then cast to float32 — the exhaustive kernel's accumulation.
   Each doc lies in exactly one interval, so it is scored exactly once.
   Once the top-k heap is full (and the totalHitsThreshold — default
   1000, IndexSearcher.java:104 — has been crossed), every interval
   whose upper bound is below minCompetitiveScore = kth score
   (TopScoreDocCollector.java:335-355) is pruned: the blocks only it
   needs are never bit-unpacked.

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


@dataclass
class TermBlocks:
    """One term's posting chunks as the reader holds them, in ascending
    doc-range order, plus the global block table over all its chunks:
    built once per reader from the term's chunk rows (reader cache
    "source" entries) and shared by every query on the term."""

    blobs: list  # encoded postings per chunk
    chunk_last: list  # per chunk: exact last doc of each block (incl. tail)
    chunk_df: np.ndarray
    block_end: np.ndarray  # per global block: its last doc
    block_chunk: np.ndarray  # per global block: owning chunk
    block_local: np.ndarray  # per global block: block index inside its chunk
    imp_block: np.ndarray  # per competitive impact: its global block
    imp_freq: np.ndarray
    imp_norm: np.ndarray
    df: int

    @classmethod
    def from_rows(cls, rows) -> "TermBlocks":
        chunk_df = np.array([int(r["df"]) for r in rows], dtype=np.int64)
        n_blocks = (chunk_df + BLOCK_SIZE - 1) // BLOCK_SIZE
        first = np.concatenate([[0], np.cumsum(n_blocks)[:-1]]).astype(np.int64)
        chunk_last = [np.asarray(r["block_last"], dtype=np.int64)[:n] for r, n in zip(rows, n_blocks)]
        block_chunk = np.repeat(np.arange(len(rows), dtype=np.int64), n_blocks)
        imp_chunk = [np.asarray(r["imp_block"], dtype=np.int64) + f for r, f in zip(rows, first)]
        return cls(
            blobs=[r["blob"] for r in rows],
            chunk_last=chunk_last,
            chunk_df=chunk_df,
            block_end=np.concatenate(chunk_last),
            block_chunk=block_chunk,
            block_local=np.arange(len(block_chunk), dtype=np.int64) - first[block_chunk],
            imp_block=np.concatenate(imp_chunk),
            imp_freq=np.concatenate([np.asarray(r["imp_freq"], dtype=np.int64) for r in rows]),
            imp_norm=np.concatenate([np.asarray(r["imp_norm"], dtype=np.int64) for r in rows]),
            df=int(chunk_df.sum()),
        )

    def block_size(self, chunk: int, local: int) -> int:
        df = int(self.chunk_df[chunk])
        n_full = df // BLOCK_SIZE
        return BLOCK_SIZE if local < n_full else df - n_full * BLOCK_SIZE


class PostingSource:
    """One query term over its TermBlocks: per-block score upper bounds
    from the impacts, selective block decode on demand."""

    def __init__(
        self,
        weight,
        cache: np.ndarray,
        blocks: TermBlocks,
        sim=None,
        term: str | None = None,
        reader_cache=None,
    ):
        """``sim`` is the pluggable Similarity (BM25 default); every
        model is monotone in freq and anti-monotone in length, so block
        maxima over the competitive-impact Pareto pairs stay true upper
        bounds. Decoded blocks are shared across queries in
        ``reader_cache`` keyed by ``term``: its chunk rows, and so its
        block numbering, are fixed for the reader's lifetime."""
        self.sim = sim if sim is not None else BM25_SIM
        self.weight = weight
        self.cache = cache
        self.blocks = blocks
        self.block_end = blocks.block_end
        self.block_ub = np.zeros(len(blocks.block_end), dtype=np.float32)
        if len(blocks.imp_block):
            norms = blocks.imp_norm
            if not getattr(self.sim, "length_monotone", True):
                # models whose lengthNorm is NOT non-increasing
                # (SweetSpotSimilarity's plateau): the competitive
                # impacts' Pareto frontier (max freq, min norm) no
                # longer contains the max scorer, so substitute the
                # globally-best norm byte — a true (looser) upper
                # bound that keeps dynamic pruning exact
                best = int(np.argmax(np.asarray(cache, dtype=np.float64)))
                norms = np.full(len(norms), best, dtype=np.int64)
            s = self.sim.score(self.weight, blocks.imp_freq, norms, cache)
            np.maximum.at(self.block_ub, blocks.imp_block, s)
        self.term = term
        self.reader_cache = reader_cache if term is not None else None
        self._scored: dict[int, tuple[np.ndarray, np.ndarray]] = {}  # this query's scored blocks

    def cached_blocks(self, blocks: list[int]) -> list[tuple]:
        """(docs, tfs, norms) of each given ascending global block. The
        blocks are read from the reader cache ("block" entries, keyed
        (term, chunk, block)) in ONE lookup; the missing ones are
        decoded with one decode_blocks call per chunk — decode_blocks
        walks the blob's block headers once per CALL — and put."""
        tb = self.blocks
        owners = zip(tb.block_chunk[blocks].tolist(), tb.block_local[blocks].tolist())
        keys = [(self.term, ci, lb) for ci, lb in owners]
        rc = self.reader_cache
        got = rc.get_many("block", keys) if rc is not None else {}
        need: dict[int, list[int]] = {}
        for key in keys:
            if key not in got:
                need.setdefault(key[1], []).append(key[2])
        for ci, lbs in need.items():  # keys ascend, so each lbs does too
            d, t, nm = decode_blocks(tb.blobs[ci], lbs, tb.chunk_last[ci])
            off = 0
            for lb in lbs:
                size = tb.block_size(ci, lb)
                part = (d[off : off + size], t[off : off + size], nm[off : off + size])
                if rc is not None:
                    rc.put("block", (self.term, ci, lb), part)
                got[(self.term, ci, lb)] = part
                off += size
        return [got[key] for key in keys]

    def scored_blocks(self, block_indices: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(docs, scores) of the given ascending global blocks,
        concatenated. Each block is scored once per query."""
        new = [b for b in block_indices.tolist() if b not in self._scored]
        if new:
            parts = self.cached_blocks(new)
            scores = self.score_at(
                np.concatenate([p[1] for p in parts]), np.concatenate([p[2] for p in parts])
            )
            off = 0
            for b, p in zip(new, parts):
                self._scored[b] = (p[0], scores[off : off + len(p[0])])
                off += len(p[0])
        parts = [self._scored[b] for b in block_indices.tolist()]
        return np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])

    def decoded_blocks_arrays(
        self, block_indices: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, norms) of the given blocks, concatenated in
        ascending doc order, UNSCORED (scoring belongs AFTER the
        intersection, not on every decoded doc). A chunk whose every
        block is asked for is one reader-cache "chunk" entry, decoded
        and assembled whole: the conjunction's dense hot side touches
        most of a 62k-block term, and per-block slicing/caching there
        dominated the walk (measured ~0.8 s/query on the 8M-doc skew
        drill). The blocks of the other chunks come from
        ``cached_blocks``, so a repeat conjunction that skips blocks
        decodes nothing either. ``block_indices`` must be ascending
        (np.unique output)."""
        if not len(block_indices):
            e = np.empty(0, dtype=np.int64)
            return e, e, np.empty(0, dtype=np.int64)
        tb = self.blocks
        need: dict[int, list[int]] = {}
        for b, ci in zip(block_indices.tolist(), tb.block_chunk[block_indices].tolist()):
            need.setdefault(ci, []).append(b)
        n_blocks = (tb.chunk_df + BLOCK_SIZE - 1) // BLOCK_SIZE
        full = {ci for ci, bs in need.items() if len(bs) == n_blocks[ci]}
        rc = self.reader_cache
        cached = rc.get_many("chunk", [(self.term, ci) for ci in full]) if rc is not None else {}
        partial = [b for ci, bs in need.items() if ci not in full for b in bs]
        partial = iter(self.cached_blocks(partial))
        parts = []
        for ci, bs in need.items():  # ascending blocks: ascending chunks
            if ci not in full:
                parts.extend(next(partial) for _ in bs)
                continue
            got = cached.get((self.term, ci))
            if got is None:
                got = decode_blocks(tb.blobs[ci], list(range(len(bs))), tb.chunk_last[ci])
                if rc is not None:
                    rc.put("chunk", (self.term, ci), got)
            parts.append(got)
        return tuple(np.concatenate([p[i] for p in parts]) for i in range(3))

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
    msm terms are discarded. Returns (hits, info); ``hits_seen`` counts
    every hit of the scored intervals, so it is the exact total when no
    interval was pruned."""
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
    if msm > 1:
        # coverage pruning: < msm covering sources → no possible hit
        ub_sum = np.where(n_cover >= msm, ub_sum, -np.inf)
    order = np.argsort(-ub_sum, kind="stable")
    if msm > 1:
        order = order[ub_sum[order] > -np.inf]
    # a doc's score is float32(its float64 sum), so float32(bound) bounds
    # it; the negated bounds ascend along ``order``
    neg_bound = -ub_sum[order].astype(np.float32)
    heap_docs = np.empty(0, dtype=np.int64)
    heap_scores = np.empty(0, dtype=np.float32)
    hits = 0
    pruned_intervals = 0
    min_competitive = None
    in_batch = np.zeros(n_iv, dtype=bool)
    i, n, size = 0, len(order), BATCH
    timed_out = False
    while i < n:
        # QueryTimeout checkpoint (IndexSearcher.setTimeout /
        # TimeLimitingCollector role): between interval batches — every
        # doc already in the heap is fully scored, so the partial
        # result is a correct (possibly incomplete) top-k
        if deadline is not None and time.monotonic() > deadline:
            timed_out = True
            pruned_intervals = n - i
            break
        end = min(n, i + size)
        size *= 2
        if min_competitive is not None and hits >= total_hits_threshold:
            # the competitive intervals are a prefix of the rest; every
            # interval after it is pruned
            cut = i + int(np.searchsorted(neg_bound[i:end], -min_competitive, side="right"))
            if cut < end:
                pruned_intervals = n - cut
                end = n = cut
        if end == i:
            break
        batch = order[i:end]
        i = end
        in_batch[batch] = True
        parts = []
        for s, blk in zip(sources, cover):
            need = np.unique(blk[batch])
            need = need[need >= 0]
            if len(need):
                d, sc = s.scored_blocks(need)
                keep = in_batch[np.searchsorted(all_ends, d)]
                parts.append((d[keep], sc[keep]))
        in_batch[batch] = False
        if len(parts) == 1:  # one source: its float32 scores are the sums
            docs, scores = parts[0]
            counts = np.ones(len(docs), dtype=np.int64)
        else:
            docs = np.unique(np.concatenate([d for d, _ in parts]))
            acc = np.zeros(len(docs), dtype=np.float64)
            counts = np.zeros(len(docs), dtype=np.int64)
            for d, sc in parts:  # source order: the exhaustive accumulation
                idx = np.searchsorted(docs, d)
                acc[idx] += sc.astype(np.float64)
                counts[idx] += 1
            scores = acc.astype(np.float32)
        if msm > 1 and len(docs):
            enough = counts >= msm
            docs, scores = docs[enough], scores[enough]
        if allowed is not None and len(docs):
            # FILTER-clause doc-set mask (sorted): the filtered WAND of
            # Boolean2ScorerSupplier's req(filter)+opt(TOP_SCORES)
            # branch — pruning bounds stay true upper bounds because a
            # filter only removes hits
            idx = np.minimum(np.searchsorted(allowed, docs), max(len(allowed) - 1, 0))
            inset = allowed[idx] == docs if len(allowed) else np.zeros(len(docs), dtype=bool)
            docs, scores = docs[inset], scores[inset]
        if deleted is not None and len(docs):
            # liveDocs mask (scorer.score(collector, liveDocs) role)
            live = ~np.isin(docs, deleted, assume_unique=False)
            docs, scores = docs[live], scores[live]
        if not len(docs):
            continue
        hits += len(docs)
        heap_docs = np.concatenate([heap_docs, docs])
        heap_scores = np.concatenate([heap_scores, scores])
        if len(heap_docs) > 4 * k:
            top = np.lexsort((heap_docs, -heap_scores))[:k]
            heap_docs, heap_scores = heap_docs[top], heap_scores[top]
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
    info = {
        "pruned_intervals": int(pruned_intervals),
        "total_intervals": int(n_iv),
        "decoded_blocks": int(sum(len(s._scored) for s in sources)),
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
    cand, lead_tf, lead_nm = lead.decoded_blocks_arrays(np.arange(len(lead.block_end)))
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
