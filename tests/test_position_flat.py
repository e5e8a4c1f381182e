"""The flat-buffer carrier must survive decode assembly.

Round-4 regression (BENCH_r04 positional family 2-8x vs r03, A/B
bisected to e39c712): SearchIndex.postings_from_rows assembled per-doc
position views into a PLAIN list, so the positional kernels' _flat_of
lost the zero-copy fast path and re-concatenated ~n_docs arrays on
EVERY query. These tests pin the contract end-to-end: whatever decode
hands the driver-mode ChunkContext must be a PositionLists whose views
are np.split views of its own ``flat`` buffer, including the multi-row
(per-chunk / tiered) and reorder assembly branches.
"""

import numpy as np
import pytest


def _top_terms(idx, n):
    from pyspark.sql import functions as F

    return idx.term_stats_df.orderBy(F.desc("df"), "term").limit(n).collect()


def _assert_zero_copy(pl, tfs=None):
    from lucene_spark.codec.positions import PositionLists

    assert isinstance(pl, PositionLists)
    total = sum(len(v) for v in pl)
    assert len(pl.flat) == total
    off = 0
    base_ptr = pl.flat.__array_interface__["data"][0]
    for v in pl:
        assert isinstance(v, np.ndarray)
        if len(v):
            assert v.base is pl.flat
            assert v.__array_interface__["data"][0] == base_ptr + 8 * off
        off += len(v)
    if tfs is not None:
        assert [len(v) for v in pl] == [int(t) for t in tfs]


class TestPositionFlatCarrier:
    def test_repack_and_concat_helpers(self):
        from lucene_spark.codec.positions import (
            PositionLists,
            concat_position_lists,
            pack_positions,
            repack_position_lists,
            unpack_positions,
        )

        rng = np.random.default_rng(5)
        docs = [np.sort(rng.integers(0, 50, size=rng.integers(1, 6))) for _ in range(40)]
        tfs = np.array([len(d) for d in docs])
        pl = unpack_positions(pack_positions(docs), tfs)
        _assert_zero_copy(pl, tfs)

        # repack from arbitrary views (the reorder branch)
        order = rng.permutation(len(docs))
        re = repack_position_lists(pl[i] for i in order)
        _assert_zero_copy(re)
        assert [v.tolist() for v in re] == [pl[i].tolist() for i in order]

        # concat across segments (the multi-row branch): views must be
        # re-split from the MERGED flat, not the parts' own buffers
        a = unpack_positions(pack_positions(docs[:15]), tfs[:15])
        b = unpack_positions(pack_positions(docs[15:]), tfs[15:])
        cc = concat_position_lists([a, b])
        _assert_zero_copy(cc, tfs)
        assert [v.tolist() for v in cc] == [d.tolist() for d in docs]
        # mixed plain-list part
        cc2 = concat_position_lists([a, list(b)])
        _assert_zero_copy(cc2, tfs)
        assert concat_position_lists([a]) is a
        empty = concat_position_lists([PositionLists([], np.empty(0, dtype=np.int64))])
        assert len(empty) == 0 and len(empty.flat) == 0

    def test_driver_decode_carries_flat(self, spark, index_dir):
        """collect_postings (multi-chunk terms included, 128-doc chunks
        over 200 docs force >=2 rows for common terms) must return
        PositionLists throughout, and the kernels must take the
        zero-copy branch on them."""
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.kernels import ChunkContext, _flat_of

        idx = SearchIndex(spark, index_dir)
        terms = [r["term"] for r in _top_terms(idx, 3)]
        pls = idx.collect_postings(terms, with_positions=True)
        assert pls, "fixture terms missing"
        for t, p in pls.items():
            if p.positions is not None and len(p.positions):
                _assert_zero_copy(p.positions, p.tfs)
                ctx = ChunkContext(
                    {t: (p.docs, p.tfs, p.norms)},
                    np.ones(1, dtype=np.float64),
                    None,
                    {t: p.positions},
                )
                flat, offs = _flat_of(ctx, t)
                assert flat is p.positions.flat, "kernel took the copy path"

    def test_driver_context_passes_decodes_through(self, spark, index_dir):
        """The driver's leaf context hands each term's cached decode to
        the kernels as is: no copy of docs, tfs, norms or positions."""
        from lucene_spark.index.reader import SearchIndex
        from lucene_spark.search.engine import Searcher

        idx = SearchIndex(spark, index_dir)
        s = Searcher(idx)
        _q, spec, stats, rows = s.prepare('"return if"', collect_rows=True)
        ctx = s._driver_context(spec, s._norm_caches(stats), rows)
        pls = idx.postings_from_rows(rows, with_positions=True)
        assert set(pls) == {"return", "if"}
        for t, p in pls.items():
            assert all(a is b for a, b in zip(ctx.arrays[t], (p.docs, p.tfs, p.norms)))
            assert ctx.positions[t] is p.positions

    def test_multirow_term_really_spans_chunks(self, spark, index_dir):
        """Guard the guard: the fixture must actually exercise the
        multi-row concat branch or the test above proves nothing."""
        from lucene_spark.index.reader import SearchIndex

        idx = SearchIndex(spark, index_dir)
        rows = idx.collect_rows([r["term"] for r in _top_terms(idx, 3)])
        assert any(len(rs) > 1 for rs in rows.values())
