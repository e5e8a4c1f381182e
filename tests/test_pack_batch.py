"""Batch postings encoder (``lucene_spark.codec.batch``) against the
per-list reference encoders in ``codec_oracle``: byte-identical blobs,
skip data and impacts for every row of a batch, and end-to-end builds
whose postings re-encode to the same bytes and decode back to the
inverted relation."""

from __future__ import annotations

import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st

import codec_oracle as O
from lucene_spark.codec.batch import pack_batch
from lucene_spark.codec.forutil import unpack_postings
from lucene_spark.codec.positions import unpack_offsets, unpack_payloads, unpack_positions

INPUT_TYPES = {
    "term": pa.string(),
    "chunk_id": pa.int64(),
    "docs": pa.list_(pa.int64()),
    "tfs": pa.list_(pa.int64()),
    "norms": pa.list_(pa.int32()),
    "poss": pa.list_(pa.list_(pa.int32())),
    "sts": pa.list_(pa.list_(pa.int32())),
    "ens": pa.list_(pa.list_(pa.int32())),
    "pays": pa.list_(pa.list_(pa.float32())),
}


def _batch(rows: list[dict], streams=("poss",)) -> pa.RecordBatch:
    cols = ["term", "chunk_id", "docs", "tfs", "norms", *streams]
    return pa.RecordBatch.from_pydict(
        {c: pa.array([r[c] for r in rows], INPUT_TYPES[c]) for c in cols}
    )


def _make_row(rng, i: int, n: int, streams) -> dict:
    """One posting list of ``n`` docs in shuffled order: gaps up to
    2**20, tf 1 next to tf >= 128, norms over the whole byte."""
    gaps = rng.choice([1, 1, 2, 7, 300, 2**14, 2**14 + 1, 2**20], n)
    docs = np.cumsum(gaps) - 1
    tfs = rng.choice([1, 1, 1, 2, 3, 127, 128, 200, 40000], n)
    norms = rng.integers(0, 256, n)
    order = rng.permutation(n)
    row = {
        "term": f"t{i}",
        "chunk_id": i,
        "docs": docs[order].tolist(),
        "tfs": tfs[order].tolist(),
        "norms": norms[order].tolist(),
    }
    # occurrence lists per posting: empty ones included (rows with no
    # positions at all when every list is empty)
    occ = [int(x) for x in rng.integers(0, 4, n)] if rng.random() < 0.8 else [0] * n
    pos = [np.sort(rng.choice(2**16, k, replace=False)).tolist() for k in occ]
    if "poss" in streams:
        row["poss"] = pos
    if "sts" in streams:
        row["sts"] = [[3 * p for p in ps] for ps in pos]
        row["ens"] = [[3 * p + int(rng.integers(1, 200)) for p in ps] for ps in pos]
    if "pays" in streams:
        row["pays"] = [
            [None if rng.random() < 0.3 else float(rng.normal()) for _ in ps] for ps in pos
        ]
    return row


def _check_row(out: dict, row: dict, streams) -> None:
    o = np.argsort(row["docs"], kind="stable")
    d, t, nm = (np.asarray(row[c], dtype=np.int64)[o] for c in ("docs", "tfs", "norms"))
    blob, block_last = O.pack_postings(d, t, nm)
    assert out["blob"] == blob
    assert out["block_last"] == block_last.tolist()
    assert (out["df"], out["ttf"]) == (len(d), int(t.sum()))
    ib, if_, in_ = O.competitive_impacts_flat(t, nm)
    assert (out["imp_block"], out["imp_freq"], out["imp_norm"]) == (
        ib.tolist(),
        if_.tolist(),
        in_.tolist(),
    )
    if "poss" in streams:
        assert out["pos_blob"] == O.pack_positions([np.asarray(row["poss"][j]) for j in o])
    else:
        assert out["pos_blob"] is None
    if "sts" in streams:
        assert out["off_blob"] == O.pack_offsets(
            [np.asarray(row["sts"][j]) for j in o], [np.asarray(row["ens"][j]) for j in o]
        )
    if "pays" in streams:
        pays = [
            np.asarray([np.nan if x is None else x for x in row["pays"][j]], dtype=np.float32)
            for j in o
        ]
        assert out["pay_blob"] == O.pack_payloads(pays)


def _check_batch(rows, streams) -> None:
    out = pack_batch(_batch(rows, streams)).to_pylist()
    assert [r["term"] for r in out] == [r["term"] for r in rows]
    for got, row in zip(out, rows):
        _check_row(got, row, streams)


BOUNDARY_NS = [1, 127, 128, 129, 255, 256, 257]
STREAMS = [(), ("poss",), ("poss", "sts", "ens"), ("poss", "pays")]


class TestBatchKernel:
    @seed(20260417)
    @settings(max_examples=25, deadline=None, derandomize=True)
    @given(
        ns=st.lists(st.sampled_from(BOUNDARY_NS + [2, 5, 40, 600]), min_size=1, max_size=5),
        streams=st.sampled_from(STREAMS),
        rng_seed=st.integers(0, 2**32 - 1),
    )
    def test_matches_reference_encoders(self, ns, streams, rng_seed):
        rng = np.random.default_rng(rng_seed)
        _check_batch([_make_row(rng, i, n, streams) for i, n in enumerate(ns)], streams)

    @pytest.mark.parametrize("streams", STREAMS)
    def test_mixed_tail_and_full_block_rows(self, streams):
        rng = np.random.default_rng(len(streams))
        ns = BOUNDARY_NS + [3, 1, 1000, 2]
        _check_batch([_make_row(rng, i, n, streams) for i, n in enumerate(ns)], streams)

    def test_extreme_values_stay_in_layout(self):
        # norm bytes >= 128 are one raw byte in the tail; tf == 1 takes
        # the parity bit, tf >= 128 a two-byte varint; 2**14 gaps are
        # three-byte varints
        row = {
            "term": "x",
            "chunk_id": 0,
            "docs": [0, 2**14, 2**15, 2**28],
            "tfs": [1, 128, 1, 300],
            "norms": [255, 128, 0, 200],
            "poss": [[0], list(range(128)), [5], list(range(300))],
        }
        _check_batch([row], ("poss",))
        out = pack_batch(_batch([row])).to_pylist()[0]
        d, t, nm = unpack_postings(out["blob"])
        assert d.tolist() == row["docs"] and t.tolist() == row["tfs"]
        assert nm.tolist() == row["norms"]

    def test_sliced_batch(self):
        rng = np.random.default_rng(3)
        rows = [_make_row(rng, i, n, ("poss",)) for i, n in enumerate([5, 130, 2, 260])]
        out = pack_batch(_batch(rows).slice(1, 2)).to_pylist()
        for got, row in zip(out, rows[1:3]):
            _check_row(got, row, ("poss",))

    def test_repeated_doc_id_raises(self):
        row = {
            "term": "x",
            "chunk_id": 0,
            "docs": [4, 1, 4],
            "tfs": [1, 1, 2],
            "norms": [1, 1, 1],
            "poss": [[0], [0], [0, 1]],
        }
        with pytest.raises(ValueError, match="strictly increasing"):
            pack_batch(_batch([row]))

    def test_one_list_entry_points_match_reference(self):
        from lucene_spark.codec.forutil import pack_postings
        from lucene_spark.codec.impacts import competitive_impacts_flat
        from lucene_spark.codec.positions import pack_offsets, pack_payloads, pack_positions

        rng = np.random.default_rng(9)
        for n in BOUNDARY_NS + [0]:
            d = np.cumsum(rng.integers(1, 2**15, n)) - 1
            t = rng.choice([1, 2, 128], n)
            nm = rng.integers(0, 256, n)
            assert pack_postings(d, t, nm)[0] == O.pack_postings(d, t, nm)[0]
            for a, b in zip(competitive_impacts_flat(t, nm), O.competitive_impacts_flat(t, nm)):
                assert a.tolist() == b.tolist()
            pl = [np.sort(rng.choice(1000, k, replace=False)) for k in rng.integers(0, 3, n)]
            assert pack_positions(pl) == O.pack_positions(pl)
            assert pack_offsets(pl, [p + 2 for p in pl]) == O.pack_offsets(pl, [p + 2 for p in pl])
            pays = [np.where(rng.random(len(p)) < 0.5, np.nan, p).astype(np.float32) for p in pl]
            assert pack_payloads(pays) == O.pack_payloads(pays)
        with pytest.raises(ValueError):
            pack_postings([3, 3], [1, 1], [0, 0])


# ---- end to end ------------------------------------------------------------


def _payload_rows(n_docs=300, seed_=5):
    rng = random.Random(seed_)
    rows = []
    for d in range(n_docs):
        toks = []
        for _ in range(rng.randint(3, 20)):
            t = rng.choice("abcdefg")
            toks.append(f"{t}|{round(rng.uniform(-1, 5), 2)}" if rng.random() < 0.7 else t)
        rows.append((d, " ".join(toks)))
    return rows


def _decoded_and_check(postings: pd.DataFrame, streams) -> set:
    """Re-encode every row with the reference encoders (must be the
    stored bytes) and return the decoded (term, doc, tf, norm, occ…)
    relation."""
    out = set()
    for r in postings.itertuples(index=False):
        d, t, nm = unpack_postings(bytes(r.blob))
        blob, block_last = O.pack_postings(d, t, nm)
        assert bytes(r.blob) == blob
        assert list(r.block_last) == block_last.tolist()
        ib, if_, in_ = O.competitive_impacts_flat(t, nm)
        assert list(r.imp_block) == ib.tolist() and list(r.imp_freq) == if_.tolist()
        assert list(r.imp_norm) == in_.tolist()
        occ = [[()] * len(d)]
        if "poss" in streams:
            pl = unpack_positions(bytes(r.pos_blob), t)
            assert bytes(r.pos_blob) == O.pack_positions(list(pl))
            occ = [[tuple(p.tolist()) for p in pl]]
        if "sts" in streams:
            ol = unpack_offsets(bytes(r.off_blob), t)
            assert bytes(r.off_blob) == O.pack_offsets([s for s, _ in ol], [e for _, e in ol])
            occ += [[tuple(s.tolist()) for s, _ in ol], [tuple(e.tolist()) for _, e in ol]]
        if "pays" in streams:
            yl = unpack_payloads(bytes(r.pay_blob), t)
            assert bytes(r.pay_blob) == O.pack_payloads(list(yl))
            occ += [[tuple(None if np.isnan(x) else float(x) for x in y) for y in yl]]
        for j in range(len(d)):
            out.add((r.term, int(d[j]), int(t[j]), int(nm[j]), *(o[j] for o in occ)))
    return out


def _inverted_set(inv: pd.DataFrame, streams) -> set:
    def scalar(x):
        if x is None or (isinstance(x, (float, np.floating)) and np.isnan(x)):
            return None
        return float(x) if isinstance(x, (float, np.floating)) else int(x)

    def tup(v):
        return tuple(scalar(x) for x in v) if v is not None else ()

    return {
        (r["term"], int(r["doc_id"]), int(r["tf"]), int(r["norm"]))
        + (tuple(tup(r[c]) for c in streams) if streams else ((),))
        for _, r in inv.iterrows()
    }


# docs_per_chunk above the corpus size: the frequent terms keep one
# row each, long enough for full FOR blocks
BUILDS = {
    "positions": (dict(docs_per_chunk=1024), ("poss",)),
    "offsets": (dict(docs_per_chunk=1024, offsets=True), ("poss", "sts", "ens")),
    "payloads": (
        dict(docs_per_chunk=1024, analyzer="whitespace", delimited_payloads="|"),
        ("poss", "pays"),
    ),
}


@pytest.fixture(scope="module")
def docs(corpus_pdf):
    return corpus_pdf.drop(columns="content_sha256").assign(doc_id=range(len(corpus_pdf)))


class TestBuildIdentity:
    @pytest.mark.parametrize("name", list(BUILDS))
    def test_oneshot_rows_match_reference_and_inversion(self, spark, tmp_path, docs, name):
        from lucene_spark.index.builder import IndexBuilder, IndexConfig

        kw, streams = BUILDS[name]
        cfg = IndexConfig(term_buckets=2, **kw)
        if name == "payloads":
            df = spark.createDataFrame(_payload_rows(), "doc_id long, content string")
        else:
            df = spark.createDataFrame(docs)
        d = str(tmp_path / name)
        b = IndexBuilder(spark, cfg)
        b.build(df, d, assign_ids=False)
        postings = spark.read.parquet(f"{d}/postings").toPandas()
        assert (postings["df"] >= 128).any()  # full FOR blocks exercised
        inv = b.inverted(b.tokenized(df)).toPandas()
        assert _decoded_and_check(postings, streams) == _inverted_set(inv, streams)

    def test_writer_tiered_then_full_commit(self, spark, tmp_path, docs, monkeypatch):
        import lucene_spark.index.builder as builder
        from lucene_spark.index.builder import IndexBuilder, IndexConfig
        from lucene_spark.index.writer import IndexWriter

        cfg = IndexConfig(docs_per_chunk=1024, term_buckets=2)
        d = str(tmp_path / "w")
        w = IndexWriter(spark, d, cfg)
        src = docs.drop(columns="doc_id")
        w.add_documents(spark.createDataFrame(src.iloc[:120]))
        w.commit()
        tiered = spark.read.parquet(f"{d}/postings").toPandas()
        inv = spark.read.parquet(f"{d}/segments/*/inverted").toPandas()
        assert _decoded_and_check(tiered, ("poss",)) == _inverted_set(inv, ("poss",))

        w.add_documents(spark.createDataFrame(src.iloc[120:]))
        calls = []
        real = builder.write_collection_stats_from_tables

        def counting(*a, **k):
            calls.append(1)
            return real(*a, **k)

        monkeypatch.setattr(builder, "write_collection_stats_from_tables", counting)
        w.commit(full=True)
        assert len(calls) == 1  # the merge's write; commit does not redo it
        full = spark.read.parquet(f"{d}/postings").toPandas()
        inv = spark.read.parquet(f"{d}/segments/*/inverted").toPandas()
        assert (full["df"] >= 128).any()
        assert _decoded_and_check(full, ("poss",)) == _inverted_set(inv, ("poss",))

        one = str(tmp_path / "one")
        IndexBuilder(spark, cfg).build(spark.createDataFrame(src), one)
        cols = ["field", "doc_count", "sum_ttf", "sum_df"]
        got = spark.read.parquet(f"{d}/collection_stats").toPandas()[cols]
        want = spark.read.parquet(f"{one}/collection_stats").toPandas()[cols]
        assert got.sort_values("field").values.tolist() == want.sort_values("field").values.tolist()
        shutil.rmtree(one, ignore_errors=True)
