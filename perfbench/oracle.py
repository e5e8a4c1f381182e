"""Expected hits from ``lucene_spark.testing.oracle.OracleIndex``.

The oracle is built over only the terms the checked queries touch (their
terms plus every vocabulary word a wildcard expands to), so a 10k-doc
corpus costs well under a second instead of a full re-tokenization.
Document lengths, norms and collection statistics are set from the full
generated token streams, so BM25 scores are those of the whole corpus.
"""

from __future__ import annotations

import re

import numpy as np

from lucene_spark.codec.smallfloat import int_to_byte4
from lucene_spark.search import ast as A
from lucene_spark.search.similarity import BM25Stats
from lucene_spark.testing.oracle import OracleIndex

from gen import LangFilter


class CorpusOracle(OracleIndex):
    """OracleIndex over the postings of ``words`` in the docs of ``corpora``
    (generated corpora with consecutive doc ids), with full-length norms."""

    def __init__(self, corpora, words: set[str]):
        toks: dict[int, list[str]] = {}
        poss: dict[int, list[int]] = {}
        dl: dict[int, int] = {}
        for c in corpora:
            keep = np.zeros(len(c.vocab), dtype=bool)
            keep[[i for i, w in enumerate(c.vocab) if w in words]] = True
            lengths = np.diff(c.offsets)
            mask = keep[c.ids]
            pos = np.arange(len(c.ids)) - np.repeat(c.offsets[:-1], lengths)
            doc = np.repeat(np.arange(len(c)), lengths)
            vocab = np.asarray(c.vocab, dtype=object)
            kd, kw, kp = doc[mask], vocab[c.ids[mask]], pos[mask]
            bounds = np.searchsorted(kd, np.arange(len(c) + 1))
            for i in range(len(c)):
                d = int(c.doc_ids[i])
                dl[d] = int(lengths[i])
                lo, hi = bounds[i], bounds[i + 1]
                toks[d] = kw[lo:hi].tolist()
                poss[d] = kp[lo:hi].tolist()
        super().__init__(toks, poss)
        self.dl = dl
        self.norm = {d: int_to_byte4(n) for d, n in dl.items()}
        self.stats = BM25Stats(doc_count=len(dl), sum_total_term_freq=sum(dl.values()))
        self.cache = self.stats.cache()
        self.all_docs = sorted(dl)


def oracle_words(queries, vocab) -> set[str]:
    """Every word the oracle needs for ``queries`` (dicts with ``oracle``)."""
    words: set[str] = set()
    for q in queries:
        words |= _terms(q["oracle"], vocab)
    return words


def _terms(q, vocab) -> set[str]:
    if isinstance(q, A.WildcardQuery):
        rx = re.compile(q.pattern.replace("*", ".*").replace("?", "."))
        return {w for w in vocab if rx.fullmatch(w)}
    if isinstance(q, LangFilter):
        return _terms(q.query, vocab)
    return set(A.extract_terms(q))


def expected(oracle: CorpusOracle, q, k: int, langs: dict[int, str]) -> list[tuple[int, float]]:
    if isinstance(q, LangFilter):
        scored = oracle.score(A.rewrite(q.query))
        ranked = sorted(
            ((d, np.float32(float(s) + 1.0)) for d, s in scored.items() if langs[d] == q.lang),
            key=lambda kv: (-kv[1], kv[0]),
        )[:k]
        return [(d, float(s)) for d, s in ranked]
    return oracle.top_k(q, k)


def expected_hits(corpora, queries, k: int) -> list[list[tuple[int, float]]]:
    """Expected top-k per query (dicts with ``oracle``)."""
    vocab = corpora[0].vocab
    oracle = CorpusOracle(corpora, oracle_words(queries, vocab))
    langs = {int(d): l for c in corpora for d, l in zip(c.doc_ids, c.lang)}
    return [expected(oracle, q["oracle"], k, langs) for q in queries]


def same_hits(got, want) -> bool:
    """Doc ids equal in rank order and float32 scores bit-identical."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if int(gd) != int(wd) or np.float32(gs) != np.float32(ws):
            return False
    return True
