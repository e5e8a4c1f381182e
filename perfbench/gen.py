"""Seeded inputs for the benchmark: a Zipf source-code corpus and the
query streams run against it.

Kept apart from ``lucene_spark.fixtures`` on purpose: a change to the
package must not change what the benchmark feeds it. Everything derives
from one ``numpy.random.default_rng(seed)``; the same seed gives a
byte-identical corpus and query list.

Every token is a lowercase ASCII word joined to the next by a separator
the standard analyzer splits on, so the analyzed token stream of a
document is exactly its generated word-id sequence. That lets the
oracle check be built from the word ids without re-tokenizing.
"""

from __future__ import annotations

import hashlib

import numpy as np

# head of the df distribution: code keywords, as real code has them
KEYWORDS = (
    "return", "int", "if", "else", "for", "while", "def", "class", "import",
    "public", "static", "void", "self", "this", "new", "var", "let", "const",
    "func", "string", "true", "false", "null", "none", "len", "range",
)
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWELS]  # 90 syllables
LANGS = ("python", "java", "go", "js", "c")
_LANG_P = (0.3, 0.25, 0.15, 0.2, 0.1)
# separators the standard analyzer splits on and never joins letters
# across (no '.', ':', '\'', '_', which UAX#29 joins between letters)
_SEPS = np.array([" ", " ", " ", " ", "\n", "(", ") ", " = ", ", ", "; "], dtype=object)

ZIPF_S = 1.0
DOCS_PER_CHUNK = 512  # the benchmark's IndexConfig.docs_per_chunk


class Corpus:
    """Generated corpus: word ids per document plus the text columns."""

    def __init__(
        self,
        seed: int,
        n_docs: int,
        vocab_size: int,
        mean_len: int,
        sentinels: dict[int, str] | None = None,
    ):
        """``sentinels`` maps doc index -> a word outside the vocabulary
        that replaces the doc's first token."""
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.vocab = _vocab(rng, vocab_size)
        v = len(self.vocab)
        w = 1.0 / np.arange(1, v + 1) ** ZIPF_S
        cdf = np.cumsum(w / w.sum())
        lengths = np.clip(rng.lognormal(np.log(mean_len), 0.6, n_docs), 8, 8 * mean_len).astype(np.int64)
        self.offsets = np.concatenate([[0], np.cumsum(lengths)])
        total = int(self.offsets[-1])
        self.ids = np.minimum(np.searchsorted(cdf, rng.random(total)), v - 1).astype(np.int32)
        for doc, word in sorted((sentinels or {}).items()):
            self.ids[self.offsets[doc]] = len(self.vocab)
            self.vocab.append(word)
        seps = _SEPS[rng.integers(0, len(_SEPS), total)]
        seps[self.offsets[1:] - 1] = ""
        pieces = np.asarray(self.vocab, dtype=object)[self.ids] + seps
        off = self.offsets
        self.content = ["".join(pieces[off[i] : off[i + 1]]) for i in range(n_docs)]
        self.lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=_LANG_P)]
        self.doc_ids = np.arange(n_docs, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.content)

    def frame(self, lo: int = 0, hi: int | None = None, with_ids: bool = True):
        """Rows [lo, hi) as the engine's corpus shape. ``repo``/``path``
        sort in generation order, so the writer's key-order id
        assignment gives every doc the same id as the one-shot build."""
        import pandas as pd

        hi = len(self) if hi is None else hi
        ids = self.doc_ids[lo:hi]
        out = pd.DataFrame(
            {
                "repo": [f"org{i // 1000:04d}/proj" for i in ids],
                "path": [f"src/m{i:08d}.{self.lang[i]}" for i in ids],
                "commit": [hashlib.sha1(f"{self.seed}:{i}".encode()).hexdigest() for i in ids],
                "lang": self.lang[lo:hi].tolist(),
                "content": self.content[lo:hi],
            }
        )
        if with_ids:
            out.insert(0, "doc_id", ids)
        return out

    def doc_freqs(self) -> np.ndarray:
        """Document frequency per word id."""
        doc_of = np.repeat(np.arange(len(self)), np.diff(self.offsets))
        pairs = np.unique(doc_of.astype(np.int64) * len(self.vocab) + self.ids)
        return np.bincount(pairs % len(self.vocab), minlength=len(self.vocab))

    def digest(self) -> str:
        h = hashlib.sha256()
        for c in self.content:
            h.update(c.encode())
            h.update(b"\0")
        h.update("|".join(self.lang).encode())
        return h.hexdigest()


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct words: the keywords, then 2-3 syllable words in
    a seeded order (so each seed has its own hot set)."""
    n2, n3 = len(_SYL) ** 2, len(_SYL) ** 3
    need = size - len(KEYWORDS)
    codes = rng.choice(n2 + n3, size=need, replace=False)
    out = list(KEYWORDS)
    syl = np.asarray(_SYL, dtype=object)
    for c in codes:
        c = int(c)
        k, c = (2, c) if c < n2 else (3, c - n2)
        parts = []
        for _ in range(k):
            c, r = divmod(c, len(_SYL))
            parts.append(syl[r])
        out.append("".join(parts))
    kw = set(KEYWORDS)
    return [w for i, w in enumerate(out) if i < len(KEYWORDS) or w not in kw]


# ---- query streams ----------------------------------------------------------


def _q(kind: str, query, oracle=None, name: str | None = None, words=()) -> dict:
    """``query`` goes to the engine (a classic-syntax string or an AST);
    ``oracle`` is the independently built AST the oracle scores, None
    for shapes the oracle cannot score (checked driver vs distributed).
    ``name`` tells apart the queries of one class (``kind``); ``words``
    are the indexed words the query reads (for a bulk warm-up)."""
    return {"kind": kind, "name": name or kind, "query": query, "oracle": oracle, "words": list(words)}


def _and(*ts):
    from lucene_spark.search import ast as A

    return A.BooleanQuery(tuple((A.Occur.MUST, A.TermQuery(t)) for t in ts))


def _or(*ts):
    from lucene_spark.search import ast as A

    return A.BooleanQuery(tuple((A.Occur.SHOULD, A.TermQuery(t)) for t in ts))


# repeat-stream classes, one per query shape the engine has a distinct
# code path for. Each class has the same share of the stream: the shares
# are not a traffic model (no query log of this corpus exists), and the
# benchmark reports a figure per class rather than one median over the
# mix, so a change to any class's path moves a gated figure.
REPEAT_KINDS = ("term", "and", "or", "phrase", "sloppy", "span", "interval", "wildcard", "filter")
# A query's cost depends on where the seed puts its words' high-scoring
# docs (block-max pruning) and co-occurrences, most for the top-k over
# whole posting lists (term, and, or). So each class rotates over several
# word sets, and its figure is the geometric mean of the per-set medians
# (``class_ms``): one seed's draw moves it little.
VARIANTS = {"term": 12, "and": 9, "or": 9}
DEFAULT_VARIANTS = 6
# indexed words each query of a class reads (wildcard: its expansion)
_WORDS = {"term": 1, "and": 2, "or": 3, "phrase": 2, "sloppy": 2, "span": 2, "interval": 2, "wildcard": 0, "filter": 2}
WILDCARD_TERMS, WILDCARD_DF_SHARE = 3, 0.03
N_WARM_FIRST = 12  # first-seen queries run in set-up (the point-read path's JIT warm-up)


def n_variants(kind: str) -> int:
    return VARIANTS.get(kind, DEFAULT_VARIANTS)


def class_ms(samples: dict[str, list[float]]) -> float:
    """A class's figure from its per-word-set latency samples (seconds):
    the geometric mean of the per-set medians, in ms."""
    meds = [np.median(v) for v in samples.values() if v]
    return float(np.exp(np.mean(np.log(meds)))) * 1e3


def streams(
    corpus: Corpus,
    seed: int,
    n_first: int = 400,
    n_repeat: int = 20000,
    n_warm: int = N_WARM_FIRST,
    hot_df: int = DOCS_PER_CHUNK,
    first_df: tuple[int, int] = (20, 400),
) -> dict:
    """The query streams for ``corpus``:

    - ``first``: two-term OR queries over words with df in ``first_df``
      (past the 2000 most frequent), each used once, none touched by
      any other stream; ``warm``: ``n_warm`` more of the same, for set-up;
    - ``repeat``: the queries of the ``REPEAT_KINDS`` classes over hot
      words (df > ``hot_df``, by default the chunked ones), and
      ``order``, ``n_repeat`` indices into them: each class once per
      shuffled block, a class's word sets in turn;
    - ``dist``: a distributed-mode conjunction of two hot words.
    """
    from lucene_spark.search import ast as A
    from lucene_spark.search.intervals import IMaxGaps, ITerm, IUnordered

    rng = np.random.default_rng([seed, 1])
    df = corpus.doc_freqs()
    by_df = np.argsort(-df, kind="stable")
    words = corpus.vocab
    # h: the hot words in df order. Each query takes fixed df-rank slots
    # (the classes in turn, each over its word sets): Zipf df by rank is
    # the same for every seed, so a class costs about the same whichever
    # words fill it
    need = sum(_WORDS[k] * n_variants(k) for k in REPEAT_KINDS) + 2
    h = [words[i] for i in by_df[len(KEYWORDS) : len(KEYWORDS) + need] if df[i] > hot_df]
    if len(h) < need:
        raise ValueError(f"corpus too small: {len(h)} of {need} words with df > {hot_df}")
    slots = iter(h)
    prefixes = _wildcard_prefixes(words, df, by_df, len(corpus), n_variants("wildcard"))
    lang = LANGS[1]

    def make(kind: str, v: int) -> dict:
        ws = [next(slots) for _ in range(_WORDS[kind])]
        name = f"{kind}.{v}"
        a = ws[0] if ws else None
        b = ws[1] if len(ws) > 1 else None
        if kind == "term":
            return _q(kind, a, A.TermQuery(a), name, ws)
        if kind == "and":
            return _q(kind, f"{a} AND {b}", _and(a, b), name, ws)
        if kind == "or":
            return _q(kind, " OR ".join(ws), _or(*ws), name, ws)
        if kind == "phrase":
            return _q(kind, f'"{a} {b}"', A.PhraseQuery((a, b)), name, ws)
        if kind == "sloppy":
            return _q(kind, f'"{a} {b}"~3', None, name, ws)
        if kind == "span":
            return _q(kind, A.SpanNearQuery((a, b), slop=4, in_order=True), None, name, ws)
        if kind == "interval":
            return _q(kind, A.IntervalQuery(IMaxGaps(6, IUnordered((ITerm(a), ITerm(b))))), None, name, ws)
        if kind == "wildcard":
            p = prefixes[v]
            return _q(kind, f"{p}*", A.WildcardQuery(f"{p}*"), name)
        # filter: exclusion plus a keyword-field filter
        oracle = LangFilter(A.BooleanQuery(((A.Occur.MUST, A.TermQuery(a)), (A.Occur.MUST_NOT, A.TermQuery(b)))), lang)
        return _q(kind, f"+{a} -{b} +lang:{lang}", oracle, name, ws)

    kinds = {k: [make(k, v) for v in range(n_variants(k))] for k in REPEAT_KINDS}
    repeat = [q for k in REPEAT_KINDS for q in kinds[k]]
    start = np.cumsum([0] + [len(kinds[k]) for k in REPEAT_KINDS])
    # shuffled blocks holding each class once: any window of a few
    # hundred queries holds every class, and every word set of a class,
    # about equally often
    order = [
        int(start[c] + b % len(kinds[REPEAT_KINDS[c]]))
        for b in range(-(-n_repeat // len(REPEAT_KINDS)))
        for c in rng.permutation(len(REPEAT_KINDS))
    ][:n_repeat]
    # one shape, so the stream's median is not a boundary between two
    a, b = next(slots), next(slots)
    dist = [_q("and", f"{a} AND {b}", _and(a, b), words=(a, b))]
    # first-seen words: a mid-df band, minus anything a repeat wildcard
    # or another stream could touch
    used = set(h) | set(KEYWORDS)
    band = [words[i] for i in by_df[2000:]
            if first_df[0] <= df[i] <= first_df[1] and words[i] not in used and not words[i].startswith(tuple(prefixes))]
    pick = rng.permutation(len(band))[: 2 * (n_warm + n_first)]
    first = []
    for j in range(min(n_warm + n_first, len(pick) // 2)):
        a, b = band[pick[2 * j]], band[pick[2 * j + 1]]
        first.append(_q("first", f"{a} OR {b}", _or(a, b), words=(a, b)))
    return {"warm": first[:n_warm], "first": first[n_warm:], "repeat": repeat, "order": order, "dist": dist}


def _wildcard_prefixes(words, df, by_df, n_docs: int, n: int) -> list[str]:
    """``n`` 4-letter prefixes of mid-df words that each expand to exactly
    WILDCARD_TERMS indexed words with a summed df closest to
    WILDCARD_DF_SHARE * n_docs: a wildcard's cost follows the postings it
    expands to, so this keeps the class's work the same for every seed."""
    by_prefix: dict[str, list[int]] = {}
    for i in np.flatnonzero(df > 0):
        by_prefix.setdefault(words[i][:4], []).append(int(df[i]))
    target = WILDCARD_DF_SHARE * n_docs
    miss: dict[str, float] = {}
    for i in by_df[300:3000]:
        p = words[i][:4]
        dfs = by_prefix.get(p, [])
        if len(p) == 4 and len(dfs) == WILDCARD_TERMS:
            miss[p] = abs(sum(dfs) - target)
    if len(miss) < n:
        raise ValueError("too few wildcard prefixes of the wanted size")
    return sorted(miss, key=lambda p: (miss[p], p))[:n]


class LangFilter:
    """Oracle form of ``query AND lang:<lang>``: the oracle scores
    ``query`` and keeps docs whose generated ``lang`` matches. The
    keyword clause is a MUST of constant score 1, so it adds 1 to the
    double-accumulated sum before the float32 cast."""

    def __init__(self, query, lang: str):
        self.query, self.lang = query, lang
