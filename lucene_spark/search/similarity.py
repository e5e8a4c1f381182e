"""BM25 scoring with Lucene's exact float32 expression shapes.

Reference: lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java
- idf:    (float) Math.log(1 + (docCount - docFreq + 0.5)/(docFreq + 0.5))   (:104-106)
- avgdl:  (float) (sumTotalTermFreq / (double) docCount)                      (:109-111)
- cache:  cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))      (:205-208)
- score:  weight - weight / (1f + freq * normInverse), all float32            (:250-251)
- weight: boost * idf (float32 multiply)                                      (:236-238)

Monotonicity (and therefore rank identity) depends on doing these in
float32 with exactly these shapes — NOT in algebraically-equivalent
float64 forms — so every op below is np.float32.

Collection statistics are GLOBAL across segments
(IndexSearcher.collectionStatistics sums all leaves, IndexSearcher.java:947-962).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lucene_spark.codec.smallfloat import NORM_LENGTH_TABLE

K1 = np.float32(1.2)  # BM25Similarity.java:99-101 defaults
B = np.float32(0.75)

# float32 view of BM25Similarity's LENGTH_TABLE (int lengths as floats)
_LENGTH_TABLE_F32 = NORM_LENGTH_TABLE.astype(np.float32)


def idf(doc_freq: int, doc_count: int) -> np.float32:
    """float64 log, cast to float32 (BM25Similarity.java:104-106)."""
    return np.float32(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def avg_field_length(sum_total_term_freq: int, doc_count: int) -> np.float32:
    return np.float32(sum_total_term_freq / float(doc_count))


def norm_inverse_cache(avgdl: np.float32, k1: np.float32 = K1, b: np.float32 = B) -> np.ndarray:
    """256-entry float32 cache: 1 / (k1 * ((1-b) + b * len/avgdl))."""
    one = np.float32(1.0)
    return (one / (k1 * ((one - b) + b * _LENGTH_TABLE_F32 / np.float32(avgdl)))).astype(np.float32)


def score_freqs(weight: np.float32, freqs: np.ndarray, norm_bytes: np.ndarray, cache: np.ndarray) -> np.ndarray:
    """Vectorized BM25Scorer.score(freq, norm) (BM25Similarity.java:250-251)."""
    norm_inverse = cache[np.asarray(norm_bytes, dtype=np.int64)]
    f = np.asarray(freqs, dtype=np.float32)
    w = np.float32(weight)
    return (w - w / (np.float32(1.0) + f * norm_inverse)).astype(np.float32)


@dataclass(frozen=True)
class BM25Stats:
    """Global collection stats captured at weight-creation time
    (IndexSearcher.java:947-962; TermQuery.createWeight)."""

    doc_count: int
    sum_total_term_freq: int

    @property
    def avgdl(self) -> np.float32:
        return avg_field_length(self.sum_total_term_freq, self.doc_count)

    def cache(self) -> np.ndarray:
        return norm_inverse_cache(self.avgdl)

    def term_weight(self, doc_freq: int, boost: float = 1.0) -> np.float32:
        return np.float32(np.float32(boost) * idf(doc_freq, self.doc_count))

    def synonym_weight(self, doc_freqs: list[int], boost: float = 1.0) -> np.float32:
        """SynonymQuery: idfs summed in double then cast
        (BM25Similarity.java:185-194, SynonymQuery.java:196-212)."""
        total = float(np.sum([float(idf(df, self.doc_count)) for df in doc_freqs]))
        return np.float32(np.float32(boost) * np.float32(total))


# ---- pluggable Similarity strategies ----------------------------------------
#
# The reference keeps scoring pluggable (Similarity.java; 45 models under
# lucene/core/src/java/org/apache/lucene/search/similarities/). The engine
# mirrors the plug: a Similarity object owns (a) the per-term weight folding
# done at Weight-creation time, (b) the 256-entry norm-byte table shipped to
# kernels, and (c) the vectorized score(freq, norm) kernel. BM25 stays the
# default and its numerics are byte-identical to the module-level functions
# above. All models are monotone non-decreasing in freq and non-increasing
# in length, so the block-max WAND/conjunction pruning bounds computed from
# competitive impacts remain true upper bounds for every model.


class Similarity:
    """SimScorer factory (Similarity.java:143 scorer()). ``weight`` is
    whatever ``term_weight``/``multi_weight`` returned — a plain float
    for single-scalar models, a tuple of per-term params for
    SimilarityBase's MultiSimScorer composition."""

    name = "?"
    needs_ttf = False  # does term_weight require totalTermFreq?
    # False when lengthNorm is not non-increasing in doc length
    # (SweetSpot plateau): block-max bounds then use the globally-best
    # norm byte instead of the impacts' norms (wand.PostingSource)
    length_monotone = True

    def table(self, stats: BM25Stats) -> np.ndarray:
        raise NotImplementedError

    def term_weight(self, stats: BM25Stats, df: int, ttf: int, boost: float):
        raise NotImplementedError

    def synonym_weight(self, stats: BM25Stats, dfs: list[int], ttfs: list[int], boost: float):
        """SynonymQuery merges term statistics into ONE TermStatistics
        (docFreq = max, totalTermFreq = sum; SynonymQuery.java:156-170)."""
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats: BM25Stats, dfs: list[int], ttfs: list[int], boost: float):
        """PhraseWeight-style scorer over a term-stats ARRAY
        (Similarity.scorer(boost, collectionStats, termStats...))."""
        raise NotImplementedError

    def score(self, weight, freqs, norm_bytes, table: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def for_field(self, field: str) -> "Similarity":
        """PerFieldSimilarityWrapper.get(field) hook
        (PerFieldSimilarityWrapper.java:40-48: the scorer is built by
        the similarity of ``collectionStats.field()``). Every concrete
        model is field-independent, so the base returns self."""
        return self


class BM25Sim(Similarity):
    """BM25Similarity.java — the default; delegates to the exact-float32
    helpers above so numerics are unchanged from the non-pluggable path."""

    name = "bm25"

    def table(self, stats: BM25Stats) -> np.ndarray:
        return stats.cache()

    def term_weight(self, stats: BM25Stats, df: int, ttf: int, boost: float):
        return float(stats.term_weight(df, boost))

    def synonym_weight(self, stats, dfs, ttfs, boost):
        # engine's SynonymSpec semantics: merged df = max (see kernels)
        return float(np.float32(np.float32(boost) * idf(max(dfs), stats.doc_count)))

    def multi_weight(self, stats, dfs, ttfs, boost):
        total = float(np.sum([float(idf(df, stats.doc_count)) for df in dfs]))
        return float(np.float32(np.float32(boost) * np.float32(total)))

    def score(self, weight, freqs, norm_bytes, table):
        return score_freqs(np.float32(weight), freqs, norm_bytes, table)


class ClassicSim(Similarity):
    """ClassicSimilarity.java (TF-IDF): tf = sqrt(freq), idf =
    ln((docCount+1)/(docFreq+1)) + 1, lengthNorm = 1/sqrt(len).
    TFIDFSimilarity.java:489-510: queryWeight = boost * idf (f32);
    score = (tf(freq) * queryWeight) * normTable[normByte], all f32;
    normTable[0] = 1/normTable[255] (:475-481)."""

    name = "classic"

    @staticmethod
    def idf(df: int, doc_count: int) -> np.float32:
        return np.float32(np.log((doc_count + 1) / float(df + 1)) + 1.0)

    def table(self, stats: BM25Stats) -> np.ndarray:
        t = np.zeros(256, dtype=np.float32)
        lens = NORM_LENGTH_TABLE[1:].astype(np.float64)
        t[1:] = (1.0 / np.sqrt(lens)).astype(np.float32)
        t[0] = np.float32(1.0) / t[255]
        return t

    def term_weight(self, stats, df, ttf, boost):
        return float(np.float32(np.float32(boost) * self.idf(df, stats.doc_count)))

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        # TFIDFSimilarity.idfExplain(termStats[]): sum of per-term idfs
        # (double accumulate, float cast), then queryWeight = boost*idf
        total = float(np.sum([float(self.idf(df, stats.doc_count)) for df in dfs]))
        return float(np.float32(np.float32(boost) * np.float32(total)))

    def score(self, weight, freqs, norm_bytes, table):
        tf = np.sqrt(np.asarray(freqs, dtype=np.float64)).astype(np.float32)
        raw = tf * np.float32(weight)
        return (raw * table[np.asarray(norm_bytes, dtype=np.int64)]).astype(np.float32)


class SweetSpotSim(ClassicSim):
    """SweetSpotSimilarity (lucene/misc/src/java/org/apache/lucene/
    misc/SweetSpotSimilarity.java:30-175) — TF-IDF with a "sweet spot"
    plateau: documents whose length sits in [ln_min, ln_max] get the
    full lengthNorm 1.0 and it decays with steepness outside; tf is
    the baseline function (flat ``tf_base`` up to ``tf_min``, then a
    shifted sqrt), or the hyperbolic-tangent variant with a hard max.

    - lengthNorm(:106-116): 1/sqrt(steep*(|L-min| + |L-max| - (max-min)) + 1)
    - baselineTf(:137-142): 0 -> 0; freq <= tf_min -> tf_base; else
      sqrt(freq + tf_base^2 - tf_min)
    - hyperbolicTf(:155-175): min + (max-min)/2 * (tanh-like in
      base^(x-xoffset)), NaN -> max

    Defaults mirror the reference (ln_min=ln_max=1, steep=0.5 — which
    degrades to ClassicSimilarity's 1/sqrt(L); tf_base=tf_min=0 —
    which degrades to sqrt(freq)). idf and weight composition are
    inherited from ClassicSimilarity (SweetSpotSimilarity extends it)."""

    name = "sweetspot"

    def __init__(
        self,
        ln_min: int = 1,
        ln_max: int = 1,
        ln_steep: float = 0.5,
        tf_base: float = 0.0,
        tf_min: float = 0.0,
        tf_mode: str = "baseline",
        hyper_min: float = 0.0,
        hyper_max: float = 2.0,
        hyper_base: float = 1.3,
        hyper_xoffset: float = 10.0,
    ):
        if tf_mode not in ("baseline", "hyperbolic"):
            raise ValueError("tf_mode must be 'baseline' or 'hyperbolic'")
        self.ln_min, self.ln_max, self.ln_steep = int(ln_min), int(ln_max), float(ln_steep)
        self.tf_base, self.tf_min = float(tf_base), float(tf_min)
        self.tf_mode = tf_mode
        self.hyper = (float(hyper_min), float(hyper_max), float(hyper_base), float(hyper_xoffset))
        # lengthNorm increases on [1, ln_min): impacts bounds need the
        # conservative norm substitution (see Similarity.length_monotone)
        self.length_monotone = self.ln_min <= 1

    def table(self, stats: BM25Stats) -> np.ndarray:
        lens = NORM_LENGTH_TABLE.astype(np.float64)
        t = (
            1.0
            / np.sqrt(
                self.ln_steep * (np.abs(lens - self.ln_min) + np.abs(lens - self.ln_max) - (self.ln_max - self.ln_min))
                + 1.0
            )
        ).astype(np.float32)
        t[0] = np.float32(1.0) / t[255]  # TFIDFSimilarity normTable[0] convention
        return t

    def _tf(self, freqs: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        if self.tf_mode == "baseline":
            out = np.where(
                f <= self.tf_min,
                self.tf_base,
                np.sqrt(f + self.tf_base * self.tf_base - self.tf_min),
            )
        else:
            mn, mx, base, xoff = self.hyper
            x = f - xoff
            p, q = np.power(base, x), np.power(base, -x)
            out = mn + (mx - mn) / 2.0 * ((p - q) / (p + q) + 1.0)
            out = np.where(np.isnan(out), mx, out)
        return np.where(f == 0.0, 0.0, out).astype(np.float32)

    def score(self, weight, freqs, norm_bytes, table):
        raw = self._tf(freqs) * np.float32(weight)
        return (raw * table[np.asarray(norm_bytes, dtype=np.int64)]).astype(np.float32)


class BooleanSim(Similarity):
    """BooleanSimilarity.java:58-60 — score == query boost; norms and
    freqs are ignored entirely."""

    name = "boolean"

    def table(self, stats):
        return np.zeros(256, dtype=np.float32)

    def term_weight(self, stats, df, ttf, boost):
        return float(np.float32(boost))

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return float(np.float32(boost))

    def multi_weight(self, stats, dfs, ttfs, boost):
        return float(np.float32(boost))

    def score(self, weight, freqs, norm_bytes, table):
        return np.full(len(np.asarray(freqs)), np.float32(weight), dtype=np.float32)


class LMDirichletSim(Similarity):
    """LMDirichletSimilarity.java:70-75 — score = boost * (ln(1 +
    freq/(mu*p)) + ln(mu/(docLen+mu))), clamped at 0, cast f32; p =
    (totalTermFreq+1)/(numberOfFieldTokens+1) (LMSimilarity.java:145-147,
    DefaultCollectionModel). docLen is the DECODED norm length
    (SimilarityBase.java:211-225 BasicSimScorer). Multi-term weights
    compose as MultiSimilarity.MultiSimScorer — a float32 sum of the
    per-term clamped scores (SimilarityBase.scorer for termStats.length
    > 1). ``weight`` is a tuple of (boost, collectionProbability)."""

    name = "lmdirichlet"
    needs_ttf = True

    def __init__(self, mu: float = 2000.0):
        self.mu = float(mu)

    def table(self, stats):
        lens = NORM_LENGTH_TABLE.astype(np.float64)
        return np.log(self.mu / (lens + self.mu))

    def term_weight(self, stats, df, ttf, boost):
        p = (ttf + 1.0) / (stats.sum_total_term_freq + 1.0)
        return ((float(boost), p),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        tl = table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, p in weight:
            s = boost * (np.log1p(f / (self.mu * p)) + tl)
            out = out + np.maximum(s, 0.0).astype(np.float32)  # f32 accumulate
        return out.astype(np.float32)


class DFRSim(Similarity):
    """DFRSimilarity with BasicModelIn + AfterEffectL + NormalizationH2
    — the I(n)L2 divergence-from-randomness configuration
    (DFRSimilarity.java:30-35 score = boost * basicModel.score(stats,
    tfn, aeTimes1pTfn); BasicModelIn.java:34-45 A = log2((N+1)/(n+0.5)),
    score = A * ae1pTfn * (1 - 1/(1+tfn)); AfterEffectL.java:33
    scoreTimes1pTfn = 1; NormalizationH2.java:57-58 tfn = tf * log2(1 +
    c * avgdl / dl), c = 1 default). docLen is the decoded norm length
    (SimilarityBase.BasicSimScorer:211-225); multi-term weights compose
    as MultiSimScorer float32 sums. ``weight`` = tuple of (boost, A)."""

    name = "dfr"

    def __init__(self, c: float = 1.0):
        self.c = float(c)

    def table(self, stats):
        # per-norm-byte tfn factor log2(1 + c * avgdl / len); len 0
        # (empty docs) can never match a term — keep a finite sentinel
        lens = NORM_LENGTH_TABLE.astype(np.float64)
        lens = np.maximum(lens, 1.0)
        return np.log2(1.0 + self.c * float(stats.avgdl) / lens)

    @staticmethod
    def _a(df: int, doc_count: int) -> float:
        return float(np.log2((doc_count + 1) / (df + 0.5)))

    def term_weight(self, stats, df, ttf, boost):
        return ((float(boost), self._a(df, stats.doc_count)),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, 0, boost)[0] for df in dfs)

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, a in weight:
            s = boost * a * (1.0 - 1.0 / (1.0 + tfn))
            out = out + s.astype(np.float32)  # f32 accumulate (MultiSimScorer)
        return out.astype(np.float32)


class LMJelinekMercerSim(Similarity):
    """LMJelinekMercerSimilarity.java:63-69 — score = boost * ln(1 +
    ((1-lambda) * freq / docLen) / (lambda * p)); p = (totalTermFreq+1)
    / (numberOfFieldTokens+1) (LMSimilarity.java:145-147
    DefaultCollectionModel). docLen is the DECODED norm length
    (SimilarityBase.java:215-225 BasicSimScorer); the score is always
    >= 0 (log1p of a non-negative ratio), so no clamp arises.
    Multi-term weights compose as MultiSimilarity.MultiSimScorer float32
    sums. lambda defaults to 0.1 (the reference javadoc's title-query
    optimum). ``weight`` is a tuple of (boost, collectionProbability)."""

    name = "lmjelinekmercer"
    needs_ttf = True

    def __init__(self, lam: float = 0.1):
        if not (0.0 < lam <= 1.0):
            raise ValueError("lambda must be in the range (0 .. 1]")
        self.lam = float(lam)

    def table(self, stats):
        # per-norm-byte decoded lengths (docLen); len 0 can't match
        return np.maximum(NORM_LENGTH_TABLE.astype(np.float64), 1.0)

    def term_weight(self, stats, df, ttf, boost):
        p = (ttf + 1.0) / (stats.sum_total_term_freq + 1.0)
        return ((float(boost), p),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        dl = table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, p in weight:
            s = boost * np.log1p(((1.0 - self.lam) * f / dl) / (self.lam * p))
            out = out + s.astype(np.float32)  # f32 accumulate (MultiSimScorer)
        return out.astype(np.float32)


class DFISim(Similarity):
    """DFISimilarity.java:57-70 — divergence from independence:
    expected = (totalTermFreq+1) * docLen / (numberOfFieldTokens+1);
    freq <= expected scores 0; else score = boost * log2(measure + 1)
    with the Standardized independence measure (freq - expected) /
    sqrt(expected) (IndependenceStandardized.java:32-34 — the chi^2
    standardized distance). docLen is the decoded norm length
    (SimilarityBase.java:215-225); multi-term weights compose as
    MultiSimScorer float32 sums. ``weight`` = tuple of (boost, ttf);
    the table folds docLen / (numberOfFieldTokens+1), so
    expected = (ttf+1) * table[norm]."""

    name = "dfi"
    needs_ttf = True

    def table(self, stats):
        dl = np.maximum(NORM_LENGTH_TABLE.astype(np.float64), 1.0)
        return dl / (stats.sum_total_term_freq + 1.0)

    def term_weight(self, stats, df, ttf, boost):
        return ((float(boost), float(ttf)),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        t = table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, ttf in weight:
            expected = (ttf + 1.0) * t
            s = np.zeros_like(f)
            hit = f > expected
            if hit.any():
                measure = (f[hit] - expected[hit]) / np.sqrt(expected[hit])
                s[hit] = boost * np.log2(measure + 1.0)
            out = out + s.astype(np.float32)  # f32 accumulate
        return out.astype(np.float32)


class IBSim(Similarity):
    """IBSimilarity.java:93-96 — information-based model: score = boost
    * distribution.score(stats, tfn, lambda). Components:

    - tfn: NormalizationH2.java:57-58 — tf * log2(1 + c*avgdl/dl), c=1
      (the same normalization DFR I(n)L2 uses); avgdl is the DOUBLE
      sumTotalTermFreq/docCount (SimilarityBase.fillBasicStats:108-110).
    - lambda: LambdaDF.java:32-38 f32((df+1)/(N+1)) or
      LambdaTTF.java:31-39 f32((ttf+1)/(N+1)), each nudged off exactly
      1.0 (nextDown/nextUp) because SPL cannot take lambda == 1.
    - distribution: DistributionLL.java:33-35 -ln(lambda/(tfn+lambda)),
      or DistributionSPL.java:34-58 -ln((lambda^q - lambda)/(1-lambda))
      with q = 1 - 1/(tfn+1), q and lambda^q nudged off their
      singular values exactly as the reference does.

    The reference ships no default configuration (all three components
    are constructor-required); the engine's named default "ib" is
    SPL-D(f)-H2. Both distributions are monotone non-decreasing in tfn
    and tfn is non-increasing in length, so impacts-derived block-max
    bounds stay true upper bounds. Multi-term weights compose as
    MultiSimScorer float32 sums (SimilarityBase.scorer:76-89).
    ``weight`` = tuple of (boost, lambda)."""

    name = "ib"

    def __init__(self, distribution: str = "spl", lam: str = "df", c: float = 1.0):
        if distribution not in ("ll", "spl"):
            raise ValueError("distribution must be 'll' or 'spl'")
        if lam not in ("df", "ttf"):
            raise ValueError("lam must be 'df' or 'ttf'")
        self.distribution = distribution
        self.lam = lam
        self.c = float(c)
        self.needs_ttf = lam == "ttf"

    def table(self, stats):
        avg = stats.sum_total_term_freq / float(stats.doc_count)
        lens = np.maximum(NORM_LENGTH_TABLE.astype(np.float64), 1.0)
        return np.log2(1.0 + self.c * avg / lens)

    def _lambda(self, stats, df, ttf) -> float:
        one = np.float32(1.0)
        if self.lam == "df":
            lv = np.float32((df + 1.0) / (stats.doc_count + 1.0))
            if lv == one:
                lv = np.nextafter(one, np.float32(0.0), dtype=np.float32)
        else:
            lv = np.float32((ttf + 1.0) / (stats.doc_count + 1.0))
            if lv == one:
                lv = np.nextafter(one, np.float32(2.0), dtype=np.float32)
        return float(lv)

    def term_weight(self, stats, df, ttf, boost):
        return ((float(boost), self._lambda(stats, df, ttf)),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    @staticmethod
    def _spl(tfn: np.ndarray, lam: float) -> np.ndarray:
        q = 1.0 - 1.0 / (tfn + 1.0)
        q = np.where(q >= 1.0, np.nextafter(1.0, 0.0), q)
        pow_ = np.power(lam, q)
        if lam < 1.0:
            bumped = np.nextafter(lam, np.inf)
        else:
            bumped = np.nextafter(lam, -np.inf)
        pow_ = np.where(pow_ == lam, bumped, pow_)
        return -np.log((pow_ - lam) / (1.0 - lam))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, lam in weight:
            if self.distribution == "ll":
                s = -np.log(lam / (tfn + lam))
            else:
                s = self._spl(tfn, lam)
            out = out + (boost * s).astype(np.float32)  # f32 accumulate
        return out.astype(np.float32)


class IndriDirichletSim(Similarity):
    """IndriDirichletSimilarity.java:60-66 — Indri's Dirichlet
    smoothing: score = ln((freq + mu*p) / (docLen + mu)), p =
    totalTermFreq / numberOfFieldTokens (IndriCollectionModel:100-105 —
    note: NO +1 smoothing, unlike DefaultCollectionModel). Two faithful
    quirks: the score method does NOT multiply stats.getBoost() (the
    boost appears only in explain()), and there is no 0-clamp — scores
    are log-probabilities and always NEGATIVE. The engine's WAND /
    top-k paths initialize minCompetitive at -inf, and impacts bounds
    (max freq, min length) remain true upper bounds, so dynamic pruning
    stays exact for negative scores. docLen is the decoded norm length
    (SimilarityBase.BasicSimScorer:218-225). ``weight`` = tuple of
    (p,)-style collection probabilities."""

    name = "indri"
    needs_ttf = True

    def __init__(self, mu: float = 2000.0):
        self.mu = float(mu)

    def table(self, stats):
        return np.maximum(NORM_LENGTH_TABLE.astype(np.float64), 1.0)

    def term_weight(self, stats, df, ttf, boost):
        p = float(ttf) / float(max(stats.sum_total_term_freq, 1))
        return ((float(boost), p),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        dl = table[np.asarray(norm_bytes, dtype=np.int64)]
        out = np.zeros(len(f), dtype=np.float32)
        for _boost, p in weight:  # boost unused — reference quirk (see class doc)
            s = np.log((f + self.mu * p) / (dl + self.mu))
            out = out + s.astype(np.float32)  # f32 accumulate (MultiSimScorer)
        return out.astype(np.float32)


class AxiomaticSim(Similarity):
    """Axiomatic retrieval models (Axiomatic.java:96-105): score =
    max(0, (tf * ln * tfln * idf - gamma) * boost). Six variants share
    the component split (AxiomaticF{1,2,3}{EXP,LOG}.java):

    - tf:   F1*/F3*: 1 + ln(1 + ln(freq + 1)); F2*: 1
    - ln:   F1*: (avgdl + s)/(avgdl + dl*s); F2*/F3*: 1
    - tfln: F2*: freq/(freq + s + s*dl/avgdl); F1*/F3*: 1
    - idf:  *EXP: ((N+1)/df)^k; *LOG: ln((N+1)/df)
    - gamma:F3*: (dl - queryLen)*s*queryLen/avgdl; F1*/F2*: 0

    Defaults s=0.25, queryLen=1, k=0.35 (Axiomatic.java:91-93); s and k
    must lie in [0,1] (:53-64). The per-norm-byte table folds the
    length-dependent component for the variant (ln for F1*, the tfln
    denominator addend s + s*dl/avgdl for F2*, gamma for F3*); idf is
    folded into the weight at Weight-creation time. All variants are
    monotone non-decreasing in freq and non-increasing in length, so
    impacts block-max bounds hold. Multi-term weights compose as
    MultiSimScorer float32 sums. ``weight`` = tuple of (boost, idf)."""

    name = "axiomatic"
    _VARIANTS = ("f1exp", "f1log", "f2exp", "f2log", "f3exp", "f3log")

    def __init__(self, variant: str = "f2exp", s: float = 0.25, query_len: int = 1, k: float = 0.35):
        v = variant.lower()
        if v not in self._VARIANTS:
            raise ValueError(f"variant must be one of {self._VARIANTS}")
        if not (0.0 <= s <= 1.0) or not np.isfinite(s):
            raise ValueError(f"illegal s value: {s}, must be between 0 and 1")
        if not (0.0 <= k <= 1.0) or not np.isfinite(k):
            raise ValueError(f"illegal k value: {k}, must be between 0 and 1")
        if query_len < 0:
            raise ValueError(f"illegal query length value: {query_len}")
        self.variant = v
        self.s = float(s)
        self.query_len = int(query_len)
        self.k = float(k)

    def table(self, stats):
        avg = stats.sum_total_term_freq / float(stats.doc_count)
        dl = NORM_LENGTH_TABLE.astype(np.float64)
        fam = self.variant[:2]
        if fam == "f1":
            return (avg + self.s) / (avg + dl * self.s)
        if fam == "f2":
            return self.s + self.s * dl / avg
        return (dl - self.query_len) * self.s * self.query_len / avg

    def _idf(self, stats, df: int) -> float:
        ratio = (stats.doc_count + 1.0) / float(df)
        if self.variant.endswith("exp"):
            return float(np.power(ratio, self.k))
        return float(np.log(ratio))

    def term_weight(self, stats, df, ttf, boost):
        return ((float(boost), self._idf(stats, df)),)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.term_weight(stats, max(dfs), int(sum(ttfs)), boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(self.term_weight(stats, df, ttf, boost)[0] for df, ttf in zip(dfs, ttfs))

    def score(self, weight, freqs, norm_bytes, table):
        f = np.asarray(freqs, dtype=np.float64)
        t = table[np.asarray(norm_bytes, dtype=np.int64)]
        fam = self.variant[:2]
        out = np.zeros(len(f), dtype=np.float32)
        for boost, idf_v in weight:
            if fam == "f1":
                s = (1.0 + np.log1p(np.log(f + 1.0))) * t * idf_v
            elif fam == "f2":
                s = f / (f + t) * idf_v
            else:
                s = (1.0 + np.log1p(np.log(f + 1.0))) * idf_v - t
            s = np.maximum(s * boost, 0.0)  # Axiomatic.java:103-105 boost-then-clamp
            out = out + s.astype(np.float32)  # f32 accumulate (MultiSimScorer)
        return out.astype(np.float32)


class MultiSim(Similarity):
    """MultiSimilarity.java:31-70 — CombSUM evidence combination (Shaw
    & Fox 1993): one SimScorer per sub-similarity over the SAME stats,
    score = float32 sum of the sub-scores (MultiSimScorer.score:62-69).
    The norm byte comes from sims[0] (computeNorm :41-43) — identical
    for every model in this engine (SmallFloat intToByte4), so nothing
    to pick. ``weight`` and ``table`` are tuples aligned with the
    sub-similarities."""

    name = "multi"

    def __init__(self, sims):
        self.sims = [get_similarity(s) for s in sims]
        if not self.sims:
            raise ValueError("MultiSim needs at least one sub-similarity")
        self.needs_ttf = any(s.needs_ttf for s in self.sims)
        self.length_monotone = all(s.length_monotone for s in self.sims)

    def table(self, stats):
        return tuple(s.table(stats) for s in self.sims)

    def term_weight(self, stats, df, ttf, boost):
        return tuple(s.term_weight(stats, df, ttf, boost) for s in self.sims)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return tuple(s.synonym_weight(stats, dfs, ttfs, boost) for s in self.sims)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return tuple(s.multi_weight(stats, dfs, ttfs, boost) for s in self.sims)

    def score(self, weight, freqs, norm_bytes, table):
        out = np.zeros(len(np.asarray(freqs)), dtype=np.float32)
        for s, w, t in zip(self.sims, weight, table):
            out = out + s.score(w, freqs, norm_bytes, t)  # f32 accumulate
        return out.astype(np.float32)


class PerFieldSim(Similarity):
    """PerFieldSimilarityWrapper.java:31-48 — a different Similarity
    per field; the scorer (and this engine's norm-byte table) for a
    term is built by ``get(field)``. ``per_field`` maps NON-PRIMARY
    tokenized field names to models; the primary content field (and
    any unmapped field) scores with ``default``. The engine resolves
    ``for_field`` at every weight/table/score site that knows the
    field, so mapped fields keep their own model through WAND,
    conjunction, exhaustive and distributed kernels."""

    name = "perfield"

    def __init__(self, default="bm25", per_field: dict | None = None):
        self.default = get_similarity(default)
        self.per_field = {f: get_similarity(s) for f, s in (per_field or {}).items()}
        self.needs_ttf = self.default.needs_ttf or any(
            s.needs_ttf for s in self.per_field.values()
        )
        self.length_monotone = self.default.length_monotone and all(
            s.length_monotone for s in self.per_field.values()
        )

    def for_field(self, field: str) -> Similarity:
        return self.per_field.get(field or "", self.default)

    # field-less calls behave as the default model (the primary field)
    def table(self, stats):
        return self.default.table(stats)

    def term_weight(self, stats, df, ttf, boost):
        return self.default.term_weight(stats, df, ttf, boost)

    def synonym_weight(self, stats, dfs, ttfs, boost):
        return self.default.synonym_weight(stats, dfs, ttfs, boost)

    def multi_weight(self, stats, dfs, ttfs, boost):
        return self.default.multi_weight(stats, dfs, ttfs, boost)

    def score(self, weight, freqs, norm_bytes, table):
        return self.default.score(weight, freqs, norm_bytes, table)


BM25_SIM = BM25Sim()

# one shared instance per name: the named models hold only their
# constructor parameters, and the reader cache's plan keys and the
# block-bound slots compare similarities by identity, so every searcher
# of a name must hold the same object
_SIMILARITIES = {
    "bm25": BM25_SIM,
    "classic": ClassicSim(),
    "sweetspot": SweetSpotSim(),
    "boolean": BooleanSim(),
    "lmdirichlet": LMDirichletSim(),
    "lmjelinekmercer": LMJelinekMercerSim(),
    "dfr": DFRSim(),
    "dfi": DFISim(),
    "ib": IBSim(),
    "indri": IndriDirichletSim(),
    "axiomaticf1exp": AxiomaticSim("f1exp"),
    "axiomaticf1log": AxiomaticSim("f1log"),
    "axiomaticf2exp": AxiomaticSim("f2exp"),
    "axiomaticf2log": AxiomaticSim("f2log"),
    "axiomaticf3exp": AxiomaticSim("f3exp"),
    "axiomaticf3log": AxiomaticSim("f3log"),
}


def get_similarity(sim) -> Similarity:
    """Name or instance → Similarity (IndexSearcher.setSimilarity role)."""
    if isinstance(sim, Similarity):
        return sim
    if sim is None:
        return BM25_SIM
    try:
        return _SIMILARITIES[sim]
    except KeyError:
        raise ValueError(f"unknown similarity {sim!r}; one of {sorted(_SIMILARITIES)}") from None
