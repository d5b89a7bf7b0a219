"""Pluggable Similarity protocol (core/search/similarities/Similarity.java).

After Lucene's Weight layer folds boosts and collection stats, a
similarity reduces to three executable pieces — and those are exactly the
protocol here, each vectorized over numpy float32 so kernel scores stay
bit-identical to the JVM:

  ``idf(doc_freq, doc_count)``  -> float32 per-term stat weight
  ``norm_table(avgdl)``         -> float32[256] per-norm-byte factor
                                   (indexed by the SmallFloat norm byte)
  ``score(freqs, weight, nv)``  -> float32 scores, where ``nv`` is
                                   ``norm_table(...)[norm bytes]``

The Weight-layer folds — boost*idf as one float32 multiply, phrase idf
summed in double over float per-term idfs, synonym/blended df maxing —
are similarity-agnostic in Lucene (TermWeight/PhraseWeight call
``similarity.scorer(boost, collectionStats, termStats...)`` the same way
for every subclass), so they stay in the engine and only these three
pieces swap.

Monotonicity contract (same as Lucene's impacts): ``score`` must be
non-decreasing in freq and non-increasing in encoded doc length — the
index-time impact frontiers and block-max pruning assume it.

``weight_bounded`` declares whether ``score(freq, w, ...) < w`` for every
freq (true for BM25's saturating tf and Boolean's constant; false for
Classic's sqrt-tf and the LM models, which grow without bound in freq).
Plan-level upper bounds for synonym/blended nodes use the tight weight
bound when it holds and fall back to the concave-subadditivity bound
(sum of member term maxes) otherwise.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .bm25 import idf as _bm25_idf, norm_cache as _bm25_norm_cache
from .smallfloat import LENGTH_TABLE

__all__ = ["BM25Sim", "ClassicSim", "BooleanSim", "LMDirichletSim",
           "LMJelinekMercerSim", "DFRSim", "IBSim", "DFISim",
           "AxiomaticF2EXPSim", "AxiomaticF2LOGSim"]

# SimilarityBase.log2 is Math.log(x) / LOG_2 with LOG_2 = Math.log(2) —
# NOT a correctly-rounded log2; divide explicitly for bit parity
_LOG2 = math.log(2.0)


@dataclass(frozen=True)
class BM25Sim:
    """BM25Similarity(k1, b) — the engine default
    (core/search/similarities/BM25Similarity.java)."""

    weight_bounded = True  # w - w/(1+x) < w for every freq

    k1: float = 1.2
    b: float = 0.75

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return _bm25_idf(doc_freq, doc_count)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return _bm25_norm_cache(avg_dl, np.float32(self.k1), np.float32(self.b))

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        """float32 ``w - w / (1 + freq * cache[norm])``
        (BM25Similarity.java:240-252)."""
        one = np.float32(1.0)
        return weight - weight / (one + freqs.astype(np.float32) * norm_vals)


@dataclass(frozen=True)
class ClassicSim:
    """ClassicSimilarity (TFIDFSimilarity) — the historical VSM scoring
    (core/search/similarities/ClassicSimilarity.java:37-65,
    TFIDFSimilarity.java:470-510). Parameter-free.

    Exact float32 op points mirrored from the JVM:
      idf        = (float)(ln((docCount+1)/(double)(docFreq+1)) + 1.0)
      normTable  = 1f / (float)sqrt(decoded_length) — f32 cast on the
                   sqrt, THEN an f32 divide (two rounding points, not
                   one); slot 0 (length 0) is 1f / normTable[255] per
                   TFIDFSimilarity's static initializer
      tf         = (float) sqrt((double) freq)
      score      = f32(f32(tf * weight) * normTable[norm])
    """

    weight_bounded = False  # sqrt-tf grows without bound in freq

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(
            math.log((doc_count + 1) / float(doc_freq + 1)) + 1.0
        )

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        # length-only normalization: avgdl is unused (TFIDF has no b/avgdl)
        s = np.sqrt(LENGTH_TABLE.astype(np.float64)).astype(np.float32)
        with np.errstate(divide="ignore"):
            t = np.float32(1.0) / s
        t[0] = np.float32(1.0) / t[255]
        return t

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        # sqrt computed in double then cast once (Java (float)Math.sqrt),
        # each multiply a float32 op
        tf = np.sqrt(freqs.astype(np.float64)).astype(np.float32)
        return (tf * weight) * norm_vals


@dataclass(frozen=True)
class BooleanSim:
    """BooleanSimilarity (core/search/similarities/BooleanSimilarity.java):
    every matching doc scores exactly the query boost — no tf, no idf, no
    length normalization (BooleanWeight-era filter scoring)."""

    weight_bounded = True  # constant score == the weight

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)  # weight slot carries the folded boost only

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return np.ones(256, dtype=np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        return np.full(len(freqs), np.float32(weight), dtype=np.float32)


@dataclass(frozen=True)
class LMJelinekMercerSim:
    """LMJelinekMercerSimilarity(lambda) — linear-interpolation smoothing
    (core/search/similarities/LMJelinekMercerSimilarity.java:40-60).
    lambda near 0.1 suits short queries, near 0.7 long ones (Zhai & Lafferty
    2001, cited in the reference javadoc).

    Exact JVM op points:
      p     = f32(ttf + 1f) / f32(sttf + 2f)       (DefaultCollectionModel)
      1-λ   = float32 subtract; λ*p = float32 multiply
      score = f32( boost * ln(1 + ((1-λ) * freq / docLen) / (λ*p)) )
              — the inner arithmetic runs in DOUBLE once freq joins, and
              docLen is the SmallFloat-decoded length. Always > 0 for a
              hit, so no clamp (unlike Dirichlet).

    Protocol mapping mirrors :class:`LMDirichletSim`: idf = 1 (weight slot
    carries boost), aux = f32(λ*p), norm_table = decoded lengths. Monotone
    in freq (up) and docLen (down) → impact pruning stays valid.
    Composite folds follow SimilarityBase, like :class:`LMDirichletSim`.
    """

    weight_bounded = False  # boost * ln(1 + x), unbounded in freq

    lam: float = 0.1

    def __post_init__(self):
        # LMJelinekMercerSimilarity's ctor requires lambda in (0, 1]:
        # lam=0 divides by zero (inf scores), lam>1 makes (1-λ) negative
        # and the log argument can dip below 0 → NaN
        if not (0.0 < self.lam <= 1.0):
            raise ValueError(f"lambda must be in (0, 1], got {self.lam}")

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> np.float32:
        p = np.float32(
            np.float32(total_term_freq + 1.0)
            / np.float32(sum_total_term_freq + 2.0)
        )
        return np.float32(np.float32(self.lam) * p)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return LENGTH_TABLE.astype(np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("LMJelinekMercerSim.score needs the lambda*p aux")
        one_minus = np.float32(np.float32(1.0) - np.float32(self.lam))
        num = np.float64(one_minus) * freqs.astype(np.float64) \
            / norm_vals.astype(np.float64)
        s = np.float64(weight) * np.log(1.0 + num / np.float64(aux))
        return s.astype(np.float32)


@dataclass(frozen=True)
class LMDirichletSim:
    """LMDirichletSimilarity(mu) — Bayesian smoothing language model
    (core/search/similarities/LMDirichletSimilarity.java:60-90 +
    LMSimilarity.DefaultCollectionModel).

    Exact JVM op points:
      p      = f32(ttf + 1f) / f32(sttf + 2f), a float32 divide
               (DefaultCollectionModel.computeProbability)
      mu*p   = float32 multiply (both operands float in Java)
      score  = f32( max(0, boost * (ln(1 + freq / (mu*p))
                                    + ln(mu / (docLen + mu)))) )
               — the log terms and the boost multiply run in DOUBLE,
               the clamp applies BEFORE the final float cast
               (LMDirichletSimilarity.score + SimilarityBase's
               BasicSimScorer ``(float) score(...)``), and docLen is the
               SmallFloat-decoded length (SimilarityBase.LENGTH_TABLE).

    The protocol mapping: ``idf`` returns 1.0 so the engine's
    similarity-agnostic boost fold leaves the weight slot = boost
    (BasicStats.getBoost multiplies the whole score); ``aux`` carries the
    per-term float32 mu*p; ``norm_table`` decodes norm bytes straight to
    lengths. Monotone in freq (up) and docLen (down), so the impact
    frontiers and block-max pruning stay valid.

    Composites follow SimilarityBase: phrase-like nodes score as the
    float32 running sum of one per-term scorer each evaluated at the
    shared phrase freq (MultiSimilarity.java:63-70); synonym/blended
    nodes score one pseudo-term with df = max member df and
    ttf = Σ member ttf (SynonymQuery.java:205-222).
    """

    weight_bounded = False  # boost * ln(1 + x), unbounded in freq

    mu: float = 2000.0

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> np.float32:
        p = np.float32(
            np.float32(total_term_freq + 1.0)
            / np.float32(sum_total_term_freq + 2.0)
        )
        return np.float32(np.float32(self.mu) * p)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        # decoded doc length per norm byte (SimilarityBase.LENGTH_TABLE —
        # a float[256] in the JVM; every decoded value is f32-exact)
        return LENGTH_TABLE.astype(np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("LMDirichletSim.score needs the mu*p aux")
        mu = float(self.mu)
        # Math.log(1 + x), NOT log1p — Java adds explicitly, so the 1+x
        # rounding happens before the log (bit-parity with the JVM)
        a = np.log(1.0 + freqs.astype(np.float64) / np.float64(aux))
        b = np.log(mu / (norm_vals.astype(np.float64) + mu))
        s = np.float64(weight) * (a + b)
        return np.maximum(s, 0.0).astype(np.float32)


def _norm_tfn(normalization: str, c: float, mu: float, z: float,
              freqs: np.ndarray, norm_vals: np.ndarray,
              avgfl: float, h3_r: float) -> np.ndarray:
    """Shared DFR/IB normalized term frequency (NormalizationH1/H2/H3/Z
    op points — see DFRSim's docstring for the exact arithmetic)."""
    tf = freqs.astype(np.float64)
    ln = norm_vals.astype(np.float64)
    with np.errstate(divide="ignore"):
        if normalization == "H1":
            return tf * np.float64(np.float32(c)) * (avgfl / ln)
        if normalization == "H2":
            return tf * (
                np.log(1.0 + float(np.float32(c)) * avgfl / ln) / _LOG2
            )
        if normalization == "H3":
            mur = np.float64(np.float32(np.float32(mu) * np.float32(h3_r)))
            mu64 = np.float64(np.float32(mu))
            return (tf + mur) / (ln + mu64) * mu64
        return tf * np.power(avgfl / ln, np.float64(np.float32(z)))


def _check_normalization(normalization: str, c: float, mu: float,
                         z: float) -> None:
    """The reference constructors' parameter checks: NormalizationH1 takes
    c >= 0, H2 c > 0, H3 mu >= 0 (all finite), Z 0 < z < 0.5."""
    if normalization not in ("H1", "H2", "H3", "Z"):
        raise ValueError(f"unknown normalization {normalization!r}")
    if normalization == "H1" and not (c >= 0 and math.isfinite(c)):
        raise ValueError(f"c must be >= 0, got {c}")
    if normalization == "H2" and not (c > 0 and math.isfinite(c)):
        raise ValueError(f"c must be > 0, got {c}")
    if normalization == "H3" and not (mu >= 0 and math.isfinite(mu)):
        raise ValueError(f"illegal mu value: {mu}, must be >= 0")
    if normalization == "Z" and not (0.0 < z < 0.5):
        raise ValueError(f"illegal z value: {z}, must be in the range (0, 0.5)")


@dataclass(frozen=True)
class DFRSim:
    """DFRSimilarity — the full divergence-from-randomness matrix
    (core/search/similarities/DFRSimilarity.java): BasicModel {G, IF,
    In, Ine} x AfterEffect {L, B} x Normalization {H1, H2, H3, Z}.
    Defaults to the javadoc-recommended (G, L, H2(c)) combination.

    Exact JVM op points (all DOUBLE unless noted, one float cast at the
    end — SimilarityBase.BasicSimScorer.score; log2 = ln(x)/ln(2)):
      avgfl = sumTotalTermFreq / (double) docCount     (fillBasicStats)
      tfn   = H1: tf * c * (avgfl / len)               (NormalizationH1)
              H2: tf * log2(1 + c * avgfl / len)       (NormalizationH2)
              H3: (tf + mu*r) / (len + mu) * mu with
                  r = FLOAT32((ttf + 1f) / (sttf + 1f)) and mu a float —
                  the reference mixes float here (NormalizationH3.java)
              Z:  tf * (avgfl / len) ** z              (NormalizationZ)
      ae    = L: 1.0;  B: (F' + 1) / n' with F' = ttf + 1, n' = df + 1
              (aeTimes1pTfn, AfterEffectL/B.java)
      base  = G:  (B - (B - A) / (1 + tfn)) * ae, A = log2(lambda + 1),
                  B = log2((1 + lambda) / lambda), lambda = F / (N + F),
                  F = ttf + 1                       (BasicModelG.java)
              IF: A * ae * (1 - 1 / (1 + tfn)), A = log2(1 + (N+1)/(F+0.5)),
                  F = ttf                          (BasicModelIF.java)
              In: same with A = log2((N+1)/(n+0.5)), n = df
              Ine: same with A = log2((N+1)/(ne+0.5)),
                  ne = N * (1 - ((N-1)/N)**F), F = ttf
      score = f32( boost * base )

    Every combination is non-decreasing in tfn by construction (the
    reference rewrites each basic model exactly so this holds — see the
    source comments) and tfn is non-increasing in docLen for all four
    normalizations, so the impact frontiers and block-max pruning stay
    valid. Protocol mapping follows the LM sims: idf = 1 (weight slot
    carries boost), aux = (A, B_or_nan, ae, avgfl, h3_r), norm_table =
    decoded lengths.
    """

    weight_bounded = False

    c: float = 1.0            # H1/H2 hyper-parameter
    basic_model: str = "G"    # G | IF | In | Ine
    after_effect: str = "L"   # L | B
    normalization: str = "H2"  # H1 | H2 | H3 | Z
    mu: float = 800.0         # H3 (float in the reference ctor)
    z: float = 0.30           # Z  (float; ctor requires 0 < z < 0.5)

    def __post_init__(self):
        if self.basic_model not in ("G", "IF", "In", "Ine"):
            raise ValueError(f"unknown basic model {self.basic_model!r}")
        if self.after_effect not in ("L", "B"):
            raise ValueError(f"unknown after effect {self.after_effect!r}")
        _check_normalization(self.normalization, self.c, self.mu, self.z)

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        N = float(doc_count)
        if self.basic_model == "G":
            F = float(total_term_freq) + 1.0
            lam = F / (N + F)
            A = math.log(lam + 1.0) / _LOG2
            B = math.log((1.0 + lam) / lam) / _LOG2
        else:
            if self.basic_model == "IF":
                A = math.log(
                    1.0 + (doc_count + 1) / (total_term_freq + 0.5)
                ) / _LOG2
            elif self.basic_model == "In":
                A = math.log((doc_count + 1) / (doc_freq + 0.5)) / _LOG2
            else:  # Ine
                ne = N * (1.0 - ((N - 1.0) / N) ** float(total_term_freq))
                A = math.log((doc_count + 1) / (ne + 0.5)) / _LOG2
            B = float("nan")
        if self.after_effect == "L":
            ae = 1.0
        else:  # B: (F + 1.0) / n with F = ttf + 1, n = df + 1
            ae = (float(total_term_freq + 1) + 1.0) / float(doc_freq + 1)
        avgfl = float(sum_total_term_freq) / float(doc_count)
        # NormalizationH3 mixes float32: (ttf + 1F) / (sttf + 1F)
        h3_r = float(np.float32(
            np.float32(np.float32(total_term_freq) + np.float32(1.0))
            / np.float32(np.float32(sum_total_term_freq) + np.float32(1.0))
        ))
        return (A, B, ae, avgfl, h3_r)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return LENGTH_TABLE.astype(np.float32)

    def _tfn(self, freqs: np.ndarray, norm_vals: np.ndarray,
             avgfl: float, h3_r: float) -> np.ndarray:
        return _norm_tfn(self.normalization, self.c, self.mu, self.z,
                         freqs, norm_vals, avgfl, h3_r)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("DFRSim.score needs the (A, B, ae, ...) aux")
        A, B, ae, avgfl, h3_r = aux
        tfn = self._tfn(freqs, norm_vals, avgfl, h3_r)
        if self.basic_model == "G":
            base = (B - (B - A) / (1.0 + tfn)) * ae
        else:
            base = A * ae * (1.0 - 1.0 / (1.0 + tfn))
        s = np.float64(weight) * base
        return s.astype(np.float32)


@dataclass(frozen=True)
class DFISim:
    """DFISimilarity(independence) — divergence from independence, the
    parameter-free chi-square family
    (core/search/similarities/DFISimilarity.java:58-70;
    IndependenceStandardized/ChiSquared/Saturated.java).

    Exact JVM op points (all DOUBLE, one float cast at the end —
    SimilarityBase.BasicSimScorer.score):
      expected = (ttf + 1) * docLen / (sttf + 1)
      score    = 0 when freq <= expected, else
                 f32( boost * log2(measure(freq, expected) + 1) )
      measure  = standardized (f-e)/sqrt(e) | chisquared (f-e)^2/e
               | saturated (f-e)/e
      log2 spelled ln(x)/ln(2) per SimilarityBase.log2.

    Protocol mapping follows the LM/DFR sims: idf = 1 (weight slot
    carries boost), aux = (ttf + 1) / (sttf + 1) (the expected-per-unit-
    length ratio — docLen folds in inside score), norm_table = decoded
    lengths. Monotone: freq up -> measure up -> score up; docLen up ->
    expected up -> each measure down -> score down (for freq > expected;
    the freq <= expected region is pinned at 0) — the impact frontiers
    and block-max pruning stay valid. log2(measure+1) is unbounded in
    freq -> weight_bounded False; composites fold per SimilarityBase's
    MultiSimScorer.
    """

    weight_bounded = False

    independence: str = "standardized"  # | "chisquared" | "saturated"

    def __post_init__(self):
        if self.independence not in (
            "standardized", "chisquared", "saturated"
        ):
            raise ValueError(
                f"unknown independence measure {self.independence!r}"
            )

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> float:
        # expected = aux * docLen, with aux = (F + 1) / (T + 1)
        # (DFISimilarity.score: T = numberOfFieldTokens = sumTotalTermFreq)
        return (float(total_term_freq) + 1.0) \
            / (float(sum_total_term_freq) + 1.0)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return LENGTH_TABLE.astype(np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("DFISim.score needs the (F+1)/(T+1) aux")
        f = freqs.astype(np.float64)
        expected = np.float64(aux) * norm_vals.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            # docLen 0 -> expected 0 -> measure +inf -> score +inf,
            # matching the Java double arithmetic's limit
            if self.independence == "standardized":
                m = (f - expected) / np.sqrt(expected)
            elif self.independence == "chisquared":
                m = (f - expected) * (f - expected) / expected
            else:
                m = (f - expected) / expected
            s = np.float64(weight) * (np.log(m + 1.0) / _LOG2)
        # "if the observed frequency is <= the expected value, return 0"
        return np.where(f <= expected, np.float64(0.0), s).astype(np.float32)


@dataclass(frozen=True)
class AxiomaticF2EXPSim:
    """AxiomaticF2EXP(s, k) — the axiomatic retrieval function F2-EXP
    (core/search/similarities/Axiomatic.java:95-106 score combination;
    AxiomaticF2EXP.java:58-83 components).

    Exact JVM op points (all DOUBLE, one float cast at the end):
      tf = 1; ln = 1; gamma = 0                     (F2EXP's components)
      tfln  = freq / (freq + s + s * docLen / avgdl)
      idf   = pow((N + 1) / df, k)                  [double pow]
      score = f32( max(0, boost * (tfln * idf)) )
      avgdl = sttf / (double) N   (SimilarityBase.fillBasicStats:109-110)

    Protocol mapping: idf slot = 1 (weight carries boost; Axiomatic
    multiplies boost against the full double product, so folding idf
    into a float32 weight would add a rounding point the JVM doesn't
    have), aux = (idf_double, avgdl), norm_table = decoded lengths.
    Monotone: tfln rises in freq (freq/(freq+const)), falls in docLen
    (denominator grows) -> pruning frontiers valid. tfln < 1 but
    idf > 1 scales past the weight slot -> weight_bounded False.
    """

    weight_bounded = False

    s: float = 0.25
    k: float = 0.35

    def __post_init__(self):
        # Axiomatic's ctor bounds (Axiomatic.java:54-59)
        if not (math.isfinite(self.s) and 0.0 <= self.s <= 1.0):
            raise ValueError(f"illegal s value: {self.s}, must be in [0, 1]")
        if not (math.isfinite(self.k) and 0.0 <= self.k <= 1.0):
            raise ValueError(f"illegal k value: {self.k}, must be in [0, 1]")

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        idf = math.pow(
            (float(doc_count) + 1.0) / float(doc_freq), float(self.k)
        )
        avgdl = float(sum_total_term_freq) / float(doc_count)
        return (idf, avgdl)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return LENGTH_TABLE.astype(np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("AxiomaticF2EXPSim.score needs (idf, avgdl)")
        idf, avgdl = aux
        f = freqs.astype(np.float64)
        s = float(self.s)
        tfln = f / (f + s + s * norm_vals.astype(np.float64) / avgdl)
        sc = np.float64(weight) * (tfln * np.float64(idf))
        # Axiomatic.score clamps at 0 (F3's gamma can go negative; F2EXP
        # never does, but the clamp is part of the shared combination)
        return np.maximum(sc, 0.0).astype(np.float32)


@dataclass(frozen=True)
class AxiomaticF2LOGSim(AxiomaticF2EXPSim):
    """AxiomaticF2LOG(s) — F2EXP's shape with the log primitive weight
    (core/search/similarities/AxiomaticF2LOG.java:49-75):
      idf = ln((N + 1) / df)    [no k hyper-parameter]
    tfln / score combination / clamp identical to :class:`AxiomaticF2EXPSim`.
    """

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        idf = math.log((float(doc_count) + 1.0) / float(doc_freq))
        avgdl = float(sum_total_term_freq) / float(doc_count)
        return (idf, avgdl)


@dataclass(frozen=True)
class AxiomaticF1EXPSim(AxiomaticF2EXPSim):
    """AxiomaticF1EXP(s, k) (core/search/similarities/AxiomaticF1EXP.java:
    57-80 components, Axiomatic.java:95-106 combination):
      tf    = 1 + ln(1 + ln(freq + 1))
      ln    = (avgdl + s) / (avgdl + dl * s)
      tfln  = 1; gamma = 0
      idf   = pow((N + 1) / df, k)                  [double pow, in aux]
      score = f32( max(0, ((tf * ln) * idf) * boost) )
    Monotone up in freq, down in docLen — pruning frontiers stay valid."""

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("AxiomaticF1EXPSim.score needs (idf, avgdl)")
        idf, avgdl = aux
        f = freqs.astype(np.float64) + 1.0  # java: freq += 1
        tf = 1.0 + np.log(1.0 + np.log(f))
        s = float(self.s)
        ln_c = (avgdl + s) / (avgdl + norm_vals.astype(np.float64) * s)
        sc = (tf * ln_c * np.float64(idf)) * np.float64(weight)
        return np.maximum(sc, 0.0).astype(np.float32)


@dataclass(frozen=True)
class AxiomaticF1LOGSim(AxiomaticF1EXPSim):
    """AxiomaticF1LOG(s) (AxiomaticF1LOG.java:50-79): F1EXP's shape with
    idf = ln((N + 1) / df), no k."""

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        idf = math.log((float(doc_count) + 1.0) / float(doc_freq))
        avgdl = float(sum_total_term_freq) / float(doc_count)
        return (idf, avgdl)


@dataclass(frozen=True)
class AxiomaticF3EXPSim(AxiomaticF2EXPSim):
    """AxiomaticF3EXP(s, queryLen, k) (AxiomaticF3EXP.java:55-95):
      tf    = 1 + ln(1 + ln(freq + 1));  ln = 1;  tfln = 1
      idf   = pow((N + 1) / df, k)
      gamma = (((dl - queryLen) * s) * queryLen) / avgdl   [negative-able]
      score = f32( max(0, (tf * idf - gamma) * boost) )
    The gamma subtraction happens BEFORE the boost multiply
    (Axiomatic.java:96-105)."""

    query_len: int = 1

    def __post_init__(self):
        super().__post_init__()
        if self.query_len < 0:
            raise ValueError(
                f"queryLen must be >= 0, got {self.query_len}"
            )

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("AxiomaticF3EXPSim.score needs (idf, avgdl)")
        idf, avgdl = aux
        f = freqs.astype(np.float64) + 1.0
        tf = 1.0 + np.log(1.0 + np.log(f))
        s, ql = float(self.s), float(self.query_len)
        gamma = (
            ((norm_vals.astype(np.float64) - ql) * s) * ql
        ) / avgdl
        sc = (tf * np.float64(idf) - gamma) * np.float64(weight)
        return np.maximum(sc, 0.0).astype(np.float32)


@dataclass(frozen=True)
class AxiomaticF3LOGSim(AxiomaticF3EXPSim):
    """AxiomaticF3LOG(s, queryLen) (AxiomaticF3LOG.java:47-80): F3EXP's
    shape with idf = ln((N + 1) / df), no k."""

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        idf = math.log((float(doc_count) + 1.0) / float(doc_freq))
        avgdl = float(sum_total_term_freq) / float(doc_count)
        return (idf, avgdl)


@dataclass(frozen=True)
class IBSim:
    """IBSimilarity — the information-based framework matrix
    (core/search/similarities/IBSimilarity.java): Distribution {LL, SPL}
    x Lambda {DF, TTF} x Normalization {H1, H2, H3, Z}.  Defaults to the
    (DistributionLL, LambdaDF, NormalizationH2(c)) combination.

    Exact JVM op points:
      lambda = f32((docFreq + 1.0) / (N + 1.0))        (LambdaDF; FLOAT —
               the one f32 rounding point; nextDown if == 1)
               f32((ttf + 1.0) / (N + 1.0))            (LambdaTTF; nextUp
               if == 1)
      tfn    = the shared NormalizationH1/H2/H3/Z op points (_norm_tfn)
      LL:    score = f32( boost * -ln(lambda / (tfn + lambda)) )
      SPL:   q = 1 - 1/(tfn + 1) (nextDown(1.0) if == 1);
             pow = lambda ** q (nextUp/nextDown(lambda) if == lambda);
             score = f32( boost * -log2((pow - lambda) / (1 - lambda)) )
             (DistributionSPL.java:30-55, including both rounding guards)

    Protocol mapping matches :class:`DFRSim`: idf = 1, aux =
    (lambda_f32, avgfl, h3_r), norm_table = decoded lengths. Monotone in
    freq (up) and docLen (down); unbounded in freq -> weight_bounded
    False.
    """

    weight_bounded = False

    c: float = 1.0             # H1/H2 hyper-parameter
    distribution: str = "LL"   # LL | SPL
    lambda_of: str = "DF"      # DF | TTF
    normalization: str = "H2"  # H1 | H2 | H3 | Z
    mu: float = 800.0          # H3
    z: float = 0.30            # Z

    def __post_init__(self):
        if self.distribution not in ("LL", "SPL"):
            raise ValueError(f"unknown distribution {self.distribution!r}")
        if self.lambda_of not in ("DF", "TTF"):
            raise ValueError(f"unknown lambda {self.lambda_of!r}")
        _check_normalization(self.normalization, self.c, self.mu, self.z)

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return np.float32(1.0)

    def aux(self, doc_freq: int, doc_count: int, total_term_freq: int,
            sum_total_term_freq: int) -> tuple:
        if self.lambda_of == "DF":
            lam = np.float32((doc_freq + 1.0) / (doc_count + 1.0))
            if lam == np.float32(1.0):
                lam = np.nextafter(np.float32(1.0), np.float32(0.0))
        else:  # TTF
            lam = np.float32((total_term_freq + 1.0) / (doc_count + 1.0))
            if lam == np.float32(1.0):
                lam = np.nextafter(np.float32(1.0), np.float32(2.0))
        avgfl = float(sum_total_term_freq) / float(doc_count)
        h3_r = float(np.float32(
            np.float32(np.float32(total_term_freq) + np.float32(1.0))
            / np.float32(np.float32(sum_total_term_freq) + np.float32(1.0))
        ))
        return (float(lam), avgfl, h3_r)

    def norm_table(self, avg_dl: np.float32) -> np.ndarray:
        return LENGTH_TABLE.astype(np.float32)

    def score(self, freqs: np.ndarray, weight: np.float32,
              norm_vals: np.ndarray, aux=None) -> np.ndarray:
        if aux is None:
            raise ValueError("IBSim.score needs the (lambda, avgfl, r) aux")
        lam, avgfl, h3_r = aux
        tfn = _norm_tfn(self.normalization, self.c, self.mu, self.z,
                        freqs, norm_vals, avgfl, h3_r)
        if self.distribution == "LL":
            base = -np.log(lam / (tfn + lam))
        else:
            with np.errstate(divide="ignore", invalid="ignore"):
                q = 1.0 - 1.0 / (tfn + 1.0)
                q = np.where(q == 1.0, np.nextafter(1.0, 0.0), q)
                powv = np.power(lam, q)
                if lam < 1.0:
                    powv = np.where(powv == lam,
                                    np.nextafter(lam, np.inf), powv)
                else:
                    powv = np.where(powv == lam,
                                    np.nextafter(lam, -np.inf), powv)
                base = -(np.log((powv - lam) / (1.0 - lam)) / _LOG2)
        s = np.float64(weight) * base
        return s.astype(np.float32)
