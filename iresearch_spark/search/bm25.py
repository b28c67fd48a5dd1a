"""Okapi BM25 / TF-IDF scorer math — numpy, f32 (reference parity) or f64
(SQL-oracle parity).

Reference: core/search/bm25.cpp:283-299 (per-doc), 446-457 (score fn),
495-519 (idf + norm constants). The factored form ``c0 - c0*c1/(c1+tf)``
equals ``c0*tf/(c1+tf)``; we use the reference's factored form under f32 so
float rounding matches, and the plain form under f64 for the DuckDB oracle.

* ``idf = ln(1 + (docs_with_field - docs_with_term + 0.5) / (docs_with_term + 0.5))``
* ``c0 = boost * (k+1) * idf``
* ``c1 = k*(1-b) + k*b * dl / avgdl``,  ``avgdl = total_term_freq / docs_with_field``
* defaults k=1.2, b=0.75 (bm25.hpp:36-40); b=0 → BM15, b=1 → BM11.

TF-IDF (tfidf.cpp:381, 248-250): ``sqrt(tf) * (ln((N+1)/(df+1)) + 1)``.
"""

from __future__ import annotations

import numpy as np

K_DEFAULT = 1.2
B_DEFAULT = 0.75


def bm25_idf(docs_with_term: float, docs_with_field: float, dtype=np.float64):
    dt = np.dtype(dtype).type
    df = dt(docs_with_term)
    n = dt(docs_with_field)
    half = dt(0.5)
    return np.log1p((n - df + half) / (df + half)).astype(dtype)


def bm25_score(
    tf: np.ndarray,
    dl: np.ndarray,
    idf: float,
    avgdl: float,
    k: float = K_DEFAULT,
    b: float = B_DEFAULT,
    boost: float = 1.0,
    dtype=np.float64,
) -> np.ndarray:
    dt = np.dtype(dtype).type
    tf = np.asarray(tf).astype(dtype)
    dl = np.asarray(dl).astype(dtype)
    c0 = dt(boost) * (dt(k) + dt(1)) * dt(idf)
    c1 = dt(k) * (dt(1) - dt(b)) + dt(k) * dt(b) * dl / dt(avgdl)
    if np.dtype(dtype) == np.float32:
        # reference factored form, f32 throughout (bm25.cpp:446-457)
        return (c0 - c0 * c1 / (c1 + tf)).astype(dtype)
    return (c0 * tf / (c1 + tf)).astype(dtype)


def tfidf_idf(docs_with_term: float, docs_with_field: float, dtype=np.float64):
    dt = np.dtype(dtype).type
    return np.log((dt(docs_with_field) + dt(1)) / (dt(docs_with_term) + dt(1))) + dt(1)


def tfidf_score(
    tf: np.ndarray,
    docs_with_term: float,
    docs_with_field: float,
    boost: float = 1.0,
    dtype=np.float64,
) -> np.ndarray:
    dt = np.dtype(dtype).type
    idf = tfidf_idf(docs_with_term, docs_with_field, dtype)
    return (dt(boost) * np.sqrt(np.asarray(tf).astype(dtype)) * idf).astype(dtype)


def phrase_score(
    mode: str,
    tf: np.ndarray,
    dl: np.ndarray,
    idf: float,
    avgdl: float,
    k: float = K_DEFAULT,
    b: float = B_DEFAULT,
    boost: float = 1.0,
) -> np.ndarray:
    """Root Phrase/SamePosition score, f64: the phrase frequency ``tf``
    plugs into the scorer as the term frequency, ``idf`` is the phrase's
    stats constant (from the exact phrase df, or the sum of the member
    terms' idfs). ``mode`` is ``"bm25"``, ``"tfidf"`` or ``"boost"``."""
    tf = np.asarray(tf, dtype=np.float64)
    if mode == "boost":
        return np.full(tf.shape, float(boost))
    if mode == "tfidf":
        return float(boost) * np.sqrt(tf) * float(idf)
    return bm25_score(tf, dl, idf, avgdl, k, b, boost, np.float64)


# --------------------------------------------------------------------------
# Scorer strategy (Order::Prepare / bucket analogue, sort.hpp:218-349):
# every query kernel scores via one of these models. `term_const` is the
# per-term stats blob baked at prepare time (idf for bm25/tfidf); `score`
# the per-doc kernel; `ub` a monotone upper bound for WAND/MaxScore pruning.
# --------------------------------------------------------------------------


class ScoreModel:
    needs_norms = True

    def term_const(self, df: int, n_field: int, dtype) -> float:
        raise NotImplementedError

    def score(self, tf, dl, const, avgdl, boost, dtype):
        raise NotImplementedError

    def ub(self, max_tf: int, const: float, dl_min: float, avgdl: float, boost: float, dtype) -> float:
        raise NotImplementedError

    def ub_batch(self, max_tfs, consts, boosts, dl_min, avgdl, dtype):
        """Vectorized upper bounds (one numpy expression per MaxScore call)."""
        return np.array(
            [self.ub(int(m), float(c), dl_min, avgdl, float(b), dtype)
             for m, c, b in zip(max_tfs, consts, boosts)]
        )


class BM25Model(ScoreModel):
    """Okapi BM25 (bm25.cpp; k=1.2 b=0.75 defaults; b=0→BM15, b=1→BM11)."""

    def __init__(self, k1: float = K_DEFAULT, b: float = B_DEFAULT):
        self.k1 = k1
        self.b = b

    def term_const(self, df, n_field, dtype):
        return float(bm25_idf(df, n_field, dtype=dtype)) if df > 0 else 0.0

    def score(self, tf, dl, const, avgdl, boost, dtype):
        return bm25_score(tf, dl, const, avgdl, self.k1, self.b, boost, dtype)

    def ub(self, max_tf, const, dl_min, avgdl, boost, dtype):
        dt = np.dtype(dtype).type
        c0 = dt(boost) * (dt(self.k1) + dt(1)) * dt(const)
        c1_min = dt(self.k1) * (dt(1) - dt(self.b)) + dt(self.k1) * dt(self.b) * dt(dl_min) / dt(avgdl)
        ub = float(c0 * dt(max_tf) / (c1_min + dt(max_tf)))
        return self._inflate(ub, dtype)

    @staticmethod
    def _inflate(ub, dtype):
        """Under f32 the actual scores use the factored form
        ``c0 - c0*c1/(c1+tf)`` whose rounding can land ~1 ULP ABOVE this exact
        bound; nudge the bound up a few f32 ULPs so a bound-attaining doc is
        never pruned (strict rank identity under f32)."""
        if np.dtype(dtype) == np.float32:
            f = np.float32(ub)
            for _ in range(4):
                f = np.nextafter(f, np.float32(np.inf), dtype=np.float32)
            return float(f)
        return ub

    def ub_batch(self, max_tfs, consts, boosts, dl_min, avgdl, dtype):
        m = np.asarray(max_tfs, dtype=np.float64)
        c = np.asarray(consts, dtype=np.float64)
        b = np.asarray(boosts, dtype=np.float64)
        c0 = b * (self.k1 + 1.0) * c
        c1_min = self.k1 * (1.0 - self.b) + self.k1 * self.b * dl_min / avgdl
        ub = c0 * m / (c1_min + m)
        if np.dtype(dtype) == np.float32:
            f = ub.astype(np.float32)
            for _ in range(4):
                f = np.nextafter(f, np.float32(np.inf), dtype=np.float32)
            return f.astype(np.float64)
        return ub


class BM25LegacyNormModel(BM25Model):
    """BM25 under the legacy ``Norm`` feature (norm.hpp:46-69; bm25.cpp:292-296,
    446-457): the stored norm is the float ``1/sqrt(len)`` and the scorer
    plugs it directly where Norm2 plugs ``len`` — ``tf = sqrt(freq)``,
    ``c1 = k(1-b) + (k*b/avgdl) * (1/sqrt(len))``. Our index stores exact
    integer lengths (Norm2), so the norm value is recomputed as f32
    ``1/sqrt(len)`` — the same value the reference's zvfloat round-trips."""

    def score(self, tf, dl, const, avgdl, boost, dtype):
        dt = np.dtype(dtype).type
        tfs = np.sqrt(np.asarray(tf).astype(dtype))
        nv = dt(1) / np.sqrt(np.asarray(dl).astype(dtype))
        c0 = dt(boost) * (dt(self.k1) + dt(1)) * dt(const)
        c1 = dt(self.k1) * (dt(1) - dt(self.b)) + (dt(self.k1) * dt(self.b) / dt(avgdl)) * nv
        if np.dtype(dtype) == np.float32:
            return (c0 - c0 * c1 / (c1 + tfs)).astype(dtype)
        return (c0 * tfs / (c1 + tfs)).astype(dtype)

    def ub(self, max_tf, const, dl_min, avgdl, boost, dtype):
        # most favorable norm value is 0 (len -> inf): conservative bound
        # independent of the segment's length range
        dt = np.dtype(dtype).type
        c0 = dt(boost) * (dt(self.k1) + dt(1)) * dt(const)
        c1_min = dt(self.k1) * (dt(1) - dt(self.b))
        tfs = np.sqrt(dt(max_tf))
        ub = float(c0 * tfs / (c1_min + tfs))
        return self._inflate(ub, dtype)

    def ub_batch(self, max_tfs, consts, boosts, dl_min, avgdl, dtype):
        m = np.sqrt(np.asarray(max_tfs, dtype=np.float64))
        c0 = np.asarray(boosts, np.float64) * (self.k1 + 1.0) * np.asarray(consts, np.float64)
        c1_min = self.k1 * (1.0 - self.b)
        ub = c0 * m / (c1_min + m)
        if np.dtype(dtype) == np.float32:
            f = ub.astype(np.float32)
            for _ in range(4):
                f = np.nextafter(f, np.float32(np.inf), dtype=np.float32)
            return f.astype(np.float64)
        return ub


class TFIDFModel(ScoreModel):
    """sqrt(tf) * (ln((N+1)/(df+1)) + 1)  (tfidf.cpp:381, 248-250; norm-free
    variant — the reference's optional 1/sqrt(len) norm is off by default)."""

    needs_norms = False

    def term_const(self, df, n_field, dtype):
        return float(tfidf_idf(df, n_field, dtype))

    def score(self, tf, dl, const, avgdl, boost, dtype):
        dt = np.dtype(dtype).type
        return (dt(boost) * np.sqrt(np.asarray(tf).astype(dtype)) * dt(const)).astype(dtype)

    def ub(self, max_tf, const, dl_min, avgdl, boost, dtype):
        return float(boost * np.sqrt(float(max_tf)) * const)

    def ub_batch(self, max_tfs, consts, boosts, dl_min, avgdl, dtype):
        return (
            np.asarray(boosts, np.float64)
            * np.sqrt(np.asarray(max_tfs, np.float64))
            * np.asarray(consts, np.float64)
        )


class TFIDFNormModel(TFIDFModel):
    """tfidf with ``normalize=true`` (tfidf_sort WITH_NORMS,
    tfidf.hpp:36-45): the norm-free tfidf score additionally multiplied by
    ``1/sqrt(|doc|)`` (NormAdapter kRSQRT over the stored length,
    tfidf.cpp:286-310, 344). Docs without a length (dl<=0) score with
    factor 1, mirroring the reference's fall-back to the norm-free scorer
    when no norm attribute exists."""

    needs_norms = True

    def score(self, tf, dl, const, avgdl, boost, dtype):
        dt = np.dtype(dtype).type
        base = super().score(tf, dl, const, avgdl, boost, dtype)
        dla = np.asarray(dl).astype(dtype)
        factor = np.where(dla > 0, 1.0 / np.sqrt(np.maximum(dla, 1e-30)), dt(1))
        return (base * factor).astype(dtype)

    def ub(self, max_tf, const, dl_min, avgdl, boost, dtype):
        f = 1.0 / np.sqrt(dl_min) if dl_min and dl_min > 0 else 1.0
        return float(boost * np.sqrt(float(max_tf)) * const * f)

    def ub_batch(self, max_tfs, consts, boosts, dl_min, avgdl, dtype):
        f = 1.0 / np.sqrt(dl_min) if dl_min and dl_min > 0 else 1.0
        return super().ub_batch(max_tfs, consts, boosts, dl_min, avgdl, dtype) * f


class BoostModel(ScoreModel):
    """Constant score = boost (boost_sort.cpp)."""

    needs_norms = False

    def term_const(self, df, n_field, dtype):
        return 1.0

    def score(self, tf, dl, const, avgdl, boost, dtype):
        dt = np.dtype(dtype).type
        return np.full(np.asarray(tf).shape, dt(boost), dtype=dtype)

    def ub(self, max_tf, const, dl_min, avgdl, boost, dtype):
        return float(boost)


def get_model(name: str, k1: float = K_DEFAULT, b: float = B_DEFAULT) -> ScoreModel:
    if name == "bm25":
        return BM25Model(k1, b)
    if name == "bm25_norm":
        return BM25LegacyNormModel(k1, b)
    if name == "tfidf":
        return TFIDFModel()
    if name == "tfidf_norm":
        return TFIDFNormModel()
    if name == "boost":
        return BoostModel()
    raise KeyError(
        f"unknown scorer {name!r}; known: bm25, bm25_norm, tfidf, tfidf_norm, boost"
    )
