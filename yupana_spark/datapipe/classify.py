"""Model-based quality classification: the FineWeb-Edu / DCLM-style step
(Penedo et al. 2024; Li et al. 2024 — both public) where a TRAINED
classifier, not a hand rule, scores every document for keep/drop.

Honest scope: the container ships no torch/fasttext, so the model is a
tiny logistic regression over the repo's own engineered text features —
which is exactly the right PLUMBING to test at 100 TB: a sample-bounded
driver-side fit (any real classifier trains off-cluster anyway), a
persistable weight artifact, and corpus-wide scoring that compiles to
PURE JVM arithmetic (a dot product + sigmoid over feature columns — no
UDF in the hot path, whole-stage codegen keeps it in the scan).

* ``quality_lr_features`` — the feature columns (shared by fit + score);
* ``quality_lr_fit`` — standardized-feature logistic regression via
  full-batch gradient descent on a bounded deterministic sample, labels
  from any boolean Column (default: the heuristic ``quality_score >=
  0.6``, making the classifier a smooth, generalizing surrogate of the
  rule — swap in human/LLM labels by passing ``label``);
* ``quality_lr_score`` — sigmoid(w·(x-mean)/std + b) as a Column;
* memoized per session and persistable via the shared ArtifactStore
  (same train-once posture as the KMeans/PQ/BPE artifacts).
"""

from __future__ import annotations

from typing import Dict, Optional

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

FEATURE_NAMES = ("log_chars", "n_words_log", "alpha_ratio", "digit_ratio",
                 "punct_ratio", "stopword_ratio", "dup_word_ratio")


def _ngram_hash_v(ngram_buckets: int) -> tuple:
    """Bucket-hash version tag for cache keys / artifact names, as a
    SPLATTABLE tuple: empty when the fit carries no hashed-gram block —
    appending even an empty-string sentinel would change the hashed
    param repr, so plain-feature artifacts from earlier rounds would
    stop loading (review r13)."""
    if ngram_buckets <= 0:
        return ()
    from .dsir import HASH_VERSION

    return (HASH_VERSION,)


def quality_lr_features(text: Column) -> Dict[str, Column]:
    """The classifier's feature columns — engineered from the existing
    quality/repetition primitives, all JVM expressions."""
    from .text import quality_metrics, repetition_stats

    m = quality_metrics(text)
    r = repetition_stats(text)
    return {
        "log_chars": F.round(F.log(m["n_chars"] + F.lit(1.0)), 6),
        "n_words_log": F.round(F.log(m["n_words"] + F.lit(1.0)), 6),
        "alpha_ratio": m["alpha_ratio"],
        "digit_ratio": m["digit_ratio"],
        "punct_ratio": m["punct_ratio"],
        "stopword_ratio": m["stopword_ratio"],
        "dup_word_ratio": r["dup_word_ratio"],
    }


def quality_lr_fit(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   label: Optional[Column] = None,
                   label_key: Optional[str] = None,
                   sample_cap: int = 2048, iters: int = 400,
                   step: float = 0.5, seed_threshold: float = 0.6,
                   ngram_buckets: int = 0,
                   cache_key: Optional[str] = None,
                   store=None, store_token: Optional[str] = None):
    """(means, stds, weights, bias[, ngram_w, ngram_buckets]): fit the LR
    on a bounded deterministic sample.  Features standardize before the
    fit so one step size works across scales; the returned artifact
    carries the standardization so scoring is self-contained.
    Deterministic: fixed init, full-batch gradient descent, sorted
    sample.  Rows with NULL text are excluded from the fit (the rule
    filters tolerate them; a classifier cannot learn from NULL features).

    ``ngram_buckets > 0`` adds a BAG-OF-HASHED-GRAMS block (the
    fastText/DCLM recipe, Joulin et al. 2016 / Li et al. 2024): every
    uni+bigram hashes into a bucket (``dsir.hashed_gram_buckets`` — the
    same projection DSIR uses), a document's block features are its
    bucket frequencies (counts / n_grams), and the block trains jointly
    with the engineered scalars under the same standardization.  The
    returned artifact folds the block's standardization INTO the bucket
    weights (w/sigma, mean terms into the bias), so scoring stays one
    JVM aggregate over the gram array — no per-bucket columns, no UDF.

    ``label_key`` names the labeling rule and is REQUIRED for caching or
    persistence with a custom ``label`` — the Column itself cannot hash,
    and omitting it would let a refit under a different rule silently
    return the previous rule's weights."""
    from .. import memo
    from .artifacts import store_tier

    persisting = store is not None and store_token is not None
    if label is not None and label_key is None \
            and (cache_key is not None or persisting):
        raise ValueError("a custom label needs label_key when caching or "
                         "persisting (the label identity must reach the "
                         "cache key / artifact name)")
    lkey = label_key if label is not None else "default"
    key = None if cache_key is None else (
        cache_key, text_col, id_col, lkey, sample_cap, iters, step,
        seed_threshold, ngram_buckets, *_ngram_hash_v(ngram_buckets))
    tier = store_tier("arrays", "quality_lr", cache_key, store, store_token,
                      text_col, lkey, sample_cap, iters, step,
                      seed_threshold, ngram_buckets,
                      *_ngram_hash_v(ngram_buckets))
    got = memo.get("quality_lr", key, lambda: _lr_fit(
        df, text_col, id_col, label, sample_cap, iters, step,
        seed_threshold, ngram_buckets), store=tier)[0]
    art = (got["means"], got["stds"], got["weights"], float(got["bias"]))
    if "ngram_w" in got:
        art = art + (got["ngram_w"], int(got["ngram_buckets"]))
    return art


def _lr_fit(df, text_col, id_col, label, sample_cap, iters, step,
            seed_threshold, ngram_buckets) -> tuple:
    """The fit behind :func:`quality_lr_fit`: its store payload
    (named arrays, {})."""
    from .simsearch import sample_rows
    from .text import quality_score

    feats = quality_lr_features(F.col(text_col))
    lab = label if label is not None else (
        quality_score(F.col(text_col)) >= F.lit(seed_threshold))
    sampled = sample_rows(
        df.filter(F.col(text_col).isNotNull()).select(id_col, text_col),
        sample_cap, id_col)
    cols = [F.col(id_col).alias("__id"),
            *[c.alias(n) for n, c in feats.items()],
            lab.cast("double").alias("__y")]
    if ngram_buckets > 0:
        from .dsir import hashed_gram_buckets

        cols.append(hashed_gram_buckets(F.col(text_col),
                                        ngram_buckets).alias("__g"))
    rows = sampled.select(*cols).collect()
    rows.sort(key=lambda r: r["__id"])
    rows = [r for r in rows
            if r["__y"] is not None
            and all(r[n] is not None for n in FEATURE_NAMES)]
    if not rows:
        raise ValueError("quality_lr_fit: no usable (non-NULL) rows in "
                         "the fit sample")
    X = np.array([[float(r[n]) for n in FEATURE_NAMES] for r in rows])
    if ngram_buckets > 0:
        # bucket frequency block: counts / n_grams per doc (bounded:
        # sample_cap x ngram_buckets floats on the driver)
        G = np.stack([
            np.bincount(np.asarray(r["__g"] or [], dtype=np.int64),
                        minlength=ngram_buckets).astype(np.float64)
            / max(len(r["__g"] or []), 1)
            for r in rows])
        X = np.hstack([X, G])
    y = np.array([float(r["__y"]) for r in rows])
    means = X.mean(axis=0)
    stds = np.maximum(X.std(axis=0), 1e-9)
    Z = (X - means) / stds
    w = np.zeros(Z.shape[1])
    b = 0.0
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Z @ w + b)))
        g = p - y
        w -= step * (Z.T @ g) / len(y)
        b -= step * float(g.mean())
    k = len(FEATURE_NAMES)
    if ngram_buckets > 0:
        # fold the block's standardization into per-bucket weights and
        # the bias: sum_j w_j (x_j - mu_j)/s_j  ==  sum_j (w_j/s_j) x_j
        # - sum_j w_j mu_j/s_j — scoring then needs only a gram-array
        # aggregate against ngram_w (engine-side; no per-bucket columns)
        wn = w[k:] / stds[k:]
        b_eff = float(b - np.sum(w[k:] * means[k:] / stds[k:]))
        return dict(means=means[:k], stds=stds[:k], weights=w[:k],
                    bias=np.float64(b_eff), ngram_w=wn,
                    ngram_buckets=np.int64(ngram_buckets)), {}
    return dict(means=means, stds=stds, weights=w,
                bias=np.float64(b)), {}


def quality_lr_score(text: Column, art) -> Column:
    """sigmoid(w·(x - mean)/std + b) as one JVM expression — corpus-wide
    scoring costs a scan, no shuffle, no Python.

    With a hashed-gram block (6-element artifact) the block's term is
    ``mean over the doc's grams of ngram_w[bucket(g)]`` — the bucket
    weight array is a FOLDED literal (ConstantFolding collapses the
    all-literal ``F.array`` before codegen), so the lookup is one
    ``aggregate`` over the gram array inside the same scan stage."""
    means, stds, w, b = art[:4]
    feats = quality_lr_features(text)
    z = F.lit(float(b))
    for i, nm in enumerate(FEATURE_NAMES):
        z = z + F.lit(float(w[i])) * (
            (feats[nm] - F.lit(float(means[i]))) / F.lit(float(stds[i])))
    if len(art) > 4 and art[5]:
        from .dsir import hashed_gram_buckets

        wn, n_buckets = art[4], int(art[5])
        warr = F.array(*[F.lit(float(v)) for v in wn])
        grams = hashed_gram_buckets(text, n_buckets)
        gsum = F.aggregate(
            grams, F.lit(0.0),
            lambda acc, bkt: acc + F.element_at(warr,
                                                bkt.cast("int") + 1))
        n = F.size(grams)
        z = z + F.when(n > 0, gsum / n).otherwise(F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_lr_holdout_accuracy(df: DataFrame, art,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                holdout_cap: int = 512,
                                seed_threshold: float = 0.6,
                                label: Optional[Column] = None
                                ) -> DataFrame:
    """Single-row (n, agree) frame: classifier decision (score >= 0.5) vs
    the labeling rule on a DIFFERENT deterministic sample (ids hashed with
    a shifted salt, so train/holdout overlap is incidental, not built in).
    The self-validation consumers turn this into a verdict: a broken fit,
    feature drift, or scoring bug drops agreement to ~coin-flip."""
    from .text import quality_score

    h = F.abs(F.xxhash64(F.col(id_col).cast("string"), F.lit("holdout")))
    sampled = (df.select(id_col, text_col)
               .orderBy(h.asc(), F.col(id_col).asc()).limit(holdout_cap))
    score = quality_lr_score(F.col(text_col), art)
    rule = label if label is not None else (
        quality_score(F.col(text_col)) >= F.lit(seed_threshold))
    return sampled.agg(
        F.count("*").alias("n"),
        F.sum(((score >= 0.5) == rule).cast("int")).alias("agree"))
