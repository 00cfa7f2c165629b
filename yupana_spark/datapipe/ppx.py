"""CCNet-style perplexity filtering: interpolated bigram LM (Wenzek et
al. 2020 — fit a language model on a clean reference corpus, score every
crawl document, drop the high-perplexity tail).

The LM is a word-bigram model with unigram back-off interpolation:

    p(w2 | w1) = lam * c_b(w1,w2)/c_u(w1)
               + (1-lam) * (c_u(w2) + alpha) / (N + alpha*(V+1))

with ``lam``/``alpha`` defaulting to BINARY-EXACT literals (0.75 / 0.5)
so an independent engine evaluating the same formula shape produces
bit-identical doubles before the final log; per-document cross-entropy
is ``-avg(ln p)`` over the doc's adjacent word pairs, rounded like the
unigram scorer (``text.unigram_lm_scores``).

100 TB shape (round-7 verdict stretch ask):
* FIT = two corpus groupBy shuffles (unigram counts, bigram counts — the
  conditional ratio joins them back co-keyed on w1), capped to the
  ``uni_cap``/``big_cap`` most frequent entries via TakeOrderedAndProject
  (never a global sort) and PERSISTED through the shared ArtifactStore —
  train once per reference corpus, zero fit jobs on a warm store.
* SCORE = explode the corpus into adjacent pairs keyed by xxhash64 gram
  hashes and equi-join the two LM frames.  The join strategy is
  VOLUME-GATED (house posture, cf. ``dedup._rung3_exact``): under the
  gate the bounded LM frames broadcast; above it both joins are
  shuffle-hash on the gram-hash key — the vocabulary of a web-scale LM
  is never collected or broadcast, the pair stream and LM shuffle on the
  same key.  No UDFs anywhere; everything stays in the scan/join stages.

Reference: this operator has no counterpart in the reference engine —
it extends the training-data pipeline surface (BASELINE.json north star)
like the rest of ``datapipe``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

#: rows per LM frame above which the scoring joins stop broadcasting
VOCAB_GATE = 1 << 20


def _pairs(ws: Column) -> Column:
    """array<struct<w1,w2>> of adjacent word pairs."""
    n = F.size(ws)
    return F.when(n >= 2, F.zip_with(
        F.slice(ws, 1, n - 1), F.slice(ws, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def bigram_lm_fit(target: DataFrame, text_col: str = "text",
                  uni_cap: int = 1 << 20, big_cap: int = 1 << 22,
                  cache_key: Optional[str] = None, store=None,
                  store_token: Optional[str] = None):
    """Fit the LM once: (uni DataFrame [h, c_u], big DataFrame [hb, m],
    N total tokens, V distinct tokens) over the REFERENCE corpus.

    ``m`` is the exact maximum-likelihood conditional ``c_b/c_u(w1)``
    folded at fit time (both counts full-corpus ints, one IEEE divide).
    ``N``/``V`` are computed over the FULL counts before capping, so the
    back-off mass is exact regardless of caps.  Tokenization mirrors
    ``text.unigram_lm_scores`` (whitespace words of the lowercased text).
    Same memo + ArtifactStore contract as every fit in this package.
    """
    from .. import memo
    from .artifacts import store_tier
    from .text import words

    def counts():
        ws = target.select(words(F.lower(F.col(text_col))).alias("__ws"))
        toks = ws.select(F.explode("__ws").alias("w"))
        return ws, toks.groupBy("w").agg(F.count("*").alias("c_u"))

    def fit_uni():
        uc = counts()[1]
        tot = uc.agg(F.sum("c_u").alias("N"),
                     F.count("*").alias("V")).collect()[0]
        # caps: TakeOrderedAndProject (count desc, word asc —
        # deterministic), bounded artifacts.  Unseen-after-cap entries
        # back off exactly like truly-unseen ones, so capping only
        # coarsens, never corrupts.
        uni = (uc.orderBy(F.col("c_u").desc(), F.col("w").asc())
               .limit(uni_cap)
               .select(F.xxhash64("w").alias("h"), "c_u")
               .localCheckpoint(eager=True))
        # frame sizes are fit-time facts — carried in the artifact so
        # every scoring call can pick its join strategy WITHOUT probe
        # jobs (the counts run over the just-checkpointed frames)
        return uni, {"N": float(tot["N"] or 0.0),
                     "V": float(tot["V"] or 0.0), "rows": uni.count()}

    def fit_big():
        ws, uc = counts()
        bc = (ws.select(F.explode(_pairs(F.col("__ws"))).alias("p"))
              .select("p.w1", "p.w2")
              .groupBy("w1", "w2").agg(F.count("*").alias("c_b")))
        big = (bc.join(uc, bc["w1"] == uc["w"])          # co-keyed on w1
               .select("w1", "w2",
                       (F.col("c_b").cast("double")
                        / F.col("c_u").cast("double")).alias("m"),
                       "c_b")
               .orderBy(F.col("c_b").desc(), F.col("w1").asc(),
                        F.col("w2").asc())
               .limit(big_cap)
               .select(F.xxhash64("w1", "w2").alias("hb"), "m")
               .localCheckpoint(eager=True))
        return big, {"rows": big.count()}

    key = None if cache_key is None else (cache_key, text_col, uni_cap,
                                          big_cap)
    uni, ux = memo.get("ppx_uni", key, fit_uni, store=store_tier(
        "df", "ppx_uni", cache_key, store, store_token, text_col, uni_cap,
        big_cap, spark=target.sparkSession))
    big, bx = memo.get("ppx_big", key, fit_big, store=store_tier(
        "df", "ppx_big", cache_key, store, store_token, text_col, uni_cap,
        big_cap, spark=target.sparkSession))
    return (uni, big, float(ux["N"]), float(ux["V"]), ux.get("rows"),
            bx.get("rows"))


def bigram_xent_scores(df: DataFrame, art, text_col: str = "text",
                       id_col: str = "doc_id", lam: float = 0.75,
                       alpha: float = 0.5, scale: int = 4,
                       vocab_gate: Optional[int] = VOCAB_GATE
                       ) -> DataFrame:
    """(id, big_xent) for every document with >= 2 words — per-doc
    cross-entropy under the fitted interpolated bigram LM; docs with < 2
    words carry no bigram evidence and are omitted (left-join back for
    full coverage, same contract as ``unigram_lm_scores``).

    ``vocab_gate`` picks the scoring-join strategy: the bounded LM frames
    broadcast under it; above it (web-scale vocabulary) both joins are
    shuffle-hash equi-joins on the gram-hash key — nothing is collected
    or broadcast.  ``None`` forces the shuffle-hash (large) shape.  The
    frame sizes ride IN the artifact (fit-time facts), so a warm-artifact
    scoring call fires zero probe jobs; probes only run for a legacy
    4-tuple artifact that predates the carried counts.
    """
    uni, big, n_total, v_total = art[:4]
    n_uni, n_big = (art[4], art[5]) if len(art) >= 6 else (None, None)
    small = False
    if vocab_gate is not None:
        if n_uni is not None and n_big is not None:
            small = n_uni <= vocab_gate and n_big <= vocab_gate
        else:
            # the frames are materialized artifacts: bounded count probes
            small = (uni.limit(vocab_gate + 1).count() <= vocab_gate
                     and big.limit(vocab_gate + 1).count() <= vocab_gate)
    from .text import words

    pairs = (df.select(F.col(id_col).alias("id"),
                       words(F.lower(F.col(text_col))).alias("__ws"))
             .select("id", F.explode(_pairs(F.col("__ws"))).alias("p"))
             .select("id",
                     F.xxhash64("p.w1", "p.w2").alias("hb"),
                     F.xxhash64("p.w2").alias("h")))
    jb = F.broadcast(big) if small else big.hint("shuffle_hash")
    ju = F.broadcast(uni) if small else uni.hint("shuffle_hash")
    denom = F.lit(n_total + alpha * (v_total + 1.0))
    p = (F.lit(float(lam)) * F.coalesce(F.col("m"), F.lit(0.0))
         + F.lit(1.0 - float(lam))
         * ((F.coalesce(F.col("c_u").cast("double"), F.lit(0.0))
             + F.lit(float(alpha))) / denom))
    return (pairs.join(jb, "hb", "left")
            .join(ju, "h", "left")
            .groupBy("id")
            .agg(F.round(F.avg(-F.log(p)), scale).alias("big_xent")))


def fused_lm_scores(df: DataFrame, art, text_col: str = "text",
                    id_col: str = "doc_id", vocab_cap: int = 1 << 16,
                    oov_count: float = 0.5, lam: float = 0.75,
                    alpha: float = 0.5, scale: int = 4,
                    cache_key: Optional[str] = None, store=None,
                    store_token: Optional[str] = None,
                    carry: Optional[dict] = None,
                    vocab_gate: Optional[int] = VOCAB_GATE) -> DataFrame:
    """(id, *carry, xent, big_xent) — the unigram cross-entropy
    (``text.unigram_lm_scores``) and the bigram cross-entropy
    (:func:`bigram_xent_scores`) of every document from ONE corpus scan
    and ONE aggregate (r17, guide §2.2 — shuffle fewer frames).

    Separately, the two scorers each lower+split+explode the full text
    (tokens vs adjacent pairs) and meet in a doc_id sort-merge join of
    two aggregate outputs.  Fused, one Generate explodes the per-doc
    ``concat(tokens, pairs)`` stream (each element a struct tagged by
    which key is non-NULL: ``w`` for a token, ``hb``/``h`` for a pair),
    the bounded LM frames — the capped unigram vocab, the capped bigram
    LM — attach via broadcast hash joins on that one stream, and a
    single groupBy(id) computes both averages as conditional aggregates
    (``avg`` ignores the other kind's NULLs).  Net: one corpus
    scan/tokenize instead of two, one exchange instead of two, and no
    doc_id join — at any corpus size.

    VALUE EQUIVALENCE (oracle-critical): each doc is one input row, so
    its exploded rows stay in one task, in array order — tokens first,
    then pairs, each sub-sequence in exactly the order the separate
    scorers accumulate; the conditional ``when`` guards reproduce each
    scorer's row set precisely (token-less docs keep xent NULL via the
    ``explode_outer`` NULL row; <2-word docs keep big_xent NULL as an
    empty avg — the old left-join misses).  The nll/p expressions are
    the scorers' own shapes, so every double is bit-identical before
    the shared ``round(·, scale)``.

    SCALE GATE: the fusion holds only while the LM frames broadcast
    (the bounded-artifact posture — caps are fit-time constants, so
    this is corpus-size independent).  Above ``vocab_gate`` the bigram
    joins must shuffle by gram hash, where token rows (hb NULL) would
    skew into one partition — so the call falls back to EXACTLY the
    separate-frame composition (``unigram_lm_scores(carry=...)``
    left-joined with :func:`bigram_xent_scores`), the already-audited
    above-gate shape.  Same columns, same values, either path.
    """
    from .text import unigram_lm_fit, unigram_lm_scores, words

    uni, big, n_total, v_total = art[:4]
    n_uni, n_big = (art[4], art[5]) if len(art) >= 6 else (None, None)
    small = False
    if vocab_gate is not None:
        if n_uni is not None and n_big is not None:
            small = n_uni <= vocab_gate and n_big <= vocab_gate
        else:
            small = (uni.limit(vocab_gate + 1).count() <= vocab_gate
                     and big.limit(vocab_gate + 1).count() <= vocab_gate)
    if not small:
        u = unigram_lm_scores(df, text_col, id_col, vocab_cap, oov_count,
                              scale, cache_key, store, store_token, carry)
        b = bigram_xent_scores(df, art, text_col, id_col, lam, alpha,
                               scale, vocab_gate)
        return u.join(b, "id", "left")

    names = list(carry or ())
    bad = set(names) & {"id", "w", "hb", "h", "xent", "big_xent",
                        "__c", "__t", "__ws", "m", "c_u"}
    if bad:
        raise ValueError(f"carry names collide with internals: {bad}")
    # own Project under the Generate: carry expressions and the token
    # array evaluate once per input row (ExtractGenerator alias caveat —
    # see unigram_lm_scores)
    pre = df.select(F.col(id_col).alias("id"),
                    *[c.alias(n) for n, c in (carry or {}).items()],
                    words(F.lower(F.col(text_col))).alias("__ws"))
    ws = F.col("__ws")
    tok_s = F.transform(ws, lambda w: F.struct(
        w.alias("w"),
        F.lit(None).cast("bigint").alias("hb"),
        F.lit(None).cast("bigint").alias("h")))
    pair_s = F.transform(_pairs(ws), lambda p: F.struct(
        F.lit(None).cast("string").alias("w"),
        F.xxhash64(p["w1"], p["w2"]).alias("hb"),
        F.xxhash64(p["w2"]).alias("h")))
    # NULL text: words() is NULL, so concat propagates NULL and
    # explode_outer emits the same single NULL row a NULL token array
    # produces — xent and big_xent both stay NULL, like the old forms
    rows = (pre.select("id", *names,
                       F.explode_outer(F.concat(tok_s, pair_s)).alias("g"))
            .select("id", *names, "g.w", "g.hb", "g.h"))
    if cache_key is not None:
        vocab, total_v = unigram_lm_fit(df, text_col, vocab_cap, cache_key,
                                        store=store,
                                        store_token=store_token)
        scored = (rows.join(F.broadcast(vocab), "w", "left")
                  .withColumn("__t", F.lit(total_v)))
    else:
        # inline fit over a clean token lineage (no pair/NULL rows, like
        # the no-carry unigram path); the broadcast subplan reuses the
        # scan, the total rides the single-row crossJoin
        toks = df.select(F.explode(words(F.lower(F.col(text_col))))
                         .alias("w"))
        counts = toks.groupBy("w").agg(F.count("*").alias("__c"))
        vocab = (counts.orderBy(F.col("__c").desc(), F.col("w").asc())
                 .limit(vocab_cap))
        total = counts.agg(F.sum("__c").cast("double").alias("__t"))
        scored = (rows.join(F.broadcast(vocab), "w", "left")
                  .crossJoin(total))
    scored = (scored.join(F.broadcast(big), "hb", "left")
              .join(F.broadcast(uni), "h", "left"))
    nll_u = -F.log(F.coalesce(F.col("__c").cast("double"),
                              F.lit(float(oov_count))) / F.col("__t"))
    denom = F.lit(n_total + alpha * (v_total + 1.0))
    p = (F.lit(float(lam)) * F.coalesce(F.col("m"), F.lit(0.0))
         + F.lit(1.0 - float(lam))
         * ((F.coalesce(F.col("c_u").cast("double"), F.lit(0.0))
             + F.lit(float(alpha))) / denom))
    aggs = [F.first(n).alias(n) for n in names]
    aggs.append(F.round(F.avg(F.when(F.col("w").isNotNull(), nll_u)),
                        scale).alias("xent"))
    aggs.append(F.round(F.avg(F.when(F.col("hb").isNotNull(), -F.log(p))),
                        scale).alias("big_xent"))
    return scored.groupBy("id").agg(*aggs)


def ppx_cutoffs(scores: DataFrame, value_col: str = "big_xent",
                group_cols=("lang",), n_buckets: int = 3,
                approx_accuracy: Optional[int] = None,
                scale: int = 4) -> DataFrame:
    """Per-group quantile cutoffs for :func:`ppx_buckets` — one row per
    group with ``__q0 .. __q{n-2}`` columns.

    This is the FIT half of CCNet bucketing, and like every other fit
    here it is a train-once artifact: exact ``percentile`` by default
    (the oracle-able fixture path) or the Greenwald-Khanna
    ``approx_percentile`` sketch when ``approx_accuracy`` is set — the
    100 TB posture, where per-group value counts are unbounded and CCNet
    itself derives cutoffs from a sample.  One groupBy over the grouping
    key; the output is bounded by group cardinality.  Cutoffs are
    rounded to ``scale`` — the same rounding as the scores they cut —
    so any SQL engine reproduces the exact comparison."""
    if n_buckets < 2:
        raise ValueError("ppx_cutoffs needs at least 2 buckets")
    qcols = [f"__q{i}" for i in range(n_buckets - 1)]
    if set(qcols) & set(scores.columns):
        raise ValueError("__q* are reserved by ppx_cutoffs")
    if approx_accuracy is None:
        aggs = [F.round(F.percentile(value_col, F.lit(i / n_buckets)),
                        scale).alias(qcols[i - 1])
                for i in range(1, n_buckets)]
    else:
        aggs = [F.round(F.percentile_approx(value_col,
                                            F.lit(i / n_buckets),
                                            F.lit(approx_accuracy)), scale)
                .alias(qcols[i - 1]) for i in range(1, n_buckets)]
    return scores.groupBy(*[F.col(c) for c in group_cols]).agg(*aggs)


def ppx_buckets(scores: DataFrame, value_col: str = "big_xent",
                group_cols=("lang",),
                labels=("head", "middle", "tail"),
                approx_accuracy: Optional[int] = None,
                scale: int = 4,
                cuts: Optional[DataFrame] = None) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §3.3, public): per-group (per-language) quantile cutoffs split the
    corpus into ``len(labels)`` equal-mass buckets by LM score — the
    standard "train on head+middle, drop tail" curation knob that
    completes the CCNet pipeline (LM fit + scoring live above).

    Input is a per-doc score frame (e.g. ``bigram_xent_scores`` joined
    with the grouping column).  Output = input plus a ``bucket`` label:
    ``x <= q_{1/n}`` -> first label, ``<= q_{2/n}`` -> second, else last;
    NULL scores (no evidence) keep a NULL bucket, and rows whose group
    key is NULL never match the cutoff join (no corpus, no cutoffs).

    Pass ``cuts`` (a :func:`ppx_cutoffs` frame, typically persisted or
    memoized like every other fitted artifact) to label against FIXED
    cutoffs — the steady-state production shape, where re-deriving the
    quantiles per query would re-scan the score lineage; omitted, the
    cutoffs are derived inline from ``scores`` itself (the one-shot
    shape).  The cutoff join is an explicit BROADCAST (r17, guide §3.1):
    the cutoff side is bounded by group cardinality (#languages x a few
    cutoff columns) at ANY corpus size, but a persisted/checkpointed cuts
    frame carries no size stats, so leaving the strategy to the planner
    shuffled the whole per-doc score frame by ``group_cols`` into a
    sort-merge join (2 exchanges + 2 sorts on the widest frame of the
    pipeline); the hint pins the scale-correct shape statically."""
    n = len(labels)
    if n < 2:
        raise ValueError("ppx_buckets needs at least 2 labels")
    qcols = [f"__q{i}" for i in range(n - 1)]
    if {"bucket", *qcols} & set(scores.columns):
        raise ValueError("bucket/__q* are reserved by ppx_buckets")
    if cuts is None:
        cuts = ppx_cutoffs(scores, value_col, group_cols, n,
                           approx_accuracy, scale)
    else:
        # exact arity, not subset: a cuts frame fit with MORE buckets
        # would pass a subset check, label against the wrong quantiles
        # (quartile __q0 is not tercile __q0) and leak its extra __q*
        # columns into the output (review r11)
        have = sorted(c for c in cuts.columns if c.startswith("__q"))
        if have != sorted(qcols):
            raise ValueError(
                f"cuts frame must carry exactly {sorted(qcols)} "
                f"(len(labels)-1 cutoffs), got {have}")
    joined = scores.join(F.broadcast(cuts), list(group_cols), "left")
    expr = F.lit(labels[-1])
    for i in reversed(range(n - 1)):
        expr = F.when(F.col(value_col) <= F.col(qcols[i]),
                      F.lit(labels[i])).otherwise(expr)
    bucket = F.when(F.col(value_col).isNotNull()
                    & F.col(qcols[0]).isNotNull(), expr)
    return joined.withColumn("bucket", bucket).drop(*qcols)
