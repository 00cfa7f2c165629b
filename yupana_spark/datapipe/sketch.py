"""KMV / theta distinct sketches with set operations — bounded-size
distinct counting that also supports UNION and INTERSECTION estimates
across corpora (vocabulary overlap, shared-shingle mass, "how much of
crawl B is already in training set A" planning queries).

``approx_count_distinct`` (HyperLogLog) answers per-group distinct counts
but HLL sketches cannot intersect (only union); the K-Minimum-Values /
theta sketch family (Beyer et al. 2007, "On Synopses for Distinct-Value
Estimation Under Multiset Operations"; the Apache DataSketches theta
sketch) keeps the k smallest hash FRACTIONS of the value set, so two
sketches intersect by intersecting their sample sets below a common
threshold theta.  Estimators:

* distinct:     (k-1) / h_k               (h_k = k-th smallest fraction)
* fixed-theta:  |{h < theta}| / theta     (when fewer than k survive)
* intersection: theta = min(theta_A, theta_B);
                |A_mins ∩ B_mins below theta| / theta

relative std error ~ 1/sqrt(k-2) (~6.3% at k=256).

Scale shape: a one-pass per-group ``approx_count_distinct`` sizes a hash
PREFILTER threshold (keep only hash fractions < ~8k/n), so the exchange
and the per-group sort see ~8k rows per group instead of n — the
collect_set/array_sort step is bounded by construction, never by data
volume.  Everything is JVM-side built-ins (xxhash64, array_sort,
array_intersect): no UDF, no driver collect; sketches live in DataFrame
columns and compose in-plan.

The reference engine's only cardinality sketch is HLL
(yupana-core HLL-based hll_count); set-operation sketches are a flagged
extension like the session windows (SURVEY.md §2.9).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# prefilter safety factor: expected survivors per group = SAFETY * k while
# P(survivors < k) is astronomically small (Chernoff at 8x the mean) even
# with HLL's ~2.3% default rsd on the sizing estimate
_SAFETY = 8

# broadcast budget for the prefilter's per-group sizes frame: rows are
# (by..., __thr) — tens of bytes each, so 1M groups ≈ a few tens of MB.
# Past the gate the threshold join falls back to shuffle_hash (the `by`
# cardinality is data-dependent; an unconditional broadcast would OOM the
# driver on a high-cardinality grouping at 100 TB)
_SIZES_BCAST_GATE = 1_000_000

# memo "kmv_sizes_small": (df.semanticHash, col, by, k, gate) -> small:
# bool — repeated sketch builds over the same input reuse the gate
# DECISION so only the first call pays the probe job.  Deliberately NOT
# the checkpointed frame: a cached localCheckpoint pins executor storage
# for the app lifetime and a single executor loss would poison the entry
# forever; the sizes aggregation itself recomputes lazily
# inside the sketch job, exactly as the unprobed path always did


def _kcol(k) -> Column:
    """Normalize a sketch size to a Column: estimators accept either the
    carried ``k`` column from a ``kmv_sketch`` row (the safe form — no
    way to desync) or a plain int for ad-hoc use."""
    return k if isinstance(k, Column) else F.lit(int(k))


def hash_frac(col: Column) -> Column:
    """Uniform hash of ``col`` mapped to a fraction in [0, 1) —
    xxhash64's signed 64-bit output shifted to unsigned and scaled.
    Deterministic across sessions/engines (same seed), so sketches built
    in different jobs intersect correctly."""
    return F.xxhash64(col) / F.lit(float(1 << 64)) + F.lit(0.5)


def kmv_sketch(df: DataFrame, col: str, by: Sequence[str] = (),
               k: int = 256, prefilter: bool = True,
               n_groups: Optional[int] = None) -> DataFrame:
    """One row per ``by`` group: ``mins`` (the at-most-k smallest distinct
    hash fractions of ``col``, ascending), ``theta`` (the prefilter
    threshold under which ``mins`` is the COMPLETE distinct-hash set —
    1.0 when no prefilter ran) and ``k`` (the build size, carried IN the
    row so estimators can read it back instead of trusting the caller to
    repeat the same constant).  ``kmv_distinct_est`` / the intersection
    estimator consume these three columns.

    With ``prefilter`` (the 100 TB path) a first approx_count_distinct
    pass sizes a per-group hash threshold ~``_SAFETY * k / n`` and only
    hashes under it enter the exchange — the per-group state is ~8k
    values regardless of group size.  The surviving mins are IDENTICAL
    to the unfiltered sketch's (the k smallest fractions all sit far
    below the threshold), asserted by test_sketch's equality test."""
    by = list(by)
    if {"__h", "__thr"} & set(df.columns):
        raise ValueError("__h/__thr are reserved by kmv_sketch")
    # NULLs are not values: COUNT(DISTINCT) and approx_count_distinct
    # ignore them, and xxhash64 would otherwise fold every NULL to the
    # constant seed fraction — one spurious 'distinct value' that even
    # intersects across corpora
    df = df.filter(F.col(col).isNotNull())
    h = hash_frac(F.col(col)).alias("__h")
    if prefilter:
        sizes = (df.groupBy(*by)
                 .agg(F.approx_count_distinct(col).alias("__n"))
                 .withColumn("__thr",
                             F.least(F.lit(1.0),
                                     F.lit(float(_SAFETY * k)) / F.col("__n")))
                 .drop("__n"))
        # group cardinality is data-dependent — broadcast small,
        # shuffle_hash past the gate (house pattern, dedup.PAIR_GATE).
        # ``n_groups`` (a caller-known bound, e.g. from the corpus
        # catalog) skips the bounded probe; without it the sizes frame is
        # checkpointed once and probed with a limit(gate+1) count
        if by:
            if n_groups is None:
                from .. import memo

                small = memo.get(
                    "kmv_sizes_small",
                    (df.semanticHash(), col, tuple(by), k,
                     _SIZES_BCAST_GATE),
                    lambda: (sizes.limit(_SIZES_BCAST_GATE + 1).count()
                             <= _SIZES_BCAST_GATE), cap=256)
            else:
                small = n_groups <= _SIZES_BCAST_GATE
            sz = F.broadcast(sizes) if small else sizes.hint("shuffle_hash")
            joined = df.select(*by, h).join(sz, by)
        else:
            joined = df.select(h).crossJoin(F.broadcast(sizes))
        src = joined.filter(F.col("__h") < F.col("__thr"))
        thr_agg = F.first("__thr")
    else:
        src = df.select(*by, h).withColumn("__thr", F.lit(1.0))
        thr_agg = F.lit(1.0)
    return (src.groupBy(*by)
            .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k)
                 .alias("mins"),
                 thr_agg.alias("theta"),
                 F.lit(int(k)).alias("k")))


def kmv_distinct_est(mins: Column, theta: Column, k=256) -> Column:
    """Distinct-count estimate from a ``kmv_sketch`` row.  KMV form
    (k-1)/h_k when the sketch is full; fixed-theta form |mins|/theta when
    fewer than k hashes survived (exact count when theta is 1.0).

    ``k`` MUST be the size the sketch was built with — pass the carried
    ``k`` column from the sketch row (``F.col("k")``) so a build/estimate
    mismatch is impossible; a plain int is accepted for ad-hoc use but
    couples the call sites by hand."""
    kc = _kcol(k)
    full = F.size(mins) >= kc
    return F.when(full, (kc - F.lit(1)).cast("double")
                  / F.element_at(mins, kc)) \
        .otherwise(F.size(mins) / theta)


def _eff_theta(mins: Column, theta: Column, k) -> Column:
    # the region where this sketch's sample set is complete
    kc = _kcol(k)
    return F.when(F.size(mins) >= kc, F.element_at(mins, kc)) \
        .otherwise(theta)


def kmv_intersect_est(mins_a: Column, theta_a: Column,
                      mins_b: Column, theta_b: Column,
                      k=256, k_b=None) -> Column:
    """|A ∩ B| estimate from two ``kmv_sketch`` rows (theta-sketch
    intersection): both sample sets are complete below
    theta = min(theta_eff_A, theta_eff_B), so the shared hashes under
    theta are a uniform sample of the intersection at rate theta.

    ``k``/``k_b`` (default: same as ``k``) must match each side's build
    size — pass each side's carried ``k`` column to stay decoupled; the
    two sketches need not share a size."""
    theta = F.least(_eff_theta(mins_a, theta_a, k),
                    _eff_theta(mins_b, theta_b, k if k_b is None else k_b))
    shared = F.size(F.filter(F.array_intersect(mins_a, mins_b),
                             lambda v: v < theta))
    return shared / theta


def kmv_union_est(mins_a: Column, theta_a: Column,
                  mins_b: Column, theta_b: Column,
                  k=256, k_b=None) -> Column:
    """|A ∪ B| estimate: merged distinct hashes below the common theta,
    scaled by theta (theta-sketch union).  ``k``/``k_b`` as in
    :func:`kmv_intersect_est`."""
    theta = F.least(_eff_theta(mins_a, theta_a, k),
                    _eff_theta(mins_b, theta_b, k if k_b is None else k_b))
    merged = F.size(F.filter(F.array_distinct(F.concat(mins_a, mins_b)),
                             lambda v: v < theta))
    return merged / theta


def kmv_rse(k: int = 256) -> float:
    """Relative standard error of the KMV distinct estimator."""
    return 1.0 / (max(k, 3) - 2) ** 0.5
