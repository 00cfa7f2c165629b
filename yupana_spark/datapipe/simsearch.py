"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k, fully distributed (per-partition
  top-k then a driver-side k-merge via Spark's sort+limit; no collect of the
  corpus).  The baseline.
- ``hyperplane_lsh_*``: random-hyperplane (SRP) signatures — bucket candidates
  by signature prefix; probes only matching buckets, then exact rerank.  The
  scale path: one narrow scan + a bucket-pruned join instead of a full cross
  product.
- ``ivf_*``: inverted-file index via KMeans (pyspark.ml) — assign every
  vector to a centroid, search only the ``nprobe`` closest centroids.

Hyperplanes/centroids are deterministic (fixed seed) so results are
reproducible.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .. import memo
from .artifacts import store_tier
from .dedup import cosine


def _query_lit(query_vec: Sequence[float]) -> Column:
    return F.array([F.lit(float(x)) for x in query_vec])


def brute_force_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine: TakeOrderedAndProject keeps only k rows per
    partition in flight — no global sort materialization."""
    q = _query_lit(query_vec)
    return (df.select(F.col(id_col),
                      F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


# ---------------------------------------------------------------------------
# signed random projections (hyperplane LSH)
# ---------------------------------------------------------------------------
def sq8_encode(df: DataFrame, vec_col: str = "embedding",
               code_col: str = "sq8_code") -> DataFrame:
    """8-bit scalar quantization (the FAISS ``SQ8`` family, symmetric
    per-vector form): ``code_i = round(v_i / s)`` with ``s = max|v|/127``
    — one byte per dimension instead of the embedding column's eight
    (double) or FAISS's usual four (float32).  Cosine between two
    SQ8-quantized vectors needs NO stored scale (both per-vector scales
    cancel), so the code array alone serves search; the raw vectors are
    never touched by the scan.  All JVM array expressions; the scale is
    STAGED in a column before the transform lambda references it (the
    per-element recompute caveat — an inline array_max would re-scan the
    vector once per dimension)."""
    if "__sq8_s" in df.columns or code_col in df.columns:
        raise ValueError(f"__sq8_s/{code_col} are reserved by sq8_encode")
    v = F.col(vec_col)
    out = df.withColumn(
        "__sq8_s", F.array_max(F.transform(v, F.abs)) / F.lit(127.0))
    codes = F.when(
        F.col("__sq8_s") > 0,
        F.transform(v, lambda x: F.round(x / F.col("__sq8_s"))
                    .cast("tinyint"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return out.withColumn(code_col, codes).drop("__sq8_s")


def sq8_topk(encoded: DataFrame, query_vec: Sequence[float], k: int = 10,
             code_col: str = "sq8_code", id_col: str = "vec_id"
             ) -> DataFrame:
    """Top-k cosine over SQ8 codes ONLY — a narrow 1-byte-per-dim scan,
    no vector I/O: ``cos(ĉ_v, ĉ_q)`` where both sides are quantized (the
    symmetric scales cancel out of cosine exactly).  zip_with/aggregate
    dot product in whole-stage codegen, then TakeOrderedAndProject like
    ``brute_force_topk``."""
    q = np.asarray(query_vec, dtype=np.float64)
    if q.size == 0 or not np.isfinite(q).all() or np.abs(q).max() == 0:
        # an all-zero qc would silently score every vector 0.0 and
        # present the k lowest ids as a "result" — so the all-zero
        # (finite) query is rejected too, not just NaN/inf (advice r10)
        raise ValueError("sq8_topk needs a non-empty, finite, nonzero "
                         "query vector")
    s = float(np.abs(q).max()) / 127.0
    qc = [int(x) for x in np.round(q / s)]
    qn = float(np.sqrt(sum(c * c for c in qc))) or 1.0
    qlit = F.array([F.lit(c) for c in qc])
    # stage the casted code array ONCE — referencing the transform from
    # both num and den would re-cast the array per row twice
    staged = encoded.select(
        F.col(id_col),
        F.transform(F.col(code_col),
                    lambda x: x.cast("double")).alias("__c"))
    c = F.col("__c")
    num = F.aggregate(F.zip_with(c, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    den = (F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))
           * F.lit(qn))
    return (staged.select(F.col(id_col),
                          F.round(num / F.greatest(den, F.lit(1e-300)), 6)
                          .alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def srp_signature(vec_col: Column, planes: np.ndarray) -> Column:
    """Bit i = sign(dot(v, plane_i)); packed into a LONG.

    One Arrow-batched matmul per partition ((batch x dim) @ (dim x planes))
    — the per-plane interpreted aggregate lambdas this replaces evaluated
    n_planes separate fold expressions per row and dominated the LSH build."""
    if planes.shape[0] > 63:
        raise ValueError("at most 63 planes fit a signed LONG signature")
    P = planes.astype(np.float64)
    weights = np.uint64(1) << np.arange(P.shape[0], dtype=np.uint64)

    @F.pandas_udf("long")
    def sig(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series(np.zeros(0, dtype=np.int64))
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (M @ P.T) >= 0.0  # (batch, n_planes)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(packed.view(np.int64))

    return sig(vec_col)


def hyperplane_lsh_buckets(df: DataFrame, planes: np.ndarray,
                           vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("bucket", srp_signature(F.col(vec_col), planes))


def lsh_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
             n_planes: int = 12, max_hamming: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             seed: int = 42,
             bucketed: Optional[DataFrame] = None) -> DataFrame:
    """Approximate top-k: only vectors whose SRP bucket is within
    ``max_hamming`` bits of the query bucket are scored.

    ``bucketed`` (a materialized ``hyperplane_lsh_buckets(df, planes)``
    frame built with the SAME (dim, n_planes, seed) hyperplanes) skips the
    per-query bucket computation — the bucket column is the SRP index;
    production materializes it at ingest."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qv = np.asarray(query_vec, dtype=float)
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) >= 0:
            qsig |= 1 << i
    if bucketed is None:
        bucketed = hyperplane_lsh_buckets(df, planes, vec_col)
    ham = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qsig)))
    cand = bucketed.filter(ham <= max_hamming)
    q = _query_lit(query_vec)
    return (cand.select(F.col(id_col),
                        F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


# ---------------------------------------------------------------------------
# IVF (inverted file) via sample-fit KMeans
# ---------------------------------------------------------------------------
def sample_rows(df: DataFrame, cap: int, id_col: str,
                n: Optional[int] = None) -> DataFrame:
    """Deterministic <=``cap``-row subsample: the ``cap`` lowest id-hashes.

    The 100 TB posture: training/verification artifacts are fit on a BOUNDED
    sample, never the corpus.  A row-local hash-fraction filter alone gives
    ~cap rows only in expectation (the bound would be soft — binomial
    spread); the hard bound comes from ``orderBy(hash).limit(cap)``, which
    the planner runs as TakeOrderedAndProject: per-partition top-``cap``
    heaps merged once, no full sort materialization, deterministic across
    cluster layouts (hash ties broken by id).  The 4x-margin pre-filter
    keeps the heap input at ~4·cap expected rows so the top-k never scans
    the corpus ordering.  Pass ``n`` when the caller already knows the row
    count (skips the count job).
    """
    if n is None:
        n = df.count()
    if n <= cap:
        return df
    h = F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
    # pre-filter to ~4*cap expected rows (row-local, pushes into the scan),
    # then take the cap lowest hashes for a HARD deterministic bound
    frac = min(int(4 * cap * 1_000_000 // n) + 1, 1_000_000)
    return (df.filter(h < F.lit(frac))
            .orderBy(h.asc(), F.col(id_col).asc())
            .limit(cap))


def kmeans_fit(df: DataFrame, n_centroids: int, vec_col: str = "embedding",
               id_col: str = "vec_id", seed: int = 42,
               sample_cap: int = 4096, iters: int = 20,
               n: Optional[int] = None,
               cache_key: Optional[str] = None,
               store=None, store_token: Optional[str] = None) -> np.ndarray:
    """Driver-side Lloyd's KMeans on a bounded deterministic sample.

    At corpus scale a distributed KMeans over every row is wasted work — the
    centroids converge on a ~4k sample.  The collect is BOUNDED by
    ``sample_cap`` (cap * dim float64 ≈ 2 MB at dim 64) and sorted by id so
    the fit is independent of partition/collect order.  Returns the
    (n_centroids, dim) center matrix, to be closed over / broadcast.  Pass
    ``n`` when the caller already knows the corpus row count (skips the
    sampler's count job).

    ``cache_key`` opts into train-once reuse (the standard IVF posture: the
    coarse quantizer is fit once per corpus and shared by every index and
    query), keyed by (session, cache_key, k, seed, cap) — pass it only for
    immutable corpora; the fit is deterministic, so reuse changes nothing
    but the job count.  ``store``/``store_token`` add cross-session
    persistence (see ``artifacts.ArtifactStore``): the center matrix lands
    as an ``.npz`` and a fresh session loads it with zero Spark jobs; a
    corpus write changes the token and refits.
    """
    def fit():
        pdf = (sample_rows(df.select(id_col, vec_col), sample_cap, id_col,
                           n=n).toPandas().sort_values(id_col))
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        rng = np.random.RandomState(seed)
        C = X[rng.choice(len(X), min(n_centroids, len(X)),
                         replace=False)].copy()
        for _ in range(iters):
            dmat = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = dmat.argmin(axis=1)
            for j in range(len(C)):
                if (a == j).any():
                    C[j] = X[a == j].mean(axis=0)
        return {"C": C}, {}

    key = None if cache_key is None else (
        cache_key, vec_col, id_col, n_centroids, seed, sample_cap, iters)
    tier = store_tier("arrays", "kmeans", cache_key, store, store_token,
                      n_centroids, seed, sample_cap, iters)
    return memo.get("kmeans", key, fit, store=tier)[0]["C"]


def assign_cells(vec_col: Column, centers: np.ndarray, m: int = 1) -> Column:
    """array<int> of the ``m`` nearest centroid ids per vector.

    One Arrow-batched (batch x dim) distance matrix per partition; the center
    matrix rides the UDF closure (small — broadcast by Spark's task
    serializer).  Multi-assignment (m > 1) is the IVF near-dup recall lever:
    a pair straddling a cell boundary still meets in a shared cell.
    """
    C = np.asarray(centers, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        dmat = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(dmat, axis=1)[:, :m].astype("int32")
        return pd.Series(list(idx))

    return cells(vec_col)


def ivf_build(df: DataFrame, n_centroids: int = 16,
              vec_col: str = "embedding", id_col: str = "vec_id",
              seed: int = 42, cache_key: Optional[str] = None,
              store=None, store_token: Optional[str] = None):
    """Fit centroids (driver-side bounded-sample KMeans) and assign every
    vector to its cell with one Arrow-batched pass.

    Returns (assigned_df, centers).  The assignment is a narrow map; the
    index is just an extra ``cell`` column the storage layer can partition or
    cluster by.  (A pyspark.ml KMeans fit over the full corpus was measured
    10-40x slower at fixture scale and is the wrong shape at 100 TB anyway —
    centroids converge on a sample.)
    """
    centers = kmeans_fit(df, n_centroids, vec_col, id_col, seed,
                         cache_key=cache_key, store=store,
                         store_token=store_token)
    assigned = df.withColumn(
        "cell", F.element_at(assign_cells(F.col(vec_col), centers, 1), 1))
    return assigned, centers


def materialize_ivf_index(assigned: DataFrame, path: str,
                          cell_col: str = "cell") -> None:
    """Write the IVF-assigned corpus as parquet PARTITIONED BY cell — the
    storage layout that turns a probe into PARTITION PRUNING instead of a
    scan-filter: `ivf_topk_from_index` reads only the ``nprobe`` probed
    cells' files, so a billion-vector index costs nprobe/n_cells of the
    scan I/O per query (the inverted-file contract made physical).
    Production refreshes this alongside the corpus like any index table."""
    assigned.write.mode("overwrite").partitionBy(cell_col).parquet(path)


def ivf_topk_from_index(spark, path: str, centers, query_vec,
                        k: int = 10, nprobe: int = 4,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        cell_col: str = "cell") -> DataFrame:
    """IVF search against a ``materialize_ivf_index`` layout: the cell
    IN-list lands in the scan's PartitionFilters (only the probed cells'
    directories are listed/read), then exact cosine + top-k as usual."""
    probe = probe_cells(centers, query_vec, nprobe)
    q = _query_lit([float(x) for x in query_vec])
    idx = spark.read.parquet(path)
    return (idx.filter(F.col(cell_col).isin(probe))
            .select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def _centers_of(model) -> np.ndarray:
    if hasattr(model, "clusterCenters"):  # pyspark.ml compat
        return np.stack([np.asarray(c) for c in model.clusterCenters()])
    return np.asarray(model, dtype=np.float64)


def probe_cells(centers, query_vec: Sequence[float],
                nprobe: int = 4) -> list:
    """The frozen query's ``nprobe`` nearest coarse cells — THE shared
    probe-set selection for ``ivf_topk``, ``ivf_topk_from_index`` and
    the streaming ANN probe (streaming/simsearch.py): one definition,
    so a tie-break or masking change cannot silently split the batch
    scan from the streamed ``probed`` flag (review r14)."""
    qv = np.asarray(query_vec, dtype=float)
    C = _centers_of(centers)
    dists = [float(np.linalg.norm(qv - c)) for c in C]
    return sorted(range(len(C)), key=lambda i: dists[i])[:nprobe]


def ivf_topk(assigned: DataFrame, model, query_vec: Sequence[float],
             k: int = 10, nprobe: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Search only the nprobe cells whose centroids are closest to the query."""
    probe = probe_cells(model, query_vec, nprobe)
    q = _query_lit(query_vec)
    return (assigned.filter(F.col("cell").isin(probe))
            .select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


# ---------------------------------------------------------------------------
# product quantization (PQ) + asymmetric distance (ADC) search
# ---------------------------------------------------------------------------
def pq_fit(df: DataFrame, m: int = 8, ks: int = 256,
           vec_col: str = "embedding", id_col: str = "vec_id",
           seed: int = 42, sample_cap: int = 4096, iters: int = 15,
           n: Optional[int] = None,
           cache_key: Optional[str] = None,
           store=None, store_token: Optional[str] = None) -> np.ndarray:
    """Per-subspace codebooks (m, ks, dim/m) — Jegou et al. 2011 (TPAMI,
    "Product Quantization for Nearest Neighbor Search", public).

    The memory side of 100 TB ANN: a 64-dim float32 vector is 256 B; its PQ
    code is ``m`` bytes (64 B -> 8 B at the defaults), so a billion-vector
    index fits executor memory where raw vectors cannot.  Codebooks are fit
    driver-side per subspace on the same bounded deterministic sample as
    ``kmeans_fit`` (sample_cap x dim float64 ~= 2 MB); vectors are
    L2-NORMALIZED before slicing so inner-product ADC over the codes
    approximates cosine.  Same train-once ``cache_key`` posture as the IVF
    coarse quantizer.
    """
    key = None if cache_key is None else (
        cache_key, vec_col, id_col, m, ks, seed, sample_cap, iters)
    tier = store_tier("arrays", "pq", cache_key, store, store_token,
                      m, ks, seed, sample_cap, iters)
    return memo.get("pq", key, lambda: _pq_fit(
        df, m, ks, vec_col, id_col, seed, sample_cap, iters, n),
        store=tier)[0]["books"]


def _pq_fit(df, m, ks, vec_col, id_col, seed, sample_cap, iters, n):
    pdf = (sample_rows(df.select(id_col, vec_col), sample_cap, id_col, n=n)
           .toPandas().sort_values(id_col))
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, ks, dsub))
    for j in range(m):
        Xj = X[:, j * dsub:(j + 1) * dsub]
        k_eff = min(ks, len(Xj))
        C = Xj[rng.choice(len(Xj), k_eff, replace=False)].copy()
        for _ in range(iters):
            dmat = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = dmat.argmin(axis=1)
            for c in range(k_eff):
                if (a == c).any():
                    C[c] = Xj[a == c].mean(axis=0)
        books[j, :k_eff] = C
        if k_eff < ks:
            # pad unused slots far away so they are never argmin winners
            books[j, k_eff:] = 1e6
    return {"books": books}, {}


def pq_encode(vec_col: Column, codebooks: np.ndarray) -> Column:
    """array<int> of ``m`` code ids per vector (one Arrow-batched pass:
    per-subspace (batch x ks) distance matrices, argmin per row).  Encoding
    normalizes exactly like ``pq_fit`` so codes and books agree."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        out = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            Xj = X[:, j * dsub:(j + 1) * dsub]
            dmat = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = dmat.argmin(axis=1)
        return pd.Series(list(out))

    return codes(vec_col)


def adc_score_col(code_col: Column, codebooks: np.ndarray,
                  query_vec: Sequence[float]) -> Column:
    """ADC score of a PQ code against ``query_vec``: the query-side
    lookup table ``LUT[j][c] = <q_j, book[j][c]>`` folds each ``m``-byte
    code to the approximate cosine with one vectorized gather per Arrow
    batch.  Factored out of :func:`pq_topk` so the STREAMING probe
    (streaming/simsearch.py) scores arriving vectors with the identical
    expression — stateless, no join, append-mode-safe."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, _ks, dsub = B.shape
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(float(np.linalg.norm(qv)), 1e-300)
    lut = np.stack([B[j] @ qv[j * dsub:(j + 1) * dsub]
                    for j in range(m)])  # (m, ks)

    @F.pandas_udf(T.DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series(np.zeros(0))
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(lut[np.arange(m)[None, :], C].sum(axis=1))

    return adc(code_col)


def pq_topk(encoded: DataFrame, codebooks: np.ndarray,
            query_vec: Sequence[float], k: int = 10,
            shortlist: int = 100, vec_col: str = "embedding",
            id_col: str = "vec_id", code_col: str = "pq_code") -> DataFrame:
    """ADC top-k: score every vector from its ``m``-byte code via a
    query-side lookup table (LUT[j][c] = <q_j, book[j][c]>, so the code sum
    approximates cosine against the normalized corpus), shortlist the best
    ``shortlist`` codes, then rerank the shortlist with EXACT cosine on the
    raw vectors — the standard production shape: the full corpus is touched
    only through its codes (narrow scan, no vector I/O), exact math runs on
    ``shortlist`` rows.
    """
    ids = (encoded.select(F.col(id_col),
                          adc_score_col(F.col(code_col), codebooks,
                                        query_vec).alias("__adc"))
           .orderBy(F.col("__adc").desc(), F.col(id_col))
           .limit(shortlist)
           .select(id_col))
    q = _query_lit([float(x) for x in query_vec])
    return (encoded.join(ids, id_col, "semi")
            .select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


# ---------------------------------------------------------------------------
# IVFADC: PQ codes per IVF cell, residual-encoded (Jegou et al. 2011 §IV —
# the actual billion-vector index layout: coarse cells bound the scan,
# m-byte residual codes bound the memory, ADC bounds the math)
# ---------------------------------------------------------------------------
def ivfadc_fit(df: DataFrame, n_centroids: int = 16, m: int = 8,
               ks: int = 256, vec_col: str = "embedding",
               id_col: str = "vec_id", seed: int = 42,
               sample_cap: int = 4096, iters: int = 15,
               n: Optional[int] = None,
               cache_key: Optional[str] = None,
               store=None, store_token: Optional[str] = None):
    """(centers, residual codebooks): coarse quantizer + per-subspace books
    fit on the RESIDUALS v - c(v), all in L2-normalized space so the ADC
    inner product <q, c + r> = <q, c> + <q, r> approximates cosine.

    Driver-side on one bounded deterministic sample (same posture and
    ``cache_key`` memoization as ``kmeans_fit``/``pq_fit``); returns
    ((n_centroids, dim), (m, ks, dim/m)) float64 arrays to close over.
    """
    key = None if cache_key is None else (
        cache_key, vec_col, id_col, n_centroids, m, ks, seed, sample_cap,
        iters)
    tier = store_tier("arrays", "ivfadc", cache_key, store, store_token,
                      n_centroids, m, ks, seed, sample_cap, iters)
    got = memo.get("ivfadc", key, lambda: _ivfadc_fit(
        df, n_centroids, m, ks, vec_col, id_col, seed, sample_cap, iters,
        n), store=tier)[0]
    return got["centers"], got["books"]


def _ivfadc_fit(df, n_centroids, m, ks, vec_col, id_col, seed, sample_cap,
                iters, n):
    pdf = (sample_rows(df.select(id_col, vec_col), sample_cap, id_col, n=n)
           .toPandas().sort_values(id_col))
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    rng = np.random.RandomState(seed)
    k_c = min(n_centroids, len(X))
    C = X[rng.choice(len(X), k_c, replace=False)].copy()
    for _ in range(iters):
        dmat = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = dmat.argmin(axis=1)
        for c in range(k_c):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    centers = np.zeros((n_centroids, dim))
    centers[:k_c] = C
    if k_c < n_centroids:
        centers[k_c:] = 1e6          # never an argmin winner
    R = X - centers[((X[:, None, :] - centers[None, :k_c, :]) ** 2)
                    .sum(axis=2).argmin(axis=1)]
    dsub = dim // m
    books = np.zeros((m, ks, dsub))
    for j in range(m):
        Rj = R[:, j * dsub:(j + 1) * dsub]
        k_eff = min(ks, len(Rj))
        B = Rj[rng.choice(len(Rj), k_eff, replace=False)].copy()
        for _ in range(iters):
            dmat = ((Rj[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            a = dmat.argmin(axis=1)
            for c in range(k_eff):
                if (a == c).any():
                    B[c] = Rj[a == c].mean(axis=0)
        books[j, :k_eff] = B
        if k_eff < ks:
            books[j, k_eff:] = 1e6
    return {"centers": centers, "books": books}, {}


def ivfadc_encode(vec_col: Column, centers: np.ndarray,
                  codebooks: np.ndarray) -> Column:
    """array<int> [cell, code_1..code_m]: one Arrow-batched pass — assign
    the (normalized) vector to its nearest coarse cell, PQ-encode the
    residual against the residual books.  The caller projects element 1 out
    as the ``cell`` partition/cluster column and the tail as the code."""
    C = np.asarray(centers, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        cell = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) \
            .argmin(axis=1)
        R = X - C[cell]
        out = np.empty((len(X), m + 1), dtype="int32")
        out[:, 0] = cell
        for j in range(m):
            Rj = R[:, j * dsub:(j + 1) * dsub]
            dmat = ((Rj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j + 1] = dmat.argmin(axis=1)
        return pd.Series(list(out))

    return enc(vec_col)


def _ivfadc_cell_ip(centers, query_vec: Sequence[float]) -> np.ndarray:
    """<q, c> per coarse cell, with the fit's 1e6-padding rows masked to
    -inf — padding must never win the inner-product ranking the way it
    never wins an L2 argmin."""
    C = np.asarray(centers, dtype=np.float64)
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(float(np.linalg.norm(qv)), 1e-300)
    cell_ip = C @ qv
    return np.where(np.abs(C).max(axis=1) >= 1e6, -np.inf, cell_ip)


def ivfadc_probe_cells(centers, query_vec: Sequence[float],
                       nprobe: int = 4) -> list:
    """The frozen query's ``nprobe`` coarse cells by masked inner
    product — factored from :func:`ivfadc_topk` so the STREAMING probe
    (streaming/simsearch.py) selects the identical set."""
    return np.argsort(-_ivfadc_cell_ip(centers, query_vec))[:nprobe] \
        .tolist()


def ivfadc_adc_col(cell_col: Column, code_col: Column, centers,
                   codebooks, query_vec: Sequence[float]) -> Column:
    """The IVFADC score of one (cell, residual code) row against
    ``query_vec``: ``<q, c_cell>`` from a literal per-cell array plus
    the residual LUT sum — factored from :func:`ivfadc_topk` so the
    batch search and the streaming probe score with the identical
    expression."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, _ks, dsub = B.shape
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(float(np.linalg.norm(qv)), 1e-300)
    cell_ip = _ivfadc_cell_ip(centers, query_vec)
    lut = np.stack([B[j] @ qv[j * dsub:(j + 1) * dsub]
                    for j in range(m)])      # (m, ks)

    @F.pandas_udf(T.DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series(np.zeros(0))
        Cd = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(lut[np.arange(m)[None, :], Cd].sum(axis=1))

    cell_const = F.element_at(
        F.array(*[F.lit(float(x)) for x in cell_ip]), cell_col + 1)
    return cell_const + adc(code_col)


def ivfadc_topk(encoded: DataFrame, centers: np.ndarray,
                codebooks: np.ndarray, query_vec: Sequence[float],
                k: int = 10, nprobe: int = 4, shortlist: int = 100,
                vec_col: str = "embedding", id_col: str = "vec_id",
                cell_col: str = "cell", code_col: str = "pq_code"
                ) -> DataFrame:
    """IVFADC search: ADC-score ONLY the ``nprobe`` probed cells' codes
    (score = <q, c_cell> + LUT-sum over the residual code), shortlist, then
    exact-cosine rerank on the shortlist's raw vectors.

    100 TB shape: the cell filter prunes the scan (the cell column is the
    storage clustering key), the per-row math is m lookups on an m-byte
    code, and only ``shortlist`` rows ever touch their full vectors —
    scan, memory and compute all bounded, per Jegou et al. 2011 §IV.
    """
    probe = ivfadc_probe_cells(centers, query_vec, nprobe)
    ids = (encoded.filter(F.col(cell_col).isin(probe))
           .select(F.col(id_col),
                   ivfadc_adc_col(F.col(cell_col), F.col(code_col),
                                  centers, codebooks, query_vec)
                   .alias("__adc"))
           .orderBy(F.col("__adc").desc(), F.col(id_col))
           .limit(shortlist)
           .select(id_col))
    q = _query_lit([float(x) for x in query_vec])
    return (encoded.join(ids, id_col, "semi")
            .select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))
