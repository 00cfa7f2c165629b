"""Deterministic sampling + dedup-cluster resolution for training pipelines.

Beyond the reference's surface (BASELINE.json north star).  Two properties a
100 TB corpus pipeline needs that ``df.sample()`` doesn't give:

* **Reproducibility across runs and engines** — the sampling decision is a
  pure function of the row key (md5 prefix compare), so re-running the
  pipeline, adding columns, or re-partitioning never changes the sample, and
  any engine with md5 can produce the identical subset (the DuckDB oracle
  does).  No RNG state, no seed-per-partition coupling.
* **Cluster resolution** — near-dup pair lists (MinHash/SimHash/embedding)
  must collapse into "keep one doc per duplicate cluster".  That is
  connected components; implemented as distributed min-label propagation
  (each iteration one self-join + min-agg, converges in O(log diameter)
  rounds — near-dup clusters are shallow, 2-4 rounds in practice).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# deterministic hash sampling
# ---------------------------------------------------------------------------
def _md5_bucket(col: Column) -> Column:
    """First 8 hex chars of md5 of the key's string form — compared
    lexicographically (hex strings order like the 32-bit value)."""
    return F.substring(F.md5(col.cast("string").cast("binary")), 1, 8)


def rate_to_hex(rate: float) -> str:
    """Hex threshold t such that P[md5_prefix < t] == rate (8 hex digits)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(int(rate * 0xFFFFFFFF), "08x")


def bernoulli_keep(id_col: Column, rate: float,
                   stratum_col: Optional[Column] = None,
                   stratum_rates: Optional[Dict[str, float]] = None
                   ) -> Column:
    """The row-local keep PREDICATE behind ``deterministic_sample`` —
    exposed as a Column so a multi-selection pass can TAG rows in one
    scan (array_compact + explode) instead of re-scanning the corpus
    once per selection (the dp_sample bundle's fused row-local arm)."""
    bucket = _md5_bucket(id_col)
    if stratum_col is not None and stratum_rates:
        thresh = F.lit(rate_to_hex(rate))
        for value, r in sorted(stratum_rates.items()):
            thresh = F.when(stratum_col == value,
                            F.lit(rate_to_hex(r))).otherwise(thresh)
    else:
        thresh = F.lit(rate_to_hex(rate))
    return bucket < thresh


def deterministic_sample(df: DataFrame, id_col: str, rate: float,
                         stratum_col: Optional[str] = None,
                         stratum_rates: Optional[Dict[str, float]] = None
                         ) -> DataFrame:
    """Key-hash Bernoulli sample: keep rows with md5(id) prefix below the
    rate threshold.  With ``stratum_rates``, each stratum gets its own
    threshold (rows in unlisted strata fall back to ``rate``).

    Pure row-local predicate: no shuffle, pushes into the scan stage, and
    composes with any downstream operator.  The same subset is selected on
    any engine/run given the same keys.
    """
    return df.filter(bernoulli_keep(
        F.col(id_col), rate,
        F.col(stratum_col) if stratum_col and stratum_rates else None,
        stratum_rates))


def assign_split(df: DataFrame, id_col: str = "doc_id",
                 splits=(("train", 0.9), ("val", 0.05), ("test", 0.05)),
                 split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test split assignment: every row gets a
    ``split`` label from its md5 key bucket — the standard leak-proof
    dataset partitioning (a document's split is a pure function of its
    id, so re-runs, engines and incremental ingests all agree, and no
    row can drift between train and eval).

    ``splits`` is an ordered (label, fraction) sequence; fractions must
    sum to 1 (±1e-9).  Labels are assigned by cumulative threshold over
    the same ``rate_to_hex`` encoding ``deterministic_sample`` filters
    with, so ``assign_split(df)[split = 'train']`` and
    ``deterministic_sample(df, id, 0.9)`` select the IDENTICAL rows.
    Expected sizes are fraction*N; exact-count carving is
    ``stratified_quota_sample``'s job.

    Row-local CASE over the hash prefix: no shuffle, no UDF, composes
    into the scan stage.
    """
    items = list(splits)
    if len(items) < 2:
        raise ValueError("assign_split needs at least 2 splits")
    if split_col in df.columns:
        raise ValueError(f"{split_col!r} already exists in the frame")
    total = sum(f for _, f in items)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total!r}")
    if any(f <= 0 for _, f in items):
        raise ValueError("every split fraction must be > 0")
    bucket = _md5_bucket(F.col(id_col))
    # cumulative thresholds, first matching WHEN wins; the last label is
    # the ELSE remainder so the float sum never strands a row
    expr, cum = None, 0.0
    for label, frac in items[:-1]:
        cum += frac
        cond = bucket < F.lit(rate_to_hex(cum))
        expr = F.when(cond, F.lit(label)) if expr is None \
            else expr.when(cond, F.lit(label))
    expr = expr.otherwise(F.lit(items[-1][0]))
    return df.withColumn(split_col, expr)


def stratified_quota_sample(df: DataFrame, id_col: str, stratum_col: str,
                            quotas: Dict[str, int], default_quota: int = 0,
                            prefilter_rate: Optional[float] = None,
                            salt_partitions: Optional[int] = None
                            ) -> DataFrame:
    """EXACT per-stratum quotas: within each stratum, rank rows by
    ``(md5(id), id)`` — a uniform, engine-reproducible order — and keep the
    first ``quotas[stratum]`` rows (``default_quota`` elsewhere; 0 drops
    unlisted strata).

    Complements ``deterministic_sample``: Bernoulli rates give *expected*
    sizes, quota sampling gives exact counts (eval-set carving, per-language
    caps in a corpus mixture).  The rank is a window partitioned BY STRATUM
    — never a global sort.  For a stratum far larger than its quota the
    full in-stratum sort is wasted work at 100 TB; pass ``prefilter_rate``
    to cut each stratum with the row-local Bernoulli predicate first (pick
    rate so the survivor count still safely exceeds every quota, e.g.
    10*quota/stratum_rows) — the ranking then runs over the small survivor
    set and, because the Bernoulli filter keeps exactly the lowest-hash
    rows' superset, the selected subset is unchanged.

    GUARDED (round-9 ask #5): a too-aggressive rate can leave a stratum
    with fewer survivors than its quota, which would silently under-fill.
    The prefilter path therefore counts survivors per quota'd stratum
    first (one groupBy over the already-filtered scan — bounded output,
    one row per stratum) and FALLS BACK to the unfiltered ranking when
    any quota is short: exact quotas always win over the scan savings.
    ``default_quota > 0`` cannot be guarded without an unfiltered corpus
    pass (a stratum with zero survivors is invisible), so combining it
    with ``prefilter_rate`` raises instead of guessing.

    SKEW path (``salt_partitions``, r12): a window partitioned by
    stratum pins a VIRAL stratum's every row into one task (a single
    domain can be half a web crawl).  Exact top-k is salt-decomposable —
    the stratum's global (md5, id)-first ``quota`` rows are each within
    the first ``quota`` of their own salt partition — so with
    ``salt_partitions=N`` phase 1 ranks inside (stratum, xxhash64(id)%N)
    (bounded partitions) and keeps ≤ quota rows per salt, and phase 2
    runs the true ranking over ≤ N*quota survivors per stratum.  The
    selected subset is IDENTICAL to the unsalted path (pinned by test);
    use it when strata can be pathologically large and quotas are small.
    """
    from pyspark.sql import Window

    if prefilter_rate is not None:
        if default_quota > 0:
            raise ValueError(
                "prefilter_rate cannot guarantee default_quota strata: a "
                "stratum with zero survivors is undetectable without a "
                "full pass; list every stratum in quotas or drop the "
                "prefilter")
        filtered = deterministic_sample(df, id_col, prefilter_rate)
        got = {r[0]: r[1] for r in
               filtered.filter(F.col(stratum_col).isin(list(quotas)))
               .groupBy(stratum_col).agg(F.count("*").alias("__c"))
               .collect()}
        if all(got.get(s, 0) >= q for s, q in quotas.items()):
            df = filtered
        # else: survivors short somewhere -> rank the full frame
    quota = F.lit(default_quota)
    for value, q in sorted(quotas.items()):
        quota = F.when(F.col(stratum_col) == value, F.lit(q)).otherwise(quota)
    if salt_partitions is not None and salt_partitions > 1:
        w1 = (Window.partitionBy(stratum_col, "__salt")
              .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")),
                       F.col(id_col)))
        df = (df.withColumn("__salt",
                            F.pmod(F.xxhash64(F.col(id_col)),
                                   F.lit(salt_partitions)))
              .withColumn("__rk1", F.row_number().over(w1))
              .filter(F.col("__rk1") <= quota)
              .drop("__salt", "__rk1"))
    w = (Window.partitionBy(stratum_col)
         .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")),
                  F.col(id_col)))
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= quota)
            .drop("__rk"))


def cluster_balanced_sample(assigned: DataFrame, per_cell: int,
                            id_col: str = "vec_id",
                            cell_col: str = "cell",
                            salt_partitions: Optional[int] = None
                            ) -> DataFrame:
    """Cluster-balanced subset selection (the DataComp/SemDeDup curation
    recipe, public: sample evenly ACROSS embedding clusters instead of
    following the corpus' natural — usually heavily skewed — cluster
    density, so the selected subset preserves topical diversity): keep
    exactly ``min(per_cell, |cell|)`` rows from every cluster, chosen by
    the deterministic ``(md5(id), id)`` rank.

    A thin, deliberate composition: the cluster structure is the IVF
    cell assignment already built for ANN (``simsearch.ivf_build`` or
    the persisted cell-partitioned index — clusters are an ingest-time
    artifact, not a per-sample fit), and the per-cell rank is
    ``stratified_quota_sample`` with a uniform quota — a window
    partitioned BY CELL, never a global sort.
    """
    if per_cell <= 0:
        raise ValueError(f"per_cell must be > 0, got {per_cell}")
    return stratified_quota_sample(assigned, id_col, cell_col,
                                   quotas={}, default_quota=per_cell,
                                   salt_partitions=salt_partitions)


# ---------------------------------------------------------------------------
# dedup cluster resolution (connected components)
# ---------------------------------------------------------------------------
def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20,
                   small_limit: int = 200_000) -> DataFrame:
    """(id, cluster_id): connected components over an undirected pair list,
    cluster_id = min member id.

    Volume-gated execution (same gate as session.posture): the
    pair list is ALREADY the reduced output of a dedup pipeline — orders of
    magnitude smaller than the corpus — so when it fits ``small_limit``
    rows it is union-found driver-side in one collect (a 200k-row pair
    list is ~3 MB of longs; the distributed loop would spend 4-8 jobs of
    pure scheduling on it).  Beyond the gate, distributed min-label
    propagation: every node starts labeled with its own id; each round
    joins labels across edges and takes the min; stop when no label
    changes.  Each round is one shuffle join + one min-agg — both
    AQE-sized — and the iteration count is O(log component diameter), not
    O(N): duplicate clusters are near-cliques, so 2-4 rounds at any scale.
    The per-round convergence check is a count over changed labels only
    (no full collect); the gate check itself is a bounded ``limit(k+1)``
    count, never an unbounded collect.
    """
    spark = pairs.sparkSession
    pairs = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if small_limit > 0:
        head = pairs.limit(small_limit + 1).collect()
        if len(head) <= small_limit:
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in head:
                a, b = r["src"], r["dst"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min id keeps cluster_id = min member
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            rows = [(n, find(n)) for n in parent]
            id_type = pairs.schema["src"].dataType
            out_schema = T.StructType([
                T.StructField("id", id_type),
                T.StructField("cluster_id", id_type),
            ])
            return spark.createDataFrame(rows, out_schema)
    edges = (pairs
             .union(pairs.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
             .distinct())
    edges = edges.persist()
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id")))
    try:
        for _ in range(max_iter):
            # propagate: each node adopts min(own label, neighbors' labels)
            prop = (edges.join(labels, edges.dst == labels.id)
                    .select(F.col("src").alias("id"),
                            F.col("cluster_id"))
                    .union(labels)
                    .groupBy("id")
                    .agg(F.min("cluster_id").alias("cluster_id")))
            prop = prop.localCheckpoint(eager=True)  # cut lineage per round
            changed = (prop.alias("n")
                       .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                       .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                       .limit(1).count())
            labels = prop
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels


def dedup_keep(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
               ) -> DataFrame:
    """Corpus minus duplicates: resolve pair list to clusters, keep the
    min-id representative of each cluster, pass through singletons."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return df.join(losers, df[id_col] == losers.id, "left_anti")


def mix_corpora(corpora, id_col: str = "doc_id",
                tag_col: str = "corpus") -> DataFrame:
    """Weighted mixture of corpora: ``corpora`` maps tag -> (df, rate);
    each source is deterministically downsampled at its rate and tagged.

    The standard pretraining recipe (N sources, each up/down-weighted)
    without an RNG: every source subset is a pure function of its keys
    (see deterministic_sample), so the mixture is reproducible and each
    source's contribution can be audited after the fact by filtering on
    the tag.  Union is by name — sources only need the shared columns.
    """
    parts = []
    for tag, (df, rate) in sorted(corpora.items()):
        parts.append(deterministic_sample(df, id_col, rate)
                     .withColumn(tag_col, F.lit(tag)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _validate_mix_params(target_total, cap) -> None:
    """Shared cap/target_total contract for the temperature-mix entry
    points — cap is a per-row keep PROBABILITY (the md5-threshold
    encoding is only defined on [0, 1]; advice r10)."""
    if not (0.0 < cap <= 1.0):
        raise ValueError(f"cap must be in (0, 1], got {cap!r}")
    if target_total is not None and not target_total > 0.0:
        raise ValueError(f"target_total must be > 0, got {target_total!r}")


def mix_tag_counts(df: DataFrame, tag_col: str,
                   cache_key: Optional[str] = None, store=None,
                   store_token: Optional[str] = None) -> DataFrame:
    """(tag_col, __n) — the temperature-mix FIT artifact: one count row
    per tag (bounded by the tag vocabulary).  Same train-once posture as
    ``dsir.dsir_ratio_fit``: ``cache_key`` memoizes per session,
    ``store``/``store_token`` persist with corpus-fingerprint
    invalidation so a warm warehouse loads with zero fit jobs; the
    artifact is alpha/target/cap-agnostic (rates rebuild in-plan from
    the counts with the identical Catalyst expressions, so the sampled
    subset is bit-identical to the lazy path's)."""
    from .. import memo
    from .artifacts import store_tier

    key = None if cache_key is None else (cache_key, tag_col)

    def fit():
        sz = df.groupBy(tag_col).agg(F.count("*").alias("__n"))
        # a kept entry is materialized: the store saves from the
        # checkpoint, and a memo-only entry must not hand back the lazy
        # plan (every consumer action would re-run the corpus-wide
        # groupBy; the frame is bounded by the tag vocab)
        return (sz if key is None else sz.localCheckpoint(eager=True)), {}

    return memo.get("mix_counts", key, fit, store=store_tier(
        "df", "mix_counts", cache_key, store, store_token, tag_col,
        spark=df.sparkSession))[0]


def temperature_mix_sample(df: DataFrame, tag_col: str, id_col: str,
                           alpha: float = 0.3,
                           target_total: Optional[float] = None,
                           cap: float = 1.0,
                           cache_key: Optional[str] = None, store=None,
                           store_token: Optional[str] = None
                           ) -> DataFrame:
    """Temperature-weighted corpus mixing (the T5/mT5 multilingual recipe,
    Raffel et al. 2020 §3.4.3 / Xue et al. 2021 §3.2): sample tag ``i``
    at probability ``p_i ∝ n_i**alpha``, i.e. per-row keep rate

        rate_i = min(cap, target_total * n_i**(alpha-1) / Σ_j n_j**alpha)

    ``target_total`` is the EXPECTED OUTPUT ROW COUNT of the whole
    mixture (E[rows] = target_total by the formula, before ``cap``
    binds); when omitted it defaults IN-PLAN to the input row count, so
    the default reweights the mixture without shrinking it (``alpha=1``
    then keeps everything).  ``cap`` must lie in ``(0, 1]`` — it is a
    per-row keep PROBABILITY, and the md5-threshold encoding below is
    only defined on [0, 1] (a >1 rate would overflow the 8-hex-digit
    threshold and silently collapse the kept fraction; advice r10).

    ``alpha=1`` preserves the natural distribution (one uniform rate);
    ``alpha=0`` equalizes per-tag mass (rate ∝ 1/n_i); between the two it
    up-weights small corpora without letting any single one dominate —
    ``cap`` bounds the rate (no tag samples above ``cap``, so repetition
    of tiny corpora is controlled by the caller, not the formula).

    Fully IN-PLAN, unlike :func:`mix_corpora`'s caller-supplied rates:
    one count per tag, a single-row normalizer, and a join back (one row
    per tag — the join strategy is left to AQE, which broadcasts the
    bounded side at runtime); membership is the same deterministic
    md5-prefix predicate as ``deterministic_sample``, with the threshold
    derived from the in-plan rate.  Output = the sampled rows plus
    ``__n`` (tag size) and ``__rate`` columns for auditing.  Rows with a
    NULL tag belong to no corpus and are dropped (the equi-join back to
    the per-tag rates keeps keyed rows only)."""
    if {"__n", "__rate"} & set(df.columns):
        raise ValueError("__n/__rate are reserved by temperature_mix_sample")
    # validate cap/target_total BEFORE the counts fit: an invalid cap
    # must not fire (and, with store, persist) the corpus-wide groupBy
    # first (advice r13)
    _validate_mix_params(target_total, cap)
    # cache_key switches the per-tag counts to the train-once artifact
    # path (mix_tag_counts) — the corpus-wide groupBy fit runs at most
    # once per (session, corpus), zero times on a warm warehouse
    sz = mix_tag_counts(df, tag_col, cache_key, store, store_token)
    rt = temperature_mix_rates(sz, tag_col, alpha, target_total, cap)
    return _mix_membership(df, rt, tag_col, id_col)


def temperature_mix_rates(counts: DataFrame, tag_col: str,
                          alpha: float = 0.3,
                          target_total: Optional[float] = None,
                          cap: float = 1.0) -> DataFrame:
    """(tag_col, __n, __rate) from a per-tag counts frame
    (``mix_tag_counts``) — the temperature-mix rate table as its own
    bounded frame, so an ONLINE sampler can freeze it as an artifact
    and admit arriving rows with the identical md5-threshold membership
    (streaming/sample.py).  The expressions are exactly the in-plan
    ones ``temperature_mix_sample`` always used, so the derived rates —
    and therefore the selected subset — are bit-identical."""
    _validate_mix_params(target_total, cap)
    z = counts.agg(F.sum(F.pow(F.col("__n"), F.lit(float(alpha))))
                   .alias("__z"),
                   F.sum("__n").alias("__t"))
    tt = (F.col("__t").cast("double") if target_total is None
          else F.lit(float(target_total)))
    return (counts.crossJoin(F.broadcast(z))
            .select(tag_col, "__n",
                    F.least(F.lit(float(cap)),
                            tt * F.pow(F.col("__n"), F.lit(alpha - 1.0))
                            / F.col("__z")).alias("__rate")))


def _mix_membership(df: DataFrame, rates: DataFrame, tag_col: str,
                    id_col: str) -> DataFrame:
    """Join the bounded rate table and keep rows whose md5 prefix falls
    under their tag's threshold — shared by the batch sampler and its
    streaming twin (identical expressions => identical selection)."""
    joined = df.join(F.broadcast(rates), tag_col)
    # same truncation as rate_to_hex (int(rate * 0xFFFFFFFF), 8 hex);
    # the extra in-plan clamp is belt-and-braces — a rate above 1 would
    # hex-encode to 9+ digits and lpad would TRUNCATE it (advice r10)
    thresh = F.lpad(F.lower(F.hex(
        F.floor(F.least(F.lit(1.0), F.col("__rate"))
                * F.lit(float(0xFFFFFFFF)))
        .cast("bigint"))), 8, "0")
    return joined.filter(_md5_bucket(F.col(id_col)) < thresh)
