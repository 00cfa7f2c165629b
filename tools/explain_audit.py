"""Plan audit: .explain("formatted") for the headline queries + automated
checks that the plans have the shape we want at scale:

- time-range + dimension filters reach the parquet scan: the time range as
  partition filters on a time-sliced table's recorded slice ranges
  (PartitionFilters) or as a pushed data filter on any other source, a
  dimension filter as a pushed data filter (PushedFilters)
- link joins broadcast (BroadcastHashJoin, no SortMergeJoin on small dims)
- aggregations are partial/final HashAggregate pairs
- only the expected number of exchanges (shuffles)

Usage: python tools/explain_audit.py [query ...]  (default: audit set)
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def _time_at_scan(col: str) -> str:
    """The time range reaches the scan: on a time-sliced fact table
    (schema._parallel_read) both bounds are partition filters on the
    slices' recorded ranges, pruned in the file index; on any other
    source (an unsliced table, the 10x scale fixture's directories) the
    lower bound is a pushed data filter on the time column."""
    return (r"PartitionFilters: \[.*\(__tmax#\d+L >= -?\d+\)"
            r".*\(__tmin#\d+L <= -?\d+\)"
            rf"|PushedFilters: \[.*GreaterThanOrEqual\({col},")


CHECKS = {
    "q_day_rollup": dict(pushed=_time_at_scan("l_shipdate"),
                         expect=["HashAggregate"], forbid=["SortMergeJoin"]),
    "q_projection_filter": dict(pushed=r"PushedFilters: \[.*EqualTo\(l_returnflag,A\)",
                                expect=[], forbid=["Exchange"]),
    "q_link_enrich": dict(pushed=_time_at_scan("o_orderdate"),
                          expect=["BroadcastHashJoin"], forbid=["SortMergeJoin"]),
    "q_link_two_hop": dict(pushed=None, expect=["BroadcastHashJoin"],
                           forbid=["SortMergeJoin"]),
    # small matched-key sets lower to a literal In PUSHED TO THE SCAN
    # (compiler._IN_PUSHDOWN_GATE ≙ the reference's DimIdIn row-key
    # pruning); only an over-gate key set falls back to the broadcast
    # semi-join, so the audited shape is the pushed filter
    "q_inverted_index": dict(pushed=r"PushedFilters: \[.*In\(l_partkey",
                             expect=[],
                             forbid=["SortMergeJoin"]),
    "q_lag_window": dict(pushed=_time_at_scan("l_shipdate"),
                         expect=["Window"], forbid=[]),
    "q_having": dict(pushed=None, expect=["HashAggregate"], forbid=[]),
    # skew posture (review r11): the min-id representative is a
    # groupBy(fp) aggregate + co-partitioned join — a Window over fp
    # would pin a viral fingerprint's every copy into one task
    "dp_exact_dedup": dict(pushed=None, expect=["HashAggregate"],
                           forbid=["Window"]),
    "q_tpch_q1": dict(pushed=_time_at_scan("l_shipdate"),
                      expect=["HashAggregate"], forbid=["SortMergeJoin"]),
    "q_session_windows": dict(pushed=None, expect=["Aggregate"], forbid=[]),
    "q_tpch_q19_like": dict(pushed=_time_at_scan("l_shipdate"),
                            expect=["BroadcastHashJoin"],
                            forbid=["SortMergeJoin"]),
    # split-agg path: string member-pick + multi-distinct must stay on hash
    # aggregation for the raw rows; the var-len pass dedupes (keys, value)
    # first, so at most one partial/final SortAggregate pair remains and it
    # runs over distinct values, never the scan (max_sort_aggs counts
    # distinct SortAggregate operator ids in the plan).  The dedupe
    # HashAggregate must SURVIVE to the physical plan — Catalyst's
    # r14 (judge ask #4): distinct_random(lower(key)) is GROUP-CONSTANT,
    # so the compiler collapses it post-agg — the var-len split pass
    # (its dedupe exchange + group-key join) is gone and the query is
    # Spark's native multi-distinct planning: Expand + HashAggregates,
    # ONE exchange, no SortAggregate, no join.  The split machinery
    # itself stays pinned by test_split_agg_dedupe_survives_catalyst
    # over a non-group-constant argument.
    "q_agg_stats": dict(pushed=_time_at_scan("l_shipdate"),
                        expect=["HashAggregate", "Expand"],
                        forbid=["SortAggregate", "Join"]),
    # self-validating hll verdict: distinct + approx in one hash aggregation
    "q_hll_count": dict(pushed=None, expect=["HashAggregate"],
                        forbid=["SortAggregate"]),
    # related-items correlation: two stacked LeftSemi joins (seed items ->
    # related order keys -> rows), both broadcastable at fixture scale and
    # AQE-decided beyond it; the distinct key set must stay a HashAggregate
    "q_related_items": dict(pushed=_time_at_scan("l_shipdate"),
                            expect=[r"BroadcastHashJoin.*LeftSemi",
                                    "HashAggregate"],
                            forbid=["SortMergeJoin", "CartesianProduct",
                                    "BroadcastNestedLoopJoin"]),
    # bundled features+frames: one broadcast join, no sort-merge
    "dp_multimodal": dict(pushed=None, expect=["ArrowEvalPython|MapInPandas"],
                          forbid=["SortMergeJoin"]),
    # three-arm selection bundle: the Bernoulli arm stays row-local (probed
    # separately below — its standalone plan must be Exchange-free), the
    # quota rank is a stratum-PARTITIONED window (hash partitioning, never
    # a global rangepartitioning sort), and the DSIR top-k must lower to
    # TakeOrderedAndProject (per-partition heaps), never sort-the-world.
    # The only nested-loop joins are the documented single-row gram-total
    # crossJoins, so CartesianProduct over data frames stays forbidden.
    # sampling/curation bundle (ONE entry — r15 review: this was two
    # duplicate dict keys and Python silently kept only the weaker
    # second one, so the stricter first rule never ran; now merged).
    # The DSIR top-k over the CORPUS must lower to
    # TakeOrderedAndProject (per-partition heaps, never sort-the-world)
    # and the quota/cap ranks are stratum-PARTITIONED windows.  The one
    # rangepartitioning in today's plan is NOT the corpus: it is
    # dsir_select's r14 re-sort of the ALREADY-SELECTED k rows after
    # the keep_cols broadcast enrich (bounded by the requested k), so
    # the old blanket rangepartitioning forbid no longer applies — the
    # corpus-scale contract is carried by the TakeOrderedAndProject
    # expectation.  One BroadcastNestedLoopJoin is expected and
    # BOUNDED: the temperature-mix normalizer is a SINGLE-ROW aggregate
    # cross-joined onto the per-lang counts (IdentityBroadcastMode over
    # one row, not a pair blowup), so nested-loop is deliberately
    # absent from forbid; CartesianProduct over data frames stays
    # forbidden.
    "dp_sample": dict(pushed=None,
                      expect=["TakeOrderedAndProject", "Window",
                              "BroadcastHashJoin"],
                      forbid=["CartesianProduct"]),
    "dp_top_k_per_group": dict(pushed=None, expect=["Window"],
                               forbid=["rangepartitioning",
                                       "CartesianProduct",
                                       "BroadcastNestedLoopJoin"]),
    "dp_group_quantiles": dict(pushed=None, expect=["Aggregate"],
                               forbid=["rangepartitioning", "SortMergeJoin"]),
    # ANN bundle (LSH buckets + IVF cells + PQ ADC): every top-k must be a
    # TakeOrderedAndProject (per-partition heaps), never a global sort; the
    # only nested-loop joins are the documented single-row verdict
    # crossJoins, so a CartesianProduct over data frames stays forbidden
    "dp_ann_approx": dict(pushed=None, expect=["TakeOrderedAndProject"],
                          forbid=["rangepartitioning", "SortMergeJoin",
                                  "CartesianProduct"]),
    # shard manifest: the prefix cumsum must be the two-phase form — every
    # window partitioned (an UNPARTITIONED windowspecdefinition's first arg
    # is a sort order, i.e. `col ASC/DESC`, instead of a partition column),
    # and the offset join a broadcast, never sort-merge
    "dp_pack_sequences": dict(
        pushed=None, expect=[],
        forbid=[r"windowspecdefinition\([^,()]* (?:ASC|DESC)",
                "SortMergeJoin"]),
    # near-dup scale bundle: candidate generation is equi-joins on derived
    # keys (band hash / pigeonhole block / IVF cell) — never a cartesian
    # or a global sort; the rung-3 verify joins are VOLUME-GATED
    # (dedup._rung3_exact): broadcast under the count+bytes bound,
    # MERGE-hinted sort-merge above it (r15 — the one strategy that
    # neither collects nor holds an unspillable hash build; the former
    # shuffle_hash hint OOM'd at 10x).  SortMergeJoin is therefore a
    # LEGITIMATE shape here and must never enter forbid; the banded/
    # block self-joins may also pick SMJ statically pre-AQE.
    "dp_neardup_scale": dict(
        pushed=None, expect=["BroadcastHashJoin", "HashAggregate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "rangepartitioning"]),
    # composed end-to-end recipe (r15): every stage is an already-audited
    # operator recomposed — broadcast hash joins for the eval-gram /
    # fingerprint / flag sides, hash aggregation everywhere, id-keyed
    # equi-joins for the survivor/near-dup/edit composition (SMJ is a
    # legitimate static pick for those); never a cartesian, nested-loop
    # join, global sort, or SortAggregate
    "dp_corpus_preprocess": dict(
        pushed=None, expect=["BroadcastHashJoin", "HashAggregate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "rangepartitioning", "SortAggregate"]),
    # text-stats bundle (quality + PII + contamination + span stats + BPE
    # law): candidate generation is equi-joins on derived keys only — no
    # cartesian products, no global sorts.  The eval-gram contamination
    # marking must stay a broadcast hash join (the eval corpus is tiny by
    # definition; r12 folded the former contaminated_ids semi-join into
    # the decontaminate_cut pass, so LeftSemi is gone by design)
    "dp_text_stats": dict(
        pushed=None, expect=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "rangepartitioning"]),
    # lang-ID + unigram/bigram-LM bundle: every LM lookup is an equi-join
    # (vocab broadcast for the unigram scorer; the CCNet bigram scorer is
    # volume-gated — broadcast under VOCAB_GATE, shuffle-hash above, both
    # shapes pass) feeding hash aggregations — never a cartesian, nested-
    # loop join or global sort
    "dp_lang_id": dict(
        pushed=None, expect=["HashAggregate", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "rangepartitioning"]),
}


def main(only=None):
    import __spark_entry__ as ent
    from yupana_spark.session import get_spark

    spark = get_spark("explain-audit", cpus=8)
    qs = ent.queries()
    failures = []
    for name, checks in CHECKS.items():
        if only and name not in only:
            continue
        df = qs[name](spark, SF_DIR)
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exchanges = len(re.findall(r"\bExchange\b", plan))
        print(f"\n===== {name} (exchanges: {n_exchanges}) =====")
        if only:
            print(plan)
        ok = True
        if checks["pushed"] and not re.search(checks["pushed"], plan):
            print(f"  MISSING pushdown: {checks['pushed']}")
            ok = False
        for pat in checks["expect"]:
            if not re.search(pat, plan):
                print(f"  MISSING expected: {pat}")
                ok = False
        for pat in checks["forbid"]:
            if re.search(pat, plan):
                print(f"  FORBIDDEN present: {pat}")
                ok = False
        cap = checks.get("max_sort_aggs")
        if cap is not None:
            n_sort = len(set(re.findall(r"SortAggregate \((\d+)\)", plan)))
            if n_sort > cap:
                print(f"  TOO MANY SortAggregates: {n_sort} > {cap}")
                ok = False
        print("  OK" if ok else "  AUDIT FAILED")
        if not ok:
            failures.append(name)
            if not only:
                print(plan[:4000])
    # the shard-manifest cumsum executes inside assign_shards' eager
    # checkpoint, so its Window never reaches the returned plan the CHECKS
    # loop explains — audit phase 1 directly: the window must be
    # PARTITIONED (an unpartitioned windowspecdefinition leads with a sort
    # order) and fed by range partitioning, never a single partition
    if not only or "dp_pack_sequences" in (only or set()):
        from pyspark.sql import functions as F

        from yupana_spark.datapipe.pack import _shard_phase1

        probe = spark.range(1000).select(
            F.col("id").alias("pack_id"), F.lit(10).alias("n_tokens"))
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _shard_phase1(probe, "n_tokens", "pack_id", 8) \
                .explain("formatted")
        plan = buf.getvalue()
        print("\n===== assign_shards phase-1 cumsum =====")
        ok = True
        if re.search(r"windowspecdefinition\([^,()]* (?:ASC|DESC)", plan):
            print("  FORBIDDEN present: unpartitioned window")
            ok = False
        if not re.search(r"Window", plan):
            print("  MISSING expected: Window")
            ok = False
        if not re.search(r"rangepartitioning", plan):
            print("  MISSING expected: rangepartitioning (phase-1 layout)")
            ok = False
        if re.search(r"Exchange SinglePartition", plan):
            print("  FORBIDDEN present: Exchange SinglePartition")
            ok = False
        print("  OK" if ok else "  AUDIT FAILED")
        if not ok:
            failures.append("assign_shards_phase1")
            print(plan[:4000])

    # the Bernoulli sampling arm's zero-shuffle contract (formerly pinned on
    # the whole dp_sample plan, now probed standalone since the bundle
    # gained quota/DSIR arms that legitimately shuffle): a deterministic
    # md5-prefix sample over a scan must contain NO Exchange at all
    if not only or "dp_sample" in (only or set()):
        from yupana_spark.datapipe.sample import deterministic_sample

        probe = deterministic_sample(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"),
            "doc_id", 0.2, stratum_col="lang", stratum_rates={"en": 0.5})
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        print("\n===== deterministic_sample (row-local arm) =====")
        if re.search(r"\bExchange\b", plan):
            print("  FORBIDDEN present: Exchange\n  AUDIT FAILED")
            failures.append("deterministic_sample_rowlocal")
            print(plan[:4000])
        else:
            print("  OK")

    if failures:
        print(f"\naudit failures: {failures}")
        sys.exit(1)
    print("\nall plans pass the audit")


if __name__ == "__main__":
    main(set(sys.argv[1:]) or None)
