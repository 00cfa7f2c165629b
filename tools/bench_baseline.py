"""Self-check against the practical baseline: DuckDB running the oracle SQL
on the same parquet at the same scale factor (BASELINE.md: bench within 2x).

Usage: python tools/bench_baseline.py [sf_dir] [--passes N] [--force]

Pinned protocol (r13 — solo ratios historically swung 1.26-1.46x with
host load): per query, 1 warm pass then N timed passes PER SIDE
interleaved (spark, duck, spark, duck, ...), per-query time = MEDIAN of
the N passes; the JSON records passes, the 1-minute load average at
start, and a ``noisy`` flag when that load exceeds LOAD_WARN (the run
refuses instead unless --force, so a number taken under load cannot be
published by accident).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ALL = "--all" in sys.argv
if _ALL:
    sys.argv.remove("--all")
_FORCE = "--force" in sys.argv
if _FORCE:
    sys.argv.remove("--force")
PASSES = 3
if "--passes" in sys.argv:
    i = sys.argv.index("--passes")
    try:
        PASSES = max(1, int(sys.argv[i + 1]))
    except (IndexError, ValueError):
        print("usage: bench_baseline.py [sf_dir] [--passes N] [--force] "
              "[--all]  (N must be an integer)")
        sys.exit(2)
    del sys.argv[i:i + 2]
#: 1-min load above this at start => the host is busy and Spark's JVM
#: timings are untrustworthy (2-4x swings, BASELINE.md) — refuse unless
#: --force, and flag the record either way
LOAD_WARN = 8.0
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# queries whose oracle is a faithful EQUIVALENT WORKLOAD of the operator.
# COMPARE = the driver's 15-query headline set (bench.py's QUERIES —
# q_tpch_q1/q6 + dp_sample added in r12 so the published vs-DuckDB ratio
# is reproducible over the same list) plus the extra oracled entries the
# judge benches have historically carried (q_session_windows,
# q_inverted_index, q_related_items, dp_text_stats, dp_embed_neardup).
# Documented exclusions (r12):
# * dp_neardup_scale — its oracle is a VERDICT frame (completeness /
#   regime checks over the pipeline's own artifacts), not a DuckDB
#   reimplementation of the LSH pipeline; DuckDB "runs" it in ~2 ms, so
#   including it would flatter Spark by ~800x for a meaningless reason.
# * dp_ngram_jaccard — the inverse problem (pass --all to include): its
#   DuckDB oracle alone runs ~750 s at sf0.1 (vs Spark ~1.6 s since the
#   blocked sparse-intersection kernel) and would flatter the total —
#   the same exclusion the round-4 judge bench applied.
COMPARE = ["q_day_rollup", "q_having", "q_post_agg_arith", "q_agg_stats",
           "q_lag_window", "q_arith_currency", "q_link_enrich",
           "q_link_two_hop", "q_yql_text", "q_tpch_q1", "q_tpch_q6",
           "q_session_windows",
           "q_inverted_index", "q_related_items",
           "dp_exact_dedup", "dp_lang_id",
           "dp_ann_bruteforce", "dp_text_stats", "dp_sample",
           "dp_embed_neardup"]
if _ALL:
    COMPARE.insert(-1, "dp_ngram_jaccard")
#: Spark-only extras: timed with the same median-of-N protocol and band-
#: checked, but excluded from the vs-DuckDB ratio (their oracle is a
#: verdict frame, see dp_neardup_scale's exclusion note above) — so
#: drifts in them surface mechanically instead of via judge archaeology
#: (judge r13 #6)
EXTRAS = ["dp_neardup_scale"]
#: checked-in per-query regression bands (judge r13 #6): pinned medians
#: from a quiet-host run plus a relative tolerance; a timed median
#: outside [band*(1-tol), band*(1+tol)] is flagged in the JSON record —
#: "above" breaches are regressions, "below" ones are improvements that
#: deserve a band refresh.  Refresh by re-running this tool on a quiet
#: host and copying the spark medians into the file.
BANDS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "bench_bands.json")

#: Pass-spread instability rule (r17, recalibrated same round): a query is
#: contention-suspect only when its max/min pass spread exceeds SPREAD_MIN
#: *and* its absolute swing (max - min seconds) exceeds SWING_MIN_S.  The
#: first r17 calibration counted spread alone (>=5 queries above 2.0x) —
#: then two genuinely quiet runs (load1 0.15-3.7 decaying, control ON its
#: bands, round-best totals) flagged 6-7/21 queries: every one a sub-0.4 s
#: scheduling-floor entry whose ~0.1-0.3 s absolute jitter doubles it, and
#: every real-work entry stable (spreads 1.0-1.5).  Floor jitter is
#: bounded in SECONDS (the job-submission constant), while BURSTY
#: contention moves passes by absolute seconds — so the absolute
#: qualifier separates the regimes where the ratio alone cannot.  The
#: count threshold drops to 3 because the qualified signal is strict:
#: measured quiet runs score 0 qualified queries.  Calibration
#: experiments (r17 resumed session, OPTIMIZATION_r17.md): (a) a
#: load1-0.13 run with the control in band swung dp_embed_neardup
#: 0.38->5.13 s — the bursty mode this rule exists for (caught via
#: BIG_SWING_S); (b) a deliberate STEADY-contention run (24 spin
#: processes, load1 16) measured every query uniformly ~1.5x with
#: spreads 1.1-1.9 and 0 qualified — steady load does not swing passes,
#: and is already labeled by the `noisy` load guard.  The detection
#: lattice is therefore: steady external load -> `noisy`; host-wide
#: throttling -> `control_drift`; bursty JVM-side contention -> this
#: flag; steady JVM-only inflation under a quiet load average remains
#: detectable only by a same-window A/B (docs/scale.md).
SPREAD_MIN = 2.0
SWING_MIN_S = 0.4
UNSTABLE_MIN_QUERIES = 3
#: A single query swinging by this many ABSOLUTE seconds (at qualifying
#: spread) marks the run unstable by itself: warm quiet-host passes never
#: move any entry whole seconds (measured quiet maxima: ~0.4-0.5 s swings
#: on the 1.6-2.7 s entries at spreads < 1.5), while the calibration
#: specimen below swung a 0.4 s query to 5.1 s (swing 4.75 s) in an
#: otherwise-quiet-looking run (load1 0.13, control in band) — mid-run
#: contention touching one heavy query is still contention.
BIG_SWING_S = 2.0


#: JVM canary (r17, resumed session): a REPO-INDEPENDENT fixed workload —
#: 10M rows of md5 + one groupBy exchange over spark.range, ~0.55 s on this
#: host's quiet windows — timed at the START of every run (before the query
#: loop pollutes the JVM's heap dynamics; see the end-leg rejection note in
#: main()) against a pinned quiet-host median (`canary_s` in
#: bench_bands.json, above-only).
#: It closes the last hole in the episode lattice: the STEADY JVM-only
#: inflation mode (docs/scale.md: same-code totals 9.7/11.65 s at load1
#: 0.02, every query uniformly ~1.5-2x, control in band, spreads low) is
#: invisible to the load guard, the DuckDB control, and the pass-spread
#: rule — but the canary cannot regress with this repo's code (it touches
#: none of it), so its elevation is ALWAYS environment.  Advisory like
#: `unstable`: breach accounting is unchanged; a `jvm_inflated` record says
#: "the JVM side of this host was running slow by the recorded factor —
#: adjudicate spark breaches against it before calling them regressions".
CANARY_N = 10_000_000


def _canary_df(spark):
    return (spark.range(CANARY_N)
            .selectExpr("id % 997 as k", "md5(cast(id as string)) as h")
            .groupBy("k").agg({"h": "min", "k": "count"}))


def check_canary(canary_s: list, bands: dict) -> tuple:
    """(jvm_inflation, jvm_inflated) from canary medians vs the pin.

    ``canary_s``: the run's canary leg medians — the WORST one is
    compared (the shipped protocol measures one start leg; the helper
    stays list-shaped for experiments).  Above-only against
    ``canary_s`` x (1 + ``canary_tolerance``) from bench_bands.json: a
    faster host never flags.  Returns (None, False) when no pin or no
    measurement exists.  Pure function, unit-tested in
    tests/test_bench_bands.py."""
    pin = bands.get("canary_s")
    if not pin or not canary_s:
        return None, False
    inflation = max(canary_s) / pin
    tol = bands.get("canary_tolerance", 0.5)
    return round(inflation, 2), inflation > 1 + tol


def check_instability(passes: dict) -> tuple:
    """Label a run unstable from per-query pass lists (r17).

    ``passes``: {query: [pass seconds, ...]} — every timed spark pass,
    COMPARE and EXTRAS alike.  A genuine regression is STABLY slow; the
    asymmetric contention episode (spark elevated while the single-process
    DuckDB control sits in band) swings the SAME query multi-x between
    interleaved passes by absolute seconds.  A query qualifies when
    max/min > SPREAD_MIN *and* max-min > SWING_MIN_S (sub-floor jitter
    doubles a 0.15 s query without meaning anything); the run is unstable
    when >= UNSTABLE_MIN_QUERIES qualify, OR when any single query's
    swing exceeds BIG_SWING_S — whole seconds of pass-to-pass movement on
    one query is contention even if the window spared the others.
    Advisory: band/breach accounting is unchanged — an unstable record
    says "medians are upper bounds, re-run".  Returns (unstable,
    n_qualified, detail) where detail maps each qualifying query to its
    spread and swing.  Pure function, unit-tested in
    tests/test_bench_bands.py with this round's measured quiet- and
    contended-run shapes."""
    detail = {}
    big = False
    for name, ss in passes.items():
        if not ss:
            continue
        mx, mn = max(ss), min(ss)
        spread = mx / max(mn, 1e-9)
        swing = mx - mn
        if spread > SPREAD_MIN and swing > SWING_MIN_S:
            detail[name] = {"spread": round(spread, 2),
                            "swing_s": round(swing, 3)}
            big = big or swing > BIG_SWING_S
    n = len(detail)
    return n >= UNSTABLE_MIN_QUERIES or big, n, detail


def check_bands(spark_medians: dict, duck_medians: dict, bands: dict):
    """Band check with a co-measured CONTROL (r17, judge r16 #1).

    The interleaved DuckDB side is the environment control: host-level
    throttling episodes that never move the load average (the r16
    adjudication: a 1.29x/12-breach run with ``noisy: false`` whose DuckDB
    control was itself ~30% elevated, vs 0.80x/0 same-code 20 min later)
    elevate BOTH engines, so when the control itself breaches its pinned
    quiet-host bands the spark breaches are environment, not regression.
    Encodes the rule that previously lived only in docs/scale.md prose:

    * spark medians check against ``bands`` exactly as before;
    * duck medians check against ``duck_bands`` with ``duck_tolerance``
      (above-only: a fast control never invalidates a run);
    * ``control_drift`` = at least ``control_drift_min_breaches`` control
      queries above band, or the control TOTAL above its summed band by
      ``duck_total_tolerance`` — an episode elevates broadly, a DuckDB
      plan regression in one oracle does not;
    * on drift the spark breaches move to ``breaches_environment`` (kept
      for the record, excluded from regression accounting).

    Returns (breaches, control, drift) — pure function, unit-tested with a
    faked elevated control in tests/test_bench_bands.py.
    """
    tol = bands.get("tolerance", 0.4)
    slack = bands.get("abs_slack_s", 0.1)
    breaches = {}
    for n, s in spark_medians.items():
        band = bands.get("bands", {}).get(n)
        if band is None:
            continue
        lo, hi = band * (1 - tol) - slack, band * (1 + tol) + slack
        if s > hi:
            breaches[n] = {"spark_s": round(s, 3), "band": band,
                           "dir": "above"}
        elif s < lo:
            breaches[n] = {"spark_s": round(s, 3), "band": band,
                           "dir": "below"}
    d_tol = bands.get("duck_tolerance", 0.35)
    d_slack = bands.get("duck_abs_slack_s", 0.05)
    d_bands = bands.get("duck_bands", {})
    control = {}
    for n, d in duck_medians.items():
        band = d_bands.get(n)
        if band is None:
            continue
        if d > band * (1 + d_tol) + d_slack:
            control[n] = {"duck_s": round(d, 3), "band": band}
    tot_band = sum(b for n, b in d_bands.items() if n in duck_medians)
    tot_meas = sum(d for n, d in duck_medians.items() if n in d_bands)
    tot_tol = bands.get("duck_total_tolerance", 0.2)
    drift = (len(control) >= bands.get("control_drift_min_breaches", 3)
             or (tot_band > 0 and tot_meas > tot_band * (1 + tot_tol)))
    return breaches, control, drift


def main() -> None:
    import __spark_entry__ as ent
    from yupana_spark.session import get_spark

    spark = get_spark("bench-baseline")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_DIR}/{t}.parquet'")
    qs, oracles = ent.queries(), ent.oracle_sql()

    def _noop(df):
        # noop-write like bench.py: count() would let Catalyst PRUNE the
        # heavy output expressions (md5 digests, rebuilds, scores) and
        # time only the join skeleton (r12 — dp_text_stats "ran" in
        # 0.4 s under count() vs ~2.3 s for the real result); the noop
        # sink materializes every column, matching DuckDB's fetchall
        df.write.format("noop").mode("overwrite").save()

    load1 = os.getloadavg()[0]
    noisy = load1 > LOAD_WARN
    if noisy and not _FORCE:
        print(f"REFUSED: 1-min load {load1:.1f} > {LOAD_WARN} — timings "
              "under host load swing 2-4x (BASELINE.md). Re-run on a "
              "quiet host, or pass --force to record a flagged number.")
        sys.exit(2)

    from statistics import median as _median

    def _canary_median() -> float:
        ts = []
        for _ in range(PASSES):
            t0 = time.time()
            _noop(_canary_df(spark))
            ts.append(time.time() - t0)
        return _median(ts)

    # JVM canary, leg 1 (see check_canary): warm THREE times — the
    # md5/groupBy codegen needs 2-3 executions to JIT-settle (measured:
    # passes 1-2 run ~1.6-2x the steady state) and the canary measures
    # the HOST, not cold-start — then median-of-N like the queries
    for _ in range(3):
        _noop(_canary_df(spark))
    canary_start = _canary_median()

    rows = []
    all_passes = {}
    for name in COMPARE:
        if name not in oracles:
            continue
        # warm both, then interleave the timed passes so a load drift
        # mid-run biases both engines alike rather than one side
        _noop(qs[name](spark, SF_DIR))
        con.sql(oracles[name]).fetchall()
        ss, ds = [], []
        for _ in range(PASSES):
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            ss.append(time.time() - t0)
            t0 = time.time()
            con.sql(oracles[name]).fetchall()
            ds.append(time.time() - t0)
        t_spark, t_duck = _median(ss), _median(ds)
        ratio = t_spark / max(t_duck, 1e-9)
        # pass spread (r17): max/min over the timed passes.  A genuinely
        # regressed query is STABLY slow; JVM-side host contention (the
        # asymmetric episode the DuckDB control cannot see — spark
        # elevated while the single-process control sits in band) swings
        # the same query multi-x between interleaved passes.
        spread = max(ss) / max(min(ss), 1e-9)
        all_passes[name] = list(ss)
        rows.append((name, t_spark, t_duck, ratio, spread))
        print(f"{name:24s} spark {t_spark:7.3f}s  duck {t_duck:7.3f}s  "
              f"ratio {ratio:6.2f}x  spread {spread:4.1f}x")

    # spark-only extras: same protocol, no duck side, outside the totals
    extra_rows = []
    for name in EXTRAS:
        if name not in qs:
            continue
        _noop(qs[name](spark, SF_DIR))
        ss = []
        for _ in range(PASSES):
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            ss.append(time.time() - t0)
        t_spark = _median(ss)
        all_passes[name] = list(ss)
        extra_rows.append((name, t_spark,
                           max(ss) / max(min(ss), 1e-9)))
        print(f"{name:24s} spark {t_spark:7.3f}s  (spark-only, "
              "excluded from ratio)")

    # NO end-of-run canary leg (measured rejection, r17): bracketing the
    # run sounded right (inflation can arrive mid-run), but the end leg
    # measured the RUN's own JVM memory dynamics, not the host — after
    # the 20-query loop the driver JVM shrinks its heap (Runtime
    # totalMemory 6.5 -> 2.3 GB observed) and the canary's
    # allocation-heavy md5 job forces re-expansion + GC churn: end
    # passes swung 0.8-6.6 s while fresh-session passes sat at
    # 0.73-0.78 s, reproduced in two full runs (end medians 4.04/2.55
    # vs start 0.54/0.59) and isolated in a replication probe.  Mid-run
    # bursts remain covered by the pass-spread `unstable` rule; the
    # start leg cleanly answers "is the JVM side of this host slow in
    # this window".

    total_s = sum(r[1] for r in rows)
    total_d = sum(r[2] for r in rows)
    print(f"\n{'TOTAL':24s} spark {total_s:7.3f}s  duck {total_d:7.3f}s  "
          f"ratio {total_s / total_d:6.2f}x  "
          f"(median-of-{PASSES}, load {load1:.1f})")
    import json

    # load the pinned bands ONCE for both the band check and the canary
    # check (ADVICE r17: check_canary used to re-open BANDS_FILE without
    # closing the handle)
    bands = {}
    if os.path.exists(BANDS_FILE):
        with open(BANDS_FILE) as f:
            bands = json.load(f)
    # band check with the co-measured DuckDB control (r17, judge r16 #1):
    # spark breaches surface regressions; a breaching CONTROL surfaces a
    # host throttling episode and reclassifies the run as environment
    breaches, control, drift = {}, {}, False
    if bands:
        medians = {n: s for n, s, _d, _r, _sp in rows}
        medians.update({n: s for n, s, _sp in extra_rows})
        duck_medians = {n: d for n, _s, d, _r, _sp in rows}
        breaches, control, drift = check_bands(medians, duck_medians, bands)
        tol = bands.get("tolerance", 0.4)
        regressions = sorted(n for n, b in breaches.items()
                             if b["dir"] == "above")
        if drift:
            print(f"CONTROL DRIFT: the co-measured DuckDB side breaches "
                  f"its own quiet-host bands ({len(control)} queries: "
                  f"{', '.join(sorted(control))}) — the documented "
                  "throttling-episode signature (load guard blind to it). "
                  "This run measures the ENVIRONMENT, not the code; spark "
                  "breaches are recorded but excluded from regression "
                  "accounting. Re-run when the control sits in band.")
        elif regressions:
            print(f"BAND BREACH (regression): {', '.join(regressions)} — "
                  f"outside +{tol:.0%} of the pinned medians in "
                  f"{os.path.basename(BANDS_FILE)}; rerun solo to "
                  "confirm, then fix or re-pin with a reason.")
    # spark-side instability (r17): the ASYMMETRIC episode — spark
    # elevated while the single-process DuckDB control sits in band —
    # cannot be labeled by the control, but it shows as multi-x swings
    # of the SAME query between interleaved passes BY ABSOLUTE SECONDS
    # (a genuine regression is stably slow; sub-floor scheduling jitter
    # doubles a 0.15 s query on a perfectly quiet host).  Rule and
    # calibration: see check_instability / SWING_MIN_S above.
    unstable, n_unstable, unstable_detail = check_instability(all_passes)
    jvm_inflation, jvm_inflated = check_canary([canary_start], bands)
    if jvm_inflated:
        print(f"JVM INFLATED: the repo-independent canary ran "
              f"{jvm_inflation}x its pinned quiet-host median "
              f"({canary_start:.3f}s) — the JVM side of this host is "
              "running slow by that factor regardless of this repo's "
              "code. Adjudicate spark breaches against it before calling "
              "them regressions.")
    if unstable:
        big_hits = {n: d for n, d in unstable_detail.items()
                    if d["swing_s"] > BIG_SWING_S}
        if n_unstable < UNSTABLE_MIN_QUERIES and big_hits:
            # the BIG_SWING_S single-query path set the flag (ADVICE r17:
            # the count-rule message misread as "N queries" with N as low
            # as 1) — name the query and its swing instead
            culprit = max(big_hits, key=lambda n: big_hits[n]["swing_s"])
            print(f"UNSTABLE RUN: {culprit} swung "
                  f"{big_hits[culprit]['swing_s']}s "
                  f"(>{BIG_SWING_S}s) between interleaved passes while "
                  "the DuckDB control stayed put — JVM-side host "
                  "contention touched it mid-run. Medians from this run "
                  "are upper bounds; re-run before acting on breaches.")
        else:
            print(f"UNSTABLE RUN: {n_unstable}/{len(all_passes)} queries "
                  f"swung >{SPREAD_MIN:.0f}x AND >{SWING_MIN_S}s between "
                  "interleaved passes while the DuckDB control stayed put "
                  "— JVM-side host contention. Medians from this run are "
                  "upper bounds; re-run before acting on breaches.")
    # one machine-readable record (the bench.py posture) so runs are
    # diffable across rounds without re-parsing the table
    print(json.dumps({
        "metric": "baseline_ratio", "value": round(total_s / total_d, 3),
        "unit": "x_of_duckdb", "spark_s": round(total_s, 3),
        "duck_s": round(total_d, 3), "sf_dir": SF_DIR,
        "action": "noop-write", "n_queries": len(rows),
        "passes": PASSES, "agg": "median", "load1": round(load1, 2),
        "noisy": noisy,
        "control_drift": drift,
        "control_breaches": control,
        "unstable": unstable,
        "n_unstable_queries": n_unstable,
        "unstable_queries": unstable_detail,
        # named canary_start_s, NOT canary_s (ADVICE r17): canary_s is the
        # bench_bands.json PIN's key; the record field is the measurement
        "canary_start_s": round(canary_start, 3),
        "jvm_inflation": jvm_inflation,
        "jvm_inflated": jvm_inflated,
        # on drift the spark breaches are ENVIRONMENT, not regression —
        # band_breaches stays the regression-accounting field
        "band_breaches": {} if drift else breaches,
        "breaches_environment": breaches if drift else {},
        "queries": {n: {"spark_s": round(s, 3), "duck_s": round(d, 3),
                        "ratio": round(r, 2), "spread": round(sp, 2),
                        "swing_s": round(max(all_passes[n])
                                         - min(all_passes[n]), 3)}
                    for n, s, d, r, sp in rows},
        "spark_only": {n: {"spark_s": round(s, 3), "spread": round(sp, 2),
                           "swing_s": round(max(all_passes[n])
                                            - min(all_passes[n]), 3)}
                       for n, s, sp in extra_rows}}))


if __name__ == "__main__":
    main()
