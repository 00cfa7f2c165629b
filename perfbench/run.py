#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_pgwire --seed 1 --seconds 10 \\
        --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see perfbench/README.md).  Everything
the run writes (generated tables, warehouse roots, artifact store, Spark
local dirs, JVM temp files) lives under one per-run directory in
``.perfbench_tmp/`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("olap_pgwire", "ingest_mixed")


def pin_env(root: str) -> None:
    """Point every temp, local and store directory at ``root`` and size
    Spark to this host's cores, before pyspark is imported."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "SPARK_DRIVER_MEM": "2g",
        "YUPANA_ARTIFACTS_DIR": os.path.join(root, "artifacts"),
        # Python workers import the engine's UDFs from the checkout
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData' "
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={root}/spark-warehouse "
            f"pyspark-shell"),
    })
    time.tzset()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list:
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def peak_rss_mb() -> float:
    """VmHWM summed over this process and its descendants (the JVM and
    its Python workers)."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me] + _descendants(me)) / 1024.0


def stop_spark() -> None:
    """Stop the JVM gateway this process launched and wait for every
    descendant process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


# -- metrics -----------------------------------------------------------------
def pct(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(int(q * len(xs)), len(xs) - 1)]


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; (0, 0) when there are fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return 0.0, 0.0
    q = 1.0 - 10.0 / n
    return q * 100.0, pct(xs, q)


def end_to_end(res) -> dict:
    main = [o.latency_s for o in res.ops
            if o.kind == res.main_kind and o.ok and o.client >= 0]
    return {
        # the warm restarts; the cold set-up is the per-layer setup.cold_s
        "setup_s": (statistics.median(res.setup_s[1:]), "s"),
        "latency_p50_s": (statistics.median(main) if main else 0.0, "s"),
        "throughput_per_s": (throughput(res.ops), "1/s"),
    }


def throughput(ops) -> float:
    """Per client, the work its timed requests completed divided by the
    time spent in them (waits for the other client excluded); summed over
    clients."""
    work, spent = {}, {}
    for o in ops:
        if o.ok and o.client >= 0:
            work[o.client] = work.get(o.client, 0.0) + o.work
            spent[o.client] = spent.get(o.client, 0.0) + o.latency_s
    return sum(w / spent[c] for c, w in work.items() if spent[c])


def median_of(ops, kind: str) -> float:
    xs = [o.latency_s for o in ops if o.kind == kind and o.ok]
    return statistics.median(xs) if xs else 0.0


def per_layer(res, tracer, spark, rss: float) -> dict:
    from perfbench import trace

    timed = [o for o in res.ops if o.client >= 0]
    reqs = [o for o in timed if o.traced and o.rid is not None]
    rids = {o.rid for o in reqs}
    n = max(len(reqs), 1)
    selves = tracer.self_times(rids)
    incl = tracer.inclusive_times(rids)
    counts = {}
    for rid in rids:
        for k, v in tracer.counts.get(rid, {}).items():
            counts[k] = counts.get(k, 0.0) + v

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    main_u = [o.latency_s for o in timed
              if o.kind == res.main_kind and o.ok and not o.traced]
    main_t = [o.latency_s for o in timed
              if o.kind == res.main_kind and o.ok and o.traced]
    all_main = main_u + main_t
    q, tail_v = tail(all_main)
    out = {
        "setup.cold_s": (res.setup_s[0], "s"),
        "memory.peak_rss_mb": (rss, "MB"),
        "trace.p50_untraced_s": (statistics.median(main_u)
                                 if main_u else 0.0, "s"),
        "trace.p50_traced_s": (statistics.median(main_t)
                               if main_t else 0.0, "s"),
        "client.samples": (float(len(all_main)), "count"),
        "client.tail_pct": (q, "%"),
        "client.tail_s": (tail_v, "s"),
        "client.upsert_p50_s": (median_of(timed, "upsert"), "s"),
        # warm-up statements that asked a phrase for the first time
        "index.phrase_miss_s": (median_of(res.ops, "phrase_miss"), "s"),
    }
    u, t = out["trace.p50_untraced_s"][0], out["trace.p50_traced_s"][0]
    out["trace.overhead_ratio"] = (t / u if u else 0.0, "ratio")

    for key, span in (("sql.parse_s", "sql.parse"),
                      ("sql.analyze_s", "sql.analyze"),
                      ("optimizer.optimize_s", "optimizer.optimize"),
                      ("compiler.build_s", "compiler.build")):
        out[key] = (selves.get(span, 0.0) / n, "s")
    out["compiler.py4j_calls"] = (counts.get("compiler.py4j_calls", 0) / n,
                                  "count")
    out["session.conf_sets"] = (counts.get("session.conf_sets", 0) / n,
                                "count")

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for rid in rids:
        for df in tracer.dataframes.get(rid, []):
            for k, v in trace.catalyst_phases(df).items():
                phases[k] += v
    for k, v in phases.items():
        out[f"catalyst.{k}_s"] = (v / n, "s")

    sc = spark.sparkContext
    ex = {}
    for rid in rids:
        for k, v in trace.exec_stats(sc, tracer.groups.get(rid, [])).items():
            ex[k] = max(ex.get(k, 0.0), v) if k == "peak_mem_bytes" \
                else ex.get(k, 0.0) + v
    cores = sc.defaultParallelism
    for k, unit in (("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("stage_gap_s", "s"), ("run_s", "s"),
                    ("cpu_s", "s"), ("shuffle_bytes", "B"),
                    ("spill_bytes", "B")):
        out[f"exec.{k}"] = (ex.get(k, 0.0) / n, unit)
    wall = ex.get("wall_s", 0.0)
    out["exec.core_util"] = (ex.get("run_s", 0.0) / (wall * cores)
                             if wall else 0.0, "ratio")
    out["exec.peak_mem_bytes"] = (ex.get("peak_mem_bytes", 0.0), "B")

    wire = [o for o in reqs if o.kind in ("select", "upsert", "readback")]
    out["server.ttfr_s"] = (mean([o.ttfr_s for o in wire if o.rows]), "s")
    out["server.deliver_s"] = (mean([o.deliver_s for o in wire if o.rows]),
                               "s")
    out["server.rows"] = (mean([o.rows for o in wire]), "count")
    out["server.bytes"] = (mean([o.nbytes for o in wire]), "B")

    ups = [o for o in reqs if o.kind == "upsert"]
    nu = max(len(ups), 1)
    written = sum(tracer.counts.get(o.rid, {}).get("writes.bytes_written", 0)
                  for o in ups)
    user = sum(o.user_bytes for o in ups)
    files = sum(tracer.counts.get(o.rid, {}).get("writes.files", 0)
                for o in ups)
    parts = sum(tracer.counts.get(o.rid, {}).get("writes.partitions", 0)
                for o in ups)
    out["writes.upsert_s"] = (incl.get("writes.upsert", 0.0) / nu, "s")
    out["writes.bytes_written"] = (written / nu, "B")
    out["writes.write_amp"] = (written / user if user else 0.0, "ratio")
    out["writes.files_per_partition"] = (files / parts if parts else 0.0,
                                         "count")

    recs = [o for o in reqs if o.kind == "recalc"]
    nr = max(len(recs), 1)
    out["rollup.recalc_s"] = (incl.get("rollup.recalc", 0.0) / nr, "s")
    out["rollup.buckets"] = (sum(tracer.counts.get(o.rid, {}).get(
        "rollup.buckets", 0) for o in recs) / nr, "count")

    for k, v in trace.storage_info(sc).items():
        out[f"storage.{k}"] = (v, "count" if k == "cached_rdds" else "B")
    return out


def leg_layers(leg, tracer, spark) -> dict:
    """Per-layer metrics of the datapipe leg (zero for a workload without
    one): the median warm pass, the artifact fits over the whole leg, and
    the bytes that crossed the Python boundary per warm pass."""
    from perfbench import trace
    from perfbench.workloads import PIPE_BUNDLE

    warm = [o for o in leg if o.kind == "pipe" and o.ok]
    sc = spark.sparkContext
    job_ids = set()
    for o in warm:
        for g in tracer.groups.get(o.rid, []):
            job_ids.update(sc.statusTracker().getJobIdsForGroup(g))

    return {
        f"datapipe.{PIPE_BUNDLE}_s": (
            statistics.median([o.latency_s for o in warm]) if warm else 0.0,
            "s"),
        "artifacts.fits": (float(sum(tracer.counts.get(o.rid, {}).get(
            "artifacts.fits", 0.0) for o in leg)), "count"),
        "exec.python_bytes": (trace.python_bytes(spark, job_ids)
                              / max(len(warm), 1), "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="traced runs: write the spans to this "
                    "JSONL file (default .perfbench_tmp/spans/"
                    "<workload>-<seed>.jsonl)")
    args = ap.parse_args(argv)

    for need in ("yupana_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found next to perfbench/; run "
                  f"from a checkout of the engine", file=sys.stderr)
            return 2

    ticks0 = cpu_ticks()
    root = os.path.join(REPO, ".perfbench_tmp",
                        f"{args.workload}-{os.getpid()}")
    pin_env(root)
    sys.path.insert(0, REPO)
    from perfbench import trace, workloads

    tracer = None
    if args.trace:
        tracer = trace.Tracer()
        trace.install(tracer)
    run = workloads.Run(root, args.seed, args.seconds, tracer)
    res = None
    try:
        res = workloads.WORKLOADS[args.workload](run)
        spark = res.engine.spark
        rss = peak_rss_mb()
        if tracer:
            metrics = per_layer(res, tracer, spark, rss)
            leg = res.leg() if res.leg is not None else []
            res.ops += leg
            metrics.update(leg_layers(leg, tracer, spark))
        else:
            metrics = end_to_end(res)
        failures = []
        for o in res.ops:
            err = o.error if not o.ok else (o.check() if o.check else None)
            if err:
                failures.append(f"{o.kind}: {err}")
        run.mark("checks")
        for f in failures[:5]:
            print(f"perfbench: failed {f}", file=sys.stderr)
        if tracer:
            spans = args.spans or os.path.join(
                REPO, ".perfbench_tmp", "spans",
                f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(os.path.abspath(spans)),
                        exist_ok=True)
            tracer.dump(spans)
        attempted = len(res.ops)
        out = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        # the share of the host's CPU time a hypervisor gave to other
        # guests during the run, a source of run-to-run spread on shared hosts
        ticks1 = cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        print(f"perfbench: {args.workload} seed={args.seed} ops={attempted} "
              f"setups={[round(x, 2) for x in res.setup_s]} "
              f"failed_frac={len(failures) / attempted:.4f} "
              f"steal={steal:.3f} phases_end_s={run.marks}")
    finally:
        if res is not None and res.engine is not None:
            res.engine.stop()
        stop_spark()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
