#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 40 --trace 0

Run from the root of a checkout.  The first run builds the engine and the
JVM driver (perfbench/build.py) into .bench_build/.  A run then

1. sets up once: generates the inputs from --seed (the catalogs read the
   fixed fixtures under perfbench/fixtures), starts the JVM and a Spark
   session and, for daily_sync, backfills the tables; ``setup_s`` runs from
   here to the start of the first timed op;
2. runs the workload as a closed loop -- one client thread, local[4],
   four shuffle partitions: a cold first pass, then a fixed number of warm
   ops, never longer than --seconds;
3. checks the outputs (untimed) against DuckDB;
4. prints an environment stamp, a report with every figure and its unit,
   and as its last line ``{"correct", "attempted", "failed", "metrics"}``
   with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).

With --trace 1 every other warm op records spans, Spark jobs, planner and
micro-batch phases; the listeners are attached only around those ops, so
``trace.overhead`` compares them with untraced ops of the same run.  The
raw record of every run is kept under .bench_build/records/.
"""
import argparse
import json
import math
import os
import platform
import random
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import replay  # noqa: E402
import stats  # noqa: E402

TIME_LIMIT = 170     # seconds a run may take, build excluded
HEAP = "3g"
CATALOG = json.load(open(os.path.join(HERE, "catalog.json")))

# Sizes are fixed per workload so every run does the same amount of work;
# --seconds only caps the warm phase. The backfill commits version 1 of the
# price table and every cycle one more, so cycle 9 writes the checkpoint
# of version 10 (TxnLog.CheckpointInterval) in untraced and traced runs.
WORKLOADS = {
    "daily_sync": {"cycles": 9, "traced_cycles": 11, "symbols": 300,
                   "history_days": 400, "vacuum_every": 5},
    "catalog_batch": {"sf": CATALOG["catalog_batch"]["sf"], "passes": 1},
    "catalog_stream": {"sf": CATALOG["catalog_stream"]["sf"], "passes": 3},
}

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("ops_per_s", "1/s")]
SPARK = [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
         ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
         ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
         ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
         ("spark.output_bytes", "bytes")]
LAYER = (
    [("sources.snapshot_s", "s"), ("sources.merge_s", "s"), ("sources.merge_ckpt_s", "s"),
     ("sources.overwrite_s", "s"), ("sources.vacuum_s", "s"), ("sources.commit_jobs", "count"),
     ("sources.files_added", "count"), ("sources.files_removed", "count"),
     ("sources.bytes_written", "bytes"), ("sources.log_bytes", "bytes"),
     ("sources.checkpoint_bytes", "bytes"),
     ("sync_write_amp", "ratio"), ("sync_space_amp", "ratio"), ("sync_latency_growth", "ratio"),
     ("ops.watermark_s", "s"), ("ops.fetched_rows", "count"), ("ops.dedup_kept_frac", "ratio"),
     ("ops.guard_accept_frac", "ratio"),
     ("streaming.batches", "count"), ("streaming.input_rows", "count"),
     ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
     ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s")]
    + [(f"{m}.query_s", "s") for m in CATALOG["modules"]]
    + SPARK
    + [("driver.only_s", "s"), ("trace.op_self_s", "s"), ("trace.op_child_cover", "ratio"),
       ("trace.overhead", "ratio")])
# The result line (and BENCHMARK.json) carries every per-layer figure except
# the time spent in layers that some workload never enters: such a time
# reads exactly 0 on every run of that workload. The report carries all.
PER_LAYER = [(k, u) for k, u in LAYER if u != "s" or not k.startswith(
    ("sources.", "ops.", "streaming.", "operators.", "functions."))]


RECORDS = os.path.join(ROOT, ".bench_build", "records")


def fail(msg, log=None):
    """Exit without a result line; keep the JVM log of the failed run."""
    if log and os.path.isfile(log):
        os.makedirs(RECORDS, exist_ok=True)
        shutil.copy(log, os.path.join(RECORDS, "failed-jvm.log"))
        msg += f" (JVM log: {os.path.join(RECORDS, 'failed-jvm.log')})"
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fixtures(sf):
    """The catalogs' input: a byte copy of the engine's read-only seed-42
    fixtures at scale factor ``sf`` (see fixtures/SHA256SUMS)."""
    return os.path.join(HERE, "fixtures", f"sf{sf}")


def query_order(workload, seed):
    qs = list(CATALOG[workload]["queries"])
    random.Random(seed).shuffle(qs)
    return qs


def java_cmd(classes, jars, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            # a fixed heap and the throughput collector: fewer, shorter pauses
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={args['work']}",
               "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Driver"]
            + [f"{k}={v}" for k, v in args.items()])


# ─── reductions ─────────────────────────────────────────────────────────

def secs(o):
    return (o["end"] - o["start"]) / 1e9


def end_to_end(rec):
    ops = rec["ops"]
    cold = [o for o in ops if o["phase"] == "cold"]
    warm = [o for o in ops if o["phase"] == "warm"]
    ok = [secs(o) for o in warm if o["ok"]]
    n_fail = sum(not o["ok"] for o in warm)
    tail, pct = stats.tail(ok, n_fail)
    wall = (warm[-1]["end"] - warm[0]["start"]) / 1e9 if warm else float("nan")
    m = {"setup_s": ops[0]["start"] / 1e9 - T0,
         "cold_s": sum(secs(o) for o in cold if o["ok"]),
         "op_p50_s": stats.median(ok),
         "op_tail_s": tail,
         "ops_per_s": len(ok) / wall if wall > 0 else float("nan")}
    info = {"warm_ops": len(warm), "warm_ok": len(ok),
            "tail_percentile": pct,
            "failed_frac": sum(not o["ok"] for o in ops) / max(1, len(ops))}
    return m, info


def sync_figures(rec):
    """Amplification and latency growth of daily_sync (empty elsewhere)."""
    if "sync_cycles" not in rec:
        return {}
    warm = [secs(o) for o in rec["ops"] if o["phase"] == "warm" and o["ok"]]
    q = max(1, len(warm) // 4)
    return {"sync_write_amp": rec["sync_written"] / rec["sync_offered_bytes"],
            "sync_space_amp": rec["sync_table_bytes"] / rec["sync_compact_bytes"],
            "sync_latency_growth": stats.median(warm[-q:]) / stats.median(warm[:q])}


def per_layer(rec):
    ops = [o for o in rec["ops"] if o["phase"] == "warm" and o["ok"]]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    tids = {o["id"] for o in traced}
    n = max(1, len(traced))
    spans = [dict(zip(("id", "name", "parent", "op", "start", "end"), s)) for s in rec["spans"]]
    spans = [s for s in spans if s["op"] in tids]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1e9)
    span_name = {s["id"]: s["name"] for s in spans}
    span_op = {s["id"]: s["op"] for s in spans}
    jobs = [j for j in rec["jobs"] if j[1] in span_op]
    m = {k: 0.0 for k, _ in LAYER}

    def med(name):
        return stats.median(by_name[name]) if name in by_name else 0.0

    for k in ("snapshot", "merge", "overwrite", "vacuum"):
        m[f"sources.{k}_s"] = med(f"sources.{k}")
    m["ops.watermark_s"] = med("ops.watermark")
    m["sources.commit_jobs"] = sum(span_name[j[1]].startswith("sources.") for j in jobs) / n
    cols = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"]
    scale = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}
    for i, c in enumerate(cols):
        total = len(jobs) if c == "jobs" else sum(j[3 + i] for j in jobs)
        m[f"spark.{c}"] = total * scale.get(c, 1) / n
    # driver-only remainder and span coverage, per traced op
    roots = {s["op"]: s for s in spans if s["parent"] == -1}
    self_t = stats.self_times(spans)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(span_op[j[1]], []).append((j[2] * 1_000_000, j[3] * 1_000_000))
    only, cover, own = [], [], []
    for op, r in roots.items():
        d = r["end"] - r["start"]
        only.append(stats.driver_only(r["start"], r["end"], jobs_of.get(op, [])) / 1e9)
        own.append(self_t[r["id"]] / 1e9)
        cover.append(1 - self_t[r["id"]] / d if d else 0.0)
    m["driver.only_s"] = stats.median(only) if only else 0.0
    m["trace.op_self_s"] = stats.median(own) if own else 0.0
    m["trace.op_child_cover"] = stats.median(cover) if cover else 0.0

    def in_op(ms):
        return next((o["id"] for o in traced if o["start"] <= ms * 1e6 <= o["end"]), None)

    plans = [p for p in rec["plans"] if in_op(p[0]) is not None]
    for i, k in enumerate(("analysis", "optimization", "planning")):
        m[f"plans.{k}_s"] = sum(p[1 + i] for p in plans) / 1e3 / n
    batches = [b for b in rec["batches"] if in_op(b[0]) is not None]
    m["streaming.batches"] = len(batches) / n
    m["streaming.input_rows"] = sum(b[1] for b in batches) / n
    for i, k in enumerate(("trigger", "add_batch", "query_planning", "wal_commit")):
        m[f"streaming.{k}_s"] = sum(b[2 + i] for b in batches) / 1e3 / n
    # catalog: per-module time, summed over the queries tagged with it
    per_query = {}
    for o in traced:
        per_query.setdefault(o["name"], []).append(secs(o))
    for mod in CATALOG["modules"]:
        m[f"{mod}.query_s"] = sum(stats.median(v) for q, v in per_query.items()
                                  if mod in CATALOG["tags"].get(q, []))
    # daily_sync: per-cycle bookkeeping
    if "sync_cycles" in rec:
        cyc = rec["sync_cycles"]
        nc = max(1, len(cyc))
        m["sources.bytes_written"] = sum(c["bytes_written"] for c in cyc) / nc
        m["sources.log_bytes"] = sum(c["log_bytes"] for c in cyc) / nc
        m["sources.checkpoint_bytes"] = sum(c["checkpoint_bytes"] for c in cyc) / nc
        m["ops.fetched_rows"] = rec["sync_fetched_rows"] / nc
        m["ops.dedup_kept_frac"] = rec["sync_offered_rows"] / max(1, rec["sync_fetched_rows"])
        acc = [c for c in cyc if c["accepted"] >= 0]
        m["ops.guard_accept_frac"] = (sum(c["accepted"] for c in acc)
                                      / max(1, sum(c["offered"] for c in acc)))
        hist = {h["version"]: h for h in rec["sync_history"]}
        merged = [hist[c["version"]] for c in cyc if c["op"] in tids and c["version"] in hist]
        m["sources.files_added"] = sum(h["added"] for h in merged) / max(1, len(merged))
        m["sources.files_removed"] = sum(h["removed"] for h in merged) / max(1, len(merged))
        every = rec["checkpoint_interval"]
        ck_ops = {c["op"] for c in cyc if c["version"] % every == 0}
        ck = [(s["end"] - s["start"]) / 1e9 for s in spans
              if s["name"] == "sources.merge" and s["op"] in ck_ops]
        m["sources.merge_ckpt_s"] = stats.median(ck) if ck else 0.0
        m.update(sync_figures(rec))
    if "sync_cycles" not in rec:
        # pair each query's traced and untraced times so the mix cancels
        pairs = []
        for q, t in per_query.items():
            u = [secs(o) for o in plain if o["name"] == q]
            if u:
                pairs.append(stats.median(t) / stats.median(u))
        m["trace.overhead"] = stats.median(pairs) - 1 if pairs else float("nan")
    else:
        # each traced cycle against its untraced neighbours, so the
        # warm-up trend across cycles cancels
        t = {o["id"]: secs(o) for o in ops}
        ratios = []
        for o in traced:
            near = [t[i] for i in (o["id"] - 1, o["id"] + 1) if i in t and i not in tids]
            if near:
                ratios.append(secs(o) / (sum(near) / len(near)))
        m["trace.overhead"] = stats.median(ratios) - 1 if ratios else float("nan")
    return m


def env_stamp(seed, workload, digest, java_version):
    try:  # only when the checkout itself is a git work tree
        top, commit = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                                     cwd=ROOT, capture_output=True, text=True,
                                     timeout=10).stdout.split() or (None, None)
        commit = commit if top and os.path.samefile(top, ROOT) else None
    except (OSError, ValueError, subprocess.SubprocessError):
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "heap": HEAP, "jvm": java_version, "python": platform.python_version(),
            "git_commit": commit, "source_sha256": digest,
            "sf": WORKLOADS[workload].get("sf"), "seed": seed, "workload": workload,
            "master": "local[4]", "shuffle_partitions": 4, "client_threads": 1}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    out_root = os.path.join(ROOT, ".bench_build")
    try:
        classes, jars, digest = build.build(out_root)
    except build.BuildError as e:
        fail(str(e))
    global T0
    T0 = time.time()  # a run's clock starts after the (cached) build
    work = os.path.join(out_root, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        w = WORKLOADS[a.workload]
        if a.workload == "daily_sync":
            inputs = os.path.join(work, "inputs")
            day0 = gen.sync_inputs(a.seed, inputs, n_symbols=w["symbols"],
                                   history_days=w["history_days"], cycles=w["traced_cycles"])
        else:
            # the catalogs read one fixed fixture set, as graft.Bench does;
            # their seed shuffles the warm order
            inputs = fixtures(w["sf"])
        args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                "inputs": inputs, "work": work,
                "out": os.path.join(work, "record.json")}
        if a.workload == "daily_sync":
            args.update(day0=day0, vacuum_every=w["vacuum_every"],
                        max_ops=w["traced_cycles" if a.trace else "cycles"])
        else:
            args.update(queries=",".join(query_order(a.workload, a.seed)),
                        cold_queries=",".join(CATALOG[a.workload]["queries"]),
                        passes=max(w["passes"], 2 if a.trace else 0))
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                # scratch files stay in the run's directory, whatever the caller's
                # environment says
                env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
                subprocess.run(java_cmd(classes, jars, args), cwd=work, env=env, stdout=log,
                               stderr=subprocess.STDOUT,
                               timeout=max(10, TIME_LIMIT - (time.time() - T0)))
            except subprocess.TimeoutExpired:
                fail(f"the JVM driver ran past {TIME_LIMIT} s", log.name)
        try:
            rec = json.load(open(args["out"]))
        except (OSError, ValueError):
            fail("the JVM driver wrote no record", os.path.join(work, "jvm.log"))
        if rec["fatal"]:
            fail(f"run aborted: {rec['fatal']}", os.path.join(work, "jvm.log"))

        # output checks (untimed); any failure fails the run
        errors = list(rec["check_errors"])
        if a.workload == "daily_sync":
            cycles = sum(o["ok"] for o in rec["ops"])
            errors += replay.check(inputs, day0, cycles, rec["sync_dump"])
        else:
            r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                                inputs, rec["catalog_dump"]], capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            errors += [ln for ln in lines if ln and not ln.startswith("OK")
                       and not ln[0].isdigit()]
            if r.returncode != 0 or not lines:
                errors.append(f"tools/check.py: {lines[-1] if lines else r.stderr[-300:]}")
        failed_ops = [o for o in rec["ops"] if not o["ok"]]
        errors += [f"op {o['name']} failed: {o['error']}" for o in failed_ops]

        e2e, info = end_to_end(rec)
        stamp = env_stamp(a.seed, a.workload, digest, rec.get("java_version"))
        report = {"end_to_end": {k: [e2e[k], u] for k, u in END_TO_END},
                  "failed_frac": [info["failed_frac"], "ratio"],
                  "failed_ops": [o["name"] for o in failed_ops],
                  "samples": {"warm_ops": info["warm_ops"], "warm_ok": info["warm_ok"],
                              "tail_percentile": info["tail_percentile"],
                              "jvm_setup_s": (rec["setup_end"] - rec["jvm_start"]) / 1e9},
                  "sync": {k: [v, "ratio"] for k, v in sync_figures(rec).items()},
                  "check_errors": errors[:20]}
        if a.trace:
            layer = per_layer(rec)
            report["per_layer"] = {k: [layer[k], u] for k, u in LAYER}
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        os.makedirs(RECORDS, exist_ok=True)
        keep = os.path.join(RECORDS, f"{a.workload}-{a.seed}-trace{a.trace}.json")
        with open(keep, "w") as fh:
            json.dump({"env": stamp, "report": report, "record": rec}, fh)
        print(json.dumps({"env": stamp}))
        print(json.dumps({"report": report}))
        bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
        if bad:
            errors.append(f"metrics not measured: {bad}")
        print(json.dumps({"correct": not errors, "attempted": len(rec["ops"]),
                          "failed": len(failed_ops),
                          "metrics": {k: (v if math.isfinite(v["value"]) else
                                          {"value": None, "unit": v["unit"]})
                                      for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
