"""Print the tables of README.md from the raw A/B dumps in this directory.

    python3 plans/merge-on-read/tables.py

Reads ab_untraced.jsonl (one benchmark result line per run) and the traced
daily_sync records <side>-daily_sync-<seed>-trace1.json, and prints three
markdown tables: end-to-end medians, per-layer figures, and the wall time
and Spark jobs of each phase of a traced merge.
"""
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SIDES = ("parent", "change")


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def end_to_end():
    runs = [json.loads(l) for l in open(os.path.join(HERE, "ab_untraced.jsonl"))]
    names = ["setup_s", "cold_s", "op_p50_s", "op_tail_s", "ops_per_s"]
    print("| workload | pairs | metric | parent median (IQR) | change median | change / parent |")
    print("|---|---|---|---|---|---|")
    for wl in dict.fromkeys(r["workload"] for r in runs):
        by = {s: [r["result"] for r in runs if r["workload"] == wl and r["side"] == s]
              for s in SIDES}
        bad = [r for s in SIDES for r in by[s] if not r["correct"] or r["failed"]]
        assert not bad, f"{wl}: a run was incorrect or had a failed op"
        for m in names:
            p = [r["metrics"][m]["value"] for r in by["parent"]]
            c = [r["metrics"][m]["value"] for r in by["change"]]
            q1, pm, q3 = quartiles(p)
            cm = statistics.median(c)
            print(f"| {wl} | {len(p)} | {m} | {pm:.3f} ({q3 - q1:.3f}) | {cm:.3f} | {cm / pm:.3f} |")
    sync = [r for r in runs if r["workload"] == "daily_sync"]
    seeds = sorted({r["seed"] for r in sync})
    val = {(r["side"], r["seed"]): r["result"]["metrics"]["op_p50_s"]["value"] for r in sync}
    better = sum(val[("change", s)] < val[("parent", s)] for s in seeds)
    print(f"\ndaily_sync op_p50_s: change faster in {better} of {len(seeds)} pairs")


def records():
    out = {s: [] for s in SIDES}
    for p in sorted(glob.glob(os.path.join(HERE, "*-daily_sync-*-trace1.json"))):
        side = os.path.basename(p).split("-")[0]
        out[side].append(json.load(open(p)))
    return out


def per_layer(recs):
    names = ["sources.merge_s", "sources.commit_jobs", "sources.files_added",
             "sources.files_removed", "sources.bytes_written", "sources.log_bytes",
             "sync_write_amp", "sync_space_amp", "spark.jobs",
             "spark.shuffle_write_bytes", "spark.executor_run_s", "driver.only_s"]
    print("| figure | " + " | ".join(f"{s} (per run)" for s in SIDES) + " |")
    print("|---|---|---|")
    for n in names:
        cells = [", ".join(f"{r['report']['per_layer'][n][0]:.4g}" for r in recs[s])
                 for s in SIDES]
        print(f"| {n} | " + " | ".join(cells) + " |")


def cycle_bytes(recs):
    """Median bytes one warm cycle adds under the price table, split into
    data files (data, change feed, deletion vectors) and log lines."""
    print("| bytes per warm cycle | parent | change |")
    print("|---|---|---|")
    for key, name in (("bytes_written", "all"), ("log_bytes", "log")):
        cells = [statistics.median(int(c[key]) for r in recs[s]
                                   for c in r["record"]["sync_cycles"][2:])
                 for s in SIDES]
        print(f"| {name} | {cells[0]:.0f} | {cells[1]:.0f} |")


def phases(rec):
    """(probes, data, change feed + DV, footers+bloom+publish) as (ms, jobs)
    per traced merge.

    The probes are the leading jobs that shuffle under 10 kB and write
    nothing; the data stage runs to the end of the first job that writes
    bytes (the one that computes the pinned relation); the side-file stage
    to the end of the last job that writes bytes (the change feed and, in
    a merge that masks rows, the deletion vector); the rest of the span
    (footers, bloom job, publish, checkpoint) is the last phase. Jobs count
    in the phase in which they start.
    """
    r = rec["record"]
    for sp in (s for s in r["spans"] if s[1] == "sources.merge"):
        t0, t4 = sp[4] / 1e6, sp[5] / 1e6
        jobs = sorted((j for j in r["jobs"] if j[1] == sp[0]), key=lambda j: j[2])
        n = 0
        while n < len(jobs) and jobs[n][9] < 10_000 and jobs[n][12] == 0:
            n += 1
        writes = [i for i in range(n, len(jobs)) if jobs[i][12] > 0]
        t1 = jobs[n - 1][3] if n else t0
        cuts = [t0, t1, jobs[writes[0]][3], jobs[writes[-1]][3], t4]
        yield [(cuts[i + 1] - cuts[i],
                sum(cuts[i] <= j[2] < cuts[i + 1] for j in jobs)) for i in range(4)]


def phase_table(recs):
    names = ["probes", "data stage", "change feed + DV stage", "footers+bloom+publish"]
    per = {s: [p for rec in recs[s] for p in phases(rec)] for s in SIDES}
    print("| merge phase | parent ms | change ms | parent jobs | change jobs |")
    print("|---|---|---|---|---|")
    for i, name in enumerate(names):
        ms = [statistics.median(p[i][0] for p in per[s]) for s in SIDES]
        jobs = [statistics.median(p[i][1] for p in per[s]) for s in SIDES]
        print(f"| {name} | {ms[0]:.0f} | {ms[1]:.0f} | {jobs[0]:g} | {jobs[1]:g} |")
    tot = [statistics.median(sum(x[0] for x in p) for p in per[s]) for s in SIDES]
    njobs = [statistics.median(sum(x[1] for x in p) for p in per[s]) for s in SIDES]
    print(f"| whole merge | {tot[0]:.0f} | {tot[1]:.0f} | {njobs[0]:g} | {njobs[1]:g} |")
    print(f"\nmedians over {len(per['parent'])} parent and {len(per['change'])} change "
          "traced merges")


if __name__ == "__main__":
    end_to_end()
    print()
    recs = records()
    per_layer(recs)
    print()
    cycle_bytes(recs)
    print()
    phase_table(recs)
