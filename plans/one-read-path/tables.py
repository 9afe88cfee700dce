"""Prints the tables of plans/one-read-path/README.md from the raw records
in this directory (ab_untraced.jsonl, dvread_parent.txt, dvread_change.txt):
python3 plans/one-read-path/tables.py"""
import json, os, statistics
HERE = os.path.dirname(os.path.abspath(__file__))
rows = [json.loads(l) for l in open(os.path.join(HERE, "ab_untraced.jsonl"))]
ms = ["setup_s", "cold_s", "op_p50_s", "op_tail_s", "ops_per_s"]
print("| workload | pairs | metric | parent median | change median | change / parent |")
print("|---|---|---|---|---|---|")
for w in ["daily_sync", "catalog_batch", "catalog_stream"]:
    side = {s: [r["result"] for r in rows if r["workload"] == w and r["side"] == s] for s in ("parent", "change")}
    for m in ms:
        p = statistics.median(r["metrics"][m]["value"] for r in side["parent"])
        c = statistics.median(r["metrics"][m]["value"] for r in side["change"])
        print(f"| {w} | {len(side['parent'])} | {m} | {p:.3f} | {c:.3f} | {c/p:.3f} |")
bad = [r for r in rows if not (r["result"].get("correct") and r["result"].get("failed") == 0)]
print("all runs correct, no failed op" if not bad else f"{len(bad)} runs incorrect or with failed ops")
print()
dv = {}
for side in ("parent", "change"):
    for l in open(os.path.join(HERE, f"dvread_{side}.txt")):
        f = [x.strip() for x in l.split("|")]
        if len(f) == 5:
            cell = dv.setdefault(f[1], {}).setdefault(side, ([], []))
            cell[0].append(float(f[2].split()[0]))
            cell[1].append(float(f[3].split()[0]))
runs = len(dv[next(iter(dv))]["parent"][0])
print(f"DV read, warm min of 5 per run, median of {runs} runs per side (s):")
print()
print("| read | parent, no DV | change, no DV | parent, 1% DV | change, 1% DV |")
print("|---|---|---|---|---|")
for read, s in dv.items():
    m = lambda side, i: f"{statistics.median(s[side][i]):.3f}"
    print(f"| {read} | {m('parent', 0)} | {m('change', 0)} | {m('parent', 1)} | {m('change', 1)} |")
