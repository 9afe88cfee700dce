"""Prints the end-to-end table of plans/one-session/README.md from the raw
result lines: python3 plans/one-session/tables.py"""
import json, os, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1] if len(sys.argv) > 1 else
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "ab_untraced.jsonl"))]
ms = ["setup_s", "cold_s", "op_p50_s", "op_tail_s", "ops_per_s"]
print("| workload | pairs | metric | parent median | change median | change / parent |")
print("|---|---|---|---|---|---|")
for w in ["daily_sync", "catalog_batch", "catalog_stream"]:
    side = {s: [r["result"] for r in rows if r["workload"] == w and r["side"] == s] for s in ("parent", "change")}
    for m in ms:
        p = statistics.median(r["metrics"][m]["value"] for r in side["parent"])
        c = statistics.median(r["metrics"][m]["value"] for r in side["change"])
        print(f"| {w} | {len(side['parent'])} | {m} | {p:.3f} | {c:.3f} | {c/p:.3f} |")
for r in rows:
    res = r["result"]
    assert res["correct"] and res["failed"] == 0, r
print("all runs correct, no failed op")
