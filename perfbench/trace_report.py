#!/usr/bin/env python3
"""Per-layer report of traced benchmark runs.

    python3 perfbench/trace_report.py [results-dir]

Reads every traced result (`<workload>-s<seed>-t1.json` and its
`.spans.jsonl`) that perfbench/run.py left in the results directory
(default .bench_build/results) and prints, per workload:

- each layer's span count, total and self time (self = duration minus the
  part of it that child spans cover) and the Spark jobs started under it;
- Spark jobs by call site, attributed to the benchmark span they ran under;
- every per-layer metric with the end-to-end metric it should move;
- the tracing overhead: traced minus untraced end-to-end numbers of the same
  workload and seed, when an untraced result is there too.
"""
import glob
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer metric prefix -> the end-to-end metric (and named metric) it moves
MOVES = [
    ("search.task_cpu_s_per_req", "rate_per_s (serve_qps_c4)"),
    ("search.input_bytes_per_req", "rate_per_s (serve_qps_c4)"),
    ("search.", "p50_s (serve_p50_s on serve, ingest_query_p50_s on ingest)"),
    ("maint.reader_open_s", "p50_s (ingest_query_p50_s)"),
    ("maint.live_segments", "p50_s (ingest_query_p50_s)"),
    ("maint.tombstones", "p50_s (ingest_query_p50_s)"),
    ("maint.upsert", "ingest_upsert_p50_s"),
    ("maint.delete", "ingest_delete_p50_s"),
    ("maint.compact", "ingest_compact_s"),
    ("maint.write_amp", "ingest_upsert_p50_s, ingest_compact_s"),
    ("index.task_cpu_s", "serial_per_s (build_docs_per_s_1c)"),
    ("index.bytes.", "index_bytes_per_input_byte"),
    ("index.", "rate_per_s (build_docs_per_s)"),
    ("analysis.", "serial_per_s (build_docs_per_s_1c)"),
    ("declared.", "declared_total_s"),
    ("ops.", "declared_total_s"),
    ("plans.", "declared_total_s"),
]


def moves(name):
    return next((m for p, m in MOVES if name.startswith(p)), "")


def union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def report(stem):
    res = json.load(open(stem + ".json"))
    rows = [json.loads(l) for l in open(stem + ".spans.jsonl") if l.strip()]
    spans = [r for r in rows if r.get("kind") != "job"]
    jobs = [r for r in rows if r.get("kind") == "job"]
    w = res["workload"]
    print(f"\n=== {w} (seed {res['seed']}, {len(spans)} spans, {len(jobs)} Spark jobs)")

    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    # a job belongs to the innermost span that contains its start and, for a
    # request's jobs, carries the same request id
    def owner(j):
        req = int(j["group"][4:]) if j["group"].startswith("req-") else None
        best = None
        for s in spans:
            if s["start_ms"] <= j["start_ms"] <= s["end_ms"] and (req is None or s["req"] == req):
                if best is None or s["end_ms"] - s["start_ms"] < best["end_ms"] - best["start_ms"]:
                    best = s
        return best

    job_owner = [(j, owner(j)) for j in jobs]
    by_layer = defaultdict(lambda: [0, 0.0, 0.0, 0, 0.0])
    for s in spans:
        dur = (s["end_ms"] - s["start_ms"]) / 1e3
        kids = [(c["start_ms"], c["end_ms"]) for c in children[s["id"]]]
        key = (s["layer"], s["name"].split(".")[0] if s["name"].startswith("declared.") else s["name"])
        agg = by_layer[key]
        agg[0] += 1
        agg[1] += dur
        agg[2] += dur - union(kids) / 1e3
    for j, s in job_owner:
        if s is not None:
            key = (s["layer"], s["name"].split(".")[0] if s["name"].startswith("declared.") else s["name"])
            by_layer[key][3] += 1
            by_layer[key][4] += (j["end_ms"] - j["start_ms"]) / 1e3
    print(f"{'layer':18s} {'span':24s} {'count':>6s} {'total_s':>9s} {'self_s':>9s} {'jobs':>6s} {'job_s':>8s}")
    for (layer, name), (n, tot, self_s, nj, js) in sorted(by_layer.items(), key=lambda kv: -kv[1][2]):
        print(f"{layer:18s} {name:24s} {n:6d} {tot:9.3f} {self_s:9.3f} {nj:6d} {js:8.3f}")

    sites = defaultdict(lambda: [0, 0.0])
    for j, s in job_owner:
        k = ((s["name"] if s else "(set-up/checks)"), j["name"][5:])
        sites[k][0] += 1
        sites[k][1] += (j["end_ms"] - j["start_ms"]) / 1e3
    print("\nSpark jobs by call site (under span):")
    for (span, site), (n, t) in sorted(sites.items(), key=lambda kv: -kv[1][1])[:25]:
        print(f"  {t:8.3f} s {n:5d} jobs  {span:22s} {site}")

    print("\nper-layer metrics:")
    for k, v in sorted(res["per_layer"].items()):
        print(f"  {k:36s} {v:16.6f}   moves {moves(k)}")

    untraced = stem[:-3] + "-t0.json"
    if os.path.exists(untraced):
        base = json.load(open(untraced))
        print("\ntracing overhead (traced - untraced, same seed):")
        for k, v in res["e2e"].items():
            if k in base["e2e"]:
                b = base["e2e"][k]["value"]
                d = v["value"] - b
                print(f"  {k:16s} {d:+12.6f} {v['unit']:6s} ({d / b:+.1%} of {b:.6g})")
    else:
        print(f"\ntracing overhead: no untraced run of {w} seed {res['seed']} to compare with")


def main():
    results = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "results")
    stems = sorted(p[:-len(".spans.jsonl")] for p in glob.glob(os.path.join(results, "*-t1.spans.jsonl")))
    if not stems:
        sys.exit(f"no traced results in {results}: run perfbench/run.py with --trace 1 first")
    for stem in stems:
        report(stem)


if __name__ == "__main__":
    main()
