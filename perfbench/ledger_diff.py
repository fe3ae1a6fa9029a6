#!/usr/bin/env python3
"""Compare two traced runs and say why each slowed operation slowed.

Usage: python3 perfbench/ledger_diff.py BEFORE.json AFTER.json

BEFORE and AFTER are ledgers written by `run.py --trace 1`
(.perfbench/ledger-<workload>-<seed>.json). Operations are grouped by
kind and name (a question template, an analytics or curation key). A
group whose median wall time grew by more than THRESHOLD (10 %) is
labelled:

  work grew    - the work it asked for grew: jobs, stages, tasks, task CPU,
                 records read or shuffle bytes up by more than THRESHOLD;
  environment  - the same work, but the environment got slower: the
                 fixed probe job (env.probe_ms), GC time (jvm.gc_ms) or
                 the time no stage of it was running (outside_stage_ms)
                 went up;
  unexplained  - neither.

Prints one line per group and, last, a JSON object with the labels.
"""
import argparse
import json
import statistics

THRESHOLD = 0.10
WORK = ("jobs", "stages", "tasks", "task_cpu_ms", "records_read", "shuffle_bytes")
ENV = ("gc_ms", "outside_stage_ms")


def load(path):
    with open(path) as fh:
        return json.load(fh)


def groups(ledger):
    out = {}
    for o in ledger["ops"]:
        if "error" in o:
            continue
        o = dict(o, shuffle_bytes=o.get("shuffle_read_bytes", 0) + o.get("shuffle_write_bytes", 0))
        out.setdefault(f"{o['kind']}:{o['name']}", []).append(o)
    return {k: {f: statistics.median([o.get(f, 0) or 0 for o in v])
                for f in ("wall_ms",) + WORK + ENV} for k, v in out.items()}


def grew(a, b, floor=1e-9):
    return b > a * (1 + THRESHOLD) and b - a > floor


def classify(before, after):
    ga, gb = groups(before), groups(after)
    probe_a = statistics.median(before.get("probes_ms") or [0])
    probe_b = statistics.median(after.get("probes_ms") or [0])
    env_probe = grew(probe_a, probe_b)
    rows = []
    for k in sorted(set(ga) & set(gb)):
        a, b = ga[k], gb[k]
        if not grew(a["wall_ms"], b["wall_ms"]):
            continue
        work = [f for f in WORK if grew(a[f], b[f], floor=0.5)]
        env = [f for f in ENV if grew(a[f], b[f], floor=1.0)]
        if env_probe:
            env.append("probe_ms")
        label = "work grew" if work else "environment" if env else "unexplained"
        rows.append({"op": k, "label": label, "before_ms": round(a["wall_ms"], 1),
                     "after_ms": round(b["wall_ms"], 1),
                     "evidence": work if work else env})
    return rows, (probe_a, probe_b)


def main():
    ap = argparse.ArgumentParser(description="label slowed operations between two traced runs")
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    rows, (pa, pb) = classify(before, after)
    print(f"env.probe_ms: {pa:.1f} -> {pb:.1f}")
    for r in rows:
        print(f"{r['op']:<40} {r['before_ms']:>10.1f} -> {r['after_ms']:>10.1f} ms  "
              f"{r['label']:<12} {', '.join(r['evidence'])}")
    if not rows:
        print(f"no operation slowed by more than {THRESHOLD:.0%}")
    print(json.dumps({r["op"]: r["label"] for r in rows}))


if __name__ == "__main__":
    main()
