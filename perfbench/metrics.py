"""Reduce the benchmark JVM's run record to checks and metrics.

verify()      output checks: operation errors, recorded digests, repeat
              consistency and the DuckDB oracle.
end_to_end()  the metrics a user sees (BENCHMARK.json end_to_end).
per_layer()   the traced run's layer metrics (BENCHMARK.json per_layer).
"""
import json
import os
import statistics
from concurrent.futures import ThreadPoolExecutor

from oracle import compare

E2E_UNITS = {"setup_s": "s", "latency_s": "s", "heap_mb": "MB"}

TEMPLATES = ["lookup", "match", "expand", "path", "vector", "hybrid"]
ALGOS = ["pagerank", "ppr", "katz", "lpa_communities", "kcore"]
CURATION = ["dedup_exact", "dedup_minhash", "dedup_simhash", "neardup_candidates",
            "dedup_embedding"]

LAYER_UNITS = {
    "cypher.parse_ms": "ms", "cypher.build_ms": "ms", "cypher.build_jobs": "count",
    **{f"cypher.{t}_ms": "ms" for t in TEMPLATES},
    "exec.plan_ms": "ms", "exec.action_ms": "ms", "exec.outside_stage_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.records_read": "count",
    "exec.read_per_result": "ratio", "exec.failed_tasks": "count",
    "ckpt.barriers": "count", "ckpt.pinned_bytes": "bytes", "ckpt.release_ms": "ms",
    "sources.materialize_graph_ms": "ms", "sources.files": "count",
    "sources.standing_scan_ratio": "ratio",
    **{f"graph.{a}_ms": "ms" for a in ALGOS},
    **{f"graph.{a}_jobs": "count" for a in ALGOS},
    **{f"operators.{o}_ms": "ms" for o in CURATION},
    "operators.dedup_yield": "ratio",
    "jvm.gc_ms": "ms", "env.probe_ms": "ms",
    "self.operation_ms": "ms",
    "trace.overhead_ms": "ms", "error_ratio": "ratio",
}


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def ops_of(rec, kinds):
    return [o for o in rec.get("ops", []) if o["kind"] in kinds]


def foreground(rec):
    """The operations the exec.* layer metrics are taken over."""
    return ops_of(rec, {"question"} if rec["workload"] == "serve" else {"analytics", "curation"})


# ---------------------------------------------------------------- checks

def verify(rec, expected_path):
    """Returns attempted/failed counts and the list of problems found.

    attempted: operations, plus oracle checks that match no operation.
    failed: operations that raised, returned a digest other than the one
    recorded for this seed, disagreed with an earlier answer to the same
    question, or disagreed with the DuckDB oracle.
    """
    problems = []
    bad_ops = set()
    ops = rec.get("ops", [])
    for o in ops:
        if "error" in o:
            bad_ops.add(o["id"])
            problems.append(f"op {o['name']}: {o['error']}")
    # DuckDB cross-check of the fixed-text operations
    entries = [e for e in rec.get("oracle", []) if e.get("sql")]
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(compare, entries))
    for entry, (ok, detail) in zip(entries, results):
        name = entry["key"]
        mine = [o for o in ops if o["text"] == name or
                (name == "q_cypher_vector" and o["name"] == "vector")]
        if not ok:
            problems.append(f"oracle {name}: {detail}")
            bad_ops.update([o["id"] for o in mine] or [f"oracle:{name}"])
    expected = {}
    if os.path.exists(expected_path):
        with open(expected_path) as fh:
            expected = json.load(fh).get(rec["workload"], {}).get(str(rec["seed"]), {})
    first = {}
    for o in ops:
        if "digest" not in o:
            continue
        key = o["text"] or o["name"]
        want = expected.get(key)
        if want is not None and want != o["digest"]:
            bad_ops.add(o["id"])
            problems.append(f"op {o['name']}: digest {o['digest']} != recorded {want}")
        if key in first and first[key] != o["digest"]:
            bad_ops.add(o["id"])
            problems.append(f"op {o['name']}: digest {o['digest']} != earlier {first[key]}")
        first.setdefault(key, o["digest"])
    orphans = {b for b in bad_ops if isinstance(b, str)}
    return {"attempted": max(len(ops) + len(orphans), 1), "failed": len(bad_ops),
            "problems": problems}


def record_expected(path, rec):
    """Stores this run's result digests as the expected ones for its seed."""
    data = {}
    if os.path.exists(path):
        with open(path) as fh:
            data = json.load(fh)
    seeds = data.setdefault(rec["workload"], {})
    digests = seeds.setdefault(str(rec["seed"]), {})
    for o in rec.get("ops", []):
        if "digest" in o:
            digests.setdefault(o["text"] or o["name"], o["digest"])
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


# ------------------------------------------------------------- end to end

def workload_figures(rec, ver):
    """The workload's own end-to-end figures, under the names users know."""
    w = rec["workload"]
    setup = [s["setup_ms"] / 1000 for s in rec.get("setups", [])]
    f = {"setup_s": median(setup), "heap_mb": rec.get("heap_mb", 0.0),
         "error_ratio": ver["failed"] / ver["attempted"]}
    if w == "serve":
        # the first round of questions is the JVM's warm-up (planner and
        # codegen caches fill); a long-lived server answers warm
        qs = sorted(ops_of(rec, {"question"}), key=lambda o: o["id"])
        warmup = len(TEMPLATES)
        q = [o["wall_ms"] / 1000 for o in qs[warmup:]]
        f["question_p50_s"] = median(q)
        f["question_max_s"] = max(q) if q else 0.0
        f["questions"] = len(q)
        f["cold_question_p50_s"] = median([o["wall_ms"] / 1000 for o in qs[:warmup]])
        f["questions_per_s"] = len(qs) / rec["measured_s"] if rec.get("measured_s") else 0.0
    if w == "batch":
        passes = rec.get("passes", [])
        f["pass_s"] = median([p["analytics_s"] + p["curation_s"] for p in passes])
        f["analytics_s"] = median([p["analytics_s"] for p in passes])
        cur = sum(p["curation_s"] for p in passes)
        f["curate_docs_per_s"] = rec.get("docs", 0) * len(passes) / cur if cur else 0.0
    return f


def end_to_end(rec, ver):
    f = workload_figures(rec, ver)
    latency = f["pass_s"] if rec["workload"] == "batch" else f["question_p50_s"]
    return {"setup_s": f["setup_s"], "latency_s": latency, "heap_mb": f["heap_mb"]}


def summary(rec, ver):
    f = workload_figures(rec, ver)
    units = {"setup_s": "s", "heap_mb": "MB", "pass_s": "s", "error_ratio": "ratio",
             "question_p50_s": "s", "cold_question_p50_s": "s", "question_max_s": "s",
             "questions_per_s": "1/s", "questions": "count", "analytics_s": "s",
             "curate_docs_per_s": "docs/s"}
    parts = [f"{k}={v:.4g} {units[k]}" for k, v in f.items()]
    lines = [f"perfbench {rec['workload']} seed={rec['seed']}: " + ", ".join(parts)]
    lines += [f"  problem: {p}" for p in ver["problems"][:20]]
    return "\n".join(lines)


# -------------------------------------------------------------- per layer

def self_times(rec):
    """Self time of each root span: its duration minus its children's."""
    spans = rec.get("spans", [])
    roots = {(s["op"], s["name"]): s for s in spans if not s["parent"]}
    child = {}
    for s in spans:
        if s["parent"]:
            child[(s["op"], s["parent"])] = child.get((s["op"], s["parent"]), 0.0) + \
                s["end_ms"] - s["start_ms"]
    out = {}
    for (op, name), s in roots.items():
        out.setdefault(name, []).append(s["end_ms"] - s["start_ms"] - child.get((op, name), 0.0))
    return out


def per_layer(rec, ver, e2e, untraced_p50):
    ops = rec.get("ops", [])
    qs = ops_of(rec, {"question"})
    fg = foreground(rec)
    m = {k: 0.0 for k in LAYER_UNITS}
    m["cypher.parse_ms"] = median([o.get("parse_ms") for o in qs])
    m["cypher.build_ms"] = median([o.get("build_ms") for o in qs])
    m["cypher.build_jobs"] = mean([o.get("build_jobs") for o in qs])
    for t in TEMPLATES:
        m[f"cypher.{t}_ms"] = median([o["wall_ms"] for o in qs if o["name"] == t])
    m["exec.plan_ms"] = median([o.get("plan_ms") for o in fg])
    m["exec.action_ms"] = median([o.get("action_ms") for o in fg])
    m["exec.outside_stage_ms"] = median([o.get("outside_stage_ms") for o in fg])
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "records_read"):
        m[f"exec.{k}"] = mean([o.get(k) for o in fg])
    rows = sum(o.get("rows", 0) for o in fg)
    m["exec.read_per_result"] = sum(o.get("records_read", 0) for o in fg) / rows if rows else 0.0
    m["exec.failed_tasks"] = float(sum(o.get("failed_tasks", 0) for o in ops))
    m["ckpt.barriers"] = mean([o.get("barriers") for o in ops])
    m["ckpt.pinned_bytes"] = mean([o.get("pinned_bytes") for o in ops])
    rel = [o.get("release_ms") for o in ops]
    rel += [rec.get(f"{k}_release_ms") for k in ("analytics", "curation")]
    m["ckpt.release_ms"] = median(rel)
    m["sources.materialize_graph_ms"] = median(
        [s.get("materialize_graph_ms") for s in rec.get("setups", [])])
    m["sources.files"] = float(rec.get("layout", 0))
    # every template reads Chunk or Entity nodes, so every question could
    if qs:
        m["sources.standing_scan_ratio"] = \
            sum(1 for o in qs if o.get("standing_scans", 0) > 0) / len(qs)
    for a in ALGOS:
        mine = [o for o in ops if o["name"] == f"q_{a}"]
        m[f"graph.{a}_ms"] = median([o["wall_ms"] for o in mine])
        m[f"graph.{a}_jobs"] = mean([o.get("jobs") for o in mine])
    for c in CURATION:
        m[f"operators.{c}_ms"] = median([o["wall_ms"] for o in ops if o["name"] == f"q_{c}"])
    rows_of = {o["name"]: o.get("rows", 0) for o in ops}
    cand = rows_of.get("q_neardup_candidates", 0)
    if cand:
        m["operators.dedup_yield"] = rows_of.get("q_dedup_minhash", 0) / cand
    m["jvm.gc_ms"] = mean([o.get("gc_ms") for o in ops])
    m["env.probe_ms"] = median(rec.get("probes_ms", []))
    st = self_times(rec)
    m["self.operation_ms"] = median(st.get("operation", []))
    if untraced_p50 is not None:
        m["trace.overhead_ms"] = (e2e["latency_s"] - untraced_p50) * 1000
    m["error_ratio"] = ver["failed"] / ver["attempted"]
    return {k: float(v) for k, v in m.items()}


def write_ledger(path, rec, ver, e2e, layer):
    """The traced run's ledger: every operation with its counts, the
    probes and the metrics, for ledger_diff.py."""
    keep = ("id", "kind", "name", "wall_ms", "parse_ms", "build_ms", "plan_ms", "action_ms",
            "release_ms", "rows", "gc_ms", "jobs", "build_jobs", "stages", "tasks",
            "failed_tasks", "task_run_ms", "task_cpu_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "records_read", "outside_stage_ms",
            "barriers", "pinned_bytes", "standing_scans", "error")
    rows = [{k: o[k] for k in keep if k in o} for o in rec.get("ops", [])]
    with open(path, "w") as fh:
        json.dump({"workload": rec["workload"], "seed": rec["seed"], "nproc": rec["nproc"],
                   "probes_ms": rec.get("probes_ms", []), "end_to_end": e2e,
                   "per_layer": layer, "problems": ver["problems"], "ops": rows,
                   "spans": rec.get("spans", [])}, fh, indent=1)
        fh.write("\n")
