#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds graft's main sources together with the benchmark's code in
perfbench/src (sbt, offline) when they changed, runs the benchmark JVM on
local[nproc], checks the outputs (recorded digests, the DuckDB oracle)
and prints, as the last line of stdout, one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones (see BENCHMARK.json).
A human-readable summary with the workload's own metrics precedes it.

Everything the run writes stays under .perfbench/ in the checkout; the
per-run work directory (corpus, warehouse, Spark local dirs) is removed
when the run ends. Traced runs also leave a ledger,
.perfbench/ledger-<workload>-<seed>.json, for perfbench/ledger_diff.py.

--record stores the result digests of a correct run as the expected
digests for its seed (perfbench/expected.json).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def build(log):
    """Compiles when a source changed; returns the hash of the sources."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(src):
        fail(f"graft sources not found under {os.path.relpath(src, ROOT)}; "
             "run from the root of a graft checkout")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-J-XX:-UsePerfData", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return h.hexdigest()


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(work, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp dir: the run writes only inside
    # the checkout
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main"] + [str(a) for a in args]
    return cmd


def run_jvm(workload, seed, seconds, trace, work, deadline):
    out = os.path.join(work, f"record-{trace}.json")
    log = os.path.join(work, f"jvm-{trace}.log")
    cmd = java_cmd(work, [workload, seed, seconds, trace, work, out])
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded its time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"benchmark JVM exited with code {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


def history_path():
    return os.path.join(STATE, "history.jsonl")


def untraced_baseline(workload, seed, seconds, source):
    """latency_s of earlier untraced runs of the same sources with the
    same inputs, if any."""
    try:
        with open(history_path()) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
    except OSError:
        return None
    vals = [r["latency_s"] for r in rows if r.get("workload") == workload
            and r.get("seed") == seed and r.get("seconds") == seconds
            and r.get("source") == source and "latency_s" in r]
    return statistics.median(vals) if vals else None


def _terminate(signum, frame):
    # unwinds through run_jvm's and main's finally blocks: the benchmark JVM's
    # process group is killed and waited for, the work directory removed
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala; run from the root of a graft checkout")
    os.makedirs(STATE, exist_ok=True)
    source = build(os.path.join(STATE, "build.log"))
    # the build may take long on a fresh checkout; the run's own limit starts now
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        # tracing overhead is measured against earlier untraced runs of
        # the same sources and inputs in this checkout (none: reported as 0)
        untraced = untraced_baseline(a.workload, a.seed, a.seconds, source) if a.trace else None
        t_jvm = time.time()
        rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, work, deadline)
        t_check = time.time()
        ver = metrics.verify(rec, EXPECTED)
        print(f"perfbench: jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s",
              file=sys.stderr)
        e2e = metrics.end_to_end(rec, ver)
        print(metrics.summary(rec, ver))
        if a.trace:
            layer = metrics.per_layer(rec, ver, e2e, untraced)
            ledger = os.path.join(STATE, f"ledger-{a.workload}-{a.seed}.json")
            metrics.write_ledger(ledger, rec, ver, e2e, layer)
            print(f"ledger: {os.path.relpath(ledger, ROOT)}")
            out = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layer.items()}
        else:
            with open(history_path(), "a") as fh:
                fh.write(json.dumps(dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
                                         source=source, **e2e)) + "\n")
            out = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()
                   if k in metrics.E2E_UNITS}
        if a.record and ver["failed"] == 0:
            metrics.record_expected(EXPECTED, rec)
        print(json.dumps({"correct": ver["failed"] == 0, "attempted": ver["attempted"],
                          "failed": ver["failed"], "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: done in {time.time() - start:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
