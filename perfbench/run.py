#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload ingest|analytics --seed N \
        --seconds S --trace 0|1

Builds the repository's main sources together with the benchmark program
(perfbench/build.sbt) when they changed, runs the workload in one JVM at
local[<cores>], checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer
ones, and the spans go to .perfbench_work/traces/.
"""
import argparse
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Offered rate of the ingest live phase, in envelopes per second: fixed,
# about half the backlog rate (~1,400/s) the seed commit sustains on a
# 4-core host. Never adapted at run time.
LIVE_RATE = 700
ANALYTICS_TABLES = ["events", "lineitem", "orders", "embeddings"]
SETUP_REPS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when a source or build file changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no repository sources under {ROOT}/src/main/scala")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as fh:
            st = json.load(fh)
        if st["stamp"] == stamp:
            return st["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        *jvm_tmp_opts()])
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def jvm_tmp_opts():
    """Keep the JVMs' temporary files (native libraries they unpack,
    performance data) inside the checkout."""
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]


def run_jvm(cp, args, log_path, deadline):
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        "-Xmx3g", *jvm_tmp_opts(), "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("workload timed out; see " + log_path, 3)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM exited with {proc.returncode}", 3)


def analytics_fixtures(work):
    import gen_analytics
    out = os.path.join(work, "fixtures")
    times = []
    for _ in range(SETUP_REPS):
        t = time.monotonic()
        gen_analytics.generate(out)
        times.append(time.monotonic() - t)
    return out, statistics.median(times)


def check_analytics(res, fixtures):
    """Compare every query's fingerprint, in both passes, with DuckDB."""
    import oracle
    exp = oracle.expected(fixtures, ANALYTICS_TABLES, res["info"]["oracle_sql"])
    failed = []
    for q in res["info"]["queries"]:
        e = exp.get(q["query"], "no oracle SQL")
        if not q.get("ok"):
            failed.append((q["pass"], q["query"], q.get("error")))
        elif isinstance(e, str):
            failed.append((q["pass"], q["query"], e))
        elif (q["rows"], int(q["hash"]), q["columns"]) != e:
            failed.append((q["pass"], q["query"],
                           f"spark rows={q['rows']} cols={q['columns']} vs "
                           f"duckdb rows={e[0]} cols={e[2]}"))
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    cp = build()
    deadline = time.monotonic() + JVM_TIMEOUT_S
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_file = os.path.join(ROOT, ".perfbench_work", "traces",
                              f"{a.workload}-seed{a.seed}.jsonl")
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "jvm"), "--out", out,
            "--trace-file", trace_file, "--rate", str(LIVE_RATE)]
    gen_s = 0.0
    fixtures = None
    try:
        if a.workload == "analytics":
            fixtures, gen_s = analytics_fixtures(work)
            args += ["--fixtures", fixtures]
        run_jvm(cp, args, os.path.join(work, "jvm.log"), deadline)
        with open(out) as fh:
            res = json.load(fh)
        failed = res["failed"]
        problems = []
        if a.workload == "analytics":
            problems = check_analytics(res, fixtures)
            failed = len(problems)
        res["setup_s"] += gen_s
        print(summary(a.workload, res, problems))
        record_overhead(bench, a, res, trace_file)
        metrics = compose(bench, a.workload, res, a.trace == 1)
        attempted = res["attempted"]
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_overhead(bench, a, res, trace_file):
    """Tracing overhead = traced minus untraced end-to-end values of the
    same workload and seed. An untraced run leaves its values behind; a
    traced run of the same seed appends the difference to its trace."""
    last = os.path.join(ROOT, ".perfbench_work", "untraced",
                        f"{a.workload}-seed{a.seed}.json")
    e2e = compose(bench, a.workload, res, trace=False)
    vals = {k: v["value"] for k, v in e2e.items()}
    if not a.trace:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(vals, fh)
        return
    try:
        with open(last) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        base = None
    rec = {"traced_e2e": vals, "untraced_e2e": base,
           "overhead": None if base is None else {
               k: vals[k] - base[k] for k in vals if base.get(k) is not None}}
    with open(trace_file, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def summary(workload, res, problems):
    info = res["info"]
    parts = [f"{workload}: attempted={res['attempted']} failed={res['failed']}",
             f"setup_s={res['setup_s']:.3f}",
             f"rss_peak_mb={res['rss_peak_mb']:.1f}",
             f"heap_retained_mb={res['heap_retained_mb']:.1f}"]
    parts += [f"{k}={v:.4g}" for k, v in sorted(res["e2e"].items())]
    for k in ("commit_tail_pct", "commit_samples", "generator_late_ms_p50",
              "generator_late_ms_max", "query_tail_pct", "query_samples"):
        if k in info:
            parts.append(f"{k}={info[k]}")
    if "check" in info:
        parts.append("check=" + json.dumps(info["check"], sort_keys=True))
    for p in problems:
        parts.append(f"FAILED {p}")
    return "perfbench " + " ".join(parts)


# The end-to-end metrics every workload reports, and which of the
# workload's own measurements each one is.
COMMON = {
    "ingest": {"p50_ms": "commit_p50_ms", "tail_ms": "commit_tail_ms",
               "rate_per_s": "ingest_msgs_per_s", "cold_s": "recovery_s"},
    "analytics": {"p50_ms": "query_p50_ms", "tail_ms": "query_tail_ms",
                  "rate_per_s": "warm_queries_per_s",
                  "cold_s": "analytics_cold_s"},
}


def compose(bench, workload, res, trace):
    """The metrics object of the result line. A per-layer metric of a
    layer the workload does not exercise reads 0."""
    if trace:
        want, vals = bench["per_layer"], res["layer"]
    else:
        want = bench["end_to_end"]
        vals = {k: res["e2e"][v] for k, v in COMMON[workload].items()}
        vals["setup_s"] = res["setup_s"]
        vals["heap_retained_mb"] = res["heap_retained_mb"]
    return {m["name"]: {"value": vals.get(m["name"], 0.0 if trace else None),
                        "unit": m["unit"]} for m in want}


if __name__ == "__main__":
    main()
