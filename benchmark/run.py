#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload browse --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build until a source file changes. Each run starts one JVM
(graft.bench.Main), which writes raw records; this script turns them into
metrics, checks the results, prints a report and, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. See
benchmark/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import harness  # noqa: E402

WORKLOADS = ("browse", "pipeline")
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("latency_p50_ms", "ms"), ("rss_peak_mb", "MiB"))
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# A fixed heap and young generation: the resident peak then depends on the
# work done, not on how far G1's adaptive sizing happened to grow the heap.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
DATA_ROOT = os.environ.get("GRAFT_BENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("benchmark: " + msg, file=sys.stderr)
    sys.exit(code)


def sources(root):
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            yield base
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)


def run_logged(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group with output to `log`; on timeout
    kills the whole group and waits for it. Returns the exit code, or
    "timeout"."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def build(root):
    """Compile the engine and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft: run from the root of a repository checkout")
    out = os.path.join(root, ".bench_build")
    cp_file = os.path.join(out, "target", "classpath.txt")
    stamp = os.path.join(out, "build.stamp")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(f) <= built for f in sources(root)):
            return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                    HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (log: %s)" % log, 1)
    open(stamp, "w").close()
    return open(cp_file).read().strip()


def launch(classpath, args, work):
    """Run graft.bench.Main with `args`; returns the JSON it writes."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + JVM_MEMORY + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.bench.Main"] + args + [out]
    log = os.path.join(work, "jvm.log")
    # Spark would put its scratch files in these instead of spark.local.dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    rc = run_logged(cmd, work, env, log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail("benchmark JVM failed (%s)" % rc, 1)
    with open(out) as fh:
        return json.load(fh)


def load_pinned():
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        return json.load(fh)


def fmt(v):
    return "n/a" if v is None else ("%.4f" % v if isinstance(v, float) else str(v))


def batch_report(r, pinned, traced):
    failed = 0
    print("result checks (fingerprint: rows + order-insensitive hash, pinned in fingerprints.json):")
    for c in r["checks"]:
        want = pinned.get(c["gate"])
        ok = c["error"] is None and want is not None and \
            (c["rows"], c["hash"]) == (want["rows"], want["hash"])
        failed += 0 if ok else 1
        print("  %-30s %-4s rows=%s hash=%s%s" % (c["gate"], "ok" if ok else "FAIL", c["rows"], c["hash"],
                                                  "" if ok else " expected %s" % (want,)))
    errors = [e for e in r["executions"] if e["error"]] + [c for c in r.get("counts", []) if c["error"]]
    for e in errors:
        print("  error: %s %s" % (e["gate"], e["error"]))
    failed += len(errors)
    attempted = len(r["checks"]) + len(r["executions"]) + len(r.get("counts", []))
    e2e, walls = harness.batch_end_to_end(r)
    if not traced:
        n = len(walls)
        print("timed executions: %d over %d passes of %d gates" % (
            n, len({e["pass"] for e in r["executions"] if e["pass"] > 0}), len(r["checks"])))
        p90 = harness.percentile(walls, 0.9) / 1000.0 if harness.supported(0.9, n) else None
        print("  query_p50_s %s s (n=%d)" % (fmt(harness.percentile(walls, 0.5) / 1000.0), n))
        print("  query_p90_s %s s (reported only with >= 100 executions)" % fmt(p90))
        by_gate = {}
        for e in r["executions"]:
            if e["pass"] > 0:
                by_gate.setdefault(e["gate"], []).append(e["end"] - e["start"])
        for gate in sorted(by_gate):
            print("  %-30s median %8.1f ms over %d executions" % (gate, harness.median(by_gate[gate]),
                                                                  len(by_gate[gate])))
    return attempted, failed, e2e


def pipeline_report(r, traced):
    failed, attempted = 0, 0
    print("sink checks (each key of the committed offset range exactly once, joined, payload decodes):")
    for p in r["phases"]:
        s = p["sink"]
        schedule_ok = p["committed_count"] == p["schedule_count"]
        bad = s["bad_rows"] + (0 if schedule_ok else 1) + (1 if p["error"] else 0)
        failed += bad
        attempted += p["committed_count"]
        print("  %-20s %-4s committed=%d rows (schedule %d) sink_rows=%d expected_keys=%d bad=%d%s" % (
            p["phase"], "ok" if bad == 0 else "FAIL", p["committed_count"], p["schedule_count"],
            s["rows"], s["expected_keys"], s["bad_rows"], " error: " + p["error"] if p["error"] else ""))
    e2e, lat, rps = harness.pipeline_end_to_end(r)
    if not traced:
        print("open loop: %d rows/s target, origin recovered to +-%.1f ms, %d events" % (
            r["rate"], lat["origin_uncertainty_ms"] / 2, lat["events"]))
        print("  event_latency_p50_ms %s ms" % fmt(lat["p50"]))
        print("  event_latency_p99_ms %s ms" % fmt(lat["p99"]))
        print("  sources.lag_rows per batch: %s" % lat["lag_rows"])
        print("  pipeline_rows_per_s %s rows/s (saturation)" % fmt(rps))
    return max(1, attempted), failed, e2e


def trace_report(r, out_dir, workload, seed):
    spans = harness.build_spans(r)
    layer = harness.per_layer(r, spans)
    if "executions" in r:
        norm = float(len({e["pass"] for e in r["executions"] if e["traced"]}))
        unit = "traced pass"
        print("count vs materialize (count() wall beside noop wall; FLAG when noop > %.0fx count):" %
              harness.COUNT_FLAG)
        for gate, count_ms, noop_ms, flag in harness.count_report(r):
            print("  %-30s count=%8.1f ms noop=%8.1f ms %s" % (gate, count_ms, noop_ms, "FLAG" if flag else ""))
    else:
        norm = float(max(1, sum(len(harness.progress_rows(p)) for p in r["phases"] if p.get("span_id"))))
        unit = "micro-batch"
    selft = harness.self_time_by_kind(spans, norm)
    print("self time by span kind (ms per %s):" % unit)
    for k in sorted(selft):
        print("  %-28s %10.1f" % (k, selft[k]))
    print("tracing overhead: %+.2f%%" % (100 * layer["trace.overhead_ratio"]))
    st = harness.self_times(spans)
    path = os.path.join(out_dir, "trace-%s-%d.json" % (workload, seed))
    with open(path, "w") as fh:
        json.dump({"metrics": layer, "self_ms_by_kind": selft,
                   "spans": {str(k): dict(v, self_ms=st[k]) for k, v in spans.items()}}, fh)
    print("spans written to %s" % os.path.relpath(path))
    return layer


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build(root)
    if not os.path.isdir(os.path.join(DATA_ROOT, "sf0.1")):
        fail("input tables not found under %s (set GRAFT_BENCH_DATA)" % DATA_ROOT)
    out_dir = os.path.join(root, ".bench_build", "out")
    work = os.path.join(root, ".bench_build", "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    try:
        r = launch(classpath, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA_ROOT, work],
                   work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, "raw-%s-%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as fh:
        json.dump(r, fh)
    print("workload %s seed %d seconds %s trace %d cpus %d" % (a.workload, a.seed, a.seconds, a.trace, r["cpus"]))
    if a.workload == "pipeline":
        attempted, failed, e2e = pipeline_report(r, a.trace == 1)
    else:
        attempted, failed, e2e = batch_report(r, load_pinned(), a.trace == 1)
    if a.trace:
        layer = trace_report(r, out_dir, a.workload, a.seed)
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in harness.PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    for name, m in metrics.items():
        print("  %-32s %14s %s" % (name, fmt(m["value"]), m["unit"]))
    print("error_rate %s (%d failed of %d attempted)" % (fmt(failed / float(attempted)), failed, attempted))
    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))

if __name__ == "__main__":
    main()
