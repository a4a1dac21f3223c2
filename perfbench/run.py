#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload docscan --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
driver in perfbench/ with sbt into .bench_build/ (or $CARGO_TARGET_DIR).
Each run generates its inputs from the seed under .bench_work/, runs the
JVM driver (perfbench.Main), checks every answer against DuckDB, prints
one summary line per metric, and as its last line a JSON object with
`correct`, `attempted`, `failed` and `metrics`. Everything it wrote is
removed before it exits.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import gen  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("docscan", "curate")
JVM_TIMEOUT_S = 165
ARTIFACT_ROOT = "/tmp/graft_docstore"  # graft derives artifact roots here
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha1()
    paths = []
    for d in ("src/main", "perfbench/src", "perfbench/project"):
        for dp, _, fs in os.walk(os.path.join(root, d)):
            if "/target" in dp:
                continue
            paths += [os.path.join(dp, f) for f in fs]
    paths += [os.path.join(root, "perfbench/build.sbt")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the driver once per source state; return the
    runtime classpath."""
    target = os.path.join(build_dir, "sbt-target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.target={target}"])
    log("building graft and the driver with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def run_jvm(cp, workload, in_dir, work, seconds, trace, cores, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, in_dir, work,
            str(seconds), str(trace), str(cores), out]
    launched = time.time()
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: driver timed out")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        drop_artifacts(p.pid)
    log(f"driver ran for {time.time() - launched:.1f} s")
    if rc != 0:
        raise SystemExit(f"perfbench: driver exited with {rc}")
    with open(out) as f:
        return json.load(f)


def drop_artifacts(pid):
    """graft keeps derived artifacts under /tmp/graft_docstore/<input dir
    name>; the driver names its inputs pb<pid>_..., so remove those, and
    the root itself if that leaves it empty."""
    for d in glob.glob(os.path.join(ARTIFACT_ROOT, f"pb{pid}_*")):
        shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(ARTIFACT_ROOT)
    except OSError:
        pass


def tail(values):
    """Latency at the highest percentile that leaves at least ten samples
    above it, but never below the median: with fewer than 21 samples
    that percentile does not exist or lies under p50."""
    s = sorted(values)
    n = len(s)
    k = max(n - 11, n // 2)
    return s[k], 100.0 * (k + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def e2e_metrics(res):
    p = res["pass"]
    wall = p["wall_s"]
    ops = max(1, p["ops"])
    op_ms, ap_ms = p["op_ms"], p["append_ms"]
    # set-up: JVM start to main, plus the median of the in-process set-ups
    setup = res["boot_s"] + median(res["setup_s"])
    ot, otp, otn = tail(op_ms)
    at, atp, atn = tail(ap_ms)
    m = {
        "setup_s": (setup, "s"),
        "ops_per_s": (p["ops"] / wall, "1/s"),
        "docs_per_s": (p["docs"] / wall, "1/s"),
        "op_p50_ms": (median(op_ms), "ms"),
        "op_tail_ms": (ot, "ms"),
        "append_p50_ms": (median(ap_ms), "ms"),
        "append_tail_ms": (at, "ms"),
        "cpu_s_per_op": (p["cpu_s"] / ops, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    notes = {"op_tail_ms": f"p{otp:.1f} of n={otn}",
             "append_tail_ms": f"p{atp:.1f} of n={atn}"}
    return m, notes


def span_self_times(spans, ops):
    """Self time per op of each span name: a span's duration minus the
    part of it its child spans cover."""
    kids = {}
    for sid, name, parent, op, start, end in spans:
        kids.setdefault(parent, []).append((start, end))
    out = {}
    for sid, name, parent, op, start, end in spans:
        covered, hi = 0, None
        for a, b in sorted(kids.get(sid, [])):
            if hi is None or a >= hi:
                covered, hi = covered + b - a, b
            elif b > hi:
                covered, hi = covered + b - hi, b
        out[name] = out.get(name, 0) + (end - start - covered)
    return {k: v / 1e6 / max(1, ops) for k, v in out.items()}


def layer_metrics(res, root):
    """Per-layer values with the units BENCHMARK.json declares for them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    return {k: (res["per_layer"][k], u) for k, u in units.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-ref", action="store_true",
                    help="corrupt one reference answer (self-check)")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(root, build_dir)
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(root, ".bench_work", f"{a.workload}_{a.seed}_{os.getpid()}")
    in_dir, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    try:
        t0 = time.time()
        params = gen.generate(a.workload, a.seed, in_dir)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        res = run_jvm(cp, a.workload, in_dir, work, a.seconds, a.trace, cores,
                      os.path.join(run_dir, "result.json"))
        t0 = time.time()
        records = res["pass"]["records"]
        bad = verify.check(a.workload, in_dir, params, res, records,
                           a.plant_wrong_ref, run_dir)
        log(f"answers checked in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass

    p = res["pass"]
    log("op latencies ms: " + json.dumps(
        [[r.get("type", r["kind"]), round(r["ms"], 1)] for r in p["records"]]))
    errors = len(p["errors"])
    for e in p["errors"][:5]:
        log("op failed:", e)
    for b in bad[:5]:
        log("wrong answer:", b)
    attempted = p["ops"]
    failed = errors + len(bad)
    if a.trace:
        metrics = layer_metrics(res, root)
        selfs = span_self_times(res["spans"], res["traced_pass"]["ops"])
        for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            log(f"span self time {k:28s} {v:12.3f} ms/op")
        log("spans " + json.dumps(res["spans"]))
        if "trace_error" in res:
            log("tracing error:", res["trace_error"])
    else:
        metrics, notes = e2e_metrics(res)
        for k, (v, u) in metrics.items():
            print(f"{k:16s} {v:14.4f} {u:4s} {notes.get(k, '')}")
        print(f"{'fail_frac':16s} {failed / max(1, attempted):14.4f}      "
              f"{failed} of {attempted} ops")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
