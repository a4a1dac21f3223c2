#!/usr/bin/env python3
"""A/B the repo benchmark: a parent revision against the working tree.

    python3 tools/ab.py <parent-rev> [--pairs 10] [--traced-pairs 0]
                        [--bench-keys K1,K2] [--workdir DIR] [--json out.json]

Run from the root of a graft checkout. The parent is exported with
`git archive` into a temporary directory; then, for every workload in
`BENCHMARK.json`, N pairs of untraced `perfbench/run.py` runs go on seeds
1 .. N, one run at a time, the parent first in odd pairs and the change
first in even ones. Run length comes from `BENCHMARK.json`. Each side's
first run builds it (perfbench's own sbt build, cached in that side's
`.bench_build/` by a source stamp); the build's time is outside the
metrics, which the JVM measures.

Per end-to-end metric it prints both medians, the median change, the
parent's interquartile range as a fraction of its median, how many pairs
the change won, and the verdict against the metric's `bound` in
`BENCHMARK.json`: `ok` (no worse than the bound), `REGRESSED`, or
`unresolved` (the parent's own spread exceeds the bound and the runs do
not separate). A `gain` note marks a metric the change won in at least
nine of ten pairs by more than the parent's IQR, over at least ten pairs:
fewer are too few to claim a gain on. `fail_frac` is each
side's failed/attempted ops. For a workload of several op kinds
(docscan's six queries) it then prints per kind the median over runs of
each run's median op latency, from the latencies `run.py` logs on
stderr, and the pairs the change won. Traced pairs, if asked for, run after every
workload's untraced pairs and add the per-layer medians (ungated).

`--bench-keys` runs N alternated pairs of `graft.Bench <out> <keys>`
instead (sbt `runMain` in each checkout, on the scale factor Bench reads
from `SPARK_GRAFT_SF_DIR`; Bench adds its canary key). Per key it prints
both sides' medians of Bench's min-of-5 wall and CPU, the wall change,
the pairs the change won and the median construct/exec job counts.

Before any run it prints each side's count of non-blank, non-comment
Scala lines under `src/main`, and the change's delta.

If any run exits non-zero or reports a failed op, the tool stops and
prints the side, workload, seed, exit code and the last 40 lines of that
run's stderr, then exits 1. It reads `perfbench/` and `BENCHMARK.json`
and changes neither.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True

def quartiles(xs):
    s = sorted(xs)
    if len(s) < 2:
        return s[0], s[0]
    q = statistics.quantiles(s, n=4, method="inclusive")
    return q[0], q[2]


def main_loc(root):
    """Non-blank lines under src/main/**/*.scala outside // and /* */ comments."""
    n = 0
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for name in files:
            if not name.endswith(".scala"):
                continue
            in_block = False
            with open(os.path.join(d, name), encoding="utf-8") as f:
                for line in f:
                    s = line.strip()
                    if in_block:
                        if "*/" not in s:
                            continue
                        in_block = False
                        s = s.split("*/", 1)[1].strip()
                    if s.startswith("/*"):
                        if "*/" not in s:
                            in_block = True
                            continue
                        s = s.split("*/", 1)[1].strip()
                    if s and not s.startswith("//"):
                        n += 1
    return n


def side_env():
    env = dict(os.environ)
    # run.py builds into $CARGO_TARGET_DIR when set; an absolute one would
    # make both sides share (and rebuild) one build directory
    env.pop("CARGO_TARGET_DIR", None)
    return env


def stop(side, workload, seed, rc, stderr):
    print(f"[ab] FAILED: side={side} workload={workload} seed={seed} "
          f"exit={rc}", flush=True)
    for line in stderr.splitlines()[-40:]:
        print(f"[ab]   {line}")
    sys.exit(1)


def run_once(side, root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, env=side_env(), capture_output=True,
                       text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if r.returncode != 0 or res is None:
        stop(side, workload, seed, r.returncode, r.stderr)
    if res["failed"] > 0:
        stop(side, workload, seed, f"0 but {res['failed']} of "
             f"{res['attempted']} ops failed", r.stderr)
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    print(f"[ab] {workload} seed {seed} {side}: " + ", ".join(
        f"{k}={v:.4g}" for k, v in sorted(vals.items())
        if not trace or k.startswith(("docstore.", "schema_inference."))),
        file=sys.stderr, flush=True)
    # per op kind, the median latency of this run's timed ops (run.py
    # logs every op's kind and milliseconds on stderr)
    kinds = {}
    for line in r.stderr.splitlines():
        if "op latencies ms: " in line:
            for kind, ms in json.loads(line.split("op latencies ms: ", 1)[1]):
                kinds.setdefault(kind, []).append(ms)
    return {"metrics": vals, "failed": res["failed"],
            "attempted": res["attempted"],
            "kinds": {k: statistics.median(v) for k, v in kinds.items()}}


def pairs(seeds, run):
    """run(side, seed) for each seed, the parent first in odd pairs."""
    out = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            out[side].append(run(side, seed))
    return out


def report(workload, runs, e2e):
    print(f"\n== {workload}: {len(runs['parent'])} pairs", flush=True)
    print(f"{'metric':16s} {'parent':>12s} {'change':>12s} {'change%':>8s} "
          f"{'par.IQR%':>8s} {'wins':>6s} {'bound%':>7s}  verdict")
    ok = True
    n = len(runs["parent"])
    for m in e2e:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        iqr = (q3 - q1) / pm if pm else float("nan")
        delta = (cm - pm) / pm if pm else float("nan")
        worse = delta if lower else -delta
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        separated = max(c) < min(p) if lower else min(c) > max(p)
        if worse > bound:
            verdict = "REGRESSED"
            ok = False
        elif iqr > bound and not separated:
            verdict = "unresolved"
        else:
            verdict = "ok"
        if n >= 10 and wins >= 0.9 * n and -worse * pm > (q3 - q1):
            verdict += " (gain)"
        print(f"{name:16s} {pm:12.4g} {cm:12.4g} {100 * delta:+8.1f} "
              f"{100 * iqr:8.1f} {wins:3d}/{n:<2d} {100 * bound:7.1f}  {verdict}")
    for side in ("parent", "change"):
        f = sum(r["failed"] for r in runs[side])
        a = sum(r["attempted"] for r in runs[side])
        print(f"fail_frac {side}: {f / max(1, a):.4f} ({f} of {a} ops)")
    return ok


def bench_once(side, root, keys, i, tmp):
    out = os.path.join(tmp, f"bench_{side}_{i}.json")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"runMain graft.Bench {out} {keys}"], cwd=root,
                       env=side_env(), capture_output=True, text=True,
                       timeout=3600)
    try:
        with open(out) as f:
            res = json.load(f)
        os.remove(out)
    except (OSError, json.JSONDecodeError):
        res = None
    if r.returncode != 0 or res is None:
        stop(side, "bench", i, r.returncode, r.stdout + r.stderr)
    failed = [k for k, v in res["queries"].items() if v < 0]
    if failed:
        stop(side, "bench", i, f"0 but keys failed: {failed}",
             r.stdout + r.stderr)
    print(f"[ab] bench run {i} {side}: total {res['value']:.3f} s, "
          f"gate {res['window_gate']}", file=sys.stderr, flush=True)
    return res


def report_bench(runs):
    n = len(runs["parent"])
    print(f"\n== graft.Bench subset: {n} pairs, medians of per-run "
          f"min-of-5 (s); jobs = construct/exec")
    print(f"{'key':26s} {'wall par':>9s} {'wall chg':>9s} {'change%':>8s} "
          f"{'wins':>5s} {'cpu par':>8s} {'cpu chg':>8s} "
          f"{'jobs par':>9s} {'jobs chg':>9s}")
    med = statistics.median

    def col(side, field, k):
        return med(r[field][k] for r in runs[side])

    for k in sorted(runs["parent"][0]["queries"]):
        wp, wc = col("parent", "queries", k), col("change", "queries", k)
        wins = sum(c["queries"][k] < p["queries"][k]
                   for p, c in zip(runs["parent"], runs["change"]))
        jobs = {s: f"{col(s, 'queries_construct_jobs', k):g}/"
                   f"{col(s, 'queries_exec_jobs', k):g}"
                for s in ("parent", "change")}
        print(f"{k:26s} {wp:9.3f} {wc:9.3f} {100 * (wc - wp) / wp:+8.1f} "
              f"{wins:2d}/{n:<2d} {col('parent', 'queries_cpu', k):8.3f} "
              f"{col('change', 'queries_cpu', k):8.3f} "
              f"{jobs['parent']:>9s} {jobs['change']:>9s}")


def report_kinds(runs):
    """Per op kind: the median over runs of each run's median latency."""
    kinds = sorted(set().union(*(r.get("kinds", {}) for r in runs["change"])))
    if len(kinds) < 2:
        return
    print(f"{'op kind (ms)':16s} {'parent':>12s} {'change':>12s} {'change%':>8s} "
          f"{'wins':>6s}")
    for k in kinds:
        p = [r["kinds"].get(k) for r in runs["parent"]]
        c = [r["kinds"].get(k) for r in runs["change"]]
        pc = [(a, b) for a, b in zip(p, c) if a is not None and b is not None]
        if not pc:
            continue
        pm = statistics.median(a for a, _ in pc)
        cm = statistics.median(b for _, b in pc)
        wins = sum(b < a for a, b in pc)
        print(f"{k:16s} {pm:12.4g} {cm:12.4g} {100 * (cm - pm) / pm:+8.1f} "
              f"{wins:3d}/{len(pc):<2d}")


def report_layers(workload, runs, names):
    print(f"\n== {workload}: per-layer medians over "
          f"{len(runs['parent'])} traced pairs (ungated)")
    for name in names:
        p = [r["metrics"][name] for r in runs["parent"] if name in r["metrics"]]
        c = [r["metrics"][name] for r in runs["change"] if name in r["metrics"]]
        if p and c:
            pm, cm = statistics.median(p), statistics.median(c)
            d = f"{100 * (cm - pm) / pm:+.1f}%" if pm else "n/a"
            print(f"{name:36s} {pm:12.4g} {cm:12.4g} {d:>8s}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--traced-pairs", type=int, default=0)
    ap.add_argument("--bench-keys", default=None,
                    help="comma-separated graft.Bench keys to A/B instead "
                         "of the perfbench workloads")
    ap.add_argument("--workdir", default=None,
                    help="where the parent is exported (default: a temp dir)")
    ap.add_argument("--json", default=None, help="write every run here")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    tmp = tempfile.mkdtemp(prefix="ab-", dir=a.workdir)
    parent = os.path.join(tmp, "p")
    os.makedirs(parent)
    # perfbench's sbt build puts its boot socket under the checkout, and a
    # unix socket path has ~100 bytes: a longer checkout path fails to build
    for side in (parent, root):
        if len(side) > 34:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"ab: checkout path too long for perfbench's "
                             f"sbt build (over 34 chars): {side}")
    try:
        archive = subprocess.run(["git", "archive", a.parent_rev], cwd=root,
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        roots = {"parent": parent, "change": root}
        loc = {side: main_loc(r) for side, r in roots.items()}
        print(f"[ab] src/main Scala lines (non-blank, non-comment): parent "
              f"{loc['parent']}, change {loc['change']}, delta "
              f"{loc['change'] - loc['parent']:+d}", flush=True)
        seeds = list(range(1, a.pairs + 1))
        results, ok = {}, True
        if a.bench_keys:
            results["graft.Bench"] = pairs(seeds, lambda side, i: bench_once(
                side, roots[side], a.bench_keys, i, tmp))
            report_bench(results["graft.Bench"])
        else:
            # every gated (untraced) result first; traced runs only locate
            for w in workloads:
                runs = pairs(seeds, lambda side, seed: run_once(
                    side, roots[side], w, seed, bench["run_seconds"], 0))
                results[w] = {"untraced": runs}
                ok = report(w, runs, bench["end_to_end"]) and ok
                report_kinds(runs)
            for w in (workloads if a.traced_pairs else []):
                traced = pairs(seeds[:a.traced_pairs],
                               lambda side, seed: run_once(
                                   side, roots[side], w, seed,
                                   bench["run_seconds"], 1))
                results[w]["traced"] = traced
                report_layers(w, traced,
                              [m["name"] for m in bench["per_layer"]])
            print("\n[ab] " + ("every end-to-end metric inside its bound"
                               if ok else "a metric regressed beyond its bound"))
        if a.json:
            with open(a.json, "w") as f:
                json.dump({"parent_rev": a.parent_rev, "seeds": seeds,
                           "main_loc": loc, "results": results}, f, indent=1)
        return 0 if ok else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
