#!/usr/bin/env python3
"""Checks of the benchmark itself; run from the root of a graft checkout:

    python3 perfbench/selfcheck.py [--workloads docscan,curate]

1. The same seed gives byte-identical inputs, another seed different ones.
2. A planted wrong reference answer makes `failed` > 0.
3. Every metric BENCHMARK.json names is emitted, with its unit, by an
   untraced run (end-to-end) and a traced run (per-layer).
4. Without graft's sources next to it, the benchmark fails without
   printing a result.
Exits non-zero on the first failed check.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run(args, cwd="."):
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 else None), lines


def expect(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="docscan,curate")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    scratch = os.path.join(".bench_work", "selfcheck")
    try:
        for w in a.workloads.split(","):
            d = [digest_of(w, s, os.path.join(scratch, f"{w}{i}"))
                 for i, s in enumerate((11, 11, 12))]
            expect(d[0] == d[1], f"{w}: seed 11 twice gives identical inputs")
            expect(d[0] != d[2], f"{w}: seeds 11 and 12 give different inputs")

            rc, res, _ = run(["--workload", w, "--seed", "3", "--seconds", "2",
                              "--trace", "0", "--plant-wrong-ref"])
            expect(rc == 0 and res["failed"] > 0,
                   f"{w}: a planted wrong reference is counted as failed")
            want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w}: untraced run emits every end-to-end metric with its unit")

            rc, res, _ = run(["--workload", w, "--seed", "3", "--seconds", "2",
                              "--trace", "1"])
            want = {m["name"]: m["unit"] for m in bench["per_layer"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()} if res else {}
            expect(rc == 0 and res["failed"] == 0 and got == want,
                   f"{w}: traced run emits every per-layer metric with its unit")

        bare = os.path.join(scratch, "bare")
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy("BENCHMARK.json", bare)
        rc, _, lines = run(["--workload", "docscan", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare)
        expect(rc != 0 and not lines, "without graft's sources the run fails and prints nothing")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(".bench_work")
        except OSError:
            pass


def digest_of(workload, seed, root):
    gen.generate(workload, seed, root)
    d = digest(root)
    shutil.rmtree(root)
    return d


if __name__ == "__main__":
    main()
