#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

Run from the repository root:

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it checks that

  * an untraced run emits every end-to-end metric exactly once, with the
    unit BENCHMARK.json gives it, and passes its result checks;
  * a traced run does the same for every per-layer metric;
  * a run whose result is corrupted on purpose fails its check: the result
    line says correct = false with at least one failed operation, and the
    exit code is not 0;

and that the benchmark refuses to run, without printing a result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits 0 only if every check passed.
"""
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
failures = []


def check(ok, what):
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def no_duplicates(pairs):
    keys = [k for k, _ in pairs]
    dup = sorted({k for k in keys if keys.count(k) > 1})
    if dup:
        raise ValueError(f"duplicate keys {dup}")
    return dict(pairs)


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1], object_pairs_hook=no_duplicates) if lines else None
    except ValueError as e:
        print(f"  unparsable result line: {e}")
        result = None
    return p.returncode, result


def metrics_match(result, spec, what):
    check(result is not None and sorted(result) == ["attempted", "correct", "failed", "metrics"],
          f"{what}: result has exactly correct/attempted/failed/metrics")
    if result is None:
        return
    got = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    check(sorted(got) == sorted(want), f"{what}: every metric emitted once, no others")
    bad = [k for k, v in got.items()
           if k in want and (v.get("unit") != want[k] or not isinstance(v.get("value"), (int, float))
                             or not math.isfinite(v["value"]))]
    check(not bad, f"{what}: units and values well-formed {bad if bad else ''}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in [x["name"] for x in bench["workloads"]]:
        base = ["--workload", w, "--seed", "7", "--seconds", "2", "--scale", "tiny"]
        code, res = run(base + ["--trace", "0"])
        check(code == 0 and res is not None and res["correct"] and res["failed"] == 0
              and res["attempted"] >= 1, f"{w}: untraced run passes its checks")
        metrics_match(res, bench["end_to_end"], f"{w} untraced")
        code, res = run(base + ["--trace", "1"])
        check(code == 0 and res is not None and res["correct"], f"{w}: traced run passes its checks")
        metrics_match(res, bench["per_layer"], f"{w} traced")
        code, res = run(base + ["--trace", "0", "--corrupt", "1"])
        check(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: a corrupted result fails its check")

    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target", ".bsp"))
    p = subprocess.run(RUN + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=180)
    check(p.returncode != 0 and not p.stdout.strip(),
          "without the engine sources it exits non-zero and prints no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} failing checks")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
