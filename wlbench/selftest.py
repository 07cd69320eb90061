#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 wlbench/selftest.py [--skip-smoke]

1. Every metric the benchmark reports is listed in BENCHMARK.json with the
   same unit, and every name matches [A-Za-z0-9_.-]+ (at most 64 chars).
2. The input generators are deterministic: the same seed gives
   byte-identical files, another seed gives different ones.
3. Smoke: each workload at tiny sizes, once with one deliberately failing
   op (it must be counted in `failed` and make `correct` false) and once
   traced (every per-layer metric present, no failure).
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ["etl_daily", "olap_read", "dedup_ingest"]
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def jvm(cp, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return subprocess.run(run.java_command(cp, work, args), stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, check=True).stdout


def dirs_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        dirs_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    cp = run.classpath()
    work = os.path.join(HERE, "work", f"selftest-{os.getpid()}")
    try:
        listed = [l.split("\t") for l in jvm(cp, work, ["--list-metrics"]).splitlines()]
        got_e2e = {r[1]: r[2] for r in listed if r[0] == "end_to_end"}
        got_layer = {r[1]: r[2] for r in listed if r[0] == "per_layer"}
        check(got_e2e == e2e, "end-to-end metrics match BENCHMARK.json")
        check(got_layer == layer, "per-layer metrics match BENCHMARK.json")
        bad = [n for n in list(e2e) + list(layer) if not NAME.match(n)]
        check(not bad, f"metric names are well-formed {bad}")
        check(len(layer) <= 128, f"{len(layer)} per-layer metrics (at most 128)")

        dumps = [os.path.join(work, d) for d in ("a", "b", "c")]
        for d, seed in zip(dumps, (7, 7, 8)):
            jvm(cp, work, ["--seed", str(seed), "--gen-dump", d])
        check(dirs_equal(dumps[0], dumps[1]), "same seed gives byte-identical inputs")
        check(not dirs_equal(dumps[0], dumps[2]), "another seed gives other inputs")

        if "--skip-smoke" not in sys.argv:
            for w in WORKLOADS:
                for trace, extra in (("0", ["--fail-op", "1"]), ("1", [])):
                    out = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", "3", "--seconds", "3", "--trace", trace,
                         "--size", "tiny"] + extra,
                        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                    if out.returncode != 0:
                        check(False, f"{w} trace={trace} smoke run exits 0")
                        continue
                    res = json.loads(out.stdout.strip().splitlines()[-1])
                    names = set(res["metrics"])
                    if trace == "0":
                        check(res["failed"] == 1 and res["attempted"] >= 2
                              and res["correct"] is False,
                              f"{w}: the deliberately failing op is counted "
                              f"(attempted={res['attempted']} failed={res['failed']})")
                        check(names == set(e2e), f"{w}: reports every end-to-end metric")
                    else:
                        check(res["failed"] == 0 and res["correct"] is True,
                              f"{w} traced: every output check passes")
                        check(names == set(layer), f"{w} traced: reports every per-layer metric")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
