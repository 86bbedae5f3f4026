#!/usr/bin/env python3
"""Smoke self-test of the benchmark harness, on tiny inputs.

    python3 perfbench/selftest.py [--docs 400] [--static]

Checks, from the repository root:
  * BENCHMARK.json keeps the benchmark contract's shape and limits;
  * layers.json maps every per-layer metric to end-to-end metrics and
    workloads that BENCHMARK.json defines;
  * in a directory holding only BENCHMARK.json and perfbench/, run.py
    exits non-zero without printing a result;
  * for every workload, an untraced and a traced run print, as their
    last line, the result keys and exactly the end-to-end (untraced) or
    per-layer (traced) metric names, each a number with its unit.
Tiny inputs skew the statistical checks (F1 on a few hundred pages), so
a run's `correct` is shown, not required. `--static` skips the runs.
"""
import argparse
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def check_spec(spec):
    expect(set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, "BENCHMARK.json has exactly the contract keys")
    expect(isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60,
           "run_seconds is a whole number in 1..60")
    expect(1 <= len(spec["paths"]) <= 16 and all(
        re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
        for p in spec["paths"]), "paths are relative and well-formed")
    expect(len(spec["command"]) <= 32 and all(len(a) <= 200 for a in spec["command"]),
           "command fits the limits")
    names = [w["name"] for w in spec["workloads"]] + \
        [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    expect(len(names) == len(set(names)) and all(NAME.fullmatch(n) for n in names),
           "names are well-formed and unique")
    expect(2 <= len(spec["workloads"]) <= 8 and all(
        set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        for w in spec["workloads"]), "2..8 workloads, each with a one-line why")
    expect(1 <= len(spec["end_to_end"]) <= 16 and all(
        set(m) == {"name", "unit", "better", "bound"} and UNIT.fullmatch(m["unit"])
        and m["better"] in ("higher", "lower") and 0 < m["bound"] <= 0.25
        for m in spec["end_to_end"]), "end-to-end metrics are well-formed")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    expect(len(setup) == 1 and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
           and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"]),
           "setup_s is present, lower-better, with the largest bound")
    expect(1 <= len(spec["per_layer"]) <= 128 and all(
        set(m) == {"name", "unit", "better"} and UNIT.fullmatch(m["unit"])
        and m["better"] in ("higher", "lower") for m in spec["per_layer"]),
        "per-layer metrics are well-formed")
    expect(len(json.dumps(spec)) <= 64 * 1024, "BENCHMARK.json is at most 64 KiB")


def check_map(spec):
    mapping = json.loads((HERE / "layers.json").read_text())["map"]
    e2e = {m["name"] for m in spec["end_to_end"]}
    wls = {w["name"] for w in spec["workloads"]}
    layer = [m["name"] for m in spec["per_layer"]]
    expect(set(mapping) == set(layer), "layers.json covers exactly the per-layer metrics")
    bad = [k for k, v in mapping.items()
           if not set(v["moves"]) <= e2e or not set(v["on"]) <= wls
           or (not v["moves"]) != (not v["on"]) or (not v["moves"] and not v.get("why"))]
    expect(not bad, f"every mapping names real metrics and workloads {bad[:3]}")


def check_bare_dir(spec):
    bare = ROOT / ".bench_build" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("target"))
    w = spec["workloads"][0]["name"]
    p = subprocess.run(spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                          "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    expect(p.returncode != 0 and '"correct"' not in p.stdout,
           "without the engine's sources the benchmark fails and prints no result")


def check_run(spec, workload, trace, docs):
    p = subprocess.run(spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                                          "--trace", str(trace), "--docs", str(docs)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    what = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        expect(False, f"{what}: exit {p.returncode} {p.stderr[-500:]}")
        return
    res = json.loads(lines[-1])
    expect(set(res) == {"correct", "attempted", "failed", "metrics"}
           and isinstance(res["attempted"], int) and res["attempted"] >= 1
           and isinstance(res["failed"], int), f"{what}: result keys")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    expect(set(got) == set(want), f"{what}: metric names "
           f"(missing {sorted(set(want) - set(got))[:5]}, extra {sorted(set(got) - set(want))[:5]})")
    expect(all(isinstance(v["value"], (int, float)) and v["unit"] == want.get(k)
               for k, v in got.items()), f"{what}: every metric a number with its unit")
    print(f"     correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=400)
    ap.add_argument("--static", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_spec(spec)
    check_map(spec)
    if not args.static:
        check_bare_dir(spec)
        for w in spec["workloads"]:
            for trace in (0, 1):
                check_run(spec, w["name"], trace, args.docs)
    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
