#!/usr/bin/env python3
"""graft benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, into perfbench/target) and caches the
classpath in .bench_build/, keyed by a hash of the sources. Each run then
starts one JVM (Spark local[n], n <= 4 and <= the processor count), which
generates its inputs from the seed, runs the workload, checks the outputs
and reports; a traced run also checks the query board against DuckDB.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json untraced and its per-layer
metrics traced. The line before it carries every named metric with its
unit, the checks, and the memory-bandwidth, load-average and CPU-steal
samples taken around the run (context for reading a number, not metrics).

Scaling efficiency (2 -> 4 cores) is deliberately not a metric: it is a
ratio of two fresh-JVM runs, and the repository's history does not show
it repeating within a tenth.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 178  # a run must end within 180 s, its build excepted

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    want = source_hash()
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
            return cp_file.read_text().strip()
        log("building engine and harness (first run in this checkout)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SPARK_HOME" not in env:
            submit = shutil.which("spark-submit")
            if submit:
                env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
        with open(BUILD / "build.log", "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
        lines = (BUILD / "build.log").read_text().splitlines()
        if rc != 0 or not lines:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit(f"build failed (exit {rc}); see .bench_build/build.log")
        cp = lines[-1].strip()
        cp_file.write_text(cp)
        stamp.write_text(want)
        return cp


def run_jvm(cp, args, work, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, budget_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"the harness JVM ran past {budget_s:.0f} s and was stopped")
    report = next((ln[len("GRAFTBENCH "):] for ln in reversed(out.splitlines())
                   if ln.startswith("GRAFTBENCH ")), None)
    if proc.returncode != 0 or report is None:
        sys.stderr.write("".join((work / "jvm.log").read_text().splitlines(True)[-40:]))
        raise SystemExit(f"the harness JVM failed (exit {proc.returncode})")
    return json.loads(report)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0,
                    help="input size override (self-test only)")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")

    cp = build()
    started = time.monotonic()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        # what is left after the JVM (oracle check, clean-up) takes < 10 s
        rep = run_jvm(cp, args, work, RUN_LIMIT_S - (time.monotonic() - started) - 10)
        attempted, failed = rep["attempted"], rep["failed"]
        checks = dict(rep["checks"])
        named = dict(rep["named"])
        layer = dict(rep["per_layer"])
        if args.trace and "board_dir" in rep:
            from oracle import check_board  # perfbench/ is on sys.path
            board = check_board(rep["board_dir"], rep["board_out"])
            for q, res in board.items():
                attempted += 1
                failed += 0 if res["ok"] else 1
            matched = sum(1 for q, r in board.items() if r["ok"] and q != "w2v_cells")
            with_oracle = len(board) - 1
            named["oracle_match"] = {"value": matched, "unit": "count"}
            layer["query.oracle_match"] = {"value": matched, "unit": "count"}
            checks["oracle_match"] = {"ok": matched == with_oracle,
                                      "detail": f"{matched}/{with_oracle} queries match DuckDB"}
            checks["w2v_cells_invariant"] = {"ok": board["w2v_cells"]["ok"],
                                             "detail": board["w2v_cells"]}
            bad = {q: r for q, r in board.items() if not r["ok"]}
            if bad:
                checks["oracle_mismatches"] = {"ok": False, "detail": bad}
        named["failed_frac"] = {"value": failed / max(1, attempted), "unit": "frac"}
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = layer if args.trace else named
        metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]}
                   for m in wanted
                   if m["name"] in source and source[m["name"]]["value"] is not None}
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        correct = (failed == 0 and not missing and all(c["ok"] for c in checks.values()))
        print(json.dumps({"report": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "docs": rep["docs"], "cores": rep["cores"], "run_s": time.monotonic() - started,
            "metrics": named, "checks": checks, "errors": rep["errors"],
            "missing_metrics": missing, "setup_rounds_s": rep["setup_rounds_s"],
            "warmup_unit_s": rep.get("warmup_unit_s"), "unit_s": rep.get("unit_s"),
            "env_before": rep["env_before"], "env_after": rep["env_after"]}}))
        if args.trace:
            (BUILD / "traces").mkdir(exist_ok=True)
            (BUILD / "traces" / f"{args.workload}-{args.seed}.json").write_text(
                json.dumps(rep.get("spans", [])))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
