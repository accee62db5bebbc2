#!/usr/bin/env python3
"""Run one benchmark workload and print its summary as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/check.py --rebuild   # recompute the cached oracle answers

Steps, all inside the checkout (state lives under perfbench/work/):
  1. build: compile the program's main sources with the harness
     (perfbench/build.sbt) once per source fingerprint;
  2. inputs: the repository's sf0.01 test tables (perfbench/data/sf0.01,
     read only), and for corpus_refresh a replica of them built from the
     seed (gen.py) for each run;
  3. run the harness in a fresh JVM (perfbench.Main): set-up, one cold pass
     that writes its outputs, one untimed check pass that writes a warm
     session's outputs, then warm passes until their query time reaches
     --seconds;
  4. check every query output of the cold and the check pass against DuckDB
     running the program's own oracle SQL (answers cached per input files +
     SQL text), and collect the harness's property checks (connected
     components against a union-find, and the rest);
  5. print {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
     --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BASE = os.path.join(HERE, "data", "sf0.01")
# corpus_refresh replaces documents/embeddings by this many seeded copies
REPLICA_FACTOR = 3
REPLICA_WORKLOADS = {"corpus_refresh"}
# a run must end within 180 s of its start (after the build); the harness
# gets what is left of that after a reserve for the output checks
RUN_LIMIT_S = 180
CHECK_RESERVE_S = 15
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source fingerprint; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"program sources not found at {PROGRAM_SRC}")
    fp = fingerprint([PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building the program and the harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def inputs(workload, seed):
    """The input directory of this workload and seed."""
    if not os.path.exists(os.path.join(BASE, "lineitem.parquet")):
        sys.exit(f"input tables not found at {BASE}")
    if workload not in REPLICA_WORKLOADS:
        return BASE
    rep = os.path.join(WORK, "data", f"replica-x{REPLICA_FACTOR}-s{seed}")
    if not os.path.exists(os.path.join(rep, "DONE")):
        shutil.rmtree(rep, ignore_errors=True)
        gen.replica(BASE, rep, REPLICA_FACTOR, seed)
        open(os.path.join(rep, "DONE"), "w").close()
    return rep


def run_jvm(cp, workload, seed, seconds, trace, data, run_dir, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"))
    # a pinned heap: while G1 grew it, one workload's warm passes moved by
    # up to a half between runs; pinned, by a few percent
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", data, "--run-dir", run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        # set-up is timed from here: JVM start, class loading, the session
        cmd += ["--launched-ms", repr(time.time() * 1e3)]
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"harness did not finish within {timeout:.0f} s")
    res = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"harness exited with {rc}")
    return json.load(open(res))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"--workload must be one of {names}")
    t0 = time.time()
    cp = build()
    t1 = time.time()
    data = inputs(a.workload, a.seed)
    t2 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    timeout = RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t1)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, run_dir, timeout)
    t3 = time.time()
    problems = check.outputs(res, data, run_dir, WORK)
    log(f"build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, harness {t3 - t2:.1f} s, "
        f"checks {time.time() - t3:.1f} s")
    for p in problems:
        log(f"check failed: {p}")
    for f in res["failures"]:
        log(f"failed: {f}")

    values = dict(res["metrics"])
    values.update(res["per_layer"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values or values[m["name"]] is None]
    if missing:
        sys.exit(f"metrics missing from the harness result: {missing}")
    summary = {
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "time": time.time(),
              "summary": summary, "problems": problems}
    record.update({k: res[k] for k in ("pass_s", "query_s", "query_layers", "metrics", "per_layer", "checks", "failures")})
    with open(os.path.join(WORK, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace and os.path.exists(os.path.join(run_dir, "spans.json")):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copyfile(os.path.join(run_dir, "spans.json"),
                        os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if a.workload in REPLICA_WORKLOADS:
        shutil.rmtree(data, ignore_errors=True)  # regenerated from the seed in 0.5 s
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
