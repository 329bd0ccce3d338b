#!/usr/bin/env python3
"""graft benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <filter_pass|dedup_heavy>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) into
perfbench/target; later calls reuse the build while the sources are
unchanged. Each call starts one JVM at local[nproc], which writes only
under .bench_build/perfbench/ (its temp dir and spark.local.dir included).

The last line on stdout is the summary JSON:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Every other line the build and the JVM print goes to
stderr. The full record of each call (per-rep numbers, output checks,
host probes, residue check) is kept in .bench_build/perfbench/runs/.

Output check: the JVM reports, for the fixed reference input of set-up,
the warm-up passes and every timed rep, the kept count, a digest over the
kept (url, text) and the drop-reason histogram. Reference values must equal
those recorded in perfbench/expected.json; the warm-up passes and the reps,
all over the seeded input, must agree with each other. A pass that threw,
failed its check or saw a failed task attempt counts as failed and is left
out of the metrics; a call with any failure exits 1 after printing its
summary. `--record` stores the observed reference values in expected.json
for a workload that has none yet (delete its entry to re-record it after a
deliberate change to the program's output).
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 175         # a run, without the build
BUILD_DEADLINE_S = 850   # the first run in a checkout builds first
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """sbt-compile the engine plus the benchmark; returns the classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building engine + benchmark with sbt ...")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=max(1, deadline - time.time()))
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def run_jvm(cp, args, workdir, deadline):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=workdir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("perfbench: JVM killed at the deadline")
        return None


def residue(workdir):
    """Files left under the JVM's temp dir and spark.local.dir."""
    left = []
    for d in ("tmp", "spark-local"):
        for base, _, files in os.walk(os.path.join(workdir, d)):
            left += [os.path.relpath(os.path.join(base, f), workdir) for f in files]
            if base != os.path.join(workdir, d):
                left.append(os.path.relpath(base, workdir) + "/")
    return sorted(left)


def check_of(rep):
    return None if rep["check"] is None else {
        "kept": rep["check"]["kept"], "digest": rep["check"]["digest"],
        "hist": rep["check"]["hist"]}


def judge(result, expected, record):
    """Checks the reference pass against its recorded values and the
    warm-up passes and reps against each other. Returns (good reps, number of
    failed passes, messages). With `record`, first stores the observed
    reference values when none are recorded."""
    ref_key = f'{result["ref_docs"]}@{result["ref_seed"]}'
    good = [r for r in result["ref_reps"] if r["error"] is None]
    if record and good and result["workload"] not in expected:
        expected[result["workload"]] = {"ref": ref_key, "check": check_of(good[0])}
    messages = []
    recorded = expected.get(result["workload"])
    ref_want = recorded["check"] if recorded and recorded["ref"] == ref_key else None
    if ref_want is None:
        messages.append(f"no recorded reference check for {result['workload']} {ref_key}")
    seeded = [r for r in result["warm_reps"] + result["reps"] if r["error"] is None]
    seed_want = check_of(seeded[0]) if seeded else None
    ok, failed = [], 0
    for reps, want in ((result["ref_reps"], ref_want), (result["warm_reps"], seed_want),
                       (result["reps"], seed_want)):
        for r in reps:
            if r["error"] is not None:
                messages.append(f'{r["id"]}: {r["error"]}')
            elif want is not None and check_of(r) != want:
                messages.append(f'{r["id"]}: output check {check_of(r)} != expected {want}')
            else:
                if reps is result["reps"]:
                    ok.append(r)
                continue
            failed += 1
    return ok, failed, messages


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true",
                    help="store the observed reference check values when none are recorded")
    a = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"perfbench: engine sources not found under {ROOT}/src/main/scala; "
            "run from the root of a graft checkout")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"perfbench: unknown workload {a.workload}")
        sys.exit(2)

    cp = build(start + BUILD_DEADLINE_S)
    run_start = time.time()
    run_id = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}-{int(run_start)}"
    workdir = os.path.join(BUILD, "work", run_id)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    result_file = os.path.join(workdir, "result.json")
    spans_file = os.path.join(BUILD, "trace", run_id + ".spans.jsonl")
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--workdir", workdir, "--result", result_file,
                        "--spans", spans_file], workdir,
                   min(run_start + DEADLINE_S, start + BUILD_DEADLINE_S + 40))
    left = residue(workdir)
    if code != 0 or not os.path.exists(result_file):
        shutil.rmtree(workdir, ignore_errors=True)
        log(f"perfbench: JVM failed (exit {code}); no result")
        sys.exit(1)
    with open(result_file) as f:
        result = json.load(f)
    shutil.rmtree(workdir, ignore_errors=True)

    with open(EXPECTED) as f:
        expected = json.load(f)
    ok, failed, failures = judge(result, expected, a.record)
    if a.record:
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    if left:
        failures.append(f"residue after the run: {left[:10]}")
    attempted = len(result["ref_reps"]) + len(result["warm_reps"]) + len(result["reps"])

    untraced = [r for r in ok if not r["traced"]]
    med = lambda key, reps: statistics.median([r[key] for r in reps]) if reps else 0.0
    if a.trace == 0:
        values = {
            "docs_per_s": med("docs_per_s", untraced),
            "cpu_s": med("cpu_s", untraced),
            "setup_s": result["session_s"] + result["ref_s"] + result["warm_s"],
            "shuffle_bytes": med("shuffle_bytes", untraced),
            "jobs": med("jobs", untraced),
            "stages": med("stages", untraced),
        }
        wanted = spec["end_to_end"]
    else:
        values = {k: v["value"] for k, v in result["layers"].items()}
        values["job.spill_bytes"] = med("spill_bytes", ok)
        values["job.output_bytes"] = med("output_bytes", ok)
        values["job.failed_frac"] = failed / attempted
        values["host.probe_s"] = result["probe_start_s"]
        wanted = spec["per_layer"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values or values[m["name"]] is None:
            failures.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    correct = not failures and len(ok) > 0
    record = {"run": run_id, "args": vars(a), "correct": correct, "failures": failures,
              "residue": left, "probe_start_s": result["probe_start_s"],
              "probe_end_s": result["probe_end_s"], "wall_s": time.time() - start,
              "metrics": metrics, "result": result}
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for msg in failures:
        log("perfbench: FAILED " + msg)
    log(f"perfbench: host probe {result['probe_start_s']:.3f}s -> {result['probe_end_s']:.3f}s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
