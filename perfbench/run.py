#!/usr/bin/env python3
"""graft's benchmark: runs one workload for a fixed time and prints its
metrics.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft and the
harness (sbt, offline) into the build tree; later runs reuse the build
while the sources are unchanged. Every run reads the same fixed tables
(`perfbench/data/`); the seed picks the keys and ingest batches. A run
starts one JVM that sets graft up and then repeats the workload's
op list: a cold pass, then warm passes until `--seconds` have passed
and at least `workloads.WARM_PASSES` warm passes are done. It checks
every op's output against an independent computation, and prints one
line per metric, then one JSON object as the last line of stdout.
`--trace 1` adds spans, a Spark listener and job groups, and reports the
per-layer metrics instead of the end-to-end ones. The exit code is 0
only when every op succeeded and every output matched.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
# the fixed TPC-H-like tables every run reads: a copy of the sf0.01 set
DATA = os.path.join("perfbench", "data", "sf0.01")
RUN_BUDGET_S = 176.0  # the whole run, excluding a first-time build
BUILD_BUDGET_S = 400.0  # each of the sbt build and the archive run
ARCHIVE = "graft.jsa"
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(root: str) -> list:
    """Compiles graft plus the harness with sbt and returns the runtime
    classpath; reuses the previous build while the sources match."""
    stamp = os.path.join(root, BUILD_DIR, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest and all(
                os.path.exists(p) for p in built["cp"][:2] + [
                    os.path.join(root, BUILD_DIR, ARCHIVE)]):
            return built["cp"]
        os.remove(stamp)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building graft and the harness (sbt)", file=sys.stderr)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_BUDGET_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip().split(os.pathsep)
    train(root, cp)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "cp": cp}, f)
    return cp


def train(root: str, cp: list) -> None:
    """Runs every workload's ops once in one JVM that writes a class-data
    archive of all the classes it loaded (AppCDS). Timed runs map the
    archive, which takes most of the class loading out of session start;
    every run of a checkout, and every checkout, starts the same way."""
    print("perfbench: writing the class-data archive", file=sys.stderr)
    archive = os.path.join(root, BUILD_DIR, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    data = os.path.join(root, DATA)
    run_dir = os.path.join(root, BUILD_DIR, "runs", "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ops_path = os.path.join(run_dir, "ops.tsv")
    workloads.write_ops(ops_path, [o for w in workloads.WORKLOADS
                                   for o in workloads.MAKERS[w](0, data, run_dir)])
    run_jvm(cp, ["--workload", "train", "--data", data, "--ingest", run_dir,
                 "--ops", ops_path,
                 "--out", os.path.join(run_dir, "out"), "--seed", "0",
                 "--seconds", "0", "--warm", "0", "--trace", "0",
                 "--cpus", str(len(os.sched_getaffinity(0)))],
            run_dir, BUILD_BUDGET_S, [f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(archive):
        fail("the class-data archive was not written")


def run_jvm(cp, args, run_dir, timeout_s, jvm_flags=()):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else shutil.which("java")
    cmd = [java, f"-Xmx{JVM_HEAP}", *jvm_flags,
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", os.pathsep.join(cp), "graft.perfbench.Main", *args]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {timeout_s:.0f} s", 3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the JVM exited with {code}", 3)


def check(rf, ops, data, ingest):
    """Marks every failed sample; returns {op id: reason} for mismatches."""
    orc = oracle.Oracle(data, ingest, rf.summary["graph_cte"],
                        rf.summary["oracle_sql"])
    mismatched = {}
    by_id = {o[0]: o for o in ops}
    for op_id, got in rf.results.items():
        _, kind, _, _, _, args = by_id[op_id]
        try:
            cols, rows = orc.expected(kind, args)
            reason = oracle.compare(got, cols, rows)
        except Exception as e:  # the oracle itself failed: not a pass
            reason = f"oracle error {type(e).__name__}: {e}"
        if reason:
            mismatched[op_id] = reason
    ran = {s["op"] for s in rf.samples}
    due = [o[0] for o in ops if o[4] == "" or int(o[4]) < len(rf.passes)]
    for op_id in due:
        if op_id not in ran:
            mismatched[op_id] = "never ran"
    for s in rf.samples:
        if s["op"] in mismatched:
            s["ok"] = False
    return mismatched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/ missing)")
    cp = ensure_build(root)
    t0 = time.time()

    data = os.path.join(root, DATA)
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ops = workloads.MAKERS[a.workload](a.seed, data, run_dir)
    ops_path = os.path.join(run_dir, "ops.tsv")
    workloads.write_ops(ops_path, ops)
    out = os.path.join(run_dir, "out")
    cpus = len(os.sched_getaffinity(0))
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--ingest", run_dir,
                 "--ops", ops_path,
                 "--out", out, "--seed", str(a.seed),
                 "--seconds", str(a.seconds),
                 "--warm", str(workloads.WARM_PASSES[a.workload]),
                 "--trace", str(a.trace),
                 "--cpus", str(cpus)],
            run_dir, RUN_BUDGET_S - (time.time() - t0) - 8.0,
            [f"-XX:SharedArchiveFile={os.path.join(root, BUILD_DIR, ARCHIVE)}"])

    t_jvm = time.time()
    rf = report.RunFiles(out, ops)
    mismatched = check(rf, ops, data, run_dir)
    print(f"perfbench: inputs and JVM {t_jvm - t0:.1f} s, "
          f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
    failed = sum(1 for s in rf.samples if not s["ok"])
    attempted = len(rf.samples)
    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  "
          f"passes {len(rf.passes)}  ops {len(ops)}  trace {a.trace}")
    for s in rf.samples:
        if not s["ok"] and s["err"]:
            print(f"FAILED {s['op']} pass {s['pass']}: {s['err']}")
    for op_id, reason in sorted(mismatched.items()):
        print(f"MISMATCH {op_id}: {reason}")
    print(f"checks: {len(rf.results)} distinct results checked, "
          f"{len(mismatched)} mismatched; {failed} of {attempted} op runs failed")
    if a.trace:
        metrics = report.per_layer(rf)
        units = dict(report.PER_LAYER)
        for name, unit in report.PER_LAYER:
            print(f"{name} = {metrics[name]:.6g} {unit}")
    else:
        metrics, counts, shown = report.end_to_end(rf)
        units = dict(report.END_TO_END)
        for name, unit in report.END_TO_END:
            print(f"{name} = {metrics[name]:.6g} {unit}  ({counts[name]})")
        for name, text in shown.items():
            print(f"{name} = {text}")
    correct = failed == 0 and not mismatched
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
