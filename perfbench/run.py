#!/usr/bin/env python3
"""Builds the engine and the benchmark from source, then runs one workload.

    python3 perfbench/run.py --workload lake_ops --seed 7 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it
stamps host facts. See perfbench/README.md.

Other modes:
    --selftest           run the benchmark's own unit tests (sbt)
    --record             re-record perfbench/expected.tsv from this commit
    --overhead           run a workload untraced and traced, compare run_s
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_curate", "lake_ops", "stream_gates")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    out = []
    for top in ("src/main", "project/build.properties", "build.sbt",
                "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(*tasks, timeout=BUILD_TIMEOUT_S):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false", "-Xmx2g"])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt {' '.join(tasks)} failed ({p.returncode})")
    return p.stdout


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]
    if not all(os.path.exists(p) for p in needed):
        fail("engine sources not found next to perfbench/ (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = digest(source_files())
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    out = sbt("perfbench/compile", "export perfbench/Runtime/fullClasspath")
    lines = [l for l in out.splitlines() if "scala-library" in l and not l.startswith("[")]
    if not lines:
        fail("could not read the benchmark classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip(), stamp


def tree_files():
    """sha256 per repository file, outside build and run output."""
    skip = {".bench_build", ".git", ".bsp", ".metals", ".bloop", "target"}
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in skip
                   and not (x == "project" and os.path.basename(d) == "project")]
        for f in files:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, ROOT)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for a traced or untraced run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cp, stamp, workload, seed, seconds, trace, extra=()):
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    before_du = du(runs)
    before_tree = tree_files()
    root = os.path.join(runs, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    out = os.path.join(BUILD, f"result-{os.getpid()}.json")
    spans = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")
    # C1 only: a run's JVM lives about a minute, too short for C2 to settle.
    # Under tiered C2 every pass ran faster than the last, so a run that got
    # fewer passes on a slow host reported colder figures; C1 reaches its
    # steady state within the warm-up pass.
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--root", root,
           "--data", os.path.join(HERE, "data", "sf0.01"),
           "--expected", os.path.join(HERE, "expected.tsv"),
           "--trace-out", spans, "--out", out, "--source", stamp[:16],
           "--jvm-t0-ms", str(int(time.time() * 1000)), *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(root, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM exited with {code}")
    with open(out) as f:
        facts, result = [json.loads(l) for l in f.read().splitlines() if l.strip()]
    os.remove(out)
    # the metrics are exactly the ones BENCHMARK.json declares for this mode
    declared = declared_metrics(trace)
    if declared is not None and set(result["metrics"]) != declared:
        log(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ declared)}")
        result["correct"] = False
    # isolation: the roots are gone and no repository file changed
    leaked = du(runs) - before_du
    after_tree = tree_files()
    changed = sorted(k for k in set(before_tree) | set(after_tree)
                     if before_tree.get(k) != after_tree.get(k))
    if leaked != 0 or changed:
        log(f"isolation broken: {leaked} bytes left under run roots, changed files: {changed[:10]}")
        result["correct"] = False
    return facts, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    os.chdir(ROOT)
    cp, stamp = build()
    if a.selftest:
        sys.stderr.write(sbt("perfbench/test"))
        return
    if a.record:
        root = os.path.join(BUILD, "runs", f"record-{os.getpid()}")
        os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
        try:
            subprocess.run(["java", "-Xmx3g",
                            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
                            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", "-cp", cp,
                            "perfbench.Main", "--mode", "record", "--root", root,
                            "--data", os.path.join(HERE, "data", "sf0.01"),
                            "--expected", os.path.join(HERE, "expected.tsv")],
                           check=True, stdout=sys.stderr)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return
    if a.workload is None:
        ap.error("--workload is required")
    if a.overhead:
        plain = run_jvm(cp, stamp, a.workload, a.seed, a.seconds, False)[1]
        traced = run_jvm(cp, stamp, a.workload, a.seed, a.seconds, True)[1]
        r0 = plain["metrics"]["run_s"]["value"]
        r1 = traced["metrics"]["trace.run_s"]["value"]
        print(json.dumps({"workload": a.workload, "run_s": r0, "traced_run_s": r1,
                          "overhead_frac": r1 / r0 - 1}))
        return
    facts, result = run_jvm(cp, stamp, a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(facts))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
