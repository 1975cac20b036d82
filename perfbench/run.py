#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage, from the repository root:

  python3 perfbench/run.py --workload extract-uniform --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke                 # every workload, tiny, all checks
  python3 perfbench/run.py --test                  # the benchmark's own unit tests
  python3 perfbench/run.py --write-expectations    # regenerate query expectations

The engine (src/main) and the harness (perfbench/src/main) are compiled
together by perfbench/build.sbt into .bench_build/; the build is reused
while its sources are unchanged. Each run starts one JVM, which prints
human-readable lines, a `{"perfbench_record": ...}` line and, last, the
result object. Results are kept under .bench_build/results (smoke runs
under .bench_build/smoke); scratch data under .bench_build/work is
deleted when the run ends.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECT = os.path.join(BENCH, "expected", "queries_sf0.1.txt")
ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "ExtractJob.scala")
# BENCHMARK.json lists the first two; the others run the same code on the
# skewed corpus and on the whole query suite.
WORKLOADS = ["extract-uniform", "queries", "extract-skewed", "queries-all"]
JVM_TIMEOUT_S = 170
HEAP = ["-Xmx3g"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every build input, so a changed source forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(args, log_name, timeout):
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", log_name)
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                           cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                           timeout=timeout)
    with open(log) as f:
        return p.returncode, f.read()


def build():
    """Compile engine + harness unless the recorded build is current."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip(), digest
    t0 = time.time()
    code, log = sbt(["compile", "export Runtime/fullClasspath"], "build.log", 800)
    lines = [l.strip() for l in log.splitlines() if ".bench_build" in l and "classes" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(log[-4000:])
        die("build failed (log: .bench_build/logs/build.log)")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, digest


def source_rev(digest):
    head = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip() or "none"
        except (OSError, subprocess.SubprocessError):
            pass
    return f"git:{head} src:{digest[:16]}"


def java_cmd(cp, main_args, tag):
    tmp = os.path.join(BUILD, "work", tag, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java"] + opens + HEAP + ["-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
                               "-cp", cp, "perfbench.Main"] + main_args


def run_jvm(cmd, log_name):
    """Run the benchmark JVM; stdout is passed through, stderr goes to a log.
    Returns (exit code, stdout lines)."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark scratch inside the checkout
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", log_name)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log})", 3)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.splitlines()


def run_workload(cp, digest, workload, seed, seconds, trace, smoke):
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "smoke" if smoke else "results")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--results", results,
            "--data", DATA, "--expect", EXPECT, "--source-rev", source_rev(digest)]
    if smoke:
        args.append("--smoke")
    try:
        code, lines = run_jvm(java_cmd(cp, args, tag), tag + ".log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, lines


def parse_result(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--write-expectations", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(ENGINE_MARKER):
        die("engine sources not found (expected src/main/scala/graft/...); "
            "run from a full checkout of the repository")
    if a.test:
        code, log = sbt(["test"], "test.log", 800)
        print("\n".join(l for l in log.splitlines()
                        if "Tests:" in l or "error" in l.lower() or "*** FAILED" in l))
        sys.exit(code)
    cp, digest = build()
    if a.write_expectations:
        tag = f"expectations-{os.getpid()}"
        work = os.path.join(BUILD, "work", tag)
        try:
            code, lines = run_jvm(java_cmd(cp, ["--write-expectations", "--data", DATA,
                                                "--expect", EXPECT, "--work", work], tag),
                                  tag + ".log")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        sys.exit(code)
    if a.smoke:
        bad = []
        for w in WORKLOADS:
            for trace in ((0, 1) if w != "queries-all" else (0,)):
                code, lines = run_workload(cp, digest, w, a.seed, 1, trace, True)
                r = parse_result(lines)
                ok = code == 0 and r is not None and r["correct"]
                print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'} "
                      f"({lines[-1] if lines else 'no output'})")
                if not ok:
                    bad.append(f"{w}/trace{trace}")
        if bad:
            die("smoke failures: " + ", ".join(bad), 1)
        return
    if a.workload is None:
        die("--workload is required")
    code, lines = run_workload(cp, digest, a.workload, a.seed, a.seconds, a.trace, False)
    r = parse_result(lines)
    if r is None:
        print("\n".join(lines[-20:]), file=sys.stderr)
        die(f"benchmark produced no result (exit {code}); see .bench_build/logs", code or 1)
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
