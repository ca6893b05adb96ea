#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --live-rows-per-s N --workload <name> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline) into `perfbench/target`; later runs
reuse the build while no source file changed. Everything a run writes
stays under `.bench_build/` in the repository root.

The last line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it holds the workload's own named metrics (and, traced, the detailed
per-layer ones). A traced run writes its spans to
`.bench_build/traces/<workload>-seed<n>.json`.

Exit status is 0 only when every output checked out correct; it is 3,
with no result printed, when the live generator fell behind its schedule.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# exit status of a live run whose generator fell behind its schedule: the
# run did not offer the fixed rate, so it prints no result
LATE_EXIT = 3
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("repl_backlog", "repl_live_eo", "query_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run a child to completion or kill it at the deadline; never leaves it running."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out, err


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        fail("the engine sources (src/main/scala) are not next to perfbench/; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and "classes" in ln]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def run_jvm(args, extra, timeout):
    """Run perfbench.Main in a fresh work dir; return its result object."""
    cp = classpath()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = [java_bin()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work-dir", work, "--result", result,
        "--hashes", os.path.join(HERE, "expected_hashes.json"),
        "--live-rows-per-s", str(args.live_rows_per_s)] + extra
    try:
        code, _, _ = run_bounded(cmd, timeout, cwd=work, env=env, stdout=sys.stderr)
        if code == LATE_EXIT:
            print("[perfbench] run flagged: the generator ran late; no result", file=sys.stderr)
            sys.exit(LATE_EXIT)
        if code != 0 or not os.path.isfile(result):
            fail(f"workload {args.workload} exited {code} without a result")
        with open(result) as f:
            out = json.load(f)
        trace = os.path.join(work, "trace.json")
        if os.path.isfile(trace):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json"))
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--live-rows-per-s", required=True, type=int,
                   help="offered rate of repl_live_eo, fixed in BENCHMARK.json")
    return p.parse_args(argv)


def main(argv):
    args = parse(argv)
    out = run_jvm(args, [], RUN_TIMEOUT_S)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "named": out["named"], "layers": out["layers"]}, sort_keys=True))
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    return 0 if out["correct"] and out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
