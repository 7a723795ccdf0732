#!/usr/bin/env python3
"""Seeded, self-checking benchmark of the log2sqlspark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

The first run builds the engine and the benchmark from source with sbt
(`perfbench/build.sbt`) and caches the classpath under `.bench_build/`
keyed by a hash of the sources; later runs start the JVM directly. Each
run generates its inputs from `--seed` under `.bench_work/`, measures for
`--seconds`, checks every output against what the generator planted, and
prints one JSON result as the last line of standard output. `--trace 1`
reports the per-layer breakdown instead of the end-to-end metrics.
Results with their self-description also land in `.bench_results/`.
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
WORKLOADS = ["cdc", "corpus_llm"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The repository build's `run` JVM options (build.sbt), heap aside.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_sha():
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    of its own (the source hash identifies the code either way)."""
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_group(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group, capturing stdout; kills the
    group on timeout (code None) and any stray children afterwards."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, env=env,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        code = p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        code = None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return code, out


def build(sha):
    """Compiles engine + benchmark once per source hash; returns the classpath."""
    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    stamp = os.path.join(cache, "classpath-" + sha[:16] + ".txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(cache, exist_ok=True)
    print("perfbench: building engine and benchmark with sbt ...", file=sys.stderr)
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S)
    if code != 0 or not out:
        sys.stderr.write(out or "")
        fail("build failed", 3)
    cp = [l for l in out.splitlines() if l and not l.startswith("[")][-1].strip()
    with open(stamp + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(stamp + ".tmp", stamp)
    return cp


def heap():
    """Half the machine's memory in GiB, between 2 and 8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_one(workload, seed, seconds, trace, keep=False):
    """Runs one workload; returns (result dict or None, stdout lines)."""
    sha = source_sha()
    cp = build(sha)
    work = os.path.join(ROOT, ".bench_work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(ROOT, ".bench_results")
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        f"-Xmx{heap()}",
        "-XX:+UseParallelGC",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        # keep every file the run writes inside its work directory
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--results", results,
        "--git-sha", git_sha(), "--source-sha", sha,
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        code, out = run_group(jvm, work, RUN_TIMEOUT_S, env)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").splitlines()
    if code != 0 or not lines:
        return None, lines
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None, lines
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None, lines
    return res, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help=" | ".join(WORKLOADS + ["all"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a checkout", 2)
    if a.workload != "all" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)
    if a.workload != "all":
        res, lines = run_one(a.workload, a.seed, a.seconds, a.trace, a.keep)
        if res is None:
            sys.stdout.write("\n".join(lines[-20:]) + "\n")
            fail(f"{a.workload}: the run produced no result", 1)
        print("\n".join(lines))
        return
    # every workload, one after another, with a summary; nonzero on any
    # failed check
    bad = []
    for w in WORKLOADS:
        res, lines = run_one(w, a.seed, a.seconds, a.trace, a.keep)
        print(f"== {w}")
        for l in lines:
            if l.startswith("# ") and not l.startswith("# info "):
                print("  " + l[2:])
        if res is None:
            bad.append(w)
            print("  no result")
            continue
        for k, v in res["metrics"].items():
            print(f"  {k:<32} {v['value']} {v['unit']}")
        print(f"  correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        if not res["correct"] or res["failed"]:
            bad.append(w)
    if bad:
        fail("failed: " + ", ".join(bad), 1)


if __name__ == "__main__":
    main()
