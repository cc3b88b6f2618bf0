#!/usr/bin/env python3
"""End-to-end benchmark of the graft loader: build, run one workload, print
the result JSON as the last stdout line.

    python3 e2ebench/run.py --workload warehouse_ops --seed 1 --seconds 10 --trace 0
    python3 e2ebench/run.py --self-test

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Everything the benchmark writes stays under
e2ebench/target/ and the repository's own target/ directories.
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
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench-build.stamp")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
START = time.monotonic()

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ["warehouse_ops", "curate_cycles"]


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(bench_files=None):
    """The program's sources and build files plus the benchmark's (all of
    them, or only `bench_files`)."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for d, _, fs in os.walk(os.path.join(ROOT, "src", "main")):
        files += [os.path.join(d, f) for f in fs]
    if bench_files is None:
        files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
        for d, _, fs in os.walk(os.path.join(BENCH, "src")):
            files += [os.path.join(d, f) for f in fs]
    else:
        files += [os.path.join(BENCH, f) for f in bench_files]
    return sorted(files)


def digest(files):
    h = hashlib.sha256(ROOT.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_key():
    return digest(source_files())


def cache_key():
    """What the cached starting states depend on: the program and the
    benchmark's generator and workload definitions."""
    scala = os.path.join("src", "main", "scala", "graftbench")
    return digest(source_files([os.path.join(scala, "Gen.scala"),
                                os.path.join(scala, "Workloads.scala")]))


def build(key, timeout):
    """Compile program + benchmark with sbt unless this source hash is built;
    True when it built."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == key:
                return False
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
            start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}", 3)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); see {log}", 3)
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if not cp:
        fail(f"build printed no classpath; see {log}", 3)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(key)
    return True


def java_cmd(args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # The root build's `run` options, except the collector: the parallel
    # collector with fixed generations instead of the default G1 with
    # -Xmx8g, which made runs slower and their timings and peak RSS
    # spread far beyond the bounds (figures in README.md). With a fixed
    # young generation, peak RSS follows old-generation and off-heap growth.
    return [java, "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g",
            "-Xmn768m", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"] + opens + \
        ["-cp", cp, "graftbench.Main"] + args


def run_java(args, work, timeout, capture=False):
    """Run the benchmark JVM; its temp files stay in `work`, removed after."""
    os.makedirs(work, exist_ok=True)
    cmd = java_cmd(args)
    cmd.insert(1, f"-Djava.io.tmpdir={work}")
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark timed out after {timeout:.0f} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    return p.returncode, (out.decode() if capture else None)


def prepare(key, timeout):
    """Part of the build: the starting states the workloads copy per run
    (the pre-filled warehouse, the bootstrapped corpus and ledger) are
    built once per source hash by the program under test."""
    work = os.path.join(TARGET, "work", f"prepare-{os.getpid()}")
    code, _ = run_java(["--prepare-only", "--work", work,
                        "--cache", os.path.join(TARGET, "cache"), "--cache-key", key],
                       work, timeout)
    if code != 0:
        fail(f"building the cached starting states failed (exit {code})", 3)


def workload_args(ns, key, work):
    return ["--workload", ns.workload, "--seed", str(ns.seed), "--seconds", str(ns.seconds),
            "--trace", str(ns.trace), "--work", work,
            "--cache", os.path.join(TARGET, "cache"), "--cache-key", key,
            "--trace-out", os.path.join(TARGET, "traces", f"{ns.workload}-seed{ns.seed}.jsonl")]


def self_test(key):
    """Tiny-size checks of the benchmark itself; exits nonzero on failure."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []

    def tree(d):
        out = {}
        for base, _, fs in os.walk(d):
            for f in fs:
                p = os.path.join(base, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    # 1. the generator is deterministic (and the seed matters)
    trees = []
    for i, seed in enumerate((7, 7, 8)):
        work = os.path.join(TARGET, "selftest", f"gen{i}")
        shutil.rmtree(work, ignore_errors=True)
        for wl in WORKLOADS:
            d = os.path.join(work, wl)
            code, _ = run_java(["--workload", wl, "--seed", str(seed), "--scale", "tiny",
                                "--work", d, "--generate-only"], d + ".tmp", 300)
            if code != 0:
                problems.append(f"generator failed for {wl}")
        trees.append({k: v for k, v in tree(work).items() if "/inputs/" in k})
    if not trees[0] or trees[0] != trees[1]:
        problems.append("generator: equal seeds gave different files")
    if trees[0] == trees[2]:
        problems.append("generator: different seeds gave identical files")
    print(f"generator: {len(trees[0])} files, deterministic", file=sys.stderr)

    # 2. every metric of BENCHMARK.json is printed with its unit
    for wl in [w["name"] for w in spec["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            work = os.path.join(TARGET, "selftest", f"{wl}-{trace}")
            args = ["--workload", wl, "--seed", "3", "--seconds", "1", "--trace", str(trace),
                    "--work", work, "--cache", os.path.join(TARGET, "selftest", "cache"),
                    "--cache-key", key, "--scale", "tiny"]
            code, out = run_java(args, work, 300, capture=True)
            res = json.loads(out.strip().splitlines()[-1])
            if code != 0 or res["failed"] != 0:
                problems.append(f"{wl} trace={trace}: exit {code}, failed {res['failed']}")
            for m in spec[group]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{wl} trace={trace}: metric {m['name']} missing or wrong unit")
            extra = set(res["metrics"]) - {m["name"] for m in spec[group]}
            if extra:
                problems.append(f"{wl} trace={trace}: unexpected metrics {sorted(extra)}")
            print(f"{wl} trace={trace}: {len(res['metrics'])} metrics ok", file=sys.stderr)

    # 3. a damaged output (the moved study's fact partition removed after
    #    the warm-up move) is counted as failed
    work = os.path.join(TARGET, "selftest", "damage")
    code, out = run_java(["--workload", "warehouse_ops", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--work", work,
                          "--cache", os.path.join(TARGET, "selftest", "cache"),
                          "--cache-key", key, "--scale", "tiny", "--damage"],
                         work, 300, capture=True)
    res = json.loads(out.strip().splitlines()[-1])
    if code == 0 or res["failed"] < 1 or res["metrics"]["ok_ratio"]["value"] >= 1.0:
        problems.append(f"damaged output not detected: exit {code}, result {res}")
    else:
        print(f"damage: detected ({res['failed']}/{res['attempted']} failed, exit {code})",
              file=sys.stderr)
    shutil.rmtree(os.path.join(TARGET, "selftest"), ignore_errors=True)
    for p in problems:
        print(f"SELF-TEST FAIL: {p}", file=sys.stderr)
    print("self-test: " + ("FAILED" if problems else "passed"), file=sys.stderr)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ns = ap.parse_args()
    if not ns.self_test and not ns.workload:
        ap.error("--workload is required")
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "GraftCli.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from a full checkout of the repository")
    key = build_key()
    built = build(key, timeout=600)
    if built:
        prepare(cache_key(), timeout=880 - (time.monotonic() - START) - 200)
    if ns.self_test:
        sys.exit(self_test(cache_key()))
    # a run gets 175 s in all; the run that builds gets 880 s
    budget = (880.0 if built else 175.0) - (time.monotonic() - START)
    work = os.path.join(TARGET, "work", f"{ns.workload}-{os.getpid()}")
    code, _ = run_java(workload_args(ns, cache_key(), work), work, budget)
    sys.exit(code)


if __name__ == "__main__":
    main()
