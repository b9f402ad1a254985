#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

  python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      Build if the sources changed, run one workload, print its JSON result
      as the last line of standard output.
  python3 kgbench/run.py selftest
      Check the benchmark's own helpers and that BENCHMARK.json lists the
      metrics the benchmark prints.
  python3 kgbench/run.py compare <dir-a> <dir-b>
      Per (metric, workload): each side's median, quartiles and spread, and
      whether the two sides agree within the benchmark's bound.

Build output, run records and scratch data live under .bench_build/.
"""
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "kgbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
# Fixed heap and young generation: the heap never resizes, so peak_rss_mb
# tracks what the program retains instead of the collector's sizing choices.
HEAP = ["-Xms5g", "-Xmx5g", "-Xmn1g"]
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
WORKLOADS = ("ingest_full", "serve", "corpus_dedup")


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the first Spark install whose bin/ is on PATH."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        for d in os.environ.get("PATH", "").split(os.pathsep)]
    for c in candidates:
        home = os.path.dirname(c) if os.path.basename(c) == "bin" else c
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    fail("no Spark install found: set SPARK_HOME or put Spark's bin/ on PATH")


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join(BENCH_DIR, "build.sh")]


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    sha = source_sha()
    stamp = os.path.join(CLASSES, ".source_sha")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    print(f"run.py: building ({len(source_files())} files)", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(BENCH_DIR, "build.sh"), BUILD], cwd=ROOT,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        fail("build failed", r.returncode or 1)
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    print(f"run.py: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return sha


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def java_cmd(main, args, work):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    return (["java"] + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"] + opens +
            ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars')}/*", main] + args)


def run_java(cmd, env):
    """Run to completion (or kill at the timeout) and always reap it."""
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"timed out after {RUN_TIMEOUT_S} s", 3)
    return p.returncode, out


def run_once(workload, seed, seconds, trace, record=None):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    sha = ensure_built()
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if record is None:
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        record = os.path.join(runs, f"{workload}-s{seed}-t{trace}-{int(time.time() * 1000)}.json")
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_VERBOSE"}
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the checkout
    env.update(SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               GRAFTBENCH_CPUS=str(len(os.sched_getaffinity(0))),
               GRAFTBENCH_COMMIT=git_commit(), GRAFTBENCH_SOURCE_SHA=sha)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--record", record]
    try:
        code, out = run_java(java_cmd("graftbench.Main", args, work), env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}", code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    if not result["correct"]:
        print(f"run.py: OUTPUT CHECK FAILED ({result['failed']} of {result['attempted']} "
              f"operations); see {record}", file=sys.stderr)
    print(lines[-1])


def selftest():
    # compare's pooled serve tail: highest percentile with >= 10 samples beyond
    cases = [(range(1, 101), (90.0, 90)), (range(1, 21), (50.0, 10)),
             (range(1, 20), None), (range(1, 1001), (99.0, 990))]
    bad = [(len(xs), tail(list(xs)), want) for xs, want in cases if tail(list(xs)) != want]
    if bad:
        fail(f"pooled tail rule: (samples, got, want) {bad}", 1)
    ensure_built()
    env = dict(os.environ)
    code, out = run_java(java_cmd("graftbench.SelfTest",
                                  [os.path.join(ROOT, "BENCHMARK.json")], BUILD), env)
    print(out, end="")
    sys.exit(code)


def load_runs(d):
    runs = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                rec = json.load(fh)
            runs.append(rec)
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(samples, beyond=10):
    """Highest ladder percentile with >= `beyond` samples above it (nearest rank)."""
    s = sorted(samples)
    n = len(s)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        rank = max(1, math.ceil(p * n / 100 - 1e-9))
        if n - rank >= beyond:
            return p, s[rank - 1]
    return None


def compare(dir_a, dir_b):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sides = [load_runs(dir_a), load_runs(dir_b)]

    def values(runs, workload, name, trace="0"):
        return [r["result"]["metrics"][name]["value"] for r in runs
                if r["context"]["workload"] == workload and str(r["context"]["trace"]) == trace
                and name in r["result"]["metrics"]]

    workloads = sorted({r["context"]["workload"] for side in sides for r in side})
    print(f"{'workload':13} {'metric':15} {'n':>3} {'median A':>12} {'q1..q3 A':>23} {'spread A':>8}"
          f" {'median B':>12} {'spread B':>8} {'B/A-1':>7} {'bound':>5}  verdict")
    all_ok = True
    for w in workloads:
        for name, m in metrics.items():
            va, vb = values(sides[0], w, name), values(sides[1], w, name)
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
            worse = (qb[1] - qa[1]) / qa[1] if m["better"] == "lower" else (qa[1] - qb[1]) / qa[1]
            spread_ok = spread_a <= m["bound"] and spread_b <= m["bound"]
            ok = spread_ok and worse <= m["bound"]
            all_ok &= ok
            print(f"{w:13} {name:15} {len(va):>3} {qa[1]:>12.4f} {qa[0]:>11.4f}..{qa[2]:<11.4f}"
                  f" {spread_a:>8.4f} {qb[1]:>12.4f} {spread_b:>8.4f} {qb[1] / qa[1] - 1:>+7.3f}"
                  f" {m['bound']:>5}  {'agree' if ok else 'DIFFER'}")
    for label, runs in zip(("A", "B"), sides):
        for w in workloads:
            traced = [r["result"]["metrics"]["trace.op_p50_ms"]["value"] for r in runs
                      if r["context"]["workload"] == w and str(r["context"]["trace"]) == "1"]
            plain = values(runs, w, "op_p50_ms")
            if traced and plain:
                print(f"{label} {w}: tracing overhead on op_p50_ms = "
                      f"{statistics.median(traced) - statistics.median(plain):+.1f} ms "
                      f"(traced {statistics.median(traced):.1f}, untraced {statistics.median(plain):.1f})")
        pooled = [x for r in runs if r["context"]["workload"] == "serve" and str(r["context"]["trace"]) == "0"
                  for x in r.get("samples", {}).get("query_s", [])]
        t = tail(pooled)
        if t:
            print(f"{label} serve: pooled query tail p{t[0]:g} = {t[1] * 1000:.1f} ms over {len(pooled)} queries")
    sys.exit(0 if all_ok else 1)


def main(argv):
    if argv[:1] == ["selftest"]:
        return selftest()
    if argv[:1] == ["compare"] and len(argv) == 3:
        return compare(argv[1], argv[2])
    opts = dict(zip(argv[::2], argv[1::2]))
    try:
        run_once(opts["--workload"], int(opts["--seed"]), int(opts["--seconds"]),
                 int(opts["--trace"]), opts.get("--record"))
    except KeyError as e:
        fail(f"missing argument {e}; see the usage at the top of {__file__}")


if __name__ == "__main__":
    main(sys.argv[1:])
