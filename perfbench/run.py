#!/usr/bin/env python3
"""Runs one benchmark workload against graft and prints its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the
harness (sbt, offline) into perfbench/.work/build; later runs reuse the
build while the sources are unchanged. Each run generates its inputs
from --seed, computes the expected results with DuckDB outside the
timed window, runs the workload in a fresh JVM, checks every output,
and prints human-readable lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
sys.path.insert(0, HERE)

WORKLOADS = ("relational", "corpus", "stream_payments")
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
HEAP = "2g"
# input sizes: the timed inputs, and the smaller warm-up inputs
SIZES = {
    "relational": dict(lineitem=60000, events=10000, users=150, documents=200,
                       near_dup_share=0.05, vectors=100),
    "corpus": dict(lineitem=2000, events=1000, users=50, documents=1000,
                   near_dup_share=0.05, vectors=400),
}
WARM_SIZES = dict(lineitem=3000, events=1000, users=50, documents=200,
                  near_dup_share=0.05, vectors=100)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input to the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tmp_dir():
    """Scratch space for the JVMs, inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp_dir()} -Djna.tmpdir={tmp_dir()}"
                        " -XX:-UsePerfData")
    return env


def java_cmd(classpath, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A fixed heap size, so the collector never resizes it mid-run, and no
    # pre-touch. The parallel collector reuses one eden and fills the old
    # generation from the bottom, so peak RSS is a constant eden plus the
    # most old-generation and off-heap memory the run held at once.
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}",
             "-cp", classpath, "perfbench.Main", *args])


def build():
    """Compiles graft and the harness once per source state; returns
    (classpath, oracle export)."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    oracle_file = os.path.join(BUILD, "oracles.json")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), json.load(open(oracle_file))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip()
    r = subprocess.run(java_cmd(classpath, "--dump-oracles", oracle_file),
                       cwd=WORK, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, timeout=120)
    if r.returncode != 0:
        fail("oracle export failed: " + r.stderr.decode()[-2000:])
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, json.load(open(oracle_file))


def live_jvms():
    """Other Java processes on the host, by pid and main class."""
    me = os.getpid()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            continue
        if args and args[0].endswith(b"java"):
            main = next((a.decode(errors="replace") for a in args[1:]
                         if a and not a.startswith(b"-") and b"/" not in a
                         and b":" not in a), "?")
            out.append(f"{pid}:{main}")
    return out


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] / 100.0, v[4] / 100.0


def prepare_inputs(workload, seed, oracles):
    """Generates the run's inputs and expected results; returns the data
    dir, the warm-up dir and the expectations file."""
    base = os.path.join(WORK, "inputs")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "timed")
    warm = os.path.join(base, "warm")
    expected = os.path.join(base, "expected.tsv")
    lines = []
    if workload in SIZES:
        import gen
        import oracle
        gen.generate(data, seed, SIZES[workload])
        gen.generate(warm, seed * 1000 + 101, WARM_SIZES)
        names = [q for q in oracles["queries"][workload]
                 if q not in oracles["planted_checked"]]
        digests = oracle.expected_digests(data, oracles["oracle_sql"], names)
        lines += [f"digest\t{q}\t{d}" for q, d in sorted(digests.items())]
        with open(os.path.join(data, "planted_pairs.json")) as f:
            lines += [f"planted\t{a}\t{b}" for a, b in json.load(f)]
        lines.append(f"documents\t{SIZES[workload]['documents']}")
    else:
        for d in (data, warm):
            os.makedirs(d, exist_ok=True)
    with open(expected, "w") as f:
        f.write("\n".join(lines) + "\n")
    return data, warm, expected


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def result_line(spec, names, metrics, attempted, failed, failures):
    """The last stdout line. Metric names are checked against
    BENCHMARK.json; a missing or non-finite value is written as null and
    counted as a failed operation."""
    out = {}
    for m in spec:
        name = m["name"]
        if not NAME.match(name) or name not in names:
            raise ValueError(f"metric name {name!r} is not valid")
        v = metrics.get(name)
        if finite(v):
            out[name] = {"value": float(v), "unit": m["unit"]}
        else:
            out[name] = {"value": None, "unit": m["unit"]}
            failed += 1
            failures.append(f"metric {name} is {v!r}")
    return json.dumps({"correct": failed == 0, "attempted": max(1, int(attempted)),
                       "failed": int(failed), "metrics": out}, allow_nan=False)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the graft repository")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    names = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}

    # one run at a time per checkout: runs share the build and work dirs
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath, oracles = build()
    t_prep = time.monotonic()
    data, warm, expected = prepare_inputs(a.workload, a.seed, oracles)
    t_jvm = time.monotonic()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "result.json")
    cmd = java_cmd(classpath, "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--data", data, "--warm", warm, "--expected", expected,
                   "--out", out_file, "--work", run_dir)
    jvms_before = live_jvms()
    steal0, iowait0 = proc_stat()
    # the limit excludes the build, which only the first run in a checkout pays
    budget = RUN_LIMIT_S - (time.monotonic() - t_prep)
    log = os.path.join(run_dir, "jvm.log")
    # a terminated launcher must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            fail(f"workload exceeded {RUN_LIMIT_S} s; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    steal1, iowait1 = proc_stat()
    t_done = time.monotonic()
    if proc.returncode != 0 or not os.path.isfile(out_file):
        tail = open(log).read()[-3000:]
        fail(f"JVM exited with {proc.returncode}:\n{tail}")
    res = json.load(open(out_file))

    metrics = res["metrics"]
    not_applicable = [m["name"] for m in spec if a.trace and m["name"] not in metrics]
    for name in not_applicable:
        metrics[name] = 0.0
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    env = dict(res["env"], nproc=len(os.sched_getaffinity(0)),
               steal_run_s=round(steal1 - steal0, 2),
               iowait_run_s=round(iowait1 - iowait0, 2),
               other_jvms=jvms_before, master=f"local[{res['env'].get('cpus')}]")
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    print(f"run phases (s): build check {t_prep - t_start:.1f}, inputs and oracle "
          f"{t_jvm - t_prep:.1f}, JVM {t_done - t_jvm:.1f}")
    for line in res["report"]:
        print(line)
    if not_applicable:
        print("not measured on this workload (reported as 0): " + " ".join(not_applicable))
    shown = bench["end_to_end"] + bench["per_layer"] if a.trace else spec
    for m in shown:
        v = metrics.get(m["name"])
        print(f"{m['name']} {v} {m['unit']}")
    for name in sorted(set(metrics) - names):
        print(f"{name} {metrics[name]} (not in BENCHMARK.json)")
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    for d in os.listdir(run_dir):
        if os.path.isdir(os.path.join(run_dir, d)):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    line = result_line(spec, names, metrics, attempted, failed, failures)
    final = json.loads(line)
    print(f"error_rate {final['failed'] / final['attempted']:.6f} ratio "
          f"({final['failed']} of {final['attempted']})")
    for f in failures:
        print(f"FAILED {f}")
    print(line)


if __name__ == "__main__":
    main()
