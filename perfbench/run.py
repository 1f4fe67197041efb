#!/usr/bin/env python3
"""Repository benchmark: extract / table workloads on up to 4 cores.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

--workload  extract | table | all (all runs both in one JVM)
--seed      input seed; the same seed gives the same inputs
--seconds   how long each workload measures
--trace     0: end-to-end metrics, tracing off; 1: per-layer metrics from a
            traced run (spans are written to .perfbench/spans-*.jsonl)
--smoke     tiny inputs (the benchmark's own tests)
--inject-failure W   make workload W fail after set-up (own tests)

The script builds the program and the harness from source with sbt (once per
checkout, offline), launches one JVM with pinned heap/GC settings, runs the
DuckDB oracle check of the sampled queries, prints every measurement by
name, and ends stdout with one JSON line:
{"correct", "attempted", "failed", "metrics"}. perfbench/DESIGN.md has the
workloads, metrics and predictions.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("extract", "table")
# program-read A/B switches: set, they would change the measured code path
REFUSED_ENV = ("SPARK_GRAFT_SLIM_SPANS", "SPARK_GRAFT_CC_DEBUG")
DEADLINE_S = 150
BUILD_DEADLINE_S = 650
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    """Newest modification time among the inputs of the build."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build(deadline):
    """Compiles program + harness with sbt unless the classpath is current.
    Returns True when it built."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
            return False
        log("building program and harness with sbt (offline)")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, env, deadline - time.time())
        if rc != 0 or not os.path.exists(CLASSPATH):
            raise SystemExit(f"[perfbench] build failed (sbt exit {rc})")
        os.utime(CLASSPATH)
        return True


def run_group(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; output goes to stderr. The whole
    group is killed on timeout, and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        log(f"timeout: killing {cmd[0]}")
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def heap_mb():
    """A quarter of the host's memory, clamped to [2, 4] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(4096, kb // 4 // 1024))


def jvm_options(work):
    heap = heap_mb()
    opts = [f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 2}m", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={min(4, os.cpu_count() or 4)}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.level=warn"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def child_env():
    """The JVM's environment: no SPARK_* / JVM option variables leak in."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_GRAFT_GOLDEN_DIR"] = os.path.join(ROOT, "src", "test", "resources", "golden")
    return env


def oracle_check(oracle_out):
    """DuckDB oracle comparison of the sampled queries' results with the
    repository's own checker. Returns (checked, failed names)."""
    tool = os.path.join(ROOT, "tools", "local_oracle_check.py")
    sql = os.path.join(oracle_out, "oracle_sql.json")
    if not os.path.exists(sql):
        return 0, ["no query results to check"]
    names = sorted(read_json(sql))
    if not os.path.exists(tool):
        return len(names), ["oracle checker missing"]
    try:
        p = subprocess.run([sys.executable, tool, oracle_out, DATA], capture_output=True,
                           text=True, timeout=25)
    except subprocess.TimeoutExpired:
        return len(names), ["oracle check timed out"]
    sys.stderr.write(p.stdout)
    status = {}
    for line in p.stdout.splitlines():
        name, _, rest = line.partition(":")
        if name in names:
            status[name] = rest.strip().startswith("OK")
    return len(names), [n for n in names if not status.get(n, False)]


def read_json(path):
    with open(path) as f:
        return json.load(f)


def declared():
    spec = read_json(os.path.join(ROOT, "BENCHMARK.json"))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def fmt(v):
    return json.dumps(v) if not isinstance(v, float) else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--inject-failure", choices=WORKLOADS)
    a = ap.parse_args()
    t0 = time.time()
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        log(f"refusing to run: {', '.join(refused)} would change the measured code path")
        return 2
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"missing {need}: run from a checkout of the repository")
            return 1
    e2e_units, layer_units = declared()
    # a run that had to build gets its full run time after the build
    start = time.time() if build(t0 + BUILD_DEADLINE_S) else t0

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}-{int(t0)}")
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(OUT, f"result-{tag}.json")
    oracle_out = os.path.join(work, "oracle")
    try:
        if os.path.exists(result_file):
            os.remove(result_file)
        with open(CLASSPATH) as f:
            classpath = f.read().strip()
        cmd = (["java"] + jvm_options(work) + ["-cp", classpath,
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", os.path.join(work, "run"), "--data", DATA,
               "--oracle-out", oracle_out, "--result", result_file,
               "--spans", os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.jsonl"),
               "--smoke", "1" if a.smoke else "0"])
        if a.inject_failure:
            cmd += ["--inject-failure", a.inject_failure]
        # --workload all runs both workloads back to back (own tests, by hand)
        budget = DEADLINE_S if a.workload != "all" else 2 * DEADLINE_S
        rc = run_group(cmd, ROOT, child_env(), start + budget - time.time())
        if not os.path.exists(result_file):
            log(f"the JVM wrote no result (exit {rc})")
            return 1
        res = read_json(result_file)
        wl = res["workloads"]
        if "table" in wl and wl["table"]["status"] == "ok":
            checked, bad = oracle_check(oracle_out)
            wl["table"]["attempted"] += checked
            wl["table"]["failed"] += len(bad)
            wl["table"]["failures"] += [f"oracle mismatch: {n}" for n in bad]
            wl["table"]["detail"]["oracle_checked"] = checked
        with open(result_file, "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # report: every measurement by name, then the contract line
    units = layer_units if a.trace else e2e_units
    metrics, correct, attempted, failed = {}, True, 0, 0
    for name, w in wl.items():
        print(f"== {name}: {w['status']}, {w['failed']} failed of {w['attempted']} checked")
        for msg in w["failures"]:
            print(f"   failure: {msg}")
        for group in ("e2e", "layers", "detail"):
            for k, v in w[group].items():
                print(f"   {group}.{k} = {fmt(v)}" + (f" {units[k]}" if k in units else ""))
        prefix = "" if a.workload != "all" else f"{name}."
        got = w["layers"] if a.trace else w["e2e"]
        missing = [m for m in units if m not in got]
        for m in units:
            if m in got:
                metrics[prefix + m] = {"value": got[m], "unit": units[m]}
        ok = w["status"] == "ok" and w["failed"] == 0 and not missing
        if missing and w["status"] == "ok":
            print(f"   missing metrics: {missing}")
        correct = correct and ok
        attempted += max(1, w["attempted"])
        failed += w["failed"] if w["failed"] or w["status"] == "ok" else 1
    print("   env = " + json.dumps(res["env"]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
