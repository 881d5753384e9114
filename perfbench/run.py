#!/usr/bin/env python3
"""graft benchmark launcher.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the product and the benchmark package from source (once per source
state, into .bench_build/), sizes the JVM to the host (heap from MemTotal,
cores from the CPU affinity mask), runs one workload in a fresh JVM with its
scratch under .bench_run/pid-<pid>/ (deleted at exit), and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The lines before it name every
workload-specific metric, with its unit, and every failed check.
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

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUTS = os.path.join(ROOT, ".bench_out")
HERE = os.path.join(ROOT, "perfbench")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 840.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every file the two builds read."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties")]
    files = [os.path.join(ROOT, t) for t in tops]
    for base in ("src/main", "perfbench/src", "project"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java", ".sbt"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        extra = "-Dsbt.offline=true -Xmx2g"
        if os.path.isfile(repos):
            extra = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + extra
        env["SBT_OPTS"] = (opts + " " + extra).strip()
    return env


def sbt_classpath(cwd, env, deadline):
    """`sbt package` + the runtime classpath, as a list of entries."""
    left = deadline - time.time()
    if left <= 0:
        die("build time limit reached", 3)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspath"],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=left, start_new_session=True)
    lines = p.stdout.splitlines()
    cps = [ln.strip() for ln in lines if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed in {cwd} (rc={p.returncode})", 3)
    return [e for e in cps[-1].split(os.pathsep) if e]


def build():
    """Build once per source state; returns the benchmark JVM classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "bench.cp")
    digest = sources_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    deadline = time.time() + BUILD_LIMIT_S
    env = sbt_env()
    product = sbt_classpath(ROOT, env, deadline)
    product_cp = os.path.join(BUILD, "product.cp")
    with open(product_cp, "w") as f:
        f.write(os.pathsep.join(product))
    env["PERFBENCH_PRODUCT_CP"] = product_cp
    bench = sbt_classpath(HERE, env, deadline)
    cp = os.pathsep.join(dict.fromkeys(bench + product))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def host_cores():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def heap_mb():
    """An eighth of MemTotal, between 1 and 4 GiB: the rest stays free for
    the page cache holding the staged inputs and for other processes."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    total_kb = int(ln.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 1024 // 8))


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_dead_runs():
    if not os.path.isdir(RUNS):
        return
    for d in os.listdir(RUNS):
        if d.startswith("pid-") and d[4:].isdigit() and not pid_alive(int(d[4:])):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a graft checkout ({need} is missing)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    build_s = time.time() - t_start
    cores = host_cores()
    heap = heap_mb()

    sweep_dead_runs()
    scratch = os.path.join(RUNS, f"pid-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result_file = os.path.join(scratch, "result.json")
    log_file = os.path.join(scratch, "jvm.log")
    cmd = ["java", f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scratch", scratch,
            "--cores", str(cores), "--result", result_file]

    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        with open(log_file, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    start_new_session=True)
            limit = max(30.0, RUN_LIMIT_S - (time.time() - t_start) + build_s)
            try:
                proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                stop()
                die(f"{a.workload}: the JVM did not finish within {limit:.0f} s", 4)
        os.makedirs(OUTS, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(log_file, os.path.join(OUTS, f"{tag}.log"))
        if not os.path.isfile(result_file):
            sys.stderr.write(open(log_file, errors="replace").read()[-4000:])
            die(f"{a.workload}: the JVM exited with {proc.returncode} and no result", 5)
        res = json.load(open(result_file))
        shutil.copy(result_file, os.path.join(OUTS, f"{tag}.json"))
        if a.trace and os.path.isfile(result_file + ".spans.json"):
            shutil.copy(result_file + ".spans.json", os.path.join(OUTS, f"{tag}-spans.json"))
    finally:
        stop()

    source = res["layers"] if a.trace else res["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in source:
            v = source[m["name"]]["value"]
        elif a.trace:
            v = 0.0  # the layer is not on this workload's path
        else:
            v = None
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    errors = res["errors"] + [f"metric {n} was not measured" for n in missing]
    failed = int(res["failed"]) + len(missing)
    attempted = max(1, int(res["attempted"]) + len(missing))

    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
                      "heap_mb": heap, "build_s": round(build_s, 3),
                      "failed_op_ratio": failed / attempted,
                      "workload_metrics": res["info"],
                      "errors": errors}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
