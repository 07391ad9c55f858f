#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one JVM.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library with its own
sbt build (the parent of this directory) plus the harness in bench/src. Every
run generates the seeded inputs (datagen.py), then starts one JVM that sets up
a local Spark session and measures the workload. Everything the run writes
goes under bench/.work. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans are written to
bench/.work/trace/. The exit code is non-zero if a correctness check fails,
an operation fails, or the run cannot start.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = len(os.sched_getaffinity(0))  # local[nproc]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Inputs per workload: scale factor, tables, and replayed days after the
# backfill (daily_batch only). market_analytics runs by hand only: it is not
# in BENCHMARK.json, whose run-time budget holds two workloads.
WORKLOADS = {
    "daily_batch": dict(sf=0.05, tables=["customer", "orders"], daily_days=2),
    "market_analytics": dict(sf=0.002, tables=["region", "nation", "customer", "orders",
                                               "lineitem", "events"]),
    "staged_reuse": dict(sf=0.002, tables=["customer", "part", "orders", "lineitem",
                                           "embeddings"]),
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness with sbt, offline, and return the
    runtime classpath the build resolves."""
    stamp = os.path.join(WORK, "build.stamp")
    classpath = os.path.join(WORK, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(classpath) and open(stamp).read() == want:
        cp = open(classpath).read()
        if all(os.path.isdir(d) for d in cp.split(os.pathsep)[:2]):
            return cp
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
           f"-J-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export bench/Runtime/fullClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    lines = [line.strip() for line in r.stdout.splitlines() if line.strip()]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(classpath, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(want)
    return lines[-1]


def jvm_args(classpath):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    args = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}", "-cp", classpath]
    for o in opens:
        args += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return args


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit(f"no library build at {ROOT}; run from a checkout of the repository")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    classpath = build()

    w = WORKLOADS[a.workload]
    # Inputs are cached per seed, keyed also on the generator and its
    # parameters, so a changed workload never reads inputs made for another.
    with open(datagen.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(sorted(w.items())).encode()).hexdigest()[:12]
    data = os.path.join(WORK, "data", f"{a.workload}-seed{a.seed}-{key}")
    datagen.generate(data, a.seed, w["sf"], w["tables"], w.get("daily_days", 0))

    run_dir = os.path.join(WORK, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    cmd = jvm_args(classpath) + ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--work", WORK, "--cores", str(CORES)]
    launch_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit("run timed out")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("BENCH_RESULT "):
            result = json.loads(line[len("BENCH_RESULT "):])
        elif line.startswith("#"):
            print(line)
    if proc.returncode != 0 or result is None:
        log(err[-6000:])
        raise SystemExit(f"run failed (exit {proc.returncode})")

    # Set-up: JVM launch to session ready, plus the table warm-up.
    setup_s = (result["session_ready_ms"] - launch_ms) / 1000 + result["warmup_s"]
    measured = {m["name"]: (m["value"], m["unit"]) for m in result["end_to_end"] + result["per_layer"]}
    measured["setup_s"] = (setup_s, "s")
    for name, (value, unit) in sorted(measured.items()):
        print(f"# metric {name} = {value:.6g} {unit}")
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]][0], "unit": m["unit"]} for m in wanted}
    correct = bool(result["correct"]) and result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
