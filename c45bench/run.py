#!/usr/bin/env python3
"""C4.5 engine benchmark: one workload, one seed, one run.

    python3 c45bench/run.py --workload deep_tree --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark
program from source with sbt (once per source change), generates the
workload's seeded parquet inputs, then runs the program, which prints a
detail line and, as the last line of stdout, the result JSON. Exits
non-zero when the engine sources are missing, the build fails, or any
engine call fails its output check.
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
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("deep_tree", "missing", "ensemble", "serve")
# one run, set-up included, must end well inside three minutes
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"c45bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every input of the build: both build definitions and all
    main sources of the engine and the benchmark."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """The program's runtime classpath, building first if any source
    changed since the last build."""
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)):
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export c45bench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
    sys.path.insert(0, HERE)
    import gen

    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    cp = build()

    # set-up is timed from here: inputs, JVM and session start, the
    # workload's own set-up and warm-up
    t0 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    rows = gen.generate(a.seed, a.workload, data)
    os.makedirs(os.path.join(run_dir, "tmp"))
    spans_dir = os.path.join(WORK, "spans")
    os.makedirs(spans_dir, exist_ok=True)

    cores = str(len(os.sched_getaffinity(0)))
    conf = {k: v.replace("{cores}", cores) for k, v in settings["conf"].items()}
    conf["spark.local.dir"] = os.path.join(run_dir, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    # a fixed, pre-touched heap: peak RSS is then the heap plus the JVM's
    # native memory (code cache, metaspace with generated classes, thread
    # stacks, direct buffers), not an artifact of when G1 grew the heap
    heap = settings["jvm_heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "c45bench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data,
              "--t0-ms", str(int(t0 * 1000)),
              "--rows", ",".join(f"{t}={n}" for t, n in rows.items())]
           + [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")])
    if a.seed == settings["default_seed"] and a.workload in settings["digests"]:
        cmd += ["--pin", settings["digests"][a.workload]]
    if a.trace:
        cmd += ["--spans", os.path.join(spans_dir, f"{a.workload}-{a.seed}.json")]

    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print("c45bench: run exceeded its time limit", file=sys.stderr)
        stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
