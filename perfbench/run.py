#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from the checkout's sources when they
changed (sbt, into perfbench/target; the classpath is cached under
.bench_build/), starts one JVM running `graftbench.Main` on a
`local[<cpus>]` session, and prints the run context, a detail line and, as
the last line, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's `end_to_end` ones, with
--trace 1 its `per_layer` ones. Exits non-zero, printing no result, when
the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_stream", "graph_bsp")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def sf_dir():
    """The query workloads' tables: GRAFT_BENCH_SF_DIR, else the sf0.1
    directory TESTDATA.md lists."""
    if "GRAFT_BENCH_SF_DIR" in os.environ:
        return os.environ["GRAFT_BENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"`([^`]*/sf0\.1)/?`", fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness unless the cached classpath matches."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if not l.startswith("[") and ":" in l and "classes" in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, fh)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    # sampled before anything of ours runs: the only load figure that
    # measures other tenants, not this benchmark
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found beside perfbench/")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")

    files = source_files()
    digest = source_digest(files)
    classpath = build(digest)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    mem_gb = 3 if os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >= 8 << 30 else 2
    cmd = ["java", f"-Xms{mem_gb}g", f"-Xmx{mem_gb}g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--bench-dir", HERE,
            "--keep-dir", os.path.join(BUILD, "runs"), "--sf", sf_dir(),
            "--cpus", str(cpus), "--load1", str(load1),
            "--launch-ms", str(int(time.time() * 1000)),
            "--clk-tck", str(os.sysconf("SC_CLK_TCK")),
            "--source-id", "sha256:" + digest[:16]]
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                              stdin=subprocess.DEVNULL, timeout=170)
    except subprocess.TimeoutExpired:
        fail("harness did not finish within 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited {proc.returncode}")

    lines = proc.stdout.splitlines()
    tagged = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in lines
              if l.split(" ", 1)[0] in ("CONTEXT", "DETAIL", "RESULT")}
    if "RESULT" not in tagged:
        fail("harness printed no result")
    res = json.loads(tagged["RESULT"])
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    print(json.dumps({"context": json.loads(tagged["CONTEXT"]),
                      "detail": json.loads(tagged["DETAIL"]),
                      "all_metrics": res["metrics"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
