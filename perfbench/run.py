#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Builds the harness (and the repository it links) from source with sbt when
the sources changed since the last build, runs one JVM over the workload's
entries (see Harness.scala), checks every entry's output with
scripts/check.py against DuckDB's evaluation of the entry's oracle SQL over
the same parquet files, and prints {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones; a traced run also writes them to .bench_build/perfbench/trace_<workload>.json with
its overhead against the last untraced run of the workload.

Fixtures: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1 (read only).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# a run must end within 180 s, and the first one in a checkout, which
# builds, within 900 s
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 172
JVM_LIMIT_S = 155
JVM_HEAP = "2g"

# Why each workload holds the entries it does: README.md in this directory.
WORKLOADS = {
    "tpch": ["tpch_q2", "tpch_q3", "tpch_q6", "tpch_q13", "tpch_q14",
             "tpch_q19", "tpch_q22"],
    "dedup": ["llm_dedup_exact", "llm_dup_clusters"],
    "stream": ["ts_stream_window_agg", "ts_stream_commit_log",
               "ts_stream_file_sink"],
}

END_TO_END = {"total_s": "s", "geomean_s": "s", "setup_s": "s",
              "peak_rss_mb": "MiB"}

# Spark on JDK 17 outside spark-submit needs these; the same list as the
# root build.sbt's javaOptions.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

# Inputs of the build: a change to any of them triggers a rebuild.
BUILD_INPUTS = ["build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else []
        for d, subdirs, fs in os.walk(top):
            # sbt writes its own target/ and project/project/ under project/
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(fs)]
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped sources are unchanged; returns
    the harness's runtime classpath."""
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "scripts/check.py", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} is missing: run from a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("sbt build failed")
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def run_jvm(classpath, workload, seed, seconds, trace, fixtures, work, budget_s):
    # Two CPUs are left to the JVM's own threads. Each pass loads new
    # generated classes, so C1 and C2 keep compiling through the timed
    # passes and kept 1.5-2 CPUs busy; at local[3] with G1 more threads
    # were runnable than a 4-CPU box has CPUs. Interleaved against that
    # setting, local[2] with the parallel collector ran stream faster
    # (total_s 4.41-5.06 s against 4.75-5.41 s, three seeds) and tpch peak
    # RSS steadier (spread 0.035 against 0.078, five seeds). Fewer JIT
    # threads starved the stream warm-up and were not kept; README.md has
    # the figures.
    cpus = str(max(1, min(4, (os.cpu_count() or 1) - 2)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # a fixed heap: a heap that grows on demand made peak RSS read 1.1 to
    # 1.7 GiB on identical runs
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-XX:+UseParallelGC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Harness",
              "--sf", fixtures, "--out", work,
              "--entries", ",".join(WORKLOADS[workload]),
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace)])
    # the JVM's stdout and stderr both go to our stderr: stdout carries
    # only the final result line
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness JVM overran its {budget_s:.0f} s budget")
    if rc != 0:
        fail(f"harness JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_outputs(names, work, timeout_s):
    """Run scripts/check.py over the entries' outputs from the first warm
    pass: it evaluates each entry's oracle SQL with DuckDB over the same
    parquet files and compares the normalized rows. Returns the entries it
    did not report as matching."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"), SF_DIR,
         os.path.join(work, "outputs"), "--skip-verify", *names],
        capture_output=True, text=True, timeout=timeout_s)
    ok = set()
    for line in r.stdout.splitlines():
        if line.startswith("ok "):
            ok.add(line.split()[1].rstrip(":"))
        elif line.strip() and not line.startswith("=="):
            log(f"check: {line}")  # FAIL lines, their diffs, WARN (weak check)
    if r.stderr.strip():
        log(r.stderr[-2000:])
    return [n for n in names if n not in ok]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result, failed_entries):
    passes = result["passes"]
    per_entry = {}
    for name in result["entries"]:
        if name in failed_entries:
            continue
        per_entry[name] = median([p["seconds"][name] for p in passes])
    meds = list(per_entry.values())
    return {
        "total_s": sum(meds),
        "geomean_s": math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0,
        "setup_s": result["setup_s"],
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result):
    passes = result["passes"]
    keys = sorted({k for p in passes for k in p["layers"]})
    out = {k: median([p["layers"].get(k, 0.0) for p in passes]) for k in keys}
    out.update(result["setup"])
    out.update(result["probe"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(SF_DIR):
        fail(f"fixture directory {SF_DIR} not found")
    classpath = build()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # The Io entries keep their files and streaming checkpoints under
    # /tmp/graft_io/<name of the fixture directory> (Io.base). The harness
    # reads the fixtures through a link named after this run, so those
    # files belong to this run alone, and are removed after it.
    fixtures = os.path.join(work, f"perfbench-{os.getpid()}")
    os.symlink(os.path.abspath(SF_DIR), fixtures)
    io_dir = os.path.join("/tmp/graft_io", os.path.basename(fixtures))
    started = time.monotonic()
    try:
        result = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace,
                         fixtures, work, JVM_LIMIT_S)
    finally:
        shutil.rmtree(io_dir, ignore_errors=True)
    jvm_done = time.monotonic()
    mismatched = check_outputs(result["entries"], work,
                               RUN_LIMIT_S - (jvm_done - started))
    log(f"harness JVM took {jvm_done - started:.1f} s; "
        f"output check took {time.monotonic() - jvm_done:.1f} s")
    n_passes = len(result["passes"])
    attempted = n_passes * len(result["entries"])
    threw = [n for p in result["passes"] for n in p["failed"]]
    failed_entries = set(threw) | set(mismatched)
    failed = sum(n_passes if n in mismatched else threw.count(n)
                 for n in result["entries"])
    correct = not result["violations"] and not mismatched
    for v in result["violations"]:
        log(f"PROPERTY VIOLATION: {v}")

    e2e = end_to_end(result, failed_entries)
    log(f"{a.workload}: {n_passes} timed passes of {len(result['entries'])} "
        f"entries; " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    last_untraced = os.path.join(BUILD, f"last_untraced_{a.workload}.json")
    if a.trace:
        layers = per_layer(result)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        side = {"workload": a.workload, "seed": a.seed, "per_layer": layers,
                "traced_end_to_end": e2e}
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            side["overhead"] = {k: e2e[k] / base[k] - 1 for k in
                                ("total_s", "geomean_s") if base.get(k)}
            log("tracing overhead vs the last untraced run: " + ", ".join(
                f"{k} {v:+.1%}" for k, v in side["overhead"].items()))
        else:
            log("no untraced run of this workload yet: overhead not known")
        with open(os.path.join(BUILD, f"trace_{a.workload}.json"), "w") as f:
            json.dump(side, f, indent=1, sort_keys=True)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_over_median", "_yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
