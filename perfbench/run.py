#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload transit_day|catalog_session \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source (perfbench/build.sbt compiles ../src/main/scala with the
harness; rebuilt only when a source changes), generates the transit
day from the seed (gen.py) or finds the read-only catalog tables
($SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.001; the seed permutes the key
order), runs one JVM on local[nproc], and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span file). Every run also leaves a self-describing
record under perfbench/work/results/. Exits non-zero when a correctness
check fails or the program cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("transit_day", "catalog_session")
HEAP = "2g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the sources match the last build."""
    stamp = os.path.join(TARGET, "graftbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    want = digest(sources())
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=max(60, deadline - time.time()))
    log("built in %.1f s" % (time.time() - t0))
    with open(stamp, "w") as f:
        f.write(want)
    with open(cp_file) as c:
        return c.read().strip()


def sf_dir():
    """The catalog tables: $SPARK_GRAFT_SF_DIR (the program's own setting)
    or the sf0.001 scale of the read-only test data in the home directory."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.001")


def inputs(workload, seed):
    """The workload's inputs: the read-only catalog tables, or the seeded
    transit day (generated once per seed; other seeds' days are removed)."""
    if workload == "catalog_session":
        d = sf_dir()
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            raise SystemExit("[perfbench] no catalog tables in %s (set SPARK_GRAFT_SF_DIR)" % d)
        return d
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest() + str(seed)
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, "transit-%d" % seed)
    marker = os.path.join(d, ".done")
    if not (os.path.exists(marker) and open(marker).read() == tag):
        for old in glob.glob(os.path.join(root, "*")):
            shutil.rmtree(old)
        sys.path.insert(0, HERE)
        import gen
        counts = gen.transit(seed, d)
        log("generated transit inputs for seed %d: %s" % (seed, json.dumps(counts)))
        with open(marker, "w") as f:
            f.write(tag)
    return d


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources under %s/src/main/scala: nothing to benchmark" % ROOT)
        return 2
    cp = build(started + 850)
    # a run may take 170 s; a run that had to build first may take 880 s
    deadline = started + (170 if time.time() - started < 5 else 880)
    data = inputs(a.workload, a.seed)
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "jtmp"))
    out = os.path.join(run, "result.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-Djava.io.tmpdir=" + os.path.join(run, "jtmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp,
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", data, "--keys", os.path.join(HERE, "catalog_keys.txt"),
              "--work", run, "--out", out])
    proc = subprocess.Popen(cmd, cwd=run, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("run exceeded its time limit")
        return 4
    if not os.path.exists(out):
        log("the run produced no result (exit %d)" % code)
        return code or 5
    with open(out) as f:
        record = json.load(f)
    record["run"].update(git_commit=git_commit(), wall_s=time.time() - started,
                         cpus=os.cpu_count())
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(started))
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    spans = out[:-len(".json")] + ".spans.jsonl"
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(results, stem + ".spans.jsonl"))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    if code != 0 or not record["correct"]:
        log("correctness checks failed: %s" % record["run"].get("failed_checks"))
        return code or 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
