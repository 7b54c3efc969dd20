#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark drivers from source, runs
one workload in one JVM, and prints one JSON result line.

    python3 perfbench/run.py --workload extract_kernel --seed 1 --seconds 10 --trace 0

Workloads, metrics and the suite's queries are listed in perfbench/metrics.json.
With --trace 0 the result holds the end-to-end metrics; with --trace 1 it holds
the per-layer metrics of a traced profile of every layer, and the run's spans
are written under perfbench/.work/traces/.

    python3 perfbench/run.py --workload query_suite --seed 1 --sweep

times every query of the suite in one process (a cold pass, then warm passes)
and writes perfbench/suite_sweep.json, from which the suite's group weights
are taken.

Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
RESULT_TAG = "GRAFTBENCH_RESULT "
SETUP_TAG = "GRAFTBENCH_SETUP "
SWEEP_TAG = "GRAFTBENCH_SWEEP "
BUILD_TIMEOUT_S = 850
RUN_DEADLINE_S = 175
HEAP = "2g"
# Set-ups timed in separate processes, besides the run's own: setup_s is the
# median of all of them (with one, the mean of two).
EXTRA_SETUPS = 1
SWEEP = os.path.join(HERE, "suite_sweep.json")

# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles graft and the drivers with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(TARGET, "graftbench.stamp")
    cp_file = os.path.join(TARGET, "graftbench.classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as fh2:
                    return fh2.read(), digest.hexdigest()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cps[-1], digest.hexdigest()


def java(classpath, args, log, deadline):
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main"] + args)
    left = None if deadline is None else deadline - time.monotonic()
    if left is not None and left <= 0:
        fail("out of time before the run")
    try:
        return subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=log,
                              text=True, timeout=left)
    except subprocess.TimeoutExpired:
        fail("run timed out")


def tagged(run, tag):
    """The payload of the last stdout line carrying `tag`, or None."""
    lines = [l for l in run.stdout.splitlines() if l.startswith(tag)]
    return lines[-1][len(tag):] if run.returncode == 0 and lines else None


def suite_queries(suite):
    """`query:group:weight` for each measured query. A group's weight is the
    warm seconds of all its queries in the sweep over those of its measured
    queries, so the weighted sum estimates a warm pass over the whole suite."""
    with open(SWEEP) as fh:
        sweep = json.load(fh)
    def warm(g, qs):
        return sum(sweep[q]["warm_s"] for q in qs if sweep[q]["group"] == g)
    weight = {g: warm(g, sweep) / warm(g, suite["measured"])
              for g in {sweep[q]["group"] for q in suite["measured"]}}
    return ",".join(f"{q}:{sweep[q]['group']}:{weight[sweep[q]['group']]}"
                    for q in suite["measured"])


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny corpora, for the benchmark's own tests")
    p.add_argument("--inject", choices=["none", "turn", "query"], default="none",
                   help="corrupt one operation's output, for the benchmark's own tests")
    p.add_argument("--sweep", action="store_true",
                   help="time every suite query and write suite_sweep.json")
    a = p.parse_args()

    with open(os.path.join(HERE, "metrics.json")) as fh:
        catalogue = json.load(fh)
    if a.workload not in catalogue["workloads"]:
        fail(f"unknown workload {a.workload}")
    classpath, digest = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    suite = catalogue["suite"]
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--data", os.path.join(HERE, suite["data"]),
            "--tiny", "1" if a.tiny else "0", "--inject", a.inject]
    if a.sweep:
        sweep(classpath, args, suite)
        return
    args += ["--queries", suite_queries(suite)]
    log_path = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    # corpus pools are generated once per build; the marker saves a JVM start
    pools = os.path.join(WORK, "corpus", f"ready-{digest[:16]}-{a.workload}-{a.trace}-{int(a.tiny)}")
    with open(log_path, "w") as log:
        run = None
        if not os.path.exists(pools):
            run = java(classpath, ["--mode", "gen"] + args, log, deadline)
            if run.returncode == 0:
                open(pools, "w").close()
        setups = []
        if run is None or run.returncode == 0:
            for _ in range(0 if a.trace else EXTRA_SETUPS):
                run = java(classpath, ["--mode", "setup"] + args, log, deadline)
                secs = tagged(run, SETUP_TAG)
                if secs is None:
                    break
                setups.append(float(secs))
            else:
                run = java(classpath, args, log, deadline)
    line = tagged(run, RESULT_TAG)
    if line is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {run.returncode}); log: {log_path}")
    res = json.loads(line)
    if "setup_s" in res["metrics"]:
        res["metrics"]["setup_s"] = statistics.median(setups + [res["metrics"]["setup_s"]])

    spec = catalogue["per_layer" if a.trace else "end_to_end"]
    missing = [m for m in spec if m not in res["metrics"]]
    extra = [m for m in res["metrics"] if m not in spec]
    if extra or (missing and res["correct"]):
        fail(f"metrics do not match the catalogue: missing {missing}, extra {extra}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": res["metrics"][m], "unit": spec[m]["unit"]}
                    for m in spec if m in res["metrics"]},
    }))


def sweep(classpath, args, suite):
    """Times every suite query that stays inside the checkout and writes the
    per-query seconds to suite_sweep.json."""
    queries = [q for q in suite["groups"] if q not in suite["left_out"]]
    log_path = os.path.join(WORK, "logs", "sweep.log")
    with open(log_path, "w") as log:
        run = java(classpath, ["--mode", "sweep"] + args + ["--queries", ",".join(
            f"{q}:{suite['groups'][q]}:1" for q in queries)], log, None)
    out = tagged(run, SWEEP_TAG)
    if out is None:
        fail(f"sweep failed (exit {run.returncode}); log: {log_path}")
    with open(SWEEP, "w") as fh:
        json.dump(json.loads(out), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {SWEEP}")


if __name__ == "__main__":
    main()
