#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 c4bench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the library and the benchmark
from source (once, then only when a source changes), generates the inputs
from the seed, runs the workload in one JVM on `local[<cores>]`, checks
the outputs, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. The line before it is the full report: environment, every
sample, quartiles and every failure. See c4bench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("pivot_finish", "curate_driver", "scan_kernels", "ingest_stream")
SCALE = 0.01          # generated tables at sf0.01: about 2 MB of parquet
HEAP = "-Xmx2g"
# C1 only: a run is one JVM of about 20 s, and with C2 its profile-driven
# compiles made the same pass differ by up to 50% between JVMs (the untimed
# pass had not reached C2's steady state); with C1 runs agree within a few
# percent, at about the same pass time
JIT = "-XX:TieredStopAtLevel=1"
JVM_TIMEOUT_S = 150
ARCHIVE = os.path.join(HERE, "target", "c4bench.jsa")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"c4bench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def git_commit():
    """The checked-out commit read from .git, without running git;
    "unknown" outside a git checkout."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return "unknown"


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """The runtime classpath, compiling first when a source changed.

    A build also records a class-data archive (the classes one short
    pivot_finish run loads), which every run maps instead of loading and
    verifying those classes again: it takes a quarter off set-up."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "c4bench.stamp")
    stamp = source_stamp()
    try:
        with open(stamp_file) as fh, open(cp_file) as cp:
            if fh.read() == stamp and os.path.exists(ARCHIVE):
                return cp.read().strip()
    except OSError:
        pass
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the repositories configured for this machine
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    with open(cp_file) as fh:
        cp = fh.read().strip()
    tmp = tempfile.mkdtemp(prefix=".build-", dir=HERE)
    try:
        gen.write(0, SCALE, os.path.join(tmp, "data"))
        train = argparse.Namespace(workload="pivot_finish", seed=0, seconds=0, trace=0)
        run_jvm(cp, train, os.path.join(tmp, "data"), tmp,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, data, tmp, jvm_opts=()):
    out = os.path.join(tmp, "raw.json")
    log = os.path.join(tmp, "jvm.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, HEAP, JIT, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"] + list(jvm_opts)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "c4bench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--tmp", tmp, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"the benchmark JVM ran over {JVM_TIMEOUT_S} s", 3)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"the benchmark JVM exited with {proc.returncode}", 3)
    with open(out) as fh:
        return json.load(fh)


def main():
    # a terminated run still stops its JVM and deletes its directory:
    # SystemExit unwinds through subprocess.run, which kills the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the library's sources (src/main/scala/graft) are not in this checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    group = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[group]}
    bad = [n for n in units if not stats.valid_name(n)]
    if bad:
        die(f"invalid metric names in BENCHMARK.json: {bad}")

    load_before = loadavg()
    cp = build()
    tmp = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    try:
        data = os.path.join(tmp, "data")
        gen_s = []
        for _ in range(3):  # set-up is repeated; its median is reported
            t = time.time()
            gen.write(args.seed, SCALE, data)
            gen_s.append(time.time() - t)
        jvm_start = time.time()
        raw = run_jvm(cp, args, data, tmp, [f"-XX:SharedArchiveFile={ARCHIVE}"])
        setup_s = statistics.median(gen_s) + raw["first_sample_ms"] / 1e3 - jvm_start

        failures = {c["op"]: c["error"] for c in raw["checks"] if c["error"]}
        failures.update({f"{o['op']}@pass{o['pass']}": o["error"]
                         for o in raw["ops"] if o["error"]})
        t_check = time.time()
        if args.workload != "ingest_stream":
            queries = [c["op"] for c in raw["checks"]
                       if not c["error"] and c["op"] != "render"]
            failures.update(oracle.check(data, raw["env"]["check_dir"],
                                         raw["oracle_sql"], queries))
        oracle_s = time.time() - t_check
        attempted = len(raw["checks"]) + len(raw["ops"])
        failed = len(failures)

        e2e, detail = stats.end_to_end(raw, setup_s)
        metrics = e2e if not args.trace else \
            stats.per_layer(raw, list(units), failed / attempted)
        env = dict(raw["env"], scale_factor=SCALE, git_commit=git_commit(),
                   loadavg_1m_before=load_before, loadavg_1m_after=loadavg(),
                   setup_generate_s=gen_s, jvm_s=t_check - jvm_start, oracle_s=oracle_s)
        env.pop("check_dir", None)
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "env": env, "detail": detail, "end_to_end": e2e,
                  "failures": failures, "checks": raw["checks"], "passes": raw["passes"],
                  "ops": raw["ops"],
                  "layers": raw["layers"], "layers_once": raw["layers_once"]}
        print(json.dumps(report))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units}}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
