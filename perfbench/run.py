#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh JVM, checks its outputs and prints one JSON
result line.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 24 --trace 0

Run it from the repository root. See perfbench/README.md for the
workloads and metrics.
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("load", "churn")
RUN_TIMEOUT_S = 170

# (name, unit, better) for every end-to-end metric, printed on every run
# without tracing
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("work_per_s", "1/s", "higher"),
    ("space_amp", "ratio", "lower"),
    ("heap_live_mb", "MB", "lower"),
    ("ops_ok_frac", "ratio", "higher"),
]

LAYER_STATS = [
    ("calls", "count", "higher"), ("busy_s", "s", "lower"),
    ("failed", "count", "lower"), ("jobs", "count", "lower"),
    ("task_s", "s", "lower"), ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"), ("driver_s", "s", "lower"),
    ("par_eff", "ratio", "higher"),
]
LAYERS = ["discover", "ingest", "combine", "hooks", "check", "sink",
          "pipeline", "operators.plan", "operators.exec"]
FAMILIES = ["SearchIndex", "SpanIndex", "WinnowIndex"]
FAMILY_CALLS = ["build", "append", "delete", "compact", "serve"]

PER_LAYER = (
    [("%s.%s" % (l, s), u, b) for l in LAYERS for (s, u, b) in LAYER_STATS]
    + [("pipeline.gap_s", "s", "lower")]
    + [("%s.%s.busy_s" % (f, c), "s", "lower")
       for f in FAMILIES for c in FAMILY_CALLS]
    + [("%s.bytes_written_per_doc_byte" % f, "ratio", "lower")
       for f in FAMILIES]
    + [("%s.epochs_at_serve" % f, "count", "lower") for f in FAMILIES]
    + [("trace.overhead_s", "s", "lower"),
       ("op.lat_tail_s", "s", "lower"), ("op.lat_tail_pct", "pct", "higher"),
       ("host.compute_probe_s", "s", "lower"),
       ("host.trivial_probe_s", "s", "lower"),
       ("host.contended", "count", "lower")]
)


def fail(msg, code=2):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars at %r; set SPARK_HOME to a Spark distribution" % jars)
    return jars


def sources(root):
    """Every Scala file of the engine and the harness, sorted."""
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars, work):
    """Compile engine and harness with the Scala compiler that ships in
    the Spark distribution; reuse the classes while no source changes."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail("no engine sources at %s; run from the repository root" % engine)
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    builds = os.path.join(HERE, ".build")
    out = os.path.join(builds, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(builds, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + work, "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    os.rename(tmp, classes)
    sys.stderr.write("perfbench: built %d files in %.1f s\n"
                     % (len(files), time.time() - t0))
    return classes


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(root, classes, jars, work, args):
    resources = os.path.join(root, "src", "main", "resources")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1-only JIT: a run lasts about a minute, and with the default
    # tiered C2 compiler each operation keeps speeding up for the first
    # ~20 s, so a short window would measure warm-up instead of the code.
    # C1 alone still compiled for ~40 s at its default thresholds; a tenth
    # of them ends the compiling within the first timed load. C1 alone
    # also gets a 48 MB code cache, which the load workload filled after
    # about six loads: the sweeper then flushed half the compiled code and
    # that load paid ~4 s of recompilation. The cache is made large enough
    # that it never fills, and flushing is off.
    # A fixed-size heap with the parallel collector: heap resizing and
    # concurrent collection added run-to-run noise.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
           "-XX:ReservedCodeCacheSize=256m", "-XX:-UseCodeCacheFlushing",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, resources, os.path.join(jars, "*")]),
            "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    log_path = os.path.join(work, "%s.log" % args.workload)
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log_path))
    raw = None
    for line in out.decode(errors="replace").splitlines():
        if line.startswith("PERFBENCH_RAW "):
            raw = json.loads(line[len("PERFBENCH_RAW "):])
    if raw is not None:
        # the full record (every op, check, sentinel probe) beside the log
        with open(os.path.join(work, "%s.raw.json" % args.workload), "w") as fh:
            json.dump(raw, fh, indent=1)
    if p.returncode != 0 or raw is None:
        with open(log_path, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        fail("harness exited with %d (log: %s)" % (p.returncode, log_path))
    return raw


def end_to_end(raw):
    ops = raw["ops"]
    lat = [s for (k, s, ok) in ops if ok and k == raw["primary"]]
    failed_ops = sum(1 for o in ops if not o[2])
    failed_checks = sum(1 for c in raw["checks"] if not c[1])
    if not lat or raw["measured_s"] <= 0:
        fail("no successful %s operation was measured" % raw["primary"], 1)
    return {
        "setup_s": raw["session_s"] + stats.median(raw["setup_s"]),
        "op_p50_s": stats.median(lat),
        "work_per_s": raw["items"] / raw["measured_s"],
        "space_amp": stats.space_amp(raw["store_bytes"], raw["base_bytes"]),
        "heap_live_mb": raw["heap_live_mb"],
        "ops_ok_frac": 1.0 - stats.failed_fraction(
            len(ops), failed_ops, failed_checks),
    }


def per_layer(raw):
    layers = dict(raw["layers"])

    def lat(kind):
        return [s for (n, s, ok) in raw["ops"] if n == kind and ok]

    plain, traced = lat(raw["primary"]), lat(raw["primary"] + "_traced")
    if plain and traced:
        layers["trace.overhead_s"] = stats.median(traced) - stats.median(plain)
    replay = lat("replay")
    if traced and replay:
        layers["pipeline.gap_s"] = stats.median(traced) - stats.median(replay)
    t = stats.tail(plain)
    if t is not None:
        layers["op.lat_tail_pct"], layers["op.lat_tail_s"] = t
    return {n: layers.get(n, 0.0) for (n, _, _) in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    jars = spark_jars()
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classes = build(root, jars, work)
    raw = run_jvm(root, classes, jars, work, args)

    units = dict((n, u) for (n, u, _) in END_TO_END + PER_LAYER)
    values = per_layer(raw) if args.trace else end_to_end(raw)
    ops = raw["ops"]
    failed_checks = [c for c in raw["checks"] if not c[1]]
    failed = min(len(ops), sum(1 for o in ops if not o[2]) + len(failed_checks))
    correct = not failed_checks and all(o[2] for o in raw["ops"])
    print("# %s seed=%d: %d ops, %d checks (%d failed), host %s"
          % (args.workload, args.seed, len(ops),
             len(raw["checks"]), len(failed_checks),
             json.dumps(raw["info"], sort_keys=True)))
    for c in failed_checks:
        print("# check %s failed: %s" % (c[0], c[2]))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": dict((n, {"value": v, "unit": units[n]})
                        for n, v in values.items()),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
