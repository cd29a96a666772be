#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload candy_e2e --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark runner from source with the Scala
compiler shipped in the Spark distribution ($SPARK_HOME/jars, once per
source tree), makes the workload's inputs from the seed, and runs one JVM
that sets up the session, times a cold pass and then a fixed number of warm
passes (more, uncounted, while fewer than ``--seconds`` have passed). Two
more JVMs each time a first set-up. It checks every output and prints each
metric by name with its unit. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code
is 0 only when every output check passed. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import candy    # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402
import tables   # noqa: E402

# The heap is fixed (-Xms = -Xmx) and pre-touched, so heap resizing and
# first-touch page faults do not vary between runs; peak_rss_mb is then this
# heap plus the JVM's native memory, and heap use shows in heap_live_mb.
JVM_HEAP = "2g"
JVM_DEADLINE_S = 165  # all JVMs of one run, after the build, end within this
SETUP_JVMS = 2  # set-up-only JVMs run after the workload's own; setup_s is the median of 3

# Candy corpus: days x transactions per day x products (about 20k line items).
CANDY = dict(days=5, tx_per_day=2000, products=200)
# Query mixes run over one fixed table set; the seed permutes each pass.
TABLES = dict(sf=0.001, seed=42)
# Read-only queries, one each from four families, sized so a run fits the
# benchmark's time budget (see README.md).
QUERY_MIX = ["q_h1_pricing_summary", "q_t19_bpe_encode", "q_d4_simhash_neardup", "q_v1_knn_cosine"]
# Run, untimed, after the passes of a traced mix: the write path, for the
# sources and streaming layers.
WRITE_QUERIES = ["q_l14_stream_snapshot_ingest"]
WORKLOADS = {"candy_e2e": None, "query_mix": QUERY_MIX}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

UNITS = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "lines_per_s": "lines/s",
         "query_p50_s": "s", "query_p90_s": "s", "peak_rss_mb": "MB", "heap_live_mb": "MB"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_classpath():
    """The Spark distribution's jars, which also carry the Scala compiler:
    $SPARK_HOME/jars, else the `unmanagedBase` the sbt build compiles
    against."""
    jar_dir = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") and os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else jar_dir
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars: set SPARK_HOME to a Spark 4.1 distribution")
    return jars


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, sources):
    os.makedirs(out)
    cp = ":".join(jars + classpath)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", out, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("compile failed: %s" % out)


def build(jars):
    """Compile src/main, then the runner against it; each output directory is
    keyed by a hash of its sources and reused until they change."""
    main_src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not main_src:
        raise SystemExit("no program sources under %s/src/main/scala" % ROOT)
    bench_src = glob.glob(os.path.join(HERE, "scala/*.scala"))
    main_out = os.path.join(WORK, "build", "main-" + tree_hash(main_src))
    bench_out = os.path.join(WORK, "build", "bench-" + tree_hash(main_src + bench_src))
    for out, cp, src in ((main_out, [], main_src), (bench_out, [main_out], bench_src)):
        if not os.path.exists(out + ".ok"):
            # drop builds of older source trees before compiling this one
            for old in glob.glob(out.rsplit("-", 1)[0] + "-*"):
                shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) else os.remove(old)
            t0 = time.time()
            scalac(jars, out, cp, src)
            open(out + ".ok", "w").close()
            log("built %s in %.1f s" % (os.path.basename(out), time.time() - t0))
    return [main_out, bench_out]


def table_set():
    """The fixed table set of the mixes, generated once per checkout."""
    d = os.path.join(WORK, "tables-sf%s-seed%d-%s" % (
        TABLES["sf"], TABLES["seed"], tree_hash([os.path.join(HERE, "tables.py")])))
    if not os.path.exists(os.path.join(d, "ok")):
        shutil.rmtree(d, ignore_errors=True)
        tables.generate(d, **TABLES)
        open(os.path.join(d, "ok"), "w").close()
    return d


def run_jvm(jars, classes, run_dir, args, deadline, result="result.json"):
    for sub in ("tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Xss8m", "-XX:-UsePerfData",
            "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages"] + ADD_OPENS + [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dgraft.scratch.dir=" + os.path.join(run_dir, "scratch"),
        "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", ":".join(classes + jars), "perfbench.Runner"] +
        ["%s=%s" % kv for kv in args.items()])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("runner exceeded the %d s deadline" % JVM_DEADLINE_S)
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            lines = f.read().splitlines()
        log("\n".join([ln for ln in lines if "Exception" in ln][:5] + lines[-20:]))
        raise SystemExit("runner exited with %d" % p.returncode)
    with open(os.path.join(run_dir, "out", result)) as f:
        return json.load(f)


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def end_to_end(res, setups, input_lines):
    """The end-to-end metrics, over the first ``warm_passes`` warm passes."""
    n = res["warm_passes"]
    warm = res["pass_s"][1:1 + n]
    lat = [o["s"] for o in res["ops"] if o["section"] == "pass" and 1 <= o["pass"] <= n]
    pass_s = statistics.median(warm)
    return {
        "setup_s": statistics.median(setups),
        "cold_s": res["pass_s"][0],
        "pass_s": pass_s,
        "lines_per_s": input_lines / pass_s,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": pct(lat, 0.9),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "heap_live_mb": max(res["live_heap_bytes"][1:1 + n]) / 2**20,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_classpath()
    classes = build(jars)
    deadline = time.time() + JVM_DEADLINE_S
    run_dir = os.path.join(WORK, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    try:
        queries = WORKLOADS[a.workload]
        args = dict(workload=a.workload, out=os.path.join(run_dir, "out"), seconds=a.seconds,
                    seed=a.seed, trace=a.trace)
        if queries is None:
            data = os.path.join(run_dir, "corpus")
            input_lines = candy.generate(data, a.seed, **CANDY)
        else:
            data = table_set()
            input_lines = tables.row_count(data)
            args["queries"] = ",".join(queries)
            if a.trace:
                args["write_queries"] = ",".join(WRITE_QUERIES)
        args["data"] = data
        args["tables"] = table_set()  # the traced kernel timings read it
        res = run_jvm(jars, classes, run_dir, args, deadline)
        # set-up as a batch pays it: the first session of a fresh JVM
        setups = [res["setup_s"]] + [
            run_jvm(jars, classes, run_dir, dict(workload="setup", out=args["out"]), deadline,
                    "setup.json")["setup_s"] for _ in range(SETUP_JVMS)]

        errors = [o for o in res["ops"] if o["error"]]
        mismatches = []
        if queries is None:
            m = candy.model(data)
            for p in ("cold", "warm"):
                mismatches += ["%s pass: %s" % (p, b)
                               for b in candy.check(os.path.join(run_dir, "out", "csv", p), m)]
            failed = len(errors) + len(mismatches)
        else:
            verified, mismatches = oracle.check(
                data, os.path.join(run_dir, "out", "verify"), res["oracles"],
                os.path.join(WORK, "oracle"))
            bad = {o["name"] for o in res["ops"]
                   if not o["error"] and o["rows"] != verified.get(o["name"])}
            mismatches += ["%s: timed row count differs from the verified result" % q
                           for q in sorted(bad)]
            failed_q = bad | {q for q in res["oracles"] if q not in verified}
            failed = len(errors) + sum(1 for o in res["ops"]
                                       if not o["error"] and o["name"] in failed_q)
        attempted = len(res["ops"])
        failed = min(failed, attempted)
        for o in errors[:5]:
            log("failed op %s (pass %d): %s" % (o["name"], o["pass"], o["error"]))
        for mm in mismatches[:10]:
            log("output check: " + mm)

        e2e = end_to_end(res, setups, input_lines)
        print("passes (s): " + " ".join("%.2f" % x for x in res["pass_s"]) +
              "; setups (s): " + " ".join("%.3f" % x for x in setups))
        warm_ops = {}
        for o in res["ops"]:
            if o["section"] == "pass" and 1 <= o["pass"] <= res["warm_passes"]:
                warm_ops.setdefault(o["name"], []).append(o["s"])
        print("warm op medians (s): " + " ".join(
            "%s=%.3f" % (k, statistics.median(v)) for k, v in warm_ops.items()))
        for k, v in e2e.items():
            print("%-14s %14.4f %s" % (k, v, UNITS[k]))
        print("%-14s %14.4f %s" % ("failed_frac", failed / attempted, "ratio"))
        if a.trace:
            metrics = layers.per_layer(res, e2e)
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump({"spans": res["spans"], "ops": res["ops"], "sql": res["sql"],
                           "batches": res["batches"], "kernels": res["kernels"],
                           "metrics": metrics}, f)
            for k, v in metrics.items():
                print("%-40s %14.4f %s" % (k, v["value"], v["unit"]))
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        correct = failed == 0 and not mismatches
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
