#!/usr/bin/env python3
"""graft benchmark: one command builds the program from this checkout,
runs one workload, checks every query's output against its DuckDB oracle
and prints every metric by name with its unit.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the lines before it carry sample counts, percentiles, the
session configuration and (traced) span self times. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import check    # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    # Fixed per-query cost: Catalyst, codegen, scan set-up, scheduling.
    "analytics": [
        "q02_filter_project", "q05_semi_join", "q08_top_orders", "q11_rollup",
        "q14_date_math", "q17_mapreduce_flag_counts", "q18_mapreduce_dice",
        "q20_outer_join", "q23_approx_distinct", "q26_regex_string",
        "q29_left_join_map", "q32_explode", "q35_salted_join",
        "q38_asof_forward", "q41_cogroup", "q44_ohlc_resample",
        "q47_paged_source",
    ],
    # A foreachBatch loop over the versioned stores, ending in a takedown.
    "lifecycle": ["p145_production_loop"],
}
# Queries whose own time is a per-layer metric ("query.<name>_s").
TIMED_QUERIES = WORKLOADS["lifecycle"]

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
                    "heap_retained_mb": "MB"}

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def tree_hash(paths):
    """sha256 over the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness (one sbt build) unless the
    sources are unchanged since the last build in this checkout."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    for s in sources:
        if not os.path.exists(s):
            fail("missing %s: run from a checkout of the repository" % s)
    digest = tree_hash(sources)
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return digest
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" + tmp).strip()
    # every JVM the sbt script starts: no hsperfdata file in the system /tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                " -XX:-UsePerfData").strip()
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(
            [sbt, "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile"], cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
        fail("build failed (exit %d):\n%s" % (rc, tail))
    with open(stamp, "w") as fh:
        fh.write(digest)
    log("built in %.1f s" % (time.time() - t0))
    return digest


def run_jvm(args, run_dir, cpus):
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    check_dir = os.path.join(run_dir, "check")
    raw = os.path.join(run_dir, "raw.jsonl")
    os.makedirs(tmp)
    os.makedirs(check_dir)
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp,
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars, "*"),
            "perfbench.Harness",
            "--queries", ",".join(WORKLOADS[args.workload]),
            "--data", args.data, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--check-dir", check_dir, "--cpus", str(cpus), "--out", raw]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail("harness JVM failed (%s):\n%s" % (rc, tail))
    with open(raw) as fh:
        return [json.loads(line) for line in fh if line.strip()], check_dir


def oracle_results(data_dir, check_dir, names, oracle):
    """Check outputs; each oracle's result is cached in this checkout,
    keyed by its SQL and the data files, since the lifecycle oracles take
    tens of seconds in DuckDB."""
    import pandas as pd
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    data_key = tree_hash([data_dir])
    want = {}
    con = check.connect(data_dir)
    for name in names:
        if name not in oracle:
            continue
        key = hashlib.sha256((data_key + oracle[name]).encode()).hexdigest()[:20]
        path = os.path.join(cache, "%s-%s.pkl" % (name, key))
        if not os.path.exists(path):
            t0 = time.time()
            try:
                con.execute(oracle[name]).fetchdf().to_pickle(path + ".part")
            except Exception:
                continue  # check() re-raises it as this query's failure
            os.replace(path + ".part", path)
            log("oracle %s: %.1f s, cached" % (name, time.time() - t0))
        want[name] = pd.read_pickle(path)
    con.close()
    return check.check(data_dir, check_dir, names, oracle, want)


def layer_repeats(workload, layers):
    """Names of per-layer counts equal to the previous traced run of this
    workload in this checkout (time and byte metrics excluded)."""
    path = os.path.join(BUILD, "results", "layers-%s.json" % workload)
    counts = {k: v for k, v in layers.items()
              if not k.endswith(("_s", "_ms", "_ratio", "_bytes", "_mb"))}
    prev = json.load(open(path)) if os.path.exists(path) else None
    with open(path, "w") as fh:
        json.dump(counts, fh)
    if prev is None:
        return None
    return sorted(k for k, v in counts.items() if prev.get(k) == v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DATA)
    args = ap.parse_args(argv)
    args.data = os.path.abspath(args.data)
    if not os.path.isfile(os.path.join(args.data, "lineitem.parquet")):
        fail("no tables at %s" % args.data)

    digest = build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    try:
        recs, check_dir = run_jvm(args, run_dir, cpus)
        names = WORKLOADS[args.workload]
        oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
        wrong = {k: v for k, v in
                 oracle_results(args.data, check_dir, names, oracle).items() if v}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = metrics.of(recs, "query")
    errors = [q for q in timed if q["error"]]
    attempted = len(timed) + len(names)
    failed = len(errors) + len(wrong)
    meta = metrics.one(recs, "meta")
    e2e, detail = metrics.end_to_end(recs)
    print(json.dumps({"perfbench": "config", "workload": args.workload,
                      "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, "data": os.path.relpath(args.data, ROOT),
                      "nproc": cpus, "heap_max_mb": meta["heap_max_mb"],
                      "xmx": HEAP, "spark": meta["spark_version"],
                      "SPARK_GRAFT_PAR_CAP": os.environ.get(
                          "SPARK_GRAFT_PAR_CAP", "unset (default 4)"),
                      "commit": commit(), "source_sha256": digest,
                      "spark_conf": meta["conf"]}))
    per_query = metrics.query_seconds(
        recs, {p["pass"] for p in metrics.of(recs, "pass") if not p["traced"]})
    print(json.dumps({"perfbench": "detail", "timings": detail,
                      "fail_ratio": failed / attempted,
                      "failures": [{q["query"]: q["error"]} for q in errors],
                      "wrong_results": wrong,
                      "query_median_s": {k: metrics.median(v)
                                         for k, v in sorted(per_query.items())}}))
    if args.trace:
        layers, spans = metrics.per_layer(recs, cpus, TIMED_QUERIES)
        trace_path = os.path.join(BUILD, "results", "spans-%s-%d.jsonl" % (
            args.workload, args.seed))
        with open(trace_path, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        print(json.dumps({"perfbench": "trace", "spans": len(spans),
                          "span_file": os.path.relpath(trace_path, ROOT),
                          "repeated_exactly": layer_repeats(args.workload, layers)}))
        out = {k: {"value": v, "unit": layer_unit(k)}
               for k, v in sorted(layers.items())}
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
               for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def commit():
    """HEAD of the checkout when it is a git repository, else None (the
    source hash on the same line identifies the tree either way)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "graft.sources.bytes_scanned":
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
