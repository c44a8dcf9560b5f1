#!/usr/bin/env python3
"""One benchmark run of graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
workload in a fresh JVM (perfbench/scala), checks its outputs, and prints
every metric by name with its unit. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. Exits 0 only when every output check passed.
"""

import argparse
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

import build  # noqa: E402
import gen  # noqa: E402

HEAP = "4g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Input sizes per workload (see perfbench/README.md for how they compare
# with the program's caches).
LAKE_ROWS_PER_ARRIVAL = 2000
CORPUS_DOCS = 3000
RETRIEVAL_DOCS = 6000
RETRIEVAL_QUERIES = 200
QUERIES_PER_BATCH = 8


def generate(workload, seed, seconds, inp):
    """Write the workload's inputs for `seed` into `inp`."""
    if workload == "lake_ingest":
        # enough arrivals for jobs as short as 0.33 s, plus the warm-up
        gen.taxi_arrivals(inp, seed, int(seconds * 3) + 8,
                          LAKE_ROWS_PER_ARRIVAL)
    elif workload == "corpus_curation":
        gen.corpus(inp, seed, CORPUS_DOCS)
    else:
        truth = gen.corpus(inp, seed, RETRIEVAL_DOCS,
                           n_queries=RETRIEVAL_QUERIES)
        gen.query_batches(inp, seed, [int(q) for q in truth["queries"]],
                          int(seconds * 20) + 2, QUERIES_PER_BATCH)


def jvm_command(classes, jars, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                          os.path.join(jars, "*")])
    return ["java"] + opens + [
        # the JVM flags build.sbt and scripts/run_main.sh run graft with
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.codegen.cache.maxEntries=4096",
        "-Dspark.sql.codegen.useIdInClassName=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g",
        "-Djava.io.tmpdir=" + args["work"] + "/tmp",
        "-cp", cp, "perfbench.Main",
    ] + [x for k, v in args.items() for x in ("--" + k, str(v))]


def run_jvm(cmd, log):
    """Run the harness JVM in its own process group; kill the whole group
    if it outlives the time limit or this process is interrupted."""
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
            try:
                os.killpg(p.pid, sig)
                p.wait(timeout=grace)
                break
            except (ProcessLookupError, subprocess.TimeoutExpired):
                continue
        raise


def fmt(v):
    return repr(v) if isinstance(v, float) else str(v)


def main():
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True,
                    choices=["lake_ingest", "corpus_curation", "retrieval_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_dir = build.build_dir()
    classes = build.build(out_dir)
    run_dir = os.path.join(out_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.monotonic()
        generate(a.workload, a.seed, a.seconds, inp)
        gen_s = time.monotonic() - t0
        result_file = os.path.join(run_dir, "result.json")
        args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                "input": inp, "work": work, "bench": HERE, "out": result_file}
        if a.trace:
            traces = os.path.join(out_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            args["spans"] = os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed))
        log_path = os.path.join(out_dir, "last-run.log")
        with open(log_path, "wb") as log:
            code = run_jvm(jvm_command(classes, build.spark_jars(), args), log)
        if code != 0 or not os.path.exists(result_file):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit("perfbench: harness JVM exited with %d" % code)
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["end_to_end"]
    print("workload %s seed %d: %d operations, %d latency samples, "
          "input generation %.1f s" % (a.workload, a.seed, res["attempted"],
                                       res["op_samples"], gen_s))
    print("error_rate = %s (%d failed of %d attempted)" % (
        fmt(e2e["error_rate"]), res["failed"], res["attempted"]))
    print("op_s = " + " ".join("%.3f" % x for x in res["op_s"]))
    for f in res["failures"]:
        print("FAILED: " + f)
    for k, v in sorted(res["sizes"].items()):
        print("size %s = %s" % (k, v))
    print("settings " + json.dumps(res["settings"], sort_keys=True))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            raise SystemExit("perfbench: metric %s missing from the results" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print("%s = %s %s" % (m["name"], fmt(v), m["unit"]))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
