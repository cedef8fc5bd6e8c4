#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  nbody6-ingest   parse a generated NBODY6 survey, assemble, write parquet
  driver-mix      26 SparkEntry queries on the bundled sf0.01 tables

It builds graft and the client (perfbench/build.py), makes the inputs
from the seed, runs one JVM (perfbench/harness) that sets up and then
runs the workload in a closed loop for --seconds (at least one run),
checks every output, and prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. Everything it writes stays under
.bench_build/ in the checkout and is removed when the run ends.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import canon  # noqa: E402
import gen_nbody6  # noqa: E402

# nbody6-ingest input: many small sims (16 files per format, 4x the
# cores of a 4-core machine).
INGEST_SIZE = dict(sims=16, snaps=4, stars=500, binary_frac=0.3)
# The heap's ceiling. The heap starts small and grows only when what
# survives a collection needs the room, so peak_rss_mb follows the memory
# the program keeps. The serial collector sizes the heap that way; G1
# sizes it from GC-time goals, which made the peak RSS of runs of the
# same workload differ by a quarter or more, while run times came out
# the same under both.
MAX_HEAP = "3g"
# A run must end within 180 s of its start, the first build aside; the
# JVM is stopped when the run reaches LIMIT_S, so that it fails in time
# with an error instead of overrunning.
LIMIT_S = 170
DATA_DIR = os.path.join(HERE, "tables", "sf0.01")
MIX_FILE = os.path.join(HERE, "driver_mix.json")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_mix():
    with open(MIX_FILE) as fh:
        return json.load(fh)


def write_manifest(m, path):
    cols = ["sim_id", "time", "n_star", "n_binary_star", "n_binary_system",
            "n_atomic_binary_system", "n_star_within_r_tidal",
            "n_star_within_2x_r_tidal", "n_binary_system_within_2x_r_tidal",
            "n_unresolved_binary_system", "total_mass"]
    with open(path, "w") as fh:
        fh.write("coords " + ";".join(",".join(repr(float(v)) for v in c)
                                      for c in m["coords"]) + "\n")
        fh.write("\t".join(cols) + "\n")
        for s in m["snapshots"]:
            row = [s[c] for c in cols]
            row[9] = ",".join(str(u) for u in row[9])
            row[10] = repr(row[10])
            fh.write("\t".join(str(v) for v in row) + "\n")


def jvm_command(classes, args):
    work = args["work"]
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    return (["java"] + flags + [
        f"-Xmx{MAX_HEAP}", "-XX:+UseSerialGC", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
        "-cp", build.classpath(classes), "graftbench.Main"] +
        [f"{k}={v}" for k, v in args.items()])


def run_jvm(classes, args, log, deadline=None):
    os.makedirs(os.path.join(args["work"], "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_GRAFT_ANSI", None)
    args["launched"] = str(int(time.time() * 1000))
    with open(log, "w") as fh:
        p = subprocess.Popen(jvm_command(classes, args), cwd=args["work"], env=env,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=None if deadline is None
                          else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code})")


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def check_mix_outputs(mix, calls):
    """Fail every call whose result's row count and value hash (computed
    by the client, see Digest in perfbench/harness) differ from the
    expected ones recorded in driver_mix.json."""
    expected = {q["name"]: (q["rows"], q["hash"]) for q in mix["queries"]}
    for c in calls:
        if c["ok"] and (c["rows"], c["hash"]) != expected[c["name"]]:
            c.update(ok=False, error=f"rows/hash {(c['rows'], c['hash'])}, "
                                     f"expected {expected[c['name']]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["nbody6-ingest", "driver-mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opt = ap.parse_args()

    classes = build.build()
    spec = bench_spec()
    setup_t0 = time.time()
    deadline = setup_t0 + LIMIT_S
    work = os.path.join(build.BUILD_DIR, "work", f"{opt.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = {"workload": opt.workload, "seconds": str(opt.seconds),
                "trace": str(opt.trace), "seed": str(opt.seed),
                "work": work, "out": os.path.join(work, "result.json")}
        mix = None
        if opt.workload == "driver-mix":
            mix = load_mix()
            names = [q["name"] for q in mix["queries"]]
            random.Random(opt.seed).shuffle(names)
            args.update(data=DATA_DIR, queries=",".join(names), heavy=",".join(mix["heavy"]))
        else:
            tree = os.path.join(work, "tree")
            m = gen_nbody6.generate(tree, opt.seed, **INGEST_SIZE)
            write_manifest(m, os.path.join(work, "manifest.tsv"))
            args.update(tree=tree, manifest=os.path.join(work, "manifest.tsv"),
                        tree_bytes=str(m["bytes"]))
        gen_s = time.time() - setup_t0
        run_jvm(classes, args, os.path.join(work, "jvm.log"), deadline)
        with open(args["out"]) as fh:
            res = json.load(fh)

        calls = res["calls"]
        if mix is not None:
            check_mix_outputs(mix, calls)
        attempted = len(calls)
        failed = sum(1 for c in calls if not c["ok"])
        for e in sorted({f"{c['name']}: {c['error']}" for c in calls if not c["ok"]}):
            sys.stderr.write(f"[perfbench] failed: {e}\n")

        if opt.trace:
            layers = res["layers"]
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in spec["per_layer"]}
            metrics["failed_frac"]["value"] = failed / attempted
        else:
            run_s = statistics.median(res["run_s"])
            call_s = [c["s"] for c in calls]
            values = {
                "setup_s": gen_s + res["setup_s"],
                "run_s": run_s,
                "stars_per_s": res["items"] / run_s,
                "query_p50_s": percentile(call_s, 0.50),
                "query_p60_s": percentile(call_s, 0.60),
                "peak_rss_mb": res["peak_rss_mb"],
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        sys.stderr.write(f"[perfbench] {opt.workload} seed={opt.seed} runs={len(res['run_s'])} "
                         f"run_s={[round(x, 3) for x in res['run_s']]} "
                         f"setup_s={res['setup_s']:.2f} gen_s={gen_s:.2f}\n")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
