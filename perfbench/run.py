#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark harness
from source (sbt, offline) on first use, generates the seeded fixture
(cached by workload, seed and size), runs fresh JVMs and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics of a separate traced run (spans go to
<build>/traces/). Every output is checked against the generator's golden
triples and mention labels; a run whose outputs are wrong prints
"correct": false. Build outputs, fixtures and scratch state live under
$CARGO_TARGET_DIR (default .bench_build) in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# One client, closed loop; each measurement a fresh JVM on local[THREADS].
THREADS = min(4, len(os.sched_getaffinity(0)))
PARTITIONS = 2 * THREADS
HEAP = "3g"
SETUPS = 2  # fresh-JVM set-ups per run (the main JVM and a probe); setup_s is their median

WORKLOADS = {
    # thousands of pairwise-dissimilar entities per type plus typo aliases:
    # blocking and connected components carry most of the wall
    "batch_many_entities": {"kind": "batch", "n_convs": 3500, "vocab": 3200},
    # TranscriptGen's dictionaries (~84 distinct mentions) in disjoint
    # increments, one replayed, then finalize: ingest, extraction and the
    # checkpoint write and read paths carry the load, linking little
    "incremental_merge": {"kind": "incremental", "n_convs": 3000, "vocab": 0,
                          "increments": 2},
}

STD7 = {"wall_s": "s", "task_cpu_s": "s", "tasks": "count", "shuffle_write_mib": "MiB",
        "spill_mib": "MiB", "gc_s": "s", "rows_out": "rows"}
# Spans are named after the module and public call they wrap. A layer a
# workload does not call reports 0 (checkpoint.* on batch, pipeline.run.*
# on incremental).
PER_LAYER = {}
for _span in ("ingest.stableTurns", "extract.triplesRaw", "extract.mentions",
              "link.candidatePairs", "link.entities", "link.canonicalTriples",
              "graph.materialize", "schemadisc.schema"):
    PER_LAYER.update({f"{_span}.{k}": u for k, u in STD7.items()})
PER_LAYER.update({
    "ingest.stableTurns.task_skew": "ratio",
    "link.candidatePairs.band_pairs": "count",
    "link.candidatePairs.pair_yield": "ratio",
    "link.candidatePairs.pair_recall": "ratio",
    "link.entities.jobs": "count",
    "link.canonicalTriples.task_skew": "ratio",
    "pipeline.run.wall_s": "s", "pipeline.run.self_s": "s", "trace.overhead_s": "s",
    "checkpoint.mergeIncrement.wall_s": "s",
    "checkpoint.mergeIncrement.wall_last_over_first": "ratio",
    "checkpoint.mergeIncrement.bytes_written_mib": "MiB",
    "checkpoint.mergeIncrement.write_amplification": "ratio",
    "checkpoint.mergeIncrement.files_written": "count",
    "checkpoint.mergeIncrement.rows_written": "rows",
    "checkpoint.state_bytes_per_input_byte": "ratio",
    "checkpoint.readMerged.wall_s": "s",
    "pipeline.finalizeGraph.wall_s": "s",
})

END_TO_END = {
    "setup_s": "s", "cold_wall_s": "s", "warm_wall_s": "s", "turns_per_s": "turns/s",
    "triple_precision": "ratio", "triple_recall": "ratio",
    "cluster_precision": "ratio", "cluster_recall": "ratio", "ok_rate": "ratio",
    "peak_store_mib": "MiB", "retained_store_mib": "MiB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                         recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir, env):
    """Compile the engine and the harness once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine sources (src/main/scala) are missing from this checkout")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    sbt_env = dict(env)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files and no sbt server socket outside the checkout
    opts = (sbt_env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -Dsbt.server.autostart=false")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    sbt_env["SBT_OPTS"] = opts.strip()
    sbt_env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=sbt_env,
                           stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def jvm(classes, home, build_dir, tag, **kw):
    """Run one fresh benchmark JVM; returns its JSON result."""
    out = os.path.join(build_dir, "out", f"{tag}.json")
    tmp = os.path.join(build_dir, "tmp")
    for d in (os.path.dirname(out), tmp):
        os.makedirs(d, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main"]
    kw.update(threads=THREADS, partitions=PARTITIONS, out=out,
              local_dir=os.path.join(build_dir, "spark-local", tag))
    shutil.rmtree(kw["local_dir"], ignore_errors=True)
    os.makedirs(kw["local_dir"])
    log = os.path.join(build_dir, "out", f"{tag}.log")
    with open(log, "w") as fh:
        kw["launched"] = repr(time.time())
        cmd += [f"{k}={v}" for k, v in kw.items()]
        r = subprocess.run(cmd, cwd=build_dir, stdout=fh, stderr=subprocess.STDOUT)
    shutil.rmtree(kw["local_dir"], ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        return None
    with open(out) as fh:
        return json.load(fh)


def cpu_times():
    """(steal, total) jiffies of the host's CPUs: steal shows a noisy host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    home = spark_home()
    env["SPARK_HOME"] = home
    classes = build(build_dir, env)

    fixture = os.path.join(build_dir, "fixtures",
                           f"{args.workload}-seed{args.seed}-c{w['n_convs']}-v{w['vocab']}")
    meta = gen.write(fixture, args.seed, w["n_convs"], w["vocab"], w.get("increments", 0))
    common = dict(kind=w["kind"], fixture=fixture, increments=meta["increments"],
                  replay=meta["replay"] if meta["replay"] is not None else 0,
                  fact_turns=meta["fact_turns"], true_pairs=meta["true_pairs"])
    tag = f"{args.workload}-{args.seed}"
    steal0, total0 = cpu_times()

    if args.trace:
        spans = os.path.join(build_dir, "traces", f"{tag}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        traced = jvm(classes, home, build_dir, tag + "-trace", mode="trace", spans=spans, **common)
        if traced is None:
            fail("the benchmark JVM failed")
        attempted, failed = traced["attempted"], traced["failed"]
        diagnostics = {k: traced[k] for k in ("load1_start", "load1_end")}
        units = PER_LAYER
        result = {k: traced.get(k, 0.0) for k in PER_LAYER}
    else:
        main_run = jvm(classes, home, build_dir, tag, mode="run", seconds=args.seconds, **common)
        if main_run is None:
            fail("the benchmark JVM failed")
        setups = [main_run["setup_s"]]
        for i in range(1, SETUPS):
            probe = jvm(classes, home, build_dir, f"{tag}-setup{i}", mode="setup", **common)
            if probe is None:
                fail("a set-up JVM failed")
            setups.append(probe["setup_s"])
        attempted, failed = main_run["attempted"], main_run["failed"]
        result = dict(main_run)
        result["setup_s"] = statistics.median(setups)
        # input turns, the replayed increment's not counted again; the
        # resumable path is paid once per input, so incremental uses the cold pass
        wall = main_run["cold_wall_s" if w["kind"] == "incremental" else "warm_wall_s"]
        result["turns_per_s"] = meta["turns"] / wall
        result["ok_rate"] = (attempted - failed) / attempted
        diagnostics = {
            "setups_s": setups, "warm_passes": main_run["warm_passes"],
            "cpu_probe_s": main_run["cpu_probe_s"], "load1_start": main_run["load1_start"],
            "load1_end": main_run["load1_end"], "turns": meta["turns"]}
        units = END_TO_END
        result = {k: result[k] for k in END_TO_END}
    steal1, total1 = cpu_times()
    diagnostics["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    print(json.dumps({"diagnostics": diagnostics}))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in result.items()}
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
