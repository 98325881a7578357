"""graft workload benchmark: one closed-loop client, one Spark process.

    python3 perfbench/run.py --workload retail_dag --seed 1 --seconds 12 --trace 0

Run from the repository root.  It builds graft from source (perfbench/build.py),
reads the input tables under perfbench/data, generates the seeded batches of
retail_incremental from them (perfbench/gen.py), runs the workload in one JVM
(perfbench/src/graftbench), checks the outputs (perfbench/check.py) outside the
timed region, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.  Everything it writes
lands under the build directory ($CARGO_TARGET_DIR, default .bench_build).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# BENCHMARKED are the workloads BENCHMARK.json lists; retail_dag runs the
# same way but is left out of the list for time (see README.md)
BENCHMARKED = ["retail_incremental", "training_data"]
WORKLOADS = BENCHMARKED + ["retail_dag"]
# the fixed input tables: the project's testdata, copied under data/; sf0.1
# is the benchmark's input, sf0.001 the self-test's
INPUTS = {n: os.path.join(HERE, "data", n) for n in ("sf0.1", "sf0.001")}
# daily delta batches generated for retail_incremental, more than a run
# uses on sf0.1 (one warm and two timed batches, five when traced); a run
# stops early when they are used up
BATCHES = 12
# wall time allowed from the end of the build to the end of the run; the
# build itself (a cold compile, first run in a checkout) is outside it
DEADLINE_S = 165.0
# time kept back from the JVM for the correctness gate
CHECK_RESERVE_S = 20.0
# Hot methods reach the optimizing compiler within the warm pass (without
# the scaling, timed passes kept speeding up and runs spread 15-30%); no
# hsperfdata file outside the checkout.
JVM_OPTS = ["-Xss8m", "-Xmx3g", "-XX:CompileThresholdScaling=0.2", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# every step/operation of every workload, in pass order, for the per-layer names
STEPS = {
    "retail_dag": ["clean", "dim_customers", "dim_products", "dim_dates", "dim_serial",
                   "fact_build", "fk_audit", "publish_fact", "star_revenue", "star_topn", "rfm"],
    "retail_incremental": ["merge", "append", "correction", "replica", "read", "lookup", "changes"],
    "training_data": ["pipeline_curate", "pipeline_pack", "sim_knn_graph", "q52_pagerank"],
}
SPARK_LAYERS = [("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("job_s", "s"),
                ("driver_gap_s", "s"), ("core_util", "ratio"), ("shuffle_write_bytes", "B"),
                ("shuffle_read_bytes", "B"), ("spill_bytes", "B"), ("gc_s", "s"),
                ("input_rows", "count")]
STEP_LAYERS = [("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("driver_gap_s", "s")]
TX_LAYERS = [("write_amp", "ratio"), ("files_per_commit", "count"), ("space_amp", "ratio"),
             ("scan_rows_per_result", "ratio")]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(rec):
    timed = [p for p in rec["passes"] if p["label"] == "timed" and p["ok"]]
    ids = {p["id"] for p in timed}
    ops = [s for s in rec["spans"] if s["parent"] in ids]
    # the build half of a pass: its writes (commits, materialized steps);
    # the replica's catch-ups are in pass_s only
    def build(p):
        return sum(s["wall_s"] for s in ops if s["parent"] == p["id"] and s["kind"] == "write")
    return {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in timed]), "s"),
        "build_s": (median([build(p) for p in timed]), "s"),
    }


def per_layer(workload, rec, cores, peak_rss_mb):
    passes = [p for p in rec["passes"] if p["label"] == "timed" and p["ok"]]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    spans = {s["id"]: s for s in rec["spans"]}
    out = {}
    for name, unit in SPARK_LAYERS:
        vals = []
        for p in traced:
            lay = spans[p["id"]]["layers"]
            vals.append(lay["task_s"] / (p["wall_s"] * cores) if name == "core_util" else lay[name])
        out[f"spark.{name}"] = (median(vals), unit)
    for w in BENCHMARKED + ([workload] if workload not in BENCHMARKED else []):
        for step in STEPS[w]:
            for name, unit in STEP_LAYERS:
                # per pass, the sum over the step's spans (the replica
                # syncs twice a batch), then the median over passes
                vals = [sum(s["wall_s"] if name == "wall_s" else s["layers"][name]
                            for s in rec["spans"] if s["name"] == step and s["parent"] == p["id"])
                        for p in traced]
                # a step of another workload does not run here: 0
                out[f"{w}.{step}.{name}"] = (median(vals) if w == workload else 0.0, unit)
    tx = {k: 0.0 for k, _ in TX_LAYERS}
    if workload == "retail_incremental":
        st = [s for s in rec["storage"] if s]
        if st:
            tx["write_amp"] = sum(s["written_bytes"] for s in st) / sum(s["input_bytes"] for s in st)
            tx["files_per_commit"] = sum(s["files"] for s in st) / sum(s["commits"] for s in st)
            tx["space_amp"] = st[-1]["disk_bytes"] / st[-1]["live_bytes"]
        looked = [s for s in rec["spans"] if s["name"] == "lookup" and s.get("layers")]
        hits = {b["batch"]: len(b["lookup_keys"]) for b in rec["batches"]}
        returned = sum(hits.get(s["pass"], 0) for s in looked)
        if returned:
            tx["scan_rows_per_result"] = sum(s["layers"]["input_rows"] for s in looked) / returned
    for k, unit in TX_LAYERS:
        out[f"tx.{k}"] = (tx[k], unit)
    out["replica.jobs_per_batch"] = (out["retail_incremental.replica.jobs"][0], "count")
    # replica lag: from the end of the batch's append to the replica caught
    # up with it, over every timed pass (spans are recorded traced or not)
    lag = []
    if workload == "retail_incremental":
        for p in passes:
            kids = [s for s in rec["spans"] if s["parent"] == p["id"]]
            append = next(s for s in kids if s["name"] == "append")
            synced = next(s for s in kids if s["name"] == "replica" and s["end_ms"] >= append["end_ms"])
            lag.append((synced["end_ms"] - append["end_ms"]) / 1000.0)
    out["replica.lag_s"] = (median(lag) if lag else 0.0, "s")
    out["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
    out["jvm.retained_heap_mb"] = (rec["retained_heap_mb"], "MB")
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                               median([p["wall_s"] for p in untraced]), "s")
    # pass wall time outside every step: what the per-step wall_s miss
    out["trace.unaccounted_s"] = (median([p["wall_s"] - sum(
        s["wall_s"] for s in rec["spans"] if s["parent"] == p["id"]) for p in traced]), "s")
    return out


def wait_with_rusage(proc, timeout):
    """Wait for `proc`; return its exit code (None on timeout, after killing
    it) and its own peak resident memory in MB."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, ru.ru_maxrss / 1024.0
        time.sleep(0.05)
    proc.kill()
    proc.wait()
    return None, 0.0


def provenance(args, root, stamp, build, cores, tables, rec, load0):
    rev = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            rev = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_revision": rev, "source_sha256": stamp, "compile_s": build,
            "nproc": nproc(), "spark_cores": cores,
            "input_dir": os.path.relpath(tables, root), "seed": args.seed,
            "jvm": rec.get("jvm"), "spark": rec.get("spark"),
            "loadavg_start": load0, "loadavg_end": list(os.getloadavg())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--input", choices=sorted(INPUTS), default="sf0.1",
                    help="fixed input tables (sf0.001 is the self-test's)")
    ap.add_argument("--pin", action="store_true",
                    help="re-pin the oracle answers' hashes (perfbench/expected.json) first")
    args = ap.parse_args()
    load0 = list(os.getloadavg())
    root = os.getcwd()
    tables = INPUTS[args.input]
    if not os.path.isfile(os.path.join(tables, "lineitem.parquet")):
        raise SystemExit(f"input tables missing under {tables}")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    classpath, stamp, compile_s = build.build(root, bdir)
    t_start = time.monotonic()

    cores = nproc()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    batch_dir = os.path.join(bdir, "batches", tag)
    work = os.path.join(bdir, "work", tag)
    result_file = os.path.join(work, "result.json")
    shutil.rmtree(batch_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if args.workload == "retail_incremental":
            gen.generate(args.seed, tables, batch_dir, BATCHES)
        phases = {"gen_s": time.monotonic() - t_start}
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "graftbench.Main", "--workload", args.workload,
                "--data", tables, "--batches", batch_dir, "--work", work,
                "--out", os.path.join(work, "out"), "--result", result_file,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(cores)])
        log_path = os.path.join(bdir, "logs", tag + ".log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
            code, peak_rss_mb = wait_with_rusage(
                proc, max(10.0, DEADLINE_S - CHECK_RESERVE_S - (time.monotonic() - t_start)))
        if code != 0:
            sys.stderr.write(open(log_path).read()[-3000:])
            raise SystemExit(f"graftbench JVM failed: {'timeout' if code is None else code}")
        phases["jvm_s"] = time.monotonic() - t_start - phases["gen_s"]
        rec = json.load(open(result_file))
        if args.pin and "checks" in rec:
            check.pin(tables, os.path.join(work, "tmp"), rec)
        mismatches = check.check(args.workload, tables, batch_dir, os.path.join(work, "tmp"), rec)
        phases["check_s"] = time.monotonic() - t_start - phases["gen_s"] - phases["jvm_s"]
        for m in mismatches:
            print(f"MISMATCH {args.workload}: {m}", file=sys.stderr)
        metrics = (per_layer(args.workload, rec, cores, peak_rss_mb) if args.trace
                   else end_to_end(rec))
        prov = provenance(args, root, stamp, compile_s, cores, tables, rec, load0)
        timed = [p for p in rec["passes"] if p["label"] == "timed"]
        result = {"correct": not mismatches and rec["failed"] == 0 and bool(timed)
                  and all(p["ok"] for p in timed),
                  "attempted": rec["attempted"], "failed": rec["failed"],
                  # a metric nothing measured (every pass failed) is null, never NaN
                  "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                              for k, (v, u) in metrics.items()}}
        record = {"provenance": prov, "phases_s": phases, "workload": args.workload,
                  "trace": args.trace,
                  "mismatches": mismatches, "setup_s": rec["setup_s"], "passes": rec["passes"],
                  "result": result}
        os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
        with open(os.path.join(bdir, "results", tag + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        with open(os.path.join(bdir, "results", tag + ".spans.json"), "w") as f:
            json.dump(rec["spans"], f)
        print("PROVENANCE " + json.dumps(prov))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(batch_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
