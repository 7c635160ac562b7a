"""SportsTV warehouse benchmark: one workload, one seed, one run.

    python3 starbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (starbench/build.py), generates
the seeded inputs, runs the workload in one JVM and prints, as the last
line of standard output, {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A readable table of every metric, with diagnostics, goes to
standard error. See starbench/README.md."""

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
import stats  # noqa: E402

WORKLOADS = ("etl_full", "dashboard_mixed")
SCALE = 0.125
DEADLINE_S = 170
# JVM options of one workload. graft.Engine leaves Spark's generated-code
# cache at its default of 100 classes, which a reload and its correctness
# gate overflow: each JVM then recompiles 18-44 classes per reload, how many
# is decided per JVM, and reload medians over five seeds ranged 2.5-3.6 s
# (quartile spread 0.26, over the bound). etl_full runs with the cache
# pinned large; dashboard_mixed, which recompiles ~15 classes per query in
# every JVM alike, runs as graft.Engine configures it. See README.md.
JVM_OPTS = {"etl_full": ["-Dspark.sql.codegen.cache.maxEntries=2000"]}

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "records_per_s": "rec/s",
    "peak_rss_mb": "MB", "store_bytes_per_record": "B/rec",
}


def end_to_end(workload, rec):
    """End-to-end metrics from a run record (see README.md for definitions)."""
    op_ms = rec["op_ms"]
    if workload == "dashboard_mixed":
        folded, fold_ms = sum(rec["ingest_records"]), sum(rec["ingest_ms"])
    else:
        folded, fold_ms = sum(rec["op_records"]), sum(op_ms)
    return {
        "setup_s": rec["setup_s"],
        "op_p50_ms": stats.median(op_ms),
        "ops_per_s": len(op_ms) / (sum(op_ms) / 1e3),
        "records_per_s": folded / (fold_ms / 1e3),
        "peak_rss_mb": rec["peak_rss_mb"],
        "store_bytes_per_record": rec["store_bytes"] / rec["held_records"],
    }


def diagnostics(workload, rec):
    """Figures printed for the reader and never compared."""
    op_ms = rec["op_ms"]
    d = {
        "failed_op_ratio": rec["failed"] / max(1, rec["attempted"]),
        "ops_timed": len(op_ms),
        "warmup_units": rec["warmup_units"], "warmup_s": rec["warmup_s"],
        "warmup_settled": rec["warmup_settled"],
        "session_start_s": rec["session_start_s"], "setup_rep_s": rec["setup_rep_s"],
        "generate_s": rec["generate_s"], "window_s": rec["window_s"],
        "calibration": rec["calibration"],
        "input_sha256": rec["input_sha256"],
    }
    p = stats.tail_percentile(len(op_ms))
    if p is not None and p > 50:
        d[f"op_p{p:g}_ms"] = stats.percentile(op_ms, p)
    if workload == "dashboard_mixed":
        d["report_ms"] = stats.median(rec["unit_ms"])
        d["ingests_measured"] = len(rec["ingest_ms"])
    return d


def run_jvm(args, b, work, out, deadline):
    cmd = b.java("starbench.Main",
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--out", out, "--scale", str(SCALE)], work,
                 opts=JVM_OPTS.get(args.workload, []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(build.CORES))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        b, build_s = build.build()
    except build.BuildError as e:
        sys.exit(f"starbench: cannot build: {e}")
    # the first run in a checkout also pays the build; later runs get the
    # usual deadline
    deadline = t_start + DEADLINE_S + (build_s if build_s > 0 else 0)

    work = os.path.join(ROOT, ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    code = run_jvm(args, b, work, out, deadline)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"starbench: JVM {'timed out' if code is None else f'exited with {code}'}")
    with open(out) as f:
        rec = json.load(f)

    # keep the run record, the JVM log and the spans; drop the stores
    keep = os.path.join(ROOT, ".bench_work", "runs")
    os.makedirs(keep, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    shutil.copy(out, os.path.join(keep, f"{tag}.json"))
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(keep, f"{tag}.log"))
    if args.trace and rec.get("spans_file"):
        trace_dir = os.path.join(ROOT, ".bench_work", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(rec["spans_file"], trace_dir)
    shutil.rmtree(work, ignore_errors=True)

    if not rec["op_ms"] or (args.trace and not rec["traced_op_ms"]):
        sys.exit("starbench: no op succeeded: " + "; ".join(rec["errors"][:3]))
    correct = rec["failed"] == 0 and not rec["errors"]
    e2e = end_to_end(args.workload, rec)
    diag = diagnostics(args.workload, rec)
    if args.trace:
        metrics = dict(rec["trace"])
        metrics["trace.overhead_ratio"] = {
            "value": stats.median(rec["traced_op_ms"]) / stats.median(rec["op_ms"]),
            "unit": "ratio"}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    err = sys.stderr
    err.write(f"starbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} scale={SCALE:g} local[{build.CORES}] heap={build.HEAP} G1 "
              f"{' '.join(JVM_OPTS.get(args.workload, []))} "
              f"class-data archive={'yes' if os.path.exists(b.archive) else 'no'}\n")
    for k, v in e2e.items():
        err.write(f"  {k:<28} {v:>14.4f} {END_TO_END[k]}\n")
    for k, v in diag.items():
        err.write(f"  {k:<28} {v}\n")
    if args.trace:
        for k, m in metrics.items():
            err.write(f"  {k:<36} {m['value']:>14.4f} {m['unit']}\n")
    for e in rec["errors"]:
        err.write(f"  ERROR {e}\n")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
