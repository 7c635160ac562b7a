"""Steadiness check: runs the benchmark in sets of runs on the same commit
and prints, per workload and end-to-end metric, each set's median and
quartiles, the quartile spread as a share of the median, and whether the
sets agree within the bounds in BENCHMARK.json.

    python3 starbench/steady.py                       # 2 sets x 10 runs, every workload
    python3 starbench/steady.py --sets 1 --runs 5 --workloads dashboard_mixed

Set k runs seeds seed0 + k*runs .. seed0 + (k+1)*runs - 1. A metric passes
when every set's spread is within its bound (setup_s is exempt, as its
median is what is compared) and no later set's median is worse than the
first set's by more than the bound. "margin" flags spreads above a third
of the bound. Raw results go to .bench_work/steady.json."""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return result, wall, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    metrics = bench["end_to_end"]

    values = {}  # (set, workload, metric) -> [values]
    log = []
    for k in range(args.sets):
        for j in range(args.runs):
            seed = args.seed0 + k * args.runs + j
            for w in workloads:  # interleaved, so box drift hits every workload
                result, wall, err = run_once(w, seed, bench["run_seconds"])
                log.append({"set": k, "workload": w, "seed": seed, "wall_s": wall,
                            "result": result, "stderr": err})
                ok = result["correct"] and result["failed"] == 0
                print(f"set {k} {w:<16} seed {seed} wall {wall:5.1f}s correct={ok} " +
                      " ".join(f"{m}={v['value']:.4g}" for m, v in result["metrics"].items()),
                      flush=True)
                for m, v in result["metrics"].items():
                    values.setdefault((k, w, m), []).append(v["value"])
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", "steady.json"), "w") as f:
        json.dump(log, f, indent=1)

    walls = [e["wall_s"] for e in log]
    print(f"\nruns {len(walls)}, mean wall {sum(walls) / len(walls):.1f}s, max {max(walls):.1f}s")
    all_ok = True
    for w in workloads:
        print(f"\n{w}")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            sets = [values[(k, w, name)] for k in range(args.sets)]
            q = [stats.quartiles(v) for v in sets]
            spreads = [stats.spread(v) for v in sets]
            line = f"  {name:<24}"
            for (q1, med, q3), s in zip(q, spreads):
                line += f" | med {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} spread {s:6.3f}"
            spread_ok = name == "setup_s" or all(s <= bound for s in spreads)
            worse = [((qq[1] - q[0][1]) if lower else (q[0][1] - qq[1])) / q[0][1] for qq in q[1:]]
            agree = all(x <= bound for x in worse)
            margin = all(s <= bound / 3 for s in spreads)
            ok = spread_ok and agree
            all_ok &= ok
            line += f" | bound {bound} {'ok' if ok else 'FAIL'}"
            if worse:
                line += f" worse-by {max(worse):+.3f}"
            if not margin:
                line += " (spread above bound/3)"
            print(line)
    print("\nall metrics agree within their bounds" if all_ok else "\nSOME METRICS FAIL")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
