"""Run-to-run steadiness of the benchmark's end-to-end metrics.

    python3 syncbench/steadiness.py --workloads file_sync,jdbc_sync \
        --seeds 1-10 --seconds 10 [--out steady.json]

Runs syncbench/run.py once per (workload, seed) from the repository
root and prints, per workload and metric, the median of the runs and
the spread: the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median. It also prints
each run's wall time, the share of the host's CPU time that was stolen
from this machine during the run (from /proc/stat, where it exists) and
the failed share of attempted operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7], sum(v[:8])


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--out")
    args = p.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            c0 = cpu_times()
            proc = subprocess.run(
                [sys.executable, run, "--workload", w, "--seed", str(s),
                 "--seconds", str(args.seconds), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            c1 = cpu_times()
            steal = (c1[0] - c0[0]) / max(c1[1] - c0[1], 1) if c0 else None
            if proc.returncode != 0:
                print("%s seed %d: exit code %d" % (w, s, proc.returncode))
                continue
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            info = json.loads(lines[0]).get("info") if len(lines) > 1 else None
            runs.append({"seed": s, "wall_s": wall, "steal": steal,
                         "result": res, "info": info})
            print("%s seed %d: %.1f s, steal %s, correct=%s, failed %d/%d" % (
                w, s, wall, "n/a" if steal is None else "%.3f" % steal,
                res["correct"], res["failed"], res["attempted"]))
            sys.stdout.flush()
        metrics = {}
        for name in runs[0]["result"]["metrics"] if runs else []:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            metrics[name] = {"median": med, "spread": (q[2] - q[0]) / med
                             if med else 0.0, "values": vals}
            print("  %-22s median %12.4f  spread %.3f" % (
                name, med, metrics[name]["spread"]))
        shares = sorted({r["result"]["failed"] / r["result"]["attempted"]
                         for r in runs})
        print("  failed shares %s, run wall %.1f-%.1f s" % (
            shares, min(r["wall_s"] for r in runs),
            max(r["wall_s"] for r in runs)) if runs else "  no runs")
        report[w] = {"metrics": metrics, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
