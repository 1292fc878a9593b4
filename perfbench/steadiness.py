"""Run the benchmark several times per workload and report each metric's spread.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 \\
        --out perfbench/results/set1.json

Run from the root of a checkout.  Workloads, run length and bounds come
from BENCHMARK.json.  For every workload and end-to-end metric the output
holds the per-run values, their median, and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median.  ``--compare`` takes an earlier output and reports,
per metric, how far this set's median moved from that set's, as a share
of the earlier median (positive = worse).  Each run also records the
share of the machine's CPU time the hypervisor took (steal, from
``/proc/stat``) while it ran, so slow runs on a contended host show.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, all CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", required=True)
    p.add_argument("--compare")
    args = p.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t, (s0, n0) = time.perf_counter(), steal_ticks()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            wall, (s1, n1) = time.perf_counter() - t, steal_ticks()
            steal = (s1 - s0) / (n1 - n0)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed} exited {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(wall, 1),
                         "host_steal": round(steal, 3), **result})
            print(f"{w} seed={seed} wall={wall:.0f}s steal={steal:.1%} "
                  f"correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        summary = {}
        for name, m in metrics.items():
            values = [r["metrics"][name]["value"] for r in runs]
            summary[name] = {
                "unit": m["unit"], "bound": m["bound"],
                "median": statistics.median(values),
                "spread": spread(values), "values": values,
            }
        report["workloads"][w] = {"runs": runs, "metrics": summary}
    if args.compare:
        with open(args.compare) as f:
            before = json.load(f)
        for w, entry in report["workloads"].items():
            for name, s in entry["metrics"].items():
                old = before["workloads"][w]["metrics"][name]["median"]
                worse = (s["median"] - old) / old
                if metrics[name]["better"] == "higher":
                    worse = -worse
                s["median_worse_than_compared"] = worse
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, entry in report["workloads"].items():
        for name, s in entry["metrics"].items():
            extra = ""
            if "median_worse_than_compared" in s:
                extra = f" vs-earlier={s['median_worse_than_compared']:+.3f}"
            print(f"{w:20s} {name:18s} median={s['median']:.4g} "
                  f"spread={s['spread']:.3f} bound={s['bound']}{extra}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
