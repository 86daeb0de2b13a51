"""Run every workload of BENCHMARK.json on several seeds and summarize.

    python3 ivmbench/repeat.py --runs 10 --first-seed 100
    python3 ivmbench/repeat.py --runs 10 --traced --out ivmbench/baseline.json
    python3 ivmbench/repeat.py --runs 10 --against ivmbench/baseline.json

For each end-to-end metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread, the
distance between the quartiles as a share of the median, next to the
metric's bound. ``--traced`` adds one ``--trace 1`` run per workload for the
per-layer figures; ``--out`` writes everything as JSON; ``--against`` prints
each median as a ratio to a JSON written earlier.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t0
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "values": values}


def rig() -> dict:
    mem = ""
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            mem = f.readline().split(":")[1].strip()
    import pyspark

    return {"cores": os.cpu_count(), "memory": mem, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "date": time.strftime("%Y-%m-%d")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated subset")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    base = None
    if args.against:
        with open(args.against) as f:
            base = json.load(f)["workloads"]
    doc = {"rig": rig(), "run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    for wl in names:
        runs = [run_once(wl, s, spec["run_seconds"], 0) for s in seeds]
        entry = {
            "correct": all(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "run_wall_s": summarize([r["wall_s"] for r in runs]),
            "end_to_end": {},
        }
        print(f"{wl}: correct={entry['correct']} failed={entry['failed']}/{entry['attempted']} "
              f"run wall median {entry['run_wall_s']['median']:.1f} s")
        for m in spec["end_to_end"]:
            s = summarize([r["metrics"][m["name"]]["value"] for r in runs])
            entry["end_to_end"][m["name"]] = s
            line = (f"  {m['name']:<14} median {s['median']:<12.6g} q1 {s['q1']:<12.6g} "
                    f"q3 {s['q3']:<12.6g} spread {s['spread']:.3f} (bound {m['bound']})")
            if base and wl in base:
                line += f"  x{s['median'] / base[wl]['end_to_end'][m['name']]['median']:.3f} vs baseline"
            print(line)
        if args.traced:
            res = run_once(wl, seeds[0], spec["run_seconds"], 1)
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
        doc["workloads"][wl] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
