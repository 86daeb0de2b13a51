"""Run one benchmark workload and print its result line.

    python3 ivmbench/run.py --workload q10_trickle --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload runs in a child process (its own
process group, so the Spark JVM it launches can be waited for and killed);
its Spark temp and shuffle files, event log and state stay under
``.ivmbench/`` in the root. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1`` (that run
also turns on the Spark event log and the engine's ``instrument=True``, and
writes its spans to ``.ivmbench/spans_<workload>.jsonl``). Metric names,
units and bounds are in ``BENCHMARK.json``; definitions are in
``ivmbench/workloads.py``.
"""

from __future__ import annotations

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
WORK = os.path.join(ROOT, ".ivmbench")
TIMEOUT_S = 170


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def wait_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of a group to end; kill what outlives grace."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bench.py")) or not os.path.isdir(
        os.path.join(ROOT, "flink_and_acyclic_schema_spark")
    ):
        print("ivmbench: run from a checkout of the engine repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from ivmbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"ivmbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS="4",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # for both JVMs, the spark-submit launcher's and Spark's: temp files
        # in the run dir, and no HotSpot perf-data file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "driver.log")
    cmd = [sys.executable, "-m", "ivmbench.workloads", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), run_dir, out]
    with open(log, "w") as err, open(os.path.join(run_dir, "stdout.log"), "w") as so:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=so, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
        wait_group(proc.pid, grace_s=15)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"ivmbench: workload exited with {code}", file=sys.stderr)
        return 1

    with open(out) as f:
        res = json.load(f)
    spec = load_spec()
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        from ivmbench.trace import log_errors

        res["layers"]["spark.log_errors"] = log_errors(log)
        # tracing overhead: this run's op_cpu_s against the last untraced run
        last = os.path.join(WORK, f"last_untraced_{args.workload}.json")
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["op_cpu_s"]
            res["layers"]["trace.overhead_s"] = res["metrics"]["op_cpu_s"] - base
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(WORK, f"spans_{args.workload}.jsonl"))
        values = res["layers"]
    else:
        with open(os.path.join(WORK, f"last_untraced_{args.workload}.json"), "w") as f:
            json.dump(res["metrics"], f)
        values = res["metrics"]
    line = {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in names},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
