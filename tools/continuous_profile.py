"""Per-phase job/second breakdown of EVERY bench CONTINUOUS stack at the
bench's own scale (sf0.1) — the round-11 optimization round's measurement
harness. The registered plan functions build their engines internally, so
this patches IncrementalAcyclicQuery to (a) switch instrument=True on and
(b) append every batch's last_profile to a global trace, then runs each
CONTINUOUS query exactly as bench.py does (noop sink) and aggregates
jobs/sec per phase across all batches and engines of the stack.

Usage: python tools/continuous_profile.py [sf_dir] [query ...]
Prints one JSON object per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from flink_and_acyclic_schema_spark.caching import release_persisted  # noqa: E402
from flink_and_acyclic_schema_spark.registry import QUERIES  # noqa: E402
from flink_and_acyclic_schema_spark.session import get_spark  # noqa: E402
from flink_and_acyclic_schema_spark.streaming.acyclic import (  # noqa: E402
    IncrementalAcyclicQuery,
)

TRACE: list[dict] = []

_orig_init = IncrementalAcyclicQuery.__init__
_orig_pb = IncrementalAcyclicQuery.process_batch


def _patched_init(self, *a, **kw):
    _orig_init(self, *a, **kw)
    self.instrument = True


def _patched_pb(self, deltas, batch_id=None, emit_delta=False):
    t0 = time.perf_counter()
    out = _orig_pb(self, deltas, batch_id, emit_delta)
    TRACE.append(
        {
            "engine": os.path.basename(self.state_dir),
            "batch": batch_id,
            "batch_sec": round(time.perf_counter() - t0, 3),
            "checkpoints": self.last_checkpoints,
            "factored": self.last_factored,
            "one_task": self.last_one_task,
            "phases": {
                k: {"jobs": v["jobs"], "sec": round(v["sec"], 3)}
                for k, v in self.last_profile.items()
            },
        }
    )
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or [
        "incremental_q10_topk_buffer_stream",
        "incremental_grouped_topk_chained_stream",
        "incremental_topk_chain_depth4_stream",
        "incremental_trending_topk_stream",
    ]
    IncrementalAcyclicQuery.__init__ = _patched_init
    IncrementalAcyclicQuery.process_batch = _patched_pb
    spark = get_spark(app_name="continuous_profile")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        TRACE.clear()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        release_persisted()
        phase_tot: dict[str, dict] = {}
        total_jobs = 0
        for b in TRACE:
            for k, v in b["phases"].items():
                agg = phase_tot.setdefault(k, {"jobs": 0, "sec": 0.0})
                agg["jobs"] += v["jobs"]
                agg["sec"] = round(agg["sec"] + v["sec"], 3)
                total_jobs += v["jobs"]
        profiled_sec = round(sum(v["sec"] for v in phase_tot.values()), 3)
        print(
            json.dumps(
                {
                    "query": name,
                    "wall_sec": wall,
                    "profiled_jobs": total_jobs,
                    "profiled_sec": profiled_sec,
                    "batches": TRACE,
                    "phase_totals": phase_tot,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
