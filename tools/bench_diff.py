"""Diff two bench JSON records (BENCH_r{N}.json or bench.py output lines):
per-query walltime deltas AND plan-shape changes.

Walltime on this rig wobbles ±20% with VM conditions; plan shapes don't.
A query whose time moved but whose plan is unchanged is almost certainly
noise; a plan-shape diff is a real structural change regardless of timing.

Usage:  python tools/bench_diff.py BENCH_r03.json BENCH_r04.json [--tol 0.25]
Exit code 1 if any plan shape changed (usable as a CI tripwire).
"""

from __future__ import annotations

import json
import os
import sys


def _load(path: str) -> dict:
    doc = _load_raw(path)
    if "plans" not in doc:
        # r12: bench.py moved the bulky plan metrics out of the contract line
        # into a side file so the line can never outgrow the driver's capture.
        # The side file is overwritten by every run, so it is attached only
        # when it records the SAME run (run_id + sf) — grafting one payload
        # onto two documents would make plan regressions vanish from the diff
        side = os.path.join(os.path.dirname(os.path.abspath(path)), "BENCH_PLANS.json")
        if os.path.exists(side):
            with open(side) as fh:
                plans_doc = json.load(fh)
            same_run = doc.get("run_id") is not None and all(
                plans_doc.get(k) == doc.get(k) for k in ("run_id", "sf")
            )
            if same_run:
                doc = {**doc, "plans": plans_doc.get("plans", {})}
            else:
                print(
                    f"warning: {side} records a different run than {path}; "
                    "diffing it without plans",
                    file=sys.stderr,
                )
    return doc


def _load_raw(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    try:  # a plain (possibly pretty-printed) JSON document
        doc = json.loads(text)
        if "queries" in doc:
            return doc
        if "tail" in doc:  # driver BENCH_r{N}.json wraps the line in its log tail
            text = doc["tail"]
        else:
            return doc
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():  # a JSON line buried among log output
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    raise ValueError(f"no JSON object found in {path}")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tol = 0.25
    for a in sys.argv[1:]:
        if a.startswith("--tol"):
            tol = float(a.split("=", 1)[1]) if "=" in a else tol
    old, new = _load(args[0]), _load(args[1])
    print(f"total: {old.get('value')} -> {new.get('value')} sec")
    plan_changed = []
    for q, t_new in sorted(new.get("queries", {}).items()):
        t_old = old.get("queries", {}).get(q)
        mark = ""
        if t_old:
            r = t_new / t_old
            if r > 1 + tol or r < 1 - tol:
                mark = f"  [{r:.2f}x]"
        p_old = old.get("plans", {}).get(q)
        p_new = new.get("plans", {}).get(q)
        if p_old is not None and p_new is not None and p_old != p_new:
            delta = {
                k: (p_old.get(k), p_new.get(k))
                for k in set(p_old) | set(p_new)
                if p_old.get(k) != p_new.get(k)
            }
            plan_changed.append(q)
            mark += f"  PLAN CHANGED {delta}"
        print(f"  {q:34s} {t_old if t_old is not None else '—':>7} -> {t_new:7}{mark}")
    # continuous/IVM stacks (round 9): separate walltime series, no static
    # plan record (building an incremental_ entry executes its pipeline)
    for q, t_new in sorted(new.get("continuous", {}).items()):
        t_old = old.get("continuous", {}).get(q)
        mark = ""
        if t_old:
            r = t_new / t_old
            if r > 1 + tol or r < 1 - tol:
                mark = f"  [{r:.2f}x]"
        print(f"  {q:34s} {t_old if t_old is not None else '—':>7} -> {t_new:7}{mark}  (continuous)")
    if plan_changed:
        print(f"\nPLAN SHAPES CHANGED: {plan_changed}")
        return 1
    print("\nplan shapes: unchanged" if old.get("plans") and new.get("plans") else "")
    return 0


if __name__ == "__main__":
    sys.exit(main())
