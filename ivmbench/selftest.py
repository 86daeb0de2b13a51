"""Self-test of the benchmark's own machinery; needs no Spark.

    python3 ivmbench/selftest.py

Checks that the same seed writes byte-identical inputs and another seed does
not, that every prefix of a generated changelog nets to a valid multiset (no
row retracted below zero), and that the oracle check catches a perturbed
result and a skipped chunk. Exits non-zero on the first failure.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from ivmbench import gen, oracle  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".ivmbench", "selftest")
N_TRICKLE = 12


def _bytes(d: str) -> list[bytes]:
    out = []
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    runs = {}
    for kind, seed, tag in (("q10", 5, "a"), ("q10", 5, "b"), ("q10", 6, "c"), ("leaderboard", 5, "d")):
        d = os.path.join(WORK, tag)
        runs[tag] = (d, gen.write_chunks(kind, seed, 0.002, N_TRICKLE, d))
    check(_bytes(runs["a"][0]) == _bytes(runs["b"][0]), "same seed writes byte-identical chunks")
    check(_bytes(runs["a"][0]) != _bytes(runs["c"][0]), "another seed writes other chunks")
    t1, t2 = (os.path.join(WORK, t) for t in ("t1", "t2"))
    gen.write_tables(gen.base_tables(5, 0.002), t1)
    gen.write_tables(gen.base_tables(5, 0.002), t2)
    check(_bytes(t1) == _bytes(t2), "same seed writes byte-identical base tables")

    for tag, sql in (("a", oracle.Q10_TOP20), ("d", oracle.LEADERBOARD_TOP5)):
        d, (_, rel_columns, rows) = runs[tag]
        check(all(r > 0 for r in rows), f"{tag}: every chunk holds rows")
        for n in (2, N_TRICKLE // 2, N_TRICKLE + 1):
            con = oracle.net_multiset(d, n, rel_columns)
            neg = sum(con.execute(f"SELECT count(*) FROM {r} WHERE w < 0").fetchone()[0] for r in rel_columns)
            check(neg == 0, f"{tag}: prefix of {n} chunks nets to a valid multiset")
        full = oracle.net_multiset(d, N_TRICKLE + 1, rel_columns).execute(sql).fetch_df()
        check(oracle.mismatch(full.copy(), full) is None, f"{tag}: the oracle accepts its own result")
        bad = full.copy()
        col = "revenue" if "revenue" in bad else "top_revenue"
        bad.loc[0, col] *= 1.0001
        check(oracle.mismatch(bad, full) is not None, f"{tag}: a perturbed result is caught")
        short = oracle.net_multiset(d, N_TRICKLE, rel_columns).execute(sql).fetch_df()
        check(oracle.mismatch(short, full) is not None, f"{tag}: a skipped last chunk is caught")
    shutil.rmtree(WORK)


if __name__ == "__main__":
    main()
