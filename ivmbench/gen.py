"""Seeded input generator: TPC-H-shaped base tables and changelog chunks.

Everything here is a pure function of ``seed`` (numpy ``PCG64``), so the same
seed writes byte-identical parquet files. The program under test only ever
sees the files.

- ``write_tables`` writes the ten base tables with the column names and types
  of ``flink_and_acyclic_schema_spark.schemas`` (one file, one row group per
  table), for the batch workload.
- ``write_chunks`` writes a changelog in the wide ``rel, weight, <columns>``
  parquet schema that ``streaming.delta_transport.run_delta_stream`` and
  ``split_deltas`` consume: chunk 0 bootstraps the base tables, every later
  chunk is a small trickle update. Updates retract a currently-live row and
  re-insert its new version, so the net multiset of any prefix of chunks is
  a valid database.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
ORDER_DATE_LO = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
Q10_LO = np.datetime64("1995-10-01", "us").astype(np.int64)
Q10_HI = np.datetime64("1996-01-01", "us").astype(np.int64)
EVENTS_LO = np.datetime64("2024-01-01", "us").astype(np.int64)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
FLAGS = np.array(["A", "N", "R"])
WORDS = (
    "a the row line key value table part order customer query scan join "
    "filter group agg sort merge hash window stream batch spark data column "
    "vector small big fast slow"
).split()

# trickle shape, as shares of the live base: orders retracted/re-inserted and
# customers updated per chunk, and the share of picks aimed at the current
# leaders so top-k retraction, promotion and refill really run
PICK_SHARE = 0.005
CUSTOMER_SHARE = 0.001
TARGET_SHARE = 0.4

I32, I64, F64, STR, TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(cols: dict[str, tuple[pa.DataType, object]]) -> pa.Table:
    return pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten base tables at scale ``sf`` (sf 1 = 1.5M orders)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e, n_u = int(1_500_000 * sf), int(1_000_000 * sf), max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = _table({"r_regionkey": (I32, range(5)), "r_name": (STR, REGIONS)})
    t["nation"] = _table(
        {
            "n_nationkey": (I32, range(25)),
            "n_name": (STR, [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (I32, [i % 5 for i in range(25)]),
        }
    )
    t["customer"] = _table(
        {
            "c_custkey": (I64, np.arange(n_c)),
            "c_name": (STR, [f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": (I32, rng.integers(0, 25, n_c)),
            "c_acctbal": (F64, _money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": (STR, rng.choice(SEGMENTS, n_c)),
        }
    )
    t["supplier"] = _table(
        {
            "s_suppkey": (I64, np.arange(n_s)),
            "s_name": (STR, [f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": (I32, rng.integers(0, 25, n_s)),
            "s_acctbal": (F64, _money(rng, -999.99, 9999.99, n_s)),
        }
    )
    adj = ["blue", "red", "small", "old", "new", "hot", "cold", "green"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "spring"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = _table(
        {
            "p_partkey": (I64, np.arange(n_p)),
            "p_name": (STR, [f"{a} {b}" for a, b in zip(rng.choice(adj, n_p), rng.choice(noun, n_p))]),
            "p_brand": (STR, [f"Brand#{i}" for i in rng.integers(1, 26, n_p)]),
            "p_type": (STR, rng.choice(types, n_p)),
            "p_size": (I32, rng.integers(1, 51, n_p)),
            "p_retailprice": (F64, np.round(900 + (np.arange(n_p) % 1000) / 10, 2)),
        }
    )
    odate = ORDER_DATE_LO + rng.integers(0, ORDER_DAYS, n_o) * DAY_US
    t["orders"] = _table(
        {
            "o_orderkey": (I64, np.arange(n_o)),
            "o_custkey": (I64, rng.integers(0, n_c, n_o)),
            "o_orderstatus": (STR, rng.choice(["F", "O", "P"], n_o)),
            "o_totalprice": (F64, _money(rng, 1000, 500_000, n_o)),
            "o_orderdate": (TS, odate),
            "o_orderpriority": (STR, rng.choice(PRIORITIES, n_o)),
        }
    )
    lines = rng.integers(1, 8, n_o)  # 1..7 lines per order, 4 on average
    okey = np.repeat(np.arange(n_o), lines)
    n_l = len(okey)
    lineno = np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = _table(
        {
            "l_orderkey": (I64, okey),
            "l_partkey": (I64, rng.integers(0, n_p, n_l)),
            "l_suppkey": (I64, rng.integers(0, n_s, n_l)),
            "l_linenumber": (I32, lineno),
            "l_quantity": (F64, qty),
            "l_extendedprice": (F64, np.round(qty * rng.uniform(900, 2100, n_l), 2)),
            "l_discount": (F64, rng.integers(0, 11, n_l) / 100),
            "l_tax": (F64, rng.integers(0, 9, n_l) / 100),
            "l_returnflag": (STR, rng.choice(FLAGS, n_l)),
            "l_linestatus": (STR, rng.choice(["O", "F"], n_l)),
            "l_shipdate": (TS, odate[okey] + rng.integers(1, 122, n_l) * DAY_US),
        }
    )
    t["events"] = _table(
        {
            "event_id": (I64, np.arange(n_e)),
            "ts": (TS, np.sort(EVENTS_LO + rng.integers(0, 30 * DAY_US, n_e))),
            "user_id": (I64, rng.integers(0, n_u, n_e)),
            "event_type": (STR, rng.choice(["view", "click", "signup", "purchase", "error"], n_e)),
            "value": (F64, _money(rng, 0.01, 490.0, n_e)),
            "props": (STR, [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        }
    )
    n_d = max(500, int(50_000 * sf))
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80))) for _ in range(n_d)]
    for i in range(0, n_d, 10):  # every tenth document near-duplicates another
        words = texts[int(rng.integers(0, n_d))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    t["documents"] = _table(
        {
            "doc_id": (I64, np.arange(n_d)),
            "text": (STR, texts),
            "lang": (STR, rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_d)),
            "source": (STR, [f"src{i}" for i in rng.integers(0, 20, n_d)]),
            "n_chars": (I64, [len(x) for x in texts]),
        }
    )
    n_v = max(500, int(20_000 * sf))
    label = rng.integers(0, 10, n_v)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 0.6, (n_v, 64))
    vec[::25] = vec[rng.integers(0, n_v, len(vec[::25]))] + rng.normal(0, 0.01, (len(vec[::25]), 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = _table(
        {
            "vec_id": (I64, np.arange(n_v)),
            "embedding": (pa.list_(pa.float32()), list(vec.astype(np.float32))),
            "label": (I32, label),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl) or 1)


class Changelog:
    """Rows of one chunk, per relation: blocks of signed weights plus column
    values (arrays for the bootstrap, single rows for trickle updates)."""

    def __init__(self, rel_columns: dict[str, tuple[str, ...]]):
        self.rel_columns = rel_columns
        self.blocks: dict[str, list[tuple[list, list]]] = {r: [] for r in rel_columns}
        self.rows: dict[str, list[tuple]] = {r: [] for r in rel_columns}

    def add_block(self, rel: str, weights, columns: list) -> None:
        self.blocks[rel].append((weights, columns))

    def add(self, rel: str, weight: int, values: tuple) -> None:
        self.rows[rel].append((weight, *values))

    def __len__(self) -> int:
        return sum(len(w) for b in self.blocks.values() for w, _ in b) + sum(
            len(v) for v in self.rows.values()
        )


class Churn:
    """Live state of one streaming workload plus its trickle-update policy.

    Subclasses hold the live rows as numpy arrays, emit the bootstrap chunk
    from them, and produce each trickle chunk as retract/re-insert pairs of
    rows that are live at that point of the stream."""

    REL_COLUMNS: dict[str, tuple[str, ...]] = {}
    TYPES: dict[str, pa.DataType] = {}

    def __init__(self, tables: dict[str, pa.Table], rng: np.random.Generator):
        self.rng = rng
        self.nation = tables["nation"]

    def schema(self) -> pa.Schema:
        cols: dict[str, pa.DataType] = {}
        for rc in self.REL_COLUMNS.values():
            for c in rc:
                cols[c] = self.TYPES[c]
        return pa.schema([("rel", STR), ("weight", I32), *cols.items()])

    def to_table(self, log: Changelog) -> pa.Table:
        schema = self.schema()
        parts = []
        for rel, cols in self.REL_COLUMNS.items():
            blocks = list(log.blocks[rel])
            rows = log.rows[rel]
            if rows:
                blocks.append(([r[0] for r in rows], [[r[i] for r in rows] for i in range(1, len(cols) + 1)]))
            for weights, values in blocks:
                n = len(weights)
                data = {"rel": pa.array([rel] * n, STR), "weight": pa.array(weights, I32)}
                data.update({c: pa.array(v, self.TYPES[c]) for c, v in zip(cols, values)})
                parts.append(pa.table({f.name: data.get(f.name, pa.nulls(n, f.type)) for f in schema}))
        return pa.concat_tables(parts).combine_chunks()

    def _nation_block(self, log: Changelog) -> None:
        n = self.nation
        log.add_block("nation", np.ones(len(n), np.int32), [n.column("n_nationkey"), n.column("n_name")])

    def _targeted(self, n: int, pool: np.ndarray, fallback: int) -> list[int]:
        """``n`` picks: a TARGET_SHARE aimed at ``pool``, the rest uniform."""
        n_t = min(int(round(n * TARGET_SHARE)), len(pool))
        picks = list(self.rng.choice(pool, n_t, replace=False)) if n_t else []
        picks += list(self.rng.integers(0, fallback, n - n_t))
        return list(dict.fromkeys(int(p) for p in picks))


class Q10Churn(Churn):
    """The paper's query: lineitem -> orders -> customer -> nation, top-20 by
    revenue. A trickle chunk retracts and re-inserts PICK_SHARE of orders,
    each either moved to another customer, losing a lineitem, or gaining
    one, plus CUSTOMER_SHARE customer balance updates."""

    REL_COLUMNS = {
        "lineitem": ("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"),
        "orders": ("o_orderkey", "o_custkey", "o_orderdate"),
        "customer": ("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        "nation": ("n_nationkey", "n_name"),
    }
    TYPES = {
        "l_orderkey": I64, "l_extendedprice": F64, "l_discount": F64, "l_returnflag": STR,
        "o_orderkey": I64, "o_custkey": I64, "o_orderdate": TS,
        "c_custkey": I64, "c_name": STR, "c_acctbal": F64, "c_nationkey": I32,
        "n_nationkey": I32, "n_name": STR,
    }

    def __init__(self, tables, rng):
        super().__init__(tables, rng)
        col = lambda t, c: tables[t].column(c).to_numpy()  # noqa: E731
        self.c_name = tables["customer"].column("c_name")
        self.c_nation = col("customer", "c_nationkey")
        self.c_bal = col("customer", "c_acctbal").copy()
        self.o_cust = col("orders", "o_custkey").copy()
        self.o_date = tables["orders"].column("o_orderdate").cast(I64).to_numpy()
        self.l_okey = col("lineitem", "l_orderkey")
        self.l_price = col("lineitem", "l_extendedprice")
        self.l_disc = col("lineitem", "l_discount")
        self.l_flag = np.array(tables["lineitem"].column("l_returnflag").to_pylist())
        self.l_live = np.ones(len(self.l_okey), bool)
        # base lines of order o are the contiguous run starting at l_first[o]
        self.l_first = np.searchsorted(self.l_okey, np.arange(len(self.o_cust)))
        self.l_next = np.append(self.l_first[1:], len(self.l_okey))
        # lines added by trickle updates: (okey, price, disc, flag, live) rows,
        # indexed from len(l_okey) on
        self.extra: list[list] = []
        self.added: dict[int, list[int]] = {}

    def bootstrap(self) -> Changelog:
        log = Changelog(self.REL_COLUMNS)
        n_l, n_o, n_c = len(self.l_okey), len(self.o_cust), len(self.c_bal)
        log.add_block("lineitem", np.ones(n_l, np.int32), [self.l_okey, self.l_price, self.l_disc, self.l_flag])
        log.add_block("orders", np.ones(n_o, np.int32), [np.arange(n_o), self.o_cust.copy(), self.o_date])
        log.add_block(
            "customer", np.ones(n_c, np.int32), [np.arange(n_c), self.c_name, self.c_bal.copy(), self.c_nation]
        )
        self._nation_block(log)
        return log

    def _line(self, i):
        n = len(self.l_okey)
        if i >= n:
            return tuple(self.extra[i - n][:4])
        return (int(self.l_okey[i]), float(self.l_price[i]), float(self.l_disc[i]), str(self.l_flag[i]))

    def _live(self, i) -> bool:
        n = len(self.l_okey)
        return self.extra[i - n][4] if i >= n else bool(self.l_live[i])

    def _kill(self, i) -> None:
        n = len(self.l_okey)
        if i >= n:
            self.extra[i - n][4] = False
        else:
            self.l_live[i] = False

    def _order(self, k):
        return (k, int(self.o_cust[k]), int(self.o_date[k]))

    def _cust(self, k):
        return (k, self.c_name[k].as_py(), float(self.c_bal[k]), int(self.c_nation[k]))

    def revenue(self) -> np.ndarray:
        x = [r for r in self.extra if r[4]]
        okey = np.concatenate([self.l_okey, np.array([r[0] for r in x], np.int64)])
        price = np.concatenate([self.l_price, [r[1] for r in x]])
        disc = np.concatenate([self.l_disc, [r[2] for r in x]])
        flag = np.concatenate([self.l_flag, [r[3] for r in x]])
        live = np.concatenate([self.l_live, np.ones(len(x), bool)])
        keep = live & (flag == "R") & (self.o_date[okey] >= Q10_LO) & (self.o_date[okey] < Q10_HI)
        rev = price * (1 - disc)
        return np.bincount(self.o_cust[okey[keep]], weights=rev[keep], minlength=len(self.c_bal))

    def _append_line(self, k: int) -> int:
        rng = self.rng
        price = round(float(rng.uniform(900, 105_000)), 2)
        disc = int(rng.integers(0, 11)) / 100
        self.extra.append([k, price, disc, str(rng.choice(FLAGS)), True])
        i = len(self.l_okey) + len(self.extra) - 1
        self.added.setdefault(k, []).append(i)
        return i

    def trickle(self) -> Changelog:
        rng, log = self.rng, Changelog(self.REL_COLUMNS)
        rank = np.argsort(-self.revenue(), kind="stable")
        leaders = set(int(c) for c in rank[:30])
        in_q10 = (self.o_date >= Q10_LO) & (self.o_date < Q10_HI)
        hot = np.flatnonzero(np.isin(self.o_cust, list(leaders)) & in_q10)
        n_o, n_c = len(self.o_cust), len(self.c_bal)
        for k in self._targeted(max(1, round(PICK_SHARE * n_o)), hot, n_o):
            log.add("orders", -1, self._order(k))
            lines = [*range(self.l_first[k], self.l_next[k]), *self.added.get(k, [])]
            live = [i for i in lines if self._live(i)]
            action = rng.choice(["move", "drop", "add"], p=[0.4, 0.3, 0.3])
            if action == "move":
                # leaders' orders go to runners-up, promoting them
                pool = rank[20:60] if int(self.o_cust[k]) in leaders else np.arange(n_c)
                self.o_cust[k] = int(rng.choice(pool))
            elif action == "drop" and live:
                i = live[int(rng.integers(0, len(live)))]
                self._kill(i)
                log.add("lineitem", -1, self._line(i))
            else:
                log.add("lineitem", 1, self._line(self._append_line(k)))
            log.add("orders", 1, self._order(k))
        for k in self._targeted(max(1, round(CUSTOMER_SHARE * n_c)), rank[:20], n_c):
            log.add("customer", -1, self._cust(k))
            self.c_bal[k] = round(float(rng.uniform(-999.99, 9999.99)), 2)
            log.add("customer", 1, self._cust(k))
        return log


class LeaderboardChurn(Churn):
    """orders -> customer -> nation, each nation's top-3 customers by
    (order count, revenue). A trickle chunk retracts and re-inserts
    PICK_SHARE of orders (moved to another customer, repriced, or deleted
    and replaced by a fresh order), plus CUSTOMER_SHARE customers changing
    nation. Leaders' orders go to same-nation runners-up."""

    REL_COLUMNS = {
        "orders": ("o_orderkey", "o_custkey", "o_totalprice"),
        "customer": ("c_custkey", "c_nationkey"),
        "nation": ("n_nationkey", "n_name"),
    }
    TYPES = {
        "o_orderkey": I64, "o_custkey": I64, "o_totalprice": F64,
        "c_custkey": I64, "c_nationkey": I32, "n_nationkey": I32, "n_name": STR,
    }

    def __init__(self, tables, rng):
        super().__init__(tables, rng)
        self.c_nation = tables["customer"].column("c_nationkey").to_numpy().copy()
        self.o_cust = tables["orders"].column("o_custkey").to_numpy().copy()
        self.o_price = tables["orders"].column("o_totalprice").to_numpy().copy()
        self.o_live = np.ones(len(self.o_cust), bool)

    def bootstrap(self) -> Changelog:
        log = Changelog(self.REL_COLUMNS)
        n_o, n_c = len(self.o_cust), len(self.c_nation)
        log.add_block("orders", np.ones(n_o, np.int32), [np.arange(n_o), self.o_cust.copy(), self.o_price.copy()])
        log.add_block("customer", np.ones(n_c, np.int32), [np.arange(n_c), self.c_nation.copy()])
        self._nation_block(log)
        return log

    def _order(self, k):
        return (k, int(self.o_cust[k]), float(self.o_price[k]))

    def ranking(self) -> np.ndarray:
        """Customers ordered by (nation, order count desc, revenue desc, key)."""
        cust = self.o_cust[self.o_live]
        n_c = len(self.c_nation)
        cnt = np.bincount(cust, minlength=n_c)
        rev = np.bincount(cust, weights=self.o_price[self.o_live], minlength=n_c)
        return np.lexsort((np.arange(n_c), -rev, -cnt, self.c_nation))

    def trickle(self) -> Changelog:
        rng, log = self.rng, Changelog(self.REL_COLUMNS)
        order = self.ranking()
        nation_sorted = self.c_nation[order]
        start = np.searchsorted(nation_sorted, np.arange(25))
        pos = np.empty(len(order), dtype=np.int64)
        pos[order] = np.arange(len(order)) - start[nation_sorted]
        leaders = set(int(c) for c in np.flatnonzero(pos < 3))
        hot = np.flatnonzero(np.isin(self.o_cust, list(leaders)) & self.o_live)
        n_o, n_c = len(self.o_cust), len(self.c_nation)
        for k in self._targeted(max(1, round(PICK_SHARE * n_o)), hot, n_o):
            if not self.o_live[k]:
                continue
            log.add("orders", -1, self._order(k))
            action = rng.choice(["move", "reprice", "replace"], p=[0.4, 0.3, 0.3])
            if action == "move":
                c = int(self.o_cust[k])
                if c in leaders:  # to a runner-up of the same nation
                    n = int(self.c_nation[c])
                    pool = order[start[n] + 3 : start[n] + 10]
                else:
                    pool = np.arange(n_c)
                self.o_cust[k] = int(rng.choice(pool))
            elif action == "reprice":
                self.o_price[k] = round(float(rng.uniform(1000, 500_000)), 2)
            else:
                self.o_live[k] = False
                self.o_cust = np.append(self.o_cust, int(rng.integers(0, n_c)))
                self.o_price = np.append(self.o_price, round(float(rng.uniform(1000, 500_000)), 2))
                self.o_live = np.append(self.o_live, True)
                k = len(self.o_cust) - 1
            log.add("orders", 1, self._order(k))
        for k in self._targeted(max(1, round(CUSTOMER_SHARE * n_c)), np.array(sorted(leaders)), n_c):
            log.add("customer", -1, (k, int(self.c_nation[k])))
            self.c_nation[k] = int(rng.integers(0, 25))
            log.add("customer", 1, (k, int(self.c_nation[k])))
        return log


CHURNS = {"q10": Q10Churn, "leaderboard": LeaderboardChurn}

# chunk files are picked up in modification-time order, one per micro-batch
MTIME_BASE = 1_700_000_000


def chunk_path(out_dir: str, i: int) -> str:
    return os.path.join(out_dir, f"chunk-{i:05d}.parquet")


def write_chunks(
    kind: str, seed: int, sf: float, n_trickle: int, out_dir: str
) -> tuple[pa.Schema, dict[str, tuple[str, ...]], list[int]]:
    """Bootstrap chunk plus ``n_trickle`` trickle chunks for one workload.
    Returns the wide schema, the per-relation columns for ``split_deltas``,
    and the row count of every chunk."""
    tables = base_tables(seed, sf)
    churn = CHURNS[kind](tables, np.random.default_rng([seed, 1]))
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for i in range(n_trickle + 1):
        log = churn.bootstrap() if i == 0 else churn.trickle()
        path = chunk_path(out_dir, i)
        pq.write_table(churn.to_table(log), path)
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
        rows.append(len(log))
    return churn.schema(), dict(churn.REL_COLUMNS), rows
