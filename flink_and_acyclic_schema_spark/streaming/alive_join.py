"""Alive-gated incremental FK join — the reference's core operator, rebuilt.

The reference maintains each FK join hop with a hand-rolled
``KeyedCoProcessFunction`` (Q10OrdersProcessFunction.java:18-124,
Q10LineitemProcessFunction.java:16-124): per join key it buffers child tuples
in ``ValueState<Set<Payload>>``, counts alive parents (``numAlive``), and on
any parent Alive/Dead or child Insert/Delete delta re-emits join results for
every buffered partner. That alive-gating is Cquirrel's state-size trick —
a child tuple generates downstream work only while its ancestor chain is
alive.

This module is the Spark-native equivalent: one ``applyInPandasWithState``
operator over a *tagged union* of the parent and child changelog streams,
keyed by the join key. Where the reference's Set-based state breaks on
duplicates and deletes (SURVEY.md §8 B1/B2), this state is a signed-weight
multiset, so the emitted deltas are exact under any interleaving: per joined
row the batch emits ``new(parent_w · child_w) − old(parent_w · child_w)``,
making the accumulated output prefix-closed — the running net state after any
prefix equals the join of the net inputs of that prefix.

Scale posture: state per join key is O(|children of key|) — identical to the
reference's per-key Set, but spillable via the state store. The JSON-encoded
child multiset keeps the state schema fixed; at 100 TB the same logic moves
to ``transformWithStateInPandas`` list/map state (Spark 4) so a hot key's
children aren't re-serialized per batch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The operator's input is a tagged union (key, side, child_id, attr, weight)
# built by tag_parent/tag_child: parent rows have child_id NULL, child rows
# attr NULL.
OUTPUT_SCHEMA = "key BIGINT, child_id BIGINT, attr BIGINT, delta INT"
STATE_SCHEMA = "parent_w INT, parent_attr BIGINT, child_json STRING"


def tag_parent(df: DataFrame, key: str, attr: str) -> DataFrame:
    """Parent side of the union: one attribute column carried to the output
    (the reference merges full schemas, collectPayload — one column suffices
    to prove the plumbing; widening is to_json of a struct)."""
    return df.select(
        F.col(key).cast("long").alias("key"),
        F.lit("P").alias("side"),
        F.lit(None).cast("long").alias("child_id"),
        F.col(attr).cast("long").alias("attr"),
        F.col("weight").cast("int").alias("weight"),
    )


def tag_child(df: DataFrame, key: str, child_id: str) -> DataFrame:
    return df.select(
        F.col(key).cast("long").alias("key"),
        F.lit("C").alias("side"),
        F.col(child_id).cast("long").alias("child_id"),
        F.lit(None).cast("long").alias("attr"),
        F.col("weight").cast("int").alias("weight"),
    )


def update_alive_join(key, pdf_iter, state):
    """Per-join-key state transition: fold the batch's parent/child weight
    deltas into the multiset state, then emit exact join-result deltas.

    Replaces the reference's four near-identical processElement1/2 branches
    (insert/delete × parent/child) with one algebraic rule.
    """
    import pandas as pd

    if state.exists:
        parent_w, parent_attr, child_json = state.get
        children = {int(k): v for k, v in json.loads(child_json).items()}
    else:
        parent_w, parent_attr, children = 0, None, {}

    old_parent_w = parent_w
    old_children = dict(children)

    for pdf in pdf_iter:
        for side, child_id, attr, w in zip(
            pdf["side"], pdf["child_id"], pdf["attr"], pdf["weight"]
        ):
            if side == "P":
                parent_w += int(w)
                if attr is not None and not pd.isna(attr):
                    parent_attr = int(attr)
            else:
                cid = int(child_id)
                children[cid] = children.get(cid, 0) + int(w)

    state.update(
        (parent_w, parent_attr, json.dumps({str(k): v for k, v in children.items()}))
    )

    rows = []
    for cid in set(old_children) | set(children):
        delta = parent_w * children.get(cid, 0) - old_parent_w * old_children.get(cid, 0)
        if delta != 0:
            rows.append((key[0], cid, parent_attr, delta))
    if rows:
        yield pd.DataFrame(rows, columns=["key", "child_id", "attr", "delta"])


def alive_gated_join(tagged: DataFrame) -> DataFrame:
    """Wire the operator over a (possibly streaming) tagged-union DataFrame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return tagged.groupBy("key").applyInPandasWithState(
        update_alive_join,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
