"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from the run's seed:
the Debezium changelog delivered one file per micro-batch, and the
TPC-H-shaped and documents tables the catalog queries read. The same seed
always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_DAY0 = dt.date(1992, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big vector".split()
)
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])

ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
# event time of the changelog's first record
TS0_MS = 1_700_000_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_columns(rng, keys, n_cust):
    """Row images for `keys` (one per key), as column arrays."""
    n = len(keys)
    days = rng.integers(0, 2400, n) + _EPOCH_DAY0
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 900.0, 450_000.0),
        "o_orderdate": days.astype(np.int64) * 86_400_000_000,  # µs
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
    }


def customer_columns(rng, keys):
    n = len(keys)
    keys = np.asarray(keys, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": np.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _SEGMENT[rng.integers(0, 5, n)],
    }


_ARROW_TYPES = {
    "o_orderkey": pa.int64(), "o_custkey": pa.int64(),
    "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
    "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string(),
    "c_custkey": pa.int64(), "c_name": pa.string(),
    "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
    "c_mktsegment": pa.string(),
    "op": pa.string(), "ts_ms": pa.int64(),
}


def to_arrow(cols: dict) -> pa.Table:
    return pa.table({
        c: pa.array(v, type=_ARROW_TYPES[c]) for c, v in cols.items()
    })


def write_parquet(cols: dict, path: str) -> None:
    pq.write_table(to_arrow(cols), path)


def _json_value(c, v):
    if c == "o_orderdate":  # µs since epoch -> ISO local datetime
        return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(v))
                ).isoformat()
    return v.item() if hasattr(v, "item") else v


def debezium_line(db, table, row, op, ts):
    """One Debezium envelope as a JSON line; `row` is the row image."""
    return json.dumps({
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "source": {"db": db, "table": table, "ts_ms": ts},
        "op": op,
        "ts_ms": ts,
    }, separators=(",", ":"))


class Changelog:
    """Seeded orders changelog, cut into micro-batches, with the op mix of
    the repository's reference changelog (`synth_orders_changelog` in
    `kafka_cdc_redshift_spark.sources.envelopes`).

    Every key is inserted; every 3rd key is updated (o_totalprice x 1.1)
    one batch later and every 7th deleted two batches later, the delete
    carrying the insert's row image. So updates and deletes only hit keys
    the target already holds. Batch b inserts the next `inserts` keys;
    with `inserts` a multiple of 21, every batch from the third on holds
    exactly inserts x 31/21 records. The seed draws the row images and the
    order of events in a batch; events carry strictly increasing ts_ms, and
    every event is kept for the oracle. `route(keys)` names the target
    table of each key.
    """

    def __init__(self, seed, *, inserts, route):
        self.rng = np.random.default_rng(seed)
        self.inserts = inserts
        self.route = route
        self.next_key = 1
        self.next_ts = TS0_MS
        self.recent = []  # insert row images of the last two batches
        self.events = []  # one column dict per batch, with op and ts_ms

    def next_batch(self):
        """JSON lines of the next micro-batch, in event-time order."""
        keys = np.arange(self.next_key, self.next_key + self.inserts)
        self.next_key += self.inserts
        new = orders_columns(self.rng, keys, 1000)
        parts = [("c", new)]
        if self.recent:
            prev = self.recent[-1]
            upd = _rows(prev, prev["o_orderkey"] % 3 == 0)
            upd["o_totalprice"] = np.round(upd["o_totalprice"] * 1.1, 2)
            parts.append(("u", upd))
        if len(self.recent) == 2:
            old = self.recent[0]
            parts.append(("d", _rows(old, old["o_orderkey"] % 7 == 0)))
        self.recent = (self.recent + [new])[-2:]

        cols = {c: np.concatenate([p[c] for _, p in parts]) for c in new}
        ops = np.concatenate([np.full(len(p["o_orderkey"]), op)
                              for op, p in parts])
        order = self.rng.permutation(len(ops))
        cols = {c: v[order] for c, v in cols.items()}
        ops = ops[order]
        ts = self.next_ts + np.arange(len(ops), dtype=np.int64)
        self.next_ts += len(ops)
        self.events.append({"op": ops, "ts_ms": ts, **cols})
        targets = self.route(cols["o_orderkey"])
        return [
            debezium_line("salesdb", targets[j],
                          {c: _json_value(c, cols[c][j]) for c in cols},
                          str(ops[j]), int(ts[j]))
            for j in range(len(ops))]

    def write_batch(self, path, mtime):
        """Write the next batch as one file with the given mtime; returns
        (records, bytes)."""
        lines = self.next_batch()
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        os.utime(path, (mtime, mtime))
        return len(lines), len(data)

    def events_table(self) -> pa.Table:
        return to_arrow({c: np.concatenate([p[c] for p in self.events])
                         for c in self.events[0]})


def _rows(cols: dict, mask) -> dict:
    return {c: v[mask] for c, v in cols.items()}


def documents(seed, n_docs, dup_share=0.2):
    """Word-salad documents; `dup_share` of them are near-duplicates of an
    earlier document (a few words replaced), so dedup finds clusters."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = _WORDS[
                    rng.integers(0, len(_WORDS))]
        else:
            words = list(_WORDS[rng.integers(0, len(_WORDS),
                                             rng.integers(8, 90))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.choice(5, n_docs, p=_LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def catalog_tables(seed, out_dir, *, n_docs, n_orders, n_customers):
    """Write the tables the catalog queries read, one parquet each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    write_parquet(orders_columns(rng, np.arange(1, n_orders + 1), n_customers),
                  os.path.join(out_dir, "orders.parquet"))
    write_parquet(customer_columns(rng, np.arange(1, n_customers + 1)),
                  os.path.join(out_dir, "customer.parquet"))
    pq.write_table(documents(seed, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
