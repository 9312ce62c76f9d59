"""Seeded input generators. Every input the benchmark feeds the engine is
a pure function of the ``--seed`` argument and the frozen parameters in
``params.py``: event payloads, CDC transactions (op mix, Zipf keys),
lookup key sets, ANN query ids, and the lineitem and embedding tables."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_FIELDS = [
    {"name": "l_orderkey", "data_type": "int64", "nullable": False},
    {"name": "l_linenumber", "data_type": "int32", "nullable": False},
    {"name": "l_partkey", "data_type": "int64"},
    {"name": "l_quantity", "data_type": "float64"},
    {"name": "l_extendedprice", "data_type": "float64"},
    {"name": "l_discount", "data_type": "float64"},
    {"name": "l_returnflag", "data_type": "string"},
]
LINEITEM_ARROW = pa.schema(
    [
        pa.field("l_orderkey", pa.int64(), nullable=False),
        pa.field("l_linenumber", pa.int32(), nullable=False),
        pa.field("l_partkey", pa.int64()),
        pa.field("l_quantity", pa.float64()),
        pa.field("l_extendedprice", pa.float64()),
        pa.field("l_discount", pa.float64()),
        pa.field("l_returnflag", pa.string()),
    ]
)
KEY_COLS = ("l_orderkey", "l_linenumber")
_FLAGS = np.array(["A", "N", "R"])

EVENT_SCHEMA = {
    "type": "record",
    "name": "feed_event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "created_us", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "kind", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "payload", "type": "string"},
    ],
}
EVENT_FIELDS = [
    {"name": "id", "data_type": "int64", "nullable": False},
    {"name": "created_us", "data_type": "int64"},
    {"name": "user_id", "data_type": "int64"},
    {"name": "kind", "data_type": "string"},
    {"name": "value", "data_type": "float64"},
    {"name": "payload", "data_type": "string"},
]
_KINDS = ["click", "view", "cart", "buy", "search"]
_WORDS = "alpha bravo delta echo gamma kilo lima sierra tango zulu".split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding draws to one kind
    never shifts another kind's inputs for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919])


# --------------------------------------------------------------------- #
# lineitem-shaped keyed table
# --------------------------------------------------------------------- #


def lineitem_table(seed: int, n_orders: int) -> pa.Table:
    """TPC-H-shaped lineitem (the fixture's eleven columns): 1-7 lines
    per order, keyed on (l_orderkey, l_linenumber). The keyed table keeps
    the ``LINEITEM_ARROW`` columns; the operator queries read all."""
    r = rng_for(seed, "lineitem")
    lines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    qty = r.integers(1, 51, n).astype(np.float64)
    ship = np.datetime64("1992-01-01") + r.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": r.integers(1, 20_001, n),
            "l_suppkey": r.integers(1, 1_001, n),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2000, n), 2),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": _FLAGS[r.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def keyed_part(tbl: pa.Table) -> pa.Table:
    """The keyed table's columns, in its schema order."""
    return tbl.select(LINEITEM_ARROW.names).cast(LINEITEM_ARROW)


def write_parquet(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy")
    return path


class CdcModel:
    """The generator's model of the keyed table: key -> row. Produces
    Postgres-CDC-shaped transactions whose ops are valid against the
    model (updates and deletes hit live keys, inserts use new keys) and
    applies them to itself, so it is the expected table state at every
    LSN it has generated."""

    def __init__(self, seed: int, base: pa.Table, zipf_s: float):
        self.r = rng_for(seed, "cdc")
        cols = base.to_pydict()
        names = list(cols)
        self.rows: dict[tuple, dict] = {}
        for vals in zip(*(cols[c] for c in names)):
            row = dict(zip(names, vals))
            self.rows[(row["l_orderkey"], row["l_linenumber"])] = row
        # Zipf ranks index a fixed shuffled key order: rank 1 is the
        # hottest key. Deleted keys stay in the order and are skipped.
        self.order = list(self.rows)
        perm = self.r.permutation(len(self.order))
        self.order = [self.order[i] for i in perm]
        self.zipf_s = zipf_s
        self.next_orderkey = max(k[0] for k in self.rows) + 1

    def _hot_key(self) -> tuple:
        n = len(self.order)
        while True:
            rank = int(self.r.zipf(self.zipf_s))
            if rank <= n:
                k = self.order[rank - 1]
                if k in self.rows:
                    return k

    def _new_row(self, key: tuple) -> dict:
        r = self.r
        qty = float(r.integers(1, 51))
        return {
            "l_orderkey": int(key[0]),
            "l_linenumber": int(key[1]),
            "l_partkey": int(r.integers(1, 20_001)),
            "l_quantity": qty,
            "l_extendedprice": round(qty * float(r.uniform(900, 2000)), 2),
            "l_discount": int(r.integers(0, 11)) / 100.0,
            "l_returnflag": str(_FLAGS[r.integers(0, 3)]),
        }

    def transaction(self, n_events: int, mix: tuple[float, float, float]):
        """One transaction as ``[(op, old_row, row)]``; applied to the
        model. ``mix`` is the (update, insert, delete) share."""
        ops = self.r.choice(3, size=n_events, p=list(mix))
        out = []
        for op in ops:
            if op == 1:  # insert a new key
                key = (self.next_orderkey, 1)
                self.next_orderkey += 1
                row = self._new_row(key)
                self.rows[key] = row
                self.order.append(key)
                out.append(("insert", None, row))
            elif op == 0:  # update a hot key
                key = self._hot_key()
                old = self.rows[key]
                row = self._new_row(key)
                self.rows[key] = row
                out.append(("update", old, row))
            else:  # delete a hot key
                key = self._hot_key()
                out.append(("delete", self.rows.pop(key), None))
        return out

    def lookup_keys(self, txn: list, n: int) -> list[tuple]:
        """``n`` distinct keys the transaction just wrote (updated,
        inserted or deleted: a deleted key must read back as absent)."""
        seen: dict[tuple, None] = {}
        for _op, old, row in txn:
            rr = row if row is not None else old
            seen[(rr["l_orderkey"], rr["l_linenumber"])] = None
        keys = list(seen)
        if len(keys) <= n:
            return keys
        idx = self.r.choice(len(keys), size=n, replace=False)
        return [keys[i] for i in sorted(idx)]

    def random_keys(self, n: int) -> list[tuple]:
        """``n`` distinct keys ever written, deleted ones included, so
        lookups also exercise misses."""
        idx = self.r.choice(len(self.order), size=n, replace=False)
        return [self.order[i] for i in sorted(idx)]


def row_hash(row: dict) -> int:
    """Order-independent table hashes sum this per-row value mod 2**64."""
    vals = tuple(row[c] for c in LINEITEM_ARROW.names)
    return int.from_bytes(
        hashlib.blake2b(repr(vals).encode(), digest_size=8).digest(), "little"
    )


def table_hash(rows) -> tuple[int, int]:
    """(row count, sum of row hashes mod 2**64) — independent of row order."""
    n = 0
    s = 0
    for row in rows:
        n += 1
        s = (s + row_hash(row)) & 0xFFFFFFFFFFFFFFFF
    return n, s


# --------------------------------------------------------------------- #
# Kafka event feed
# --------------------------------------------------------------------- #


class EventGen:
    """Feed events with sequential ids; the creation time is stamped by
    the caller when the event is produced."""

    def __init__(self, seed: int):
        self.r = rng_for(seed, "events")
        self.next_id = 1

    def events(self, n: int, created_us: int) -> list[dict]:
        r = self.r
        users = r.integers(1, 5_000, n)
        kinds = r.integers(0, len(_KINDS), n)
        vals = np.round(r.uniform(0, 500, n), 3)
        words = r.integers(0, len(_WORDS), (n, 6))
        out = []
        for i in range(n):
            out.append(
                {
                    "id": self.next_id,
                    "created_us": created_us,
                    "user_id": int(users[i]),
                    "kind": _KINDS[kinds[i]],
                    "value": float(vals[i]),
                    "payload": " ".join(_WORDS[w] for w in words[i]),
                }
            )
            self.next_id += 1
        return out


# --------------------------------------------------------------------- #
# embeddings for the vector index
# --------------------------------------------------------------------- #


def embeddings_table(seed: int, n: int, dim: int, clusters: int) -> pa.Table:
    """Gaussian clusters, like the fixture ``embeddings`` table."""
    r = rng_for(seed, "embeddings")
    centers = r.normal(0, 1, (clusters, dim))
    labels = r.integers(0, clusters, n)
    vecs = (centers[labels] + r.normal(0, 0.35, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def ann_query_ids(seed: int, n_vecs: int, n: int, cycle: int) -> list[int]:
    r = rng_for(seed, f"ann{cycle}")
    return sorted(int(i) for i in r.choice(n_vecs, size=n, replace=False))
