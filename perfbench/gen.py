"""Seeded input generation for the three workloads.

Every generator takes the run's seed and writes parquet files; the
program under test only ever sees those files. Each workload draws from
its own stream (``np.random.default_rng([seed, stream])``), so the same
seed always gives byte-identical inputs and another seed gives
different ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. "full" is what the benchmark measures; "tiny" only keeps
# the smoke tests fast. See perfbench/README.md for how they were sized.
_FULL = {
    "etl_rows": 200_000,
    "cdc_rows": 30_000, "cdc_events": 3_000, "cdc_batches": 64,
    "an_orders": 1_500, "an_lineitems": 6_000,
    "an_parts": 200, "an_supps": 10, "an_vectors": 500,
}
SIZES = {"full": _FULL,
         "tiny": dict(_FULL, etl_rows=2_000, cdc_rows=500, cdc_events=100,
                      cdc_batches=6)}

_ETL, _CDC, _ANALYTICS = 1, 2, 3
ETL_FILES = 4
_EPOCH_1995 = 9131  # 1995-01-01 as days since 1970-01-01
_SHIPMODES = ["air", "reg air", "truck", "ship", "rail", "mail", "fob"]
_WORDS = ["quick", "final", "deposits", "sleep", "furiously", "ironic",
          "packages", "accounts", "haggle", "blithely", "regular", "bold"]
_TIERS = ["bronze", "silver", "gold", "platinum"]

# The columns a changelog event carries besides its kind and offset.
CDC_COLUMNS = ["id", "name", "balance", "qty", "tier"]


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _lineitems(rng, n: int, n_orders: int, n_parts: int,
               n_supps: int) -> dict:
    ship = _EPOCH_1995 + rng.integers(0, 2500, n)
    words = np.asarray(_WORDS, dtype=object)
    comment = [" ".join(w) for w in words[rng.integers(0, len(_WORDS),
                                                        (n, 3))]]
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
        "l_commitdate": pa.array(
            (ship + rng.integers(-30, 31, n)).astype(np.int32),
            pa.date32()),
        "l_shipmode": _pick(rng, _SHIPMODES, n),
        "l_comment": pa.array(comment, pa.string()),
    }


def etl_inputs(seed: int, size: str, out_dir: str) -> dict:
    """A lineitem-like table for the ``etl_sync`` job, as a directory of
    ETL_FILES parquet files so the scan can run one task per file."""
    s = SIZES[size]
    rng = np.random.default_rng([seed, _ETL])
    n = s["etl_rows"]
    table = pa.table(_lineitems(rng, n, max(1, n // 4), max(1, n // 30),
                                max(1, n // 600)))
    path = os.path.join(out_dir, "lineitem")
    step = -(-n // ETL_FILES)
    for f in range(ETL_FILES):
        _write(table.slice(f * step, step),
               os.path.join(path, f"part-{f}.parquet"))
    size_b = sum(os.path.getsize(os.path.join(path, x))
                 for x in os.listdir(path))
    return {"path": path, "rows": n, "bytes": size_b}


class _Keyspace:
    """Live and deleted primary keys of the CDC table, with O(1)
    removal (swap with the last slot) and a skewed pick: index
    ``len * u**3`` favours the front of the list, so a few keys change
    several times within one batch."""

    def __init__(self, n: int):
        self.live = list(range(n))
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.deleted: list[int] = []

    def pick(self, u: float) -> int:
        return self.live[min(int(len(self.live) * u ** 3),
                             len(self.live) - 1)]

    def add(self, k: int) -> None:
        self.pos[k] = len(self.live)
        self.live.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i
        self.deleted.append(k)


def _cdc_row(rng_u: np.ndarray, k: int) -> tuple:
    """Payload for key ``k`` from four uniforms."""
    return (k, f"acct-{int(rng_u[0] * 1e6):06d}",
            round(float(rng_u[1]) * 10_000 - 1_000, 2),
            int(rng_u[2] * 100), _TIERS[int(rng_u[3] * len(_TIERS))])


def _events_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[]] * 7
    return pa.table({
        "id": pa.array(cols[0], pa.int64()),
        "name": pa.array(cols[1], pa.string()),
        "balance": pa.array(cols[2], pa.float64()),
        "qty": pa.array(cols[3], pa.int32()),
        "tier": pa.array(cols[4], pa.string()),
        "__row_kind": pa.array(cols[5], pa.string()),
        "__offset": pa.array(cols[6], pa.int64()),
    })


def cdc_inputs(seed: int, size: str, out_dir: str) -> dict:
    """A keyed snapshot (all ``+I``) and a sequence of changelog batches.

    Each batch mixes, by share of events: 55% key-stable updates
    (``-U``/``+U`` sharing one offset), 5% updates that move the row to
    a new primary key (``-U`` old key, ``+U`` new key), 18% deletes
    (``-D``), 12% re-inserts of a deleted key and 10% fresh inserts.
    Offsets increase across the snapshot and all batches."""
    s = SIZES[size]
    rng = np.random.default_rng([seed, _CDC])
    n, per_batch = s["cdc_rows"], s["cdc_events"]
    keys = _Keyspace(n)
    cur: dict[int, tuple] = {}
    snap = []
    for k, u in zip(range(n), rng.random((n, 4))):
        cur[k] = _cdc_row(u, k)
        snap.append(cur[k] + ("+I", k))
    snap_path = _write(_events_table(snap),
                       os.path.join(out_dir, "snapshot.parquet"))
    offset, next_key = n, n
    batches = []
    for b in range(s["cdc_batches"]):
        rows = []
        draws = rng.random((per_batch, 6))
        for u in draws:
            r = u[0]
            if r < 0.60 and keys.live:
                k = keys.pick(u[1])
                old = cur[k]
                if r < 0.55:        # key-stable update
                    new = _cdc_row(u[2:], k)
                else:               # update that changes the key
                    new = _cdc_row(u[2:], next_key)
                    next_key += 1
                    del cur[k]
                    keys.remove(k)
                    keys.add(new[0])
                cur[new[0]] = new
                rows += [old + ("-U", offset), new + ("+U", offset)]
            elif r < 0.78 and keys.live:
                k = keys.pick(u[1])
                rows.append(cur.pop(k) + ("-D", offset))
                keys.remove(k)
            else:
                if r < 0.90 and keys.deleted:   # re-insert a deleted key
                    k = keys.deleted.pop(int(u[1] * len(keys.deleted)))
                else:
                    k, next_key = next_key, next_key + 1
                cur[k] = _cdc_row(u[2:], k)
                keys.add(k)
                rows.append(cur[k] + ("+I", offset))
            offset += 1
        path = _write(_events_table(rows),
                      os.path.join(out_dir, f"batch-{b:03d}.parquet"))
        batches.append({"path": path, "events": per_batch,
                        "rows": len(rows), "bytes": os.path.getsize(path)})
    return {"snapshot": snap_path, "snapshot_rows": n,
            "snapshot_bytes": os.path.getsize(snap_path),
            "batches": batches}


def analytics_inputs(seed: int, size: str, out_dir: str) -> dict:
    """The tables the analytics mix reads, TPC-H-shaped: ``lineitem``
    for the co-purchase graph and ``embeddings`` for the ANN queries.
    The tables themselves are fixed; the seed remaps every key domain
    through a bijection and shuffles the rows, so each seed gives the
    same graph and vectors under other labels and in another order."""
    s = SIZES[size]
    base = np.random.default_rng([0, _ANALYTICS])
    rng = np.random.default_rng([seed, _ANALYTICS])
    no, nl = s["an_orders"], s["an_lineitems"]
    np_, ns, nv = s["an_parts"], s["an_supps"], s["an_vectors"]
    ords, part, supp, vec = (rng.permutation(no), rng.permutation(np_),
                             rng.permutation(ns), rng.permutation(nv))

    def keys(mapping: np.ndarray, arr) -> pa.Array:
        return pa.array(mapping[np.asarray(arr)], pa.int64())

    li = _lineitems(base, nl, no, np_, ns)
    li["l_orderkey"] = keys(ords, li["l_orderkey"])
    li["l_partkey"] = keys(part, li["l_partkey"])
    li["l_suppkey"] = keys(supp, li["l_suppkey"])
    embeddings = {
        "vec_id": keys(vec, np.arange(nv)),
        "embedding": pa.array(
            list((base.standard_normal((nv, 64)) / 8.0).astype(np.float32)),
            pa.list_(pa.float32())),
        "label": pa.array(base.integers(0, 10, nv), pa.int32()),
    }
    rows = {}
    for name, cols in (("lineitem", li), ("embeddings", embeddings)):
        t = pa.table(cols)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"dir": out_dir, "rows": rows, "total_rows": sum(rows.values())}
