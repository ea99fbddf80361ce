"""Seeded input generator for the job benchmark.

Runs in its own process (so its allocations stay out of the measured
process's peak RSS), writes every input with pyarrow under ``--out`` and
writes ``expected.json`` beside them: rows and on-disk bytes of the
inputs, and the row count + order-independent digest (see ``check.py``)
that each output the package writes must reproduce.

    python3 jobbench/gen.py --workload bulk_copy --seed 1 --out DIR

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check

# Workload sizes. Scaled so that set-up plus one measured run of every
# workload fits the benchmark's per-run time budget on a 4-core host.
SIZES = {
    "warmup": {"tables": 1, "rows": 2_000},
    "bulk_copy": {"tables": 2, "rows": 500_000},
    "many_tables": {"tables": 16, "rows": 2_000},
    # cdc_merge: keyed base table, then deltas of half updates / half
    # inserts; 80% of the updates hit the newest 10% of the key space
    "cdc_merge": {"base_rows": 300_000, "delta_rows": 20_000, "deltas": 16},
}
REGIONS = np.array(
    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "OCEANIA",
     "ARCTIC", "ANTARCTICA", "NORTH", "SOUTH", "EAST", "WEST",
     "CENTRAL", "PACIFIC", "ATLANTIC", "INDIAN"]
)
STATUSES = np.array(["NEW", "PAID", "PACKED", "SHIPPED", "DELIVERED", "RETURNED"])
TS0_US = 1_600_000_000_000_000  # 2020-09-13 in epoch microseconds
TS_SPAN_US = 100_000_000_000_000


def _note(rng: np.random.Generator, n: int) -> pa.Array:
    """~30-character strings: two random integers joined by '-'."""
    a = pa.array(rng.integers(10**15, 10**16, n)).cast(pa.string())
    b = pa.array(rng.integers(10**12, 10**13, n)).cast(pa.string())
    return pc.binary_join_element_wise(a, b, "-")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us", tz="UTC"))


def bulk_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The 7-column bulk schema: int64 key, int64, int32, double,
    low-cardinality string, ~30-char string, timestamp."""
    return pa.table({
        "id": np.arange(n, dtype=np.int64),
        "qty": rng.integers(0, 1 << 40, n),
        "code": rng.integers(0, 1 << 30, n).astype(np.int32),
        "price": rng.random(n) * 1000.0,
        "region": pa.array(REGIONS[rng.integers(0, len(REGIONS), n)]),
        "note": _note(rng, n),
        "ts": _ts(TS0_US + rng.integers(0, TS_SPAN_US, n)),
    })


def _write(table: pa.Table, path: str) -> int:
    """One parquet file; 64Ki-row row groups let a reader split it."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 16)
    return os.path.getsize(path)


def _expect(table: pa.Table) -> dict:
    rows, digest = check.digest_arrow(table)
    return {"rows": rows, "digest": digest, "columns": table.column_names}


def gen_tables(out: str, schema: str, seed: int, tables: int, rows: int) -> dict:
    """``tables`` bulk-schema tables as ``out/src/<schema>/t<i>.parquet``."""
    expected, nbytes = {}, 0
    for i in range(tables):
        t = bulk_table(np.random.default_rng([seed, i]), rows)
        name = f"t{i:03d}"
        nbytes += _write(t, os.path.join(out, "src", schema, name + ".parquet"))
        expected[name] = _expect(t)
    return {
        "schema": schema,
        "tables": expected,
        "rows": tables * rows,
        "source_bytes": nbytes,
    }


class CdcState:
    """The keyed table a CDC stream converges to. Keys are dense
    ``0..n-1`` so an update is an index assignment and an insert an
    append; ``apply`` is the reference the merged warehouse must equal."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.cols = self._rows(rng, np.arange(n, dtype=np.int64))

    @staticmethod
    def _rows(rng: np.random.Generator, ids: np.ndarray) -> dict:
        n = len(ids)
        return {
            "id": ids,
            "customer": rng.integers(0, 1 << 32, n),
            "status": rng.integers(0, len(STATUSES), n),
            "amount": np.round(rng.random(n) * 10_000, 2),
            "note_a": rng.integers(10**15, 10**16, n),
            "updated_us": TS0_US + rng.integers(0, TS_SPAN_US, n),
        }

    @property
    def n(self) -> int:
        return len(self.cols["id"])

    def delta(self, rng: np.random.Generator, rows: int) -> dict:
        """Half updates, half inserts above the max key. 80% of the
        updated keys are in the newest 10% of the key space, the rest
        are spread over the older 90%; keys are distinct."""
        n_upd = rows // 2
        n_hot = n_upd * 8 // 10
        hot_lo = self.n - self.n // 10
        hot = rng.choice(np.arange(hot_lo, self.n), n_hot, replace=False)
        cold = rng.choice(hot_lo, n_upd - n_hot, replace=False)
        ids = np.concatenate([hot, cold, np.arange(self.n, self.n + rows - n_upd)])
        return self._rows(rng, ids.astype(np.int64))

    def apply(self, delta: dict) -> None:
        ids = delta["id"]
        old = ids < self.n
        for c, v in delta.items():
            arr = np.concatenate([self.cols[c], v[~old]])
            arr[ids[old]] = v[old]
            self.cols[c] = arr

    @staticmethod
    def table(cols: dict) -> pa.Table:
        return pa.table({
            "id": cols["id"],
            "customer": cols["customer"],
            "status": pa.array(STATUSES[cols["status"]]),
            "amount": cols["amount"],
            "note": pa.array(cols["note_a"]).cast(pa.string()),
            "updated_ts": _ts(cols["updated_us"]),
        })


def gen_cdc(out: str, seed: int, base_rows: int, delta_rows: int, deltas: int) -> dict:
    """Base table ``out/src/cdc/orders.parquet`` and ``deltas`` delta
    tables ``out/deltas/<k>/cdc/orders.parquet``; ``after[k]`` is the
    expected warehouse state once deltas ``0..k`` are merged. The digest
    is a sum over rows, so each state's digest is the previous one minus
    the replaced rows' hashes plus the delta's."""
    state = CdcState(np.random.default_rng([seed, 0]), base_rows)
    base = state.table(state.cols)
    src_bytes = _write(base, os.path.join(out, "src", "cdc", "orders.parquet"))
    cur = _expect(base)
    delta_bytes, delta_expect, after = [], [], []
    for k in range(deltas):
        d = state.delta(np.random.default_rng([seed, 1 + k]), delta_rows)
        dt = state.table(d)
        delta_bytes.append(_write(
            dt, os.path.join(out, "deltas", str(k), "cdc", "orders.parquet")
        ))
        delta_expect.append(_expect(dt))
        upd = d["id"][d["id"] < state.n]
        replaced = state.table({c: v[upd] for c, v in state.cols.items()})
        state.apply(d)
        cur = {
            "rows": state.n,
            "digest": str(
                int(cur["digest"])
                - int(check.digest_arrow(replaced)[1])
                + int(delta_expect[-1]["digest"])
            ),
            "columns": cur["columns"],
        }
        after.append(cur)
    return {
        "schema": "cdc",
        "tables": {"orders": _expect(base)},
        "rows": base_rows,
        "source_bytes": src_bytes,
        "delta_rows": delta_rows,
        "delta_bytes": delta_bytes,
        "delta_expect": delta_expect,
        "after": after,
    }


def generate(workload: str, seed: int, out: str) -> dict:
    w = SIZES["warmup"]
    spec = {"warmup": gen_tables(out, "warm", seed, w["tables"], w["rows"])}
    s = SIZES[workload]
    if workload == "cdc_merge":
        spec["main"] = gen_cdc(out, seed, s["base_rows"], s["delta_rows"], s["deltas"])
    else:
        spec["main"] = gen_tables(out, "bulk" if workload == "bulk_copy" else "many",
                                  seed, s["tables"], s["rows"])
    spec["sizes"] = s
    return spec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(set(SIZES) - {"warmup"}))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = generate(a.workload, a.seed, a.out)
    with open(os.path.join(a.out, "expected.json"), "w") as f:
        json.dump(spec, f)


if __name__ == "__main__":
    main()
