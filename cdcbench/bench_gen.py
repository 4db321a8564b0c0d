"""Seeded input generator for the CDC warehouse benchmark.

Everything a run feeds the engine is written here, before timing starts,
from one ``numpy`` generator seeded by ``--seed``; the same seed and
sizes give byte-identical files. The engine only ever sees these files.
A run calls it as a child process, so the generator's memory never
counts in the driver's peak RSS:

    python3 cdcbench/bench_gen.py <root> <workload> <seed> '<sizes as JSON>'

Per workload:

- ``nosql_upsert``: a base ``orders`` snapshot (parquet), then DynamoDB
  stream records (NDJSON, wire-typed ``Keys``/``NewImage``), one file per
  micro-batch, with Zipf-skewed keys: ~10% INSERT of new keys, ~5%
  REMOVE, the rest MODIFY.
- ``sql_append_replica``: txns-shaped CSV micro-batches cut from a
  ``lineitem`` stream (padded headers, quoted money, ``d-MMM-yy`` dates)
  with a synthetic ``line_id`` key, ~80% INSERT and ~20% MODIFY.

For both CDC workloads the expected latest-wins state is written as a
validity table: one row per version of a key with the half-open batch
range ``[from_batch, to_batch)`` during which it is the live image, so
the expected table after ``k`` batches is a plain filter, independent of
the engine's own arbitration code.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
DAY0 = np.datetime64("1995-01-01")
N_DAYS = 2400

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_version",
]
# the typed silver row of one replicated lineitem change
LINE_COLS = [
    "line_id", "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_shipdate", "l_returnflag",
]
TXN_HEADER = (
    "LINE ID,OP,SEQ,ORDER KEY,SUPP KEY,QUANTITY, EXTENDED PRICE ,"
    "SHIP DATE,RETURN FLAG"
)


def _money(cents: int) -> str:
    return f'"  {cents // 100:,}.{cents % 100:02d} "'


def _day_strings(day0, fmt) -> list[str]:
    days = (day0 + np.arange(N_DAYS).astype("timedelta64[D]")).astype(object)
    return [fmt(d) for d in days]


ISO_DAYS = _day_strings(DAY0, lambda d: d.isoformat())
# ``d-MMM-yy``, the txns fixture's date format; two-digit years read
# as 20yy, so the replicated lines ship from 2010 on
SQL_DAY0 = np.datetime64("2010-01-01")
DMY_DAYS = _day_strings(
    SQL_DAY0, lambda d: f"{d.day}-{MONTHS[d.month - 1]}-{d.year % 100:02d}")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# CDC change streams
# ---------------------------------------------------------------------------
def orders_table(rng, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100,
        "o_orderdate": pa.array(
            (DAY0 + rng.integers(0, N_DAYS, n).astype("timedelta64[D]"))
            .astype("datetime64[us]")
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem_arrays(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> dict:
    qty = rng.integers(1, 51, n)
    return {
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty.astype(np.int64),
        "l_extendedprice_cents": qty * rng.integers(90_000, 210_000, n),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_shipday": rng.integers(0, N_DAYS, n),
    }


class _Validity:
    """Collects the version rows of the expected latest-wins state."""

    def __init__(self, cols: list[str]):
        self.cols = cols
        self.live: dict[int, tuple[int, tuple]] = {}  # key -> (from, row)
        self.rows: list[tuple] = []

    def put(self, key: int, row: tuple | None, batch: int) -> None:
        """``row`` becomes ``key``'s image from ``batch`` on (None deletes)."""
        old = self.live.pop(key, None)
        if old is not None:
            self.rows.append((*old[1], old[0], batch))
        if row is not None:
            self.live[key] = (batch, row)

    def table(self, types: list[pa.DataType]) -> pa.Table:
        end = np.iinfo(np.int32).max
        rows = self.rows + [(*row, b, end) for b, row in self.live.values()]
        rows.sort(key=lambda r: (r[0], r[-2]))
        cols = list(zip(*rows))
        arrays = {c: pa.array(cols[i], t) for i, (c, t) in enumerate(zip(self.cols, types))}
        arrays["from_batch"] = pa.array(cols[-2], pa.int32())
        arrays["to_batch"] = pa.array(cols[-1], pa.int32())
        return pa.table(arrays)


def write_nosql(rng, out: str, n_keys: int, n_batches: int, batch_rows: int,
                reads_per_batch: int) -> dict:
    """Base ``orders`` snapshot + DynamoDB stream batches + expectations."""
    os.makedirs(f"{out}/batches", exist_ok=True)
    status = ["F", "O", "P"]
    state = _Validity(ORDER_COLS)
    base = orders_table(rng, n_keys, n_keys // 10 + 1)
    price_cents = pc.cast(pc.round(pc.multiply(base["o_totalprice"], 100)), pa.int64())
    days = pc.cast(pc.divide(pc.subtract(
        pc.cast(base["o_orderdate"], pa.int64()),
        int(DAY0.astype("datetime64[us]").astype(np.int64))), 86_400_000_000), pa.int32())
    for row in zip(*[c.to_pylist() for c in (
            base["o_orderkey"], base["o_custkey"], base["o_orderstatus"],
            price_cents, days, base["o_orderpriority"])]):
        state.put(row[0], (*row, 0), 0)
    base = base.set_column(4, "o_orderdate", pa.array(
        [ISO_DAYS[d] for d in days.to_pylist()]))
    base = base.append_column("o_version", pa.array(np.zeros(n_keys, np.int64)))
    _write(base, f"{out}/base.parquet")

    # hotness order of the base keys; keys inserted later rank after them
    hot = rng.permutation(n_keys).tolist()
    versions: dict[int, int] = {}
    next_key = n_keys
    seq = 0
    reads = []
    for b in range(1, n_batches + 1):
        lines = []
        written: list[int] = []
        draws = zip(rng.random(batch_rows).tolist(),
                    (rng.zipf(1.2, batch_rows) - 1).tolist(),
                    rng.integers(0, n_keys // 10 + 1, batch_rows).tolist(),
                    rng.integers(0, 3, batch_rows).tolist(),
                    rng.integers(100_000, 50_000_000, batch_rows).tolist(),
                    rng.integers(0, N_DAYS, batch_rows).tolist(),
                    rng.integers(0, 5, batch_rows).tolist())
        for op_draw, rank, cust, st, cents, day, prio in draws:
            seq += 1
            if op_draw < 0.10:
                key, op = next_key, "INSERT"
                next_key += 1
            else:
                rank %= next_key
                key = hot[rank] if rank < n_keys else rank
                op = "REMOVE" if op_draw < 0.15 else "MODIFY"
                if key not in state.live:
                    op = "INSERT"  # a removed key comes back
            head = (f'{{"eventName":"{op}","dynamodb":{{"Keys":{{"o_orderkey":'
                    f'{{"N":"{key}"}}}},"SequenceNumber":"{seq:021d}"')
            if op == "REMOVE":
                state.put(key, None, b)
                lines.append(head + "}}")
            else:
                versions[key] = versions.get(key, 0) + 1
                row = (key, cust, status[st], cents, day, PRIORITIES[prio],
                       versions[key])
                state.put(key, row, b)
                lines.append(f'{head},"NewImage":{_wire_image(row)}}}}}')
            written.append(key)
        with open(f"{out}/batches/{b:05d}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
        # point reads: the batch's last distinct written keys, with the
        # image (or absence) that must be visible right after its commit
        picks = list(dict.fromkeys(reversed(written)))[:reads_per_batch]
        reads.append([[k, _plain(state.live[k][1]) if k in state.live else None]
                      for k in picks])
    t = state.table([pa.int64(), pa.int64(), pa.string(), pa.int64(),
                     pa.int32(), pa.string(), pa.int64()])
    # typed like the decoded image: price as DOUBLE, date as ISO string
    t = t.set_column(3, "o_totalprice", pc.divide(
        pc.cast(t["o_totalprice"], pa.float64()), 100.0))
    t = t.set_column(4, "o_orderdate", pa.array(
        [ISO_DAYS[d] for d in t["o_orderdate"].to_pylist()]))
    _write(t, f"{out}/expected.parquet")
    with open(f"{out}/reads.json", "w") as f:
        json.dump(reads, f, separators=(",", ":"))
    return {"batches": n_batches, "batch_rows": batch_rows, "keys": n_keys}


def _wire_image(row: tuple) -> str:
    """An orders image in DynamoDB's wire-typed JSON."""
    key, cust, status, price_cents, day, prio, version = row
    return (
        f'{{"o_orderkey":{{"N":"{key}"}},"o_custkey":{{"N":"{cust}"}},'
        f'"o_orderstatus":{{"S":"{status}"}},'
        f'"o_totalprice":{{"N":"{price_cents // 100}.{price_cents % 100:02d}"}},'
        f'"o_orderdate":{{"S":"{ISO_DAYS[day]}"}},"o_orderpriority":{{"S":"{prio}"}},'
        f'"o_version":{{"N":"{version}"}}}}'
    )


def _plain(row: tuple) -> dict:
    """An orders image as the reader returns it."""
    key, cust, status, price_cents, day, prio, version = row
    return {"o_orderkey": key, "o_custkey": cust, "o_orderstatus": status,
            "o_totalprice": price_cents / 100, "o_orderdate": ISO_DAYS[day],
            "o_orderpriority": prio, "o_version": version}


def write_sql(rng, out: str, n_base: int, n_batches: int, batch_rows: int,
              modify_share: float = 0.2) -> dict:
    """CSV micro-batches (batch 0 is the initial load) + expectations.

    A MODIFY re-prices a recently inserted line (Zipf over recency), the
    shape of a binlog where fresh rows are the ones still changing."""
    os.makedirs(f"{out}/batches", exist_ok=True)
    n_src = n_base + n_batches * batch_rows
    li = lineitem_arrays(rng, n_src, n_src // 4 + 1, 20_000, 1_000)
    cols = [li[c].tolist() for c in ("l_orderkey", "l_suppkey", "l_quantity",
                                     "l_extendedprice_cents", "l_shipday",
                                     "l_returnflag")]
    state = _Validity(LINE_COLS)
    seq = 0
    next_id = 0
    for b in range(n_batches + 1):
        n_rows = n_base if b == 0 else batch_rows
        lines = [TXN_HEADER]
        draws = zip(rng.random(n_rows).tolist(),
                    (rng.zipf(1.2, n_rows) - 1).tolist(),
                    rng.integers(1, 51, n_rows).tolist(),
                    rng.integers(90_000, 210_000, n_rows).tolist())
        for draw, rank, new_qty, unit_cents in draws:
            seq += 1
            if b > 0 and draw < modify_share:
                op = "MODIFY"
                lid = next_id - 1 - rank % next_id
                orderkey, suppkey, _, _, day, flag = state.live[lid][1][1:]
                qty, cents = new_qty, new_qty * unit_cents
            else:
                op, lid = "INSERT", next_id
                next_id += 1
                orderkey, suppkey, qty, cents, day, flag = (c[lid] for c in cols)
            row = (lid, orderkey, suppkey, qty, cents, day, flag)
            state.put(lid, row, b)
            lines.append(
                f"{lid},{op},{seq},{orderkey},{suppkey},{qty},{_money(cents)},"
                f"{DMY_DAYS[day]},{flag}"
            )
        with open(f"{out}/batches/{b:05d}.csv", "w") as f:
            f.write("\n".join(lines) + "\n")
    t = state.table([pa.int64(), pa.int64(), pa.int64(), pa.int64(),
                     pa.int64(), pa.int32(), pa.string()])
    # typed like the silver layer: money as DECIMAL(18,2), dates as DATE
    epoch = int((SQL_DAY0 - np.datetime64("1970-01-01")).astype(int))
    typed = {
        "l_quantity": pc.cast(pc.cast(t["l_quantity"], pa.int32()), pa.decimal128(18, 2)),
        "l_extendedprice": pa.array(
            [f"{c // 100}.{c % 100:02d}" for c in t["l_extendedprice"].to_pylist()]
        ).cast(pa.decimal128(18, 2)),
        "l_shipdate": pc.cast(pc.cast(pc.add(t["l_shipdate"], epoch), pa.int32()), pa.date32()),
    }
    for name, col in typed.items():
        t = t.set_column(t.schema.get_field_index(name), name, col)
    _write(t, f"{out}/expected.parquet")
    return {"batches": n_batches, "batch_rows": batch_rows, "base_rows": n_base}


def generate(root: str, workload: str, seed: int, sizes: dict) -> dict:
    """Write one workload's inputs under ``root``; returns their sizes."""
    rng = np.random.default_rng(seed)
    if workload == "nosql_upsert":
        return write_nosql(rng, f"{root}/nosql", sizes["keys"], sizes["batches"],
                           sizes["batch_rows"], sizes["reads_per_batch"])
    if workload == "sql_append_replica":
        return write_sql(rng, f"{root}/sql", sizes["base_rows"], sizes["batches"],
                         sizes["batch_rows"])
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    root, workload, seed, sizes = sys.argv[1:]
    generate(root, workload, int(seed), json.loads(sizes))
