"""Seeded delta batches for the incremental workload of the graft benchmark.

The fixed tables are the project's testdata, copied under perfbench/data
(`sf0.1` for the benchmark, `sf0.001` for the self-test). They are read and
never written. From their orders, lineitem and customers this writes, under
`<out>`:

* `fact_base.parquet`: the fact table the warehouse starts from, one row per
  lineitem row (surrogate line_key, invoice, customer, part, ship date,
  quantity, revenue);
* `dim_base.parquet`: the SCD1 customer dimension the warehouse starts from,
  one row per customer with orders, from its latest order (latest date,
  then highest order key);
* `orders_NNN.parquet`, `fact_NNN.parquet`: daily delta batches. Batch b has
  as many orders as an average day of the history. Each is a copy of a
  seeded-random real order (its customer, status, price and all its lines)
  under a fresh order key, dated b days after the last order of the history;
* `batches.json`: per batch, one earlier invoice to delete (the correction)
  and four invoices to look up.

The same seed and tables always give byte-identical batches.

    python3 perfbench/gen.py --seed 7 --tables perfbench/data/sf0.1 --out <dir> [--batches 12]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def read(tables, name):
    return pq.read_table(os.path.join(tables, f"{name}.parquet"))


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def fact(lines, cust_of, first_key):
    """Fact rows for lineitem rows: surrogate line_key, invoice and its customer."""
    inv = lines["l_orderkey"].to_numpy()
    disc = lines["l_discount"].to_numpy()
    return pa.table({
        "line_key": pa.array(np.arange(first_key, first_key + len(inv)), pa.int64()),
        "invoice_id": pa.array(inv, pa.int64()),
        "customer_id": pa.array(cust_of[inv], pa.int64()),
        "part_id": lines["l_partkey"],
        "ship_date": lines["l_shipdate"],
        "quantity": lines["l_quantity"],
        "revenue": pa.array(np.round(lines["l_extendedprice"].to_numpy() * (1 - disc), 2)),
    })


def scd1(customers, orders, okey, cust, oday):
    """One row per customer with orders, from its latest order."""
    last = np.lexsort((okey, oday, cust))
    last = last[np.r_[cust[last][1:] != cust[last][:-1], True]]
    ckey = customers["c_custkey"].to_numpy()
    by_ckey = np.argsort(ckey)
    at = np.minimum(np.searchsorted(ckey, cust[last], sorter=by_ckey), len(ckey) - 1)
    row = by_ckey[at]
    keep = ckey[row] == cust[last]
    last, row = last[keep], row[keep]
    return pa.table({
        "customer_id": pa.array(cust[last], pa.int64()),
        "name": customers["c_name"].take(row),
        "segment": customers["c_mktsegment"].take(row),
        "last_order_date": pa.array(oday[last], pa.date32()),
        "last_status": orders["o_orderstatus"].take(last),
    })


def replace(table, name, values):
    i = table.schema.get_field_index(name)
    return table.set_column(i, name, pa.array(values, table.schema.field(i).type))


def generate(seed, tables, out, n_batches):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    orders, lines = read(tables, "orders"), read(tables, "lineitem")
    okey = orders["o_orderkey"].to_numpy()
    cust = orders["o_custkey"].to_numpy()
    oday = orders["o_orderdate"].to_numpy().astype("datetime64[D]")
    per_day = max(1, round(len(okey) / len(np.unique(oday))))
    last_day = oday.max()
    # lines of each order: a contiguous run of `by_key`
    lkey = lines["l_orderkey"].to_numpy()
    by_key = np.argsort(lkey, kind="stable")
    sorted_keys = lkey[by_key]
    next_key = int(okey.max()) + 1
    cust_of = np.full(next_key + per_day * n_batches, -1, np.int64)
    cust_of[okey] = cust
    write(out, "fact_base", fact(lines, cust_of, 0))
    write(out, "dim_base", scd1(read(tables, "customer"), orders, okey, cust, oday))

    next_line, deleted, meta = len(lkey), set(), []
    for b in range(1, n_batches + 1):
        pick = rng.choice(len(okey), per_day, replace=False)
        keys = np.arange(next_key, next_key + per_day)
        next_key += per_day
        day = last_day + b
        cust_of[keys] = cust[pick]
        batch_orders = replace(replace(orders.take(pick), "o_orderkey", keys), "o_orderdate",
                               np.full(per_day, day).astype("datetime64[us]"))
        lo = np.searchsorted(sorted_keys, okey[pick], "left")
        hi = np.searchsorted(sorted_keys, okey[pick], "right")
        rows = by_key[np.concatenate([np.arange(a, z) for a, z in zip(lo, hi)])]
        shift = np.repeat(day - oday[pick], hi - lo)
        batch_lines = lines.take(rows)
        batch_lines = replace(batch_lines, "l_orderkey", np.repeat(keys, hi - lo))
        batch_lines = replace(batch_lines, "l_shipdate",
                              batch_lines["l_shipdate"].to_numpy() + shift.astype("timedelta64[us]"))
        write(out, f"orders_{b:03d}", batch_orders)
        write(out, f"fact_{b:03d}", fact(batch_lines, cust_of, next_line))
        next_line += len(rows)
        victim = int(okey[rng.integers(len(okey))])
        while victim in deleted:
            victim = int(okey[rng.integers(len(okey))])
        deleted.add(victim)
        lookups = [int(k) for k in rng.integers(0, next_key, 4)]
        meta.append({"batch": b, "delete_invoice": victim, "lookup_invoices": lookups})
    with open(os.path.join(out, "batches.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=12)
    a = ap.parse_args()
    generate(a.seed, a.tables, a.out, a.batches)
