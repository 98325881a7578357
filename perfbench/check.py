"""Correctness gate of the graft workload benchmark, run outside the timed
region.

* Fixed-query outputs (retail_dag, training_data): each output is compared,
  by an order-independent hash of its rows (columns sorted by name, rows
  sorted, values as text), with the hash of graft's own oracle SQL for that
  query run by DuckDB over the same input tables. Those hashes are pinned
  in `expected.json` per input and query, together with a hash of the
  oracle SQL they came from; when the oracle SQL changes, DuckDB runs it
  again. `run.py --pin` rewrites the pins.
* retail_incremental: the final live fact table and its CDC replica must
  equal a rebuild from the base fact and every applied batch, the customer
  dimension must equal a full SCD1 rebuild (as multisets of rows, compared
  in DuckDB), and each batch's reads must match the rebuilt state after
  that batch.

`check(workload, tables, batch_dir, tmp, record)` returns a list of mismatch
messages.
"""
import hashlib
import json
import os

import duckdb

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(tables, tmp):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tmp}/duckdb'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return con


def digest(df):
    """Order-independent hash of a frame: sorted columns, sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(",".join(df.columns).encode())
    for c in df.columns:
        h.update("\x1f".join(df[c].astype(str).values).encode())
    return h.hexdigest()[:16], len(df)


def read_dir(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def load_pins():
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f)


def oracle(con, pins, record, q):
    """(hash, rows) of the oracle answer to `q`: pinned, else from DuckDB."""
    sql = record["oracle"][q]
    pin = pins.get(q)
    if pin and pin["sql"] == sql_key(sql):
        return pin["digest"], pin["rows"]
    return digest(con.execute(sql).fetchdf())


def pin(tables, tmp, record):
    """Run the oracle SQL of every checked query in DuckDB and pin the
    answers' hashes for this input."""
    con = connect(tables, tmp)
    try:
        pins = load_pins()
        mine = pins.setdefault(os.path.basename(tables), {})
        for q in sorted({c["query"] for c in record["checks"]}):
            h, n = digest(con.execute(record["oracle"][q]).fetchdf())
            mine[q] = {"digest": h, "rows": n, "sql": sql_key(record["oracle"][q])}
    finally:
        con.close()
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def check_queries(con, tables, record):
    bad, want = [], {}
    pins = load_pins().get(os.path.basename(tables), {})
    for c in record["checks"]:
        q = c["query"]
        if q not in want:
            want[q] = tuple(oracle(con, pins, record, q))
        try:
            got = digest(read_dir(con, c["path"]))
        except Exception as e:  # noqa: BLE001 - a missing artifact is a mismatch
            bad.append(f"{c['name']} pass {c['pass']}: unreadable output ({e})")
            continue
        if got != want[q]:
            bad.append(f"{c['name']} pass {c['pass']}: rows/hash {got} != oracle {want[q]}")
    return bad


def differ(con, got, want):
    """Rows of `got` missing from `want` plus rows of `want` missing from
    `got`, as multisets with columns matched by name: 0 when equal."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {want}").fetchall()
    have = {c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()}
    if have != {c[0] for c in cols}:
        raise ValueError(f"columns {sorted(have)} != {sorted(c[0] for c in cols)}")
    g = "SELECT " + ", ".join(f'CAST("{c[0]}" AS {c[1]})' for c in cols) + f" FROM {got}"
    w = "SELECT " + ", ".join(f'"{c[0]}"' for c in cols) + f" FROM {want}"
    return con.execute(f"SELECT (SELECT count(*) FROM ({g} EXCEPT ALL {w})) + "
                       f"(SELECT count(*) FROM ({w} EXCEPT ALL {g}))").fetchone()[0]


def compare(con, bad, name, path, want, what):
    try:
        n = differ(con, f"read_parquet('{path}/*.parquet')", want)
    except Exception as e:  # noqa: BLE001 - an unreadable output is a mismatch
        bad.append(f"{name}: unreadable or wrong columns ({e})")
        return
    if n:
        bad.append(f"{name}: {n} rows differ from the {what}")


def check_incremental(con, tables, b, record):
    bad = []
    meta = {m["batch"]: m for m in json.load(open(f"{b}/batches.json"))}
    applied = [a["batch"] for a in record["batches"]]

    def state(k):
        """Fact rows after batch k, from the base and the batch files."""
        files = [f"'{b}/fact_base.parquet'"] + [f"'{b}/fact_{i:03d}.parquet'" for i in range(1, k + 1)]
        gone = [meta[i]["delete_invoice"] for i in range(1, k + 1)] or [-1]
        return (f"(SELECT * FROM read_parquet([{','.join(files)}]) "
                f"WHERE invoice_id NOT IN ({','.join(map(str, gone))}))")

    last = max(applied)
    if applied != list(range(1, last + 1)):
        bad.append(f"batches applied out of order: {applied}")
    for name in ("fact", "replica"):
        compare(con, bad, name, record[name], state(last), "rebuild")
    orders = ",".join([f"'{tables}/orders.parquet'"] +
                      [f"'{b}/orders_{i:03d}.parquet'" for i in range(1, last + 1)])
    dim_sql = f"""(WITH o AS (SELECT * FROM read_parquet([{orders}])),
      latest AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS last_order_date,
        o_orderstatus AS last_status, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM o)
      SELECT c_custkey AS customer_id, c_name AS name, c_mktsegment AS segment,
        last_order_date, last_status FROM customer JOIN latest ON c_custkey = o_custkey
      WHERE rn = 1)"""
    compare(con, bad, "dim", record["dim"], dim_sql, "SCD1 rebuild")
    for a in record["batches"]:
        k = a["batch"]
        rows, qty = con.execute(f"SELECT count(*), sum(quantity) FROM {state(k)}").fetchone()
        keys = ",".join(map(str, meta[k]["lookup_invoices"]))
        hits = [r[0] for r in con.execute(
            f"SELECT line_key FROM {state(k)} WHERE invoice_id IN ({keys}) ORDER BY 1").fetchall()]
        ins = con.execute(f"SELECT count(*) FROM read_parquet('{b}/fact_{k:03d}.parquet') "
                          f"WHERE invoice_id <> {meta[k]['delete_invoice']}").fetchone()[0]
        dels = con.execute(f"SELECT count(*) FROM {state(k - 1)} "
                           f"WHERE invoice_id = {meta[k]['delete_invoice']}").fetchone()[0]
        expect = {"rows": rows, "qty": qty, "lookup_keys": hits, "inserted": ins, "deleted": dels}
        for key, v in expect.items():
            g = a[key]
            same = abs(g - v) <= 1e-9 * max(1.0, abs(v)) if key == "qty" else g == v
            if not same:
                bad.append(f"batch {k} {key}: {g} != rebuild {v}")
    return bad


def check(workload, tables, batch_dir, tmp, record):
    con = connect(tables, tmp)
    try:
        if workload == "retail_incremental":
            return check_incremental(con, tables, batch_dir, record)
        return check_queries(con, tables, record)
    finally:
        con.close()
