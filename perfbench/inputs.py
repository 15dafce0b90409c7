"""Seeded inputs for the benchmark, and the expected outputs of each batch.

Everything here is a pure function of the seed. The catalog is a
synthetic TPC-H-shaped star (the same table names, column names and
parquet flavour the engine's queries read) drawn with NumPy and written
through pyarrow. The pipeline's landing batches are CSV files cut from
that catalog with DuckDB, and the expectations of a batch are computed
by DuckDB from the same files the pipeline reads, so the check never
shares code with the program under test.

Role mapping of the sales fact (the engine's own, see plans/core.py):
fact = lineitem joined with orders, customer dim = customer,
store dim = nation (25 stores), sales-team dim = supplier.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALES_COLUMNS = (
    "customer_id",
    "store_id",
    "product_name",
    "sales_date",
    "sales_person_id",
    "price",
    "quantity",
    "total_cost",
)
SALES_HEADER = ",".join(SALES_COLUMNS)

# Row counts of the sf0.1-sized catalog. Facts are scaled per workload;
# dimensions are always whole.
SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
FIRST_DAY = dt.date(1995, 1, 1)
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01, about 80 months
WORDS = (
    "a the spark data query table row column scan filter join group agg sort "
    "hash key value window stream batch part line order customer vector small "
    "big fast slow merge index shard token text model train eval cache plan "
    "stage task"
).split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(offsets: np.ndarray) -> pa.Array:
    """Midnight timestamps ``offsets`` days after FIRST_DAY."""
    d = np.datetime64(FIRST_DAY.isoformat(), "D") + offsets.astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def month_days(months: int) -> int:
    """Days from FIRST_DAY to the first day ``months`` months later."""
    end = dt.date(FIRST_DAY.year + months // 12, months % 12 + 1, 1)
    return (end - FIRST_DAY).days


def make_catalog(seed: int, out_dir: str, fact_frac: float = 1.0,
                 days: int = N_DAYS) -> dict[str, int]:
    """Write the ten catalog tables as parquet under ``out_dir``.

    ``fact_frac`` scales orders, lineitem, events, documents and
    embeddings; the dimension tables stay whole. ``days`` keeps only the
    first days of orders, at sf0.1's orders per day, and scales the
    other fact tables with them. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    frac = fact_frac * days / N_DAYS
    n = {k: max(1, int(v * (frac if k in ("orders", "lineitem", "events",
                                          "documents", "embeddings") else 1)))
         for k, v in SF01.items()}

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    nc = n["customer"]
    pq.write_table(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    }), f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    pq.write_table(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
    }), f"{out_dir}/supplier.parquet")

    npart = n["part"]
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte", "red", "blue"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"])
    retail = _money(900.0 + (np.arange(npart) % 1000) * 0.1)
    pq.write_table(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                              rng.choice(noun, npart)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"],
                             npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": retail,
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    order_day = rng.integers(0, days, no)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _days(order_day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    }), f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl, dtype=np.int64)
    l_part = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = order_day[l_order] + rng.integers(1, 122, nl)
    pq.write_table(pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * retail[l_part]),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(ship),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    pq.write_table(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne, dtype=np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
        "value": _money(rng.uniform(0.0, 200.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), f"{out_dir}/events.parquet")

    nd = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(8, 90, nd)]
    # a duplicate mix for the dedup queries: exact copies and one-word edits
    for i in range(0, nd, 25):
        src = int(rng.integers(0, nd))
        texts[i] = texts[src]
        if i + 1 < nd:
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts[i + 1] = " ".join(toks)
    pq.write_table(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] + rng.normal(0.0, 0.5, (nv, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")
    return n


def _sales_table(con: duckdb.DuckDBPyConnection, catalog: str, before: str) -> None:
    """The sales fact in the landing-file schema, one row per lineitem,
    for the sales days before ``before`` (ISO date)."""
    con.execute(f"""
        CREATE TABLE sales AS SELECT * FROM (
        SELECT o_custkey AS customer_id,
               CAST(s_nationkey AS BIGINT) AS store_id,
               p_name AS product_name,
               strftime(o_orderdate, '%Y-%m-%d') AS sales_date,
               l_suppkey AS sales_person_id,
               CAST(round(l_extendedprice / l_quantity, 2) AS DECIMAL(12,2)) AS price,
               CAST(l_quantity AS INTEGER) AS quantity,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS total_cost,
               lid
        FROM read_parquet('{catalog}/lineitem.parquet', file_row_number=true)
             AS l(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                  l_shipdate, lid)
        JOIN read_parquet('{catalog}/orders.parquet') o ON l_orderkey = o_orderkey
        JOIN read_parquet('{catalog}/supplier.parquet') s ON l_suppkey = s_suppkey
        JOIN read_parquet('{catalog}/part.parquet') p ON l_partkey = p_partkey)
        WHERE sales_date < '{before}'
    """)


def write_dims(seed: int, catalog: str, out_dir: str) -> None:
    """customer / store / sales_team dimension tables (parquet) in the
    pipeline's schema. A seeded ~1% of customers is left out of the
    customer dim, so their fact rows are orphans the inner join drops."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"""
            COPY (SELECT c_custkey AS customer_id,
                         split_part(c_name, '#', 1) AS first_name,
                         '#' || split_part(c_name, '#', 2) AS last_name,
                         c_custkey || ' Market St' AS address,
                         lpad(CAST(10000 + c_nationkey AS VARCHAR), 5, '0') AS pincode,
                         '555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone_number,
                         '2020-01-01' AS customer_joining_date
                  FROM read_parquet('{catalog}/customer.parquet')
                  WHERE hash(c_custkey, {seed}) % 100 <> 0
                  ORDER BY c_custkey)
            TO '{out_dir}/customer.parquet' (FORMAT PARQUET)""")
        con.execute(f"""
            COPY (SELECT CAST(n_nationkey AS BIGINT) AS id,
                         n_nationkey || ' Main St' AS address,
                         lpad(CAST(20000 + n_nationkey AS VARCHAR), 5, '0') AS store_pincode,
                         'Manager ' || n_name AS store_manager_name,
                         '2019-01-01' AS store_opening_date,
                         'good' AS reviews
                  FROM read_parquet('{catalog}/nation.parquet') ORDER BY 1)
            TO '{out_dir}/store.parquet' (FORMAT PARQUET)""")
        con.execute(f"""
            COPY (SELECT s_suppkey AS id,
                         split_part(s_name, '#', 1) AS first_name,
                         '#' || split_part(s_name, '#', 2) AS last_name,
                         CAST(s_suppkey - s_suppkey % 10 AS BIGINT) AS manager_id,
                         CASE WHEN s_suppkey % 10 = 0 THEN 'Y' ELSE 'N' END AS is_manager,
                         s_suppkey || ' Quota Rd' AS address,
                         lpad(CAST(30000 + s_nationkey AS VARCHAR), 5, '0') AS pincode,
                         '2021-01-01' AS joining_date
                  FROM read_parquet('{catalog}/supplier.parquet') ORDER BY 1)
            TO '{out_dir}/sales_team.parquet' (FORMAT PARQUET)""")
    finally:
        con.close()


@dataclass
class Batch:
    """One landing batch: the pristine files and the quarantine route
    each must take."""

    pristine: str  # directory holding the untouched files
    routes: dict[str, str] = field(default_factory=dict)  # file -> route


def _copy_sales(con, where: str, path: str, extra: bool = False, drop_total: bool = False,
                limit: str = "") -> None:
    cols = list(SALES_COLUMNS)
    if drop_total:
        cols.remove("total_cost")
    sel = ", ".join(cols)
    if extra:
        sel += ", 'C' || (lid % 97) AS coupon_code, 'web' AS channel"
    con.execute(
        f"COPY (SELECT {sel} FROM sales WHERE {where} "
        f"ORDER BY lid {limit}) "
        f"TO '{path}' (HEADER, DELIMITER ',')"
    )


FIRST_SALES_FILE = "sales_00.csv"


def backfill_batch(catalog: str, out_dir: str, months: int, n_files: int) -> Batch:
    """The whole sales fact of the first ``months`` months: ``n_files``
    CSVs and a valid CSV with two extra columns (one row in 20), plus
    one file per quarantine route."""
    d = os.path.join(out_dir, "backfill")
    os.makedirs(d, exist_ok=True)
    batch = Batch(d)
    con = duckdb.connect()
    try:
        end = FIRST_DAY + dt.timedelta(days=month_days(months))
        _sales_table(con, catalog, end.isoformat())
        for i in range(n_files):
            name = f"sales_{i:02d}.csv"
            _copy_sales(con, f"lid % 20 <> 7 AND lid % {n_files} = {i}", f"{d}/{name}")
            batch.routes[name] = "valid"
        _copy_sales(con, "lid % 20 = 7", f"{d}/side_extra.csv", extra=True)
        batch.routes["side_extra.csv"] = "valid"
        _copy_sales(con, "TRUE", f"{d}/side_badschema.csv", drop_total=True, limit="LIMIT 50")
        batch.routes["side_badschema.csv"] = "bad_schema"
    finally:
        con.close()
    with open(f"{d}/side_notes.txt", "w") as f:
        f.write("this file is not a csv\n")
    batch.routes["side_notes.txt"] = "wrong_files"
    with open(f"{d}/side_empty.csv", "w") as f:
        f.write(SALES_HEADER + "\n")
    batch.routes["side_empty.csv"] = "empty_files"
    return batch


def stage_batch(batch: Batch, landing: str, prefix: str,
                redeliver: str | None = None) -> dict[str, str]:
    """Copy a batch's pristine files into an empty landing directory,
    each name prefixed with ``prefix`` (a fresh delivery of the same
    data). ``redeliver`` is the prefix of an earlier delivery whose first
    sales file is sent again under its old name. Returns landed name ->
    route."""
    os.makedirs(landing, exist_ok=True)
    landed = {}
    for name, route in batch.routes.items():
        shutil.copyfile(os.path.join(batch.pristine, name),
                        os.path.join(landing, f"{prefix}_{name}"))
        landed[f"{prefix}_{name}"] = route
    if redeliver is not None:
        name = f"{redeliver}_{FIRST_SALES_FILE}"
        shutil.copyfile(os.path.join(batch.pristine, FIRST_SALES_FILE),
                        os.path.join(landing, name))
        landed[name] = "valid"
    return landed


@dataclass
class Expected:
    joined_rows: int
    customer_months: int
    person_months: int
    total: Decimal  # exact decimal sum of customer_monthly_purchase.total_sales
    rank1: frozenset  # (store_id, sales_month, sales_person_id) earning the incentive


def expected_outputs(csv_paths: list[str], dims_dir: str) -> Expected:
    """What the four sinks must hold after ``run_pipeline`` over these
    accepted files: inner joins with the three dims, monthly sums, and
    every person tied at rank 1 of a (store, month) paid."""
    con = duckdb.connect()
    try:
        files = ", ".join(f"'{p}'" for p in csv_paths)
        cols = ", ".join(f"'{c}': '{t}'" for c, t in (
            ("customer_id", "BIGINT"), ("store_id", "BIGINT"), ("product_name", "VARCHAR"),
            ("sales_date", "VARCHAR"), ("sales_person_id", "BIGINT"),
            ("price", "DECIMAL(12,2)"), ("quantity", "INTEGER"),
            ("total_cost", "DECIMAL(12,2)")))
        con.execute(f"""
            CREATE TABLE joined AS
            SELECT s.*, substr(s.sales_date, 1, 7) AS m FROM read_csv([{files}], header=true, union_by_name=true,
                                     types={{{cols}}}) s
            JOIN read_parquet('{dims_dir}/customer.parquet') c USING (customer_id)
            JOIN read_parquet('{dims_dir}/store.parquet') st ON s.store_id = st.id
            JOIN read_parquet('{dims_dir}/sales_team.parquet') t ON s.sales_person_id = t.id
        """)
        rows, total = con.execute("SELECT count(*), sum(total_cost) FROM joined").fetchone()
        cm = con.execute("SELECT count(*) FROM (SELECT DISTINCT customer_id, m FROM joined)"
                         ).fetchone()[0]
        pm = con.execute("SELECT count(*) FROM (SELECT DISTINCT store_id, sales_person_id, m "
                         "FROM joined)").fetchone()[0]
        rank1 = con.execute("""
            SELECT store_id, m, sales_person_id FROM (
              SELECT store_id, m, sales_person_id,
                     rank() OVER (PARTITION BY store_id, m ORDER BY tot DESC) AS r
              FROM (SELECT store_id, m, sales_person_id, sum(total_cost) AS tot
                    FROM joined GROUP BY ALL))
            WHERE r = 1""").fetchall()
    finally:
        con.close()
    return Expected(rows, cm, pm, Decimal(total or 0).quantize(Decimal("0.01")),
                    frozenset(rank1))
