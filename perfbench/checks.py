"""Output checks for one pipeline batch, read back with DuckDB.

They run after the batch's timed region. Each returns a list of
problems; an empty list is a pass.
"""

from __future__ import annotations

import glob
import os
from decimal import Decimal

import duckdb

from inputs import Expected

SINKS = ("customer_mart", "sales_team_mart", "customer_monthly_purchase",
         "sales_team_incentive")
QUARANTINE = ("wrong_files", "bad_schema", "empty_files")


def data_files(path: str) -> list[str]:
    """The parquet data files under a sink's output directory."""
    return [p for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not os.path.basename(p).startswith((".", "_"))]


def check_sinks(outputs: dict[str, str], row_counts: dict[str, int],
                exp: Expected) -> list[str]:
    """Row counts after the inner joins, the exact total of
    customer_monthly_purchase, and the rank-1 groups that are paid."""
    want = {"customer_mart": exp.joined_rows, "sales_team_mart": exp.joined_rows,
            "customer_monthly_purchase": exp.customer_months,
            "sales_team_incentive": exp.person_months}
    problems = []
    con = duckdb.connect()
    try:
        for sink, n in want.items():
            if sink not in outputs:
                problems.append(f"{sink}: not written")
                continue
            files = data_files(outputs[sink])
            on_disk = con.execute(
                "SELECT count(*) FROM read_parquet($f)", {"f": files}
            ).fetchone()[0] if files else 0
            if row_counts.get(sink) != n or on_disk != n:
                problems.append(f"{sink}: rows reported {row_counts.get(sink)}, "
                                f"on disk {on_disk}, expected {n}")
        if problems:
            return problems
        total = con.execute(
            "SELECT sum(CAST(total_sales AS DECIMAL(18,2))) FROM read_parquet($f)",
            {"f": data_files(outputs["customer_monthly_purchase"])},
        ).fetchone()[0]
        if Decimal(total).quantize(Decimal("0.01")) != exp.total:
            problems.append(f"customer_monthly_purchase total {total} != {exp.total}")
        paid = con.execute(
            "SELECT store_id, sales_month, sales_person_id FROM read_parquet($f) "
            "WHERE incentive > 0",
            {"f": data_files(outputs["sales_team_incentive"])},
        ).fetchall()
        if frozenset(paid) != exp.rank1:
            problems.append(f"sales_team_incentive: {len(paid)} paid groups, "
                            f"expected {len(exp.rank1)}")
    finally:
        con.close()
    return problems


def check_routes(landed: dict[str, str], quarantined: dict[str, str],
                 out_dir: str) -> list[str]:
    """Every landed non-valid file sits in its quarantine directory."""
    problems = []
    moved = {os.path.basename(src): dest for src, dest in quarantined.items()}
    for name, route in landed.items():
        if route == "valid":
            if name in moved:
                problems.append(f"{name}: valid file quarantined")
            continue
        dest = os.path.join(out_dir, route, name)
        if moved.get(name) != dest or not os.path.exists(dest):
            problems.append(f"{name}: expected in {route}, got {moved.get(name)}")
    return problems


def check_ledger(ledger_path: str, processed: list[str], skipped: list[str],
                 redelivered: list[str]) -> list[str]:
    """No file left in START, this batch's files COMPLETED, and the
    re-delivered files skipped."""
    problems = []
    if sorted(skipped) != sorted(redelivered):
        problems.append(f"skipped {sorted(skipped)}, expected {sorted(redelivered)}")
    con = duckdb.connect()
    try:
        state = dict(con.execute(
            "SELECT file_name, arg_max(status, seq) FROM read_parquet($p) GROUP BY 1",
            {"p": os.path.join(ledger_path, "*.parquet")},
        ).fetchall())
    finally:
        con.close()
    stuck = sorted(n for n, s in state.items() if s != "COMPLETED")
    if stuck:
        problems.append(f"ledger: files not COMPLETED: {stuck[:5]}")
    missing = [n for n in processed if state.get(n) != "COMPLETED"]
    if missing:
        problems.append(f"ledger: processed but not COMPLETED: {missing[:5]}")
    return problems
