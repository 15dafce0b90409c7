"""Tests of the benchmark's own code: seeded inputs, the expectation
calculator against the golden pipeline fixtures, and the tracer's
arithmetic. No Spark session is started."""

from __future__ import annotations

import hashlib
import json
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import compare
import inputs
import run
from tracer import Span, self_times, stage_summary

from tests import fixtures


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def generate(seed: int, out: str) -> dict[str, str]:
    cat = os.path.join(out, "catalog")
    inputs.make_catalog(seed, cat, fact_frac=0.02)
    inputs.write_dims(seed, cat, os.path.join(out, "dims"))
    inputs.backfill_batch(cat, out, months=2, n_files=3)
    return digest(out)


def test_same_seed_same_inputs_and_other_seed_differs(tmp_path):
    a = generate(7, str(tmp_path / "a"))
    b = generate(7, str(tmp_path / "b"))
    c = generate(8, str(tmp_path / "c"))
    assert a == b
    assert set(a) == set(c)
    differing = {k for k in a if a[k] != c[k]}
    # region and nation are fixed; everything drawn from the seed moves
    assert {"catalog/lineitem.parquet", "catalog/orders.parquet", "dims/customer.parquet",
            "backfill/sales_00.csv"} <= differing


def test_backfill_batch_routes(tmp_path):
    cat = str(tmp_path / "catalog")
    inputs.make_catalog(3, cat, fact_frac=0.02)
    batch = inputs.backfill_batch(cat, str(tmp_path), months=2, n_files=3)
    routes = sorted(batch.routes.values())
    assert routes == ["bad_schema", "empty_files", "valid", "valid", "valid", "valid",
                      "wrong_files"]
    landed = inputs.stage_batch(batch, str(tmp_path / "landing"), "b0002", redeliver="b0001")
    assert landed["b0001_" + inputs.FIRST_SALES_FILE] == "valid"
    assert len(landed) == len(batch.routes) + 1
    assert sorted(os.listdir(tmp_path / "landing")) == sorted(landed)


def fixture_dims(d: str) -> None:
    os.makedirs(d)
    cust = list(zip(*fixtures.CUSTOMERS))
    pq.write_table(pa.table({
        "customer_id": pa.array(cust[0], pa.int64()), "first_name": cust[1],
        "last_name": cust[2], "address": cust[3], "pincode": cust[4],
        "phone_number": cust[5], "customer_joining_date": cust[6]}), f"{d}/customer.parquet")
    st = list(zip(*fixtures.STORES))
    pq.write_table(pa.table({
        "id": pa.array(st[0], pa.int64()), "address": st[1], "store_pincode": st[2],
        "store_manager_name": st[3], "store_opening_date": st[4], "reviews": st[5]}),
        f"{d}/store.parquet")
    team = list(zip(*fixtures.SALES_TEAM))
    pq.write_table(pa.table({
        "id": pa.array(team[0], pa.int64()), "first_name": team[1], "last_name": team[2],
        "manager_id": pa.array(team[3], pa.int64()), "is_manager": team[4],
        "address": team[5], "pincode": team[6], "joining_date": team[7]}),
        f"{d}/sales_team.parquet")


def test_expectations_match_golden_pipeline_semantics(tmp_path):
    landing = str(tmp_path / "landing")
    kinds = fixtures.write_sales_fixture_files(landing)
    fixture_dims(str(tmp_path / "dims"))
    valid = [os.path.join(landing, n) for n, k in kinds.items() if k.startswith("valid")]
    exp = inputs.expected_outputs(valid, str(tmp_path / "dims"))
    # 11 valid rows; the orphan customer 999 vanishes through the inner join
    assert exp.joined_rows == 10
    assert exp.customer_months == 9
    assert exp.total == Decimal("160.00")
    # the March tie at store 10: both persons are paid
    assert (10, "2024-03", 100) in exp.rank1
    assert (10, "2024-03", 101) in exp.rank1
    # a non-winner is not: store 10, January, person 101 sold less than 100
    assert (10, "2024-01", 101) not in exp.rank1
    assert (10, "2024-01", 100) in exp.rank1


def span(i, parent, start, end):
    return Span(i, parent, f"s{i}", start, end)


def test_self_time_subtracts_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 3.0), span(2, 0, 4.0, 8.0),
             span(3, 2, 5.0, 6.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(4.0)  # 10 - 2 - 4
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)  # grandchild counts against its own parent only
    assert st[3] == pytest.approx(1.0)
    assert st[0] + st[1] + st[2] + st[3] == pytest.approx(10.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 2.0, 6.0), span(2, 0, 4.0, 7.0),
             span(3, 0, 9.0, 12.0)]
    # children cover [2, 7] and [9, 10] of the parent
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_stage_summary_parallelism_is_longest_stage_tasks_over_cores():
    stages = [
        {"tasks": 8, "wall_ms": 100, "run_ms": 700, "cpu_ns": 5e8, "shuffle_read": 1,
         "shuffle_write": 2, "spill_disk": 0, "spill_mem": 0},
        {"tasks": 1, "wall_ms": 900, "run_ms": 900, "cpu_ns": 8e8, "shuffle_read": 0,
         "shuffle_write": 0, "spill_disk": 5, "spill_mem": 0},
    ]
    s = stage_summary(stages, cores=4)
    assert s["parallelism"] == 0.25
    assert (s["tasks"], s["shuffle_bytes"], s["spill_bytes"]) == (9, 3, 5)
    assert s["run_s"] == pytest.approx(1.6)
    assert stage_summary([], cores=4)["parallelism"] == 0.0


def test_tail_needs_ten_samples_beyond():
    assert run.tail(list(range(10))) is None
    t = run.tail([float(i) for i in range(40)])
    assert t["n"] == 40 and t["percentile"] == 75.0
    assert sum(v > t["value"] for v in range(40)) == 10


def test_compare_refuses_unequal_cores():
    rec = {"workload": "queries", "cores": 4, "heap": "1g",
           "end_to_end": {"steady_s": 2.0}}
    assert compare.refusal([rec, dict(rec)]) is None
    assert "cores" in compare.refusal([rec, dict(rec, cores=8)])
    assert compare.compare([rec], [dict(rec, end_to_end={"steady_s": 1.0})]) == [
        ("steady_s", 2.0, 1.0, 0.5)]


def test_benchmark_json_names_what_run_reports():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
