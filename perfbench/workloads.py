"""The two workloads. Each one generates its inputs from the seed,
registers its frames during set-up, runs units of work (a pipeline
batch or a pass over the query mix) and checks each unit's outputs
after its timed region.

With a tracer installed, each unit also yields per-layer figures,
named by the engine module they measure.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import checks
import inputs
from tracer import Span, Tracer, self_times

PIPELINE_CALLS = {
    "validate_files": "csv_source.validate",
    "quarantine": "csv_source.quarantine",
    "read_sales_csv": "csv_source.read_plan",
    "enrich_sales": "marts.enrich_plan",
}
LEDGER_CALLS = ("stuck_in_start", "split_processed", "mark_start", "mark_completed",
                "compact")
QUERY_MIX = (
    "q01_customer_monthly_spend",
    "q02_sales_team_incentive",
    "e03_session_window",
    "c01_curate_corpus",
    "t01_text_stats",
)


class Workload:
    """One workload's inputs, set-up, unit of work and checks."""

    name = ""
    warmup = 2  # units before the steady ones, the cold unit included
    min_steady = 3  # steady units per run, whatever --seconds says

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer: Tracer | None = None

    def fail(self, problems: list[str]) -> None:
        """Count one failed operation and keep its reasons."""
        self.failed += 1
        self.problems.extend(problems)

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def unit(self, k: int) -> float:
        """Run unit ``k``; return its wall time in seconds."""
        raise NotImplementedError

    def install(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def span(self, name: str, **attrs):
        """A span while the tracer records, else nothing."""
        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.span(name, **attrs)
        return nullcontext()

    def unit_layers(self, spans: list[Span], phase: str) -> dict:
        """Per-layer figures of the traced unit just run, from its spans;
        ``phase`` is "cold" for unit 0, else "steady"."""
        return {}

    def finish(self) -> None:
        """Checks made once per run, after the measured units."""


# --------------------------------------------------------------------------
# pipeline workload
# --------------------------------------------------------------------------


class Backfill(Workload):
    """Each unit lands a freshly named copy of one batch, the whole
    sales fact of the first ``MONTHS`` months in ``FILES`` CSVs plus one
    file per quarantine route, into one long-lived ledger. Every unit
    but the first also re-sends a file the previous unit COMPLETED,
    which the ledger must skip, and every unit compacts the ledger
    inside its own latency, as a maintenance job beside the load would.
    So all steady units do the same work. Unit 1 is warm-up: the JIT is
    still compiling through it."""

    name = "backfill"
    MONTHS = 3
    FILES = 6
    min_steady = 2

    def __init__(self, seed, work, cores):
        super().__init__(seed, work, cores)
        self.catalog = os.path.join(work, "catalog")
        self.dims_dir = os.path.join(work, "dims")
        self.out_dir = os.path.join(work, "out")
        self.ledger_path = os.path.join(work, "ledger")
        self.accepted_bytes: dict[int, int] = {}

    def generate(self) -> None:
        inputs.make_catalog(self.seed, self.catalog, days=inputs.month_days(self.MONTHS))
        inputs.write_dims(self.seed, self.catalog, self.dims_dir)
        self.batch = inputs.backfill_batch(self.catalog, self.work, self.MONTHS, self.FILES)
        valid = [os.path.join(self.batch.pristine, n)
                 for n, r in self.batch.routes.items() if r == "valid"]
        self.expected = inputs.expected_outputs(valid, self.dims_dir)

    def register(self, spark) -> None:
        from end_to_end_sales_etl_de_project_spark.ledger import Ledger

        self.spark = spark
        self.dims = {n: spark.read.parquet(os.path.join(self.dims_dir, f"{n}.parquet"))
                     for n in ("customer", "store", "sales_team")}
        self.ledger = Ledger(spark, self.ledger_path)

    def install(self, tracer: Tracer) -> None:
        import end_to_end_sales_etl_de_project_spark.pipeline as pipeline
        from end_to_end_sales_etl_de_project_spark.ledger import Ledger

        super().install(tracer)
        for attr, label in PIPELINE_CALLS.items():
            tracer.patch(pipeline, attr, label)
        tracer.patch(pipeline, "write_parquet",
                     lambda df, path, **kw: "writers." + os.path.basename(path),
                     after=lambda span: span.attrs.update(tracer.storage()))
        for attr in LEDGER_CALLS:
            tracer.patch(Ledger, attr, f"ledger.{attr}")

    def _run(self, k: int, landing: str):
        from end_to_end_sales_etl_de_project_spark.pipeline import run_pipeline

        result = run_pipeline(self.spark, landing, self.out_dir, self.dims, self.ledger,
                              run_ts=f"b{k:04d}")
        self.ledger.compact()
        return result

    def unit(self, k: int) -> float:
        landing = os.path.join(self.work, "landing", f"b{k:04d}")
        resent = f"b{k - 1:04d}" if k else None
        landed = inputs.stage_batch(self.batch, landing, f"b{k:04d}", resent)
        redelivered = [f"{resent}_{inputs.FIRST_SALES_FILE}"] if resent else []
        self.accepted_bytes[k] = sum(
            os.path.getsize(os.path.join(landing, n))
            for n, r in landed.items() if r == "valid" and n not in redelivered)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span("pipeline.run", batch=k):
                result = self._run(k, landing)
        except Exception as e:
            # the ledger is left in START, so every later batch would
            # abort too: count it and end the run
            self.fail([f"batch {k}: {type(e).__name__}: {e}"[:500]])
            raise
        wall = time.perf_counter() - t0
        problems = (checks.check_sinks(result.outputs, result.row_counts, self.expected)
                    + checks.check_routes(landed, result.quarantined, self.out_dir)
                    + checks.check_ledger(self.ledger_path, result.processed_files,
                                          result.skipped_files, redelivered))
        if problems:
            self.fail([f"batch {k}: {p}" for p in problems])
        self._sink_files = {s: checks.data_files(p) for s, p in result.outputs.items()}
        self._sink_bytes = {s: sum(map(os.path.getsize, fs))
                            for s, fs in self._sink_files.items()}
        self._files_valid = len(result.processed_files) + len(result.skipped_files)
        self._files_quarantined = len(result.quarantined)
        shutil.rmtree(landing, ignore_errors=True)
        for path in result.outputs.values():
            shutil.rmtree(path, ignore_errors=True)
        for route in (*checks.QUARANTINE, "processed"):
            shutil.rmtree(os.path.join(self.out_dir, route), ignore_errors=True)
        return wall

    def unit_layers(self, spans: list[Span], phase: str) -> dict:
        """Figures of the batch just run, from its spans (the last
        ``pipeline.run`` span and everything under it)."""
        root = next(s for s in reversed(spans) if s.name == "pipeline.run")
        k = root.attrs["batch"]
        batch_spans = [s for s in spans if s.id >= root.id]
        selfs = self_times(batch_spans)
        kids = [s for s in batch_spans if s.parent == root.id]
        gap = root.dur - selfs[root.id] - sum(s.dur for s in kids)
        if abs(gap) > 1e-6:
            self.fail([f"batch {k}: child spans and self time miss the wall by {gap:.6f}s"])
        out = {"pipeline.self_s": selfs[root.id],
               "pipeline.rows_per_s": self.expected.joined_rows / root.dur}
        for attr in LEDGER_CALLS:
            out[f"ledger.{attr}_s"] = sum(s.dur for s in kids if s.name == f"ledger.{attr}")
        out["ledger.jobs"] = sum(s.job_hi - s.job_lo for s in kids
                                 if s.name.startswith("ledger."))
        out["ledger.files"] = len([f for f in os.listdir(self.ledger_path)
                                   if f.endswith(".parquet")])
        for label in PIPELINE_CALLS.values():
            out[f"{label}_s"] = sum(s.dur for s in kids if s.name == label)
        out["csv_source.files_valid"] = self._files_valid
        out["csv_source.files_quarantined"] = self._files_quarantined
        for sink in checks.SINKS:
            span = next(s for s in kids if s.name == f"writers.{sink}")
            st = self.tracer.stats(span)
            out.update({
                f"writers.{sink}.s": span.dur,
                f"writers.{sink}.files": len(self._sink_files[sink]),
                f"writers.{sink}.bytes": self._sink_bytes[sink],
                f"writers.{sink}.tasks": st["tasks"],
                f"writers.{sink}.parallelism": st["parallelism"],
                f"writers.{sink}.shuffle_bytes": st["shuffle_bytes"],
                f"writers.{sink}.spill_bytes": st["spill_bytes"],
            })
        # the first sink's write fills the enrichment cache
        first = next(s for s in kids if s.name == f"writers.{checks.SINKS[0]}")
        out["marts.cached_bytes"] = first.attrs["mem_bytes"] + first.attrs["disk_bytes"]
        out["writers.files_per_batch"] = sum(map(len, self._sink_files.values()))
        out["writers.stored_bytes_ratio"] = (sum(self._sink_bytes.values())
                                             / self.accepted_bytes[k])
        return out


# --------------------------------------------------------------------------
# query workload
# --------------------------------------------------------------------------


class Queries(Workload):
    """The fixed query mix over a seeded catalog whose fact tables are
    ``FACT_FRAC`` of sf0.1 (dimensions whole). Unit 0 is the cold pass;
    passes are short, so more of them warm up and more are measured.
    They keep getting faster for about seven passes after the cold one."""

    name = "queries"
    FACT_FRAC = 0.05
    warmup = 8
    min_steady = 6

    def __init__(self, seed, work, cores):
        super().__init__(seed, work, cores)
        self.catalog = os.path.join(work, "catalog")

    def generate(self) -> None:
        inputs.make_catalog(self.seed, self.catalog, self.FACT_FRAC)

    def register(self, spark) -> None:
        from end_to_end_sales_etl_de_project_spark.sources.tables import load_tables

        self.spark = spark
        load_tables(spark, self.catalog)

    def unit(self, k: int) -> float:
        from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

        t0 = time.perf_counter()
        for q in QUERY_MIX:
            self.attempted += 1
            try:
                with self.span(f"plans.{q}", unit=k):
                    QUERIES[q](self.spark, self.catalog).write.format("noop") \
                        .mode("overwrite").save()
            except Exception as e:  # counted; the pass goes on
                self.fail([f"pass {k} {q}: {type(e).__name__}: {e}"[:500]])
        return time.perf_counter() - t0

    def unit_layers(self, spans: list[Span], phase: str) -> dict:
        last = [s for s in spans if s.name.startswith("plans.")][-len(QUERY_MIX):]
        out = {}
        for s in last:
            out[f"{s.name}.{phase}_s"] = s.dur
            out[f"{s.name}.parallelism"] = self.tracer.stats(s)["parallelism"]
        out.update({f"storage.{k}": v for k, v in self.tracer.storage().items()})
        return out

    def finish(self) -> None:
        """Hash-compare every query of the mix with its DuckDB oracle."""
        from end_to_end_sales_etl_de_project_spark.plans.registry import ORACLES, QUERIES
        from end_to_end_sales_etl_de_project_spark.testing import (
            compare_spark_to_oracle,
            duckdb_connection,
            run_oracle,
        )

        con = duckdb_connection(self.catalog)
        try:
            for q in QUERY_MIX:
                r = compare_spark_to_oracle(q, QUERIES[q](self.spark, self.catalog),
                                            run_oracle(con, ORACLES[q]))
                self.attempted += 1
                if not r.match:
                    self.fail([f"{q}: {m}"[:500] for m in r.mismatches])
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Backfill, Queries)}
