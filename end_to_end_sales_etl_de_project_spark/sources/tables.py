"""Parquet table catalog for the driver-provided TPC-H-ish testdata.

Reference parity: the reference reads its fact from CSV (S1,
``src/transform/transform.py:31-34``) and dims over JDBC (S2,
``src/utils/utility.py:51-60``). The engine's canonical storage is
parquet — columnar, splittable, predicate-pushdown-friendly — which is
what you'd run against 100 TB. CSV and JDBC remain available as sources
(`csv_source.py`, `jdbc.py`); this module is the parquet path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.checkpoints import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table. Plain `spark.read.parquet` (memoized per
    session by ``session_memo``) — filters and projections applied by
    callers are pushed into the scan by Catalyst, so no eager work
    happens here.

    Pins the session timezone to UTC: timestamp→string rendering (the
    reference's month-key semantics) must not depend on whoever built
    the session.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLES}")
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI division-by-zero throws where the DuckDB oracle yields NULL
    # (Spark 4 default is ANSI on) — pin NULL semantics for any session
    if spark.conf.get("spark.sql.ansi.enabled", "true") != "false":
        spark.conf.set("spark.sql.ansi.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        if name == "events":
            enable_nanos_as_long(spark)
            return normalize_event_ts(spark.read.parquet(path))
        return spark.read.parquet(path)

    # the catalog role a metastore plays: each spark.read.parquet call
    # re-lists the path and re-reads footers for schema (~0.15 s of
    # driver time, measured sf0.1), and a 6-table join chain re-paid it
    # per table per build (~1 s, PERF.md r9). DataFrames are immutable
    # lazy plans, so one resolved relation per (session, path, data
    # fingerprint) serves every consumer — the fingerprint keeps a
    # mid-session rewrite from being served a cached file listing that
    # points at deleted part files.
    return session_memo(spark, path, "table", build=build)


def enable_nanos_as_long(spark: SparkSession) -> None:
    """events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to
    map to its microsecond TimestampType — read nanos as long (must be
    set before the read is planned)."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (LTZ, UTC instants)
    whatever the parquet flavor was — shared by the batch loader and
    the streaming source so the two paths cannot drift:

    - bigint (nanos-as-long): exact integer truncation to micros (a
      double division would lose precision above 2^53 ns);
    - timestamp_ntz (µs parquet from other engines): reinterpret as
      UTC instants (watermarks require LTZ).
    """
    ts_type = dict(df.dtypes).get(ts_col)
    if ts_type == "bigint":
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a file-count-bound scan across the session's shuffle
    width before FAN-OUT-HEAVY work (explode, per-row vector math,
    shingle/window hashing).

    Why: Spark parallelizes scans by file splits, and a parquet file
    is only split at row-group boundaries — the single-file,
    single-row-group tables this sandbox benches on therefore scan as
    ONE partition, serializing the whole map stage (scan → explode →
    hash → partial agg) on one core regardless of ``local[32]``. A
    round-robin repartition before the fan-out trades one narrow
    shuffle of the SMALL pre-fanout rows for a fully parallel heavy
    stage (measured 3.5-5x on the substring-dedup and shingle-index
    builds at sf0.1).

    Scale honesty: this is deliberately a NO-OP whenever the input
    already has at least the session's shuffle width of partitions —
    i.e. on any real multi-file / multi-row-group 100 TB table — so
    plans at scale are untouched; only degenerate tiny-file inputs
    get rescued. Do NOT use it in front of cheap scan→filter→agg
    plans (the exchange would cost more than the serial stage; the
    q-family stays pure)."""
    n = min_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
