"""Parquet table loaders for the driver's TPC-H-ish test tables.

Columnar parquet scans give Catalyst predicate pushdown + column pruning
for free; these helpers only centralize paths and view registration.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _normalize_ntz(_load_events(spark, path))
    return _normalize_ntz(spark.read.parquet(path))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Parquet written with isAdjustedToUTC=false reads as TIMESTAMP_NTZ
    under Spark's NTZ inference, which breaks surfaces that require the
    LTZ flavor (streaming event-time watermarks, direct epoch casts).
    The session timezone is pinned UTC (session.get_spark), so casting
    NTZ → TIMESTAMP relabels the same wall-clock instant and every
    downstream consumer — batch, streaming, oracle comparison — sees
    the one timestamp flavor the engine standardizes on."""
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    ([PARQUET_TYPE_ILLEGAL]); read nanos as long (legacy conf) and convert
    to a microsecond timestamp column. Works regardless of whether the
    file carries NANOS or MICROS (dtype-sniffed)."""
    from pyspark.sql import functions as F  # local import keeps module light

    # scope the legacy conf to this read: flipping it session-wide would
    # silently turn every later NANOS-timestamp parquet read into bigint
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        df.schema  # force plan resolution while the conf is active
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division — float division of int64 nanos loses precision
        # past 2^53 and rounds the microsecond
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> None:
    """Register test tables as temp views for spark.sql queries. Pass
    ``names`` to register only what a query reads — each registration
    costs a parquet schema read, so registering all ten tables per
    invocation is pure overhead for a two-table query."""
    for name in names if names is not None else TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def parse_json_pages(df: DataFrame, json_col: str, schema_ddl: str) -> DataFrame:
    """S3/S4/F16: raw JSON strings → typed columns via ``from_json`` with
    an explicit schema (never schema inference in pipelines — inference
    is a full extra pass and drifts with the data). Unparseable rows
    yield null fields rather than failing (permissive mode), so the E3
    dead-letter filter downstream can route them."""
    from pyspark.sql import functions as F

    return df.select(F.from_json(F.col(json_col), schema_ddl).alias("__j")).select("__j.*")
