"""Test-data table loading (TESTDATA.md star schema + events/documents/embeddings)."""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize events.ts to TimestampType (instant, session tz = UTC)
    # whatever the parquet physical form is across driver testdata
    # generations:
    #  - TIMESTAMP(NANOS) reads as a nanos long under
    #    spark.sql.legacy.parquet.nanosAsLong -> floor-div to micros
    #    (matching DuckDB's ns->us coercion);
    #  - TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
    #    TIMESTAMP_NTZ -> cast to instant (UTC session tz makes this the
    #    same wall-clock DuckDB sees). Downstream epoch math
    #    (CAST(ts AS LONG)) is ANSI-legal on TimestampType but NOT on
    #    NTZ, so the SQL surface must see one type everywhere.
    for field in df.schema.fields:
        if field.name == "ts":
            kind = field.dataType.simpleString()
            if kind == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif kind == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame.

    Parquet scans get predicate pushdown + column pruning from Catalyst
    for free — the Spark replacement for the reference's hand-rolled
    ``PathFilter`` / split pruning (``lib/input/FileInputFormat.java:160``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return {name: _read_table(spark, sf_dir, name) for name in TABLE_NAMES}


def _holds_view(catalog, name: str, analyzed) -> bool:
    """True when the session's temp view ``name`` stores exactly the
    ``analyzed`` plan (what ``createOrReplaceTempView`` stored for it)."""
    try:
        return catalog.getRawTempView(name).get().plan().get().equals(analyzed)
    except Py4JJavaError:  # no such view, or a view stored without a plan
        return False


def register_views(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> dict[str, DataFrame]:
    """Load tables and register them as temp views for the SQL surface.

    The LOADS are memoized per (session, sf_dir): each costs ~10 parquet
    footer reads + py4j round trips (measured 0.6-2.0s), and the query
    wrappers call this on EVERY query — at small SFs that fixed overhead
    dominates sub-2s queries and its JVM-state variance was misread as
    per-query drift (r6's pipeline_clean_corpus watch item). The views
    are CHECKED every call and re-registered only where the catalog no
    longer holds the memoized DataFrame's analyzed plan: a temp view is
    global per session, so anything that re-pointed one of the names
    out-of-band (a test registering its own 'documents') must not
    survive a memo hit and serve wrong data. Re-registering all ten on
    every query cost ~90 ms of py4j time warm; checking them costs ~5 ms.
    Pass ``force=True`` after rewriting a table's files at the same path
    in-session (a memoized DataFrame pins its file listing at read
    time)."""
    if force or getattr(spark, "_hcs_views_sf_dir", None) != sf_dir:
        tables = load_tables(spark, sf_dir)
        spark._hcs_views_tables = tables
        spark._hcs_views_plans = {
            name: df._jdf.queryExecution().analyzed() for name, df in tables.items()
        }
        spark._hcs_views_sf_dir = sf_dir
    tables = spark._hcs_views_tables
    catalog = spark._jsparkSession.sessionState().catalog()
    for name, analyzed in spark._hcs_views_plans.items():
        if not _holds_view(catalog, name, analyzed):
            tables[name].createOrReplaceTempView(name)
    return tables
