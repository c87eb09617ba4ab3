"""External-command pipe operator — Hadoop Streaming parity.

Reference: ST/PipeMapRed.java:46 (fork executable, frame records over
stdin/stdout, tab-separated text framing; options ST/StreamJob.java:
275-333). PySpark's own Python workers use the same pipe architecture,
so the idiomatic replacement for a script UDF is a Python UDF — but for
*exact* any-language parity we expose ``rdd.pipe`` with the text framing.

The typed-bytes binary framing (``-io typedbytes``) lives in
``operators/typedbytes.py`` — use it when records carry tabs, newlines,
raw bytes, or typed numbers that the text framing would mangle.

Scale: the child process runs once per partition (PipeMapRed forks once
per task — same granularity); throughput is bounded by the pipe, exactly
as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pipe_lines(
    df: DataFrame,
    command: str,
    sep: str = "\t",
    out_cols: list[str] | None = None,
) -> DataFrame:
    """Run an external command over tab-joined records (PipeMapper).

    Input rows are rendered as delimiter-joined lines on the child's
    stdin; each stdout line becomes one output row, split on the
    delimiter into ``out_cols`` (default: single ``line`` column).
    """
    spark = df.sparkSession
    cols = df.columns
    # coalesce each column: concat_ws SKIPS nulls, which would shift
    # every subsequent field and corrupt the child's record framing —
    # a null crosses the pipe as an empty field (the Streaming text
    # convention; typed-bytes framing preserves real nulls)
    lines = df.select(
        F.concat_ws(
            sep, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
        ).alias("_line")
    )
    piped = lines.rdd.map(lambda r: r["_line"]).pipe(command)
    if not out_cols:
        schema = T.StructType([T.StructField("line", T.StringType())])
        return spark.createDataFrame(piped.map(lambda s: (s,)), schema)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in out_cols])
    n = len(out_cols)
    return spark.createDataFrame(
        piped.map(lambda s, n=n, sep=sep: tuple((s.split(sep) + [None] * n)[:n])), schema
    )
