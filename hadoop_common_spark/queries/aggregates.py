"""Aggregate-framework queries (SURVEY.md §2.5): the descriptor DSL,
UniqValueCount, ValueHistogram — over the `events` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum_sql
from hadoop_common_spark.operators.aggregate import aggregate_job, value_histogram
from hadoop_common_spark.queries import query


@query(
    "aggregate_framework",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS record_count,
           {dsum_sql('value')} AS value_sum,
           MAX(user_id) AS max_user,
           MIN(user_id) AS min_user,
           COUNT(DISTINCT user_id) AS uniq_users,
           MAX(props) AS max_props,
           MIN(props) AS min_props
    FROM events
    GROUP BY event_type
    """,
)
def aggregate_framework(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ValueAggregator descriptor DSL (lib/aggregate, dispatch at
    ValueAggregatorBaseDescriptor.java:39-117) as one groupBy().agg():
    every aggregator type exercised in a single job."""
    df = spark.table("events")
    out = aggregate_job(
        df,
        ["event_type"],
        [
            ("value_sum", "DoubleValueSum", "value"),
            ("max_user", "LongValueMax", "user_id"),
            ("min_user", "LongValueMin", "user_id"),
            ("uniq_users", "UniqValueCount", "user_id"),
            ("max_props", "StringValueMax", "props"),
            ("min_props", "StringValueMin", "props"),
        ],
    )
    counts = df.groupBy("event_type").agg(F.count(F.lit(1)).alias("record_count"))
    return counts.join(out, "event_type").select(
        "event_type", "record_count", "value_sum", "max_user", "min_user",
        "uniq_users", "max_props", "min_props",
    )


@query(
    "uniq_value_count",
    oracle="""
    SELECT user_id, COUNT(DISTINCT event_type) AS uniq_event_types,
           LEAST(COUNT(DISTINCT event_type), 3) AS capped_uniq
    FROM events
    GROUP BY user_id
    """,
)
def uniq_value_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqValueCount (UniqValueCount.java:36-63) with and without the
    item cap (exact-count semantics; deviation documented in
    operators/aggregate.py)."""
    df = spark.table("events")
    return aggregate_job(
        df,
        ["user_id"],
        [
            ("uniq_event_types", "UniqValueCount", "event_type"),
            ("capped_uniq", "UniqValueCount", "event_type", 3),
        ],
    )


@query(
    "value_histogram",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_distinct_values,
           MIN(_cnt) AS min_count,
           list_sort(list(_cnt))[COUNT(*) // 2 + 1] AS median_count,
           MAX(_cnt) AS max_count,
           (CAST(SUM(_cnt) AS DOUBLE) / CAST(COUNT(_cnt) AS DOUBLE)) AS mean_count,
           SQRT((CAST(SUM(_cnt * _cnt) AS DOUBLE)
                 - CAST(SUM(_cnt) AS DOUBLE) * CAST(SUM(_cnt) AS DOUBLE)
                   / CAST(COUNT(_cnt) AS DOUBLE))
                / CAST(COUNT(_cnt) AS DOUBLE)) AS stddev_count
    FROM (
      SELECT user_id, event_type, COUNT(*) AS _cnt
      FROM events GROUP BY user_id, event_type
    )
    GROUP BY user_id
    """,
)
def value_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram report (ValueHistogram.java:83-120): per user, the
    distribution of event_type frequencies — #distinct,
    min/median/max/mean/stddev of the counts. Median is the reference's
    sorted-counts[length/2] element (no interpolation)."""
    return value_histogram(spark.table("events"), ["user_id"], "event_type")


@query(
    "events_basic_stats",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           ({dsum_sql('value')} / COUNT(value)) AS avg_value
    FROM events
    GROUP BY user_id
    """,
)
def events_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IntSumReducer/LongSumReducer shape (lib/reduce/IntSumReducer.java:34)
    over the K/V-style events table: per-key sum/min/max/avg/count."""
    from hadoop_common_spark.functions.exact import dsum

    df = spark.table("events")
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (dsum("value") / F.count("value")).alias("avg_value"),
    )


# Market-basket 2-itemsets (association rules — the Mahout-on-Hadoop-era
# workload the reference ecosystem ran downstream of MapReduce): parts
# co-ordered within the same order, scored by lift. DETERMINISM: lift =
# (N * c_ab) / (c_a * c_b) over exact BIGINT counts in one fixed IEEE
# association order — log-free, bit-identical across engines (the PMI
# precedent; lift IS PMI's ratio form over baskets).
_BASKET_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
pc AS (
  SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM pairs GROUP BY part_a, part_b
)
SELECT part_a, part_b, c_ab, ia.c AS c_a, ib.c AS c_b,
       (CAST(n_orders AS DOUBLE) * CAST(c_ab AS DOUBLE))
         / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)) AS lift
FROM pc
JOIN item ia ON pc.part_a = ia.l_partkey
JOIN item ib ON pc.part_b = ib.l_partkey
CROSS JOIN n
WHERE c_ab >= 2
ORDER BY lift DESC, part_a, part_b
LIMIT 100
"""


@query("orders_market_basket", oracle=_BASKET_ORACLE)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 co-ordered part pairs by lift (support >= 2 orders).
    Scale: the within-order self-join is keyed on l_orderkey and its
    fan-out is bounded by basket size squared (TPC-H baskets are <= 7
    lineitems — ~21 pairs/order however big the table; a pathological
    mega-basket would need an occupancy cap on the order key, which no
    TPC-H basket needs); item and pair supports are map-side-combined BIGINT
    aggregations; the two item joins are hash joins keyed on the part;
    N attaches as a broadcast one-row scalar (whitelisted shape);
    top-100 is TakeOrderedAndProject."""
    li = spark.table("lineitem").select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pc = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b"))
    lift = (F.col("n_orders").cast("double") * F.col("c_ab").cast("double")) / (
        F.col("c_a").cast("double") * F.col("c_b").cast("double")
    )
    return (
        pc.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select("part_a", "part_b", "c_ab", "c_a", "c_b", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(100)
    )


# Pearson correlation (r6) — the statistics-family member beyond
# mean/median/stddev: per return flag, the correlation between quantity
# and extended price. DETERMINISM: F.corr / DuckDB corr() are
# stream-order-dependent (Welford-style accumulation); instead the five
# sufficient statistics are EXACT decimal sums (dsum — order-
# independent), and r is one fixed IEEE expression tree over their
# doubles, so both engines produce identical bits at any partitioning.
_CORR_ORACLE = f"""
WITH v AS (
  SELECT l_returnflag,
         l_quantity / 10.0 AS x,
         l_extendedprice / 1000.0 AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('x')} AS sx,
         {dsum_sql('y')} AS sy,
         {dsum_sql('x * y')} AS sxy,
         {dsum_sql('x * x')} AS sxx,
         {dsum_sql('y * y')} AS syy
  FROM v GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
FROM s
"""


@query("lineitem_qty_price_correlation", oracle=_CORR_ORACLE)
def lineitem_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag Pearson r between l_quantity and l_extendedprice from
    exact-decimal sufficient statistics. Scale: ONE partial-aggregated
    shuffle (five sums + count per group); the correlation itself is
    per-group scalar math over the aggregate row. DETERMINISM DETAIL:
    r is scale-invariant, so x,y are pre-scaled (q/10, p/1000) to keep
    every sum's micro-unit integer below 2^53 — above that, DuckDB's
    DECIMAL->DOUBLE cast double-rounds ((double)int128 then /1e6) while
    Spark/BigDecimal rounds once, and the 1-2 ULP disagreement survives
    the cancellation in n*sxy - sx*sy (measured: syy at 7.4e19 micro
    diverged; rescaled sums are cast bit-identically). Headroom: syy is
    the largest sum (~6e15 micro at sf0.1); for corpora past ~2^53/1e4
    rows, widen the scaling constants."""
    from hadoop_common_spark.functions.exact import dsum

    q = F.col("l_quantity") / 10.0
    p = F.col("l_extendedprice") / 1000.0
    s = spark.table("lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("sx"),
        dsum(p).alias("sy"),
        dsum(q * p).alias("sxy"),
        dsum(q * q).alias("sxx"),
        dsum(p * p).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
    )


# Deterministic mode (r6) — the ValueHistogram family's "most frequent
# value" report with an EXPLICIT tiebreak (max count, then smallest
# band): engine-native mode()/arg_max have unspecified tie order, so
# the mode is computed as ONE struct-max over (count, -band) — the
# relational keep-last idiom, partial-aggregated, no window.
_MODE_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(FLOOR(value / 50.0) AS INT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, band, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n DESC, band ASC) AS rk
  FROM c
)
SELECT event_type, band AS mode_band, n AS mode_count FROM r WHERE rk = 1
"""


@query("events_mode_band_by_type", oracle=_MODE_ORACLE)
def events_mode_band_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent value band per event type, ties to the smallest
    band. Scale: band counts are one partial-aggregated shuffle; the
    argmax is a second partial aggregate over |bands| rows per type via
    struct-max (no window, no sort) — the oracle's ROW_NUMBER form is
    the semantic spec, not the plan."""
    c = (
        spark.table("events")
        .groupBy(
            "event_type", F.floor(F.col("value") / 50.0).cast("int").alias("band")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    best = F.max(F.struct(F.col("n"), (-F.col("band")).alias("_nb"))).alias("b")
    return c.groupBy("event_type").agg(best).select(
        "event_type",
        (-F.col("b._nb")).cast("int").alias("mode_band"),
        F.col("b.n").alias("mode_count"),
    )


# Real HyperLogLog (r6) — the mergeable-sketch distinct count with a
# HARD oracle: unlike approx_count_distinct (engine-internal hashing,
# checkable only rows-only), this HLL is built from the repo's
# deterministic md5 hash, so DuckDB reproduces the sketch BIT-IDENTICALLY
# and the driver hash-checks the estimate AND the registers. m=64
# registers from the hash's low 6 bits; rank = leading-zero count of the
# 54-bit suffix via length(bin(v)) (byte-identical in both engines,
# probed). DETERMINISM: the harmonic denominator sum(2^-M_j) is the
# exact integer rational S / 2^55 with S = sum(1 << (55 - M_j)) — a
# BIGINT sum, zero float accumulation; the estimate is one constant
# multiply and one division of exactly-converted values (BIGINT->double
# is a single correctly-rounded C/JVM conversion — unlike the
# DECIMAL->double double-rounding the correlation query documents). The
# small-range linear-counting correction is intentionally omitted
# (needs ln; counts here sit far above 2.5m) — n_empty is emitted so a
# consumer can apply it.
from hadoop_common_spark.operators.sketches import HLL_M as _HLL_M
from hadoop_common_spark.operators.sketches import HLL_NUM as _HLL_NUM


def _hll_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'hll:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT event_type, user_id,
         ({h}) % {_HLL_M} AS reg,
         ({h}) // {_HLL_M} AS v
  FROM events
),
ranked AS (
  SELECT event_type, reg,
         MAX(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS m
  FROM hashed GROUP BY event_type, reg
),
folded AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hit,
         CAST(SUM(1::BIGINT << (55 - m)) AS BIGINT) AS s_present,
         CAST(SUM(m) AS BIGINT) AS register_sum
  FROM ranked GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT f.event_type, n_exact,
       {_HLL_NUM} / CAST(s_present + ({_HLL_M} - n_hit) * (1::BIGINT << 55)
                         AS DOUBLE) AS hll_estimate,
       CAST({_HLL_M} - n_hit AS BIGINT) AS n_empty,
       register_sum
FROM folded f JOIN exact e ON f.event_type = e.event_type
"""


@query("events_hll_distinct_users", oracle=_hll_oracle())
def events_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL (m=64) distinct-user estimate alongside the
    exact count — the sketch whose per-partition registers MERGE by max,
    which is what makes distinct counting one partial-aggregated pass at
    100 TB (and across days: store 64 BIGINTs per window, merge
    forever). Scale: rows ship once to (type, register) — 64·|types|
    partial groups — then fold per type; the exact leg is the two-level
    count-distinct kept only for the eval (a production pipeline drops
    it and this becomes sub-shuffle-sized). Register build / merge /
    fold live in operators/sketches.py — the streaming maintainer
    (streaming/jobs.hll_incremental) folds the SAME registers, so the
    one-definition rule holds across batch and stream."""
    from hadoop_common_spark.operators.sketches import hll_estimate, hll_registers

    regs = hll_registers(spark.table("events"), ["event_type"], "user_id")
    est = hll_estimate(regs, ["event_type"])
    exact = spark.table("events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "hll_estimate", "n_empty", "register_sum"
    )


# KMV / bottom-k quantile sketch (r6) — the mergeable-quantile sibling
# of the HLL sketch: per group keep the k rows with the smallest
# deterministic hash (a uniform sample that MERGES by min — union two
# partitions' bottom-k and re-take bottom-k, no information loss), then
# read quantiles off the sample by exact rank math. The exact leg (a
# full per-type sort) rides along ONLY to measure the estimator; a
# production pipeline keeps the 128-row signature per group and gets
# percentiles of 100 TB streams with one partial-agg-shaped pass.
_KMVQ_K = 128


def _kmv_quantile_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'kmv:' || CAST(event_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT event_type, value, event_id, {h} AS hk FROM events
),
samp AS (
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hk, event_id) AS hr
  FROM hashed
),
sk AS (SELECT event_type, value, event_id FROM samp WHERE hr <= {_KMVQ_K}),
skr AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS vr,
         COUNT(*) OVER (PARTITION BY event_type) AS ns
  FROM sk
),
est AS (
  SELECT event_type,
         MAX(CASE WHEN vr = CAST(CEIL(0.5 * ns) AS BIGINT) THEN value END) AS p50_est,
         MAX(CASE WHEN vr = CAST(CEIL(0.9 * ns) AS BIGINT) THEN value END) AS p90_est,
         CAST(MAX(ns) AS BIGINT) AS n_sample
  FROM skr GROUP BY event_type
),
exr AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS vr,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
ex AS (
  SELECT event_type,
         MAX(CASE WHEN vr = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END) AS p50_exact,
         MAX(CASE WHEN vr = CAST(CEIL(0.9 * n) AS BIGINT) THEN value END) AS p90_exact,
         CAST(MAX(n) AS BIGINT) AS n_rows
  FROM exr GROUP BY event_type
)
SELECT e.event_type, n_rows, n_sample, p50_est, p90_est, p50_exact, p90_exact
FROM est s JOIN ex e ON s.event_type = e.event_type
"""


@query("events_value_kmv_quantiles", oracle=_kmv_quantile_oracle())
def events_value_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type P50/P90 of `value` estimated from a 128-row bottom-k
    hash sample, alongside the exact sorted-rank percentiles (no
    interpolation — the ValueHistogram convention; values pass through
    untouched, so both engines hash identically). Scale: the sketch leg
    is the two-phase grouped bottom-k (per-partition heaps — a hot type
    never funnels) and a 128-row-per-group window; the exact leg —
    which exists only to measure the estimate and is the thing this
    sketch REPLACES at corpus scale — selects its two ranks by value
    histogram (grouped_quantile_select) instead of window-ranking every
    row: a per-TYPE row_number sort has parallelism bounded by the
    number of types (measured 10.2s on 4 of 32 cores for 10M rows at
    the 100x tier)."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.dedup import hash60
    from hadoop_common_spark.operators.skew import (
        grouped_quantile_select,
        top_k_per_group_two_phase,
    )

    ev = spark.table("events")
    hk = hash60(F.concat(F.lit("kmv:"), F.col("event_id").cast("string")))
    hashed = ev.select("event_type", "value", "event_id", hk.alias("hk"))
    sk = top_k_per_group_two_phase(
        hashed, ["event_type"], _KMVQ_K, [F.col("hk"), F.col("event_id")]
    )

    def ranked_quantiles(df, p50_name, p90_name, n_name):
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        wc = Window.partitionBy("event_type")
        r = df.withColumn("vr", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wc)
        )
        pick = lambda q: F.max(
            F.when(
                F.col("vr") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )
        return r.groupBy("event_type").agg(
            pick(0.5).alias(p50_name),
            pick(0.9).alias(p90_name),
            F.max("n").cast("bigint").alias(n_name),
        )

    est = ranked_quantiles(sk, "p50_est", "p90_est", "n_sample")
    ex = grouped_quantile_select(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        ["event_id"],
        {"p50_exact": 0.5, "p90_exact": 0.9},
        n_col="n_rows",
    )
    return est.join(ex, "event_type").select(
        "event_type", "n_rows", "n_sample",
        "p50_est", "p90_est", "p50_exact", "p90_exact",
    )


# KMV distinct-cardinality estimator (r6) — completes the sketch
# algebra: HLL counts per group, THIS estimates per-group AND union
# cardinality from the same bottom-k signatures the Jaccard sketch
# uses. The union row is computed FROM THE SIGNATURES (bottom-k of the
# merged bottom-k's — the monoid property), which is the point: union
# anything (types, days, shards) without re-touching raw data.
_KMVU_K = 64


def _kmv_union_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'kmvu:' || CAST(user_id AS VARCHAR)")
    num = repr(float((_KMVU_K - 1) * (1 << 60)))
    est = (
        f"CASE WHEN cnt < {_KMVU_K} THEN CAST(cnt AS DOUBLE) "
        f"ELSE {num} / CAST(hkk AS DOUBLE) END"
    )
    return f"""
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (SELECT event_type, user_id, {h} AS hk FROM tu),
sig AS (
  SELECT event_type, user_id, hk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY hk, user_id) AS r
    FROM hashed
  ) WHERE r <= {_KMVU_K}
),
usig AS (
  SELECT user_id, hk FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY hk, user_id) AS r
    FROM (SELECT DISTINCT user_id, hk FROM sig)
  ) WHERE r <= {_KMVU_K}
),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(hk) AS hkk
  FROM sig GROUP BY event_type
),
uni AS (
  SELECT '__all__' AS event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
         MAX(hk) AS hkk
  FROM usig
),
exact_t AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
  UNION ALL
  SELECT '__all__', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
)
SELECT e.event_type, n_exact, cnt AS n_signature, {est} AS kmv_estimate
FROM (SELECT * FROM per_type UNION ALL SELECT * FROM uni) s
JOIN exact_t e ON s.event_type = e.event_type
"""


@query("events_distinct_users_kmv", oracle=_kmv_union_oracle())
def events_distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user estimate from 64-hash bottom-k signatures,
    plus the '__all__' UNION estimate computed by merging the per-type
    signatures (never re-reading raw events — the mergeability that
    lets a 100 TB pipeline union daily sketches forever). Below k
    members the signature is the set and the estimate is exact;
    otherwise (k-1)*2^60/h_(k). The exact leg rides along for the eval
    only. Scale: one distinct + the two-phase bottom-k touch raw rows;
    everything else is signature-sized."""
    from hadoop_common_spark.operators.sketches import (
        kmv_cardinality,
        kmv_signature,
    )

    ev = spark.table("events")
    sig = kmv_signature(ev, ["event_type"], "user_id", _KMVU_K, "kmvu:")
    per_type = kmv_cardinality(sig, ["event_type"], _KMVU_K)
    union_sig = (
        sig.select(F.lit("__all__").alias("event_type"), "_id", "_hk")
        .dropDuplicates(["_id"])
        .orderBy("_hk", "_id")
        .limit(_KMVU_K)
    )
    uni = kmv_cardinality(union_sig, ["event_type"], _KMVU_K)
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
        .unionByName(
            ev.agg(
                F.countDistinct("user_id").cast("bigint").alias("n_exact")
            ).select(F.lit("__all__").alias("event_type"), "n_exact")
        )
    )
    return (
        per_type.unionByName(uni)
        .join(exact, "event_type")
        .select("event_type", "n_exact", "n_signature", "kmv_estimate")
    )


# A/B experiment analysis (r6) — the experimentation-analytics shape:
# users deterministically hash-split into two arms, per-arm mean of a
# per-user metric (total purchase value), and Welch's t² from exact
# sufficient statistics. DETERMINISM: the metric is pre-scaled (/100)
# so every decimal sum's micro-integer stays below 2^53 (the
# correlation query's DECIMAL->DOUBLE lesson; t is scale-invariant),
# and t² is one fixed IEEE expression over identically-cast doubles.
def _ab_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'ab:' || CAST(user_id AS VARCHAR)")
    purchase = (
        "CASE WHEN event_type = 'purchase' THEN value / 100.0 ELSE 0.0 END"
    )
    return f"""
WITH u AS (
  SELECT user_id, {h} % 2 AS arm,
         {dsum_sql(purchase)} AS x
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('x')} AS sx,
         {dsum_sql('x * x')} AS sxx
  FROM u GROUP BY arm
),
w AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
         MAX(CASE WHEN arm = 0 THEN sx END) AS sx0,
         MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
         MAX(CASE WHEN arm = 1 THEN n END) AS n1,
         MAX(CASE WHEN arm = 1 THEN sx END) AS sx1,
         MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx1
  FROM s
)
SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
       sx0 / n0 AS mean_a, sx1 / n1 AS mean_b,
       (sx0 / n0 - sx1 / n1) * (sx0 / n0 - sx1 / n1)
         / ((sxx0 - sx0 * sx0 / n0) / (n0 - 1.0) / n0
            + (sxx1 - sx1 * sx1 / n1) / (n1 - 1.0) / n1) AS t_squared
FROM w
"""


@query("events_ab_value_ttest", oracle=_ab_oracle())
def events_ab_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t² between hash-assigned arms on per-user purchase value
    (an A/A test here — the arms are random, so t² should be small;
    the OPERATOR is the point). Scale: one groupBy to users, one to the
    two arms; the statistic is per-row scalar math over a two-row
    aggregate. Everything cross-row is an exact decimal sum."""
    from hadoop_common_spark.functions.exact import dsum
    from hadoop_common_spark.operators.dedup import hash60

    arm = F.pmod(
        hash60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), F.lit(2)
    )
    u = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            dsum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value") / 100.0
                ).otherwise(F.lit(0.0))
            ).alias("x")
        )
        .withColumn("arm", arm)
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x").alias("sx"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    w = s.agg(
        pick(0, "n").alias("n0"), pick(0, "sx").alias("sx0"),
        pick(0, "sxx").alias("sxx0"),
        pick(1, "n").alias("n1"), pick(1, "sx").alias("sx1"),
        pick(1, "sxx").alias("sxx1"),
    )
    n0, sx0, sxx0 = F.col("n0"), F.col("sx0"), F.col("sxx0")
    n1, sx1, sxx1 = F.col("n1"), F.col("sx1"), F.col("sxx1")
    m0, m1 = sx0 / n0, sx1 / n1
    return w.select(
        n0.cast("bigint").alias("n_a"),
        n1.cast("bigint").alias("n_b"),
        m0.alias("mean_a"),
        m1.alias("mean_b"),
        (
            (m0 - m1) * (m0 - m1)
            / (
                (sxx0 - sx0 * sx0 / n0) / (n0 - F.lit(1.0)) / n0
                + (sxx1 - sx1 * sx1 / n1) / (n1 - F.lit(1.0)) / n1
            )
        ).alias("t_squared"),
    )
