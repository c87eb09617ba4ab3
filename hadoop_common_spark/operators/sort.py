"""Sort operators: total-order sort, secondary sort, top-k.

Reference:
- TotalOrderPartitioner + InputSampler (lib/partition/
  TotalOrderPartitioner.java:102-113, InputSampler.java:97-314): global
  sort via sampled split points. Spark's ``orderBy`` /
  ``repartitionByRange`` runs the same design (RangePartitioner samples
  internally) — at 100 TB this is the only sane global-sort strategy.
- Secondary sort (EX/SecondarySort.java:103-145): composite key sorted
  by (k1,k2), grouped by k1 — reducer sees values ordered by k2. Spark:
  window functions (streaming-friendly) or
  sort_array(collect_list(struct)) (materializes the group; avoid for
  huge groups — SURVEY.md §7.3).
- Top-k: the reference's single-reducer idiom (EX/Grep.java:87);
  Spark plans orderBy+limit as TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def total_order_sort(df: DataFrame, cols: list[str | Column], num_partitions: int | None = None) -> DataFrame:
    """Globally sorted output across partition files: partition i's rows
    all precede partition i+1's (the TeraSort contract,
    EX/terasort/TeraSort.java:58). Range partitioning + in-partition sort;
    sampling is Spark's RangePartitioner."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if num_partitions:
        out = df.repartitionByRange(num_partitions, *cs)
    else:
        out = df.repartitionByRange(*cs)
    return out.sortWithinPartitions(*cs)


def secondary_sort_collected(
    df: DataFrame, group_cols: list[str], order_struct_cols: list[str]
) -> DataFrame:
    """Secondary sort, collect formulation: per group, the value list
    sorted by the leading struct fields — byte-for-byte the reducer-input
    view (ReduceContextImpl.java:131-183). Materializes each group in
    memory: prefer the window formulation for skewed/huge groups."""
    return df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct(*order_struct_cols))).alias("sorted_values")
    )


def top_k(df: DataFrame, k: int, cols: list[Column]) -> DataFrame:
    """orderBy + limit → TakeOrderedAndProject: per-partition heaps + one
    merge, never a global shuffle sort."""
    return df.orderBy(*cols).limit(k)


def top_k_per_group(df: DataFrame, group_cols: list[str], k: int, order_cols: list[Column]) -> DataFrame:
    """Grouped top-k via window rank filter — one shuffle on the group key."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    block_col: Column,
    pos_col: str = "pos",
) -> DataFrame:
    """Global 1-based position under a total order WITHOUT a single-
    partition window (the naive ``row_number() OVER (ORDER BY ...)``
    funnels the whole table through one task — the reference's
    1-reducer idiom, EX/Grep.java:87, and exactly what dies at 100 TB).

    ``block_col`` must be a coarse, monotone-non-decreasing function of
    the leading order column (e.g. the first hex byte of an md5 order
    key, or ``floor(score * 16)``), so that ordering by
    (block, order_cols) equals ordering by order_cols. Then:

      1. row_number within each block — shuffle on block only;
      2. per-block counts (tiny: one row per block) → running offset via
         a window over that tiny aggregate (driver-scale, not data-scale);
      3. broadcast-join offsets back: pos = block_offset + in-block rank.

    Two data shuffles total (block partition + broadcast join is
    shuffle-free), each bounded by the block fan-out, never a global
    funnel. The TotalOrderPartitioner analog for *enumeration* rather
    than sort (lib/partition/TotalOrderPartitioner.java:102)."""
    ocs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    blocked = df.withColumn("_blk", block_col)
    rn = F.row_number().over(Window.partitionBy("_blk").orderBy(*ocs))
    counts = blocked.groupBy("_blk").agg(F.count(F.lit(1)).alias("_cnt"))
    # Window over the per-block aggregate: #blocks rows (hundreds), not
    # data-scale — the one place a global orderBy window is safe.
    off_w = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_blk", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off")
    )
    # eqNullSafe join: a NULL block key (e.g. a NULL score under
    # floor(score*16)) must keep its rows — a plain equi-join silently
    # drops them and shifts every later position. NULL blocks form their
    # own group and sort first (Spark asc-nulls-first), consistent with
    # the window/groupBy treatment above.
    offs2 = offsets.withColumnRenamed("_blk", "_blk2")
    return (
        blocked.withColumn("_rn", rn)
        .join(F.broadcast(offs2), F.col("_blk").eqNullSafe(F.col("_blk2")))
        .withColumn(pos_col, (F.col("_off") + F.col("_rn")).cast("bigint"))
        .drop("_blk", "_blk2", "_rn", "_off")
    )


def weighted_sample_keys(
    weight_col: Column, id_col: Column, salt: str = "ws:"
) -> Column:
    """A-ES key (Efraimidis & Spirakis) for distributed weighted
    sampling WITHOUT replacement: key = ln(u) / w with u a deterministic
    md5-derived uniform in (0, 1] — taking the k LARGEST keys is an
    exact weighted sample (equivalent to u^(1/w), in log space to avoid
    pow). Deterministic: u comes from the row's id + salt, so the
    sample is reproducible and resumable — rerunning a failed stage
    picks the same rows, and comparisons are per-row arithmetic only
    (no cross-row float accumulation). Selection via ``top_k`` is
    TakeOrderedAndProject: per-partition heaps, no global sort — the
    only scalable form of 'sample 1M docs from 100 TB by token-weight'."""
    from hadoop_common_spark.operators.dedup import hash60

    u = (hash60(F.concat(F.lit(salt), id_col.cast("string"))) + 1.0) / float(1 << 60)
    return F.log(u) / weight_col.cast("double")
