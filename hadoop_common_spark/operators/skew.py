"""Skew mitigation: salting for hot keys.

Reference analog: RehashPartitioner (lib/partition/RehashPartitioner.java
:48) re-hashes to spread skewed hashCodes, and the reference otherwise
leaves skew to hand-tuning. Spark's AQE already splits skewed *join*
partitions at runtime; explicit salting remains the tool for skewed
**aggregations** (AQE cannot split a hash-aggregate group) and for joins
where one hot key dwarfs everything.

Two-phase salted aggregation: groupBy(key, salt) partial → groupBy(key)
final. Both phases are hash aggregates with map-side partials; the first
shuffle spreads a hot key over ``n_salts`` reducers. Works for any
algebraic aggregate (sum/count/min/max — anything with a merge step).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def derive_n_segments(n_rows: int, floor: int = 64) -> int:
    """Balanced two-level-scan segment count: ``max(floor, isqrt(n))``.

    The segmented scans hold two kinds of bounded state: (a) one
    collected segment's rows per (key, segment) fold task —
    worst-case ``N_key / n_segments`` for a key whose order values are
    ~uniform over the range — and (b) the per-key combine's array of
    ``<= n_segments`` segment summaries. ``n_segments = sqrt(N)``
    balances the two at O(sqrt N) each BY CONSTRUCTION (1e12 rows ->
    1M segments -> ~1M rows per hot-key segment and a 1M-entry combine
    array), instead of leaving a fixed 64 that makes (a) grow as
    N_key/64 — the single-aggregation-value class the histogram
    selection work eliminated elsewhere (VERDICT r9 #3). The floor
    keeps small inputs at the r9-measured sweet spot.

    The O(sqrt N) per-segment bound assumes order values spread
    ~uniformly over their range (event ids, timestamps — the design
    point); a pathologically clustered order key concentrates rows in
    few segments and the caller should pass an explicit ``n_segments``
    sized to the cluster density instead."""
    return max(floor, math.isqrt(max(n_rows, 0)))


def _segment_expr(order_col: str, lo: int, width: int) -> Column:
    """Order-range segment index via exact INTEGER division —
    ``(order - lo) div width``, never double division: for order spans
    past ~4e15 a double quotient can round a boundary row into the
    next segment on one engine only, breaking cross-engine fold
    grouping (ADVICE r9). ``order - lo >= 0`` so trunc == floor and
    this matches a DuckDB ``//`` rendering bit-for-bit. Backticks in
    ``order_col`` are escaped by doubling (ADVICE r10) — latent today
    (all callers pass fixed simple names) but the expr would otherwise
    mis-parse a quoted identifier."""
    safe = order_col.replace("`", "``")
    return F.expr(f"(cast(`{safe}` as bigint) - {lo}) div {width}")


def salted(df: DataFrame, n_salts: int = 32, salt_col: str = "_salt") -> DataFrame:
    """Add a deterministic salt derived from the full row hash (md5 of a
    canonical concat would be engine-portable, but the salt never leaves
    the job — xxhash64 is fine and fast)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``aggs`` maps output name → (merge_fn_name, partial Column), e.g.
    ``{"total": ("sum", F.sum("v")), "hi": ("max", F.max("v"))}`` —
    the partial aggregates per (key, salt), then the named merge function
    combines partials per key. count merges with sum.
    """
    part = salted(df, n_salts).groupBy(*key_cols, "_salt").agg(
        *[c.alias(f"_p_{name}") for name, (_, c) in aggs.items()]
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    finals = []
    for name, (how, _) in aggs.items():
        if how not in merge:
            raise ValueError(f"non-algebraic merge {how!r} — cannot salt")
        finals.append(merge[how](f"_p_{name}").alias(name))
    return part.groupBy(*key_cols).agg(*finals)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salts: int = 8,
    salt_col: str = "_salt",
) -> DataFrame:
    """Skew-proof equi-join for a hot-keyed left side when the right side
    is too big to broadcast: salt the left, replicate the right n_salts×
    (explode over the salt domain), join on (keys + salt).

    Trades right-side shuffle volume ×n_salts for evenly-spread left
    partitions — the explicit fallback when AQE's runtime skew split
    (the first resort, on by default) can't help, e.g. a single key
    holding >1 task's worth of rows on BOTH sides. Only inner/left joins
    are salt-safe (each left row carries exactly one salt; right rows
    exist for every salt, so no match is lost or duplicated).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    lt = left.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    )
    rt = right.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    return lt.join(rt, on + [salt_col], how).drop(salt_col)


def segmented_running_sum(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    out_col: str = "running",
    n_segments: int | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-proof per-key running total — the window shape NOTHING else
    rescues: a plain ``sum over (partition by key order by o rows
    unbounded preceding)`` is inherently sequential per key, so a hot
    key's entire history sorts AND folds on one core (measured 19.6s for
    a 9M-row hot user at the 100x tier vs ~1.5s uniform), AQE cannot
    split a window partition, and WindowGroupLimit only rescues
    rank-LIMIT windows, not running aggregates.

    Classic two-pass parallel prefix sum, relationally: segment each
    key's rows by order-range (``_seg = (order - min) div width`` — order-
    ALIGNED, so segment s contains exactly the rows preceding segment
    s+1), (1) per-(key, seg) totals — a tiny keys x segments table —
    prefix-summed per key into per-segment OFFSETS, (2) in-segment
    running sums, parallel across segments, plus the offset. The hot key
    spreads over ``n_segments`` tasks; both passes shuffle on
    (key, seg) — the same partitioning, one exchange for the fold plus
    one broadcast-sized offsets join.

    Exactness: identical to the one-window form whenever the sum is over
    an exact type (long / decimal). For raw doubles the two forms differ
    by float re-association, same as any partial aggregate — cast to
    DECIMAL first if bit-equality matters (functions.exact.dsum idiom).

    ``order_col`` must be numeric and ``(order_col, *tiebreak_cols)``
    must be a total per-key order — same as any secondary-sort key.
    Ties in ``order_col`` alone are fine WITH tiebreaks: equal order
    values land in the same segment by construction (the segment is a
    function of the order value), and the in-segment window breaks them
    with ``tiebreak_cols``.

    ``n_segments=None`` (the default) derives ``max(64, sqrt(count))``
    — see :func:`derive_n_segments` for the balanced O(sqrt N) state
    bound. The segment count never changes the RESULT for exact value
    types (long/decimal); it only repartitions the fold.

    CONTRACT — non-NULL ``key_cols`` and ``order_col``: the offsets
    equi-join uses null-unsafe equality, so a NULL-keyed group (or a
    NULL order value, which blocks segment assignment) that the plain
    window form would emit is dropped here. Filter or coalesce NULLs
    first if they must survive."""
    lo_hi = df.agg(
        F.min(F.col(order_col).cast("long")).alias("lo"),
        F.max(F.col(order_col).cast("long")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]  # bounded collect: one row of three numbers
    if lo_hi.lo is None:
        return df.withColumn(out_col, F.lit(None).cast(df.schema[value_col].dataType))
    if n_segments is None:
        n_segments = derive_n_segments(int(lo_hi.n))
    width = max((int(lo_hi.hi) - int(lo_hi.lo) + 1) // n_segments, 1)
    dfx = df.withColumn("_seg", _segment_expr(order_col, int(lo_hi.lo), width))
    from pyspark.sql import Window

    totals = dfx.groupBy(*key_cols, "_seg").agg(
        F.sum(value_col).alias("_segsum")
    )
    wk = Window.partitionBy(*key_cols).orderBy("_seg")
    zero = F.lit(0).cast(totals.schema["_segsum"].dataType)
    offsets = totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_segsum").over(wk.rowsBetween(Window.unboundedPreceding, -1)),
            zero,
        ),
    ).select(*key_cols, "_seg", "_offset")
    ws = Window.partitionBy(*key_cols, "_seg").orderBy(
        order_col, *(tiebreak_cols or [])
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        dfx.join(offsets, [*key_cols, "_seg"])
        .withColumn(out_col, F.sum(value_col).over(ws) + F.col("_offset"))
        .drop("_seg", "_offset")
    )


def segmented_ewma(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
    n_segments: int | None = None,
) -> DataFrame:
    """Skew-proof per-key FINAL EWMA (``y_i = (1-alpha) y_{i-1} +
    alpha x_i``, seeded ``y_1 = x_1``) — the parallel-scan form of the
    linear recurrence that ``queries/windows.events_user_ewma`` folds
    over one collected per-key array. That collect builds the hot key's
    ENTIRE history in one aggregation value (the same single-value
    unboundedness the 2^31 shared-span row hit); this form's state is
    bounded by ``doc-length-independent`` segment content.

    Same order-aligned segmentation as :func:`segmented_running_sum`;
    per (key, seg) ONE array fold produces the segment's linear map
    ``y_out = A*y_in + B`` (A = (1-alpha)^m by repeated multiplication,
    B = the zero-seeded fold); the per-key combine is a fold over the
    tiny ≤``n_segments`` (A, B) table, plus the seeding correction
    ``first_value * prod(A)`` (the y1 = x1 seed propagated linearly).
    One (key, seg) shuffle for the heavy pass; the per-key combine
    touches n_segments rows per key.

    Exactness: mathematically identical; floating-point REASSOCIATED
    (0.75*(C+B) vs 0.75C+0.75B), so expect ulp-level differences from
    the sequential fold — equality is pinned to ~1e-12 relative in
    tests, and the oracle-checked registry query keeps the sequential
    form (its oracle is bit-exact by fixed association). Changing
    ``n_segments`` changes the reassociation, so an oracle rendering
    the fold (queries/windows._EWMA_SEG_ORACLE) must pin the SAME
    explicit count; ``None`` (the default) derives ``max(64,
    sqrt(count))`` per :func:`derive_n_segments` for the balanced
    O(sqrt N) state bound. Returns one row per key:
    (*key_cols, n_events, out_col)."""
    beta = 1.0 - alpha
    lo_hi = df.agg(
        F.min(F.col(order_col).cast("long")).alias("lo"),
        F.max(F.col(order_col).cast("long")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]  # bounded collect: one row of three numbers
    out_schema = [*key_cols, "n_events", out_col]
    if lo_hi.lo is None:
        return (
            df.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n_events"), F.lit(None).cast("double").alias(out_col))
            .select(*out_schema)
        )
    if n_segments is None:
        n_segments = derive_n_segments(int(lo_hi.n))
    width = max((int(lo_hi.hi) - int(lo_hi.lo) + 1) // n_segments, 1)
    dfx = df.withColumn("_seg", _segment_expr(order_col, int(lo_hi.lo), width))
    vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("_o"), F.col(value_col).alias("_v")))
        ),
        lambda s: s["_v"].cast("double"),
    )
    # one fold per (key, seg): carries (A, B) of the segment's linear map
    ab = F.aggregate(
        vals,
        F.struct(F.lit(1.0).alias("a"), F.lit(0.0).alias("b")),
        lambda acc, x: F.struct(
            (acc["a"] * beta).alias("a"), (acc["b"] * beta + x * alpha).alias("b")
        ),
    )
    segs = dfx.groupBy(*key_cols, "_seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("_m"),
        ab.alias("_ab"),
        F.min_by(F.col(value_col).cast("double"), F.col(order_col)).alias("_first"),
        F.min(F.col(order_col)).alias("_first_o"),
    )
    # per-key combine over the <= n_segments rows: fold the (A, B) maps
    # in segment order, track prod(A) and the key's global first value
    per_key = segs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_ns"),
        F.sum("_m").alias("n_events"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_seg"), F.col("_ab")))),
                lambda s: s["_ab"],
            ),
            F.struct(F.lit(0.0).alias("y"), F.lit(1.0).alias("atot")),
            lambda acc, m: F.struct(
                (m["a"] * acc["y"] + m["b"]).alias("y"),
                (acc["atot"] * m["a"]).alias("atot"),
            ),
        ).alias("_fold"),
        F.min_by("_first", "_first_o").alias("_x1"),
    )
    return per_key.select(
        *key_cols,
        "n_events",
        (F.col("_fold.y") + F.col("_x1") * F.col("_fold.atot")).alias(out_col),
    )


def grouped_quantile_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    qs: dict[str, float],
    n_col: str = "n",
    n_blocks: int = 4096,
    broadcast_targets: bool = True,
) -> DataFrame:
    """Exact per-group rank-quantiles WITHOUT a per-group window sort:
    the value at 1-based rank ``ceil(q * n)`` per group — exactly what
    ``max(when(row_number() == ceil(q*n), value))`` picks, without ever
    ranking the group. The fraction->rank wrapper over
    ``grouped_rank_select`` (see there for the algorithm and the
    bounded-cardinality / non-NULL-key contracts; ``broadcast_targets``
    is forwarded)."""
    return grouped_rank_select(
        df,
        group_cols,
        value_col,
        tiebreak_cols,
        {
            name: (lambda n, _q=q: F.ceil(F.lit(_q) * n).cast("bigint"))
            for name, q in qs.items()
        },
        n_col=n_col,
        n_blocks=n_blocks,
        broadcast_targets=broadcast_targets,
    )


def grouped_percentiles_interpolated(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    ps: dict[str, float],
    n_blocks: int = 4096,
    broadcast_targets: bool = True,
) -> DataFrame:
    """Exact linear-interpolated per-group percentiles (Spark's
    ``percentile`` / DuckDB's ``quantile_cont`` semantics, bit-for-bit:
    pos = p*(n-1), result = (hi-pos)*v_lo + (pos-lo)*v_hi in that term
    order, NULL values skipped) WITHOUT the builtin's aggregation
    buffer — ``percentile`` holds every value of a group in ONE
    aggregation value, the corpus-sized-state class at 100 TB. The two
    bracketing values per percentile come from ``grouped_rank_select``.
    Returns one row per group: ``group_cols + one column per ps key``
    (a group with only NULL values is absent — left-join against your
    own counts if it must survive, as the registry queries do)."""
    ranks: dict = {}
    for tag, p in ps.items():
        ranks[f"_{tag}_lo"] = lambda n, _p=p: (
            F.floor(F.lit(_p) * (n - 1).cast("double")).cast("bigint") + 1
        )
        ranks[f"_{tag}_hi"] = lambda n, _p=p: (
            F.ceil(F.lit(_p) * (n - 1).cast("double")).cast("bigint") + 1
        )
    sel = grouped_rank_select(
        df.filter(F.col(value_col).isNotNull()),
        group_cols,
        value_col,
        tiebreak_cols,
        ranks,
        n_col="_nn",
        n_blocks=n_blocks,
        broadcast_targets=broadcast_targets,
    )

    def interp(tag: str, p: float):
        pos = F.lit(p) * (F.col("_nn") - 1).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        vlo, vhi = F.col(f"_{tag}_lo"), F.col(f"_{tag}_hi")
        return F.when(lo == hi, vlo).otherwise(
            (hi - pos) * vlo + (pos - lo) * vhi
        )

    return sel.select(
        *group_cols, *[interp(tag, p).alias(tag) for tag, p in ps.items()]
    )


def grouped_rank_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    rank_exprs: dict,
    n_col: str = "n",
    n_blocks: int = 4096,
    broadcast_targets: bool = True,
) -> DataFrame:
    """Exact per-group order statistics WITHOUT a per-group window sort —
    the selection-by-histogram twin of ``segmented_running_sum``: a
    ``row_number() over (partition by group order by value)`` leg has
    parallelism bounded by the number of GROUPS (a 5-type events table
    sorts 10M rows on 5 of 32 cores; a 100 TB one sorts 20 TB per
    reducer), and AQE cannot split a window partition.

    CONTRACTS (both inherited by the quantile/percentile wrappers):

    * **Bounded group cardinality when ``broadcast_targets=True``** (the
      default): the resolved-targets frame is one row per group x rank
      target and is broadcast back onto the blocked rows — correct for
      the operator's design point (few constant-cardinality groups, the
      exact shape where the window form dies). For a HIGH-cardinality
      group key (millions of groups x targets would exceed the broadcast
      limit) pass ``broadcast_targets=False`` so Catalyst picks a
      shuffle join on (group, block) — and note the plain per-group
      window is usually fine there anyway, since many groups means
      parallelism isn't the bottleneck.
    * **Non-NULL group keys**: the blocked-rows-to-targets equi-join
      uses null-unsafe equality, so a NULL-keyed group the plain window
      form would emit is dropped here. Filter or coalesce NULL group
      keys first if they must survive (NULL *values* are handled — they
      get their own leading block).

    ``rank_exprs`` maps output column name -> fn(n: Column) returning a
    1-based bigint target rank (ntile boundaries, ceil(q*n) quantiles —
    any rank arithmetic in the group size). Returns one row per group:
    ``group_cols + one column per rank + [n_col]``, each rank column
    holding the value at that rank under the total order
    ``(value, *tiebreaks)``; a target outside [1, n] yields NULL (the
    group row survives as long as any of its targets is in range).
    Three passes, none of which sorts more than one value-block per
    group:

      1. global value range (one row of two numbers);
      2. per-(group, block) counts with ``block = floor((v-lo)/(hi-lo)
         * n_blocks)`` — monotone in value, so equal values never
         straddle blocks and block-cumulative counts are exact rank
         offsets (a tiny groups x blocks aggregate, map-side combined);
      3. rank arithmetic on that aggregate finds the one block holding
         each target rank; ONLY those blocks' rows (~n/n_blocks each)
         shuffle again, sort, and yield the residual-rank row.

    The sort is over one block per (group, rank) — parallel across
    groups AND ranks, each task ~n_group/n_blocks rows. Degenerate
    value distributions (all rows one value) collapse to one block and
    fall back to the per-group sort of that block — no worse than the
    window form. NULL values go to their own leading block, matching
    the window form's asc-nulls-first order."""
    from pyspark.sql import Window

    import math

    v = F.col(value_col)
    lo_hi = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
    lo = float(lo_hi.lo) if lo_hi.lo is not None else 0.0
    hi = float(lo_hi.hi) if lo_hi.hi is not None else 0.0
    span = hi - lo
    # isfinite guards the degenerate extremes: a +/-inf endpoint makes
    # span inf (which passes > 0 but floors every row into one garbage
    # block) and a NaN value makes span NaN; both fall back to the
    # single-block per-group sort, where Spark's ordering (NaN/inf
    # greatest) matches the window form's
    if span > 0 and math.isfinite(span):
        blk = F.least(
            F.lit(n_blocks - 1),
            F.floor((v.cast("double") - F.lit(lo)) / F.lit(span) * F.lit(n_blocks)),
        )
    else:  # empty / single-value / all-null / non-finite range
        blk = F.lit(0)
    blocked = df.withColumn("_blk", F.when(v.isNull(), F.lit(-1)).otherwise(blk))

    counts = blocked.groupBy(*group_cols, "_blk").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # windows over the per-(group, block) aggregate: <= groups*n_blocks
    # rows — bounded, not data-scale
    wg = Window.partitionBy(*group_cols).orderBy("_blk")
    cum = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(wg.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("_n", F.sum("_cnt").over(Window.partitionBy(*group_cols)))

    # ALL targets in one pass over the tiny aggregate (an N-way union
    # would re-derive the counts lineage once per target — measured 20x
    # slower at 20 targets): explode a per-row literal array of
    # (name, rank) pairs, keep the rows whose block brackets the rank
    tgt_defs = F.array(
        *[
            F.struct(
                F.lit(qname).alias("q"),
                rank_fn(F.col("_n")).cast("bigint").alias("rk"),
            )
            for qname, rank_fn in rank_exprs.items()
        ]
    )
    targets = (
        cum.select(
            *group_cols, "_blk", "_off", "_cnt", "_n",
            F.explode(tgt_defs).alias("_t"),
        )
        .filter(
            (F.col("_t.rk") > F.col("_off"))
            & (F.col("_t.rk") <= F.col("_off") + F.col("_cnt"))
        )
        .select(
            *group_cols,
            "_blk",
            (F.col("_t.rk") - F.col("_off")).alias("_res"),
            F.col("_t.q").alias("_q"),
            "_n",
        )
    )

    # one row per (group, quantile): broadcast-sized for bounded group
    # cardinality (the design point); see the docstring contract
    if broadcast_targets:
        targets = F.broadcast(targets)
    picked = blocked.join(targets, [*group_cols, "_blk"])
    wq = Window.partitionBy(*group_cols, "_q").orderBy(
        value_col, *tiebreak_cols
    )
    hits = picked.withColumn("_vr", F.row_number().over(wq)).filter(
        F.col("_vr") == F.col("_res")
    )
    aggs = [
        F.max(F.when(F.col("_q") == qname, v)).alias(qname)
        for qname in rank_exprs
    ] + [F.max("_n").cast("bigint").alias(n_col)]
    return hits.groupBy(*group_cols).agg(*aggs)


def top_k_per_group_two_phase(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    order_cols: list[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Grouped top-k that survives a hot group (the 100 TB form of
    sort.top_k_per_group): phase 1 ranks within (group, salt) partitions
    and keeps k rows each — a hot group spreads over ``n_salts``
    reducers and at most k*n_salts rows of it survive; phase 2 ranks the
    survivors per group. Identical output to the one-phase window for
    any total order (make ``order_cols`` tie-free for determinism).
    The same two-phase prune applies to per-domain caps
    (queries/pipeline.corpus_domain_caps) when a domain is hot."""
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    pruned = (
        df.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_salt", "_rn1")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
