"""Randomized relational differential fuzzing: seeded random pipelines
(filter → project → aggregate → order/limit) over the TPC-H dims are
rendered BOTH as DataFrame operations and as the equivalent ANSI SQL,
run on Spark and DuckDB over the same parquet, and compared with the
driver's normalizer. The fixed query registry (214 as of r11) checks the operators
we wrote; this checks the COMPOSITION SPACE between them — engine
semantic drift (null ordering, overflow, type coercion) surfaces on
pipelines nobody hand-wrote."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from verify_local import _norm, _rowset  # noqa: E402

TABLES = {
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "region": ["r_regionkey", "r_name"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}
INT_COLS = {
    "nation": ["n_nationkey", "n_regionkey"],
    "region": ["r_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
}
NUM_COLS = {  # double-typed measure for sum/avg-free exact aggs
    "customer": "c_acctbal",
    "supplier": "s_acctbal",
}


def _gen_pipeline(rng: random.Random):
    """One random pipeline → (build(spark_df) fn, sql string)."""
    table = rng.choice(list(TABLES))
    cols = TABLES[table]
    int_col = rng.choice(INT_COLS[table])
    where = ""
    filt = None
    if rng.random() < 0.7:
        op = rng.choice(["<", ">", "<=", ">=", "<>", "="])
        lit = rng.randrange(0, 25)
        where = f"WHERE {int_col} {op} {lit}"
        filt = (int_col, op, lit)

    group_col = rng.choice([c for c in cols if c != int_col])
    mode = rng.choice(["agg", "project", "join", "sort_limit"])
    if mode == "sort_limit":
        # total order with a deterministic tiebreak + LIMIT (the top-k
        # family: engines must agree on sort stability only through the
        # explicit tiebreak, never implicitly)
        order_col = rng.choice(cols)
        desc = rng.random() < 0.5
        tiebreak = INT_COLS[table][0]
        k = rng.randrange(1, 12)
        dirn = "DESC" if desc else "ASC"
        sql = (
            f"SELECT {', '.join(cols)} FROM {table} {where} "
            f"ORDER BY {order_col} {dirn}, {tiebreak} ASC LIMIT {k}"
        )

        def build_sort(spark):
            df = spark.table(table)
            if filt is not None:
                c, op, lit = filt
                col = F.col(c)
                df = df.filter(
                    {
                        "<": col < lit, ">": col > lit, "<=": col <= lit,
                        ">=": col >= lit, "<>": col != lit, "=": col == lit,
                    }[op]
                )
            oc = F.col(order_col).desc() if desc else F.col(order_col).asc()
            return df.select(*cols).orderBy(oc, F.col(tiebreak).asc()).limit(k)

        return build_sort, sql
    if mode == "join":
        # dim-dim equi-join (nation ⋈ region / customer ⋈ nation /
        # supplier ⋈ nation), inner or left, then a count-by
        fact, dim, fk, pk = rng.choice(
            [
                ("nation", "region", "n_regionkey", "r_regionkey"),
                ("customer", "nation", "c_nationkey", "n_nationkey"),
                ("supplier", "nation", "s_nationkey", "n_nationkey"),
            ]
        )
        how = rng.choice(["inner", "left"])
        dim_name = {"region": "r_name", "nation": "n_name"}[dim]
        jw = where if table == fact else ""
        sql = (
            f"SELECT {dim_name} AS grp, COUNT(*) AS cnt FROM {fact} "
            f"{'JOIN' if how == 'inner' else 'LEFT JOIN'} {dim} ON {fk} = {pk} "
            f"{jw} GROUP BY {dim_name}"
        )

        def build_join(spark):
            f_df = spark.table(fact)
            if jw and filt is not None:
                c, op, lit = filt
                col = F.col(c)
                f_df = f_df.filter(
                    {
                        "<": col < lit, ">": col > lit, "<=": col <= lit,
                        ">=": col >= lit, "<>": col != lit, "=": col == lit,
                    }[op]
                )
            d_df = spark.table(dim)
            joined = f_df.join(d_df, f_df[fk] == d_df[pk], how)
            return joined.groupBy(F.col(dim_name).alias("grp")).agg(
                F.count(F.lit(1)).alias("cnt")
            )

        return build_join, sql
    if mode == "agg":
        sel = (
            f"{group_col}, COUNT(*) AS cnt, "
            f"CAST(MIN({int_col}) AS BIGINT) AS mn, "
            f"CAST(MAX({int_col}) AS BIGINT) AS mx"
        )
        sql = f"SELECT {sel} FROM {table} {where} GROUP BY {group_col}"
    else:
        proj = sorted(rng.sample(cols, rng.randrange(1, len(cols) + 1)))
        sql = f"SELECT DISTINCT {', '.join(proj)} FROM {table} {where}"

    def build(spark):
        df = spark.table(table)
        if filt is not None:
            c, op, lit = filt
            col = F.col(c)
            expr = {
                "<": col < lit, ">": col > lit, "<=": col <= lit,
                ">=": col >= lit, "<>": col != lit, "=": col == lit,
            }[op]
            df = df.filter(expr)
        if mode == "agg":
            return df.groupBy(group_col).agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min(int_col).cast("bigint").alias("mn"),
                F.max(int_col).cast("bigint").alias("mx"),
            )
        return df.select(*proj).distinct()

    return build, sql


@pytest.mark.parametrize("seed", range(40))
def test_random_pipeline_matches_duckdb(spark, sf_dir, seed):
    rng = random.Random(1000 + seed)
    build, sql = _gen_pipeline(rng)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
        # ALWAYS re-register: an earlier test may have left a temp view of
        # the same name pointing at a different SF (registry queries call
        # register_views with their own sf_dir) — a tableExists guard then
        # compares Spark-on-sf0.01 against DuckDB-on-sf0.001
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    sdf = build(spark)
    srows = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()], _norm)
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = _rowset(dcols, res.fetchall(), _norm)
    assert sorted(sdf.columns) == sorted(dcols), sql
    assert srows == drows, f"value mismatch for: {sql}"


@pytest.mark.parametrize("seed", range(15))
def test_fuzz_cooccurrence_window_matches_duckdb(spark, seed):
    """Array-window family: random token corpora (empties, singletons,
    repeated tokens, random lengths) through the zip_with pair generator
    vs DuckDB's positional-lateral formulation, at a random window. The
    r6 perf rewrite (element_at -> zip_with) must never change WHAT the
    operator computes, only how fast — this family pins that for corpus
    shapes nobody hand-wrote."""
    import pandas as pd

    from hadoop_common_spark.operators.textstats import cooccurrence_pairs

    rng = random.Random(7000 + seed)
    max_dist = rng.randrange(1, 5)
    vocab = [f"w{i}" for i in range(rng.randrange(2, 9))]
    docs = [
        [rng.choice(vocab) for _ in range(rng.randrange(0, 11))]
        for _ in range(rng.randrange(1, 60))
    ]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "t": docs})

    sdf = (
        spark.createDataFrame(pdf)
        .select(F.explode(cooccurrence_pairs(F.col("t"), max_dist)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    srows = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()], _norm)

    con = duckdb.connect()
    con.register("fuzz_docs", pdf)
    res = con.execute(
        f"""
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT least(t[i], t[i + d]) AS a, greatest(t[i], t[i + d]) AS b
          FROM fuzz_docs,
            LATERAL (SELECT unnest(generate_series(1, least({max_dist}, len(t) - 1))) AS d) ds,
            LATERAL (SELECT unnest(generate_series(1, len(t) - d)) AS i) isq
        ) GROUP BY a, b
        """
    )
    dcols = [d[0] for d in res.description]
    drows = _rowset(dcols, res.fetchall(), _norm)
    assert srows == drows, f"seed={seed} max_dist={max_dist}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_interval_lookup_join_matches_duckdb(spark, seed):
    """Binned-interval family (#7): random points and random [lo, hi]
    intervals (negative values, zero-width, bin-boundary-aligned edges,
    occasional empty sides, optional block column) through
    interval_lookup_join_binned at a random bin width, vs DuckDB's bare
    BETWEEN theta join. The binning is a pure execution strategy — this
    family pins that it never changes the match set, whatever the bin
    alignment."""
    import pandas as pd

    from hadoop_common_spark.operators.joins import interval_lookup_join_binned

    rng = random.Random(9000 + seed)
    blocked = rng.random() < 0.5
    width = rng.choice([0.5, 1.0, 3.0, 10.0, 25.0])
    n_pts, n_iv = rng.randrange(0, 60), rng.randrange(0, 40)

    def val():
        # mix of round numbers (exact bin edges) and arbitrary doubles
        v = rng.uniform(-50, 50)
        return float(round(v)) if rng.random() < 0.4 else v

    pts = pd.DataFrame(
        {
            "pid": range(n_pts),
            "blk": [rng.randrange(3) if blocked else 0 for _ in range(n_pts)],
            "v": [val() for _ in range(n_pts)],
        }
    )
    los = [val() for _ in range(n_iv)]
    ivs = pd.DataFrame(
        {
            "iid": range(n_iv),
            "blk": [rng.randrange(3) if blocked else 0 for _ in range(n_iv)],
            "lo": los,
            # zero-width sometimes; inverted (empty) intervals sometimes
            "hi": [
                lo if rng.random() < 0.2 else lo + rng.uniform(-2.0, 3.0 * width)
                for lo in los
            ],
        }
    )
    schema_p = "pid int, blk int, v double"
    schema_i = "iid int, blk int, lo double, hi double"
    sp = (
        spark.createDataFrame(pts, schema=schema_p)
        if n_pts
        else spark.createDataFrame([], schema_p)
    )
    si = (
        spark.createDataFrame(ivs, schema=schema_i)
        if n_iv
        else spark.createDataFrame([], schema_i)
    )
    # the operator's contract (enforced up front since r7): non-block
    # columns must not collide — when unblocked, blk is just an unused
    # shared name, so drop it from one side like a real caller would
    out = interval_lookup_join_binned(
        sp if blocked else sp.drop("blk"),
        si,
        "v",
        "lo",
        "hi",
        bin_width=width,
        block_cols=["blk"] if blocked else None,
    ).select("pid", "iid")
    srows = _rowset(out.columns, [tuple(r) for r in out.collect()], _norm)

    con = duckdb.connect()
    con.register("fz_pts", pts)
    con.register("fz_ivs", ivs)
    blk = "AND p.blk = i.blk" if blocked else ""
    res = con.execute(
        f"""
        SELECT p.pid, i.iid FROM fz_pts p JOIN fz_ivs i
        ON p.v >= i.lo AND p.v <= i.hi {blk}
        """
    )
    drows = _rowset([d[0] for d in res.description], res.fetchall(), _norm)
    assert srows == drows, f"seed={seed} width={width} blocked={blocked}"


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_segmented_running_sum_matches_plain_window(spark, seed):
    """Randomized equivalence for the r8 skew-proof prefix sum: random
    key skew (including a single mega-hot key), random sparse/clustered/
    negative order values, random segment counts — the segmented
    two-pass form must equal the plain one-window running total exactly
    (integer sums)."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.skew import segmented_running_sum

    rng = random.Random(7000 + seed)
    n = rng.randint(1, 400)
    n_keys = rng.choice([1, 2, 5, 50])
    hot = rng.random() < 0.5  # half the runs: 80% of rows on one key
    # order values: unique but adversarially distributed
    style = rng.choice(["dense", "sparse", "negative", "clustered"])
    orders = rng.sample(range(1, 5 * n + 2), n)
    if style == "sparse":
        orders = [o * rng.randint(1000, 10**6) for o in orders]
    elif style == "negative":
        orders = [o - 3 * n for o in orders]
    elif style == "clustered":
        orders = [o + (10**9 if o % 2 else 0) for o in orders]
    rows = [
        (
            0 if hot and rng.random() < 0.8 else rng.randrange(n_keys),
            o,
            rng.randint(-1000, 1000),
        )
        for o in orders
    ]
    df = spark.createDataFrame(rows, "k long, o long, v long")
    w = Window.partitionBy("k").orderBy("o").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = sorted(
        (r.k, r.o, r.run)
        for r in df.withColumn("run", F.sum("v").over(w)).collect()
    )
    n_seg = rng.choice([1, 2, 13, 64, 10**7, None])  # None = derived default
    got = sorted(
        (r.k, r.o, r.running)
        for r in segmented_running_sum(
            df, ["k"], "o", "v", n_segments=n_seg
        ).collect()
    )
    assert got == want, f"seed={seed} style={style} n_seg={n_seg}"


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_grouped_rank_select_matches_window(spark, seed):
    """Randomized equivalence for the r8 histogram selector: random
    group skew, random value distributions (heavy ties, negatives,
    NULLs, and non-finite values — +/-inf and NaN force the
    single-block fallback), random block counts — must equal the plain
    per-group row_number pick at every requested rank, including
    out-of-range targets (NULL)."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.skew import grouped_rank_select

    rng = random.Random(8000 + seed)
    n = rng.randint(1, 300)
    n_keys = rng.choice([1, 3, 20])
    hot = rng.random() < 0.5
    style = rng.choice(["dense_ties", "spread", "negative", "weird"])

    def mkval():
        if rng.random() < 0.05:
            return None
        if style == "dense_ties":
            return float(rng.randint(0, 5))
        if style == "spread":
            return rng.uniform(-1e6, 1e6)
        if style == "negative":
            return -abs(rng.gauss(0, 100))
        # weird: mix in non-finite values
        return rng.choice(
            [float("inf"), float("-inf"), float("nan"), rng.uniform(-1, 1)]
        )

    rows = [
        (
            0 if hot and rng.random() < 0.8 else rng.randrange(n_keys),
            mkval(),
            i,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k long, v double, t long")

    # targets: first, last, middle, ceil-quantile, and out-of-range
    ranks = {
        "r_first": lambda c: F.lit(1).cast("bigint"),
        "r_last": lambda c: c.cast("bigint"),
        "r_mid": lambda c: F.ceil(F.lit(0.5) * c).cast("bigint"),
        "r_oob": lambda c: (c + 7).cast("bigint"),
    }
    got_df = grouped_rank_select(df, ["k"], "v", ["t"], ranks, n_col="n")

    w = Window.partitionBy("k").orderBy("v", "t")
    wc = Window.partitionBy("k")
    r = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    pick = lambda rk: F.max(F.when(F.col("rn") == rk, F.col("v")))
    want_df = r.groupBy("k").agg(
        pick(F.lit(1)).alias("r_first"),
        pick(F.col("n")).alias("r_last"),
        pick(F.ceil(F.lit(0.5) * F.col("n")).cast("bigint")).alias("r_mid"),
        pick(F.col("n") + 7).alias("r_oob"),
        F.max("n").cast("bigint").alias("n"),
    )

    def norm(rows_):
        out = []
        for tup in rows_:
            out.append(
                tuple(
                    ("nan" if isinstance(x, float) and x != x else x)
                    for x in tup
                )
            )
        return sorted(out, key=str)

    got = norm(tuple(x) for x in got_df.collect())
    want = norm(tuple(x) for x in want_df.collect())
    assert got == want, f"seed={seed} style={style}"


def test_null_value_semantics_match_oracle(spark, sf_dir, tmp_path):
    """ADVICE r8 regression pin: the driver's testdata has no NULL
    `value`s, so it can never exercise the NULL paths of
    events_outlier_counts (an all-NULL type must survive with
    n_outliers = 0 via the left-joined bounds) or
    events_value_percentiles_sampled (NULLs filtered BEFORE ranking on
    both engines — an exact-rank pick inside a NULL prefix used to
    diverge from the oracle's MIN-over-suffix). This probe corpus is
    ~30% NULL values, one entirely-NULL event_type, AND a slice of NULL
    event_types (both queries exclude the NULL group explicitly on both
    engines — the selector's group-key joins are null-unsafe, so
    without the shared filter the engines disagree on whether the
    group exists). Both queries must match their own DuckDB oracle."""
    import datetime
    import os

    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.tables import register_views
    from tests.conftest import SF_DIR

    rng = random.Random(7)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(3000):
        et = ("alpha", "allnull", "beta", None)[i % 4]
        v = (
            None
            if et == "allnull" or rng.random() < 0.3
            else round(rng.uniform(-100.0, 100.0), 3)
        )
        rows.append(
            (i, base + datetime.timedelta(seconds=37 * i), i % 50, et, v, "{}")
        )
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = str(tmp_path / "sfnull")
    os.makedirs(d)
    df.coalesce(1).write.parquet(f"{d}/events.parquet")
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ):
        os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")

    reg = load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    try:
        for name in (
            "events_outlier_counts",
            "events_value_percentiles_sampled",
        ):
            q = reg[name]
            sdf = q.fn(spark, d)
            srows = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()], _norm)
            res = con.execute(q.oracle)
            dcols = [c[0] for c in res.description]
            drows = _rowset(dcols, res.fetchall(), _norm)
            assert sorted(sdf.columns) == sorted(dcols), name
            assert srows == drows, f"NULL-semantics mismatch: {name}"
        # the all-NULL type is genuinely PRESENT with zero outliers, and
        # the NULL event_type group is absent (excluded on both engines)
        oc = {
            r.event_type: (r.n_events, r.n_outliers)
            for r in reg["events_outlier_counts"].fn(spark, d).collect()
        }
        assert oc["allnull"] == (750, 0)
        assert None not in oc
    finally:
        register_views(spark, SF_DIR, force=True)


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_segmented_ewma_oracle_bit_exact(spark, sf_dir, tmp_path, seed):
    """The r9 segmented-EWMA driver row rests on a cross-engine
    bit-exactness claim: the DuckDB oracle renders the operator's
    reassociated linear-map fold term for term, so the doubles must
    match EXACTLY (tuple equality, no tolerance). The registry sweep
    checks it on real testdata only; this fuzz stresses the shapes
    where float identity could crack — mixed magnitudes (1e-12..1e12,
    negatives, exact dyadics), a 60%-hot key, single-event users, and
    sparse event_id ranges that leave most segments empty."""
    import os

    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.tables import register_views
    from tests.conftest import SF_DIR

    rng = random.Random(4200 + seed)
    n_users = rng.randrange(1, 15)
    n_events = rng.randrange(1, 600)
    id_stride = rng.choice([1, 7, 1000, 12345])

    def value():
        kind = rng.random()
        if kind < 0.25:
            return float(rng.randrange(-8, 9)) / 4.0  # exact dyadics, ties
        if kind < 0.5:
            return rng.uniform(-1e12, 1e12)
        if kind < 0.75:
            return rng.uniform(-1e-12, 1e-12)
        return rng.uniform(-100.0, 100.0)

    rows = []
    for i in range(n_events):
        # 60% of events land on user 0 (the hot key the operator exists for)
        u = 0 if rng.random() < 0.6 else rng.randrange(n_users)
        rows.append((i * id_stride, u, value()))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, value double"
    ).selectExpr(
        "event_id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,event_id) AS ts",
        "user_id",
        "'t' AS event_type",
        "value",
        "'{}' AS props",
    )
    d = str(tmp_path / "sfewma")
    os.makedirs(d)
    df.coalesce(1).write.parquet(f"{d}/events.parquet")
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ):
        os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")

    reg = load_all()
    q = reg["events_user_ewma_segmented"]
    try:
        sdf = q.fn(spark, d)
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        register_views(spark, SF_DIR, force=True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    drows = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert srows == drows  # EXACT doubles, not approx


def _py_shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of ``operators/dedup.word_shingles``: a Java-regex
    ``\\s+`` split (ASCII whitespace only; leading and trailing empty
    tokens kept), then the distinct word n-grams joined by one space."""
    import re

    toks = re.split(r"\s+", text, flags=re.ASCII)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _adversarial_corpus(rng: random.Random) -> list[tuple[str, str]]:
    """(text, block) rows for two blocks: empty and whitespace-only texts,
    one- and two-token texts (zero shingles), non-ASCII words and
    non-ASCII whitespace (U+00A0 and U+3000 are not ``\\s`` in Java),
    byte-identical duplicates, near-duplicates and excerpts, and one
    document of about 10k tokens that many others overlap."""
    vocab = [f"w{i}" for i in range(30)] + ["ñandú", "日本語", "Ελλάδα", "naïve", "🙂"]

    def words(k: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(k)]

    giant = words(10_000)
    rows = [(" ".join(giant), "en")]
    rows.append((" ".join(giant[4000:4000 + rng.randint(3, 80)]), "en"))  # excerpt
    rows.append((" ".join(giant[:50]), "ü"))  # same words, other block: never pairs
    for blk in ("en", "ü"):
        rows += [
            ("", blk),
            ("   ", blk),
            ("\t\n \t", blk),
            ("solo", blk),
            ("two tokens", blk),
            (" w1 w2", blk),  # leading empty token makes a shingle " w1 w2"
            ("w1 w2 w3 w4　w5 w6", blk),
            ("日本語 🙂 naïve", blk),
        ]
        docs = [words(rng.randint(3, 60)) for _ in range(12)]
        for d in docs[:4]:
            near = list(d)
            for _ in range(rng.randint(0, 3)):
                near[rng.randrange(len(near))] = rng.choice(vocab)
            docs.append(near)
        texts = [" ".join(d) for d in docs]
        texts += texts[:2]  # byte-identical duplicates
        texts.append("  ".join(docs[5]) + " ")  # same tokens, other spacing
        rows += [(t, blk) for t in texts]
    return rows


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_shingle_overlap_matches_set_brute_force(spark, seed):
    """ngram_jaccard_pairs and containment_pairs (one sparse shingle
    join, two score projections) equal a pure-Python set brute force over
    every same-block pair on adversarial documents — exactly, not within
    a tolerance: the scores are integer set sizes divided in double."""
    from hadoop_common_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    rng = random.Random(9100 + seed)
    rows = _adversarial_corpus(rng)
    ids = rng.sample(range(10**6), len(rows))  # id order unrelated to content
    thr = rng.choice([0.0, 0.05, 0.3, 0.5])
    docs = [(i, t, b, _py_shingles(t)) for i, (t, b) in zip(ids, rows)]

    want_j, want_c = {}, {}
    for ia, _, ba, sa in docs:
        for ib, _, bb, sb in docs:
            inter = len(sa & sb)
            if ba != bb or ia >= ib or inter == 0:
                continue
            jac = float(inter) / (float(len(sa) + len(sb)) - float(inter))
            if jac >= thr:
                want_j[(ia, ib)] = jac
            ca, cb = float(inter) / float(len(sa)), float(inter) / float(len(sb))
            if max(ca, cb) >= thr:
                want_c[(ia, ib)] = (ca, cb)
    assert any(v == 1.0 for v in want_j.values())  # the duplicates pair

    df = spark.createDataFrame(
        [(i, t, b) for i, t, b, _ in docs], "doc_id long, text string, lang string"
    )
    got_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", "lang", threshold=thr).collect()
    }
    got_c = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(df, "doc_id", "text", "lang", threshold=thr).collect()
    }
    assert got_j == want_j, f"seed={seed} thr={thr}"
    assert got_c == want_c, f"seed={seed} thr={thr}"
