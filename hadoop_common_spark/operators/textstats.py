"""Text operators: tokenization, regex extraction, word statistics, and
LLM-pipeline text analysis (language ID, quality scoring, fingerprinting).

Reference parity:
- TokenCounterMapper (whitespace tokenize → (token,1)) —
  MRC/mapreduce/lib/map/TokenCounterMapper.java
- RegexMapper (emit regex matches) — MRC/mapreduce/lib/map/RegexMapper.java:38-58
- WordMean / WordMedian / WordStandardDeviation — EX/WordMean.java:54-91,
  EX/WordMedian.java:121, EX/WordStandardDeviation.java:90-129
- Grep (extract → count → sort desc) — EX/Grep.java:55-92

Everything is built-in `pyspark.sql.functions` (JVM-side, codegen'd) — no
Python UDFs in any hot path, so plans stay in WholeStageCodegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_common_spark.operators.dedup import _q

TOKEN_RE = r"\s+"


def tokenize(df: DataFrame, text_col: str, out_col: str = "word") -> DataFrame:
    """Whitespace tokenization → one row per token (TokenCounterMapper)."""
    return df.select(
        F.explode(F.split(F.col(text_col), TOKEN_RE)).alias(out_col)
    ).filter(F.col(out_col) != "")


def word_count(df: DataFrame, text_col: str) -> DataFrame:
    """scan → tokenize → count (EX/WordCount.java map:36 reduce:52;
    combiner semantics come free as partial HashAggregate)."""
    return (
        tokenize(df, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def grep(df: DataFrame, text_col: str, pattern: str, group: int = 0) -> DataFrame:
    """Regex extract-all → count per match, descending (EX/Grep.java's
    two-job chain collapsed into one lazy plan — no HDFS round trip)."""
    return (
        df.select(F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(group))).alias("match"))
        .groupBy("match")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("match"))
    )


def word_length_stats(df: DataFrame, text_col: str) -> DataFrame:
    """mean/median/stddev of token length (WordMean/WordMedian/
    WordStandardDeviation in one pass; exact decimal sums for stability)."""
    from hadoop_common_spark.functions.exact import dsum

    words = tokenize(df, text_col).select(F.length("word").cast("double").alias("len"))
    n = F.count("len")
    s = dsum("len")
    sq = F.sum((F.col("len") * F.col("len")).cast("decimal(30,6)")).cast("double")
    return words.agg(
        n.alias("n_words"),
        (s / n).alias("mean_len"),
        F.expr("percentile(len, 0.5)").alias("median_len"),
        F.sqrt((sq - s * s / n.cast("double")) / n.cast("double")).alias("stddev_len"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline text analysis (engine extension beyond the reference)
# ---------------------------------------------------------------------------

# Deterministic marker-word lists for the n-gram-free language heuristic.
# (The real system would use fastText/cld3; this container has neither, so
# the heuristic is a pure-SQL scoring over stopword hits — fully
# distributed, no Python.)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), TOKEN_RE)


def lang_id(df: DataFrame, text_col: str, out_col: str = "pred_lang") -> DataFrame:
    """Stopword-hit language ID: argmax over per-language marker counts;
    ties broken by language code order. Pure built-ins."""
    def marker_pred(lang: str):
        # single-arg lambda: pyspark higher-order fns treat a 2-arg lambda
        # as (element, index)
        markers = LANG_MARKERS[lang]
        return lambda t: t.isin(markers)

    scored = df
    for lang in LANG_MARKERS:
        scored = scored.withColumn(
            f"_score_{lang}",
            F.size(F.filter(_tokens(text_col), marker_pred(lang))),
        )
    best = F.greatest(*[F.col(f"_score_{lang}") for lang in LANG_MARKERS])
    pred = F.coalesce(
        *[
            F.when((F.col(f"_score_{lang}") == best) & (best > 0), F.lit(lang))
            for lang in sorted(LANG_MARKERS)
        ],
        F.lit("unknown"),
    )
    out = scored.withColumn(out_col, pred)
    return out.drop(*[f"_score_{lang}" for lang in LANG_MARKERS])


def _token_count_sql(text_col: str) -> str:
    t = f"trim({_q(text_col)})"
    return rf"CAST(CASE WHEN {t} = '' THEN 0 ELSE size(split({t}, '\\s+')) END AS BIGINT)"


def token_count(text_col: str) -> Column:
    """Whitespace token count (the `wc -w` baseline for budget accounting).

    This and :func:`quality_score` are parsed SQL, not Column-API trees,
    for the reason in ``operators/dedup.py``'s module note (it cut the
    warm ``pipeline_clean_corpus`` build from 673 to 263 py4j commands)."""
    return F.expr(_token_count_sql(text_col))


def quality_score(text_col: str) -> Column:
    """Deterministic document quality heuristic in [0,1]:
    mix of length band, mean word length band, and alpha ratio.
    All built-in functions — runs at scan speed. Literals carry the ``D``
    suffix: unsuffixed SQL ``0.4`` is DECIMAL."""
    n_chars = f"CAST(length({_q(text_col)}) AS DOUBLE)"
    n_tok = f"CAST({_token_count_sql(text_col)} AS DOUBLE)"
    mean_word = f"CASE WHEN {n_tok} > 0 THEN {n_chars} / {n_tok} ELSE 0.0D END"
    alpha_ratio = (
        f"CASE WHEN {n_chars} > 0 THEN CAST(length(regexp_replace({_q(text_col)},"
        f" '[^A-Za-z ]', '')) AS DOUBLE) / {n_chars} ELSE 0.0D END"
    )
    len_ok = f"CASE WHEN {n_tok} >= 5 AND {n_tok} <= 100000 THEN 1.0D ELSE 0.0D END"
    word_ok = (
        f"CASE WHEN ({mean_word}) >= 2.0D AND ({mean_word}) <= 12.0D THEN 1.0D ELSE 0.0D END"
    )
    return F.expr(
        f"CAST(({len_ok}) * 0.4D + ({word_ok}) * 0.3D + ({alpha_ratio}) * 0.3D AS DOUBLE)"
    )


def fingerprint(text_col: str, bits: int = 60) -> Column:
    """Deterministic 60-bit document fingerprint from md5 (content hash —
    cross-engine reproducible, unlike murmur; used for exact dedup keys)."""
    hexdigits = bits // 4
    return F.conv(F.substring(F.md5(F.col(text_col)), 1, hexdigits), 16, 10).cast("bigint")


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio
    and the fraction of 2-grams covered by the single most frequent
    2-gram (high -> boilerplate/spam; the published data-quality rules
    threshold exactly these).

    Shape (r5): ENTIRELY MAP-SIDE — zero shuffles. The max 2-gram
    multiplicity equals the longest run of equal elements in the SORTED
    gram array, so one ``array_sort`` + one ``aggregate`` fold per row
    replaces the previous explode → count-per-(doc, gram) → max-per-doc
    chain (two hash shuffles, ~100 exploded rows per doc). Integer run
    counting over the same grams — bit-identical results, and the
    operator now scales as a pure projection: no shuffle exists to skew
    or spill at any corpus size (per-row cost O(g log g), g = token
    count). Empty tokens (whitespace split artifacts) are filtered, so
    whitespace-only docs — like docs with <2 real tokens — have no
    2-grams and are excluded (both engines agree)."""
    toks = F.array_remove(F.split(F.col(text_col), TOKEN_RE), "")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    # longest equal-run in the sorted array == max multiplicity; the ""
    # sentinel can never equal a real gram (grams always contain a space)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    max_mult = F.aggregate(F.array_sort(grams), zero, step, lambda acc: acc["best"])
    out = df.select(
        F.col(id_col),
        # bigint: match the DuckDB oracle's len() type exactly
        F.size(toks).cast("bigint").alias("n_tok"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("distinct_ratio"),
        (max_mult.cast("double") / F.size(grams).cast("double")).alias(
            "top_2gram_frac"
        ),
        F.size(grams).alias("_ng"),
    )
    return out.filter(F.col("_ng") > 0).drop("_ng")


def tf_df_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by TF/DF rarity weighting
    — the TF-IDF retrieval shape with ``tf / doc_freq`` instead of
    ``tf * ln(N/df)`` (integer division in doubles is exactly rounded,
    so ranks are bit-identical across engines; ln is not guaranteed to
    be).

    Shape: one explode -> (doc, term) counts -> term doc-frequency from
    the SAME aggregate (no re-tokenize) -> equi-join on term -> per-doc
    row_number window. The df table is terms-only (tiny vs corpus);
    stopword terms are hot join keys but carry one int each. Ties broken
    by term order — fully deterministic output."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), TOKEN_RE)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(doc_freq, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("doc_freq").cast("double")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "doc_freq", "score", "rank")
    )


# PII patterns — RE2/Java-compatible (no lookarounds/backrefs), so the
# same pattern strings run in Spark and in the DuckDB oracle.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
}


def pii_scrub(df: DataFrame, text_col: str, out_col: str = "scrubbed") -> DataFrame:
    """PII redaction for training corpora: mask emails / IPv4s / phone
    numbers with typed placeholders and count the matches per document.
    Entirely ``regexp_replace``/``regexp_extract_all`` built-ins — scan
    speed, no Python, trivially parallel at any scale.

    Each pattern is counted on the text AFTER the previous masks applied
    (not the original), so ``n_*`` always equals the number of
    placeholders emitted — overlapping matches ('555-867-5309@x.com' is
    one email, zero phones) can't make counts disagree with the output."""
    out = df
    cur = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        )
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    return out.withColumn(out_col, cur)


def mixture_keep(rate_col: Column, id_col: Column, salt: str = "mix:") -> Column:
    """Deterministic Bernoulli keep decision for corpus mixing: true iff
    the md5-derived uniform of (salt || id) is below ``rate_col``. A pure
    row function — the sample is identical under any partitioning,
    engine, or re-run (rand()-based sampling guarantees none of those).
    15 hex chars keeps the intermediate in int64 (cross-engine safe)."""
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 15), 16, 10)
        .cast("bigint")
        / F.lit(float(1 << 60))
    )
    return u < rate_col


def cooccurrence_pairs(tokens: Column, max_dist: int = 3) -> Column:
    """Unordered within-window token co-occurrence pairs as a map-side
    array expression: for each distance d in 1..max_dist, zip the token
    array against its d-shifted self and emit (least, greatest) structs.
    Linear in tokens x max_dist, zero shuffle — the scalable form of
    skip-gram pair extraction (a positional self-join re-shuffles every
    token per window slot; per-element `element_at` indexing inside
    `transform(sequence(...))` measured ~30x slower than this zip form
    at sf0.1 because each access re-evaluates the array lookup outside
    the codegen fast path)."""
    n = F.size(tokens)
    pair_t = "array<struct<a:string,b:string>>"
    out = None
    for d in range(1, max_dist + 1):
        z = F.when(
            n >= d + 1,
            F.zip_with(
                F.slice(tokens, 1, n - d),
                F.slice(tokens, d + 1, n - d),
                lambda a, b: F.struct(
                    F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
                ),
            ),
        ).otherwise(F.array().cast(pair_t))
        out = z if out is None else F.concat(out, z)
    return out


def cooccurrence_pair_rows(
    df: DataFrame, tokens: Column, max_dist: int = 3
) -> DataFrame:
    """Row form of :func:`cooccurrence_pairs`: the same unordered
    within-window pair multiset, emitted as (tok_a, tok_b) ROWS via a
    double explode over (position, distance) with the token array
    indexed AFTER the Generate. Post-explode ``element_at`` is a plain
    whole-stage-codegen projection — unlike both the zip_with array
    build (interpreted higher-order functions, one struct alloc per
    pair) and element_at inside transform(sequence(...)) (re-evaluated
    per element outside codegen). Measured 4× over explode(zip_with
    form) at the 100× tier: the full pair aggregation dropped 9.6s →
    1.7s. Use this when the pairs feed a row pipeline (aggregation /
    join); keep the Column form where a per-row pair ARRAY is the
    contract (streaming projections, array consumers)."""
    toks = df.select(tokens.alias("_t")).filter(F.size("_t") >= 2)
    e = toks.select(
        "_t", F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("_i")
    )
    e2 = e.select(
        "_t",
        "_i",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.lit(max_dist), F.size("_t") - F.col("_i"))
            )
        ).alias("_d"),
    )
    a = F.element_at("_t", F.col("_i"))
    b = F.element_at("_t", F.col("_i") + F.col("_d"))
    return e2.select(F.least(a, b).alias("tok_a"), F.greatest(a, b).alias("tok_b"))
