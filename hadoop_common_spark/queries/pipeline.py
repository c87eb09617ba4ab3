"""End-to-end corpus-cleaning pipeline — the composite query a training
data pipeline runs nightly, as ONE lazy plan (the reference would chain
3 jobs with HDFS round-trips between them; JobControl orchestration —
here Catalyst fuses the whole thing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_common_spark.operators.dedup import split_90_5_5, split_90_5_5_sql
from hadoop_common_spark.operators.sort import global_row_number
from hadoop_common_spark.operators.textstats import (
    mixture_keep,
    quality_score,
    token_count,
)
from hadoop_common_spark.queries import query

# DuckDB renderings of textstats.token_count and textstats.quality_score,
# shared by _ORACLE and _QUALITY_BIN_ORACLE. _QUALITY_ORACLE reads n_chars
# and n_tok2 (token count as DOUBLE) from a subquery; tests pin both
# against the Spark builders on adversarial text.
_N_TOK_ORACLE = """CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END"""
_QUALITY_ORACLE = """(0.4 * (CASE WHEN n_tok2 >= 5 AND n_tok2 <= 100000 THEN 1.0 ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tok2 > 0 AND (n_chars / n_tok2) >= 2.0 AND (n_chars / n_tok2) <= 12.0
                        THEN 1.0 ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_chars > 0
                        THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / n_chars
                        ELSE 0.0 END))"""

_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         md5(text) AS content_md5,
         CAST({_N_TOK_ORACLE} AS BIGINT) AS n_tok,
         {_QUALITY_ORACLE} AS quality
  FROM (
    SELECT doc_id, lang, text,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST({_N_TOK_ORACLE} AS DOUBLE) AS n_tok2
    FROM documents
  )
),
kept AS (
  SELECT * FROM scored
  WHERE quality >= 0.5
  QUALIFY ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM kept
GROUP BY lang
"""


@query("pipeline_clean_corpus", oracle=_ORACLE)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality filter (≥0.5) → exact dedup (keep min doc_id
    per content hash) → per-language doc/token budget. One plan: scan →
    filter (scan-speed quality expression) → window dedup (one shuffle on
    content hash) → partial-aggregated rollup (one shuffle on lang)."""
    docs = spark.table("documents").select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("content_md5"),
        token_count("text").alias("n_tok"),
        quality_score("text").alias("quality"),
    )
    kept = (
        docs.filter(F.col("quality") >= 0.5)
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("content_md5").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


_SPLIT_ORACLE = f"""
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars, {split_90_5_5_sql('doc_id')} AS split
  FROM documents
)
GROUP BY split, lang
"""


@query("corpus_split_counts", oracle=_SPLIT_ORACLE)
def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split (90/5/5): the split
    is a pure function of doc_id (md5 bucket), so it is reproducible
    across runs, engines, and repartitionings — no RNG state, no
    sampling drift when the corpus grows. A narrow map; no shuffle
    beyond the final count."""
    return (
        spark.table("documents")
        .select(split_90_5_5(F.col("doc_id")).alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_SHARD_ORACLE = """
SELECT lang, shard_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM (
  SELECT lang, n_tok,
         CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok) // 2000 AS BIGINT) AS shard_id
  FROM (
    SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
  )
)
GROUP BY lang, shard_id
"""


@query("corpus_token_shards", oracle=_SHARD_ORACLE)
def corpus_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: documents are packed in doc_id order
    into ~2000-token training shards — shard id = floor(preceding-token-
    count / budget). The running total is per-language, which makes it
    exactly the skew shape nothing in Catalyst rescues (a per-lang
    window's parallelism is the language count, AQE cannot split a
    window partition, and a hot language IS the corpus at 100 TB) — so
    the prefix sum is the segmented two-pass parallel scan
    (skew.segmented_running_sum, r8): doc_id-range segments fold in
    parallel, a tiny per-(lang, segment) offset table re-bases them.
    Exact: token counts are bigint, so the re-association is lossless
    and the result is bit-identical to the one-window form (pinned in
    test_segmented_running_sum_equals_one_window)."""
    from hadoop_common_spark.operators.skew import segmented_running_sum

    n_tok = F.size(F.split(F.col("text"), " ", -1)).cast("bigint")
    docs = spark.table("documents").select("lang", "doc_id", n_tok.alias("n_tok"))
    run = segmented_running_sum(docs, ["lang"], "doc_id", "n_tok")
    pre = F.col("running") - F.col("n_tok")
    return (
        run.withColumn("shard_id", F.floor(pre / 2000).cast("bigint"))
        .groupBy("lang", "shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("shard_tokens"))
    )


_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT lang, doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
shs AS (
  SELECT lang, doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
  FROM toks
),
bench AS (SELECT DISTINCT sh FROM shs WHERE doc_id % 101 = 0),
cont AS (
  SELECT DISTINCT s.lang, s.doc_id
  FROM shs s JOIN bench b ON s.sh = b.sh
  WHERE s.doc_id % 101 <> 0
)
SELECT lang, COUNT(*) AS n_contaminated FROM cont GROUP BY lang
"""


@query("corpus_decontamination", oracle=_DECONTAM_ORACLE)
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    3-gram with the held-out benchmark slice (doc_id % 101 == 0 — stand-
    in for a real eval suite) are flagged, counted per language. The
    benchmark shingle set is tiny by construction, so it broadcasts and
    the corpus side is one narrow explode + semi join — no shuffle of
    the corpus at any scale."""
    from hadoop_common_spark.operators.dedup import word_shingles

    sh = spark.table("documents").select(
        "lang", "doc_id", F.explode(word_shingles("text", 3)).alias("sh")
    )
    bench = sh.filter(F.col("doc_id") % 101 == 0).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") % 101 != 0)
        .join(F.broadcast(bench), "sh", "left_semi")
        .select("lang", "doc_id")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


_MIXTURE_ORACLE = """
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN u < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM (
  SELECT source, n_chars,
         (CAST(substr(source, 4) AS INT) + 1) / 12.0 AS rate,
         ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM documents
)
GROUP BY source
"""


@query("corpus_mixture_sample", oracle=_MIXTURE_ORACLE)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture sampling: each source gets a target rate (here a
    function of the source id; in production the DoReMi-style mixture
    weights) and each document is kept iff its md5-derived uniform
    < rate — deterministic, reproducible across engines, runs, and
    repartitionings, unlike rand()-based sampling which drifts with the
    partitioning. Narrow map + one aggregate: no shuffle of the corpus,
    works identically at 100 TB."""
    keep = mixture_keep(
        (F.substring(F.col("source"), 4, 10).cast("int") + 1) / F.lit(12.0),
        F.col("doc_id"),
    )
    return (
        spark.table("documents")
        .select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


def _profile_oracle() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    parts = [
        f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_str,
       CAST(MAX({c}) AS VARCHAR) AS max_str
FROM documents"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


@query("corpus_profile", oracle=_profile_oracle())
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-batch profiling (the ANALYZE TABLE shape): per-column
    null counts, exact distinct counts, stringified min/max, ONE scan
    for all columns (the naive per-column DESCRIBE loop is N scans).
    Null-rate spikes and cardinality collapse are the standard
    upstream-breakage tripwires a pipeline checks before training."""
    from hadoop_common_spark.operators.profile import profile_table

    return profile_table(spark.table("documents"))


_DOMAIN_CAP_ORACLE = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked GROUP BY source
"""


@query("corpus_domain_caps", oracle=_DOMAIN_CAP_ORACLE)
def corpus_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (the standard anti-overrepresentation
    pass: no single domain may contribute more than N docs). Selection
    within a domain is by md5-hash priority, so the kept subset is an
    unbiased deterministic sample — stable across runs, engines, and
    corpus growth — rather than 'first N by crawl order'. Only the
    top-N ranks of a domain matter, so the kept set comes from the
    salted two-phase prune (top_k_per_group_two_phase: a hot domain
    never concentrates more than k x n_salts rows on any reducer) and
    the totals from a plain partial aggregate — no window ever ranks a
    domain's full row set (the r7 form did; at 100 TB a hot domain IS
    the corpus)."""
    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase

    pri = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    docs = spark.table("documents").select(
        "source", "n_chars", "doc_id", pri.alias("_pri")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    kept = top_k_per_group_two_phase(
        docs, ["source"], 20, [F.col("_pri"), F.col("doc_id")]
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )
    # inner join is total: every source with rows keeps >= 1 doc
    return totals.join(kept_agg, "source").select(
        "source", "n_total", "n_kept", "kept_chars"
    )


_SHUFFLE_ORACLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS pos
FROM documents
"""


@query("corpus_global_shuffle", oracle=_SHUFFLE_ORACLE)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    reproducible position in a pseudorandom total order (order key =
    md5 of a seeded doc_id). rand()-based shuffles drift with partition
    layout; this one is a pure function of the data. The enumeration is
    the scale-safe two-phase form (global_row_number: block = first hex
    byte of the order key → 256-way parallel windows + broadcast
    offsets), not a single-partition ROW_NUMBER."""
    key = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    block = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    df = spark.table("documents").select("doc_id", key.alias("_key"))
    return global_row_number(
        df, [F.col("_key"), F.col("doc_id")], block, pos_col="pos"
    ).select("doc_id", "pos")


_QUALITY_BIN_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         {_QUALITY_ORACLE} AS q
  FROM (
    SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars,
           CAST({_N_TOK_ORACLE} AS DOUBLE) AS n_tok2
    FROM documents
  )
),
pos AS (
  SELECT q, n_chars,
         ROW_NUMBER() OVER (ORDER BY q, doc_id) - 1 AS p,
         COUNT(*) OVER () AS n
  FROM scored
)
SELECT CAST((p * 10) // n AS INT) AS bin,
       COUNT(*) AS n_docs,
       MIN(q) AS min_quality,
       MAX(q) AS max_quality,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM pos GROUP BY bin
"""


@query("corpus_quality_bins", oracle=_QUALITY_BIN_ORACLE)
def corpus_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count quality deciles (curriculum/quality-mixing prep: bin 0
    = worst 10%, bin 9 = best 10%). NTILE over the whole corpus is a
    single-partition funnel, so the decile index is computed from the
    scale-safe global enumeration instead (block = floor(quality*16),
    monotone in the order key) — bin = floor(rank * 10 / n). Exact
    equal-count semantics, no global window, deterministic tie-break by
    doc_id."""
    q = quality_score("text")
    df = (
        spark.table("documents")
        .select("doc_id", F.col("n_chars").cast("double").alias("n_chars"), q.alias("q"))
    )
    block = F.least(F.lit(15), F.floor(F.col("q") * 16)).cast("int")
    pos = global_row_number(df, [F.col("q"), F.col("doc_id")], block, pos_col="_pos")
    # Count from the raw table, not from `pos`: an aggregate over `pos`
    # would re-execute the whole enumeration subtree (window + join) just
    # to count rows — this branch is a bare 1-column scan instead.
    total = spark.table("documents").groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return (
        pos.join(F.broadcast(total))
        .withColumn("bin", F.floor((F.col("_pos") - 1) * 10 / F.col("_n")).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


_INGEST_ORACLE = """
WITH d AS (SELECT doc_id, lang, md5(text) AS fp FROM documents),
ex AS (SELECT DISTINCT fp FROM d WHERE doc_id % 7 <> 0),
inc AS (SELECT * FROM d WHERE doc_id % 7 = 0)
SELECT lang,
       COUNT(*) AS n_incoming,
       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM ex) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_corpus,
       CAST(COUNT(DISTINCT CASE WHEN fp NOT IN (SELECT fp FROM ex) THEN fp END) AS BIGINT)
         AS n_new_unique
FROM inc GROUP BY lang
"""


@query("corpus_incremental_ingest", oracle=_INGEST_ORACLE)
def corpus_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: an incoming batch (doc_id % 7 == 0,
    the stand-in for today's crawl) is split against the standing corpus
    by content fingerprint using the Bloom-partitioned anti join — rows
    failing the corpus sketch are DEFINITELY new and skip the join
    entirely (scan-speed, the overwhelming majority at 100 TB); only the
    may-match remainder pays the exact semi/anti join that removes Bloom
    false positives. Per-language: incoming count, dup-vs-corpus count,
    surviving unique-new count (in-batch dedup by fingerprint)."""
    from hadoop_common_spark.operators.bloom import bloom_build, bloom_flag

    docs = spark.table("documents").select(
        "doc_id", "lang", F.md5(F.col("text")).alias("fp")
    )
    existing = docs.filter(F.col("doc_id") % 7 != 0)
    incoming = docs.filter(F.col("doc_id") % 7 == 0)
    ex_fps = existing.select("fp").distinct()

    sketch = bloom_build(ex_fps, "fp")
    # flag once, filter both ways: the k hash positions appear once in
    # the plan (a probe call per side would duplicate them); persisting
    # `flagged` would make this a literal single pass over the increment
    flagged = bloom_flag(incoming, "fp", sketch, "_may")
    definite_new = flagged.filter(~F.col("_may")).drop("_may")
    candidates = flagged.filter(F.col("_may")).drop("_may")
    dup = candidates.join(ex_fps, "fp", "left_semi")
    new = definite_new.unionByName(candidates.join(ex_fps, "fp", "left_anti"))

    per_lang = incoming.groupBy("lang").agg(F.count(F.lit(1)).alias("n_incoming"))
    dup_lang = dup.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_vs_corpus")
    )
    new_lang = new.groupBy("lang").agg(
        F.countDistinct("fp").cast("bigint").alias("n_new_unique")
    )
    return (
        per_lang.join(dup_lang, "lang", "left")
        .join(new_lang, "lang", "left")
        .select(
            "lang",
            "n_incoming",
            F.coalesce("n_dup_vs_corpus", F.lit(0)).alias("n_dup_vs_corpus"),
            F.coalesce("n_new_unique", F.lit(0)).alias("n_new_unique"),
        )
    )


_CONTAM_SCORE_ORACLE = """
WITH toks AS (
  SELECT lang, doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
shs AS (
  SELECT lang, doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
  FROM toks
),
bench AS (SELECT DISTINCT sh FROM shs WHERE doc_id % 101 = 0),
tot AS (
  SELECT lang, doc_id, COUNT(*) AS n_sh FROM shs
  WHERE doc_id % 101 <> 0 GROUP BY lang, doc_id
),
hits AS (
  SELECT s.lang, s.doc_id, COUNT(*) AS n_hit
  FROM shs s JOIN bench b ON s.sh = b.sh
  WHERE s.doc_id % 101 <> 0 GROUP BY s.lang, s.doc_id
)
SELECT lang, bin, COUNT(*) AS n_docs FROM (
  SELECT t.lang,
         CAST(least(floor((CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_sh) * 10), 9) AS INT) AS bin
  FROM tot t LEFT JOIN hits h ON t.lang = h.lang AND t.doc_id = h.doc_id
) GROUP BY lang, bin
"""


@query("corpus_contamination_scores", oracle=_CONTAM_SCORE_ORACLE)
def corpus_contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark-contamination audit: per document, the fraction
    of its distinct word 3-grams that appear in the held-out benchmark
    slice, histogrammed into deciles per language (bin 9 = 90%+ overlap
    -> certain contamination; bin 0 = trace overlap). The binary
    decontamination query drops flagged docs; this one quantifies the
    tail so a pipeline can pick its threshold. The benchmark shingle set
    broadcasts; corpus-side work is one explode + per-doc count — the
    overlap ratio is a single exact double division, so decile binning
    is engine-stable."""
    from hadoop_common_spark.operators.dedup import word_shingles

    sh = spark.table("documents").select(
        "lang", "doc_id", F.explode(word_shingles("text", 3)).alias("sh")
    )
    corpus = sh.filter(F.col("doc_id") % 101 != 0)
    bench = sh.filter(F.col("doc_id") % 101 == 0).select("sh").distinct()
    tot = corpus.groupBy("lang", "doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        corpus.join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("lang", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_sh")
    return (
        tot.join(hits, ["lang", "doc_id"], "left")
        .select("lang", F.least(F.floor(ratio * 10), F.lit(9)).cast("int").alias("bin"))
        .groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_PACK_ORACLE = """
WITH docs AS (
  SELECT lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
chunks AS (
  SELECT lang, doc_id, unnest(generate_series(0, CAST((n_tok + 255) // 256 AS INT) - 1)) AS ci,
         n_tok
  FROM docs
),
sized AS (
  SELECT lang, doc_id, ci,
         least(256, n_tok - ci * 256) AS chunk_tok
  FROM chunks
),
packed AS (
  SELECT lang, doc_id, chunk_tok,
         CAST((SUM(chunk_tok) OVER (PARTITION BY lang ORDER BY doc_id, ci
                                    ROWS UNBOUNDED PRECEDING) - chunk_tok) // 2048 AS BIGINT)
           AS seq_id
  FROM sized
)
SELECT lang, seq_id,
       COUNT(*) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(chunk_tok) AS BIGINT) AS seq_tokens
FROM packed GROUP BY lang, seq_id
"""


@query("corpus_pack_sequences", oracle=_PACK_ORACLE)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing WITH document chunking: documents split
    into <=256-token chunks (long docs span chunks; explode over a
    sequence() — no UDF), chunks packed in (doc, chunk) order into
    ~2048-token sequences per language via the running-total window.
    This is the corpus_token_shards refinement every trainer actually
    needs — a 10k-token doc must not overflow its shard, it must split.
    One explode + one aggregate; the explode fan-out is ceil(n_tok/256)
    per doc, linear in corpus tokens. The per-language running total is
    the segmented parallel scan (skew.segmented_running_sum with a ci
    tiebreak — chunks of one doc share its doc_id-range segment), not a
    per-lang window: a hot language would otherwise fold the whole
    corpus's chunk stream on one core. Bigint sums — bit-identical to
    the one-window form."""
    n_tok = F.size(F.split(F.col("text"), " ", -1)).cast("bigint")
    docs = spark.table("documents").select("lang", "doc_id", n_tok.alias("n_tok"))
    n_chunks = ((F.col("n_tok") + 255) / 256).cast("bigint")
    chunks = docs.select(
        "lang",
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("ci"),
    )
    sized = chunks.select(
        "lang",
        "doc_id",
        "ci",
        F.least(F.lit(256).cast("bigint"), F.col("n_tok") - F.col("ci") * 256).alias(
            "chunk_tok"
        ),
    )
    from hadoop_common_spark.operators.skew import segmented_running_sum

    run = segmented_running_sum(
        sized, ["lang"], "doc_id", "chunk_tok", tiebreak_cols=["ci"]
    )
    pre = F.col("running") - F.col("chunk_tok")
    return (
        run.withColumn("seq_id", F.floor(pre / 2048).cast("bigint"))
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("chunk_tok").cast("bigint").alias("seq_tokens"),
        )
    )


_STRATIFIED_ORACLE = """
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS rk
  FROM documents
) WHERE rk <= 20
"""


@query("corpus_stratified_sample", oracle=_STRATIFIED_ORACLE)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified sampling: precisely k=20 documents per language
    stratum (sampleBy() is binomial — approximate counts; training-data
    mixtures need exact allocations), chosen by md5-hash rank within the
    stratum — deterministic across engines, runs, and repartitionings.
    One shuffle on the stratum key. Skewed strata: the rank<=k FILTER
    form is the shape Spark 4's WindowGroupLimit rewrites into a
    map-side partial top-k natively — measured skew-immune in the Zipf
    fixture (bench.py skew tier: plain 2.06s vs manual two-phase 2.11s
    on a 90%-hot key), so the plain window IS the scale form here."""
    docs = spark.table("documents").select("lang", "doc_id")
    order = [F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()]
    ranked = docs.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(*order)
        ),
    )
    return ranked.filter(F.col("rk") <= 20).select("lang", "doc_id", "rk")


_CHUNK_W, _CHUNK_S = 16, 8  # window tokens, stride (50% overlap)

_CHUNK_OVERLAP_ORACLE = rf"""
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS a
  FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(generate_series(1, len(a), {_CHUNK_S})) AS start,
         a
  FROM arr WHERE len(a) > 0
)
SELECT doc_id,
       CAST((start - 1) / {_CHUNK_S} AS INT) AS chunk_idx,
       CAST(len(a[start : least(start + {_CHUNK_W} - 1, len(a))]) AS BIGINT) AS n_tokens,
       a[start] AS first_token
FROM ch
"""


@query("corpus_chunk_overlap", oracle=_CHUNK_OVERLAP_ORACLE)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking ({_CHUNK_W}-token windows,
    stride {_CHUNK_S} = 50% overlap) — the RAG-corpus chunking idiom
    (corpus_pack_sequences is the disjoint training-packing form; RAG
    retrieval wants overlap so no answer span straddles a boundary).
    Pure narrow map: tokenize once, explode window starts, slice — no
    shuffle at all; chunk identity is a pure function of (doc_id,
    start), reproducible at any scale or partitioning."""
    docs = spark.table("documents")
    arr = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    n = F.size(arr)
    withk = docs.select("doc_id", arr.alias("a")).filter(F.size("a") > 0)
    starts = F.explode(F.sequence(F.lit(1), F.size("a"), F.lit(_CHUNK_S)))
    ch = withk.select("doc_id", "a", starts.alias("start"))
    chunk = F.slice(
        F.col("a"),
        F.col("start"),
        F.least(F.lit(_CHUNK_W), F.size("a") - F.col("start") + 1),
    )
    return ch.select(
        "doc_id",
        (((F.col("start") - 1) / _CHUNK_S).cast("int")).alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.element_at(F.col("a"), F.col("start")).alias("first_token"),
    )


# ---- boilerplate segment strip (C4-style line dedup, r4) -----------------
# The C4/RefinedWeb cleaning step the scan/count queries don't cover:
# REMOVE text spans that repeat across documents (nav bars, footers,
# licenses). "Lines" in this corpus are 3-word non-overlapping segments
# (the synthetic text has no newlines); a segment is boilerplate when its
# exact text occurs in >= 3 distinct docs. Two shuffles total: segment ->
# distinct-doc counts, then a join back + per-doc rollup — the same shape
# at 100 TB (segment-hash partitioning, no all-pairs anywhere).
_SEG_W = 3
_BOILER_K = 3

_BOILER_STRIP_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
segs AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, greatest(CAST(ceil(len(toks) / {_SEG_W}.0) AS BIGINT), 1) - 1),
           i -> array_to_string(list_slice(toks, i * {_SEG_W} + 1, i * {_SEG_W} + {_SEG_W}), ' '))) AS seg
  FROM tk
),
sd AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN sd.nd >= {_BOILER_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(SUM(CASE WHEN sd.nd < {_BOILER_K} THEN len(string_split(s.seg, ' ')) ELSE 0 END) AS BIGINT) AS n_kept_words
FROM segs s JOIN sd USING (seg)
GROUP BY s.doc_id
"""


@query("corpus_boilerplate_strip", oracle=_BOILER_STRIP_ORACLE)
def corpus_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal (the C4-style 'line dedup'
    cleaning pass; complements text_boilerplate_ngrams, which only
    REPORTS frequent n-grams): per doc, how many 3-word segments
    survive after dropping segments whose exact text appears in >= 3
    distinct documents. Segments are built with higher-order array
    functions (no explode of raw tokens), counted with one hash-
    partitioned aggregation, and joined back by segment text — both
    shuffles key on the segment, so skew is bounded by segment
    frequency, never corpus size."""
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    nseg = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(_SEG_W))).cast("bigint"), F.lit(1).cast("bigint")
    )
    segs = F.transform(
        F.sequence(F.lit(0).cast("bigint"), nseg - 1),
        lambda i: F.array_join(
            F.slice(toks, (i * _SEG_W + 1).cast("int"), _SEG_W), " "
        ),
    )
    seg_rows = spark.table("documents").select(
        "doc_id", F.explode(segs).alias("seg")
    )
    sd = seg_rows.groupBy("seg").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        seg_rows.join(sd, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum((F.col("nd") >= _BOILER_K).cast("int")).cast("bigint").alias("n_boiler"),
            F.sum(
                F.when(F.col("nd") < _BOILER_K, F.size(F.split(F.col("seg"), " "))).otherwise(0)
            ).cast("bigint").alias("n_kept_words"),
        )
    )


# Temperature-scaled source mixture (the multinomial-sampling weights of
# multilingual/multi-domain LM training — p_i ∝ tokens_i^alpha with
# alpha = 0.5): small sources are up-weighted, dominant sources damped.
# DETERMINISM NOTE: the only irrational is sqrt (IEEE-correctly-rounded
# on every engine); it is snapped to exact integer micro-units with
# floor(sqrt(x) * 1e6) so the normalizing denominator is an exact BIGINT
# sum (order-independent) — no cross-row float accumulation anywhere, so
# Spark and DuckDB hash bit-identically.
_TEMPERATURE_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS nt
  FROM documents
),
src AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM per GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
  FROM src
),
tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS denom,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM w
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS raw_share,
       CAST(s AS DOUBLE) / CAST(denom AS DOUBLE) AS weight,
       (CAST(s AS DOUBLE) / CAST(denom AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS boost
FROM w, tot
"""


@query("corpus_temperature_mixture", oracle=_TEMPERATURE_ORACLE)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source (alpha = 0.5,
    weight_i ∝ sqrt(tokens_i) normalized): the mixture a multi-domain
    LM trainer feeds its sampler, with the raw token share and the
    up/down-sampling boost each source gets. Scale: one map-side-combined
    groupBy over documents (token counting is a narrow projection), then
    arithmetic over ~#sources rows; the denominator is a broadcast
    single-row cross join — nothing here grows with corpus size except
    the first aggregate. sqrt is snapped to integer micro-units so the
    normalization is an exact integer sum (see oracle note)."""
    docs = spark.table("documents")
    src = (
        docs.select("source", token_count("text").alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "_s",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0).cast("bigint"),
        )
    )
    tot = src.agg(
        F.sum("_s").cast("bigint").alias("_denom"),
        F.sum("n_tokens").cast("bigint").alias("_total"),
    )
    weight = F.col("_s").cast("double") / F.col("_denom").cast("double")
    raw_share = F.col("n_tokens").cast("double") / F.col("_total").cast("double")
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            raw_share.alias("raw_share"),
            weight.alias("weight"),
            (weight / raw_share).alias("boost"),
        )
    )


# N-gram novelty (r6): how much of each document is FIRST-SEEN text vs
# text already present earlier in the corpus (doc_id order = ingestion
# order). The diversity/memorization dashboard number: a crawl whose
# novelty curve collapses is re-crawling itself.
_NOVELTY_ORACLE = """
WITH pg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, substr(text, i, 8) AS g
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i)
  )
),
first_seen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM pg GROUP BY g
)
SELECT pg.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN fs.first_doc = pg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN fs.first_doc = pg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM pg JOIN first_seen fs ON pg.g = fs.g
GROUP BY pg.doc_id
"""


@query("corpus_ngram_novelty", oracle=_NOVELTY_ORACLE)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty: the fraction of a doc's DISTINCT
    character 8-grams whose corpus-wide first occurrence (min doc_id —
    ingestion order) is this doc. Streams' diversity health metric: near
    1.0 = fresh text, near 0.0 = the corpus already contains this
    content (the aggregate view of what the dedup pair tiers report
    pairwise). Scale: one explode → per-gram min() (map-side combined,
    one shuffle on the gram) → join back on the gram → per-doc count
    aggregate; no pair materialization anywhere, so cost is linear in
    corpus gram volume regardless of duplication density — this is the
    query that STAYS cheap at 100× where pair reporting hits its output
    bound. Docs shorter than 8 chars have no grams and produce no row
    (both engines)."""
    docs = spark.table("documents")
    par = spark.sparkContext.defaultParallelism
    k = 8
    n_grams = F.greatest(F.length(F.col("text")) - (k - 1), F.lit(0))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.col("text").substr(i, F.lit(k)),
        )
    )
    # sub-8-char docs: Spark sequence(1, 0) = [1, 0] (descending) —
    # filter them out to match the oracle's empty generate_series
    eligible = docs.filter(F.length("text") >= k)
    # The exploded gram table has exactly ONE consumer (the per-gram min)
    # and is never materialized: per-doc totals are just size(grams) — a
    # narrow map-side projection, no explode needed. The previous form
    # localCheckpointed the full gram table to share it between the two
    # aggregates, which pins O(corpus grams) rows in block-manager
    # storage — measured AGGREGATE_OUT_OF_MEMORY at the 100x tier (145M
    # gram rows vs a 16 GB heap). This shape has no memory floor at any
    # corpus size: one explode -> one map-side-combined shuffle on the
    # gram, everything else doc-keyed.
    # size(grams), NOT length(text)-k+1: grams is array_distinct'ed, so
    # the count is DISTINCT grams (what the oracle's totals count) and a
    # positional formula would overcount repeated grams. Rebuilding the
    # gram array here is per-row CPU on a zero-shuffle projection.
    totals = eligible.select(
        "doc_id", F.size(grams).cast("bigint").alias("n_grams")
    )
    # The exploded path deliberately skips the per-doc array_distinct and
    # builds grams as explode(sequence) + a POST-explode codegen substr:
    # per-gram min(doc_id) is unchanged by in-doc multiplicity (the
    # groupBy(_g) dedups globally anyway), and the interpreted
    # transform(sequence, i -> substr(...)) + array_distinct pass was the
    # dominant per-row cost (whole query measured 21s -> 16s at the 100×
    # tier; the same HOF-vs-codegen trade as shared_span_pairs' gram
    # table). The `totals` branch above must KEEP the distinct array —
    # n_grams counts DISTINCT grams — and that per-row pass is now about
    # half the query's cost with no cheaper exact form (a countDistinct
    # over the exploded rows would shuffle the whole gram table by doc).
    pg = (
        eligible.repartition(par)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("_i"),
        )
        .select("doc_id", F.col("text").substr(F.col("_i"), F.lit(k)).alias("_g"))
    )
    # NO gram-keyed join back (the naive form re-shuffles every gram a
    # second time — measured 1.5x slower at 10x): a doc's novel-gram
    # count is just how many grams have first_doc == doc, i.e. a second
    # tiny aggregate OVER the per-gram min rows; both remaining joins
    # are doc-keyed (corpus-doc-count sized, not gram sized)
    novel = (
        pg.groupBy("_g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        totals.join(novel, "doc_id", "left")
        .withColumn("n_novel", F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint"))
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
        .select("doc_id", "n_grams", "n_novel", "novelty")
    )


# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by how much its hashed n-gram feature distribution looks like a target
# (high-quality) subset vs the raw corpus. The selection pass that turns
# a 100 TB crawl into a domain-matched training set.
# DETERMINISM NOTE: the per-BUCKET log-ratio is snapped to exact integer
# micro-units (floor(ln-ratio * 1e6), one ln per bucket — the
# temperature-mixture precedent), so the per-DOC score is an exact
# BIGINT sum over its features: zero cross-row float accumulation.
_DSIR_B = 4096
_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en' AND n_chars >= 300) AS is_t,
         string_split_regex(lower(trim(text)), '\\s+') AS ts
  FROM documents WHERE trim(text) <> ''
),
feats AS (
  SELECT doc_id, is_t, unnest(ts) AS g FROM toks
  UNION ALL
  SELECT doc_id, is_t, ts[i] || ' ' || ts[i+1] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts)-1)) AS i) ls
),
fb AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_B} AS b
  FROM feats
),
dict AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM fb GROUP BY b
),
tot AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS r_tot, CAST(SUM(c_t) AS BIGINT) AS t_tot
  FROM dict
),
w AS (
  SELECT b,
         CAST(FLOOR((ln((c_t + 1.0) / (t_tot + {_DSIR_B}.0))
                   - ln((c_r + 1.0) / (r_tot + {_DSIR_B}.0))) * 1000000.0)
              AS BIGINT) AS wm
  FROM dict, tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(SUM(wm) AS BIGINT) AS dsir_score_micro
FROM fb JOIN w USING (b)
GROUP BY doc_id
ORDER BY dsir_score_micro DESC, doc_id
LIMIT 100
"""


@query("corpus_dsir_weights", oracle=_DSIR_ORACLE)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores: hashed unigram+bigram features (md5 →
    {_DSIR_B} buckets), bucket weight = add-one-smoothed log-ratio of
    target (en, >=300 chars — the quality-proxy subset) vs raw feature
    probability, per-doc score = exact integer sum of its buckets'
    micro-unit weights; top-100 by score. Scale: feature explode is
    map-side; the bucket dictionary is ONE bounded aggregation (4096
    rows however big the corpus) broadcast back onto the feature
    stream; the per-doc score is a map-side-combined BIGINT groupBy;
    top-100 is TakeOrderedAndProject. Nothing but the two linear
    passes over features touches corpus-sized data."""
    from hadoop_common_spark.operators.dedup import hash60

    docs = spark.table("documents").filter(F.trim(F.col("text")) != "")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    # shifted-array zip, NOT transform(sequence, i -> element_at(...)) —
    # the indexed form measured ~30x slower at sf0.1 (operators/dedup.py
    # documents the same pitfall for shingling)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fb = (
        docs.select(
            "doc_id",
            ((F.col("lang") == "en") & (F.col("n_chars") >= 300)).alias("_is_t"),
            F.explode(F.concat(toks, bigrams)).alias("_g"),
        )
        .select(
            "doc_id", "_is_t", F.pmod(hash60(F.col("_g")), F.lit(_DSIR_B)).alias("b")
        )
        # materialize the hashed feature stream ONCE (r13, VERDICT r12
        # #4): its two consumers (bucket dictionary, per-doc scoring)
        # prune different columns, so without this the tokenize+md5
        # explode ran twice (the same divergent-pruning ReusedExchange
        # failure minhash hit in r12). The checkpointed projection is
        # 17 bytes/feature — ~1.7 GB at the 100x tier against a 16 GB
        # heap with disk fallback (measured before committing: the 100x
        # run holds; the r12 negative result that rejected a one-pass
        # form was a corpus-sized groupBy pre-aggregate SHUFFLE, not a
        # narrow checkpoint). On a cluster this is the temp feature
        # table you'd write between the two passes (guide §8).
        .localCheckpoint(eager=False)
    )
    dict_df = fb.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_r"),
        F.sum(F.col("_is_t").cast("int")).cast("bigint").alias("c_t"),
    )
    tot = dict_df.agg(
        F.sum("c_r").cast("bigint").alias("_r_tot"),
        F.sum("c_t").cast("bigint").alias("_t_tot"),
    )
    w = dict_df.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("c_t") + 1.0) / (F.col("_t_tot") + float(_DSIR_B)))
                - F.log((F.col("c_r") + 1.0) / (F.col("_r_tot") + float(_DSIR_B)))
            )
            * 1000000.0
        )
        .cast("bigint")
        .alias("wm"),
    )
    scored = (
        fb.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("wm").cast("bigint").alias("dsir_score_micro"),
        )
    )
    return scored.orderBy(F.col("dsir_score_micro").desc(), "doc_id").limit(100)


# Weighted sampling without replacement (Efraimidis-Spirakis A-ES): the
# "sample N documents proportional to token count" step of corpus
# subsetting, as a deterministic one-pass top-k — no rejection loops, no
# global sort, no driver-side state.
_WSAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             + 1.0) / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS INT) AS rank,
       doc_id, weight
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 100
"""


@query("corpus_weighted_sample", oracle=_WSAMPLE_ORACLE)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents sampled without replacement with probability
    proportional to size (n_chars), via the A-ES exponential-key
    transform (operators/sort.weighted_sample_keys). Output is the
    selected ids + weights and the selection rank — integers only; the
    float key is selection-internal. Scale: the key is a per-row
    expression over the scan, selection is TakeOrderedAndProject
    (per-partition heaps + one k-row merge), and the rank window runs
    over the 100 survivors — nothing global touches corpus-sized data.
    Deterministic md5 seed -> reproducible sample across retries."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.sort import top_k, weighted_sample_keys

    docs = spark.table("documents").filter(F.col("n_chars") > 0)
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        weighted_sample_keys(F.col("n_chars"), F.col("doc_id")).alias("_k"),
    )
    sel = top_k(keyed, 100, [F.col("_k").desc(), F.col("doc_id").asc()])
    w = Window.orderBy(F.col("_k").desc(), F.col("doc_id").asc())
    return sel.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "weight"
    )


# Shuffle-key skew report — the diagnosis you run BEFORE choosing a
# partition strategy at 100 TB: how concentrated is the key
# distribution, and would the hottest key blow a reducer? Log-free:
# shares are IEEE ratios of exact BIGINTs (top-1 / top-10 share,
# distinct keys, max/avg occupancy ratio).
_SKEW_ORACLE = """
WITH kc AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rn FROM kc
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_c,
         CAST(SUM(CASE WHEN rn <= 1 THEN c ELSE 0 END) AS BIGINT) AS top1,
         CAST(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10
  FROM ranked
)
SELECT n_keys, n_rows, max_c,
       CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
       CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share,
       (CAST(max_c AS DOUBLE) * CAST(n_keys AS DOUBLE))
         / CAST(n_rows AS DOUBLE) AS max_over_avg
FROM agg
"""


@query("events_key_skew_report", oracle=_SKEW_ORACLE)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew report for events.user_id: distinct keys,
    total rows, hottest-key count, top-1/top-10 row share, and
    max-over-avg occupancy (the number that predicts whether a salted
    agg / AQE skew join is needed). Scale: one map-side-combined key
    count; the ranking runs over the per-KEY aggregate via the
    skew-proof two-phase top-k (never a global sort of keys); the
    report is one row."""
    from hadoop_common_spark.operators.sort import top_k

    kc = (
        spark.table("events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # a GLOBAL top-10 over the per-key aggregate: sort.top_k plans as
    # TakeOrderedAndProject (per-partition heaps) — the former routing
    # through the two-phase GROUPED top-k with a constant group added a
    # salt column, an extra window pass, and a synthetic group for
    # nothing (its skew-proofing exists for per-group fan-out, and a
    # single global group has none)
    top = top_k(kc, 10, [F.col("c").desc(), F.col("user_id").asc()])
    w = Window.orderBy(F.col("c").desc(), F.col("user_id").asc())
    tops = (
        top.withColumn("rn", F.row_number().over(w))
        .agg(
            F.sum(F.when(F.col("rn") <= 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("top1"),
            F.sum(F.when(F.col("rn") <= 10, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("top10"),
        )
    )
    base = kc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    return base.crossJoin(F.broadcast(tops)).select(
        "n_keys", "n_rows", "max_c",
        (F.col("top1").cast("double") / F.col("n_rows").cast("double")).alias(
            "top1_share"
        ),
        (F.col("top10").cast("double") / F.col("n_rows").cast("double")).alias(
            "top10_share"
        ),
        (
            (F.col("max_c").cast("double") * F.col("n_keys").cast("double"))
            / F.col("n_rows").cast("double")
        ).alias("max_over_avg"),
    )


# k-anonymity audit — the privacy gate a dataset clears before release:
# group rows by their quasi-identifier tuple, find groups smaller than
# k (those rows are re-identifiable), and report the suppression cost
# per event type. New family: privacy/compliance auditing — the same
# engine that builds the corpus must prove what it publishes.
_KANON_K = 5

# THE quasi-identifier definition — events_k_anonymity and
# events_l_diversity must group by the IDENTICAL tuple or the two
# privacy reports silently stop being comparable (the split_90_5_5
# one-definition rule); both queries and both oracles render from these
# two helpers.
_QI_SQL = """event_type,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
         CAST(FLOOR(value / 50.0) AS INT) AS value_band"""


def _qi_cols() -> list:
    e = F.expr("CAST(ts AS LONG)")
    return [
        F.col("event_type"),
        ((e % 86400) / 3600).cast("int").alias("hour"),
        F.floor(F.col("value") / 50.0).cast("int").alias("value_band"),
    ]


_KANON_ORACLE = f"""
WITH qi AS (
  SELECT {_QI_SQL},
         COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_qi_groups,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_suppressed_rows,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS suppression_rate
FROM qi GROUP BY event_type
"""


@query("events_k_anonymity", oracle=_KANON_ORACLE)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) audit over the quasi-identifier tuple
    (event_type, hour-of-day, value band of width 50): per event type,
    how many QI groups fall below k and how many rows a suppress-
    below-k release would drop. Hour comes from pure epoch integer
    math (timezone-proof, the heatmap idiom); counts are exact BIGINTs
    and the one double division is the same IEEE op on both engines.
    Scale: two partial-aggregated shuffles, the second over at most
    |event_type| x 24 x bands groups — the QI groupBy is the only pass
    that touches every row."""
    qi = (
        spark.table("events")
        .groupBy(*_qi_cols())
        .agg(F.count(F.lit(1)).alias("n"))
    )
    viol = F.col("n") < _KANON_K
    return qi.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_qi_groups"),
        F.sum(viol.cast("int")).cast("bigint").alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_suppressed_rows"),
        (
            F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0))).cast("double")
            / F.sum("n").cast("double")
        ).alias("suppression_rate"),
    )


# Erasure cascade — the second privacy-family member (with
# events_k_anonymity): given a deterministic erasure list (the "right
# to be forgotten" request set, here hash-selected ~5% of customers),
# cascade the delete across every table that references the subject and
# report the per-table purge audit a compliance job must produce.
# Scale: the erasure list is a small broadcast side; every purge count
# is one semi-join + aggregate, and lineitem's cascade rides the
# already-purged orders keys — no table is scanned more than once.
_ERASURE_ORACLE = """
WITH erased AS (
  SELECT c_custkey FROM customer
  WHERE ('0x' || substr(md5('erase:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 5
),
po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM erased)),
a AS (
  SELECT 'customer' AS table_name,
         CAST((SELECT COUNT(*) FROM erased) AS BIGINT) AS n_purged,
         CAST((SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM erased) AS BIGINT) AS n_kept
  UNION ALL
  SELECT 'orders',
         CAST((SELECT COUNT(*) FROM po) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM po) AS BIGINT)
  UNION ALL
  SELECT 'lineitem',
         CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)) AS BIGINT),
         CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)) AS BIGINT)
  UNION ALL
  SELECT 'events',
         CAST((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT c_custkey FROM erased)) AS BIGINT),
         CAST((SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM erased)) AS BIGINT)
)
SELECT table_name, n_purged, n_kept FROM a
"""


@query("privacy_erasure_cascade", oracle=_ERASURE_ORACLE)
def privacy_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table purge audit of a cascaded erasure: subjects =
    customers whose hash60('erase:' || custkey) lands in the 5% bucket
    (a deterministic stand-in for the request queue); customer rows
    purge directly, orders by custkey, lineitem through the purged
    orderkeys, events by user_id. Spark-first: the subject list (and
    the order-key list it induces) broadcasts into LEFT SEMI / LEFT
    ANTI probes — each fact table is scanned once, counted with one
    partial-aggregated pass, no row is materialized twice. The actual
    delete job is these same semi/anti joins with a writer instead of
    a count."""
    from hadoop_common_spark.operators.dedup import hash60

    erased = spark.table("customer").filter(
        F.pmod(
            hash60(F.concat(F.lit("erase:"), F.col("c_custkey").cast("string"))),
            F.lit(100),
        )
        < 5
    ).select("c_custkey")
    po = spark.table("orders").join(
        F.broadcast(erased),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    ).select("o_orderkey")

    def audit(name: str, purged, kept) -> DataFrame:
        p = purged.agg(F.count(F.lit(1)).cast("bigint").alias("n_purged"))
        k = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        return p.crossJoin(F.broadcast(k)).select(
            F.lit(name).alias("table_name"), "n_purged", "n_kept"
        )

    cust = spark.table("customer")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    ev = spark.table("events")
    on_ord = F.col("l_orderkey") == F.col("o_orderkey")
    on_usr = F.col("user_id") == F.col("c_custkey")
    return (
        audit(
            "customer",
            cust.join(F.broadcast(erased), "c_custkey", "left_semi"),
            cust.join(F.broadcast(erased), "c_custkey", "left_anti"),
        )
        .unionByName(
            audit(
                "orders",
                po,
                orders.join(
                    F.broadcast(erased),
                    F.col("o_custkey") == F.col("c_custkey"),
                    "left_anti",
                ),
            )
        )
        .unionByName(
            audit(
                "lineitem",
                li.join(F.broadcast(po), on_ord, "left_semi"),
                li.join(F.broadcast(po), on_ord, "left_anti"),
            )
        )
        .unionByName(
            audit(
                "events",
                ev.join(F.broadcast(erased), on_usr, "left_semi"),
                ev.join(F.broadcast(erased), on_usr, "left_anti"),
            )
        )
    )


# Release diff — the dataset-versioning audit: before publishing corpus
# v2, diff it against v1 and report what was added, removed, changed,
# and untouched (the numbers a release note and a downstream cache
# invalidation both need). The two "releases" here are deterministic
# hash-selected views of the documents table (independent 5% exclusions
# + a 5% simulated edit), so the query is a pure function of the data;
# a real deployment points the two sides at two snapshot paths — the
# plan (ONE full-outer join on the id, fingerprint compare) is the same.
_VDIFF_H = "('0x' || substr(md5({salt} || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
_VDIFF_ORACLE = f"""
WITH prev AS (
  SELECT doc_id, md5(text) AS fp FROM documents
  WHERE {_VDIFF_H.format(salt="'prev:'")} < 95
),
curr AS (
  SELECT doc_id,
         CASE WHEN {_VDIFF_H.format(salt="'edit:'")} < 5
              THEN md5(text || 'v2') ELSE md5(text) END AS fp
  FROM documents
  WHERE {_VDIFF_H.format(salt="'curr:'")} < 95
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
  SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN p.fp <> c.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
) GROUP BY status
"""


@query("corpus_version_diff", oracle=_VDIFF_ORACLE)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff: full-outer join of the v1 and v2 document
    sets on doc_id, content compared by md5 fingerprint, counted into
    added / removed / changed / unchanged. Scale: fingerprints are
    map-side (no text ships through the shuffle — only (id, 32-byte
    fp)), the join is one hash shuffle on the id, and the result is a
    4-row aggregate; this is the shape that diffs two 100 TB snapshots
    while moving only ids and digests."""
    from hadoop_common_spark.operators.dedup import hash60

    docs = spark.table("documents")

    def bucket(salt: str):
        return F.pmod(
            hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
            F.lit(100),
        )

    prev = docs.filter(bucket("prev:") < 95).select(
        "doc_id", F.md5("text").alias("fp_p"), F.lit(1).alias("in_p")
    )
    curr = docs.filter(bucket("curr:") < 95).select(
        "doc_id",
        F.when(bucket("edit:") < 5, F.md5(F.concat(F.col("text"), F.lit("v2"))))
        .otherwise(F.md5("text"))
        .alias("fp_c"),
        F.lit(1).alias("in_c"),
    )
    joined = prev.join(curr, "doc_id", "full_outer")
    # presence comes from explicit side markers, NEVER from fingerprint
    # nullness (md5 of a NULL text is NULL on a present row); the
    # changed/unchanged split mirrors the oracle's `fp <> fp` exactly —
    # a NULL comparison falls through to 'unchanged' on both engines
    status = (
        F.when(F.col("in_p").isNull(), "added")
        .when(F.col("in_c").isNull(), "removed")
        .when(F.col("fp_p") != F.col("fp_c"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# l-diversity audit (r6) — the privacy-family companion to
# events_k_anonymity: k-anonymity bounds GROUP SIZE, but a group of 50
# rows all belonging to ONE user still leaks (homogeneity attack);
# l-diversity requires each quasi-identifier group to contain at least
# l distinct values of the SENSITIVE attribute (here user_id). Same QI
# tuple as the k-anonymity audit so the two reports read side by side.
_LDIV_L = 3
_LDIV_ORACLE = f"""
WITH qi AS (
  SELECT {_QI_SQL},
         COUNT(*) AS n,
         COUNT(DISTINCT user_id) AS n_subjects
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_qi_groups,
       CAST(SUM(CASE WHEN n_subjects < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_homogeneous_groups,
       CAST(SUM(CASE WHEN n_subjects < {_LDIV_L} THEN n ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       CAST(MIN(n_subjects) AS BIGINT) AS min_diversity
FROM qi GROUP BY event_type
"""


@query("events_l_diversity", oracle=_LDIV_ORACLE)
def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity (l=3) audit: per event type, QI groups whose distinct
    user_id count falls below l (vulnerable to the homogeneity attack
    even when k-anonymous) and the rows a suppress-below-l release
    would drop. Scale: the QI+user distinct is ONE partial-aggregated
    pass (groupBy QI+user, then QI) — the standard two-level exact
    count-distinct that never ships raw rows twice; the final rollup
    aggregates at most |event_type| x 24 x bands groups."""
    # exact count-distinct as two partial-aggregated levels: rows ship
    # once to (QI, user), the second level counts within QI groups
    per_user = (
        spark.table("events")
        .groupBy(*_qi_cols(), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    qi = per_user.groupBy("event_type", "hour", "value_band").agg(
        F.sum("n_rows").alias("n"),
        F.count(F.lit(1)).alias("n_subjects"),
    )
    low = F.col("n_subjects") < _LDIV_L
    return qi.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_qi_groups"),
        F.sum(low.cast("int")).cast("bigint").alias("n_homogeneous_groups"),
        F.sum(F.when(low, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_exposed_rows"),
        F.min("n_subjects").cast("bigint").alias("min_diversity"),
    )


# Grouped weighted sample (r6) — per-SOURCE A-ES sampling without
# replacement: the stratified form of corpus_weighted_sample (take the
# top-k exponential keys WITHIN each source). The mixture-construction
# primitive: "sample 10k docs per domain by token weight" with
# reproducible, retry-stable selection. The grouped top-k goes through
# the skew-proof two-phase prune so a hot source never funnels its full
# candidate set through one reducer.
_WSAMPLE_GRP_ORACLE = """
WITH keyed AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
         ln((('0x' || substr(md5('wsg:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             + 1.0) / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT source, doc_id, weight,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rank
  FROM keyed
)
SELECT source, CAST(rank AS INT) AS rank, doc_id, weight FROM r WHERE rank <= 5
"""


@query("corpus_weighted_sample_by_source", oracle=_WSAMPLE_GRP_ORACLE)
def corpus_weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five documents per source, sampled without replacement with
    probability proportional to n_chars (A-ES exponential keys, salt
    'wsg:' — a DIFFERENT salt than the global sample so the two draws
    are independent). Scale: the key is a per-row map-side expression;
    selection is the two-phase grouped top-k (phase 1 prunes within
    (source, salt) slices, so at most k x n_salts rows of any hot
    source survive to the per-source rank); deterministic doc_id
    tiebreak makes retries and engine comparison exact."""
    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase
    from hadoop_common_spark.operators.sort import weighted_sample_keys

    keyed = (
        spark.table("documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            weighted_sample_keys(
                F.col("n_chars"), F.col("doc_id"), salt="wsg:"
            ).alias("_k"),
        )
    )
    order = [F.col("_k").desc(), F.col("doc_id")]
    picked = top_k_per_group_two_phase(keyed, ["source"], 5, order)
    w = Window.partitionBy("source").orderBy(*order)
    return picked.select(
        "source",
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "weight",
    )
