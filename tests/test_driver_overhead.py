"""Fixed per-query driver cost: what every registry query pays before
its first task runs, and the guarantees the cheaper forms must keep.

- ``register_views`` re-registers a temp view only when the catalog no
  longer holds the memoized DataFrame, yet still heals a re-pointed view.
- The generated-class cache is large enough that a warm pass over the
  perfbench mixes compiles nothing.
- ``token_count``/``quality_score``, now parsed SQL, still equal their
  DuckDB renderings on degenerate and adversarial text.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from verify_local import _duck_rows_pandas, _norm_strict, _rowset  # noqa: E402

# The nine registry queries of perfbench's gated mixes (perfbench/run.py):
# warehouse, then corpus.
PERFBENCH_MIX = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "waiting_suppliers",
    "window_sessionize",
    "events_user_ewma_segmented",
    "pipeline_clean_corpus",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
]


def _oracle_rowset(sf_dir, sql):
    from hadoop_common_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return _rowset(cols, _duck_rows_pandas(res), _norm_strict)
    finally:
        con.close()


def test_register_views_skips_unchanged_and_heals_repointed(spark, sf_dir, monkeypatch):
    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.tables import register_views

    query = load_all()["dedup_minhash_lsh"]
    docs = register_views(spark, sf_dir)["documents"]
    calls = []
    cls = type(docs)
    orig = cls.createOrReplaceTempView

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", counting)
    query.fn(spark, sf_dir)
    assert calls == []  # nothing changed: every view is checked, none re-registered

    monkeypatch.setattr(cls, "createOrReplaceTempView", orig)
    docs.limit(3).createOrReplaceTempView("documents")  # out-of-band re-point
    assert spark.table("documents").count() == 3
    monkeypatch.setattr(cls, "createOrReplaceTempView", counting)

    out = query.fn(spark, sf_dir)
    assert calls == ["documents"]
    assert spark.table("documents").count() == docs.count()
    got = _rowset(out.columns, [tuple(r) for r in out.collect()], _norm_strict)
    assert got == _oracle_rowset(sf_dir, query.oracle)


def test_codegen_cache_holds_the_perfbench_mix(spark, sf_dir):
    """A second pass over the nine perfbench-mix queries compiles no
    class: Spark's default 100-entry cache evicted within one pass."""
    from hadoop_common_spark.queries import load_all

    registry = load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_mix():
        for name in PERFBENCH_MIX:
            registry[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    run_mix()
    before = compiles.getCount()
    run_mix()
    assert compiles.getCount() - before == 0


ADVERSARIAL_TEXT = [
    "",
    " ",
    "     ",
    "\t",
    "\n\n",
    " \t\n ",
    "a\t\tb\n\n\nc  d",
    "tabs\tand\nnewlines\r\nmixed \t \n runs",
    "  leading and trailing spaces  ",
    "\tleading tab, trailing newline\n",
    "héllo wörld ñandú café crème brûlée",
    "日本語 の テキスト です ね",
    "emoji 🙂 text 🚀 with astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 letters",
    "x y z",
    "abcdefghijklmnopq " * 5,
    # one ~100k-token document on both sides of the len_ok bound
    " ".join(["tok"] * 100000),
    " ".join(["tok"] * 100001),
]


def test_textstats_match_duckdb_oracle_on_adversarial_text(spark):
    from hadoop_common_spark.operators.textstats import quality_score, token_count
    from hadoop_common_spark.queries.pipeline import _N_TOK_ORACLE, _QUALITY_ORACLE

    rows = list(enumerate(ADVERSARIAL_TEXT))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = sdf.select(
        "doc_id", token_count("text").alias("n_tok"), quality_score("text").alias("quality")
    ).collect()

    con = duckdb.connect()
    try:
        con.register(
            "docs",
            pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
        )
        want = con.execute(
            f"""
            SELECT doc_id, CAST({_N_TOK_ORACLE} AS BIGINT) AS n_tok,
                   {_QUALITY_ORACLE} AS quality
            FROM (SELECT doc_id, text,
                         CAST(length(text) AS DOUBLE) AS n_chars,
                         CAST({_N_TOK_ORACLE} AS DOUBLE) AS n_tok2
                  FROM docs)
            """
        ).fetchall()
    finally:
        con.close()

    cols = ["doc_id", "n_tok", "quality"]
    assert _rowset(cols, [tuple(r) for r in got], _norm_strict) == _rowset(
        cols, want, _norm_strict
    )
    counts = {r.doc_id: r.n_tok for r in got}
    assert counts[0] == 0 and counts[1] == 0  # empty and whitespace-only
    assert counts[len(rows) - 2] == 100000
