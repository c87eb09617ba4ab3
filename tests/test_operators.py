"""Operator unit tests, modeled on the reference's per-operator JUnit
suites (SURVEY.md §5.1) — tiny synthetic inputs, exact expected outputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_common_spark.operators.fieldsel import FieldSpec, field_select, parse_spec
from hadoop_common_spark.operators.joins import asof_join, override_join
from hadoop_common_spark.operators.keyspec import KeySpec, keyspec_sort
from hadoop_common_spark.operators.sort import total_order_sort
from hadoop_common_spark.operators.aggregate import aggregate_job


class TestFieldSpec:
    def test_parse_ranges(self):
        fs = FieldSpec.parse("4,3,0,1-3,7-")
        assert fs.ranges == [(4, 4), (3, 3), (0, 0), (1, 3), (7, None)]

    def test_parse_full_spec(self):
        k, v = parse_spec("1,0:2-")
        assert k.ranges == [(1, 1), (0, 0)]
        assert v.ranges == [(2, None)]

    def test_field_select(self, spark):
        # the TestFieldSelection shape: known line, known spec, exact output
        df = spark.createDataFrame([("a\tb\tc\td\te",)], ["line"])
        out = field_select(df, "line", "1,0:2-").select("key", "value").collect()[0]
        assert out.key == "b\ta"
        assert out.value == "c\td\te"


class TestKeySpec:
    def test_parse(self):
        ks = KeySpec.parse("-k2,2nr")
        assert (ks.start_field, ks.end_field, ks.numeric, ks.reverse) == (2, 2, True, True)
        ks2 = KeySpec.parse("3")
        assert (ks2.start_field, ks2.end_field) == (3, None)

    def test_numeric_vs_lexicographic(self, spark):
        # TestMRKeyFieldBasedComparator shape: 10 sorts after 9 numerically,
        # before it lexicographically
        df = spark.createDataFrame([("a\t9",), ("b\t10",)], ["l"])
        lines = lambda specs: [r.l for r in keyspec_sort(df, "l", specs).collect()]  # noqa: E731
        assert lines(["-k2,2n"]) == ["a\t9", "b\t10"]
        assert lines(["-k2,2"]) == ["b\t10", "a\t9"]

    def test_malformed_lines_sort_as_null_not_crash(self, spark):
        # unix-sort tolerance (KeyFieldBasedComparator never throws): a
        # line missing the field, and a non-numeric field, sort as null
        # (first in asc order) instead of failing the job under ANSI
        df = spark.createDataFrame([("a\t9",), ("short",), ("b\tNaNope",)], ["l"])
        out = [r.l for r in keyspec_sort(df, "l", ["-k2,2n"]).collect()]
        assert out[-1] == "a\t9" and set(out[:2]) == {"short", "b\tNaNope"}

    def test_explicit_zero_end_char_means_whole_field(self, spark):
        # KeyFieldHelper.java:148: endChar==0 == "through end of the end
        # field" — '-k2,2.0' must sort like '-k2,2', never substring(key,1,0)
        assert KeySpec.parse("-k2,2.0") == KeySpec.parse("-k2,2")
        df = spark.createDataFrame([("a\tzz",), ("b\taa",)], ["l"])
        out = [r.l for r in keyspec_sort(df, "l", ["-k2,2.0"]).collect()]
        assert out == ["b\taa", "a\tzz"]


class TestJoins:
    def test_override_rightmost_wins(self, spark):
        # TestJoinDatamerge pattern: every key in s1, every 2nd key in s2
        s1 = spark.createDataFrame([(k, "s1") for k in range(6)], ["k", "v"])
        s2 = spark.createDataFrame([(k, "s2") for k in range(0, 6, 2)], ["k", "v"])
        out = {r.k: r.v for r in override_join([s1, s2], "k", "v").collect()}
        assert out == {0: "s2", 1: "s1", 2: "s2", 3: "s1", 4: "s2", 5: "s1"}

    def test_override_duplicate_keys_winning_source_keeps_all_rows(self, spark):
        s1 = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
        s2 = spark.createDataFrame([(1, "x"), (1, "y")], ["k", "v"])
        vals = sorted(r.v for r in override_join([s1, s2], "k", "v").collect())
        assert vals == ["x", "y"]  # per-key, not per-row

    def test_asof_basic(self, spark):
        left = spark.createDataFrame([(1, 10), (1, 20), (2, 15)], ["k", "t"])
        right = spark.createDataFrame([(1, 5, 100.0), (1, 15, 200.0), (2, 99, 1.0)], ["k", "t", "val"])
        out = asof_join(left, right, "k", "t", "t", ["val"])
        got = {(r.k, r.t): r.val_asof for r in out.collect()}
        assert got == {(1, 10): 100.0, (1, 20): 200.0, (2, 15): None}

    def test_asof_tie_is_inclusive(self, spark):
        left = spark.createDataFrame([(1, 10)], ["k", "t"])
        right = spark.createDataFrame([(1, 10, 7.0)], ["k", "t", "val"])
        assert asof_join(left, right, "k", "t", "t", ["val"]).collect()[0].val_asof == 7.0

    def test_asof_tie_col_not_in_value_cols(self, spark):
        # the tie column is a right-side column that is NOT returned —
        # it must still drive the deterministic pick among equal-ts rows
        # (regression: it used to bind against the unioned frame, where a
        # same-named LEFT column is NULL for every right row)
        left = spark.createDataFrame([(1, 10, "Lseq")], ["k", "t", "seq"])
        right = spark.createDataFrame(
            [(1, 5, "a", 100.0), (1, 5, "z", 200.0)], ["k", "t", "seq", "val"]
        )
        out = asof_join(left, right, "k", "t", "t", ["val"], right_tie_col="seq")
        row = out.collect()[0]
        assert row.val_asof == 200.0  # backward keeps the max tie ("z")
        assert row.seq == "Lseq"  # left's own column untouched
        out_f = asof_join(
            left, right, "k", "t", "t", ["val"],
            direction="forward", right_tie_col="seq",
        )
        # forward: left t=10 has no right >= 10 — no match
        assert out_f.collect()[0].val_asof is None

    def test_asof_tie_col_missing_raises(self, spark):
        left = spark.createDataFrame([(1, 10)], ["k", "t"])
        right = spark.createDataFrame([(1, 5, 1.0)], ["k", "t", "val"])
        with pytest.raises(ValueError, match="right_tie_col"):
            asof_join(left, right, "k", "t", "t", ["val"], right_tie_col="nope")

    def test_asof_reserved_column_collision_raises(self, spark):
        # a left column named _tie used to be matched by unionByName and
        # silently dropped from the output — now refused up front
        left = spark.createDataFrame([(1, 10, "keepme")], ["k", "t", "_tie"])
        right = spark.createDataFrame([(1, 5, 1.0)], ["k", "t", "val"])
        with pytest.raises(ValueError, match="reserves column names"):
            asof_join(left, right, "k", "t", "t", ["val"])
        left2 = spark.createDataFrame([(1, 10)], ["k", "t"])
        right2 = spark.createDataFrame([(1, 5, 1.0, 2.0)], ["k", "t", "val", "_m"])
        with pytest.raises(ValueError, match="reserves column names"):
            asof_join(left2, right2, "k", "t", "t", ["val", "_m"])


class TestTotalOrderSort:
    def test_global_order_across_partitions(self, spark):
        # the TeraValidate property: partition i's max <= partition i+1's min
        df = spark.range(0, 10000).select(
            (F.col("id") * 2654435761 % 100000).alias("key")
        )
        out = total_order_sort(df, ["key"], num_partitions=8)
        parts = out.select(
            F.spark_partition_id().alias("p"), F.col("key")
        ).groupBy("p").agg(F.min("key").alias("mn"), F.max("key").alias("mx"))
        rows = sorted(parts.collect(), key=lambda r: r.p)
        for a, b in zip(rows, rows[1:]):
            assert a.mx <= b.mn
        # count conservation (SortValidator.RecordStatsChecker)
        assert out.count() == 10000


class TestAggregateJob:
    def test_unknown_type_raises(self, spark):
        df = spark.createDataFrame([(1, 2)], ["k", "v"])
        with pytest.raises(ValueError, match="unknown aggregator"):
            aggregate_job(df, ["k"], [("x", "NoSuchAgg", "v")])

    def test_all_types(self, spark):
        df = spark.createDataFrame(
            [("a", 1, "x"), ("a", 3, "y"), ("a", 3, "y"), ("b", 5, "z")],
            ["k", "n", "s"],
        )
        out = {
            r.k: r
            for r in aggregate_job(
                df,
                ["k"],
                [
                    ("s_sum", "LongValueSum", "n"),
                    ("n_max", "LongValueMax", "n"),
                    ("n_min", "LongValueMin", "n"),
                    ("s_max", "StringValueMax", "s"),
                    ("uniq", "UniqValueCount", "s"),
                    ("uniq_cap1", "UniqValueCount", "s", 1),
                ],
            ).collect()
        }
        a = out["a"]
        assert (a.s_sum, a.n_max, a.n_min, a.s_max, a.uniq, a.uniq_cap1) == (7, 3, 1, "y", 2, 1)


def test_approx_sketches_bounded_error(spark, tables):
    """The 100 TB scale path for UniqValueCount / ValueHistogram medians:
    approx_count_distinct (HLL++) and percentile_approx must land within
    their documented error bounds of the exact answers — at scale these
    replace exact distinct counts and exact percentiles (the exact forms
    stay the oracle-checked default at test scale)."""
    from pyspark.sql import functions as F

    ev = spark.table("events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("percentile(value, 0.5)").alias("exact_med"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_med"),
    ).first()
    assert abs(row.approx_users - row.exact_users) <= 0.06 * row.exact_users
    span = ev.agg((F.max("value") - F.min("value")).alias("s")).first().s
    assert abs(row.approx_med - row.exact_med) <= 0.05 * span


def test_cli_lists_all_registry_queries(capsys):
    """ExampleDriver analog: `cli list` names every registered query."""
    from hadoop_common_spark.cli import main
    from hadoop_common_spark.queries import load_all

    assert main(["list"]) == 0
    out = capsys.readouterr().out.split()
    assert set(out) == set(load_all())


def test_cli_rejects_unknown_query(capsys):
    from hadoop_common_spark.cli import main

    assert main(["run", "no_such_query"]) == 2


def test_cli_distcp_and_gridmix(spark, tmp_path, capsys):
    """Utility subcommands: distcp copies (with --update skipping), and
    gridmix replays a one-job trace."""
    import json as _json

    from hadoop_common_spark.cli import main

    src = tmp_path / "s"; src.mkdir()
    (src / "f.bin").write_bytes(b"x" * 100)
    dst = tmp_path / "d"
    assert main(["distcp", str(src), str(dst)]) == 0
    assert "copied 1 files" in capsys.readouterr().out
    assert main(["distcp", str(src), str(dst), "--update"]) == 0
    assert "copied 0 files" in capsys.readouterr().out
    assert (dst / "f.bin").read_bytes() == b"x" * 100

    trace = tmp_path / "t.json"
    trace.write_text(_json.dumps({"jobID": "j1", "totalMaps": 1, "inputBytes": 10_000}))
    assert main(["gridmix", str(trace), "--byte-scale", "0.1"]) == 0
    assert "j1\t10 rows" in capsys.readouterr().out


class TestComputeDemos:
    """BBP + distributed Sudoku kernels (EX/BaileyBorweinPlouffe.java,
    EX/dancing/Sudoku.java) — pure-kernel checks; the Spark fan-out path
    is covered by the registry queries' DuckDB oracles."""

    PUZZLE = (
        "530070000600195000098000060800060003400803001"
        "700020006060000280000419005000080079"
    )
    SOLUTION = (
        "534678912672195348198342567859761423426853791"
        "713924856961537284287419635345286179"
    )

    def test_bbp_first_digits(self):
        from hadoop_common_spark.operators.compute import pi_hex_digit

        assert "".join(pi_hex_digit(d) for d in range(1, 17)) == "243F6A8885A308D3"
        # deep position still exact (float-error check)
        assert pi_hex_digit(1000) is not None

    def test_sudoku_branches_partition_search_space(self):
        from hadoop_common_spark.operators.compute import (
            _sudoku_solve,
            sudoku_branches,
        )

        branches = sudoku_branches(self.PUZZLE, 4)
        assert len(branches) == 30
        assert len(set(branches)) == 30  # disjoint prefixes
        # exactly one subtree contains the unique solution
        sols = []
        for b in branches:
            sols.extend(_sudoku_solve([int(c) for c in b]))
        assert ["".join(map(str, s)) for s in sols] == [self.SOLUTION]

    def test_sudoku_distributed_spark(self, spark):
        from hadoop_common_spark.operators.compute import sudoku_solve_distributed

        out = sudoku_solve_distributed(spark, self.PUZZLE, depth=3)
        assert [r.solution for r in out.collect()] == [self.SOLUTION]


def test_pii_scrub_masks_and_counts(spark):
    """pii_scrub on crafted rows: emails/IPs/phones are masked with typed
    placeholders and counted; clean text passes through untouched."""
    from hadoop_common_spark.operators.textstats import pii_scrub

    rows = [
        (1, "mail bob.smith+x@example.co.uk and 10.0.0.1 then call 555-867-5309"),
        (2, "no pii here at all"),
        (3, "two mails: a@b.io c@d.org ip 192.168.1.100"),
    ]
    out = {r.doc_id: r for r in pii_scrub(
        spark.createDataFrame(rows, ["doc_id", "text"]), "text"
    ).collect()}
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert out[1].scrubbed == "mail <EMAIL> and <IPV4> then call <PHONE>"
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
    assert out[2].scrubbed == "no pii here at all"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (2, 1, 0)
    assert out[3].scrubbed == "two mails: <EMAIL> <EMAIL> ip <IPV4>"


class TestPentomino:
    def test_branch_partition_sums_to_published_count(self):
        """Depth-1 prefixes are disjoint and exhaustive: per-subtree
        Algorithm-X counts sum to the 3x20 board's published 8."""
        from hadoop_common_spark.operators.compute import (
            _algox_count, _deselect, _select, pentomino_branches,
            pentomino_matrix,
        )

        branches = pentomino_branches(20, 3, depth=1)
        assert len(branches) > 1
        X, Y = pentomino_matrix(20, 3)
        total = 0
        for prefix in branches:
            sel = [_select(X, Y, r) for r in prefix]
            total += _algox_count(X, Y)
            for r, c in zip(reversed(prefix), reversed(sel)):
                _deselect(X, Y, r, c)
        assert total == 8
        # the matrix restored cleanly: every column is back
        assert len(X) == 12 + 60

    def test_distributed_count(self, spark):
        from hadoop_common_spark.operators.compute import (
            pentomino_count_distributed,
        )

        out = pentomino_count_distributed(spark, 20, 3, depth=2).collect()
        assert [r.n_solutions for r in out] == [8]


def test_mixture_keep_partition_invariant(spark):
    """The md5-keep decision is a pure row function: kept id sets must
    not change under any repartitioning (the failure mode of rand()-
    based sampling this operator exists to avoid), and the rate is
    actually honored to within sampling noise."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.textstats import mixture_keep

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    keep = mixture_keep(F.lit(0.3), F.col("doc_id"))
    a = {r.doc_id for r in df.filter(keep).collect()}
    b = {r.doc_id for r in df.repartition(13).filter(keep).collect()}
    assert a == b
    assert abs(len(a) / 5000 - 0.3) < 0.03


def test_pagerank_partition_invariant(spark):
    """Fixed-point integer PageRank is bit-identical under repartitioning
    (the reason for integer micro-units; float PageRank is not)."""
    from hadoop_common_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 3)], ["src", "dst"]
    )
    a = {r.node: r.rank for r in pagerank_fixed_point(edges, iters=4).collect()}
    b = {
        r.node: r.rank
        for r in pagerank_fixed_point(edges.repartition(7), iters=4).collect()
    }
    assert a == b
    # rank mass orders sensibly: node 1 has two in-edges incl. the hub
    assert a[1] == max(a.values())


class TestApproxSketches:
    """The approximate tier for 100 TB profiling: HLL distinct counts and
    quantile sketches. No cross-engine oracle (estimates differ by
    implementation) — the contract here is the published error bound."""

    def test_hll_distinct_within_rsd(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(0, 50_000).select((F.col("id") % 9973).alias("k"))
        est = df.agg(F.approx_count_distinct("k", rsd=0.02).alias("e")).collect()[0].e
        assert abs(est - 9973) / 9973 < 0.06  # 3x the configured rsd

    def test_profile_approx_mode_matches_exact_shape(self, spark):
        """approx=True swaps countDistinct for HLL: same schema, same
        null/min/max values, distinct within the default ~5% rsd."""
        from hadoop_common_spark.operators.profile import profile_table

        df = spark.range(0, 20_000).selectExpr(
            "id", "CAST(id % 257 AS STRING) AS s",
            "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 1000 END AS v",
        )
        exact = {r.col_name: r for r in profile_table(df).collect()}
        appr = {r.col_name: r for r in profile_table(df, approx=True).collect()}
        assert set(exact) == set(appr) == {"id", "s", "v"}
        for c in exact:
            assert exact[c].n_nulls == appr[c].n_nulls
            assert exact[c].min_str == appr[c].min_str
            assert exact[c].max_str == appr[c].max_str
            assert abs(appr[c].n_distinct - exact[c].n_distinct) <= 0.15 * exact[c].n_distinct

    def test_hll_union_of_sketches_equals_sketch_of_union(self, spark):
        """The mergeable-distinct tier for hierarchical rollups: merging
        per-slice HLL sketches yields the SAME registers (hence the same
        estimate) as sketching the whole set — the property that lets a
        minute tier carry user-distinct sketches upward to hour/day."""
        from pyspark.sql import functions as F

        df = spark.range(0, 40_000).select((F.col("id") % 4999).alias("u"),
                                           (F.col("id") % 3).alias("slice"))
        per_slice = df.groupBy("slice").agg(
            F.hll_sketch_agg("u").alias("sk")
        )
        merged = per_slice.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        ).collect()[0].est
        whole = df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est")
        ).collect()[0].est
        assert merged == whole
        assert abs(whole - 4999) / 4999 < 0.05

    def test_count_min_frequency_bounds(self, spark):
        """Relational count-min sketch: estimates never undercount, and
        the eps*N overcount bound (eps ~ e/width) holds for all but the
        delta tail; merging two half-sketches equals the full sketch."""
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.cms import cms_build, cms_estimate

        df = spark.range(0, 30_000).select(
            F.when(F.col("id") % 3 == 0, F.lit(7)).otherwise(F.col("id") % 500).alias("k")
        )
        width, depth = 512, 4
        sketch = cms_build(df, "k", width=width, depth=depth)
        probes = df.distinct()
        est = {
            r.k: r.est_count
            for r in cms_estimate(sketch, probes, "k", width=width, depth=depth).collect()
        }
        exact = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
        n = sum(exact.values())
        eps = 2.718 / width
        viol = 0
        for k, c in exact.items():
            assert est[k] >= c  # CMS never undercounts
            if est[k] > c + eps * n:
                viol += 1
        assert viol <= 0.05 * len(exact) + 3

        # mergeability: union of the two half-sketches re-summed == full
        lo = cms_build(df.filter("id % 2 = 0"), "k", width=width, depth=depth)
        hi = cms_build(df.filter("id % 2 = 1"), "k", width=width, depth=depth)
        merged = (
            lo.unionByName(hi)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        a = {(r.row, r.bucket): r.cnt for r in merged.collect()}
        b = {(r.row, r.bucket): r.cnt for r in sketch.collect()}
        assert a == b

    def test_percentile_approx_within_accuracy(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(1, 100_001)
        got = df.agg(
            F.percentile_approx("id", [0.5, 0.9, 0.99], 10_000).alias("p")
        ).collect()[0].p
        for q, v in zip([0.5, 0.9, 0.99], got):
            assert abs(v - q * 100_000) <= 100_000 / 10_000 * 10  # accuracy bound


class TestTextRobustness:
    """Adversarial inputs through the text tier under Spark 4 ANSI mode:
    empty / whitespace-only / single-token / unicode / null text must
    produce rows (or a principled drop), never a runtime error."""

    ROWS = [
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "a b"),
        (5, "héllo wörld héllo wörld héllo wörld"),
        (6, "日本語 テスト 日本語"),
        (7, None),
        (8, "x " * 500),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, ["doc_id", "text"])

    def test_token_and_quality_total(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.textstats import (
            quality_score, token_count,
        )

        df = self._df(spark).filter(F.col("text").isNotNull())
        out = df.select("doc_id", token_count("text").alias("n"),
                        quality_score("text").alias("q")).collect()
        got = {r.doc_id: r.n for r in out}
        assert got[1] == 0 and got[2] == 0 and got[3] == 1 and got[8] == 500
        assert all(r.q is not None and 0.0 <= r.q <= 1.0 for r in out)

    def test_repetition_stats_drops_short_docs_only(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.textstats import repetition_stats

        df = self._df(spark).filter(F.col("text").isNotNull())
        out = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
        # <2 real tokens (incl. whitespace-only) -> no 2-grams -> excluded
        assert set(out) == {4, 5, 6, 8}
        assert out[8].top_2gram_frac == 1.0  # "x x" repeated
        assert abs(out[8].distinct_ratio - 1 / 500) < 1e-12

    def test_pii_scrub_and_fingerprint_handle_edges(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.textstats import (
            fingerprint, pii_scrub,
        )

        df = self._df(spark).filter(F.col("text").isNotNull())
        out = pii_scrub(df, "text").select(
            "doc_id", "scrubbed", fingerprint("text").alias("fp")
        ).collect()
        assert len(out) == 7
        assert all(r.fp is not None for r in out)

    def test_lang_id_emits_every_row(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.textstats import lang_id

        df = self._df(spark).filter(F.col("text").isNotNull())
        out = lang_id(df, "text")
        assert out.count() == 7

    def test_shingles_short_docs_empty_not_error(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.dedup import word_shingles

        df = self._df(spark).filter(F.col("text").isNotNull())
        out = df.select("doc_id", F.size(word_shingles("text", 3)).alias("n")).collect()
        got = {r.doc_id: r.n for r in out}
        assert got[3] == 0 and got[4] == 0  # fewer tokens than the shingle width
        # shingles are a DISTINCT set (Jaccard semantics): "x x ... x "
        # collapses to the repeated shingle plus one trailing-empty artifact
        assert got[8] == 2


def test_zorder_bounds_both_dimensions(spark):
    """Chunking a z-ordered layout bounds the min/max span of BOTH
    interleaved columns per chunk (the file-skipping property); a
    single-key sort bounds only its own key. Compare median per-chunk
    user-span: z-order must beat time-sort by a wide margin."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.zorder import zorder_key

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("user_id"),
        (F.col("id") * 37 % 4096).alias("e_ts"),
        F.col("id").alias("event_id"),
    )
    z = zorder_key(df, ["user_id", "e_ts"], bits=12)
    n_chunks = 16

    def median_user_span(ordered_col):
        chunked = z.withColumn(
            "chunk", F.ntile(n_chunks).over(__import__("pyspark.sql", fromlist=["Window"]).Window.orderBy(ordered_col))
        )
        spans = (
            chunked.groupBy("chunk")
            .agg((F.max("user_id") - F.min("user_id")).alias("span"))
            .collect()
        )
        vals = sorted(r.span for r in spans)
        return vals[len(vals) // 2]

    z_span = median_user_span(F.col("zkey"))
    t_span = median_user_span(F.col("e_ts"))
    assert z_span * 2 <= t_span, (z_span, t_span)


class TestReviewFixes:
    """Regression pins for the round-2 self-review findings."""

    def test_zorder_rejects_unrepresentable_width(self, spark):
        import pytest as _pytest

        from hadoop_common_spark.operators.zorder import zorder_key

        df = spark.range(4).selectExpr("id a", "id b", "id c", "id d")
        with _pytest.raises(ValueError, match="> 62"):
            zorder_key(df, ["a", "b", "c", "d"], bits=16)

    def test_sudoku_contradictory_puzzle_empty(self, spark):
        from hadoop_common_spark.operators.compute import sudoku_solve_distributed

        # first empty cell (index 9) sees {4..9} in its row, 1 in its
        # column, {1,2,3} in its box -> zero candidates -> empty fan-out
        bad = "123456789" + "045678900" + "0" * 63
        assert sudoku_solve_distributed(spark, bad, depth=2).count() == 0

    def test_pii_counts_match_placeholders_on_overlap(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.textstats import pii_scrub

        rows = [(1, "call 555-867-5309@mail.com now")]
        r = pii_scrub(spark.createDataFrame(rows, ["doc_id", "text"]), "text").collect()[0]
        # the whole token is ONE email; the phone shape inside it is
        # already masked when phones are counted
        assert (r.n_email, r.n_phone) == (1, 0)
        assert r.scrubbed.count("<EMAIL>") == r.n_email
        assert r.scrubbed.count("<PHONE>") == r.n_phone

    def test_profile_table_odd_column_names(self, spark):
        from hadoop_common_spark.operators.profile import profile_table

        df = spark.range(3).selectExpr(
            "id AS `user id`", "id AS `a.b`", "id AS `it's`"
        )
        out = {r.col_name for r in profile_table(df).collect()}
        assert out == {"user id", "a.b", "it's"}

    def test_typed_bytes_encode_error_surfaces(self, spark):
        import pytest as _pytest

        from pyspark.sql import types as T

        from hadoop_common_spark.operators.typedbytes import pipe_typed_bytes

        # DecimalType is not tb-encodable: must raise, not hang
        df = spark.range(2).selectExpr("CAST(id AS DECIMAL(10,2)) d")
        schema = T.StructType([T.StructField("d", T.StringType())])
        with _pytest.raises(Exception, match="encode|exited|Py4J"):
            pipe_typed_bytes(df, ["cat"], schema).collect()

    def test_distcp_recopy_truncates_shrunk_file(self, spark, tmp_path):
        from hadoop_common_spark.sources.readers import distcp

        src = tmp_path / "src"; dst = tmp_path / "dst"
        src.mkdir()
        f = src / "data#1.bin"   # '#' also pins the urlparse fix
        f.write_bytes(b"A" * 1000)
        distcp(spark, str(src), str(dst))
        f.write_bytes(b"B" * 300)
        distcp(spark, str(src), str(dst))
        assert (dst / "data#1.bin").read_bytes() == b"B" * 300


def test_segmented_running_sum_equals_one_window(spark, tables):
    """The two-pass segmented prefix sum must equal the plain one-window
    running total for an exact sum type, on skewed keys, at any segment
    count (including n_segments=1 and n >> distinct order values, which
    exercises empty/singleton segments and the first-segment zero
    offset)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import segmented_running_sum

    ev = (
        spark.table("events")
        .select(
            # skew: fold most rows onto one user
            F.when(F.pmod(F.col("event_id"), F.lit(4)) < 3, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("user_id"),
            "event_id",
            F.col("value").cast("decimal(20,6)").alias("v"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = sorted(
        (r.user_id, r.event_id, r.run)
        for r in ev.withColumn("run", F.sum("v").over(w)).collect()
    )
    for n_seg in (1, 7, 64, 10**6, None):  # None = count-derived default
        got = sorted(
            (r.user_id, r.event_id, r.running)
            for r in segmented_running_sum(
                ev, ["user_id"], "event_id", "v", n_segments=n_seg
            ).collect()
        )
        assert got == want, f"n_segments={n_seg}"

    # empty input: no rows, running column present
    empty = ev.filter(F.lit(False))
    out = segmented_running_sum(empty, ["user_id"], "event_id", "v")
    assert out.count() == 0 and "running" in out.columns


def test_segmented_running_sum_tiebreak_equals_one_window(spark, tables):
    """With heavy ties in the order column (7 distinct values over 10k
    rows) and a tiebreak making the order total, the segmented form must
    equal the one-window (order, tiebreak) running total at any segment
    count — equal order values can never straddle a segment (the segment
    is a function of the order value), the shape corpus_pack_sequences
    relies on for its (doc_id, chunk_index) packing order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import segmented_running_sum

    ev = spark.table("events").select(
        "user_id",
        F.pmod(F.col("event_id"), F.lit(7)).alias("o"),
        "event_id",
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("o", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = sorted(
        (r.user_id, r.event_id, r.run)
        for r in ev.withColumn("run", F.sum("v").over(w)).collect()
    )
    for n_seg in (1, 3, 64):
        got = sorted(
            (r.user_id, r.event_id, r.running)
            for r in segmented_running_sum(
                ev, ["user_id"], "o", "v",
                n_segments=n_seg, tiebreak_cols=["event_id"],
            ).collect()
        )
        assert got == want, f"n_segments={n_seg}"


def test_derived_n_segments_bounds_per_segment_state(spark):
    """VERDICT r9 #3: the segmented scans' per-(key, segment) fold
    state must be bounded BY CONSTRUCTION, not by a fixed knob. With
    the count-derived default (max(64, sqrt(N))), a 90%-hot key's
    largest segment holds O(sqrt N) rows — measured here at a 10x size
    step (the fixture shape of the bench skew tier, miniaturized):
    the max per-(key, segment) row count must stay within a constant
    of sqrt(N) at BOTH sizes, i.e. grow ~sqrt(10)x, not 10x, across
    the step — while a fixed n_segments=64 would grow it linearly."""
    import math

    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import (
        _segment_expr,
        derive_n_segments,
    )

    max_per_seg = {}
    for n in (40_000, 400_000):
        df = spark.range(n).select(
            # 90% of rows on user 0 — the hot-key regime
            F.when(F.pmod("id", F.lit(10)) < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("user_id"),
            F.col("id").alias("event_id"),
        )
        nseg = derive_n_segments(n)
        assert nseg == max(64, math.isqrt(n))
        width = max(n // nseg, 1)  # lo=0, hi=n-1 for a dense range
        occ = (
            df.withColumn("_seg", _segment_expr("event_id", 0, width))
            .groupBy("user_id", "_seg")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("m"))
            .collect()[0]
        )
        max_per_seg[n] = occ.m
        # per-(key, segment) state is O(sqrt N): the hot key holds ~90%
        # of each segment's ~N/sqrt(N) rows
        assert occ.m <= 2 * math.isqrt(n), (n, occ.m)
    # sublinear growth across the 10x step: ~sqrt(10) (~3.2), never ~10
    ratio = max_per_seg[400_000] / max_per_seg[40_000]
    assert ratio < 5, max_per_seg


def test_derived_n_segments_clustered_order_key(spark):
    """VERDICT r10 #4: ``derive_n_segments``' O(sqrt N) per-segment bound
    assumes order values spread ~uniformly over their range
    (operators/skew.py documents it). This fixture exercises the
    documented FAILURE of that assumption — 95% of rows' order values
    bunched into the first 1% of the range, the TestTotalOrderPartitioner
    pathological-splits discipline (JCT/mapreduce/lib/partition/
    TestTotalOrderPartitioner.java) applied to segment sizing — and pins
    three things:

    1. correctness NEVER degrades: the segmented running sum equals the
       one-window form in the clustered regime, derived and overridden
       alike (segmentation only repartitions the fold);
    2. the degradation is real and bounded by cluster density: the
       derived default's hottest (key, segment) holds ~density x sqrt(N)
       rows — loudly past the uniform 2*sqrt(N) bound, never past the
       cluster's own row count (the regime a caller detects from the
       same one-row agg's min/max/count against any quantile hint);
    3. the documented escape hatch works: an explicit ``n_segments``
       scaled by 1/cluster_span (here 100x) restores the O(sqrt N)
       per-segment bound at the documented price of a 100x-sqrt(N)-entry
       per-key combine array — still O(sqrt N) state per TASK."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import (
        _segment_expr,
        derive_n_segments,
        segmented_running_sum,
    )

    n = 100_000
    # one hot key; 95% of order values dense in [0, n) — the first ~1%
    # of the [0, 100n) range — the 5% remainder spread to 100x
    df = spark.range(n).select(
        F.lit(0).alias("user_id"),
        F.when(F.pmod("id", F.lit(20)) != 0, F.col("id"))
        .otherwise(F.col("id") * 100)
        .alias("event_id"),
        F.pmod("id", F.lit(7)).alias("v"),
    )
    lo, hi = 0, (n - 20) * 100
    nseg_derived = derive_n_segments(n)
    assert nseg_derived == math.isqrt(n)

    def max_occupancy(nseg: int) -> int:
        width = max((hi - lo + 1) // nseg, 1)
        return (
            df.withColumn("_seg", _segment_expr("event_id", lo, width))
            .groupBy("user_id", "_seg")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("m"))
            .collect()[0]
            .m
        )

    # (2) derived default degrades: the cluster's ~0.95N rows land in
    # ~nseg/100 segments -> hottest segment ~30x sqrt(N), far past the
    # uniform 2x sqrt(N) bound (LOUD) but bounded by the cluster itself
    occ_derived = max_occupancy(nseg_derived)
    assert occ_derived > 10 * math.isqrt(n), occ_derived  # loud, not masked
    assert occ_derived <= int(0.95 * n) + 1, occ_derived  # density-bounded
    # (3) the documented override: scale segments by the inverse cluster
    # span (range/100 holds the mass -> 100x segments) -> O(sqrt N) again
    occ_override = max_occupancy(100 * nseg_derived)
    assert occ_override <= 2 * math.isqrt(n), occ_override

    # (1) exactness is segmentation-independent in the clustered regime
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    expected = sorted(
        (r.event_id, r.running)
        for r in df.withColumn("running", F.sum("v").over(w)).collect()
    )
    for nseg in (None, 100 * nseg_derived):
        got = sorted(
            (r.event_id, r.running)
            for r in segmented_running_sum(
                df, ["user_id"], "event_id", "v", n_segments=nseg
            ).collect()
        )
        assert got == expected, f"n_segments={nseg}"


def test_grouped_quantile_select_equals_window_rank(spark, tables):
    """The histogram-selection quantile picker must equal the plain
    per-group window form (max(when(row_number() == ceil(q*n), value)))
    at any block count — including n_blocks=1 (pure per-group sort
    fallback) — with ties, an all-NULL-value group, a constant-value
    group, and q hitting the first and last ranks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import grouped_quantile_select

    ev = spark.table("events").select(
        "event_type",
        # ties: quantize to .5 steps so many rows share a value
        (F.floor(F.col("value") * 2) / 2).alias("value"),
        "event_id",
    )
    # one group entirely NULL values, one group constant-valued
    extra = spark.range(10).select(
        F.when(F.col("id") < 5, F.lit("nullgrp")).otherwise(F.lit("constgrp")).alias("event_type"),
        F.when(F.col("id") < 5, F.lit(None)).otherwise(F.lit(7.0)).cast("double").alias("value"),
        (F.col("id") + 10_000_000).alias("event_id"),
    )
    ev = ev.unionByName(extra)

    qs = {"p01": 0.01, "p50": 0.5, "p90": 0.9, "p100": 1.0}
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = ev.withColumn("vr", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    want_df = r.groupBy("event_type").agg(
        *[
            F.max(
                F.when(
                    F.col("vr") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                    F.col("value"),
                )
            ).alias(name)
            for name, q in qs.items()
        ],
        F.max("n").cast("bigint").alias("n"),
    )
    want = sorted(tuple(x) for x in want_df.collect())
    for n_blocks in (1, 7, 4096):
        got = sorted(
            tuple(x)
            for x in grouped_quantile_select(
                ev, ["event_type"], "value", ["event_id"], qs, n_blocks=n_blocks
            ).collect()
        )
        assert got == want, f"n_blocks={n_blocks}"

    # empty input: no rows, all output columns present
    out = grouped_quantile_select(
        ev.filter(F.lit(False)), ["event_type"], "value", ["event_id"], qs
    )
    assert out.count() == 0
    assert set(out.columns) == {"event_type", "n", *qs}


def test_ntile_deciles_rank_arithmetic_equals_window(spark, tables):
    """The histogram-selected decile banding must equal the literal
    ntile(10)+percent_rank window form bit-for-bit — including heavy
    value ties (ntile splits ties across tiles by row position), a
    group smaller than 10 rows (empty tail deciles absent), and a
    single-row group (percent_rank == 0.0)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.queries import load_all

    registry = load_all()

    # probe corpus: full events schema with quantized values (ties), a
    # 3-row group, and a 1-row group, written as its own sf_dir so the
    # registry fn runs unmodified against it
    import os
    import shutil
    import tempfile

    base = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{base}/events.parquet").withColumn(
        "value", F.floor(F.col("value") * 2) / 2
    )
    extra = spark.range(4).select(
        (F.col("id") + 20_000_000).alias("event_id"),
        F.current_timestamp().alias("ts"),
        F.col("id").alias("user_id"),
        F.when(F.col("id") < 3, F.lit("tiny")).otherwise(F.lit("single")).alias("event_type"),
        (F.col("id") * 1.5).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    ev = ev.select(*extra.columns).unionByName(extra)

    d = tempfile.mkdtemp(prefix="hcs_ntile_probe_")
    try:
        ev.write.parquet(f"{d}/events.parquet")
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings",
        ):
            os.symlink(f"{base}/{t}.parquet", f"{d}/{t}.parquet")

        w = Window.partitionBy("event_type").orderBy(
            F.asc("value"), F.asc("event_id")
        )
        tiled = spark.read.parquet(f"{d}/events.parquet").select(
            "event_type",
            "value",
            F.ntile(10).over(w).alias("decile"),
            F.percent_rank().over(w).alias("pct_rank"),
        )
        want = sorted(
            tuple(r)
            for r in tiled.groupBy("event_type", "decile")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                F.min("pct_rank").alias("min_pct_rank"),
                F.max("pct_rank").alias("max_pct_rank"),
            )
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in registry["events_value_ntile_deciles"].fn(spark, d).collect()
        )
        assert got == want
    finally:
        # the registry fn re-pointed the session's temp views at the
        # probe dir — restore them BEFORE deleting it or every later
        # test in this session reads a vanished path
        from hadoop_common_spark.tables import register_views
        from tests.conftest import SF_DIR

        register_views(spark, SF_DIR, force=True)
        shutil.rmtree(d, ignore_errors=True)


def test_percentiles_interpolation_equals_builtin(spark, tables):
    """The histogram-selected interpolated percentiles must equal
    Spark's builtin `percentile` aggregate bit-for-bit — same
    pos = p*(n-1) bracketing, same (hi-pos)*v_lo + (pos-lo)*v_hi term
    order — with heavy ties, a single-row group, and an all-NULL-value
    group (builtin skips nulls; count(*) still counts them)."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import (
        grouped_percentiles_interpolated,
    )

    ev = spark.table("events").select(
        "event_type",
        (F.floor(F.col("value") * 2) / 2).alias("value"),
        "event_id",
    )
    extra = spark.range(6).select(
        F.when(F.col("id") < 5, F.lit("nullgrp")).otherwise(F.lit("single")).alias("event_type"),
        F.when(F.col("id") < 5, F.lit(None)).otherwise(F.lit(3.25)).cast("double").alias("value"),
        (F.col("id") + 30_000_000).alias("event_id"),
    )
    ev = ev.unionByName(extra)

    PS = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    want = sorted(
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[F.expr(f"percentile(value, {p}D)").alias(tag) for tag, p in PS.items()],
        )
        .collect()
    )
    pct = grouped_percentiles_interpolated(
        ev, ["event_type"], "value", ["event_id"], PS
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    got = sorted(
        tuple(r)
        for r in counts.join(pct, "event_type", "left")
        .select("event_type", "n_events", *PS)
        .collect()
    )
    assert got == want


def test_segmented_ewma_matches_sequential_fold(spark, tables):
    """The parallel-scan EWMA must match the sequential per-key array
    fold (the registry events_user_ewma form) to ~1e-12 relative —
    mathematically identical, floating-point reassociated — on skewed
    keys, across segment counts including 1 (pure sequential) and >>
    distinct orders (one element per segment)."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import segmented_ewma

    ev = spark.table("events").select(
        F.when(F.pmod(F.col("event_id"), F.lit(4)) < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_id",
        "value",
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("event_id"), F.col("value")))),
        lambda s: s["value"].cast("double"),
    )
    seq = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * 0.75 + x * 0.25,
    )
    want = {
        r.user_id: (r.n, r.e)
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), seq.alias("e")
        ).collect()
    }
    for n_seg in (1, 7, 64, 10**6):
        got = {
            r.user_id: (r.n_events, r.ewma)
            for r in segmented_ewma(
                ev, ["user_id"], "event_id", "value", n_segments=n_seg
            ).collect()
        }
        assert got.keys() == want.keys(), f"n_segments={n_seg}"
        for u, (n, e) in want.items():
            gn, ge = got[u]
            assert gn == n, f"n_segments={n_seg} user={u}"
            assert abs(ge - e) <= 1e-12 * max(1.0, abs(e)), (
                f"n_segments={n_seg} user={u}: {ge} vs {e}"
            )

    # empty input
    empty = ev.filter(F.lit(False))
    out = segmented_ewma(empty, ["user_id"], "event_id", "value")
    assert out.count() == 0 and "ewma" in out.columns


def test_two_phase_top_k_equals_one_phase(spark, tables):
    """The salted two-phase grouped top-k must equal the single-window
    form for a tie-free order, at any salt count."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase
    from hadoop_common_spark.operators.sort import top_k_per_group

    ev = spark.table("events").select("event_type", "event_id", "value")
    order = [F.col("value").desc(), F.col("event_id").asc()]
    one = top_k_per_group(ev, ["event_type"], 5, order)
    for n_salts in (1, 4, 16):
        two = top_k_per_group_two_phase(ev, ["event_type"], 5, order, n_salts=n_salts)
        a = sorted(map(tuple, one.collect()))
        b = sorted(map(tuple, two.collect()))
        assert a == b, f"n_salts={n_salts}"


class TestNewOperatorEdges:
    """Adversarial-input behavior of the round-2 operators."""

    def test_global_row_number_empty_and_single_block(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.sort import global_row_number

        empty = spark.range(0).select(F.col("id"))
        out = global_row_number(empty, [F.col("id")], F.lit(0), pos_col="pos")
        assert out.count() == 0

        # constant block column: degenerates to one window, still correct
        df = spark.range(10, 0, -1).select(F.col("id"))
        out = global_row_number(df, [F.col("id")], F.lit(0), pos_col="pos")
        got = {r.id: r.pos for r in out.collect()}
        assert got == {i: i for i in range(1, 11)}

    def test_global_row_number_null_block_keeps_rows(self, spark):
        # a NULL block key (e.g. NULL score under floor(score*16)) must
        # keep its rows — a plain equi-join on _blk silently dropped them
        # and shifted every later position
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.sort import global_row_number

        df = spark.createDataFrame(
            [(1, 0), (2, None), (3, 0), (4, 1), (5, None)], ["id", "blk"]
        )
        out = global_row_number(df, [F.col("id")], F.col("blk"), pos_col="pos")
        rows = out.collect()
        assert len(rows) == 5  # nothing dropped
        assert sorted(r.pos for r in rows) == [1, 2, 3, 4, 5]
        # NULL block sorts first (Spark asc-nulls-first), then blk 0, 1
        by_id = {r.id: r.pos for r in rows}
        assert {by_id[2], by_id[5]} == {1, 2}
        assert {by_id[1], by_id[3]} == {3, 4} and by_id[4] == 5

    def test_cms_empty_input_estimates_zero(self, spark):
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.cms import cms_build, cms_estimate

        empty = spark.range(0).select(F.col("id").alias("k"))
        sketch = cms_build(empty, "k", width=64, depth=3)
        assert sketch.count() == 0
        probes = spark.range(5).select(F.col("id").alias("k"))
        est = cms_estimate(sketch, probes, "k", width=64, depth=3)
        assert {r.est_count for r in est.collect()} == {0}

    def test_asof_forward_no_match_and_tolerance_nulls(self, spark):
        from hadoop_common_spark.operators.joins import asof_join

        left = spark.createDataFrame(
            [(1, 100), (1, 500), (2, 100)], ["k", "t"]
        )
        right = spark.createDataFrame(
            [(1, 150, "a"), (1, 160, "b")], ["k", "t", "val"]
        )
        out = asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["val"], direction="forward",
            tolerance=75, right_tie_col="val",
        )
        got = {(r.k, r.t): r.val_asof for r in out.collect()}
        # k=1 t=100: nearest following right is t=150 (within 75) -> 'a'
        # k=1 t=500: no following right -> null
        # k=2: no rights at all -> null
        assert got == {(1, 100): "a", (1, 500): None, (2, 100): None}

        # same data, tolerance 10: the t=150 match is beyond 10 -> null
        tight = asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["val"], direction="forward",
            tolerance=10, right_tie_col="val",
        )
        got2 = {(r.k, r.t): r.val_asof for r in tight.collect()}
        assert got2 == {(1, 100): None, (1, 500): None, (2, 100): None}

    def test_asof_backward_tie_prefers_max_tie_forward_min(self, spark):
        from hadoop_common_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 100)], ["k", "t"])
        right = spark.createDataFrame(
            [(1, 100, "x"), (1, 100, "y")], ["k", "t", "val"]
        )
        back = asof_join(
            left, right, "k", "t", "t", ["val"],
            direction="backward", right_tie_col="val",
        ).collect()[0].val_asof
        fwd = asof_join(
            left, right, "k", "t", "t", ["val"],
            direction="forward", right_tie_col="val",
        ).collect()[0].val_asof
        assert back == "y" and fwd == "x"

    def test_pq_rejects_nothing_but_handles_trailing_dims(self, spark):
        """dim not divisible by m*dsub: trailing dims are simply not
        quantized (slice is bounds-safe) — encode still yields m codes."""
        from pyspark.sql import functions as F

        from hadoop_common_spark.operators.pq import pq_codebooks, pq_encode

        vecs = spark.range(8).select(
            F.col("id").alias("vec_id"),
            F.expr("transform(sequence(1, 10), i -> CAST(i * (id + 1) AS FLOAT))").alias(
                "embedding"
            ),
        )
        cb = pq_codebooks(vecs, "vec_id", "embedding", m=3, dsub=3, ksub=4, iters=0)
        codes = pq_encode(vecs, cb, "vec_id", "embedding", m=3, dsub=3)
        rows = codes.collect()
        assert len(rows) == 8
        assert all(len(r.codes) == 3 for r in rows)


def test_asof_null_valued_match_stays_matched(spark):
    """Review regression: a right row whose VALUE is null must still be
    THE match (ts and all values come from one row) — per-column
    ignorenulls picks would leak a farther row's value past the
    tolerance."""
    from hadoop_common_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 150, None, "p1"), (1, 5000, 9.0, "p2")],
        "k long, t long, val double, pid string",
    )
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t",
        right_value_cols=["val", "pid"], direction="forward",
        tolerance=3600, right_tie_col="pid",
    ).collect()[0]
    assert out.pid_asof == "p1" and out.val_asof is None


def test_range_self_join_binned_equals_theta(spark):
    """The binned range self-join must equal the naive theta form on any
    input — including pairs whose bins differ by one (the boundary the
    3-bin probe exists for) and exact-width deltas (<= is inclusive)."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.joins import range_self_join_binned

    rows = [
        (1, "u", 0.0), (2, "u", 9.9), (3, "u", 10.0), (4, "u", 25.0),
        (5, "u", 30.1), (6, "v", 10.0), (7, "v", 100.0), (8, "v", 110.0),
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    got = {
        (r.id_a, r.id_b)
        for r in range_self_join_binned(
            df, "id", "v", width=10.0, block_cols=["grp"]
        ).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    naive = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.v") - F.col("b.v")) <= 10.0),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .collect()
    }
    assert got == naive
    assert (7, 8) in got        # exact-width delta is inclusive
    assert (2, 3) in got        # bins 0 and 1 — cross-bin neighbor found
    assert not any({6, 7} == {x, y} for x, y in got)  # 90 apart: excluded


def test_grouped_rank_select_shuffle_join_path_equals_broadcast(spark, tables):
    """The broadcast_targets opt-out (for high-cardinality group keys
    whose groups x targets frame would exceed the broadcast limit) must
    be a pure plan-freedom change — it removes the FORCED broadcast
    hint and lets Catalyst/AQE choose the join strategy from its own
    size estimates — with output identical to the default path."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import grouped_rank_select

    ev = spark.table("events").select(
        "event_type",
        (F.floor(F.col("value") * 2) / 2).alias("value"),
        "event_id",
    )
    qs = {"p25": 0.25, "p50": 0.5, "p99": 0.99}
    ranks = {
        name: (lambda n, _q=q: F.ceil(F.lit(_q) * n).cast("bigint"))
        for name, q in qs.items()
    }
    bcast = grouped_rank_select(
        ev, ["event_type"], "value", ["event_id"], ranks, broadcast_targets=True
    )
    shuf = grouped_rank_select(
        ev, ["event_type"], "value", ["event_id"], ranks, broadcast_targets=False
    )
    assert sorted(tuple(r) for r in bcast.collect()) == sorted(
        tuple(r) for r in shuf.collect()
    )
