"""Dump formatted physical plans for representative queries → PLANS.md.

Evidence artifact for the 100 TB contract: for each representative query
the file records `.explain("formatted")` output so a reviewer can see —
without running anything — that filters are pushed to scans, columns are
pruned, dimensions broadcast, top-k avoids global sorts, and Python
stays out of the hot path. Regenerate after plan-affecting changes:

    python tools/dump_plans.py [sf_dir]

Given query names after ``sf_dir``, it prints ``.explain("formatted")``
for just those queries to stdout and writes no PLANS.md — the form for a
before/after plan diff of a change:

    python tools/dump_plans.py <sf_dir> dedup_ngram_jaccard > after.txt
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

# query name -> what the plan demonstrates
REPRESENTATIVE = {
    "flagship_revenue_by_nation": (
        "4 BroadcastHashJoins (all dims map-side), date filter pushed to the "
        "orders scan, partial+final HashAggregate, single shuffle on the group key"
    ),
    "pricing_summary": (
        "column-pruned lineitem scan (4 of 11 columns read), pushed date filter, "
        "one-pass partial/final aggregation inside WholeStageCodegen"
    ),
    "large_volume_orders": (
        "HAVING prunes the fact before any join; top-20 is TakeOrderedAndProject "
        "(heap, no global sort)"
    ),
    "disjunctive_bracket_revenue": (
        "per-side residuals of the OR-of-conjunctions extracted and pushed to "
        "BOTH scans (brand/size to part, quantity ranges to lineitem)"
    ),
    "inactive_rich_customers": (
        "NOT EXISTS as broadcast anti join on the date-pruned orders scan; "
        "scalar subquery computed once"
    ),
    "secondary_sort_window": (
        "secondary sort = one exchange on the group key + in-partition sort; "
        "no per-group materialization"
    ),
    "dedup_shared_span_pairs_capped": (
        "r8 single-lineage capped span detection: ONE Exchange on "
        "(blk, gram) feeds the df-cap window, both per-doc/per-gram "
        "collects and the chunk-pair double explode — no self-join, "
        "nothing computed twice; runs-detection windows shuffle only "
        "pair-diagonal keys"
    ),
    "stream_topk_per_user_batch": (
        "batch twin of the ListState top-k maintainer: WindowGroupLimit "
        "(map-side partial top-k) under a single Exchange on user_id — "
        "the rank filter never shuffles more than k rows per key per task"
    ),
    "stream_session_expiry_batch": (
        "batch twin of the timer-driven session-expiry maintainer: one "
        "Exchange on user_id shared by the lag/new-session/running-sum "
        "windows and the final session aggregate"
    ),
    "dedup_minhash_lsh": (
        "MinHash signatures in one narrow pass (no shuffle until the band "
        "bucket join); band explosion bounds the candidate pair set"
    ),
    "similarity_ivf_topk": (
        "centroids broadcast for assignment; probe side broadcast for the "
        "candidate join — index side never shuffles"
    ),
    "corpus_decontamination": (
        "benchmark shingle set broadcast for the semi join; corpus side is one "
        "narrow explode, never shuffled"
    ),
    "corpus_token_shards": (
        "shard packing windows PARTITION BY (lang, doc_id-range segment) via "
        "the segmented parallel scan (r8) — not per-lang alone (a hot "
        "language funnels) and never a global ORDER BY; the per-(lang, seg) "
        "offset table rides a broadcast join"
    ),
    "window_user_analytics": (
        "two window orderings share ONE exchange on user_id (two in-partition "
        "sorts, no second shuffle)"
    ),
    "pivot_status_priority": (
        "explicit pivot values keep the plan one aggregation pass — no "
        "distinct-discovery job before the pivot"
    ),
    "view_click_attribution": (
        "interval self-join splits into two filtered scans (event_type pushed, "
        "4 of 6 columns read) joined on the user_id equi key with the range "
        "predicate as a post-join filter — no nested-loop join"
    ),
    "corpus_mixture_sample": (
        "deterministic sampling is a narrow map: md5-keep computed inline at "
        "scan speed, ONE partial-agg exchange, 3-column pruned read"
    ),
    "corpus_semantic_dedup": (
        "candidate pairs via equi join on the LSH bucket (blocked, never "
        "all-pairs); norms computed once per row before the join"
    ),
    "corpus_profile": (
        "all columns profiled in ONE scan (single aggregate, no per-column "
        "jobs); long format via stack on the 1-row aggregate"
    ),
    "graph_pagerank": (
        "each iteration is join-on-src + agg-on-dst (the two canonical "
        "PageRank shuffles); integer ranks keep the result partition-invariant"
    ),
    "similarity_pq_topk": (
        "codebooks broadcast twice (encode + distance tables); per-candidate "
        "cost is m table lookups; the only data shuffle is the final "
        "per-query top-k window"
    ),
    "corpus_global_shuffle": (
        "global enumeration without a global funnel: window PARTITION BY the "
        "hash-prefix block, per-block offsets broadcast back — the single-"
        "partition exchange touches only the 256-row counts aggregate"
    ),
    "events_multires_rollup": (
        "three resolutions in ONE events scan and ONE hash exchange: the 3x "
        "explode collapses in the map-side partial aggregate"
    ),
    "events_rolling_1h_stats": (
        "trailing RANGE frame = one exchange on user_id + in-partition sort; "
        "decimal sum stays inside the window stage"
    ),
    "text_token_cms_topk": (
        "sketch build shuffles at most depth*width cells regardless of input "
        "size; probe join broadcasts the sketch; top-20 is TakeOrderedAndProject"
    ),
    "dedup_embedding_cosine": (
        "candidate self-join keyed on (label, band-key) — banded sign-LSH "
        "blocking, never label-only all-pairs; Arrow-batched projection and "
        "pair-dot kernels; verify joins broadcast the normed vector side"
    ),
    "text_bm25_topk": (
        "one conditional aggregation for dl + per-term tfs, corpus stats "
        "reduced to a broadcast single row, TakeOrderedAndProject top-10 "
        "(no global sort); rank window runs on 10 surviving rows"
    ),
    "corpus_bigram_familiarity": (
        "bigram/prefix counts as partial-agg hash aggregations; occurrence "
        "joins are equi hash joins on the bigram/prefix keys — linear in "
        "tokens, no all-pairs"
    ),
    "graph_triangle_count": (
        "degree-ordered wedge pipeline: three equi-joins on node keys, wedge "
        "fan-out bounded by the orientation's out-degree — no hub blow-up, "
        "no cartesian"
    ),
    "corpus_split_leakage": (
        "banded MinHash candidate join (never all-pairs) + split-assignment "
        "joins; the audit reuses the pipeline's shared split definition"
    ),
    "embedding_kmeans_step": (
        "Lloyd assignment is MAP-SIDE: K=8 seeds ride one broadcast row, "
        "argmin is array_min over a per-row struct array (no window, no "
        "per-centroid shuffle); the only exchanges are the two partial-agg "
        "groupBys over (cluster) and (cluster, dim)"
    ),
    "text_quality_linear_score": (
        "hash-trick classifier inference is ONE projected scan — zero "
        "exchanges, zero joins, no vocabulary table anywhere; the whole "
        "model folds inside WholeStageCodegen"
    ),
    "events_cdc_merge": (
        "latest-op-per-key is a partial_max struct aggregate (no window "
        "sort); apply is one equi full-outer join — the snapshot rewrites "
        "exactly once per merge"
    ),
    "corpus_version_diff": (
        "two-snapshot diff ships only (id, md5 digest) through the one "
        "full-outer hash join; text never leaves the map side"
    ),
    "entity_link_fuzzy_ids": (
        "SymSpell blocking: both sides explode len+1 deletion keys map-side, "
        "the candidate join is a hash SortMergeJoin/ShuffledHashJoin on the "
        "key (NO BroadcastNestedLoopJoin), distinct prunes duplicate "
        "collisions before the exact levenshtein verify"
    ),
    "supplier_balance_band_match": (
        "point-in-interval as an equi-join: intervals explode to covered "
        "bins, points keep one bin, hash join on (nation, bin) + exact "
        "BETWEEN filter — the bare theta predicate would plan a nested loop"
    ),
    "supplier_balance_wide_band_match": (
        "the interval join's fan-out-heavy width regime (r11): ~21 bins "
        "per interval via Generate(sequence), SAME single hash-join shape "
        "on (nation, bin) — fan-out trades interval duplication for "
        "bounded per-bin occupancy; no dedup node exists because a pair "
        "matches only on the point's own bin"
    ),
    "embedding_kcenter_seeds": (
        "k=4 farthest-first rounds: each a full scan + partial_max "
        "struct-aggregate (no Window, no Sort anywhere); every new seed "
        "rides a one-row broadcast; the running LEAST(d2, d2_new) keeps "
        "rounds from re-touching earlier seeds"
    ),
    "events_hll_distinct_users": (
        "HLL registers: rows ship once to the (type, register) partial "
        "aggregate (64 groups/type), the harmonic fold is an integer sum "
        "over register rows — the estimate costs one bounded second "
        "aggregate; the exact count-distinct leg exists only for the eval"
    ),
    "events_audience_overlap_kmv": (
        "KMV signatures: corpus-scale data flows only through distinct + "
        "the two-phase bottom-k (per-partition heaps); the pairwise "
        "matrix's nested loop is sample-sized on BOTH sides "
        "(|types|^2/2 pairs x |types|*64 signature rows)"
    ),
    "events_value_kmv_quantiles": (
        "histogram-selected exact quantiles (r8): the exact leg's only "
        "data-scale shuffles are a (type, value-block) partial-agg count "
        "and the broadcast-joined target-block pick — NO window whose "
        "partition count is the type count; the window sorts that remain "
        "are the 128-row sketch groups and the one-block residual picks"
    ),
    "events_user_ewma_segmented": (
        "segmented parallel-scan EWMA (r9): the heavy pass is ONE "
        "(user, segment) hash aggregate folding each segment's values "
        "into a 2-double linear map — no per-key window over the raw "
        "stream, so a hot key spreads across its 64 segments; the "
        "per-key combine aggregates the <=64-row map table and the only "
        "windows in the plan are over that bounded aggregate"
    ),
    "join_salted_enrich": (
        "salted skew-proof join (r10): the fact side carries a "
        "deterministic salt, the dim side explodes over the salt domain "
        "(Generate under the join's dim leg), the join keys on "
        "(user_id, salt) so a hot user spreads over n_salts reducers, "
        "and the rollup is partial+final hash aggregation; at sf0.001 "
        "the dim leg broadcasts — at scale the same plan shuffles on "
        "the salted key, which is the point"
    ),
}


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]

    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.session import get_spark
    from hadoop_common_spark.tables import register_views

    spark = get_spark("dump-plans", shuffle_partitions=8)
    register_views(spark, sf_dir)
    registry = load_all()

    if names:
        for name in names:
            print(f"## {name}\n\n{_formatted(registry[name].fn(spark, sf_dir))}\n")
        return

    out = [
        "# PLANS — physical-plan evidence for the 100 TB contract",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(re-run after plan-affecting changes). Each section: what the plan",
        "must show, then the actual `.explain(\"formatted\")` output.",
        "Plan-shape regressions are CI-pinned in `tests/test_plans_scale.py`.",
        "",
    ]
    for name, claim in REPRESENTATIVE.items():
        df = registry[name].fn(spark, sf_dir)
        out += [f"## {name}", "", f"**Demonstrates:** {claim}", "", "```", _formatted(df), "```", ""]

    path = os.path.join(REPO_DIR, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(REPRESENTATIVE)} plans)")


if __name__ == "__main__":
    main()
