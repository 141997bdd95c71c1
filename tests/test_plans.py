"""Physical-plan quality gates — the properties that decide whether a
query survives a 100x scale-up.  These pin what .explain must show:
broadcasts stay broadcasts, pushdowns reach the scan, prune lists stay
minimal.  A regression here is a performance bug even when results match.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from spark_ss_hudi_delta_poc_spark.plans import all_queries
from spark_ss_hudi_delta_poc_spark.streaming.shadows import STREAM_SHADOWS

SF = "/root/testdata/sf0.001"
QS = all_queries()

_PLAN_CACHE: dict = {}  # (name, conf_key) -> formatted plan text


def shadow_plans_of(spark, name: str, no_auto_broadcast: bool = False) -> dict:
    """Formatted plans of a STREAMING query's batch shadow stages
    (streaming/shadows.py), cached like plan_of.  Streaming registry fns
    execute their streams and return a sink read-back, so the global
    audits inspect the shadow graph — the same per-trigger DataFrame
    graph built on batch tables — instead of skipping streaming queries
    (the round-8 exemption that hid q44's row-per-user broadcast)."""
    key = ("shadow", name, no_auto_broadcast)
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        if no_auto_broadcast:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = {
            stage: _formatted(df)
            for stage, df in STREAM_SHADOWS[name](spark, SF).items()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    _PLAN_CACHE[key] = out
    return out


def plan_of(spark, name: str, no_auto_broadcast: bool = False) -> str:
    """Formatted physical plan, cached per (query, broadcast-conf): four
    global audits iterate the whole registry — rebuilding every plan per
    audit would quadruple the suite's Spark analysis time.  With
    ``no_auto_broadcast`` the size-estimate broadcast path is disabled,
    so every BroadcastExchange left in the plan comes from an explicit
    F.broadcast hint — the only kind that can force a corpus-sized
    broadcast at 100 TB (size-based selection self-corrects at scale)."""
    key = (name, no_auto_broadcast)
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        if no_auto_broadcast:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QS[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    _PLAN_CACHE[key] = buf.getvalue()
    return _PLAN_CACHE[key]


def test_dimension_joins_broadcast(spark):
    """q14: nation/region dims must broadcast — a shuffle of the fact side
    on a dim join would be a scale bug."""
    p = plan_of(spark, "q14_broadcast_dims")
    assert "BroadcastHashJoin" in p


def test_filter_pushdown_reaches_scan(spark):
    """q06: the event_type predicate must be pushed into the parquet scan."""
    p = plan_of(spark, "q06_filter")
    assert "EqualTo(event_type,purchase)" in p


def test_count_reads_zero_columns(spark):
    """q01: COUNT(*) must prune to an empty read schema (metadata count)."""
    p = plan_of(spark, "q01_count")
    assert "ReadSchema: struct<>" in p


def test_join_prunes_columns(spark):
    """q13: the lineitem scan must read exactly the 3 needed columns."""
    p = plan_of(spark, "q13_join_revenue")
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in p


def test_topn_uses_window_group_limit(spark):
    """q15: rank<=k must trigger WindowGroupLimit (partial top-k before the
    shuffle) — without it every group's full history shuffles."""
    p = plan_of(spark, "q15_window_topn")
    assert "WindowGroupLimit" in p


def test_aggregates_are_partial_final(spark):
    """q02: group-count must be a partial+final HashAggregate pair
    (map-side combine), not a single post-shuffle aggregate."""
    p = plan_of(spark, "q02_group_count")
    assert p.count("HashAggregate") >= 2


def test_exact_dedup_single_shuffle_on_hash(spark):
    """dedup_exact: exactly one exchange, partitioned on the 60-bit hash —
    never on the full text — with map-side partial aggregation."""
    p = plan_of(spark, "dedup_exact")
    assert p.count("+- Exchange") == 1  # once in the plan tree
    assert "hashpartitioning(text_hash" in p
    assert "partial_min" in p


def test_fingerprint_is_map_only(spark):
    """text_fingerprint: a pure projection over the scan — zero shuffles."""
    p = plan_of(spark, "text_fingerprint")
    assert "Exchange" not in p


def test_asof_join_single_shuffle(spark):
    """q17: the as-of join must be ONE exchange on the key (union+window),
    never a range-join / nested-loop blowup."""
    p = plan_of(spark, "q17_asof_join")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert p.count("+- Exchange") <= 2  # union sides share the window shuffle


def test_sessionize_single_shuffle(spark):
    """q20: gaps-and-islands = one shuffle on user_id; both window passes
    and the final aggregation reuse that partitioning."""
    p = plan_of(spark, "q20_sessionize")
    assert p.count("hashpartitioning(user_id") >= 1
    assert p.count("+- Exchange") == 1


# Deliberate exceptions to the no-cross-join rule, each with its scale
# justification — anything NOT listed here that plans one is a bug.
# (Round 3: ann_ivf_topk's centroid BroadcastNestedLoopJoin replaced by a
# closure-embedded map-side argmax — the set is now empty.)
# q71, q78, and text_tfidf_keywords cross-join a ONE-ROW global aggregate
# (the scalar-subquery execution shape: SUM/COUNT reduced to a single
# broadcast row, then a BroadcastNestedLoopJoin whose build side is 1
# row — q78 joins exact-vs-approx quantile rows, tfidf joins the N
# aggregate).  That is constant work per probe row at any scale — the
# audit targets unbounded nested loops, not scalar broadcasts.
# text_bm25_search carries the same 1-row stats cross join (now visible
# in its public plan since global_topk_with_rank went lazy); the shape is
# additionally pinned by test_bm25_has_no_corpus_sized_join_side.
# The sketch summaries (hll/kmv/bloom) cross-join their 1-row sketch
# aggregate with the 1-row exact-count aggregate (and bloom its 1-row
# bit/build counts) — every cross side is a single reduced row, pinned
# by test_sketch_cross_joins_are_single_row.
CROSS_JOIN_EXEMPT: set[str] = {
    "q71_global_sales_opp",
    "text_bm25_search",
    "q78_approx_quantiles",
    "q80_top_supplier",
    "q84_important_parts",
    "text_tfidf_keywords",
    "text_ngram_lm_score",  # 1-row V (vocab size) aggregate, tfidf's shape
    "graph_pagerank",  # 1-row node-count aggregate (teleport constants)
    "embedding_covariance",  # 1-row n aggregate closing the cov formula
    "sketch_hll_distinct",
    "sketch_kmv_distinct",
    "sketch_bloom_filter",
    # round-8 final batch — every cross side is a 1-row reduced aggregate
    # (counts pinned in test_sketch_cross_joins_are_single_row below):
    "bloom_join_reduction",  # 3x 1-row summary aggregates
    "monitor_category_drift",  # 1-row time bounds + 1-row total (branch-replicated)
    "privacy_k_anonymity",  # 1-row suppression totals
    "text_pmi_collocations",  # 1-row N aggregate, tfidf's shape
    "curation_ccnet_buckets",  # inherits text_ngram_lm_score's 1-row V aggregate
    # round 9:
    "privacy_l_diversity",  # 1-row below-l totals (k_anonymity's shape)
    "monitor_freshness",  # 1-row feed-watermark aggregate riding the rows
    "privacy_t_closeness",  # 1-row global distribution + 1-row above-t totals
    "monitor_seasonal_anomaly",  # 1-row final-day/baseline-day bounds
    # kmv_jaccard's cross side is NOT 1 row but a per-SOURCE aggregate —
    # bounded by the source domain (a category dimension, like nation):
    # the inequality pair join (a.source < b.source) over |sources| rows
    # plans as BNLJ by construction; pinned by
    # test_kmv_jaccard_cross_sides_are_source_bounded below.
    "sketch_kmv_jaccard",
    # fuzzy recall's ground truth is all-pairs levenshtein over an
    # orderBy+limit(1024) sample — bounded BY CONSTRUCTION (TakeOrdered
    # certificate); pinned by test_fuzzy_recall_cross_sides_are_limit_bounded.
    "dedup_fuzzy_recall",
    # round 12: DSIR's 1-row (n_r, n_t) totals aggregate rides the
    # bucket-ratio table (text_ngram_lm_score's 1-row V shape); count
    # pinned in test_sketch_cross_joins_are_single_row.
    "curation_dsir",
    # round 13: the DSIR streaming twin's recipe/boundary shadow stages
    # inherit curation_dsir's exact 1-row totals cross (the state-side
    # totals are an aggregate over the <=4096-row counts table); counts
    # pinned in test_q107_shadow_cross_sides_are_single_row.
    "q107_stream_dsir",
    # round 13: the drift monitor's streaming twin inherits
    # monitor_category_drift's exempted crosses exactly (1-row time
    # bounds + 1-row total, branch-replicated); counts pinned in
    # test_q109_shadow_cross_sides_are_single_row.
    "q109_stream_drift",
    # round 13: the BM25 index twin's answer stage inherits
    # text_bm25_search's exempted 1-row normalizer cross; counts pinned
    # in test_q110_shadow_cross_sides_are_single_row.
    "q110_stream_bm25",
}


def test_cosine_neardup_is_distributed(spark):
    """dedup_embedding_cosine: the exact all-pairs must be the block-tiled
    applyInPandas plan — a grouped shuffle on the tile key, NOT a
    driver-collected closure matrix (the round-1/2 scale-killer)."""
    p = plan_of(spark, "dedup_embedding_cosine")
    assert "FlatMapGroupsInPandas" in p
    assert "hashpartitioning(pa" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_lsh_neardup_is_bucket_equijoin(spark):
    """dedup_embedding_lsh: candidates must come from a bucket equi-join
    (SortMergeJoin/ShuffledHashJoin on bucket), never a full cross score."""
    p = plan_of(spark, "dedup_embedding_lsh")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_ann_ivf_no_nested_loop(spark):
    """ann_ivf_topk: centroid assignment is map-side (mapInPandas closure);
    the probe is a hash equi-join on cluster — no nested-loop anywhere."""
    p = plan_of(spark, "ann_ivf_topk")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_contamination_broadcasts_eval_index(spark):
    """curation_contamination: the eval-side n-gram table must broadcast
    (eval sets are tiny vs the corpus) so the training scan never
    shuffles raw text; the pair count is the only wide aggregation."""
    p = plan_of(spark, "curation_contamination")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_sampling_is_map_only(spark):
    """curation_sample_bernoulli: hash-threshold sampling must not shuffle
    — filter over the scan, nothing else."""
    p = plan_of(spark, "curation_sample_bernoulli")
    assert "Exchange" not in p


def test_sketch_cross_joins_are_single_row(spark):
    """The sketch summaries' cross joins must stay the scalar-subquery
    shape: every BroadcastNestedLoopJoin is a 1-row reduced aggregate
    side (constant work per probe row at any scale) — their exact count
    is pinned so a corpus-sized side can never slip in under the
    CROSS_JOIN_EXEMPT entries."""
    import re

    expected = {
        "sketch_hll_distinct": 1,  # sketch x exact  (LC lookup is an equi-join)
        "sketch_kmv_distinct": 1,  # sketch x exact
        "sketch_bloom_filter": 2,  # summary x n_set_bits x n_build_keys
        "bloom_join_reduction": 3,  # fact stats x build x pass x join summaries
        "monitor_category_drift": 5,  # 1-row bounds/total, replicated per margin branch
        "privacy_k_anonymity": 1,  # classes x 1-row suppression totals
        "text_pmi_collocations": 1,  # pair counts x 1-row N aggregate
        "curation_ccnet_buckets": 1,  # the composed LM score's 1-row V
        "privacy_l_diversity": 1,  # classes x 1-row below-l totals
        "monitor_freshness": 1,  # rows x 1-row feed watermark
        # classes x 1-row global distribution (replicated into the
        # above-t totals branch, like monitor_category_drift's margins)
        # + classes x 1-row above-t totals
        "privacy_t_closeness": 3,
        "monitor_seasonal_anomaly": 1,  # daily ledger x 1-row day bounds
        # round-15 optimization: dsir_rank_keep now localCheckpoints the
        # doc-level scores (one pipeline execution instead of two), so
        # the REGISTERED frame's plan is a checkpoint scan — the interior
        # bucket-ratios x 1-row totals cross is pinned separately by
        # test_dsir_interior_cross_is_single_row below
        "curation_dsir": 0,
    }
    for name, n_bnlj in expected.items():
        p = plan_of(spark, name)
        got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
        assert got == n_bnlj, f"{name}: {got} nested-loop joins, expected {n_bnlj}"
        # each cross side is a global (no-group-key) aggregate: formatted
        # explain prints `Keys: []` for partial+final of every scalar agg
        scalar_aggs = len(re.findall(r"Keys\s*:\s*\[\]", p))
        assert scalar_aggs >= n_bnlj, f"{name}: cross side without a scalar aggregate"


def test_dsir_interior_cross_is_single_row(spark):
    """curation_dsir's INTERIOR plan (the lineage dsir_rank_keep now
    materializes once into a localCheckpoint — round-15 optimization)
    still carries exactly one BNLJ whose cross side is the 1-row
    (n_r, n_t) totals aggregate.  The registered frame's plan became a
    checkpoint scan, so this pins the shape the checkpoint executes —
    a corpus-sized cross sneaking into the scoring pipeline must still
    fail loudly.  threshold_e9 mode returns the same scored lineage
    WITHOUT the rank rule, i.e. the exact pre-checkpoint plan."""
    import contextlib
    import io
    import re

    from spark_ss_hudi_delta_poc_spark.operators.curation import (
        dsir_importance_filter,
    )
    from spark_ss_hudi_delta_poc_spark.tables import load

    df = dsir_importance_filter(load(spark, SF, "documents"), threshold_e9=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert got == 1, f"dsir interior: {got} nested-loop joins, expected 1"
    assert re.search(r"Keys\s*:\s*\[\]", p), "cross side without a scalar aggregate"


def test_q107_shadow_cross_sides_are_single_row(spark):
    """q107_stream_dsir's shadow stages inherit curation_dsir's exempted
    cross shape — bucket ratios x the 1-row (n_r, n_t) totals aggregate
    (here reduced over the <=4096-row counts state, cheaper than the
    batch operator's corpus-side totals).  Pin the BNLJ count per stage
    and that every cross side is a scalar aggregate, so a corpus-sized
    side can never slip in under the exemption."""
    import re

    expected = {"ingest": 0, "recipe": 1, "boundary": 1}
    for stage, p in shadow_plans_of(spark, "q107_stream_dsir").items():
        got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
        assert got == expected[stage], (
            f"{stage}: {got} nested-loop joins, expected {expected[stage]}"
        )
        if expected[stage]:
            assert re.search(r"Keys\s*:\s*\[\]", p), (
                f"{stage}: cross side without a scalar aggregate"
            )


def test_q109_shadow_cross_sides_are_single_row(spark):
    """q109_stream_drift's shadow inherits monitor_category_drift's
    exempted cross shape — the 1-row time-bounds and 1-row total
    aggregates, branch-replicated into the margins exactly as the batch
    monitor plans them (its pinned count is 5 too).  Pin the count and
    that every cross side is a scalar aggregate."""
    import re

    plans = shadow_plans_of(spark, "q109_stream_drift")
    p = plans["ingest"]
    got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    assert got == 5, f"ingest: {got} nested-loop joins, expected 5"
    assert len(re.findall(r"Keys\s*:\s*\[\]", p)) >= got


def test_q110_shadow_cross_sides_are_single_row(spark):
    """q110_stream_bm25's shadow: the ingest stage's normalizer merge
    has NO cross join; the answer stage inherits text_bm25_search's
    exempted 1-row (n_docs, total_words) cross.  Pin both counts and
    the scalar-aggregate certificate."""
    import re

    expected = {"ingest": 0, "answer": 1}
    for stage, p in shadow_plans_of(spark, "q110_stream_bm25").items():
        got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
        assert got == expected[stage], (
            f"{stage}: {got} nested-loop joins, expected {expected[stage]}"
        )
        if expected[stage]:
            assert re.search(r"Keys\s*:\s*\[\]", p), (
                f"{stage}: cross side without a scalar aggregate"
            )



def test_q111_shadow_has_no_cross_join(spark):
    """q111_stream_ann_index's interior is cross-free by design: the
    per-trigger assignment is a closure-broadcast map stage (no join at
    all) and serving is an equi-join against the bounded |Q| x nprobe
    probe-pair broadcast.  Pin ZERO BroadcastNestedLoopJoin in both
    shadow stages so a corpus-sized cross can never appear under the
    streaming exemption."""
    import re

    for stage, p in shadow_plans_of(spark, "q111_stream_ann_index").items():
        got = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
        assert got == 0, f"{stage}: {got} nested-loop joins, expected 0"

def test_kmv_jaccard_cross_sides_are_source_bounded(spark):
    """sketch_kmv_jaccard's pair stage (a.source < b.source) plans BNLJs
    whose build sides are per-SOURCE aggregates — bounded by the source
    category domain, never doc- or shingle-keyed.  Pin the count and
    that source-keyed aggregates exist while no BNLJ side aggregates on
    a corpus-cardinality key (h / doc_id)."""
    import re

    p = plan_of(spark, "sketch_kmv_jaccard")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 3
    assert re.search(r"Keys \[1\]: \[source", p)
    # the h-keyed exact-intersection side must be an equi-join, present:
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_fuzzy_recall_cross_sides_are_limit_bounded(spark):
    """dedup_fuzzy_recall's all-pairs ground truth plans BNLJs whose
    sides descend from the orderBy+limit(1024) sample (TakeOrdered — the
    by-construction bound), plus the 1-row matched x total report join.
    Pin the count (the sample pair join replicates into the total
    branch, t_closeness's shape) and the certificates."""
    import re

    p = plan_of(spark, "dedup_fuzzy_recall")
    # ONE all-pairs join (the single-pass left-join-indicator report
    # shape: truth is never recomputed per report column).  The sample
    # is an eager localCheckpoint (one corpus scan for its three
    # consumers), so the bound shows as the re-stated GlobalLimit above
    # the checkpoint scan — the segment_dim certificate shape.
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1
    assert "GlobalLimit" in p  # the bounded sample certificate
    assert len(re.findall(r"Keys\s*:\s*\[\]", p)) >= 1  # the report scalar
    assert "CartesianProduct" not in p


def test_no_cartesian_anywhere(spark):
    """Global plan audit: no registry query — batch plan or streaming
    shadow — may plan a CartesianProduct or BroadcastNestedLoopJoin,
    the two shapes that never survive a scale-up, unless explicitly
    exempted with a justification above."""
    offenders = []
    for name, q in sorted(QS.items()):
        if name in CROSS_JOIN_EXEMPT:
            continue
        if "streaming" in q.tags:
            plans = shadow_plans_of(spark, name).items()
        else:
            plans = [("", plan_of(spark, name))]
        for stage, p in plans:
            if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
                offenders.append(f"{name}/{stage}" if stage else name)
    assert offenders == []


def test_minhash_interior_is_bucket_equijoin(spark):
    """dedup_minhash_lsh materializes eagerly (its public explain shows
    only the checkpoint scan), so pin the INTERIOR plan via
    _minhash_pairs_plan: candidates from a (band, band_hash) equi-join,
    exact verify candidate-driven — never a cross product."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.functions.hashing import md5_long48
    from spark_ss_hudi_delta_poc_spark.operators.dedup import (
        _minhash_pairs_plan,
        minhash_band_buckets,
        minhash_signatures,
        shingle_table,
    )
    from spark_ss_hudi_delta_poc_spark.tables import load

    docs = load(spark, SF, "documents")
    shd = shingle_table(docs).select("doc_id", md5_long48("shingle").alias("h"))
    pairs = _minhash_pairs_plan(minhash_band_buckets(minhash_signatures(docs)), shd, 0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    p = buf.getvalue()
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)
    assert "band_hash" in p  # the candidate join is keyed on the band bucket
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_shingle_overlap_interior_is_certified(spark):
    """dedup_ngram_jaccard / dedup_ngram_containment materialize eagerly
    (their public explain shows only the checkpoint scan), so pin the
    INTERIOR plan via _shingle_pair_overlaps with size-based broadcasts
    off: the hinted broadcast is the df-cap's heavy-hitter set and
    carries its certificate, the per-doc sizes are never broadcast, and
    no pair stage is a cross product."""
    from spark_ss_hudi_delta_poc_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _shingle_pair_overlaps,
        shingle_table,
    )
    from spark_ss_hudi_delta_poc_spark.tables import load

    docs = load(spark, SF, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _formatted(_shingle_pair_overlaps(shingle_table(docs), MAX_SHINGLE_DF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" in p and _uncertified_broadcasts(p) == []
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_bm25_has_no_corpus_sized_join_side(spark):
    """bm25 must never materialize a corpus-sized join side: round 5
    broadcast a row-per-document doc_len table (driver OOM at 100 TB,
    ADVICE r5); round 6 eliminates the doc_id join entirely — dl rides
    through the tf aggregate as max(dl).  With size-based broadcasting
    disabled, the plan must show NO shuffle join and exactly the two
    genuinely tiny hinted broadcasts: dfc (<=|Q| rows) and stats
    (1 row)."""
    import re

    from spark_ss_hudi_delta_poc_spark.operators.text_analysis import bm25_scored
    from spark_ss_hudi_delta_poc_spark.tables import load

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bm25_scored(load(spark, SF, "documents"), ["spark", "join", "vector"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p  # no doc_id join left
    assert len(re.findall(r"\(\d+\) BroadcastExchange", p)) == 2  # dfc + stats only
    # dl folds through the same partial+final aggregate as the tf count
    assert "partial_max" in p or "max(dl" in p


def test_tfidf_corpus_joins_are_shuffles(spark):
    """tfidf's doc_len (row per doc) and df_counts (row per distinct
    word) are both unbounded — with size-based broadcasting disabled the
    only hinted broadcast must be the 1-row N aggregate."""
    import re

    p = plan_of(spark, "text_tfidf_keywords", no_auto_broadcast=True)
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    assert len(re.findall(r"\(\d+\) BroadcastExchange", p)) == 1  # 1-row N agg


# q78's exact-quantile validation side is explicitly documented as the
# oracle-parity half that does not run at scale (analytics_queries.py) —
# the approx half is the production path.
PARTITIONLESS_WINDOW_EXEMPT: set[str] = {"q78_approx_quantiles"}


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree_nodes(plan: str) -> list[tuple[int, str, int]]:
    """(indent, name, id) per node of the formatted plan's tree block."""
    import re

    nodes = []
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            break  # details section begins
        m = re.match(r"^([\s:+\-*> ]*)([A-Za-z][\w .]*?) \((\d+)\)\s*$", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(2), int(m.group(3))))
    return nodes


def _unbounded_partitionless_windows(plan: str) -> list[int]:
    """Node ids of Window operators whose spec has an EMPTY partition
    clause AND whose input is NOT bounded — the shape that funnels the
    whole input through one task.  A partitionless spec is detected
    structurally (the first windowspecdefinition argument is an ORDER
    key, carrying ASC/DESC, exactly when no partition keys precede it);
    it is certified SAFE only when the window's immediate child is
    TakeOrderedAndProject or a driver-local scan, i.e. the input is <= k
    rows by construction (global_topk_with_rank's shape — Catalyst folds
    its constant partition key away, so it reads as partitionless)."""
    import re

    def spec_partitionless(detail: str) -> bool:
        for m in re.finditer(r"windowspecdefinition\(([^)]*)", detail):
            head = m.group(1).split(",")[0].strip()
            if re.search(r"\s(ASC|DESC)$", head) or " ASC " in head or " DESC " in head:
                return True
        return False

    # detail blocks keyed by node id
    details: dict[int, str] = {}
    cur = None
    for ln in plan.splitlines():
        m = re.match(r"^\((\d+)\) (.*)", ln)
        if m:
            cur = int(m.group(1))
            details[cur] = ln
        elif cur is not None:
            details[cur] += "\n" + ln
    nodes = _tree_nodes(plan)
    flagged = []
    for idx, (ind, name, nid) in enumerate(nodes):
        if not name.startswith("Window"):
            continue
        if not spec_partitionless(details.get(nid, "")):
            continue
        # walk the window's input chain past cardinality-preserving (or
        # cardinality-reducing) plumbing; certify iff the first
        # cardinality-RELEVANT node bounds the input to <= k rows
        j = idx + 1
        while j < len(nodes) and nodes[j][1].startswith(
            ("Sort", "Project", "Exchange", "ShuffleQueryStage", "AQEShuffleRead",
             "Filter", "Coalesce", "InputAdapter", "WholeStageCodegen", "ColumnarToRow")
        ):
            j += 1
        child = nodes[j][1] if j < len(nodes) else ""
        if child.startswith(
            ("TakeOrderedAndProject", "LocalTableScan", "GlobalLimit", "LocalLimit",
             "WindowGroupLimit")
        ):
            # bounded input: <= k rows by construction / driver-local
            # literal rows.  ``Scan ExistingRDD`` certifies NOTHING
            # (round-9 tightening, ADVICE r8: it can back an arbitrarily
            # large parallelized dataset, and the old anywhere-below
            # limit scan could match a limit in a DIFFERENT branch) — a
            # bounded driver-local frame must carry its own ``.limit``
            # so the first cardinality-relevant node below the window IS
            # a limit.
            continue
        flagged.append(nid)
    return flagged


def test_no_partitionless_window_anywhere(spark):
    """Global plan audit: a ranking window with an EMPTY partition spec
    over UNBOUNDED input funnels everything through ONE partition — the
    round-5 bm25 / corpus_ngram_stats scale bug.  Global top-k queries
    must use orderBy+limit (TakeOrderedAndProject) and may rank only the
    <= k survivors (global_topk_with_rank); the detector certifies that
    bounded shape via the window's child node."""
    offenders = []
    for name, q in sorted(QS.items()):
        if name in PARTITIONLESS_WINDOW_EXEMPT:
            continue
        if "streaming" in q.tags:
            plans = shadow_plans_of(spark, name).items()
        else:
            plans = [("", plan_of(spark, name))]
        for stage, p in plans:
            if _unbounded_partitionless_windows(p):
                offenders.append(f"{name}/{stage}" if stage else name)
    assert offenders == []


def test_unbounded_partitionless_detector_flags_raw_window(spark):
    """The detector itself must still catch the round-5 shape: a
    row_number window with no partition keys over a raw corpus scan."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.tables import load

    docs = load(spark, SF, "documents")
    bad = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("doc_id").desc()))
    )
    assert _unbounded_partitionless_windows(_formatted(bad))
    from spark_ss_hudi_delta_poc_spark.operators.partitioning import global_topk_with_rank

    good = global_topk_with_rank(docs.select("doc_id", "n_chars"), [F.col("n_chars").desc(), F.col("doc_id").asc()], 5)
    assert not _unbounded_partitionless_windows(_formatted(good))
    assert [r.rank for r in good.collect()] == [1, 2, 3, 4, 5]


# Subtree shapes that certify a hinted broadcast side is bounded at any
# corpus size (round-7 VERDICT #2 tightening — the old gate let ANY
# HashAggregate certify, which blessed row-per-document aggregates, and
# let any pushed filter certify, which blessed selectivity-proportional
# sides like a 1/5-of-customer mktsegment slice).
#
# Unconditional certificates — bounded at ANY corpus size by construction:
#   Limits/TakeOrdered/WindowGroupLimit: top-k capped.  LocalTableScan:
#   literal rows embedded in the plan (a big one would have OOMed the
#   driver at plan build).  ReusedExchange: points at an exchange audited
#   at its own site.  Subquery: scalar (1-row) result.  Dims-table scans
#   (region/nation): fixed-size inputs.
#   NOT a certificate (round-9 tightening, ADVICE r8): ``Scan
#   ExistingRDD`` — it can back an arbitrarily large parallelized
#   dataset.  Driver-local frames that are genuinely bounded must SAY so
#   in the plan: construct them with ``.limit(n)`` so a GlobalLimit sits
#   above the scan (segment_dim's shape).
#
# CONDITIONAL certificate — an aggregate certifies ONLY when its output
# cardinality is provably bounded:
#   (a) no group keys (global aggregate -> 1 row), or
#   (b) every group key is a column whose domain does not grow with the
#       corpus (_BOUNDED_GROUP_KEYS: enumerations like band indexes and
#       dim attributes — NOT ids), or
#   (c) a heavy-hitter cap sits above it: Filter(agg_output > C), C >= 64
#       — output <= N/C rows and zipfian data makes the over-cap set tiny
#       (the shingle df-cap / mega-bucket shapes).
# An aggregate keyed on doc_id has corpus cardinality and certifies
# NOTHING — but deeper nodes under it may still certify (an aggregate over
# a query-set scan stays bounded).  A pushed filter alone also certifies
# nothing: selectivity-proportional sides scale with the corpus.
_BROADCAST_CERT_NODES = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "WindowGroupLimit",
    "LocalTableScan",
    "ReusedExchange",
    "Subquery",
)
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_BROADCAST_DIMS = ("/region", "/nation")
# Columns with corpus-independent domains: LSH band indexes/values (fixed
# bit-width), dedup method flags, dim attributes.  Ids and free text never
# belong here.
_BOUNDED_GROUP_KEYS = frozenset(
    {
        "band",
        "band_idx",
        "band_val",
        "band_hash",
        "n_name",
        "n_nationkey",
        "r_name",
        "r_regionkey",
        # corpus-schema enumerations: a corpus has a handful of sources
        # and languages regardless of row count
        "source",
        "lang",
        # curation_dsir's hashed-feature bucket: pmod(md5_long(gram),
        # DSIR_BUCKETS) — a <= 4096-value domain by the literal modulus,
        # corpus-independent like the LSH band columns
        "feat_bucket",
    }
)
_HEAVY_HITTER_MIN_CAP = 64


def _agg_keys(detail: str) -> list[str] | None:
    """Base column names of an aggregate's group keys from its detail
    block, or None if the Keys line is missing/unparseable (fail closed).
    Formatted-explain prints ``Keys: []`` for a global aggregate and
    ``Keys [n]: [col#id, ...]`` otherwise."""
    import re

    if re.search(r"Keys\s*:\s*\[\]", detail):
        return []
    m = re.search(r"Keys \[(\d+)\]: \[(.*?)\]", detail, re.S)
    if not m:
        return None
    if m.group(1) == "0":
        return []
    names = []
    for tok in m.group(2).split(","):
        t = tok.strip()
        mm = re.match(r"(\w+)#\d+", t)
        if not mm:
            return None  # expression key — can't prove bounded
        names.append(mm.group(1))
    return names


def _literal_bounded_cols(subtree_details: list[str]) -> set[str]:
    """Columns whose DOMAIN inside this subtree is a literal set: a
    Filter pins them with ``col IN (lit, ...)`` or ``col = lit`` (no
    column reference on the right).  An aggregate keyed only on such
    columns has output cardinality <= the literal-set size regardless of
    corpus size — a true cardinality certificate (e.g. bm25's per-term
    df aggregate under ``word IN (<query terms>)``), unlike a pushed
    filter on a scan, which bounds nothing (row count stays
    selectivity-proportional)."""
    import re

    bounded: set[str] = set()
    for dt in subtree_details:
        if not dt.startswith("Filter") and "Condition" not in dt:
            continue
        for col, lst in re.findall(r"(\w+)#\d+L?\s+IN\s+\(([^)]*)\)", dt):
            if "#" not in lst:
                bounded.add(col)
        for col, rhs in re.findall(r"\((\w+)#\d+L?\s*=\s*([^()]+)\)", dt):
            if "#" not in rhs:
                bounded.add(col)
    return bounded


def _uncertified_broadcasts(plan: str) -> list[int]:
    """Node ids of BroadcastExchange subtrees with NO smallness
    certificate — the shape that reintroduces a corpus-sized broadcast."""
    import re

    lines = plan.splitlines()
    tree, details_start = [], None
    for i, ln in enumerate(lines):
        if re.match(r"^\(\d+\) ", ln):
            details_start = i
            break
        tree.append(ln)
    details: dict[int, list[str]] = {}
    cur = None
    for ln in lines[details_start:] if details_start is not None else []:
        m = re.match(r"^\((\d+)\) (.*)", ln)
        if m:
            cur = int(m.group(1))
            details[cur] = [ln]
        elif cur is not None:
            details[cur].append(ln)
    nodes = []
    for ln in tree:
        m = re.match(r"^([\s:+\-*> ]*)([A-Za-z][\w .]*?) \((\d+)\)\s*$", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(2), int(m.group(3))))
    flagged = []
    for idx, (ind, name, nid) in enumerate(nodes):
        if "BroadcastExchange" not in name:
            continue
        sub = []
        for ind2, name2, nid2 in nodes[idx + 1 :]:
            if ind2 <= ind:
                break
            sub.append((name2, nid2))
        certified = False
        # attribute ids capped by a Filter(attr > C), C >= threshold, seen
        # ABOVE (before) the aggregate in top-down order
        capped_ids: set[int] = set()
        in_bounded = _literal_bounded_cols(
            ["\n".join(details.get(nid2, [])) for _, nid2 in sub]
        )
        for name2, nid2 in sub:
            dt = "\n".join(details.get(nid2, []))
            if any(c in name2 for c in _BROADCAST_CERT_NODES):
                certified = True
                break
            if name2.startswith("Filter"):
                for aid, lit in re.findall(r"#(\d+)L?\)?\s*>\s*(\d+)", dt):
                    if int(lit) >= _HEAVY_HITTER_MIN_CAP:
                        capped_ids.add(int(aid))
                continue
            if any(a in name2 for a in _AGG_NODES):
                keys = _agg_keys(dt)
                if keys is not None and (
                    keys == []
                    or all(k in _BOUNDED_GROUP_KEYS or k in in_bounded for k in keys)
                ):
                    certified = True
                    break
                # heavy-hitter certificate: the cap must sit on a COUNT
                # output of THIS aggregate (a cap on max()/sum() bounds
                # values, not row count) — match the capped attribute ids
                # against the count-produced result ids in the detail
                count_ids = {
                    int(m)
                    for m in re.findall(r"count\([^)]*\)#(\d+)", dt)
                } | {
                    int(m)
                    for m in re.findall(r"count\([^)]*\)#\d+L? AS \w+#(\d+)", dt)
                }
                if capped_ids & count_ids:
                    certified = True  # output <= N/C rows
                    break
                continue  # unbounded agg certifies nothing; keep scanning deeper
            if name2.startswith("Scan"):
                loc = re.search(r"Location:.*", dt)
                if loc and any(d in loc.group(0) for d in _BROADCAST_DIMS):
                    certified = True
                    break
        if not certified:
            flagged.append(nid)
    return flagged


def test_broadcasts_are_bounded_anywhere(spark):
    """Global plan audit (round-5 VERDICT #6): with size-based broadcast
    selection disabled, every BroadcastExchange is hint-forced — and a
    hint is a promise that the side stays small at ANY scale.  Each
    broadcast subtree must therefore carry a smallness certificate (an
    aggregate, a limit, driver-local data, a filtered or dims scan).
    F.broadcast of a full corpus-derived table — round 5's
    broadcast(doc_len) — has no certificate and fails here."""
    offenders = []
    for name, q in sorted(QS.items()):
        if "streaming" in q.tags:
            plans = shadow_plans_of(spark, name, no_auto_broadcast=True).items()
        else:
            plans = [("", plan_of(spark, name, no_auto_broadcast=True))]
        for stage, p in plans:
            bad = _uncertified_broadcasts(p)
            if bad:
                offenders.append((f"{name}/{stage}" if stage else name, bad))
    assert offenders == []


def test_uncertified_broadcast_detector_flags_doc_keyed_aggregate(spark):
    """The detector itself must catch the round-7 shape it was tightened
    for: a hinted broadcast of a row-per-document aggregate (the old gate
    certified ANY HashAggregate, which blessed dedup's per-doc size-table
    broadcasts), and a hinted broadcast certified ONLY by a pushed filter
    (selectivity-proportional side).  Conversely a global (keyless)
    aggregate, a heavy-hitter-capped aggregate, and an IN-literal-bounded
    aggregate must still certify."""
    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.tables import load

    docs = load(spark, SF, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sizes = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        bad_agg = docs.join(F.broadcast(sizes), "doc_id")
        assert _uncertified_broadcasts(_formatted(bad_agg))

        filtered = docs.where(F.col("n_chars") > 10).select("doc_id")
        bad_filter = docs.join(F.broadcast(filtered), "doc_id", "left_semi")
        assert _uncertified_broadcasts(_formatted(bad_filter))

        total = docs.agg(F.count(F.lit(1)).alias("n_total"))
        ok_global = docs.crossJoin(F.broadcast(total))
        assert not _uncertified_broadcasts(_formatted(ok_global))

        heavy = (
            docs.groupBy("text")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > 100)
            .select("text")
        )
        ok_heavy = docs.join(F.broadcast(heavy), "text", "left_anti")
        assert not _uncertified_broadcasts(_formatted(ok_heavy))

        # a > C cap on a NON-count aggregate bounds values, not rows —
        # must NOT certify (the id-matched heavy-hitter rule)
        long_docs = (
            docs.groupBy("doc_id")
            .agg(F.max("n_chars").alias("max_len"))
            .where(F.col("max_len") > 100)
            .select("doc_id")
        )
        bad_cap = docs.join(F.broadcast(long_docs), "doc_id", "left_semi")
        assert _uncertified_broadcasts(_formatted(bad_cap))

        pinned = (
            docs.where(F.col("lang").isin("en", "de"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        ok_in = docs.join(F.broadcast(pinned), "lang")
        assert not _uncertified_broadcasts(_formatted(ok_in))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_existing_rdd_is_not_a_certificate(spark):
    """Round-9 tightening (ADVICE r8): a raw parallelized frame plans as
    ``Scan ExistingRDD`` and can be ANY size — it must not certify a
    hinted broadcast or a partitionless window.  The same frame with an
    explicit ``.limit(n)`` at the construction site carries a GlobalLimit
    in the plan and certifies both."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.tables import load

    docs = load(spark, SF, "documents")
    raw = spark.createDataFrame([(i, f"w{i}") for i in range(8)], "id long, w string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad_b = docs.join(F.broadcast(raw), docs.doc_id == raw.id)
        assert _uncertified_broadcasts(_formatted(bad_b))
        ok_b = docs.join(F.broadcast(raw.limit(8)), docs.doc_id == raw.id)
        assert not _uncertified_broadcasts(_formatted(ok_b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bad_w = raw.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert _unbounded_partitionless_windows(_formatted(bad_w))
    ok_w = raw.limit(8).withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert not _unbounded_partitionless_windows(_formatted(ok_w))


def test_no_row_at_a_time_python_anywhere(spark):
    """Global plan audit: Python may appear in a plan only as an
    Arrow-batched stage (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas[WithState]) — a BatchEvalPython node means a
    row-at-a-time pickle UDF landed in a hot path, the ~10-100x slow
    path this repo bans by rule."""
    offenders = []
    for name, q in sorted(QS.items()):
        if "streaming" in q.tags:
            plans = shadow_plans_of(spark, name).items()
        else:
            plans = [("", plan_of(spark, name))]
        for stage, p in plans:
            if "BatchEvalPython" in p:
                offenders.append(f"{name}/{stage}" if stage else name)
    assert offenders == []


def test_every_streaming_query_has_shadow():
    """Coverage pin for the streaming plan audits: every streaming-tagged
    registry query must have a batch shadow (streaming/shadows.py), and
    no shadow may be stale (naming a query the registry dropped)."""
    streaming = {n for n, q in QS.items() if "streaming" in q.tags}
    assert set(STREAM_SHADOWS) == streaming


def test_shadow_gate_flags_row_per_user_stream_static_broadcast(spark):
    """The round-8 q44 bug, pinned as a negative case: a stream-static
    join that hint-broadcasts a DISTINCT-user dim (aggregate keyed on
    user_id — corpus cardinality) must be flagged by the broadcast
    certificate detector.  This is the exact shape the streaming
    exemption used to hide (streaming/jobs.py round-9 fix)."""
    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.tables import load

    ev = load(spark, SF, "events")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        user_dim = (
            ev.select("user_id")
            .distinct()
            .withColumn(
                "segment",
                F.when(F.col("user_id") % 3 == 0, "a")
                .when(F.col("user_id") % 3 == 1, "b")
                .otherwise("c"),
            )
        )
        bad = ev.join(F.broadcast(user_dim), "user_id").groupBy("segment").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        assert _uncertified_broadcasts(_formatted(bad))
        # and the FIXED q44 shadow passes: bounded segments dim only
        fixed = shadow_plans_of(spark, "q44_stream_static_join", no_auto_broadcast=True)
        for stage, p in fixed.items():
            assert not _uncertified_broadcasts(p), stage
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_rand_based_salting():
    """Source-level gate (VERDICT r9 #5): ``F.rand()`` is banned in the
    package.  A rand() salt re-draws on task RETRY — a recomputed map
    task lands rows under different salts than the copies completed
    reducers already fetched, duplicating/dropping join rows.  All
    randomness in this engine is a deterministic hash of named columns
    (xxhash64/md5), which replays identically; sampling operators use
    hash thresholds for the same reason.

    AST-based (ADVICE r10: the old ``F.rand(`` literal missed
    ``from pyspark.sql.functions import rand`` and aliased-module
    spellings like ``sf.rand(``, and its ``split('#')`` comment
    stripping broke on '#' inside strings): flags any CALL whose
    terminal name is rand/randn — ``F.rand(...)``, ``sf.rand(...)``,
    bare ``rand(...)`` — and any import that binds the name, including
    ``import ... as rand``.  Docstrings/comments can mention rand()
    freely; an aliased escape (``from ... import rand as r``) is caught
    at its import."""
    import ast
    import glob

    pkg = os.path.join(os.path.dirname(__file__), "..", "spark_ss_hudi_delta_poc_spark")
    banned = {"rand", "randn"}
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                name = (
                    fn.id
                    if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None
                )
                if name in banned:
                    offenders.append(f"{rel}:{node.lineno} call {name}()")
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if a.name.split(".")[-1] in banned or a.asname in banned:
                        offenders.append(f"{rel}:{node.lineno} imports {a.name}")
    assert offenders == []
