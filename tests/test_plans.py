"""Physical-plan quality gates: the 100 TB design assertions.

These tests pin the *plan*, not the result: filters reach the parquet scan,
projection prunes the read schema, fixed-size dims broadcast, no relational
query ever degenerates to a cartesian product, and the hot path stays inside
whole-stage codegen. A regression here is a 100×-scale performance bug even
when results stay correct."""

from __future__ import annotations

import pytest

import contextlib
import io

from stateflow_spark.queries import REGISTRY
from tests.conftest import SF_DIR

# every BATCH family joins the no-cartesian sweep (streaming queries are
# excluded: building their plan starts a stream); one-row scalar cross
# joins must plan as BNLJ, never CartesianProduct
RELATIONAL_TAGS = {
    "tpch", "join", "agg", "window", "setops",
    "curation", "events", "text", "dedup", "similarity", "multimodal",
}


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_filter_pushdown_and_column_pruning(spark):
    plan = explain_str(REGISTRY["q6_forecast_revenue"].fn(spark, SF_DIR))
    # every predicate reaches the parquet reader
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThanOrEqual(l_discount,0.019)" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan
    # the scan reads exactly the 4 referenced columns of 11
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    struct = read.split("struct<", 1)[1]
    assert struct.count(",") + 1 == 4, read


def test_q5_broadcasts_dimensions(spark):
    plan = explain_str(REGISTRY["q5_local_supplier_volume"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q4_semi_join_physical(spark):
    plan = explain_str(REGISTRY["q4_order_priority"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q22_anti_join_physical(spark):
    plan = explain_str(REGISTRY["q22_global_sales_opportunity"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan


@pytest.mark.slow
def test_no_cartesian_products_anywhere(spark):
    """Two suite-wide plan invariants, checked in one sweep over every
    registered batch query:
    - a missing join condition silently becomes a cartesian product — at
      100 TB that is a non-terminating query; one-row scalar-subquery
      cross joins must plan as BroadcastNestedLoopJoin, never
      CartesianProduct;
    - no ROW-AT-A-TIME Python UDF (BatchEvalPython) anywhere — every
      Python stage must be Arrow-batched (ArrowEvalPython, MapInPandas,
      FlatMapGroupsInPandas, pandas UDAF), the 10-100× serialization
      difference on the hot path (round-9 addition: previously enforced
      by review, now by gate)."""
    for name, qd in sorted(REGISTRY.items()):
        if not (RELATIONAL_TAGS & set(qd.tags)):
            continue
        plan = explain_str(qd.fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_aggregates_are_partial_final(spark):
    """Map-side partial aggregation must precede the shuffle (partial_sum
    in the pre-Exchange HashAggregate) — the difference between shuffling
    600 M rows and 4."""
    plan = explain_str(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    assert "partial_sum" in plan
    assert "HashAggregate" in plan


def test_hot_path_in_wholestage_codegen(spark):
    """simple-mode explain marks codegen stages with '*(n)'; the scan →
    filter → project → partial-agg pipeline must be inside one. AQE only
    annotates codegen in the final (executed) plan, so run the query first."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    plan = explain_str(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_asof_join_is_window_not_join(spark):
    """The as-of join must plan as union + window — zero join operators.
    A Join appearing here means the quadratic range-join form snuck back
    in, which dies at 100 TB."""
    plan = explain_str(REGISTRY["join_asof_click_view"].fn(spark, SF_DIR))
    assert "Window" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op


def test_minhash_banding_no_cartesian(spark):
    """LSH candidate generation groups by (band, bucket) and expands pairs
    inside each bucket with the exact-Jaccard verify computed in place —
    no all-pairs comparison, no joins at all, and exactly one corpus scan
    (the round-2 join-back form rescanned documents 5× because
    ReuseExchange does not fire across renamed self-join branches)."""
    plan = explain_str(REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # verify rides the bucket payload, not a join
    # bucket-group pair expansion (collect_list + in-array transform)
    assert "collect_list" in plan
    assert plan.count("documents.parquet") == 1


def test_shingle_expression_never_inlined_into_filters(spark):
    """The sf1 decade caught this (SCALING.md round 4): explodes over the
    projected shingle array let InferFiltersFromGenerate +
    PushDownPredicates copy the whole shingle expression into a filter
    below the exchange, where the inlined ``w = split(text)`` re-splits
    the document per lambda element — O(len²) per doc, 13× on the corpus
    pass. `_shingles_df` pins the word array behind a keyed aggregate; a
    regression shows up as a second `array_distinct` (the shingle builder
    re-evaluated) or a lambda inside a Filter node. The intended cheap
    pushdown — ``size(split(text)) >= 3`` at the scan — stays."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        if name == "dedup_minhash_lsh":  # single-branch plan: the shingle
            # builder must appear exactly once (jaccard's self-join re-states
            # the projection per branch, so the count check doesn't apply)
            assert plan.count("array_distinct") == 1, name
        filters = [
            ln
            for ln in plan.splitlines()
            if ln.strip().startswith("Condition")
        ]
        # a lambda over the MATERIALIZED word attribute in a filter is the
        # acceptable one-extra-pass case; the pathology is split(text)
        # substituted INTO a lambda-bearing condition (re-split per element)
        bad = [
            ln
            for ln in filters
            if "lambdafunction" in ln and "split(text" in ln
        ]
        assert not bad, (name, bad)
    # minhash signature stage is array-native: no Generate, no pre-band
    # aggregate — exactly one shuffle (the band/bucket exchange)
    import re

    mh = explain_str(REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR))
    ex_count = len(re.findall(r"\(\d+\) Exchange\b", mh))
    # repartition-by-doc_id + (band,bucket) + final pair-distinct
    assert ex_count <= 3, f"{ex_count} shuffle exchanges"


def test_q21_single_pass_shuffle_budget(spark):
    """The round-3 q21 form: one window pass over lineitem⋈orders, no
    EXISTS/NOT-EXISTS self-joins. The window's partitionBy(l_orderkey)
    reuses the join's partitioning, so the plan carries at most 3 shuffle
    exchanges (join inputs + final aggregate) at any scale."""
    import re

    plan = explain_str(REGISTRY["q21_waiting_suppliers"].fn(spark, SF_DIR))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert shuffles <= 3, f"{shuffles} shuffle exchanges"
    # exactly one pass over lineitem and one over orders
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1


def test_multimodal_decode_output_stays_scalar(spark):
    """Driver harnesses canonicalize results row-wise through pandas, which
    cannot hash list cells (round-2 red row) — the decode stage must emit
    scalar feature columns, via Arrow-batched mapInPandas."""
    df = REGISTRY["multimodal_decode_features"].fn(spark, SF_DIR)
    kinds = {f.dataType.typeName() for f in df.schema.fields}
    assert not kinds & {"array", "map", "struct"}, df.schema.simpleString()
    assert "MapInPandas" in explain_str(df)


def test_funnel_stages_shuffle_on_user_only(spark):
    plan = explain_str(REGISTRY["events_funnel"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the three scalar counts combine via one-row BNLJ cross joins — fine;
    # stage joins themselves must be hash/merge equi-joins on user_id
    assert "user_id" in plan


def test_similarity_family_array_native(spark):
    """Round-4 VERDICT flagged the label-recovery join: _exploded() dropped
    `label`, then sim_centroid_distance / sim_ivf_topk joined dim× (64×)
    exploded rows back to the corpus ON vec_id to get it — a 64×-row
    shuffle join at 100 TB for a column the scan already had. The round-5
    rewrite packs vectors (functions/similarity.py kernels): the ONLY
    allowed joins are broadcast (centroids / probed labels / the 1-or-20-
    row query side), and no join may hash on vec_id."""
    for name in ("sim_cosine_topk", "sim_centroid_distance",
                 "sim_ivf_topk", "sim_knn_join", "sim_hyperplane_lsh",
                 "sim_ivf_knn_join"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            # join build/probe keys print as 'Left keys'/'Right keys'
            if "keys" in ln and "vec_id" in ln:
                raise AssertionError(f"{name}: join keyed on vec_id: {ln}")
    # the cosine hot paths never explode: packed scan -> 1-row BNLJ ->
    # per-row fold -> TakeOrdered. Zero Generate, zero aggregate shuffle.
    # (hyperplane_lsh additionally has NO join at all: the band match is a
    # per-row predicate against 3 broadcast scalars.)
    for name in ("sim_cosine_topk", "sim_hyperplane_lsh"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        assert "Generate" not in plan, name
        assert "TakeOrderedAndProject" in plan, name
    # centroid/ivf confine the explode to the broadcast centroid build
    for name in ("sim_centroid_distance", "sim_ivf_topk"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        import re
        gens = len(re.findall(r"\(\d+\) Generate\b", plan))
        assert gens == 1, f"{name}: {gens} Generate nodes"


def test_curation_family_scale_shape(spark):
    """Curation plans hold their 100 TB shape: sequence packing's only
    single-partition stage is the per-bucket offset table (|corpus|/64
    rows) — the corpus running sum is partitioned BY bucket and offsets
    come back via broadcast; contamination broadcasts the (small by
    nature) benchmark shingle set and never shuffle-joins the corpus;
    the two hash-threshold samplers have no window/sort at all and take
    their quota tables by broadcast."""
    plan = explain_str(REGISTRY["curation_pack_sequences"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(bucket" in plan

    plan = explain_str(
        REGISTRY["curation_benchmark_contamination"].fn(spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan

    for name in ("curation_stratified_sample", "curation_balance_mixture"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        assert "Window" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The interval join must plan as a hash/merge EQUI-join on
    (user_id, bin) — a BroadcastNestedLoopJoin/CartesianProduct here
    means the inequality predicate became the join itself (quadratic on
    hot users)."""
    plan = explain_str(REGISTRY["join_range_view_clicks"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "jb" in plan  # the bin rides the join keys


def test_range_search_is_broadcast_filter_scan(spark):
    """sim_range_search: the capped query block must broadcast (a
    BroadcastNestedLoopJoin over <=10 rows, never a shuffled join or
    CartesianProduct) and the θ predicate must sit with the join output,
    so nothing data-proportional leaves the scan stage."""
    plan = explain_str(REGISTRY["sim_range_search"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cluster_keeper_has_no_window(spark):
    """dedup_cluster_keeper picks the keeper with ONE order-encoding
    struct-max aggregate — a per-cluster window (sort + row_number) would
    add a second sort+shuffle over the component table."""
    plan = explain_str(REGISTRY["dedup_cluster_keeper"].fn(spark, SF_DIR))
    assert "Window" not in plan


def test_token_rarity_partial_aggs_before_shuffle(spark):
    """text_token_rarity shuffles only PARTIAL aggregates (map-side
    combine on both the (doc,token) and corpus-count branches) — raw
    Zipf-keyed token rows must never cross an exchange."""
    plan = explain_str(REGISTRY["text_token_rarity"].fn(spark, SF_DIR))
    assert "partial_count" in plan or "partial" in plan.lower()
    # the explode feeds a HashAggregate (map-side combine) before any
    # Exchange consumes the generator output
    import re
    assert re.search(r"Generate[\s\S]{0,400}?HashAggregate", plan)


def test_repetition_filter_zero_shuffle_in_array(spark):
    """text_repetition_filter (round-6 rewrite): the repetition signals
    are computed ENTIRELY in-array — sort_array + one aggregate()
    run-length scan per n — so the plan is a projection pipeline above
    ONE deliberate full-width fan-out repartition (sf10 profiling: the
    small-by-bytes corpus lands on file-count cores without it): no
    Generate (the old explode shipped ~4 rows/token and hit a
    5.9×/decade bandwidth knee at sf1), no Window, projections in
    whole-stage codegen, and each gram array has exactly ONE consumer
    (the size() re-evaluation doubled the sort cost — tot_n is now
    arithmetic on the token count, so sort_array appears once per n)."""
    import re

    plan = explain_str(REGISTRY["text_repetition_filter"].fn(spark, SF_DIR))
    assert not re.findall(r"\(\d+\) Generate", plan), plan
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == 1, plan  # only the fan-out repartition
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "Window" not in plan
    # exactly one sort per n — size(g_n) references would double these
    assert plan.count("sort_array") == 4, plan[:2000]


def test_semdedup_assignment_is_broadcast_fold_no_explode(spark):
    """dedup_semantic: centroid assignment must be a one-row broadcast
    (BNLJ of the k-array pivot) with per-row folds — no posexplode of the
    corpus, no window; the pair stage joins on the computed cid as a hash
    equi-join, never a cartesian product."""
    plan = explain_str(REGISTRY["dedup_semantic"].fn(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # cid pair join + kept-flag join


def test_adaptive_threshold_window_only_on_distinct_scores(spark):
    """curation_adaptive_threshold: the quantile gate must NOT sort the
    corpus — the only Window runs over the (lang, score) DISTINCT table
    (downstream of its aggregate), and the corpus re-join takes both
    lookup sides by broadcast."""
    import re

    plan = explain_str(
        REGISTRY["curation_adaptive_threshold"].fn(spark, SF_DIR)
    )
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the window consumes the aggregated distinct-score table, not a scan:
    # an Exchange on (lang, score) group keys must sit above the window's
    # input aggregate
    assert "hashpartitioning(lang" in plan


def test_vocab_coverage_probe_is_broadcast(spark):
    """text_vocab_coverage: the V-row vocabulary must broadcast into the
    per-(doc,token) probe (left BroadcastHashJoin) — shuffling the corpus
    by token to meet the vocab would put the Zipf key on the wire."""
    plan = explain_str(REGISTRY["text_vocab_coverage"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # the top-V cut, never a sort


def test_mmr_greedy_chain_shape(spark):
    """sim_mmr_diverse_topk: every greedy pick is a 1-row TakeOrdered
    (never a corpus sort/window) and every winner meets the corpus as a
    1-row broadcast (BNLJ) — with the documented 2^k−1 subplan re-embed,
    that is exactly 7 TakeOrdered nodes at k=3. No shuffled join
    anywhere."""
    import re

    plan = explain_str(REGISTRY["sim_mmr_diverse_topk"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) == 7
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_bm25_two_scans_no_explode_one_exchange(spark):
    """text_bm25_retrieval: term frequencies are per-row array filters
    (no Generate), corpus stats reduce through exactly ONE exchange (the
    single-partition final of the stats aggregate, whose output is one
    broadcast row), and the ranking is a TakeOrdered — never a sort or a
    (doc,term) shuffle."""
    import re

    plan = explain_str(REGISTRY["text_bm25_retrieval"].fn(spark, SF_DIR))
    assert "Generate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) == 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_countmin_shuffle_is_sketch_sized(spark):
    """agg_countmin_heavy_hitters: the sketch build must shuffle PARTIAL
    (j, bucket) aggregates — map-side combine bounds the exchange at
    depth×width rows per partition regardless of event volume — and the
    counter table must come back as a broadcast, never a shuffled join."""
    plan = explain_str(REGISTRY["agg_countmin_heavy_hitters"].fn(spark, SF_DIR))
    import re

    # a partial HashAggregate on (j, bucket) exists, and the only
    # exchanges in the whole plan carry aggregate keys (user_id for the
    # exact side, j/bucket for the sketch) — raw hashed event rows never
    # cross the wire
    assert re.search(
        r"Keys \[2\]: \[j#\d+, bucket#\d+L?\][\s\S]{0,120}?partial_count",
        plan,
    ), plan
    assert re.search(r"hashpartitioning\(j#\d+, bucket#", plan), plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_reservoir_sample_is_takeordered_single_pass(spark):
    """curation_reservoir_sample must plan as TakeOrderedAndProject (per-
    partition top-k + k-row merge) — a global Sort here would shuffle the
    corpus to sample 64 rows."""
    import re

    plan = explain_str(REGISTRY["curation_reservoir_sample"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) == 1
    assert "Exchange" not in plan


def test_state_runs_single_corpus_shuffle(spark):
    """events_state_runs: both row_number windows and the run-collapse
    aggregate must ride ONE exchange on user_id — the second window's
    partition key (user_id, event_type) and the groupBy key are
    sub-partitions of the first, so Catalyst must not re-shuffle."""
    import re

    plan = explain_str(REGISTRY["events_state_runs"].fn(spark, SF_DIR))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan


def test_equidepth_histogram_no_corpus_wide_single_partition(spark):
    """The distributed NTILE must never single-partition the orders
    table: SinglePartition exchanges may only sit ABOVE the per-coarse-
    bucket aggregate (tiny table). The corpus path is hash on the coarse
    bucket, then a partitioned window."""
    plan = explain_str(
        REGISTRY["window_equidepth_histogram"].fn(spark, SF_DIR), "extended"
    )
    phys = plan.split("== Physical Plan ==")[1]
    # every SinglePartition exchange must be downstream of a HashAggregate
    # (i.e. its subtree contains the coarse-bucket aggregate, not the scan)
    lines = phys.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        subtree = "\n".join(lines[i:])
        assert "HashAggregate" in subtree, plan
    # the partitioned corpus window exists
    assert "row_number()" in phys


def test_market_basket_two_exchanges_takeordered(spark):
    """Basket mining must be the array-native two-shuffle form (orderkey
    agg, pair agg) ending in TakeOrderedAndProject — a SortMergeJoin of
    lineitem with itself or a global Sort means the self-join form
    sneaked back in."""
    import re

    plan = explain_str(REGISTRY["join_market_basket_pairs"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_edit_distance_no_cartesian_equality_block_join(spark):
    """The candidate join must be a hash/merge EQUALITY join on
    (tok0, band) — an inequality-only join (BroadcastNestedLoop /
    Cartesian) would be the quadratic all-pairs scan."""
    plan = explain_str(REGISTRY["dedup_edit_distance"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_three_shuffles_no_join_no_inlined_lambdas(spark):
    """The winnowing detector must keep the inverted-index shape: three
    Exchanges (doc_id spread, fingerprint postings, pair counts), pair
    expansion WITHOUT any join operator, and — the `_shingles_df` trap —
    no higher-order lambda inside a Filter condition over split(text)
    (the keyed-aggregate barrier before the explode is what prevents
    InferFiltersFromGenerate from inlining the vs/hs arrays, which would
    re-evaluate them per lambda element, O(len²) per doc)."""
    import re

    plan = explain_str(REGISTRY["dedup_winnowing_pairs"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 3, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Condition")
        and "lambdafunction" in ln
        and "split(text" in ln
    ]
    assert not bad, bad


def test_series_correlation_single_corpus_pass_no_join(spark):
    """The correlation plan's 100 TB shape: ONE scan of events and one
    corpus-volume Exchange (the partial/final hourly aggregate); pair
    expansion is the posting-list lambda, not a hourly⋈hourly self-join
    (which re-states the aggregate subtree per branch — the static plan
    scanned the corpus twice when this query was first written that
    way). Remaining exchanges are grid-sized (by-hour collect, pair
    stats)."""
    import re

    plan = explain_str(REGISTRY["agg_series_correlation"].fn(spark, SF_DIR))
    # count detail-section ids, not raw substrings (each node name prints
    # in both the tree and the details)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 3, plan
    assert "partial_sum" in plan, plan


def test_exact_percentiles_window_on_histogram_not_corpus(spark):
    """The exact-percentile plan must aggregate the corpus to the
    (type, distinct-value) histogram BEFORE any window — the cumulative
    Sort/Window nodes may only see the post-aggregate table. A Window
    whose child subtree contains no intermediate HashAggregate means the
    per-type sort-the-corpus anti-pattern came back."""
    import re

    plan = explain_str(REGISTRY["agg_exact_percentiles"].fn(spark, SF_DIR))
    # tree section: the first Window (bottom-up) must sit above the
    # histogram aggregate; cheap structural proxy — partial_count of the
    # histogram happens below the first Exchange, and only grid-sized
    # exchanges follow
    assert "Window" in plan
    tree = plan.split("(1) Scan", 1)[0]
    # in the bottom-up tree, everything from the DEEPEST HashAggregate
    # (the histogram build, nearest the scan) onward must be window-free:
    # a Window below it would be sorting raw events
    below_histogram = tree[tree.rfind("HashAggregate"):]
    assert "Window" not in below_histogram, tree
    # corpus shuffle budget: histogram exchange + one grid-sized window
    # exchange (+ nothing else)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan


def test_incremental_dedup_single_pass_no_join(spark):
    """The delta-dedup classification must be ONE aggregate on fp over a
    barrier-protected fingerprint table: no Join operator anywhere (the
    first cut's newb⋈oldix⋈batchix re-stated the fingerprint subtree per
    branch and its inferred isnotnull(fp) filters inlined the array fold
    per element — 261 s at sf1; the aggregate form is 1.2 s), one Scan,
    and no lambda-bearing Filter over split(text)."""
    import re

    plan = explain_str(REGISTRY["dedup_incremental_index"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Condition")
        and "lambdafunction" in ln
        and "split(text" in ln
    ]
    assert not bad, bad


def test_shuffle_shards_single_exchange_pruned_scan(spark):
    """The shuffle-manifest plan's 100 TB shape: ONE corpus Exchange on
    the shard key — the window (intra-shard positions) and the manifest
    aggregate both consume the same hashpartitioning(shard_id), so
    Catalyst plans no second shuffle. The scan must prune to the two
    columns the manifest needs; a partial aggregate above the window
    keeps the final exchange-free."""
    import re

    plan = explain_str(REGISTRY["curation_shuffle_shards"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan, plan
    assert "partial_count" in plan, plan


def test_split_leakage_joins_only_post_threshold_pairs(spark):
    """The leakage audit may join split labels only onto the
    POST-THRESHOLD near-dup pair set (orders smaller than the corpus) —
    both split joins must be on doc keys with no CartesianProduct, and
    the corpus-side projection feeding them carries just (doc_id) plus
    the computed split CASE (column pruning reaches the scan)."""
    plan = explain_str(REGISTRY["curation_split_leakage"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_source_drift_single_corpus_scan(spark):
    """The drift monitor must not re-state the explode subtree per
    branch: after the localCheckpoint the executed plan contains ZERO
    parquet scans (the one corpus pass happened when the vocab table
    materialized) — the per-source totals and corpus-scalar branches
    read the checkpointed vocab-sized RDD."""
    plan = explain_str(REGISTRY["text_source_drift"].fn(spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_pq_adc_zero_preagg_shuffles(spark):
    """PQ's hot path is scan → (deliberate fan_out exchange) → per-row
    encode/ADC projections → TakeOrderedAndProject: no CartesianProduct,
    no join except the 1-row broadcasts (codebook + LUT), no aggregate
    exchange — the candidate gather is the TakeOrdered merge."""
    plan = explain_str(REGISTRY["sim_pq_adc_topk"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_band_join_is_equi_join_not_nested_loop(spark):
    """join_band_price_neighbors expresses |a-b| <= δ as a banded EQUI-join
    (explode to 3 candidate bands) — the plan must contain a hash/merge
    equi-join on the band key and no nested-loop/cartesian fallback, which
    is what the raw inequality predicate would produce."""
    plan = explain_str(REGISTRY["join_band_price_neighbors"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan[:2000]


def test_assign_ids_no_corpus_wide_single_partition(spark):
    """curation_assign_ids' only SinglePartition window must sit over the
    per-bucket COUNT table (downstream of a HashAggregate), never over
    the corpus — the declarative-zipWithIndex claim in its docstring."""
    plan = explain_str(
        REGISTRY["curation_assign_ids"].fn(spark, SF_DIR), "extended"
    )
    phys = plan.split("== Physical Plan ==")[1]
    lines = phys.splitlines()
    saw_single = False
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        saw_single = True
        subtree = "\n".join(lines[i:])
        assert "HashAggregate" in subtree, plan
    assert saw_single, plan  # the offsets running total exists
    # the parallel per-bucket window exists
    assert "row_number()" in phys
    # and the offsets side broadcasts back to the corpus
    assert "BroadcastHashJoin" in phys, plan


def test_quality_classifier_single_fanout_exchange(spark):
    """The classifier is scan-shaped: its ONLY exchange is the explicit
    fan-out repartition (plus the 1-row weight broadcast) — no aggregate
    or join shuffle may appear."""
    plan = explain_str(
        REGISTRY["text_quality_classifier"].fn(spark, SF_DIR), "formatted"
    )
    import re

    # formatted plans print "(N) Exchange"; count the shuffle exchanges
    # (BroadcastExchange is the 1-row weight relation and is allowed)
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 1, (shuffles, plan)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_hard_negatives_broadcast_anchor_block(spark):
    """The anchor block must broadcast (BNLJ against the corpus); the
    only wide shuffle is the (qid, kind) mining window."""
    plan = explain_str(
        REGISTRY["sim_hard_negatives"].fn(spark, SF_DIR), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_referential_integrity_broadcasts_dimension_antijoins(spark):
    """Every anti join against a dimension parent must broadcast — the
    fact table never shuffles for the small edges."""
    plan = explain_str(
        REGISTRY["profile_referential_integrity"].fn(spark, SF_DIR),
        "formatted",
    )
    assert "BroadcastHashJoin" in plan
    # LEFT ANTI appears for both orphan directions
    assert plan.count("LeftAnti") >= 6, plan.count("LeftAnti")


def test_semdedup_scaled_tree_assignment(spark):
    """dedup_semantic_scaled: the k∝N production form must keep the pair
    stage an equi-join on the computed cid (no cartesian product, no
    window, no corpus explode downstream of the checkpointed assignment),
    and its quantizer must honor the scaling rule — k = ceil(N/64) fine
    cells filled at ~the target population. (Round 9: assignment is the
    three-level IVF tree; the plan gates are unchanged.)"""
    import pyspark.sql.functions as F

    from stateflow_spark.queries.dedup import _SEMDEDUP_POP

    df = REGISTRY["dedup_semantic_scaled"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    # scaling rule: cid count tracks ceil(N/pop), so mean population ~pop
    stats = df.groupBy("cid").count().agg(
        F.count(F.lit(1)).alias("k"), F.sum("count").alias("n")
    ).collect()[0]
    import math
    k_expected = max(4, math.ceil(stats.n / _SEMDEDUP_POP))
    # empty cells are legal (no vector nearest to a seed) — k may fall
    # short of the rule but never exceed it
    assert stats.k <= k_expected, (stats.k, k_expected)
    assert stats.k >= k_expected // 2, (stats.k, k_expected)


def test_ivf_index_maintenance_prunes_stored_partitions(spark):
    """sim_ivf_index_maintenance (r10): the stored corpus is read
    PARTITIONED by cid and the probe join must prune it at runtime —
    dynamic partition pruning from the broadcast delta's cid set — so
    the daily-delta path reads only probed clusters' files, never the
    corpus. The probe join broadcasts (never a corpus-side shuffle),
    and no cartesian product anywhere."""
    df = REGISTRY["sim_ivf_index_maintenance"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # the stored-corpus scan carries the runtime partition filter
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, plan
    # the one SortMergeJoin allowed is the final delta⋈delta left join
    # (both sides delta-sized — broadcast would be wrong at scale); the
    # STORED side must never reach it, so the SMJ subtree may not scan
    # the index corpus
    import re

    smj = re.findall(r"\(\d+\) SortMergeJoin", plan)
    assert len(smj) <= 1, plan


def test_ivf_widened_classify_prunes_stored_partitions(spark):
    """sim_ivf_widened_classify (r12): widening the probe knobs to
    (2,2,2) must not cost the scale shape — the stored corpus scan still
    carries the runtime dynamicpruning PartitionFilter from the broadcast
    candidate-cell set (k³ cells instead of 1, still delta-bounded), the
    probe join still broadcasts, and no cartesian anywhere."""
    df = REGISTRY["sim_ivf_widened_classify"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, plan


def test_minhash_index_maintenance_bucketed_probe(spark):
    """dedup_minhash_index_maintenance (r10): the stored postings table
    must be read through its BUCKETED layout (the write-time shuffle is
    the point — the delta probe never reshuffles the corpus side), and
    the plan stays small: only delta-sized exchanges, no cartesian."""
    df = REGISTRY["dedup_minhash_index_maintenance"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "Bucketed: true" in plan, plan
    assert "CartesianProduct" not in plan
    import re

    # every shuffle is delta-sized: the signature fan-out, the delta side
    # of the probe join, the best-match window, the final left join —
    # a corpus-side (postings) shuffle would add a bkey exchange over the
    # bucketed scan and push this count up
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 5, (len(shuffles), plan)


def test_ivf_resplit_prunes_stored_partitions(spark):
    """sim_ivf_index_resplit (r11, tightened r13): the re-split touches
    only FLAGGED cells. Since r13 the flagged worklist is a bounded
    driver read-back (the ivf_apply_resplit idiom) applied as LITERAL
    filters, so the member fetch's stored-corpus scan must carry a
    STATIC cid partition filter — pruning decided at plan time, strictly
    earlier than the old dynamicpruning form — and the merge-accounting
    subtree (whose own scan keeps its DPP gate via the merge row's test)
    appears in the plan exactly zero times. No cartesian anywhere."""
    df = REGISTRY["sim_ivf_index_resplit"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cid" in ln and " IN (" in ln
    ]
    assert pf, plan
    # the accounting subtree ran once as the worklist job — its
    # re-inlined copies (2 per member fetch before r13) are gone
    assert "needs_split" not in plan, plan


def test_ivf_post_resplit_classify_prunes_applied_partitions(spark):
    """sim_ivf_post_resplit_classify (r12): the day-2 probe against the
    APPLIED (re-split) index keeps the (1,1,1) scale shape — the applied
    corpus scan carries the runtime dynamicpruning PartitionFilter from
    the broadcast cell set, the probe join broadcasts, no cartesian —
    so the rewrite cost the layout nothing."""
    df = REGISTRY["sim_ivf_post_resplit_classify"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, plan


def test_minhash_compact_zero_exchange(spark):
    """dedup_minhash_index_compact (r11): both windows partition by bkey,
    the stored postings' bucket key, so the whole compaction plan runs
    with ZERO Exchange — the shuffle was paid at the nightly bucketed
    write. (One Sort is expected: the md5-rank order within each bucket
    is not the write-time sort order.)"""
    import re

    plan = explain_str(
        REGISTRY["dedup_minhash_index_compact"].fn(spark, SF_DIR)
    )
    assert not re.findall(r"\(\d+\) Exchange", plan), plan


def test_minhash_post_compact_probe_bucketed(spark):
    """dedup_minhash_post_compact_classify (r12): the COMPACTED table
    keeps the bucketed layout through the bucket-scoped rewrite (bucket
    ids ride the file names, the DDL re-registers them), so the delta
    probe against it is still zero-Exchange on the corpus side — the
    same gate as the nightly-table probe."""
    import re

    df = REGISTRY["dedup_minhash_post_compact_classify"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "Bucketed: true" in plan, plan
    assert "CartesianProduct" not in plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 5, (len(shuffles), plan)


def test_ivf_index_merge_prunes_stored_partitions(spark):
    """sim_ivf_index_merge (r10, gate added r11): the stored-side count
    runs only for TOUCHED cells — the scan under the broadcast
    touched-cell join must carry a runtime dynamicpruning
    PartitionFilter, so merge accounting I/O is delta-bounded, never
    index-sized. No cartesian anywhere."""
    df = REGISTRY["sim_ivf_index_merge"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, plan


def test_minhash_index_merge_bucketed_count(spark):
    """dedup_minhash_index_merge (r10, gate added r11): the stored
    posting count reads the BUCKETED layout and adds no corpus-side
    exchange — only the delta's signature fan-out and its aggregation
    shuffles appear."""
    import re

    df = REGISTRY["dedup_minhash_index_merge"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "Bucketed: true" in plan, plan
    assert "CartesianProduct" not in plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 4, (len(shuffles), plan)


def test_boilerplate_spans_shared_corpus_shuffle(spark):
    """text_boilerplate_spans (r12): token-level work never shuffles —
    the only shuffle exchanges are the explicit corpus fan-out (written
    ONCE; the three consumers canonicalize identically and AQE reuses
    it) and the span-hash document-frequency aggregate. The final
    executed plan must show the reuse, and no token-keyed exchange,
    cartesian, or Python eval may appear."""
    import re

    df = REGISTRY["text_boilerplate_spans"].fn(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan so reuse is visible
    plan = explain_str(df)
    # judge only the executed plan, not the appended "Initial Plan"
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("ReusedExchange") == 2, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    # one corpus fan-out (reused twice) + the span-hash count aggregate
    assert len(shuffles) <= 2, (len(shuffles), plan)


def test_boilerplate_delta_probe_bucketed_and_pushed(spark):
    """text_boilerplate_delta_classify (r12): the stored span-count
    table must be read through its BUCKETED layout with the hotness
    threshold reaching the parquet scan as a pushed filter — the probe
    never reshuffles the stored side, and every exchange is
    delta-sized: the delta fan-out (one subtree, reused across the span
    and assembly branches at runtime), the per-doc occurrence fold, and
    — when the probe plans as SMJ instead of broadcast — the delta-side
    sort exchange. A stored-side shuffle would push the count past the
    bound."""
    import re

    df = REGISTRY["text_boilerplate_delta_classify"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "Bucketed: true" in plan, plan
    assert "GreaterThanOrEqual(ndocs,3)" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 4, (len(shuffles), plan)


def test_banded_bucket_stage_task_count_pinned(spark):
    """dedup_simhash_pairs / multimodal_phash_neardup (r13): the in-bucket
    O(k²) pair expansion is compute-dense per byte, and AQE's size-based
    coalescing collapses it to ONE task on byte-small inputs (r13 profile:
    phash's bucket stage ran 1 task × 0.7–1.5 s cpu; simhash A/B best
    1.82 vs 3.08 s at sf0.1). Both registered banded_hamming_pairs
    consumers must pin the (band, band_val) exchange as an explicit
    REPARTITION_BY_NUM (exempt from AQE coalescing) that the groupBy
    REUSES — pinning must not introduce a second bucket-keyed exchange."""
    import re

    for name in ("dedup_simhash_pairs", "multimodal_phash_neardup"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        bucket_ex = sorted(set(re.findall(
            r"hashpartitioning\(band#\d+, band_val#\d+L?, \d+\), (\w+)",
            plan,
        )))
        assert bucket_ex == ["REPARTITION_BY_NUM"], (name, bucket_ex, plan)


def test_basket_stage_task_count_pinned(spark):
    """join_market_basket_pairs / join_association_rules (r13 session 2):
    collect_set gets no real map-side reduction, so the basket groupBy's
    exchange carries ~raw bytes either way — but as ENSURE_REQUIREMENTS
    its byte-small output let AQE coalesce the basket-assembly + O(k²)
    pair-expansion stage onto 4 tasks (profiled 2.8 s cpu / 4 tasks at
    sf0.1; interleaved A/B best 1.11 vs 1.76 s, every pinned pass ahead).
    Both basket consumers must pin the l_orderkey exchange as an explicit
    REPARTITION_BY_NUM that the groupBy REUSES — pinning must not
    introduce a second basket-keyed exchange."""
    import re

    for name in ("join_market_basket_pairs", "join_association_rules"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        basket_ex = [
            d for k, d in re.findall(
                r"hashpartitioning\((l_orderkey)#\d+L?, \d+\), (\w+)", plan
            )
        ]
        # association_rules also aggregates count_distinct(l_orderkey) on
        # a separate branch (its one ENSURE exchange); the BASKET branch
        # must carry exactly one REPARTITION_BY_NUM and no second
        # basket-keyed ENSURE exchange feeding a collect_set
        want = {
            "join_market_basket_pairs": ["REPARTITION_BY_NUM"],
            "join_association_rules": [
                "REPARTITION_BY_NUM", "ENSURE_REQUIREMENTS"
            ],
        }[name]
        assert basket_ex == want, (name, basket_ex)
        assert "collect_set" in plan


def test_semdedup_pair_stage_task_count_pinned(spark):
    """dedup_semantic / dedup_semantic_scaled (r13 session 2): the
    checkpointed assignment is byte-small at test scale, so the pair
    join's ENSURE_REQUIREMENTS cid exchanges were AQE-coalesced to ONE
    task carrying the whole banded-cosine join condition (profiled
    1.39 s cpu / 1 task; interleaved A/B best 2.56 vs 3.67 s, every
    pinned pass ahead). Every cid exchange feeding the pair join must be
    an explicit REPARTITION_BY_NUM."""
    import re

    for name in ("dedup_semantic", "dedup_semantic_scaled"):
        plan = explain_str(REGISTRY[name].fn(spark, SF_DIR))
        cid_ex = sorted(set(re.findall(
            r"hashpartitioning\(cid#\d+, \d+\), (\w+)", plan
        )))
        assert cid_ex == ["REPARTITION_BY_NUM"], (name, cid_ex)
