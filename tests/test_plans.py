"""Physical-plan assertions: the scale properties the engine promises
(pushdown, broadcast strategy, shuffle counts, Arrow batching) must be
visible in the plans Catalyst actually produces — a regression here is
a 100 TB performance bug even when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stacktrend_spark.operators.dedup import simhash_narrow
from stacktrend_spark.plans.registry import all_queries
from stacktrend_spark.sources.tables import load_table
from tools.parity_audit import checkpoint_inputs
from tools.plan_shape import formatted_plan


@pytest.fixture()
def checkpointed():
    """Every frame handed to localCheckpoint while the test builds its
    query. The ranking operators cut their lineage there, so their range
    exchange and _pid windows live in these plans, not in the query's
    own plan (which shows a LogicalRDD in their place)."""
    with checkpoint_inputs() as frames:
        yield frames


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """The flagship query's shipdate filter must reach the scan —
    otherwise every 100 TB scan reads every row group."""
    p = formatted_plan(all_queries()["q1_pricing_summary"].fn(spark, sf_dir))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0]
    assert "LessThanOrEqual" in pushed[0]


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q1 touches 7 lineitem columns; the scan schema must not include
    untouched wide columns like l_comment."""
    p = formatted_plan(all_queries()["q1_pricing_summary"].fn(spark, sf_dir))
    schema_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert schema_lines and "l_comment" not in schema_lines[0]


def test_dimension_joins_broadcast(spark, sf_dir):
    """Star joins against region/nation/customer must be broadcast hash
    joins (small dims), never sort-merge: at 100 TB a sort-merge here
    shuffles the full fact table."""
    p = formatted_plan(all_queries()["join_revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_simhash_is_shuffle_free(spark, sf_dir):
    """The narrow SimHash promises a map-only plan: zero Exchanges."""
    docs = load_table(spark, sf_dir, "documents")
    p = formatted_plan(simhash_narrow(docs, "doc_id", "text"))
    assert "Exchange" not in p


def test_bruteforce_cosine_broadcasts_queries(spark, sf_dir):
    """Brute-force ANN must broadcast the (tiny) query side; the corpus
    side streams through without a shuffle."""
    p = formatted_plan(all_queries()["sim_bruteforce_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p


def test_ivf_cosine_is_equi_join(spark, sf_dir):
    """The IVF path prunes via a bucket equi-join — must be a broadcast
    HASH join on the cell id, not a nested-loop scan."""
    p = formatted_plan(all_queries()["sim_ivf_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_multimodal_uses_arrow_batches(spark, sf_dir):
    """Feature extraction must cross the Python boundary via
    MapInPandas (Arrow batches), not row-at-a-time python UDFs."""
    p = formatted_plan(all_queries()["multimodal_features"].fn(spark, sf_dir))
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_minhash_verification_broadcasts_candidates(spark, sf_dir):
    """Candidate verification joins must broadcast the candidate pair
    list — the corpus' shingle arrays must not shuffle."""
    p = formatted_plan(all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_salted_agg_spreads_hot_key(spark, sf_dir):
    """The salted aggregate must be TWO aggregation rounds — the first
    keyed by (key, salt) so a hot key spreads over B reduce tasks. The
    salt must be deterministic (hash, not rand)."""
    p = formatted_plan(all_queries()["skew_salted_agg"].fn(spark, sf_dir))
    assert p.count("HashAggregate") >= 4  # partial+final × two rounds
    assert "rand" not in p.lower()


def test_salted_join_broadcasts_replicated_small_side(spark, sf_dir):
    """The salted join replicates the small side B× — it must still be
    broadcast (B·|small| is tiny); the big side must not sort-merge."""
    p = formatted_plan(all_queries()["skew_salted_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bucketed_join_is_shuffle_free(spark):
    """Pre-bucketed tables co-locate their join: the sort-merge join
    must read both sides WITHOUT an Exchange — the 100 TB lever for
    repeated big-big joins on a stable key. (Managed tables land in the
    session warehouse dir; DROP TABLE below removes their files.)"""
    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    right = spark.range(0, 1000).withColumnRenamed("id", "k")
    left.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_l")
    right.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_r")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = formatted_plan(spark.table("bkt_l").join(spark.table("bkt_r"), "k"))
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_l")
        spark.sql("DROP TABLE IF EXISTS bkt_r")


def test_flagship_query_stays_in_codegen(spark, sf_dir):
    """q1's scan→filter→project→aggregate spine must run inside
    WholeStageCodegen spans — dropping to interpreted eval is a silent
    multi-× regression at scale. AQE only reveals codegen in the FINAL
    plan, so materialize first and read the executed plan."""
    df = all_queries()["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # count() builds a separate execution; collect finalizes THIS plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    # "*(n)" operator prefixes are the WholeStageCodegen markers
    assert "*(" in executed


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of join promises ONE shuffle (the per-key range window
    over the union) — no inequality-join blow-up, no extra exchanges.
    Formatted explain prints each node once in the tree and once in the
    detail section; count the detail headers."""
    import re

    p = formatted_plan(all_queries()["asof_purchase_login"].fn(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchanges == 1


def test_iqr_fences_broadcast(spark, sf_dir):
    """The per-type IQR fence table is dimension-sized at any data
    scale — joining it back must broadcast, never sort-merge the full
    event stream."""
    p = formatted_plan(all_queries()["outlier_iqr_filter"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_stratified_sample_single_shuffle(spark, sf_dir):
    """Content-hash stratified sampling is a map-side filter: the only
    Exchange in the plan is the final per-type summary aggregation."""
    # formatted explain prints each node twice (tree + detail section);
    # count tree nodes only.
    p = formatted_plan(all_queries()["sample_stratified_hash"].fn(spark, sf_dir))
    assert p.count("+- Exchange") == 1


def test_tech_metrics_single_window_pass_no_sorts(spark, sf_dir):
    """gold_tech_metrics computes 5 ranks over 5 orderings in ONE
    unordered global window (collect_list + array-filter ranks over the
    bounded 25-brand group set) — the plan must contain exactly one
    Window node and ZERO Sort nodes (five row_number windows would plan
    five sorts)."""
    import re

    p = formatted_plan(all_queries()["gold_tech_metrics"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Window", p, flags=re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Sort", p, flags=re.M)) == 0


def test_portfolio_crossjoins_broadcast(spark, sf_dir):
    """gold_portfolio_overview crossJoins three 1-row aggregates; the
    broadcast hints must hold so AQE plans broadcast loops, not a
    cartesian product."""
    p = formatted_plan(all_queries()["gold_portfolio_overview"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_lsh_topk_joins_on_bucket_hash(spark, sf_dir):
    """Sign-LSH ANN must candidate-join on the bucket id with a HASH
    join (broadcast or shuffled) — a nested-loop scan would mean the
    signature pruning isn't reaching the join."""
    p = formatted_plan(all_queries()["sim_lsh_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketed tables pay the shuffle once at write time: an equi-join
    of two same-bucketed tables on the bucket key must plan ZERO
    Exchanges (operators/bucketing.py — the 100 TB recurring-join
    lever)."""
    import re

    from stacktrend_spark.operators.bucketing import bucketed_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], buckets=8)
    write_bucketed(li, "b_lineitem", ["o_orderkey"], buckets=8)
    joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
    p = formatted_plan(joined)
    assert "SortMergeJoin" in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M)) == 0
    # and it actually produces the join's rows
    assert joined.count() == li.count()


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """Decontamination must broadcast the (tiny) benchmark gram set —
    the corpus side must never shuffle for the contamination check
    (plans/curation.py: benchmarks are MBs, corpora are TBs)."""
    p = formatted_plan(all_queries()["text_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_validation_counts_single_aggregate_no_extra_scans(spark, sf_dir):
    """The whole rules ledger must cost ONE scan + ONE aggregate: every
    rule evaluates map-side into the same projection. A per-rule scan
    would multiply a 100 TB audit by the rule count."""
    import re

    p = formatted_plan(all_queries()["validation_violations"].fn(spark, sf_dir))
    # count numbered plan nodes (each appears once in the tree and once
    # in the detail section; the detail header is "(N) NodeName")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    # one partial + one final hash aggregate pair, single exchange
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_keyword_extraction_is_fused_map_only(spark, sf_dir):
    """Keyword extraction is pure array/string exprs fused into the
    scan's projection: zero exchanges, zero Python evals."""
    p = formatted_plan(all_queries()["silver_keyword_extraction"].fn(spark, sf_dir))
    assert "Exchange" not in p
    assert "Python" not in p  # no UDF/eval nodes


def test_tech_metrics_micro_scores_stay_bigint(spark, sf_dir):
    """The flagship's hashed score columns are exact BIGINT micro-units
    (PARITY.md Tier 0) — a refactor reintroducing doubles or decimals
    here reopens the driver-environment float lottery."""
    df = all_queries()["gold_tech_metrics"].fn(spark, sf_dir)
    types = dict(df.dtypes)
    for c in (
        "total_watchers",
        "momentum_score_micro",
        "sustainability_score_micro",
    ):
        assert types[c] == "bigint", (c, types[c])


def test_registered_bucketed_query_exchange_free_join(spark, sf_dir):
    """The REGISTERED bucketed query (plans/layout.py) must keep the
    exchange-free join: the only Exchange allowed in the whole plan is
    the single-partition shuffle for the final small aggregate."""
    import re

    from stacktrend_spark.plans.layout import _bucketed_join_frame

    p = formatted_plan(_bucketed_join_frame(spark, sf_dir))
    assert "SortMergeJoin" in p
    joins = p.split("SortMergeJoin")[0]
    assert len(re.findall(r"^\(\d+\) Exchange", joins, flags=re.M)) == 0


def test_partition_pruning_filter_is_metadata_only(spark, sf_dir):
    """The partitioned read's event_type predicate must land in
    PartitionFilters (directory listing), NOT survive as a data filter
    over the scanned rows (plans/layout.py)."""
    from stacktrend_spark.plans.layout import _pruned_read_frame

    p = formatted_plan(_pruned_read_frame(spark, sf_dir))
    part_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert part_lines and "event_type" in part_lines[0]
    data_filters = [
        l
        for l in p.splitlines()
        if l.strip().startswith("Condition") and "event_type" in l
    ]
    assert not data_filters


def test_heavy_hitter_candidates_broadcast(spark, sf_dir):
    """The exact pass of the two-pass heavy hitters must BROADCAST the
    candidate set against the gram stream — at 100 TB the full gram
    stream must never shuffle (plans/curation.py)."""
    p = formatted_plan(all_queries()["heavy_hitters_twopass"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lm_scoring_broadcasts_model(spark, sf_dir):
    """Bigram-LM scoring joins the corpus against the (tiny) count
    tables: both LM joins and the global-mean join must broadcast —
    the corpus side must never shuffle for scoring."""
    p = formatted_plan(all_queries()["text_lm_score"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 3


def test_er_cross_pairs_stay_on_distinct_values(spark, sf_dir):
    """Blocked ER's pairwise join runs over the per-block DISTINCT-name
    aggregate, not over part rows: both join inputs must be
    HashAggregate outputs (plans/linkage.py)."""
    p = formatted_plan(all_queries()["er_blocked_name_match"].fn(spark, sf_dir))
    import re

    join_line = [l for l in p.splitlines() if "Join" in l and "Broadcast" in l]
    assert join_line, "expected a broadcast join of the aggregated pair stats"
    assert "SortMergeJoin" not in p
    # levenshtein must be evaluated on the aggregated DISTINCT-name
    # stream — its project consumes the aggregate's cnt outputs, never
    # raw part rows
    lev_lines = [l for l in p.splitlines() if "levenshtein" in l]
    assert lev_lines and all("cnt#" in l for l in lev_lines)
    # and column pruning collapses every scan to the single needed
    # column (p_partkey itself is aggregated away before any join)
    schema_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert schema_lines and all(
        l.endswith("struct<p_name:string>") for l in schema_lines
    )


def test_interval_overlap_is_a_hash_join_not_nested_loop(spark, sf_dir):
    """Day-banding must turn the interval-overlap predicate into an
    equi-join Catalyst can hash: a BroadcastNestedLoopJoin or
    CartesianProduct here means the band key was lost and the join is
    O(|A|x|B|) per user (plans/linkage.py)."""
    p = formatted_plan(all_queries()["interval_overlap_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_compliance_audit_broadcasts_deletion_keys(spark, sf_dir):
    """The right-to-be-forgotten audit must broadcast the (small)
    deletion key set down the FK chain — a fact-side shuffle for a
    key-list semi-join is a 100 TB anti-pattern (plans/lakehouse.py)."""
    p = formatted_plan(all_queries()["compliance_delete_audit"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_market_basket_broadcasts_item_counts(spark, sf_dir):
    """Confidence/lift attach per-item counts onto surviving pairs via
    broadcast — re-shuffling the pair table on item keys would be a
    second full shuffle of the largest intermediate
    (plans/behavioral.py)."""
    p = formatted_plan(all_queries()["market_basket_rules"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join EVIDENCE (r5, verdict task 7): on a deliberately
    skewed join (90% of the big side on one key) with thresholds scaled
    to local data volumes, the executed adaptive plan must actually
    split the hot partition — the runtime remedy session.py promises
    for sort-merge-join skew at 100 TB. Salting (operators/skew.py)
    remains the tool for aggregation skew and stats-blind inputs;
    this pins that the AQE path genuinely fires for join skew."""
    tuned = {
        # production defaults target 256 MB partitions; scale to the
        # ~3 MB local shuffle so the same 5x-median trigger logic runs
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 200_000, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = big.join(small, "k")
        # 180k rows share k=0 -> one hot partition ~90x the median.
        # collect() (not count()) so the materialized execution is the
        # join df's OWN QueryExecution — executedPlan() below must show
        # the final adaptive plan, not a fresh un-run one
        assert len(joined.collect()) == 180_000 + 200
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, f"AQE skew split did not fire:\n{final}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_nearest_join_is_bucketed_equi_join(spark, sf_dir):
    """Nearest-within-tolerance must plan as an equi-join on
    (key, time-bucket) — a BroadcastNestedLoopJoin on the |gap| <= tol
    predicate would be a cross product at 100 TB
    (operators/temporal.nearest_join)."""
    p = formatted_plan(all_queries()["asof_nearest_click"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_kmv_rank_cut_pushes_group_limit(spark, sf_dir):
    """The KMV sketch's row_number <= K filter must become a
    WindowGroupLimit (per-partition top-K push-down) — without it every
    group's FULL distinct-hash set sorts in one task before the cut
    (plans/sketches.py)."""
    p = formatted_plan(all_queries()["kmv_distinct_sketch"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_compaction_running_sum_is_two_phase(spark, sf_dir, checkpointed):
    """The compaction planner's running sum must come from the range-
    partitioned two-phase operator — a single-partition global window
    over the file catalog is the banned anti-pattern
    (operators/ranking.global_running_sum_scalable)."""
    df = all_queries()["compaction_bin_packing"].fn(spark, sf_dir)
    plans = [formatted_plan(f) for f in (df, *checkpointed)]
    # two-phase = local window partitioned by _pid after a RangePartitioning
    assert any("rangepartitioning" in p.lower() for p in plans)
    for p in plans:
        assert "SinglePartition" not in p.split("Window")[0] if "Window" in p else True


def test_table_diff_drill_broadcasts_bucket_list(spark, sf_dir):
    """The anti-entropy drill join must be pre-filtered by the (tiny,
    broadcast) mismatched-bucket list so repair cost scales with the
    diff, not the table (plans/lakehouse.table_diff_by_fingerprint)."""
    p = formatted_plan(all_queries()["table_diff_by_fingerprint"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_geo_nearest_is_cell_equi_join(spark, sf_dir):
    """The grid nearest-neighbor must candidate via an equi-join on the
    cell id — a cartesian/nested-loop over customers × suppliers is
    exactly what the grid exists to avoid."""
    p = formatted_plan(all_queries()["geo_grid_nearest"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cms_sketch_builds_from_count_table(spark, sf_dir):
    """CMS is linear: the sketch aggregates the per-key count table
    (one corpus shuffle) and broadcasts the ≤ d·w-row sketch to the
    probes — the probe join must be a broadcast, not a shuffle."""
    p = formatted_plan(all_queries()["cms_heavy_hitters"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_target_encode_broadcasts_category_stats(spark, sf_dir):
    """LOO target encoding joins the #categories aggregate back to the
    fact side via broadcast — the fact table must not shuffle for the
    encode join."""
    p = formatted_plan(all_queries()["target_encode_loo"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES top-k must plan TakeOrderedAndProject (per-partition top-k),
    never a global Sort of the keyed corpus."""
    p = formatted_plan(all_queries()["weighted_sample_aes"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_setsim_candidates_are_equi_join_on_shingle(spark, sf_dir):
    """Prefix filtering self-joins ONLY on the shingle equi-key; any
    nested-loop shape means the prefix filter degenerated to all-pairs."""
    p = formatted_plan(all_queries()["setsim_prefix_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_codebook_broadcasts(spark, sf_dir):
    """PQ candidate generation crosses each vector with the 128-row
    codebook — that side must broadcast (map-side amplification), the
    corpus must not shuffle before the argmin."""
    p = formatted_plan(all_queries()["embedding_pq_codes"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_interval_merge_windows_share_one_sort(spark, sf_dir):
    """Both gaps-and-islands windows ride the same (user, s)-ordering:
    the plan must contain exactly ONE Exchange (the user_id shuffle) —
    a second Exchange means the island window re-partitioned."""
    p = formatted_plan(all_queries()["interval_merge_coverage"].fn(spark, sf_dir))
    # count hashpartitioning Exchanges over user_id-rooted keys
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2  # one for the window chain, one for the final agg at most


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime Bloom-filter join reduction (the engine-native
    form of semi-join pushdown) must inject a might_contain() filter on
    the fact side when the dim side is selective. At 100 TB this is
    the optimization that keeps a selective dim join from scanning the
    whole fact shuffle; the conf thresholds are scaled down here
    because the testdata is far below the production defaults
    (applicationSideScanSizeThreshold=10GB)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter did not inject"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_star_candidates_use_grouped_min_not_window_or_self_join(spark, sf_dir):
    """The bounded LSH variant must generate candidates from a
    groupBy-min over the band digest (map-side-combinable — a
    mega-bucket reduces before the shuffle) joined back to the band
    rows — never a WindowExec (buffers the whole bucket in one task)
    and never the band self-join (whose output is Σ bucket²)."""
    p = formatted_plan(all_queries()["dedup_minhash_star"].fn(spark, sf_dir))
    assert "HashAggregate" in p
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_dedup_probes_rep_index_only(spark, sf_dir):
    """Incremental batch dedup joins batch band rows to the per-bucket
    representative index on the band-key equi-join; no self-join of the
    corpus side may appear."""
    p = formatted_plan(all_queries()["dedup_incremental_batch"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # candidate generation aggregates the index side to (bucket → min)
    # before any join: a HashAggregate must exist upstream of the probe
    assert "HashAggregate" in p


def test_budget_cut_has_no_single_partition_window(spark, sf_dir, checkpointed):
    """quality_budget_cut's prefix sum must be the two-phase form:
    every WindowExec partitioned (by spark_partition_id), never a
    global single-partition window — at 100 TB an unpartitioned
    running sum serializes the whole corpus through one task."""
    df = all_queries()["quality_budget_cut"].fn(spark, sf_dir)
    assert _unpartitioned_window_orderings(df, *checkpointed) == []


def test_curriculum_rank_has_no_single_partition_window(spark, sf_dir, checkpointed):
    """Same two-phase guarantee for the curriculum stage rank."""
    df = all_queries()["curriculum_stage_assign"].fn(spark, sf_dir)
    assert _unpartitioned_window_orderings(df, *checkpointed) == []


def test_feature_hashing_no_joins_no_window(spark, sf_dir):
    """The hashing-trick encoder must stay vocabulary-free: a pure
    map-side explode + one aggregate — no joins, no windows — or it
    stops working on unbounded feature streams."""
    p = formatted_plan(all_queries()["feature_hashing_trick"].fn(spark, sf_dir))
    assert "Join" not in p and "Window" not in p
    # two aggregate exchanges: (bucket, feat) partial for the distinct
    # count, then bucket — count the detail-section node headers
    n_exchanges = len(
        [l for l in p.splitlines() if l.startswith("(") and "Exchange" in l]
    )
    assert n_exchanges <= 2


def test_t_closeness_broadcasts_global_band_counts(spark, sf_dir):
    """Global sensitive-band counts and the total must join as
    broadcasts — the per-class fact side never shuffles for them."""
    p = formatted_plan(all_queries()["t_closeness_audit"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in p


def test_gopher_rules_no_udf_no_cartesian(spark, sf_dir):
    """The published-rule panel is pure column exprs: no Python
    boundary, no cartesian product; the top-word share joins back
    key-local on doc_id (hash join, either side)."""
    p = formatted_plan(all_queries()["gopher_quality_rules"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_nprobe_sweep_is_cell_bounded(spark, sf_dir):
    """Every sweep arm must prune candidates via the cell equi-join —
    a hash join on the cell id, never a nested-loop over the corpus
    (the 20-query brute-force ground truth is the one deliberate
    broadcast scan)."""
    p = formatted_plan(all_queries()["ann_nprobe_recall_sweep"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_semdedup_twin_plan_shape(spark, sf_dir, checkpointed):
    """The r9 SemDeDup scale twin: cell assignment is map-only
    (MapInArrow, broadcast centroids in the closure — no corpus join),
    chunk factors join as a broadcast hash join, pair scoring is a
    grouped Pandas kernel, and nothing degenerates to a cartesian. The
    assigned corpus is checkpointed, so its plan is read there."""
    from stacktrend_spark.plans.northstar import dedup_semdedup_pairs

    df = dedup_semdedup_pairs(spark, sf_dir)
    p = "\n".join(formatted_plan(f) for f in [df, *checkpointed])
    assert "MapInArrow" in p
    assert "FlatMapGroupsInPandas" in p
    assert "BroadcastHashJoin" in p  # the tiny chunk-factor table
    assert "CartesianProduct" not in p


def test_rrf_lexical_leg_is_df_capped(spark, sf_dir):
    """The r9 DF-cap fix: the posting join's vocabulary must be
    LeftSemi-filtered against the df<=cap word set BEFORE the overlap
    join (uncapped postings were measured quadratic — SCALE.md r9)."""
    from stacktrend_spark.plans.mlprep import hybrid_rrf_fusion

    p = formatted_plan(hybrid_rrf_fusion(spark, sf_dir))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_substring_spans_two_exchanges_and_pushdown(spark, sf_dir):
    """ExactSubstr coverage promises: the gram set crosses the two
    expected partitionings (gram key for the anchor window, then
    doc_id for coalescing+aggregates), no third shuffle sneaks in
    (upper bound, not exact count — exact counts are brittle across
    Spark/AQE version bumps; r9 ADVICE), and the n_chars >= K filter
    reaches the parquet scan."""
    import re

    p = formatted_plan(all_queries()["dedup_substring_spans"].fn(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchanges <= 2
    assert re.search(r"hashpartitioning\(g#", p)
    assert re.search(r"hashpartitioning\(doc_id#", p)
    assert "GreaterThanOrEqual(n_chars,32)" in p


def _unpartitioned_window_orderings(*frames) -> list[str]:
    """Order-key text of every windowspecdefinition in the OPTIMIZED
    plans of ``frames`` (a query and the frames it checkpointed) that
    is NOT partitioned by the two-phase operator's _pid — the physical
    plan hides windows inside persisted subtrees, so the
    single-partition audit reads the optimized plans."""
    bad = []
    for f in frames:
        p = f._jdf.queryExecution().optimizedPlan().toString()
        for line in p.splitlines():
            low = line.lower()
            if "windowspecdefinition(" in low and "_pid" not in low:
                bad.append(line.strip())
    return bad


def test_quantile_bins_rank_is_two_phase(spark, sf_dir, checkpointed):
    """feature_quantile_bins' fence rank must be the range-partitioned
    two-phase form (r9 verdict task 2) — zero unpartitioned windows
    anywhere in the plan; at 100 TB a global row_number funnels every
    order through one task."""
    df = all_queries()["feature_quantile_bins"].fn(spark, sf_dir)
    assert _unpartitioned_window_orderings(df, *checkpointed) == []


def test_quantile_drift_rank_is_two_phase(spark, sf_dir, checkpointed):
    """Both year slices of quantile_drift_boundaries rank through the
    two-phase operator; the COUNT(*) OVER () joins back as a broadcast
    aggregate — zero unpartitioned windows (r9 verdict task 2)."""
    df = all_queries()["quantile_drift_boundaries"].fn(spark, sf_dir)
    assert _unpartitioned_window_orderings(df, *checkpointed) == []


def test_gains_deciles_ntile_is_two_phase(spark, sf_dir, checkpointed):
    """model_gains_deciles' NTILE must come from the two-phase global
    rank + fill-rule expression (r9 verdict task 2). The only
    unpartitioned window allowed is the cumulative sum over the 10-row
    decile spine."""
    df = all_queries()["model_gains_deciles"].fn(spark, sf_dir)
    bad = _unpartitioned_window_orderings(df, *checkpointed)
    assert all("decile" in b for b in bad), bad
    assert not any("ntile" in b.lower() for b in bad), bad


def test_r10_extended_conversions_have_no_fact_scale_windows(spark, sf_dir, checkpointed):
    """The r10 extension of the single-partition-window purge: the
    five remaining SF-scaling frames (customer ranks, user latencies,
    part dominance sweep, part layout ranks, vocabulary rank+prefix
    sum) must show zero unpartitioned windows — every order statistic
    routes through the two-phase operators."""
    for name in (
        "spearman_rank_corr",
        "conversion_latency_quantiles",
        "skyline_price_size",
        "zorder_vs_linear_skipping",
        "vocab_coverage_curve",
    ):
        df = all_queries()[name].fn(spark, sf_dir)
        assert _unpartitioned_window_orderings(df, *checkpointed) == [], name


def test_theilsen_pair_rank_is_two_phase(spark, sf_dir, checkpointed):
    """theilsen_mann_kendall's median-slope rank runs over the O(n²)
    pair grid — that frame must use the two-phase operator (r9 verdict
    task 2); the only unpartitioned window allowed is the month-spine
    row_number (calendar-bounded)."""
    df = all_queries()["theilsen_mann_kendall"].fn(spark, sf_dir)
    bad = _unpartitioned_window_orderings(df, *checkpointed)
    assert all("mth" in b for b in bad), bad
    assert not any("slope" in b.lower() for b in bad), bad
