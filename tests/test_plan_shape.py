"""Physical-plan shape assertions: the scale claims, pinned.

Oracle parity proves values; these tests prove the PLAN is the one the
100 TB story depends on — partitioned windows, composite equi-join keys,
broadcast small sides — so a regression that stays value-correct but
reintroduces a single-reducer or a residual-only join fails CI."""

from __future__ import annotations

from event_store_spark.plans import QUERIES


def _plan(spark, sf, name) -> str:
    df = QUERIES[name](spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scale_rank_windows_are_partitioned(spark, sf_correct):
    """q19/q50 scale paths: every window partitions by the band — no
    'No Partition Defined' single-reducer sort."""
    for name in ("q19_scale", "q50_scale"):
        plan = _plan(spark, sf_correct, name)
        assert "_band" in plan, name
        # an unpartitioned window renders as windowspecdefinition(<sort>...)
        # with no partition expressions; band-partitioned plans carry _band
        # inside the Window node itself
        for line in plan.splitlines():
            if line.strip().startswith("Window ") or "WindowExec" in line:
                assert "_band" in line, f"{name}: unpartitioned window: {line}"


def test_ngram_jaccard_never_enumerates_zero_overlap_pairs(spark, sf_correct):
    """Round-8 re-plan (VERDICT r7): the candidate count is histogram
    combinatorics and Jaccard work happens ONLY for gram-sharing pairs —
    the doc-pair join is an equi-join on the gram string (inverted
    index), never a banded all-pairs enumeration, and never a
    cartesian/nested-loop product. The one intentional cross join is the
    final two-single-row-aggregate assembly."""
    plan = _plan(spark, sf_correct, "dedup_ngram_jaccard")
    assert "g#" in plan  # gram equi key drives the doc-pair join
    assert "Generate explode" in plan  # inverted index built ONCE per doc
    # the only allowed non-equi join is the single-row x single-row
    # assembly of the two aggregates (a broadcast Cross of 1-row sides)
    crosses = [
        line
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line or "CartesianProduct" in line
    ]
    assert len(crosses) <= 1, crosses
    assert all("Cross" in c or "CartesianProduct" in c for c in crosses)


def test_ann_plans_broadcast_the_query_side(spark, sf_correct):
    """LSH/multi-probe/IVF: the one-row (or k-row) query/probe side is
    broadcast; the corpus side is never shuffled for the join."""
    for name in ("ann_lsh_topk", "ann_multiprobe_topk", "ann_ivf_topk", "ann_ivf_nprobe"):
        plan = _plan(spark, sf_correct, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_source_quota_window_partitioned_by_source(spark, sf_correct):
    plan = _plan(spark, sf_correct, "source_quota")
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "source" in line, f"unpartitioned window: {line}"


def test_sample_stratified_is_map_side(spark, sf_correct):
    """The keep predicate is row-local: exactly one exchange in the whole
    plan (the final per-lang aggregation), none before the filter."""
    plan = _plan(spark, sf_correct, "sample_stratified")
    assert plan.count("Exchange") <= 2  # partial→final agg exchange only
    head = plan.split("Exchange")[-1]  # deepest fragment: scan side
    assert "Filter" in head or "Scan" in head


def test_contamination_join_is_hash_equi(spark, sf_correct):
    plan = _plan(spark, sf_correct, "contamination_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_grouped_tokenizes_corpus_once(spark, sf_correct):
    """The groupBy parity twin's defining property: exactly one documents
    scan (round 2's self-join lineage tokenized the corpus twice). The
    broadcast default trades this for two map-side scans — the eval scan
    is source-pruned at the parquet reader and neither side shuffles."""
    plan = _plan(spark, sf_correct, "contamination_grouped")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")


def test_tfidf_is_single_action_with_broadcast_count(spark, sf_correct):
    """The doc count rides the plan as a broadcast one-row aggregate —
    no separate driver count() job."""
    plan = _plan(spark, sf_correct, "tfidf_top_terms")
    assert "_n_docs" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dedup_embedding_joins_on_lsh_bucket_with_guard(spark, sf_correct):
    """The registered dedup_embedding blocks on the hyperplane LSH bucket
    (not the label stand-in) and carries the bucket-size guard join."""
    plan = _plan(spark, sf_correct, "dedup_embedding")
    assert "bucket" in plan
    assert "label" not in plan  # blocking key is data-derived, not the label
    assert "raise_error" in plan  # the max_bucket guard is in the EXECUTED plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_topk_broadcasts_queries_and_partitions_window(spark, sf_correct):
    """Batch k-NN join: the query set is one broadcast, the per-query top-k
    window partitions by qid (parallel across queries, no global sort)."""
    plan = _plan(spark, sf_correct, "ann_batch_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "qid" in line, f"unpartitioned window: {line}"


def test_minhash_verified_never_degenerates(spark, sf_correct):
    """Two-stage dedup: LSH candidates via equi-join, exact verify joined
    back by doc_id — no cartesian/nested-loop anywhere."""
    plan = _plan(spark, sf_correct, "dedup_minhash_verified")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_repetition_is_map_side_no_explode(spark, sf_correct):
    """The 5-gram scoring stays inside the row: no Generate (explode) node,
    no UDF, exactly the one partial→final agg exchange, and the scan is
    column-pruned to (text, lang)."""
    plan = _plan(spark, sf_correct, "text_repetition")
    assert "Generate" not in plan  # grams never explode into rows
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2
    scan = plan[plan.rfind("ReadSchema"):][:200]
    assert "text" in scan and "doc_id" not in scan


def test_dataset_split_is_map_side(spark, sf_correct):
    """Split assignment is row-local md5 thresholding: one agg exchange,
    no join, no window."""
    plan = _plan(spark, sf_correct, "dataset_split")
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan and "Window" not in plan


def test_mixture_weights_window_is_post_aggregation(spark, sf_correct):
    """The unpartitioned window runs AFTER the per-source aggregation — on
    O(#sources) rows, never on documents: the agg's exchange must appear
    deeper in the plan (closer to the scan) than the window node."""
    plan = _plan(spark, sf_correct, "mixture_weights")
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    agg_below = [
        i for i, l in enumerate(lines) if "HashAggregate" in l and i > win
    ]
    assert agg_below, "window must sit above the per-source aggregation"


def test_asof_join_is_single_shuffle_window(spark, sf_correct):
    """The as-of join must stay in union+carry form: one hash exchange on
    the join key feeding a key-partitioned window — never an inequality
    join (nested-loop) or a per-left-row probe."""
    plan = _plan(spark, sf_correct, "asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(user_id" in plan
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "user_id" in line, f"unpartitioned asof window: {line}"


def test_range_join_banded_is_equi_on_bucket(spark, sf_correct):
    """The keyless interval join must meet on the time-bucket equi key with
    the range predicate as a residual — a residual-only join would be a
    nested-loop cartesian over all pairs."""
    plan = _plan(spark, sf_correct, "range_join_banded")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan
    assert "partial_count" in plan  # map-side combine before the final agg


def test_seq_packing_window_partitioned_by_lang(spark, sf_correct):
    """The prefix sum must parallelize across langs — an unpartitioned
    window would serialize the whole corpus through one reducer."""
    plan = _plan(spark, sf_correct, "seq_packing")
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "lang" in line, f"unpartitioned packing window: {line}"


def test_unigram_logprob_broadcasts_vocab(spark, sf_correct):
    """The vocabulary rides a broadcast join back onto the token stream
    (Zipf keeps it small); a shuffled join would re-partition the whole
    token explosion a second time."""
    plan = _plan(spark, sf_correct, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_text_chunking_no_join_no_cartesian(spark, sf_correct):
    """Chunk expansion stays inside the executor: generate+slice per row,
    no join in the plan at all."""
    plan = _plan(spark, sf_correct, "text_chunking")
    assert "Join" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_global_rank_tolerates_null_band(spark):
    """A NULL leading sort key lands in a dedicated first band instead of
    crashing the driver-side band bookkeeping."""
    from pyspark.sql import functions as F

    from event_store_spark.plans.scale_rank import global_rank

    df = spark.createDataFrame(
        [(None, "a"), (5, "b"), (10, "c"), (5, "d")], "v int, tag string"
    )
    ranked, total = global_rank(df, F.col("v"), ["v", "tag"])
    assert total == 4
    got = {r.tag: r._rank for r in ranked.collect()}
    assert got["a"] == 1               # NULL ranks first (NULLS FIRST parity)
    assert got["b"] == 2 and got["d"] == 3 and got["c"] == 4


def test_epoch_shuffle_head_is_take_ordered(spark, sf_correct):
    """The permutation probe must plan TakeOrdered (per-partition top-k +
    driver k-way merge), never a global sort feeding a limit."""
    plan = _plan(spark, sf_correct, "epoch_shuffle_head")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_minhash_cluster_family_no_cartesian(spark, sf_correct):
    """The CC-based cluster queries stay equi-join + aggregate all the way
    down: no cartesian/nested-loop anywhere in their final plans, and the
    memoized label table surfaces as a checkpointed scan (Scan ExistingRDD),
    NOT a re-derived join tree per query."""
    for name in ("dedup_minhash_clusters", "dedup_minhash_survivors"):
        plan = _plan(spark, sf_correct, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "ExistingRDD" in plan, name  # consumes the shared label scan


def test_contamination_broadcast_is_semi_join_no_corpus_shuffle(spark, sf_correct):
    """The broadcast formulation's contract: the corpus probe is a
    broadcast LEFT-SEMI hash join (benchmark grams broadcast), never a
    shuffled join of the full gram stream."""
    plan = _plan(spark, sf_correct, "contamination_broadcast")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_interleave_sources_window_partitioned_take_ordered(spark, sf_correct):
    """The interleave's scale contract: the row_number window partitions by
    source (never a corpus-wide single-reducer sort) and the head is
    TakeOrdered."""
    plan = _plan(spark, sf_correct, "interleave_sources")
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "source" in line, f"unpartitioned window: {line}"


def test_duplicate_spans_single_scan_no_window(spark, sf_correct):
    """Round-6 substring-dup: one corpus tokenization (the group-carry
    form), no pair join, and — the r6 rewrite — NO window at all: the
    per-doc interval union is a collect_list hash agg + in-array
    aggregate fold, so the only exchanges are the two keyed
    aggregations (gram hash, then doc_id)."""
    plan = _plan(spark, sf_correct, "duplicate_spans")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "interval union regressed to a window sort"


def test_ann_sq8_broadcasts_codebook_and_query(spark, sf_correct):
    """SQ8: the per-dim codebook and the query vector ride as broadcast
    one-row relations; the corpus is never shuffled; top-5 is
    TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_correct, "ann_sq8_topk")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_phash_dedup_is_block_equi_join(spark, sf_correct):
    plan = _plan(spark, sf_correct, "multimodal_phash_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_pair_counts_is_wordcount_shape(spark, sf_correct):
    """Explode → hash agg with map-side partials → TakeOrdered: at most
    the one aggregation exchange."""
    plan = _plan(spark, sf_correct, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 1, plan.count("Exchange")


def test_embedding_dedup_vectorized_no_pair_join(spark, sf_correct):
    """The vectorized bucket path: similarity runs inside applyInPandas
    (one Arrow pass per bucket) — the plan has NO self-join at all."""
    for name in ("dedup_embedding", "dedup_embedding_label"):
        plan = _plan(spark, sf_correct, name)
        assert "FlatMapGroupsInPandas" in plan, name
        assert "Join" not in plan or "BroadcastHashJoin" in plan, name
        assert "TakeOrderedAndProject" in plan, name


def test_funnel_single_data_shuffle_user_windows(spark, sf_correct):
    """Funnel: ONE hash exchange on user_id feeds all three stage windows
    AND the per-user aggregate (partitioning reuse); the only other
    exchange is the 1-row final rollup. No join anywhere."""
    plan = _plan(spark, sf_correct, "funnel_stages")
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    assert "Join" not in plan
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "user_id" in line, f"unpartitioned funnel window: {line}"


def test_cohort_retention_broadcasts_signup_dim(spark, sf_correct):
    """The signup dimension joins broadcast — the event log is never
    shuffled for the join, only for the final (cohort, offset) agg."""
    plan = _plan(spark, sf_correct, "cohort_retention")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_resample_ffill_series_partitioned_fill(spark, sf_correct):
    """Forward fill parallelizes across series: the window partitions by
    event_type, and grid/obs ride broadcast joins (no shuffled join)."""
    plan = _plan(spark, sf_correct, "resample_ffill")
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "event_type" in line, f"unpartitioned fill window: {line}"


def test_interarrival_window_and_agg_share_partitioning(spark, sf_correct):
    """LAG window and the per-type aggregate reuse one event_type
    exchange; the second exchange is only the tiny ordered output."""
    plan = _plan(spark, sf_correct, "interarrival_stats")
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    for line in plan.splitlines():
        if line.strip().startswith("Window ") or "WindowExec" in line:
            assert "event_type" in line, f"unpartitioned window: {line}"


def test_profile_columns_single_scan_single_heavy_exchange(spark, sf_correct):
    """Fused form (VERDICT r9 #3): ONE lineitem scan feeds the in-row
    column-tag explode, ONE (col, value) hash aggregate bounds the heavy
    exchange by the NDV, and a 4-key final aggregate derives the report —
    no Expand (the multi-distinct rewrite), no join, no per-column
    branches (the prior union form paid 8 stages of job floor at sf0.1)."""
    from event_store_spark.plans import pipeline6 as _p6
    from event_store_spark.plans.pipeline6 import PROFILE_COLS

    from event_store_spark.tables import forget

    # force the COLD plan: the (col, value) count table is memoized per
    # session AND persisted — dropping the memo entry alone is not enough,
    # because the CacheManager substitutes any still-persisted relation
    # whose logical plan matches the rebuilt one
    per_val = forget(spark, (_p6.profile_columns, sf_correct, tuple(PROFILE_COLS)))
    if per_val is not None:
        per_val.unpersist()
    plan = _plan(spark, sf_correct, "profile_columns")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Expand" not in plan
    # the only join allowed is the ADVICE-r10 empty-table shape fix: a
    # BROADCAST of the 4-row literal column-name frame against the final
    # aggregate — never a join on the data path
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    if "Join" in plan:
        assert "BroadcastHashJoin" in plan
        assert plan.count("Join") == plan.count("BroadcastHashJoin")
    import re as _re

    for schema in _re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert schema.count(":") == len(PROFILE_COLS), f"unpruned scan: {schema}"


def test_sample_weighted_is_take_ordered_no_shuffle(spark, sf_correct):
    """A-ES sampling: map-side key + TakeOrdered heaps — zero exchanges,
    never a global sort."""
    plan = _plan(spark, sf_correct, "sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0, plan.count("Exchange")
    assert "rangepartitioning" not in plan.lower()


def test_price_histogram_broadcasts_bounds(spark, sf_correct):
    """The min/max bounds ride as a broadcast one-row aggregate; the fact
    side shuffles only for the 20-bin final agg."""
    plan = _plan(spark, sf_correct, "price_histogram")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bpe_chain_is_checkpointed_and_shared(spark, sf_correct):
    """The 3-round build is memoized per (session, sf_dir) and each
    round is checkpointed, so (a) `bpe_train_merges` reads three one-row
    checkpointed argmaxes — no corpus parquet rescan, no Python eval —
    and (b) `bpe_encoded_stats` is ONE hash agg over the shared merged
    corpus, not a re-derivation of the merge chain."""
    from event_store_spark.plans import pipeline7 as p7
    from event_store_spark.tables import forget

    forget(spark, (p7._bpe_build, sf_correct))  # force a fresh build
    plan = _plan(spark, sf_correct, "bpe_train_merges")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Scan parquet" not in plan  # rides the checkpointed argmaxes
    assert plan.count("Scan ExistingRDD") == 3
    stats = _plan(spark, sf_correct, "bpe_encoded_stats")
    assert "Scan parquet" not in stats  # memo hit: shared merged corpus
    assert "Scan ExistingRDD" in stats
    assert stats.count("HashAggregate") == 2  # partial + final, nothing else


def test_decorrelated_queries_never_rescan_or_degenerate(spark, sf_correct):
    """q58/q59/q60: hand-decorrelated correlated subqueries — no
    cartesian, and q58/q60's thresholds/dims ride broadcast (no
    sort-merge). q59 deliberately scans lineitem TWICE: the measured
    re-plan (PERF.md round-5 third wave) aggregates per-part totals
    directly off lineitem — map-side partials collapse to one row per
    part before the exchange — which beat the single-scan
    window-over-own-aggregate form 0.82 s vs 1.17 s at sf0.1 because the
    window form full-sorts the (supp, part) aggregate. The join strategy
    is left to AQE (no forced broadcast), so SortMergeJoin is legal in
    q59's initial plan."""
    for name in ("q58", "q60"):
        plan = _plan(spark, sf_correct, name)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
    q59 = _plan(spark, sf_correct, "q59")
    assert "CartesianProduct" not in q59
    # two columnar lineitem scans (combine-collapsed) + supplier
    assert q59.count("Scan parquet") == 3
    # each lineitem scan is pruned to exactly the columns its branch needs
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,l_quantity:double>" in q59
    assert "ReadSchema: struct<l_partkey:bigint,l_quantity:double>" in q59


def test_pivot_has_no_domain_discovery_job(spark, sf_correct):
    """pivot() is called with the explicit value list, so the plan is one
    aggregation pipeline (base agg + pivotfirst) — no separate
    distinct-collect job to discover the pivot domain, no Expand."""
    plan = _plan(spark, sf_correct, "pivot_line_status")
    assert "pivotfirst" in plan
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 3  # two agg stages + output sort


def test_concurrency_peak_sweep_is_day_segmented(spark, sf_correct):
    """The sweep line is the two-pass distributed prefix-sum: the
    running-sum window partitions by (event_type, day) — never by
    event_type alone over raw points — and the carry window runs over
    the collapsed per-day table."""
    plan = _plan(spark, sf_correct, "concurrency_peak")
    windows = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    assert len(windows) == 2
    point_sweep = [w for w in windows if "delta" in w]
    assert point_sweep and all("day" in w for w in point_sweep), (
        "point-level running sum must be day-segmented: %s" % point_sweep
    )


def test_twa_window_and_agg_share_partitioning(spark, sf_correct):
    """time_weighted_avg: one exchange on event_type feeds both the LEAD
    window and the final hash agg; sums are decimal (exact), no Python."""
    plan = _plan(spark, sf_correct, "time_weighted_avg")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "decimal(38,0)" in plan


def test_gap_islands_collapses_before_window(spark, sf_correct):
    """gap_islands: the distinct (user, day) agg sits BELOW the
    row_number window (events collapse before any per-user sort), and
    the top-100 is TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_correct, "gap_islands")
    assert "TakeOrderedAndProject" in plan
    win = plan.index("windowspecdefinition")
    # the (user_id, day) distinct exchange must appear below the window
    below = plan[win:]
    assert "Exchange hashpartitioning(user_id" in below
    assert "day" in below[below.index("Exchange") :]


def test_ohlc_bars_is_one_agg_no_window(spark, sf_correct):
    """OHLC first/last ride min_by/max_by on a total-order key inside
    ONE hash aggregate — no window sort anywhere in the plan."""
    plan = _plan(spark, sf_correct, "ohlc_bars")
    assert "windowspecdefinition" not in plan
    assert "min_by" in plan and "max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ewma_fold_stays_in_codegen(spark, sf_correct):
    """The EWMA left fold is a Catalyst aggregate over the sorted value
    array — no Python eval, one shuffle on event_type."""
    plan = _plan(spark, sf_correct, "ewma_value")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "aggregate(" in plan  # the Catalyst fold expression
    assert plan.count("Exchange hashpartitioning") == 1


def test_rfm_thresholds_ride_broadcast_no_ntile(spark, sf_correct):
    """RFM scoring joins the one-row quartile aggregate by broadcast and
    never sorts customers globally (no window at all)."""
    plan = _plan(spark, sf_correct, "rfm_scores")
    assert "windowspecdefinition" not in plan  # no global ntile sort
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_user_paths_window_partitioned_rank_filtered(spark, sf_correct):
    """Path mining: the row_number window partitions by user_id, and the
    rank-≤3 filter sits between window and aggregation (the agg never
    sees more than 3 rows per user)."""
    plan = _plan(spark, sf_correct, "user_paths")
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "user_id" in line, f"unpartitioned window: {line}"
    win = plan.index("windowspecdefinition")
    assert "Filter (rn" in plan[:win] or "_we0" in plan[:win]


def test_ann_pq_scan_is_join_free_codegen(spark, sf_correct):
    """PQ-ADC scoring is the pure flat-scan shape: the ADC lookup table and
    codebook ids ride as literals, so the top-5 plan over the encoded
    corpus has ZERO joins and ZERO exchanges — one map-side fold per row
    into TakeOrderedAndProject, and no Python anywhere. This is the shape
    that scans a 100 TB code table without shuffling it."""
    plan = _plan(spark, sf_correct, "ann_pq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_ann_ivfpq_prunes_cell_before_scoring(spark, sf_correct):
    """IVFADC: the query-cell row is broadcast and the code table join is
    an equi-join on vec_id/cell — no cartesian, no global sort, and the
    ADC fold stays literal-driven (no extra shuffle for the table)."""
    plan = _plan(spark, sf_correct, "ann_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_quality_logreg_is_map_side_single_agg(spark, sf_correct):
    """Model scoring is one scan with map-side features + link: no join,
    no window, exactly the partial→final aggregate exchanges."""
    plan = _plan(spark, sf_correct, "quality_logreg")
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2


def test_mixture_temperature_window_is_post_aggregation(spark, sf_correct):
    """The normalizing sum's unpartitioned window sits ABOVE the
    per-source aggregation (O(#sources) rows), never over documents."""
    plan = _plan(spark, sf_correct, "mixture_temperature")
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    assert any(
        "HashAggregate" in l for l in lines[win:]
    ), "window must sit above the per-source aggregation"


def test_cms_table_is_broadcast_probe_side(spark, sf_correct):
    """The CMS build collapses map-side to a <= depth*width-row table that
    rides a broadcast into the probe join — the token stream is never
    shuffled for the probe, and no cartesian appears (the one
    BroadcastNestedLoopJoin is the O(1) total-count scalar)."""
    plan = _plan(spark, sf_correct, "approx_token_counts_cms")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_is_equi_join_oriented(spark, sf_correct):
    """Triangle counting: edge construction is the WITHIN-ORDER self-join
    (equi on l_orderkey), the wedge and closing joins are hash equi-joins
    on part keys — no cartesian/nested-loop anywhere, and the edge list
    is materialized once (InMemoryRelation) for its five consumers."""
    plan = _plan(spark, sf_correct, "triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 2  # only the two one-row scalar combines
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_zorder_layout_is_map_side_no_global_sort(spark, sf_correct):
    """Z-order pruning stats: the z-value is a flat codegen expression and
    file assignment is a z-prefix — NO global sort, no window, no
    row_number; the only joins are the one-row scalar combines."""
    plan = _plan(spark, sf_correct, "zorder_pruning")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_bloom_prefilter_broadcasts_filter_no_cartesian(spark, sf_correct):
    """The materialized Bloom rows (≤ k×slots, size-independent of the
    build set) must ride a broadcast; probing is map-side — the whole
    point of the prefilter is that the big side never shuffles to learn
    which keys might match."""
    plan = _plan(spark, sf_correct, "bloom_prefilter")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_stage_is_per_cell_gemm(spark, sf_correct):
    """SemDeDup's quadratic stage must be the Arrow-batched per-cluster
    GEMM (FlatMapGroupsInPandas keyed by cell), never a per-pair join:
    the join form re-folds 64-dim dot products per PAIR and measured
    49 s vs 0.7 s at the 10x corpus. No cartesian anywhere; the only
    joins are the cell-count merge / survivor anti-join."""
    for name in ("semantic_dedup", "semantic_dedup_survivors"):
        plan = _plan(spark, sf_correct, name)
        assert "FlatMapGroupsInPandas" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_shard_manifest_is_one_agg_exchange(spark, sf_correct):
    """Shard assignment is a row-local hash — the only exchanges are the
    16-key aggregation and the 16-row output sort; no joins, no UDFs."""
    plan = _plan(spark, sf_correct, "shard_manifest")
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_typed_twins_scan_typed_table_without_json(spark, sf_correct):
    """q28_typed/q52_typed serve from the ingest-parsed table: no JSON
    parse anywhere in the executed plan, pruned scan of the typed side
    table (the 100 TB claim of VERDICT r6 #2, pinned in-suite)."""
    from event_store_spark.plans.typed_events import typed_events

    typed_events(spark, sf_correct)  # materialize once
    for name in ("q28_typed", "q52_typed"):
        plan = _plan(spark, sf_correct, name)
        assert "from_json" not in plan and "get_json_object" not in plan, name
        assert "events_typed" in plan, name


def test_contamination_gate_is_exchange_free(spark, sf_correct):
    """The streaming gate's per-batch plan is one narrow map stage: the
    benchmark set rides a broadcast variable, so there is NO Exchange and
    no join — the corpus never crosses the network for the check."""
    from event_store_spark.streaming.contamination import (
        benchmark_grams,
        contamination_gate,
    )
    from event_store_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_correct, "documents").select(
        "doc_id", "source", "text"
    )
    grams = benchmark_grams(docs.where(F.col("source") == "src0").limit(5))
    gated = contamination_gate(docs.where(F.col("source") != "src0"), grams)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_simhash_variants_join_on_block_key_with_guard(spark, sf_correct):
    """Both SimHash forms (32-bit parity twin, 64-bit corpus-scale
    default — VERDICT r7 #2) join candidates on the (block_idx, block)
    equi key and carry the in-plan bucket-size guard; the 64-bit plan
    computes Hamming as two bit_count(xor) halves (no 64-bit conv
    overflow)."""
    for name in ("dedup_simhash", "dedup_simhash64"):
        plan = _plan(spark, sf_correct, name)
        assert "block" in plan, name
        assert "raise_error" in plan, name  # guard in the EXECUTED plan
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_simhash_bucket_guard_trips_loudly(spark, sf_correct, monkeypatch):
    """An oversized pigeonhole bucket fails fast inside the executed plan
    instead of letting the self-join go quadratic silently (the
    dedup_embedding guard discipline applied to SimHash)."""
    import pytest

    # the guard ceiling is a plan constant read at construction
    monkeypatch.setenv("SPARK_GRAFT_SIMHASH_MAX_BUCKET", "1")
    with pytest.raises(Exception, match="SPARK_GRAFT_SIMHASH_MAX_BUCKET"):
        QUERIES["dedup_simhash64"](spark, sf_correct).collect()


def test_ann_recall_report_memoizes_plan_not_results(spark, sf_correct):
    """VERDICT r7 #4: the seven-subtree union costs ~1.3 s of py4j plan
    construction per call; the LAZY DataFrame is memoized per (session,
    sf_dir); a hit is a fresh QueryExecution over it, so nothing physical
    (AQE's materialized query stages) carries over between calls. Values
    stable, and the shared cached embeddings scan is seeded (InMemory in
    the plan)."""
    from event_store_spark.plans.evalq import ANN_METHODS, ann_recall_report

    df1 = ann_recall_report(spark, sf_correct)
    df2 = ann_recall_report(spark, sf_correct)
    assert df2 is not df1
    r1 = sorted((r.method, r.hits) for r in df1.collect())
    # df1 just ran; df2's plan must still be unexecuted
    assert "isFinalPlan=false" in df2._jdf.queryExecution().executedPlan().toString()
    r2 = sorted((r.method, r.hits) for r in df2.collect())
    assert r1 == r2 and len(r1) == len(ANN_METHODS)
    plan = df1._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_simhash_incremental_broadcasts_batch_never_index(spark, sf_correct):
    """The incremental probe's asymmetry is the scale contract: the
    batch side rides a BroadcastExchange onto the block-partitioned
    index (index-sized data is never shuffled for the probe), candidates
    come from the (block_idx, block) equi key, and no cartesian/nested-
    loop pair enumeration exists."""
    plan = _plan(spark, sf_correct, "dedup_simhash_incremental")
    assert "BroadcastHashJoin" in plan
    assert "block" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_single_scan_no_join(spark, sf_correct):
    """text_winnowing scans the corpus ONCE, selects fingerprints with
    in-row array expressions (structs, never concatenated strings), and
    expands per-fingerprint doc pairs in-row after one grouped shuffle —
    no self-join, no broadcast, no pair enumeration operator at all."""
    plan = _plan(spark, sf_correct, "text_winnowing")
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
        assert node not in plan, node


def test_source_similarity_joins_stay_catalog_sized(spark, sf_correct):
    """source_similarity_jaccard (r13 single-plan mask-GEMM form): the
    k×k Bᵀ·B fold stays in ONE lazy plan — a `MapInArrow` GEMM over the
    shared bitmask build, whose ≤k² cells re-attach to an in-plan
    literal pair catalog through BROADCAST joins only (every join input
    is catalog-sized: k(k−1)/2 literal rows, k diagonal cells). The gram
    table itself is never joined — it is touched exactly once, through
    the mask build's ingest-materialized g3 arrays, never the text
    column — so no join of any kind scales with the gram space."""
    plan = _plan(spark, sf_correct, "source_similarity_jaccard")
    assert "MapInArrow" in plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert node not in plan, node
    # the only join is the ONE-ROW cells-map broadcast cross-joined onto
    # the k(k−1)/2-row literal pair catalog
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "text" not in plan
    # exactly ONE fold: every cell (diagonal sizes and off-diagonal
    # intersections) is read out of ONE map row collapsed from a single
    # MapInArrow aggregate subtree — three separate join references
    # measured no AQE stage reuse, tripling the fold's real work (r13).
    # Counted in the ANALYZED plan: once the shared comatrix cache is
    # built, the executed plan also prints the cached build's subtree
    # (a second MapInArrow) under its InMemoryRelation.
    analyzed = (
        QUERIES["source_similarity_jaccard"](spark, sf_correct)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert analyzed.count("MapInArrow") == 1

    from event_store_spark.plans.tokenized import source_gram_masks

    per_gram, sources = source_gram_masks(spark, sf_correct)
    from event_store_spark.plans.tokenized import GRAM_MASK_MAX_SOURCES

    assert 0 < len(sources) <= GRAM_MASK_MAX_SOURCES
    build = per_gram._jdf.queryExecution().executedPlan().toString()
    assert "g3" in build and "text" not in build
    assert "Join" not in build


def test_phrase_collocations_broadcasts_vocab(spark, sf_correct):
    """Unigram-count lookups are vocabulary-bounded broadcasts onto the
    bigram table; the corpus total rides as a broadcast one-row cross
    join; the bigram table itself is never re-shuffled for the joins."""
    plan = _plan(spark, sf_correct, "phrase_collocations")
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the scalar total
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_ngram_defaults_to_broadcast_probe(spark, sf_correct):
    """VERDICT r8 #1: the registered contamination_ngram body IS the
    broadcast plan — the benchmark gram set rides a BroadcastExchange
    and the corpus side probes it as a broadcast semi-join, so the
    training corpus never shuffles for the probe."""
    plan = _plan(spark, sf_correct, "contamination_ngram")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_contamination_grouped_carries_set_size_guard(spark, sf_correct, monkeypatch):
    """The groupBy parity twin keeps its one-shuffle shape but cannot
    melt silently: the per-gram train-doc set size is guarded in the
    EXECUTED plan and trips loudly past the cap."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    import event_store_spark.plans.pipeline as pl

    plan = _plan(spark, sf_correct, "contamination_grouped")
    assert "raise_error" in plan
    monkeypatch.setattr(pl, "CONTAMINATION_MAX_DOCS_PER_GRAM", 1)
    with pytest.raises(Exception, match="deny-list"):
        QUERIES["contamination_grouped"](spark, sf_correct).collect()


def test_bm25_postings_probe_prunes_partitions(spark, sf_correct):
    """VERDICT r8 #6: the postings probe's parquet scan carries a
    PartitionFilters entry on the term bucket — the plan reads the query
    terms' partitions, not the corpus — and the python/Spark bucket
    hashes agree (the prune's correctness precondition)."""
    from pyspark.sql import functions as F

    from event_store_spark.plans.ir import (
        POSTINGS_BUCKETS,
        QUERY_TERMS,
        term_bucket,
    )

    spark_buckets = {
        r["b"]: r["t"]
        for r in spark.createDataFrame(
            [(t,) for t in QUERY_TERMS], "t string"
        )
        .select("t", F.pmod(F.crc32("t"), F.lit(POSTINGS_BUCKETS)).alias("b"))
        .collect()
    }
    assert spark_buckets == {term_bucket(t): t for t in QUERY_TERMS}

    plan = _plan(spark, sf_correct, "bm25_postings_topk")
    scan = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "bucket" in scan


def test_contamination_minhash_broadcasts_bench_keys(spark, sf_correct):
    """The fuzzy decontamination probe: the benchmark's distinct band
    keys ride a BroadcastExchange into a left-semi join — the training
    side's signatures never shuffle for the probe."""
    plan = _plan(spark, sf_correct, "contamination_minhash")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_knn_blas_single_bucket_exchange(spark, sf_correct):
    """knn_graph_blas: ONE hash exchange on the bucket feeding the
    Arrow applyInPandas kernel; no pair self-join anywhere in the plan
    (the fold twin's bucket equi-join shape must NOT appear)."""
    plan = _plan(spark, sf_correct, "knn_graph_blas")
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_registry_stores_query_functions():
    """The registry keeps each query function itself: no wrapper sits
    between a caller and the plan builder."""
    from event_store_spark.plans import registry

    def probe(spark, sf_dir):
        raise AssertionError("never called")

    try:
        assert registry.register("_registry_probe")(probe) is probe
        assert QUERIES["_registry_probe"] is probe
    finally:
        QUERIES.pop("_registry_probe", None)
    for name, fn in QUERIES.items():
        assert fn.__module__ != registry.__name__, name
        assert not hasattr(fn, "__wrapped__"), name


def test_registered_query_builds_fresh_plan_per_call(spark, sf_correct):
    """Each call of a registered query builds a new lazy plan, so nothing
    physical (AQE's materialized query stages) carries over between calls:
    the second plan is unexecuted after the first one ran, and both give
    the same values."""
    df1 = QUERIES["q12"](spark, sf_correct)
    df2 = QUERIES["q12"](spark, sf_correct)
    assert df2 is not df1
    r1 = sorted(tuple(str(x) for x in r) for r in df1.collect())
    assert "isFinalPlan=false" in df2._jdf.queryExecution().executedPlan().toString()
    r2 = sorted(tuple(str(x) for x in r) for r in df2.collect())
    assert r1 == r2 and len(r1) > 0
