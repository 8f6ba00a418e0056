"""Physical-plan shape assertions for the 100 TB design contract.

Correctness is the oracle harness's job; these tests pin the *plans* —
the properties that decide whether a query survives a 1000-executor
scale-up: filters pushed into the parquet scan, columns pruned at the
reader, ORDER BY+LIMIT fused to TakeOrderedAndProject, no nested-loop /
cartesian joins in the TPC-H plans, and no forced broadcast of
sf-proportional tables (AQE decides at runtime instead — round-1 review
flagged exactly that anti-pattern).
"""

from __future__ import annotations

import pytest

from datafusion_flight_sql_server_spark.queries import REGISTRY
from tests.conftest import SF_SMALL


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF_SMALL)


class TestPlanShapes:
    def test_filter_pushdown_reaches_scan(self, spark):
        plan = _executed_plan(_run(spark, "filter_compare"))
        assert "PushedFilters: [" in plan
        # at least one concrete predicate made it into the reader
        assert "PushedFilters: []" not in plan

    def test_column_pruning_in_reader(self, spark):
        plan = _executed_plan(_run(spark, "scan_projection"))
        read_schema = next(
            line for line in plan.splitlines() if "ReadSchema" in line
        )
        # the projection needs 3 columns; the scan must not read the rest
        assert "c_custkey" in read_schema and "c_name" in read_schema
        assert "c_mktsegment" not in read_schema
        assert "c_nationkey" not in read_schema

    def test_topk_fuses_to_take_ordered(self, spark):
        plan = _executed_plan(_run(spark, "topk"))
        assert "TakeOrderedAndProject" in plan

    @pytest.mark.parametrize(
        "name",
        [
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q5_local_supplier",
            "tpch_q10_returned_items",
        ],
    )
    def test_tpch_no_nested_loop_join(self, spark, name):
        plan = _executed_plan(_run(spark, name))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    @pytest.mark.parametrize(
        "name", ["tpch_q3_shipping_priority", "tpch_q5_local_supplier"]
    )
    def test_tpch_no_forced_broadcast_hint(self, spark, name):
        # the logical plan must carry no broadcast hints on fact-scale
        # inputs; runtime broadcasts chosen by AQE from measured sizes are
        # fine (and expected at test SF)
        logical = str(
            REGISTRY[name]
            .fn(spark, SF_SMALL)
            ._jdf.queryExecution()
            .logical()
        )
        assert "UnresolvedHint" not in logical and "hints=[broadcast" not in logical

    def test_similarity_candidates_are_blocked(self, spark):
        # LSH candidate generation must be an equi-join on the bucket key,
        # never an unblocked cross join over the corpus
        plan = _executed_plan(_run(spark, "sim_topk_lsh"))
        assert "CartesianProduct" not in plan

    def test_dedup_minhash_band_join_is_hash_partitioned(self, spark):
        plan = _executed_plan(_run(spark, "dedup_near_minhash"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_contamination_join_is_blocked(self, spark):
        # shingle-hash equi-join only: never a cross join of train x eval
        plan = _executed_plan(_run(spark, "text_contamination"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_stratified_sample_filter_is_row_local(self, spark):
        # the per-stratum rate filter must stay a Filter over the scan —
        # no shuffle (Exchange) anywhere: sampling is map-only at 100 TB
        plan = _executed_plan(_run(spark, "doc_sample_stratified"))
        assert "Exchange" not in plan

    def test_quantize_is_map_only(self, spark):
        plan = _executed_plan(_run(spark, "embed_quantize"))
        assert "Exchange" not in plan

    def test_pipeline_curate_single_data_shuffle(self, spark):
        # gate -> dedup -> split composes into ONE job whose only
        # data-sized shuffles are the digest aggregation + canonical join;
        # no cartesian products, no nested loops
        plan = _executed_plan(_run(spark, "pipeline_curate"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_gapfill_windows_run_on_aggregate_not_raw(self, spark):
        # the LOCF window must consume the bucket spine (types x hours),
        # not the raw event stream: the window's child may not be the
        # parquet scan directly
        plan = _executed_plan(_run(spark, "event_gapfill"))
        assert "CartesianProduct" not in plan
        # exactly one scan of events feeds the agg; the spine generation
        # reuses the aggregate (no second full-table window)
        assert plan.count("Scan parquet") <= 2


class TestPipelineOpPlans:
    def test_text_repetition_no_cartesian(self, spark):
        # bigrams are built row-locally (zip_with over slices), never by
        # self-joining the token stream
        plan = _executed_plan(_run(spark, "text_repetition"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_event_anomaly_single_window_no_joins(self, spark):
        # one hash-partitioned window over user_id; no join operators
        plan = _executed_plan(_run(spark, "event_anomaly"))
        assert "Join" not in plan
        assert plan.count("Window") >= 1

    def test_curate_v2_broadcasts_rates_no_cartesian(self, spark):
        # the only corpus-sized shuffle is the digest argmax; the rate
        # table reaches the kept rows as a broadcast
        df = _run(spark, "pipeline_curate_v2")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_temperature_sampler_broadcasts_rates(self, spark):
        # the per-language rate table must reach the corpus as a broadcast
        # (it is |languages| rows); the keep decision is a row-local filter,
        # so the corpus itself never shuffles
        df = _run(spark, "doc_sample_temperature")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRound4PlanShapes:
    def test_dedup_substring_no_cartesian_equi_joins_only(self, spark):
        # shingle doc-frequency joins back on the md5 fingerprint — an
        # equi-join on a hash key, never an all-pairs comparison
        plan = _executed_plan(_run(spark, "dedup_substring"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_text_lm_unigram_folds_small_vocab_row_local(self, spark):
        # the fixture vocabulary is under the counted fold gate, so the
        # scoring pass must be ROW-LOCAL: a literal-map array aggregate
        # with no join and no token-stream exchange (the only permitted
        # exchange is rebalance_for_compute's doc_id repartition of the
        # single-row-group fixture scan)
        plan = _executed_plan(_run(spark, "text_lm_unigram"))
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1
        assert "aggregate(" in plan  # the row-local array fold

    def test_embed_matryoshka_probes_build_broadcast_side(self, spark):
        # the 8-row probe set must be the BUILD side of the nested-loop
        # join (corpus streams, probes broadcast); both rank windows share
        # one q_id exchange and the corpus scans once (single BNLJ — the
        # round-4 review removed the top-set self-join that scanned twice)
        plan = _executed_plan(_run(spark, "embed_matryoshka"))
        assert plan.count("BroadcastNestedLoopJoin BuildLeft") == 1
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_event_scd2_one_exchange_no_joins(self, spark):
        # both windows run on the same (user_id) partitioning: Catalyst
        # must plan exactly one shuffle and zero joins
        plan = _executed_plan(_run(spark, "event_scd2"))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_event_attribution_no_joins(self, spark):
        # touch carry is a running window, not a self-join; the only
        # shuffles are (user_id) for the window and the tiny channel agg
        plan = _executed_plan(_run(spark, "event_attribution"))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 2

    def test_dedup_source_overlap_equi_join_only(self, spark):
        # the self-join runs on the 128-bit shingle fingerprint over the
        # distinct (shingle, source) projection — equi-join, no all-pairs
        plan = _executed_plan(_run(spark, "dedup_source_overlap"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_corpus_drift_single_spine_no_cartesian(self, spark):
        # the only nested-loop is the 1-row broadcast N spine; word
        # frequencies come from an equi-join of pair aggregates
        plan = _executed_plan(_run(spark, "corpus_drift"))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "IdentityBroadcastMode" in plan

    def test_text_tfidf_rank_limit_pushdown(self, spark):
        # top-3 per doc must engage WindowGroupLimit so the scored pairs
        # never globally sort; no all-pairs joins
        plan = _executed_plan(_run(spark, "text_tfidf"))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan

    def test_embed_outliers_centroids_broadcast(self, spark):
        # centroids are |labels| rows: they must reach the corpus as a
        # broadcast, and nothing may go pairwise
        plan = _executed_plan(_run(spark, "embed_outliers"))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_event_scd2_lookup_no_range_cross_join(self, spark):
        # the interval predicate must ride the user_id equi-join, never a
        # nested-loop range join
        plan = _executed_plan(_run(spark, "event_scd2_lookup"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_curate_v3_sample_is_take_ordered(self, spark):
        # the final weighted sample must collapse to TakeOrderedAndProject
        # (no global sort of the gated corpus)
        plan = _executed_plan(_run(spark, "pipeline_curate_v3"))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_doc_sample_weighted_take_ordered(self, spark):
        plan = _executed_plan(_run(spark, "doc_sample_weighted"))
        assert "TakeOrderedAndProject" in plan

    def test_text_burstiness_take_ordered_no_vocab_window(self, spark):
        # round 9: the top-20-by-df head must be a distributed
        # TakeOrdered, never a window/global sort over the vocabulary;
        # both hash aggregates partial map-side
        plan = _executed_plan(_run(spark, "text_burstiness"))
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_agg_kmv_rollup_rank_pushdown_no_cartesian(self, spark):
        # round 9: daily sketches and the pooled re-rank are both
        # per-group top-k windows (WindowGroupLimit); nothing pairwise
        plan = _executed_plan(_run(spark, "agg_kmv_rollup"))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan

    def test_agg_kmv_intersect_rank_pushdown_no_cartesian(self, spark):
        # round 9: the per-type k-minimum sketch must engage
        # WindowGroupLimit (rank <= k pushed into the sort); pair ops
        # join 64-row sketches — nothing may go pairwise over users
        plan = _executed_plan(_run(spark, "agg_kmv_intersect"))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan

    def test_kmv_no_audit_form_has_no_corpus_sized_aggregate(self, spark):
        # round 10 (VERDICT r9 "what's wrong" #2): audit=False is the
        # production shape — sketch-only. The rollup must carry NO exact
        # COUNT DISTINCT leg, the intersect no exact-common join; both
        # keep the WindowGroupLimit sketch discipline and drop the audit
        # column while the audited driver form keeps it.
        from datafusion_flight_sql_server_spark.queries import REGISTRY

        roll = REGISTRY["agg_kmv_rollup"].fn(spark, SF_SMALL, audit=False)
        assert "exact_distinct" not in roll.columns
        plan = _executed_plan(roll)
        assert "WindowGroupLimit" in plan
        assert "count(distinct" not in plan.lower()
        full = REGISTRY["agg_kmv_rollup"].fn(spark, SF_SMALL)
        assert "exact_distinct" in full.columns

        inter = REGISTRY["agg_kmv_intersect"].fn(spark, SF_SMALL, audit=False)
        assert "exact_common" not in inter.columns
        iplan = _executed_plan(inter)
        assert "WindowGroupLimit" in iplan
        # one fewer join tier: the exact uh-x-uh self-join is gone
        fplan = _executed_plan(
            REGISTRY["agg_kmv_intersect"].fn(spark, SF_SMALL)
        )
        assert iplan.count("Join") < fplan.count("Join")
        # values still agree with the audited form's estimate columns
        lean = {tuple(r[:2]): r[2] for r in inter.collect()}
        audited = {
            tuple(r[:2]): r[2]
            for r in REGISTRY["agg_kmv_intersect"].fn(spark, SF_SMALL)
            .select("type_a", "type_b", "kmv_common_est")
            .collect()
        }
        assert lean == audited and lean

    def test_agg_kmv_difference_anti_join_sketch_only(self, spark):
        # round 10 (late): the A-not-B retained-member probe is a
        # left-anti join of 64-row sketches under the WindowGroupLimit
        # sketch discipline — nothing pairwise over users; the no-audit
        # production form drops the corpus-sized anti-join tier and
        # keeps the estimate values bit-identical.
        from datafusion_flight_sql_server_spark.queries import REGISTRY

        full = REGISTRY["agg_kmv_difference"].fn(spark, SF_SMALL)
        assert "exact_diff" in full.columns
        fplan = _executed_plan(full)
        assert "WindowGroupLimit" in fplan
        assert "CartesianProduct" not in fplan
        assert "LeftAnti" in fplan

        lean_df = REGISTRY["agg_kmv_difference"].fn(spark, SF_SMALL, audit=False)
        assert "exact_diff" not in lean_df.columns
        lplan = _executed_plan(lean_df)
        assert "WindowGroupLimit" in lplan
        assert lplan.count("Join") < fplan.count("Join")
        lean = {tuple(r[:2]): r[2] for r in lean_df.collect()}
        audited = {
            tuple(r[:2]): r[2]
            for r in full.select("type_a", "type_b", "kmv_diff_est").collect()
        }
        assert lean == audited and lean

    def test_event_time_weighted_one_exchange(self, spark):
        # the lead() window and the groupBy share the (user_id, day)
        # partitioning: one shuffle total, no joins
        plan = _executed_plan(_run(spark, "event_time_weighted"))
        assert "Join" not in plan
        assert "Window" in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial_sum" in plan

    def test_window_ewma_one_exchange_no_joins(self, spark):
        # one (user_id) window, bounded 16-element frame state, no joins
        plan = _executed_plan(_run(spark, "window_ewma"))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Window") == 1

    def test_text_inverted_index_single_scan_no_join(self, spark):
        # df/cf windows + rank + top-20 gate all share one (token)
        # partitioning: one text scan, two exchanges, no self-join, and
        # the rank filter must engage WindowGroupLimit so stopword-class
        # tokens never buffer a full posting list
        plan = _executed_plan(_run(spark, "text_inverted_index"))
        assert "Join" not in plan
        assert plan.count("FileScan") == 1
        assert plan.count("Exchange hashpartitioning") == 2
        assert "WindowGroupLimit" in plan

    def test_agg_mode_no_window(self, spark):
        # argmax via max(struct): two partial-aggregated aggregations,
        # no per-group window sort of the raw stream
        plan = _executed_plan(_run(spark, "agg_mode"))
        assert "Join" not in plan
        assert "Window" not in plan


class TestApproxAggregation:
    def test_approx_percentile_partial_agg(self, spark):
        """The scale path for quantiles is approx_percentile ALONE: its
        sketch must partial-aggregate map-side (partial_approx_percentile
        before the exchange) so the shuffle carries one sketch per
        group/partition, never per-group value buffers. (The registered
        agg_percentile_approx query additionally computes exact bounds —
        that's the verification contract, not the production artifact.)"""
        from datafusion_flight_sql_server_spark.engine.registry import (
            register_sf_tables,
        )

        l = register_sf_tables(spark, SF_SMALL)["lineitem"]
        df = l.groupBy("l_returnflag").agg(
            __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
                "approx_percentile(l_quantity, 0.5D, 1000)"
            ).alias("ap50")
        )
        plan = _executed_plan(df)
        lowered = plan.lower()
        assert "approx_percentile" in lowered
        # partial (pre-shuffle) aggregation present → mergeable sketches
        assert "partial_approx_percentile" in lowered
        # and the exact buffering form is absent
        assert "partial_percentile(" not in lowered

    def test_approx_distinct_partial_agg(self, spark):
        """Same property for approx_count_distinct: HLL sketches merge
        map-side (partial_approx_count_distinct before the exchange)."""
        from datafusion_flight_sql_server_spark.engine.registry import (
            register_sf_tables,
        )
        from pyspark.sql import functions as F

        l = register_sf_tables(spark, SF_SMALL)["lineitem"]
        df = l.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_partkey", 0.05).alias("ap")
        )
        plan = _executed_plan(df).lower()
        assert "partial_approx_count_distinct" in plan


class TestAdaptiveBroadcast:
    def test_aqe_converts_small_side_to_broadcast_at_runtime(self, spark):
        """The no-forced-hints posture (tpch_q3/q5 carry no broadcast()
        on sf-proportional tables) relies on AQE promoting genuinely
        small sides to broadcast at runtime. Execute q3 and assert the
        FINAL adaptive plan contains a BroadcastHashJoin — proving the
        optimization happens without the scale-unsafe static hint."""
        from datafusion_flight_sql_server_spark.queries import REGISTRY
        from tests.conftest import SF_SMALL

        df = REGISTRY["tpch_q3_shipping_priority"].fn(spark, SF_SMALL)
        df.collect()  # materialize so AQE finalizes the plan
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" in final
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final

    def test_quantile_rollup_windows_over_histogram_not_raw(self, spark):
        """The mergeable-histogram claim: the raw event scan feeds ONE
        partial-aggregated (day, bin) count; the quantile windows and the
        broadcast q-spine join run over the tiny merged histogram, never
        the raw stream (at a quarter of data the histogram is KB-sized)."""
        plan = _executed_plan(_run(spark, "event_quantile_rollup"))
        assert "CartesianProduct" not in plan
        # theta spine join: exactly one nested-loop, with the 3-row spine
        # as the broadcast side
        assert plan.count("BroadcastNestedLoopJoin") == 1
        # partial aggregation (map-side combine) on the histogram build —
        # this is what makes the window's input O(bins), not O(events)
        assert "partial_count" in plan or "partial count" in plan.lower()
        assert "Window" in plan

    def test_length_quantiles_grouped_histogram_shape(self, spark):
        plan = _executed_plan(_run(spark, "text_length_quantiles"))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert "partial_count" in plan or "partial count" in plan.lower()

    def test_doc_dsir_select_tokenizes_once(self, spark):
        """Both DSIR branches (vocabulary LM and scoring join) consume one
        (doc_id, lang, w) pre-aggregate, so the executed plan reuses its
        exchange instead of running the corpus explode per branch — at
        100 TB a second tokenization pass is a full extra corpus scan."""
        df = REGISTRY["doc_dsir_select"].fn(spark, SF_SMALL)
        df.collect()  # materialize so AQE finalizes the plan
        final = df._jdf.queryExecution().executedPlan().toString()
        final_section = final.split("== Initial Plan ==")[0]
        assert "ReusedExchange" in final_section
        # exactly one explode survives in the final plan
        assert final_section.count("Generate explode") == 1


class TestMiningPlanShapes:
    def test_graph_triangles_equi_joins_only(self, spark):
        # orientation + edge-iterator close are equi-joins on vertex ids;
        # the only nested-loops allowed are the two 1-row count spines
        plan = _executed_plan(_run(spark, "graph_triangles"))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2

    def test_graph_triangles_no_wedge_self_join(self, spark):
        """Round-13: the triangle close is |N+(s) ∩ N+(t)| per oriented
        edge over grouped adjacency arrays — the O(|E|^1.5) wedge row set
        (the pre-r13 o1⋈o2 self-join, 41M rows at sf0.1) must never be
        materialized. The plan signature: an array_intersect projection
        and no join keyed on the wedge pair. With the round-13 persisted
        front end (edge list + oriented list cached), the close-join
        subtree materializes as AQE broadcast query stages, so the
        signature is asserted over the WHOLE executed-plan string (the
        final section prints only the top-level result stage) plus the
        cache scan that pins the persist."""
        from datafusion_flight_sql_server_spark.queries.catalog import (
            run_query_cleanups,
        )

        df = _run(spark, "graph_triangles")
        try:
            df.collect()
            plan = _executed_plan(df)
            assert "array_intersect" in plan
            assert "InMemoryTableScan" in plan  # persisted edge/oriented lists
        finally:
            run_query_cleanups()

    def test_ngram_jaccard_single_shingle_pass(self, spark):
        """Round-13: the gram-set relation and the ranked prefix relation
        are persisted for the query's duration, so the char-gram substr
        transform and the prefix-rank Window each execute ONCE — the old
        shape recomputed the shingle Project 3x (df-count leg + both
        prefix self-join sides) and the Window twice."""
        from datafusion_flight_sql_server_spark.queries.catalog import (
            run_query_cleanups,
        )

        df = _run(spark, "dedup_ngram_jaccard")
        try:
            df.collect()
            final = _executed_plan(df).split("== Initial Plan ==")[0]
            assert final.count("Window ") == 1
            assert final.count("substr") <= 1
        finally:
            run_query_cleanups()

    def test_basket_rules_top20_take_ordered(self, spark):
        # rule ranking collapses to TakeOrderedAndProject; candidates come
        # from the order-key equi-join, count tables join by item key
        plan = _executed_plan(_run(spark, "basket_rules"))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row n spine

    def test_text_pmi_spines_broadcast_top20_take_ordered(self, spark):
        # two 1-row corpus spines broadcast; unigram joins are equi-joins
        plan = _executed_plan(_run(spark, "text_pmi"))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2

    def test_text_novelty_no_joins(self, spark):
        # first-occurrence attribution is a (sid)-partitioned window over
        # the distinct pairs — single lineage, zero joins
        plan = _executed_plan(_run(spark, "text_novelty"))
        assert "Join" not in plan

    def test_embed_binary_hamming_single_probe_broadcast(self, spark):
        # the 8 probes broadcast past the corpus exactly once; candidates
        # shuffle only into the re-rank windows
        plan = _executed_plan(_run(spark, "embed_binary_hamming"))
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_agg_count_min_cells_broadcast(self, spark):
        # the d*w cell table reaches the probes as a broadcast equi-join
        plan = _executed_plan(_run(spark, "agg_count_min"))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_join_bloom_prune_semi_join_before_verify(self, spark):
        # the pruned fact side passes a LEFT SEMI candidate join before
        # the verifying equi-join; nothing goes pairwise
        plan = _executed_plan(_run(spark, "join_bloom_prune"))
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_multimodal_phash_band_join_no_allpairs(self, spark):
        # candidates come from the 8-band equi-join on (bi, bv); payload
        # bytes stay map-side (signatures only in the join)
        plan = _executed_plan(_run(spark, "multimodal_phash"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dedup_minhash_eval_band_join_only(self, spark):
        # the audit reuses the production banding: candidates from the
        # (band, key) equi-join, signature/set joins keyed by doc id
        plan = _executed_plan(_run(spark, "dedup_minhash_eval"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_text_bigram_lm_single_explode_spine_broadcast(self, spark):
        # the bigram explode materializes ONCE into the persisted triple
        # cache; both consumers (score path, vocabulary spine) read the
        # cache, and the spine is the only nested-loop (1-row broadcast)
        plan = _executed_plan(_run(spark, "text_bigram_lm"))
        assert plan.count("InMemoryTableScan") >= 2
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1

    def test_event_sliding_distinct_sketches_not_raw(self, spark):
        # the 7-way contribution explode runs over per-day SKETCH rows,
        # after the raw stream collapsed to daily hll_sketch_agg state
        plan = _executed_plan(_run(spark, "event_sliding_distinct"))
        assert "hll_sketch_agg" in plan or "hll_union_agg" in plan
        assert "CartesianProduct" not in plan

    def test_orders_rfm_single_customer_aggregate(self, spark):
        # one o_custkey aggregation feeds all three ntile windows
        plan = _executed_plan(_run(spark, "orders_rfm"))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1

    def test_event_ks_drift_bounded_replication(self, spark):
        # the compare stream is events x |types| via ONE broadcast
        # nested-loop (types is a tiny broadcast side); ECDFs are windows,
        # not self-joins
        plan = _executed_plan(_run(spark, "event_ks_drift"))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2  # types + n_all spine

    def test_event_cusum_single_user_exchange_no_joins(self, spark):
        # all four windows and the final rank share one (user_id) hash
        # partitioning: exactly one exchange, zero joins
        plan = _executed_plan(_run(spark, "event_cusum"))
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_orders_gini_customer_dimension_only(self, spark):
        # the global sort ranks the CUSTOMER aggregate, never the fact
        # table; no joins anywhere
        plan = _executed_plan(_run(spark, "orders_gini"))
        assert "Join" not in plan

    def test_dedup_containment_band_join_only(self, spark):
        # same production banding as the minhash family: candidates from
        # the (band, key) equi-join, set sizes touch candidates only
        plan = _executed_plan(_run(spark, "dedup_containment"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound5PlanShapes:
    """Plans for the round-5 registrations: the properties that decide
    whether each survives a 1000-executor scale-up."""

    def test_zipf_uses_distributed_topk(self, spark):
        # the 1000-token head must be TakeOrderedAndProject (per-partition
        # heaps), never a global Sort of the whole vocabulary feeding the
        # ranking window
        plan = _executed_plan(_run(spark, "text_zipf_fit"))
        assert "TakeOrderedAndProject" in plan

    def test_keyword_extract_single_explode(self, spark):
        # one tokenization pass: tf feeds both the df aggregation and the
        # scored join through a persisted intermediate (InMemoryTableScan
        # in the plan) — without it Catalyst re-derives the explode and the
        # corpus tokenizes twice (column pruning defeats exchange reuse)
        from datafusion_flight_sql_server_spark.queries.catalog import (
            run_query_cleanups,
        )

        try:
            plan = _executed_plan(_run(spark, "text_keyword_extract"))
            assert "InMemoryTableScan" in plan
        finally:
            run_query_cleanups()

    def test_elasticity_broadcasts_part(self, spark):
        plan = _executed_plan(_run(spark, "part_price_elasticity"))
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_peak_detect_broadcasts_stats(self, spark):
        # the per-type 3-scalar stats table joins back broadcast; the only
        # data-sized exchange is the daily-count aggregation
        plan = _executed_plan(_run(spark, "event_peak_detect"))
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_funnel_and_cohorts_no_cartesian(self, spark):
        for name in ("orders_cohort_ltv", "window_percent_change"):
            plan = _executed_plan(_run(spark, name))
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name

    def test_balanced_sample_rank_pushdown(self, spark):
        # rk <= 20 must prune inside the window exec (WindowGroupLimit),
        # not after materializing every row's rank
        plan = _executed_plan(_run(spark, "doc_balanced_sample"))
        assert "WindowGroupLimit" in plan


class TestRound5AggRewrites:
    def test_q10_orderkey_join_is_shuffled_hash(self, spark):
        # round-6 rewrite: the orderkey join must be a SHUFFLED HASH join
        # (sorting ~13M narrow probe rows was the measured 3x bottleneck at
        # 64x: 6.2 s SMJ vs 2.1 s SHJ, 0.7x the oracle), and the previous
        # per-order pre-aggregation (measured off: ~1.3 lineitems/order
        # after the R filter for a full extra 9.6M-group exchange) must
        # stay gone — no aggregation keyed by l_orderkey anywhere
        plan = _executed_plan(_run(spark, "tpch_q10_returned_items"))
        assert "ShuffledHashJoin [l_orderkey" in plan
        assert "keys=[l_orderkey" not in plan

    @pytest.mark.parametrize(
        "name",
        ["tpch_q1_pricing_summary", "agg_group_multi", "tpch_q5_local_supplier"],
    )
    def test_fixed_point_hot_path_has_no_decimal_partial_agg(self, spark, name):
        # partial_sum over a DecimalType input would mean the BigDecimal
        # slow path came back; the only decimal arithmetic allowed is the
        # per-group scale-shift AFTER the final aggregation
        plan = _executed_plan(_run(spark, name))
        import re

        partials = re.findall(r"partial_sum\([^)]*\)", plan)
        assert partials, f"no partial aggregation found in {name}"
        for p in partials:
            assert "Decimal" not in p, f"decimal partial agg in {name}: {p}"


def _materialized(spark, df) -> bool:
    """Whether ``df`` is cached AND its cached blocks are loaded."""
    cached = (
        spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    )
    return not cached.isEmpty() and (
        cached.get().cachedRepresentation().cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


class TestMinhashFrontendCache:
    """Round 6 (VERDICT r5 #1): six registered queries share ONE persisted
    MinHash front end per (corpus, constants) — pin the cache contract."""

    def test_shared_persisted_and_cleanup_proof(self, spark):
        from datafusion_flight_sql_server_spark.engine.cleanup import (
            run_query_cleanups,
        )
        from datafusion_flight_sql_server_spark.operators.dedup import (
            _minhash_hashed_buckets,
            clear_minhash_frontend_cache,
        )
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        clear_minhash_frontend_cache()
        try:
            key = ("cache-test", "documents")
            h1, s1, b1 = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 8, 42, cache_key=key
            )
            h2, s2, b2 = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 8, 42, cache_key=key
            )
            assert h1 is h2 and s1 is s2 and b1 is b2
            assert h1.storageLevel.useMemory  # persisted
            # per-query sweep cleanup must NOT release the shared entry
            run_query_cleanups()
            assert h1.storageLevel.useMemory
            # different constants are a different front end
            h3, _, _ = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 4, 42, cache_key=key
            )
            assert h3 is not h1
        finally:
            clear_minhash_frontend_cache()
        assert not h1.storageLevel.useMemory  # cache clear unpersists

    def test_uncached_path_registers_cleanup(self, spark):
        from datafusion_flight_sql_server_spark.engine.cleanup import (
            run_query_cleanups,
        )
        from datafusion_flight_sql_server_spark.operators.dedup import (
            _minhash_hashed_buckets,
        )
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        h, _s, _b = _minhash_hashed_buckets(d, "doc_id", "text", 3, 16, 8, 42)
        assert h.storageLevel.useMemory
        run_query_cleanups()
        assert not h.storageLevel.useMemory

    def test_fixture_rewrite_misses_cleanly(self, spark, tmp_path):
        # Round 8 (VERDICT r7 #7): the cache key folds in a filesystem
        # fingerprint of the backing parquet, so a regenerated fixture is
        # a clean miss — never a stale persisted corpus.
        import os
        import shutil

        from datafusion_flight_sql_server_spark.operators.dedup import (
            _minhash_hashed_buckets,
            clear_minhash_frontend_cache,
        )
        from tests.conftest import SF_SMALL

        dst = tmp_path / "documents.parquet"
        shutil.copy(f"{SF_SMALL}/documents.parquet", dst)
        d = spark.read.parquet(str(dst)).select("doc_id", "text")
        clear_minhash_frontend_cache()
        try:
            key = (str(tmp_path), "documents")
            h1, _, _ = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 8, 42, cache_key=key
            )
            h2, _, _ = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 8, 42, cache_key=key
            )
            assert h1 is h2
            os.utime(dst, ns=(1, 1))  # a rewrite changes mtime
            h3, _, _ = _minhash_hashed_buckets(
                d, "doc_id", "text", 3, 16, 8, 42, cache_key=key
            )
            assert h3 is not h1
        finally:
            clear_minhash_frontend_cache()

    def test_concurrent_first_build_single_entry(self, spark):
        # Round 8 (VERDICT r7 #7): the cache builds each key once —
        # threads racing the same key share ONE front end; a miss-miss
        # race would orphan a persisted twin.
        import threading

        from datafusion_flight_sql_server_spark.operators.dedup import (
            _MINHASH_FRONTENDS,
            _minhash_hashed_buckets,
            clear_minhash_frontend_cache,
        )
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        clear_minhash_frontend_cache()
        results: list = []
        errors: list = []
        barrier = threading.Barrier(8)

        def go():
            try:
                barrier.wait()
                results.append(
                    _minhash_hashed_buckets(
                        d, "doc_id", "text", 3, 16, 8, 42,
                        cache_key=("race", "documents"),
                    )
                )
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [threading.Thread(target=go) for _ in range(8)]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(60)
            assert not errors
            assert len(results) == 8
            assert len({id(r[0]) for r in results}) == 1
            assert len(_MINHASH_FRONTENDS) == 1
        finally:
            clear_minhash_frontend_cache()

    def test_cache_hit_wait_timeout_raises_naming_key(
        self, spark, monkeypatch
    ):
        # ROADMAP D.3: a cache hit whose wait for another thread's
        # materialization runs out must raise, naming the key, instead of
        # proceeding on blocks that were never materialized
        import threading

        from datafusion_flight_sql_server_spark.engine import cache
        from datafusion_flight_sql_server_spark.operators import dedup
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        real_build = dedup._minhash_build
        started, release = threading.Event(), threading.Event()

        def stalled_build(*a, **kw):
            started.set()
            assert release.wait(60), "test orchestration stalled"
            return real_build(*a, **kw)

        cache_key = ("stalled", "documents")
        args = (d, "doc_id", "text", 3, 16, 8, 42)
        dedup.clear_minhash_frontend_cache()
        monkeypatch.setattr(dedup, "_minhash_build", stalled_build)
        monkeypatch.setattr(cache, "WAIT_TIMEOUT_S", 0.2)
        creator = threading.Thread(
            target=dedup._minhash_hashed_buckets,
            args=args,
            kwargs={"cache_key": cache_key},
        )
        creator.start()
        try:
            assert started.wait(60)
            with pytest.raises(TimeoutError, match="stalled"):
                dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
        finally:
            release.set()
            creator.join(120)
            dedup.clear_minhash_frontend_cache()
        assert not creator.is_alive()

    def test_failed_build_is_not_cached(self, spark, monkeypatch):
        # a front end whose materializing count() failed is unpersisted
        # and dropped: the next caller builds again, never reusing a
        # relation that was never materialized
        from datafusion_flight_sql_server_spark.operators import dedup
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        real_build = dedup._minhash_build
        failed: list = []

        class _CountFails:
            def __init__(self, hashed):
                self.hashed = hashed

            def count(self):
                raise RuntimeError("count failed")

            def unpersist(self):
                failed.append(self.hashed.unpersist())

        def fail_once(*a, **kw):
            monkeypatch.setattr(dedup, "_minhash_build", real_build)
            hashed, signed, bucketed = real_build(*a, **kw)
            return _CountFails(hashed), signed, bucketed

        args = (d, "doc_id", "text", 3, 16, 8, 42)
        cache_key = ("fails-once", "documents")
        dedup.clear_minhash_frontend_cache()
        monkeypatch.setattr(dedup, "_minhash_build", fail_once)
        try:
            with pytest.raises(RuntimeError, match="count failed"):
                dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
            assert len(failed) == 1  # the failed build was unpersisted
            assert len(dedup._MINHASH_FRONTENDS) == 0
            h, _s, _b = dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
            assert _materialized(spark, h)
            assert len(dedup._MINHASH_FRONTENDS) == 1
        finally:
            dedup.clear_minhash_frontend_cache()

    def test_hit_after_clear_cache_rebuilds_materialized(self, spark):
        # bench.py calls spark.catalog.clearCache() between timings: the
        # next hit must hand out a persisted AND materialized front end,
        # or every consumer lineage recomputes the shingling pass
        from datafusion_flight_sql_server_spark.operators import dedup
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        args = (d, "doc_id", "text", 3, 16, 8, 42)
        cache_key = ("cleared", "documents")
        dedup.clear_minhash_frontend_cache()
        try:
            h1, _s, _b = dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
            assert _materialized(spark, h1)
            spark.catalog.clearCache()
            assert not h1.storageLevel.useMemory
            h2, _s, _b = dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
            assert h2.storageLevel.useMemory
            assert _materialized(spark, h2)
            assert len(dedup._MINHASH_FRONTENDS) == 1
            h3, _s, _b = dedup._minhash_hashed_buckets(*args, cache_key=cache_key)
            assert h3 is h2
        finally:
            dedup.clear_minhash_frontend_cache()

    def test_eval_and_curve_share_one_frontend(self, spark):
        # the threshold curve composes minhash_eval: with the cache primed
        # by eval, the curve's plan reads the persisted relation
        # (InMemoryTableScan) instead of re-shingling the corpus
        from datafusion_flight_sql_server_spark.operators.dedup import (
            clear_minhash_frontend_cache,
        )
        from tests.conftest import SF_SMALL

        clear_minhash_frontend_cache()
        try:
            curve = _run(spark, "dedup_threshold_curve")
            plan = curve._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            assert curve.count() == 9
        finally:
            clear_minhash_frontend_cache()


class TestRound5LateAdditions:
    def test_text_prefix_dup_shuffles_digests_only(self, spark):
        # one hash partitioning by the 16-byte prefix digest; the text
        # column must not survive past the map side into the exchange
        plan = _executed_plan(_run(spark, "text_prefix_dup"))
        assert plan.count("Exchange hashpartitioning") == 1
        # the one exchange partitions by the digest column, not the text
        assert "hashpartitioning(p#" in plan

    def test_incremental_minhash_consistent_with_full_pair_list(self, spark):
        # fresh = batch docs minus those with a verified near-dup pair
        # crossing the batch/history split in the FULL pair list — the
        # incremental operator must agree with the batch operator exactly
        from pyspark.sql import functions as F

        from datafusion_flight_sql_server_spark.operators.dedup import (
            minhash_fresh_vs_history,
            minhash_near_dups,
        )
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"]
        is_batch = F.col("doc_id") % 10 == 0
        fresh = {
            r.doc_id
            for r in minhash_fresh_vs_history(d, is_batch).select("doc_id").collect()
        }
        pairs = minhash_near_dups(d).select("doc_a", "doc_b").collect()
        dup_batch = set()
        for r in pairs:
            a_b, b_b = r.doc_a % 10 == 0, r.doc_b % 10 == 0
            if a_b and not b_b:
                dup_batch.add(r.doc_a)
            elif b_b and not a_b:
                dup_batch.add(r.doc_b)
        batch_ids = {
            r.doc_id for r in d.filter(is_batch).select("doc_id").collect()
        }
        assert fresh == batch_ids - dup_batch

    def test_text_bm25_zero_explode_no_corpus_shuffle(self, spark):
        # dl and per-term tf are row-local higher-order-function
        # projections: the plan must contain NO Generate (explode) node,
        # and the persisted n_docs-row stats table must be reused
        # (InMemoryTableScan) instead of re-scanning documents
        from datafusion_flight_sql_server_spark.queries.catalog import (
            run_query_cleanups,
        )

        try:
            plan = _executed_plan(_run(spark, "text_bm25"))
            # the only row generator is the 3-row stack over the persisted
            # per-doc table — the token array itself never explodes
            assert "Generate explode" not in plan
            assert "Generate stack" in plan
            assert "InMemoryTableScan" in plan
            assert "CartesianProduct" not in plan
        finally:
            run_query_cleanups()

    def test_embed_knn_graph_no_cartesian_mutual_join(self, spark):
        # the n*k directed edge list self-joins on (a,b) ids — an
        # equi-join, never a pairwise cartesian of the corpus
        plan = _executed_plan(_run(spark, "embed_knn_graph"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDocBudgetSelect:
    def test_doc_windows_are_bucket_partitioned_and_spine_broadcasts(self, spark):
        # The oracle's global running sum would be a single-partition sort
        # over the corpus; the Spark plan must keep every doc-sized window
        # PARTITIONED by bucket and only broadcast the <=1001-row spine.
        df = _run(spark, "doc_budget_select")
        plan = _executed_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # the per-doc running sum declares its bucket partitioning
        assert "windowspecdefinition(bucket" in plan

    def test_selected_set_is_budget_maximal_prefix(self, spark):
        # the selection is the maximal prefix of (score desc, doc_id)
        # whose token total fits the budget — re-derive from raw rows
        from pyspark.sql import functions as F

        from datafusion_flight_sql_server_spark.queries.catalog import tables

        d = tables(spark, SF_SMALL)["documents"]
        rows = d.select(
            "doc_id",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n"),
            F.expr(
                "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
                " * 1000000 DIV size(split(text, ' '))"
            ).alias("s"),
        ).collect()
        rows.sort(key=lambda r: (-r.s, r.doc_id))
        budget = sum(r.n for r in rows) // 2
        expect, cum = [], 0
        for r in rows:
            cum += r.n
            if cum > budget:
                break
            expect.append((r.doc_id, cum))
        got = sorted(
            (r.doc_id, r.cum_tok)
            for r in _run(spark, "doc_budget_select").collect()
        )
        assert got == sorted(expect)


class TestReviewRegressionFixes:
    def test_minhash_fresh_vs_history_custom_id_col(self, spark):
        # dup_ids used to be hard-aliased to "doc_id", crashing the final
        # anti-join for any non-default id_col (round-5 review bug)
        from pyspark.sql import functions as F

        from datafusion_flight_sql_server_spark.operators.dedup import (
            minhash_fresh_vs_history,
        )
        from datafusion_flight_sql_server_spark.queries.catalog import tables
        from tests.conftest import SF_SMALL

        d = tables(spark, SF_SMALL)["documents"].select(
            F.col("doc_id").alias("img_id"), "text"
        )
        out = minhash_fresh_vs_history(
            d, F.col("img_id") % 10 == 0, id_col="img_id"
        )
        assert out.columns[0] == "img_id"
        assert out.count() >= 0  # executes without AnalysisException

    def test_dedup_threshold_curve_monotone_with_full_spine(self, spark):
        # every ladder threshold appears (zero-survivor rows included) and
        # both counts are nonincreasing in the threshold
        rows = sorted(
            (r.threshold_ppm, r.n_pairs, r.n_docs_removed)
            for r in _run(spark, "dedup_threshold_curve").collect()
        )
        assert [t for t, _, _ in rows] == list(range(500_000, 950_000, 50_000))
        pairs = [p for _, p, _ in rows]
        docs = [d for _, _, d in rows]
        assert pairs == sorted(pairs, reverse=True)
        assert docs == sorted(docs, reverse=True)
        assert all(d <= p for p, d in zip(pairs, docs))

    def test_lm_unigram_fold_and_join_paths_identical(self, spark):
        # force BOTH adaptive paths on the same corpus: the literal-map
        # fold (fold_limit high) and the vocabulary join (fold_limit 0)
        # must produce identical exact-ppm scores — and the fixture run
        # must have exercised the fold path's gate (vocab <= 64)
        from datafusion_flight_sql_server_spark.queries.catalog import (
            run_query_cleanups,
            tables,
        )
        from datafusion_flight_sql_server_spark.queries.pipeline_q import (
            unigram_lm_scores,
        )

        try:
            d = tables(spark, SF_SMALL)["documents"]
            fold = {
                r.doc_id: (r.n_tok, r.lm_score_ppm)
                for r in unigram_lm_scores(d, fold_limit=10_000).collect()
            }
            join = {
                r.doc_id: (r.n_tok, r.lm_score_ppm)
                for r in unigram_lm_scores(d, fold_limit=0).collect()
            }
            assert fold == join and len(fold) > 0
        finally:
            run_query_cleanups()
