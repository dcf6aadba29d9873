"""Plan-quality regression guards: the properties that make these operators
scale (pushdown, pruning, broadcast dims, no Python in hot paths) asserted
against the physical plan — so a refactor that silently degrades the plan
fails CI, not the 100 TB run."""

import pytest

from kafka_cdc_redshift_spark.plans import SPECS


def plan_of(spark, sf_dir, name: str) -> str:
    df = SPECS[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, sf_dir, name: str) -> str:
    # executedPlan().toString() truncates long expression lists (the cutoff
    # shifts with expression-ID width, which makes substring guards flaky);
    # the formatted explain prints scan PushedFilters/ReadSchema in full
    df = SPECS[name].spark(spark, sf_dir)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan and "<=" in scan  # predicate reaches the scan
    assert "l_orderkey" not in scan               # unused columns pruned
    assert plan.count("Exchange") == 1            # partial agg -> one shuffle


def test_q5_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3   # nation/region/supplier at least
    assert "BatchEvalPython" not in plan


def test_routing_is_native(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cdc_pipeline_debezium")
    assert "BatchEvalPython" not in plan          # reference used Python UDFs (P1/P2)
    # fused route+parse: routing predicates live on the parsed struct, so no
    # per-field get_json_object probes re-tokenize the envelope
    assert "get_json_object" not in plan


def test_route_parse_single_full_parse(spark, sf_dir):
    # fused route+parse (normalize.py): the FULL payload from_json appears
    # exactly once (the flatten projection); the routing/op filter pushed
    # below it may re-parse only with a pruned metadata-only schema. A
    # regression back to route-then-parse shows up as extra full-schema
    # parses or get_json_object probes.
    plan = plan_of(spark, sf_dir, "cdc_pipeline_debezium")
    assert plan.count("from_json(StructField(before,StructType") == 1
    assert "get_json_object" not in plan
    plan = plan_of(spark, sf_dir, "cdc_pipeline_dms")
    assert plan.count("from_json(StructField(data,StructType") == 1
    assert "get_json_object" not in plan
    plan = plan_of(spark, sf_dir, "cdc_canal_json")
    assert plan.count("from_json(StructField(data,ArrayType") == 1
    assert "get_json_object" not in plan
    # Mongo reads documentKey/doc with get_json_object by design (P8);
    # none of them may probe the raw envelope
    plan = plan_of(spark, sf_dir, "cdc_pipeline_mongo")
    assert plan.count("from_json(StructField(_id,StringType") == 1
    assert "get_json_object(value#" not in plan


def _table_predicates(df) -> list[str]:
    """Class names of the predicates over the envelope's `table` field in
    df's optimized plan: in the plan's JSON each expression tree is a
    pre-order node list, so a predicate's subject directly follows it."""
    import json

    found = []

    def walk(x):
        if isinstance(x, dict):
            for y in x.values():
                walk(y)
        elif isinstance(x, list):
            for a, b in zip(x, x[1:]):
                if (
                    isinstance(a, dict) and isinstance(b, dict)
                    and b.get("class", "").endswith(".GetStructField")
                    and b.get("name") == "table"
                ):
                    found.append(a["class"].rsplit(".", 1)[-1])
            for y in x:
                walk(y)

    walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))
    return found


def test_shell_routes_table_by_name(spark, tmp_path, monkeypatch):
    """The shell resolves every rule's table to names on the driver: its
    fused parse filters the table path with an EqualTo for a literal rule
    and an In over the matched names for a regex rule, and no routing
    plan (parse or schema inference) evaluates a regex."""
    import json

    from kafka_cdc_redshift_spark.config import SyncRule
    from kafka_cdc_redshift_spark.sources import infer
    from kafka_cdc_redshift_spark.streaming import job
    from kafka_cdc_redshift_spark.streaming.store import ParquetTargetStore

    parses, inferences = {}, []
    real_parse, real_strings = job.route_parse, infer.payload_strings

    def parse(df, fmt, db, table, *a, **k):
        out = real_parse(df, fmt, db, table, *a, **k)
        parses[tuple(table)] = out
        return out

    def strings(*a, **k):
        out = real_strings(*a, **k)
        inferences.append(out)
        return out

    monkeypatch.setattr(job, "route_parse", parse)
    monkeypatch.setattr(infer, "payload_strings", strings)
    batch = spark.createDataFrame([(json.dumps({
        "before": None, "after": {"pid": pid},
        "source": {"db": "d", "table": table}, "op": "c", "ts_ms": 1,
    }),) for pid, table in enumerate(("orders", "cust_1", "cust_2", "xcust"))],
        "value string")
    rules = [
        SyncRule(db="d", table="orders", primary_key=("pid",)),
        SyncRule(db="d", table="cust_.*", primary_key=("pid",),
                 target_table="customers"),
    ]
    proc = job.CdcBatchProcessor(
        spark, rules, ParquetTargetStore(str(tmp_path / "store"))
    )
    assert {s.status for s in proc.process_batch(batch, 0)} == {"finished"}
    assert sorted(parses) == [("cust_1", "cust_2"), ("orders",)]
    assert _table_predicates(parses[("orders",)]) == ["EqualTo"]
    assert _table_predicates(parses[("cust_1", "cust_2")]) == ["In"]
    assert len(inferences) == 2
    for df in [*parses.values(), *inferences]:
        assert "RLike" not in df._jdf.queryExecution().optimizedPlan().toJSON()


def test_q3_no_forced_fact_broadcast(spark, sf_dir):
    # only the customer dimension may carry a broadcast HINT; the orders
    # side is fact-sided and must be left to AQE's runtime sizing (a forced
    # broadcast is a driver OOM at 100x scale). AQE may still *choose* to
    # broadcast at toy SF — the guard pins the absence of the hint.
    df = SPECS["q3_shipping_priority"].spark(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") == 1


def test_lww_dedup_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cdc_lww_dedup")
    # one hash shuffle for the window (plus AQE reads); no extra sorts beyond
    # the window's partition-local sort
    assert plan.count("Exchange hashpartitioning") <= 2


def test_text_ops_native(spark, sf_dir):
    for name in ("text_quality", "text_token_stats", "dedup_simhash"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_canal_parse_not_duplicated_by_inferred_filters(spark, sf_dir):
    # NOTES.md pathology #2: a non-outer posexplode gets inferred
    # size()/isnotnull() filters and pushdown substitutes the FULL-schema
    # from_json into them — every envelope parsed ~3x. posexplode_outer +
    # generated-column filter keeps it to exactly one.
    plan = plan_of(spark, sf_dir, "cdc_canal_json")
    assert plan.count("from_json(StructField(data,ArrayType") == 1


def test_simhash_single_tokenize(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_simhash")
    assert plan.count("split(") == 1


def test_multimodal_uses_arrow_batches(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "multimodal_binary_meta")
    assert "MapInPandas" in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "q6_forecast_revenue")
    # only the 4 referenced columns reach the scan...
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in rs
    assert "l_orderkey" not in rs and "l_returnflag" not in rs
    # ...and all three predicates are pushed down to the parquet reader
    pf = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "LessThan(l_quantity" in pf
    assert "GreaterThanOrEqual(l_discount" in pf


def test_q4_semi_join_no_forced_broadcast(spark, sf_dir):
    # EXISTS compiles to a LeftSemi join; neither side carries a broadcast
    # hint (lineitem-R is fact-scale at 100x — AQE decides from runtime size)
    plan = plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    df = SPECS["q4_order_priority"].spark(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed


def test_q10_only_nation_broadcast_forced(spark, sf_dir):
    # exactly one broadcast HINT (the nation dim); customer/orders/lineitem
    # are data-scaled and stay with AQE
    df = SPECS["q10_returned_items"].spark(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") == 1


def test_gopher_flags_native_single_tokenize(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_gopher_filters")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # all tokenizations live in ONE Project node, where whole-stage-codegen
    # subexpression elimination evaluates split() once per row; the pathology
    # to pin is a split() duplicated into a Filter / pushed below an
    # exchange (NOTES.md #2), where CSE can't reach it
    lines = plan.splitlines()
    assert sum(1 for l in lines if "Project" in l and "split(" in l) == 1
    assert not any("Filter" in l and "split(" in l for l in lines)


def test_anomaly_stats_broadcast_only(spark, sf_dir):
    # the per-type moments (bounded by |event types|) carry the ONLY
    # broadcast hint; the events fact never does
    df = SPECS["events_anomaly_zscore"].spark(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") == 1
    plan = plan_of(spark, sf_dir, "events_anomaly_zscore")
    assert "BatchEvalPython" not in plan


def test_doc_chunks_is_map_side_only(spark, sf_dir):
    # the 1->K chunk fan-out must happen inside the scan partition: a
    # Generate (posexplode) with no hash-partitioned shuffle anywhere
    plan = plan_of(spark, sf_dir, "doc_chunks")
    assert "Generate" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_jaccard_cut_shares_join_shuffle(spark, sf_dir):
    # the stop-shingle df count rides the SAME shingle partitioning the
    # sort-merge self-join needs: the b-side's posting-list exchange must be
    # REUSED from the a-side. AQE performs this reuse when stages
    # materialize, so assert on the final adaptive plan, post-execution.
    df = SPECS["dedup_ngram_jaccard"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "ReusedExchange" in plan   # b-side reuses the a-side exchange
    assert "BatchEvalPython" not in plan


def test_q19_part_conjuncts_pushed_below_join(spark, sf_dir):
    # Catalyst must extract the common part-side disjunction (brand IN ... /
    # size bounds) below the join so the dim scan prefilters
    plan = formatted_plan(spark, sf_dir, "q19_disjunctive_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l or "p_size" in l for l in pushed), pushed


def test_moving_avg_single_window_shuffle(spark, sf_dir):
    # both window functions (frame sum/count + lag) share one user_id sort
    plan = plan_of(spark, sf_dir, "events_moving_avg")
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# round-3 late additions
# ---------------------------------------------------------------------------

def test_q21_exists_pair_collapses_to_one_window(spark, sf_dir):
    # EXISTS + NOT EXISTS decorrelated to one window pass: supplier count
    # and late count per order share a single Window (one shuffle), and
    # there is no self-join re-scan of the flagged relation
    plan = plan_of(spark, sf_dir, "q21_sole_late_supplier")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q2_window_min_decorrelation(spark, sf_dir):
    # the correlated min subquery is a window over partkey, not a second
    # aggregation joined back; all four dims broadcast
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert plan.count("Window") == 1
    assert plan.count("BroadcastHashJoin") >= 4


def test_q11_threshold_is_broadcast_scalar(spark, sf_dir):
    # the scalar subquery threshold joins as a single-row broadcast
    # nested-loop, never a shuffle
    plan = plan_of(spark, sf_dir, "q11_important_parts")
    assert plan.count("BroadcastNestedLoop") == 1
    assert "BatchEvalPython" not in plan


def test_contamination_eval_broadcast_one_explode_per_side(spark, sf_dir):
    # eval membership is a broadcast hash join on 60-bit longs; each side
    # shingle-explodes exactly once (a pushed inferred filter would add a
    # third Generate / re-evaluated shingle expression below the spread)
    plan = plan_of(spark, sf_dir, "doc_contamination")
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Generate") == 2
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_assignment_materialized_once(spark, sf_dir):
    # the cell assignment is localCheckpoint'ed: its scoring cross-join +
    # assignment window must NOT be replayed per consumer (three consumers
    # would otherwise each recompute it — 12 exchanges observed pre-fix)
    plan = plan_of(spark, sf_dir, "dedup_semantic")
    assert plan.count("Window") == 0
    assert plan.count("Exchange") <= 5


def test_source_mix_two_window_prune_shape(spark, sf_dir):
    # r4 scale shape: window 1 over (stratum, input-partition) keeps each
    # partition's local budget prefix (no reducer ever sees a whole
    # stratum), window 2 over the bounded remnant decides the winners.
    # Token counting and the ordering hash stay map-side; only the narrow
    # (id, stratum, n_tokens, hash) projection ever shuffles.
    plan = plan_of(spark, sf_dir, "doc_source_mix")
    assert "SPARK_PARTITION_ID" in plan.upper()  # the prune stage exists
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan


def test_lm_surprisal_lm_join_is_broadcast(spark, sf_dir):
    """The doc-bigram x LM join must be a pinned BroadcastHashJoin under
    the default gate (the LM is vocab^2-bounded), not left to AQE's
    runtime estimate — and the gate must actually be a gate."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import text
    from kafka_cdc_redshift_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = text.lm_surprisal_flags(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # gated off: the hint disappears (AQE may still choose broadcast at
    # runtime, so assert on the optimized logical plan's hints instead)
    logical = str(
        text.lm_surprisal_flags(docs, broadcast_lm=False)
        ._jdf.queryExecution().optimizedPlan()
    )
    assert "ResolvedHint" not in logical


def test_source_lm_crossscore_single_corpus_explode(spark, sf_dir):
    """The |sources|^2 matrix must derive from ONE corpus explode: the
    per-source census serves both the LM side and the scoring side, so
    the plan holds exactly one generator over documents."""
    plan = plan_of(spark, sf_dir, "source_lm_crossscore")
    scans = plan.count("documents.parquet")
    assert plan.count("Generate") <= 2  # explode may appear once per scan
    assert scans <= 2


def test_kneser_ney3_single_corpus_explode(spark, sf_dir):
    """Trigram KN: one corpus explode into the census; every backoff
    quantity derives from the census (checkpoint barrier), never a
    corpus re-scan."""
    plan = plan_of(spark, sf_dir, "text_kneser_ney3")
    assert plan.count("Generate") <= 1
    assert plan.count("documents.parquet") <= 1


def test_ccnet_buckets_no_per_source_sort(spark, sf_dir):
    """ccnet_buckets must not rank with a window keyed only by the
    low-cardinality `source` (a per-source single-reducer sort at
    100x). The scale-safe plan ranks range-partitioned: no ntile
    anywhere, and every window over the corpus-sized relation keys
    (pid, source) — `pid` right before `source` in the partition
    spec — so each sort task handles ~n/P rows."""
    import re

    plan = plan_of(spark, sf_dir, "doc_ccnet_buckets")
    assert "ntile" not in plan
    assert "BatchEvalPython" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "source" in spec and "surprise_ratio" in spec:
            # the corpus-sized ranking window: must be pre-keyed by pid
            assert "pid" in spec.split("source")[0]


def test_doc_len_quantiles_no_per_lang_sort(spark, sf_dir):
    """The exact-rank quantile query must rank via
    util.range_partitioned_rank, not a window keyed only by the
    low-cardinality `lang` (the ccnet_buckets lesson): every
    corpus-sized ranking window is pre-keyed by the range-partition
    id."""
    import re

    plan = plan_of(spark, sf_dir, "doc_len_quantiles")
    assert "BatchEvalPython" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "lang" in spec and "n_chars" in spec:
            assert "pid" in spec.split("lang")[0]


def test_events_deciles_no_per_type_sort(spark, sf_dir):
    """events_value_deciles must not compute ntile over a window keyed
    only by the low-cardinality event_type — range-partitioned rank +
    closed-form ntile instead (util.range_partitioned_rank)."""
    import re

    plan = plan_of(spark, sf_dir, "events_value_deciles")
    assert "ntile" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "event_type" in spec and "value" in spec:
            assert "pid" in spec.split("event_type")[0]


def test_topk_per_group_window_has_group_limit(spark, sf_dir):
    """row_number() <= k cuts are scale-safe out of the box: Catalyst
    inserts Partial+Final WindowGroupLimit (mapper-side top-k per
    group), so only ~k rows per group per mapper reach the window
    shuffle. Pin it so a refactor that breaks the pushdown (e.g.
    filtering on a derived column instead of the raw rank) fails here —
    this is why rank CUTS keep the window spelling while full-rank
    ASSIGNMENTS (ntile, quantile ranks) need range_partitioned_rank."""
    plan = plan_of(spark, sf_dir, "top_customers_per_segment")
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final


def test_kmeans_cell_size_is_map_side(spark, sf_dir):
    """kmeans' cell_size must come from a k-row groupBy broadcast-joined
    back, NOT count(*) OVER (PARTITION BY cell): `cell` is a
    k-cardinality key over the corpus-sized assignment, so the window
    spelling funnels each cluster's entire membership through one task
    at 100x (the ccnet_buckets lesson, minus the ORDER BY that made it
    visible there)."""
    plan = plan_of(spark, sf_dir, "emb_kmeans")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_quantile_sketch_audit_no_per_type_sort(spark, sf_dir):
    """events_quantile_sketch_audit's exact order-statistic leg must rank
    via util.range_partitioned_rank, not row_number/count windows keyed
    only by the low-cardinality event_type (the ccnet_buckets lesson):
    every corpus-sized ranking window is pre-keyed by the range-bucket
    id, and the group total comes from the census, not a second
    whole-group window."""
    import re

    plan = plan_of(spark, sf_dir, "events_quantile_sketch_audit")
    assert "BatchEvalPython" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "event_type" in spec and "value" in spec:
            assert "pid" in spec.split("event_type")[0]


def test_ccnet_rank_input_materialized_once(spark, sf_dir):
    """r12 optimization pin: ccnet_buckets checkpoints the scored
    relation before range_partitioned_rank, whose three consumers
    (boundary sample, offset census, ranked path) would otherwise each
    re-run the whole LM-surprisal pipeline (corpus bigram explode +
    KN-LM join). The final plan must read the materialized rows — no
    documents scan, no explode — a regression shows up as the corpus
    lineage reappearing under the census/ranked branches."""
    plan = formatted_plan(spark, sf_dir, "doc_ccnet_buckets")
    assert "documents.parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_collocations_shared_census_and_mapside_totals(spark, sf_dir):
    """r12 optimization pin: collocations computes BOTH totals map-side
    from one docs scan (sum(size(tokens)) / sum(greatest(size-1, 0)))
    and joins a checkpointed unigram census twice — so the corpus is
    scanned exactly twice (bigram census + totals) instead of five
    times, and the only explode left is the bigram one."""
    plan = formatted_plan(spark, sf_dir, "text_collocations")
    assert plan.count("documents.parquet") == 2
    assert plan.count("Scan ExistingRDD") >= 2  # unigram census, both legs


def test_kmeans_rescans_rather_than_checkpointing(spark, sf_dir):
    """r13 adjudication pin: kmeans deliberately REPLAYS the embeddings
    scan per Lloyd action instead of checkpointing a prepared relation —
    the A/B probe (4M vectors) measured
    the checkpointed shape 29% slower (materialized double arrays cost
    more than the compressed column-pruned scan; nothing expensive is
    saved). The final plan must read the parquet scan, not a
    checkpointed RDD."""
    plan = formatted_plan(spark, sf_dir, "emb_kmeans")
    assert "embeddings.parquet" in plan
    assert "Scan ExistingRDD" not in plan


def test_contamination_bloom_shares_one_shingle_explode(spark, sf_dir):
    """r13 optimization pin: the bloom-vs-exact audit builds the corpus
    (doc_id, gh) shingle explode and the eval hash relation ONCE each
    (checkpointed), threading them through both probes — before, the
    bloom prefilter and the exact membership leg each re-ran the
    tokenize+shingle+hash pass (and the eval side shingled twice more
    for the bloom build and the exact join). The final plan must read
    only materialized rows; the corpus explode reappearing under either
    probe is the regression."""
    plan = formatted_plan(spark, sf_dir, "doc_contamination_bloom")
    assert "documents.parquet" not in plan
    assert plan.count("Scan ExistingRDD") >= 3  # tr x2 + evh (+ bloom build)
    # the only Generate left is the bloom's d-probe position explode
    # (checkpoint builds run the shingle Generates outside this plan)
    assert plan.count("Generate") <= 2
