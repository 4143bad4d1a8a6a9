"""Physical-plan quality gates — the properties that matter at 100 TB.

These assert on `.explain` output, not timings: broadcast joins where a side
is dimension-sized, parquet filter pushdown for selective scans, and zero
Python evaluation nodes in the JVM-only paths (a BatchEvalPython/ArrowEval
node in a hot path is a 10-100x regression waiting for scale).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# every registry query gated below — plans are precomputed ONCE through a
# bounded thread pool (the oracle-sweep pooling pattern, round-4 verdict
# item 3: plan construction is driver/JVM work that parallelizes cleanly,
# and the serial version spent ~80 s building the same plans one by one)
PLAN_NAMES = [
    "allen_relations", "audio_triples", "bm25_search", "cdc_merge",
    "compaction_bins", "copurchase_topk", "doc_chunks", "doc_links",
    "doc_mentions", "dup_spans", "edit_dist_pairs", "er_quality",
    "events_attribution", "events_cusum", "events_followup_range_join",
    "events_gap_fill", "fd_check", "fs_scores", "gini_tree", "golden_records", "ivm_orders", "kg_triples_geo",
    "kg_void", "kmv_source_overlap", "lang_profiles", "lm_xent",
    "mad_prices", "minhash_clusters", "mondrian_k10", "ols_trend",
    "orders_skyline", "phonetic_blocks", "pii_scrub", "pseudonymize_names",
    "q10_returned_items", "q11_important_parts", "q15_top_supplier",
    "q19_disjunctive_revenue", "q1_pricing", "q21_waiting_suppliers",
    "q22_dormant_customers", "q2_min_cost_supplier", "q3_topk",
    "q5_region_revenue", "q6_forecast", "q7_volume_shipping",
    "q8_market_share", "q9_product_profit", "quantile_norm_balances",
    "rank_swap_acctbal", "reid_risk", "reid_summary", "repetition",
    "rrf_fusion", "semantic_dedup", "seq_patterns", "setsim_pairs",
    "simhash_pairs", "snm_pairs", "source_mix", "stratified_sample",
    "target_encoding", "tfidf_keywords", "url_canonical", "url_domains",
    "vocab_topk", "weighted_median_prices", "weighted_sample", "winnow_fp",
    "woe_segments", "zorder_stats",
]


@pytest.fixture(scope="module")
def plans(spark):
    from concurrent.futures import ThreadPoolExecutor

    q = entry.queries()

    def one(name):
        return name, _plan(q[name](spark, SF))

    with ThreadPoolExecutor(max_workers=6) as pool:
        return dict(pool.map(one, PLAN_NAMES))


def test_q3_broadcasts_customer(spark, plans):
    plan = plans["q3_topk"]
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark, plans):
    plan = plans["q5_region_revenue"]
    # supplier/nation/region are all dimension-sized → at least two
    # broadcast joins must survive planning
    assert plan.count("BroadcastHashJoin") >= 2


def test_q1_pushes_shipdate_filter(spark, plans):
    plan = plans["q1_pricing"]
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q6_prunes_columns(spark, plans):
    plan = plans["q6_forecast"]
    # ReadSchema must not include uninvolved wide columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_returnflag" not in read_schema
    assert "l_quantity" in read_schema


def _hash_shuffles_outside_broadcast(df) -> list[str]:
    """Hash-partitioned exchanges of ``df``'s physical plan that do not sit
    under a BroadcastExchange, i.e. that shuffle the streamed side."""
    found = []
    stack = [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, in_broadcast = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), in_broadcast))
            continue
        if name == "BroadcastExchangeExec":
            in_broadcast = True
        elif name == "ShuffleExchangeExec" and not in_broadcast:
            part = node.outputPartitioning().toString()
            if part.startswith("hashpartitioning"):
                found.append(part)
        children = node.children()
        stack.extend((children.apply(i), in_broadcast) for i in range(children.size()))
    return found


def test_jvm_link_path_has_no_python(spark):
    from kgforge.kg.linking import link_mentions
    from kgforge.kg.mentions import detect_mentions
    from kgforge.kg.synth import explode_spans, synth_docs

    # the detector is an Arrow mapInPandas scan; checkpointing its output
    # hands link_mentions a JVM-only input, so the gate sees only linking
    spans = explode_spans(synth_docs(spark, 50))
    mentions = detect_mentions(spans).localCheckpoint(eager=True)
    linked = link_mentions(mentions)
    plan = _plan(linked)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} found in JVM-only link path"
    # the catalog is scored and reduced on the broadcast side; the mentions
    # stream through the join without a shuffle
    assert "BroadcastHashJoin" in plan
    assert _hash_shuffles_outside_broadcast(linked) == []


def test_simhash_is_jvm_only(spark, plans):
    plan = plans["simhash_pairs"]
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_minhash_band_join_not_cartesian(spark, plans):
    plan = plans["minhash_clusters"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_generalize_has_no_global_single_partition_sort(spark, caches):
    # W1 global rank must be range-partition + offsets, not a 1-partition
    # window (which would serialize the sort at scale).  The registry's
    # generalize_* queries return a checkpoint, so the gate reads the
    # operator's own plan over the same input
    from kgforge.anonymize.buckets import calculate_number_of_buckets
    from kgforge.anonymize.ops import AttrSpec, generalize

    col_df = entry._acctbal_column(spark, SF)
    n = col_df.count()
    g = calculate_number_of_buckets(n, 1)
    out = generalize(col_df, [AttrSpec("acctbal", "double", g, n)],
                     F.col("_tie"), cleanup=caches)
    plan = _plan(out)
    assert "Window" in plan and "SinglePartition" not in plan


def test_range_join_is_equi_key_not_nested_loop(spark, plans):
    plan = plans["events_followup_range_join"]
    # equi-join on user id with the range predicate as residual — never a
    # nested-loop over the full pair space
    assert "Join" in plan and "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_doc_mentions_and_links_are_jvm_only(spark, plans):
    # the mention scan itself is one Arrow mapInPandas stage; nothing
    # around it may evaluate Python row by row
    for q in ("doc_mentions", "doc_links"):
        plan = plans[q]
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, f"{marker} in {q}"


def test_build_kg_plan_is_clean(spark):
    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import synth_docs

    t, _ = build_kg(synth_docs(spark, 100), collect_metrics=False)
    plan = _plan(t)
    # only Arrow mapInPandas stages (synthesis + mention detection) may run
    # Python; no row-wise eval nodes, no cartesian joins
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_generalize_plan_flat_at_large_g(spark, caches):
    """W3 scale gate: boundary extraction must not inline a literal IN-list or
    run a driver loop over g — plan size stays O(1) as g grows to 10^4."""
    from kgforge.anonymize.ops import AttrSpec, generalize

    n = 20_000
    col_df = spark.range(n).select(
        F.concat(F.lit("http://ex.org/r"), F.col("id")).alias("subj"),
        F.col("id").cast("double").cast("string").alias("obj_value"),
    )
    plans = {}
    for g in (10, 10_000):
        df = generalize(col_df, [AttrSpec("http://ex.org/attr", "double", g, n)],
                        cleanup=caches)
        plans[g] = df._jdf.queryExecution().optimizedPlan().toString()
        assert " IN (" not in plans[g]
    # plan text must not grow with g (allow slack for the differing digits)
    assert len(plans[10_000]) < len(plans[10]) + 2_000
    # and the boundary join must be a broadcast (ranked side never shuffles
    # for the boundary lookup)
    big = generalize(col_df, [AttrSpec("http://ex.org/attr", "double", 10_000, n)],
                     cleanup=caches)
    phys = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys


def test_generalize_large_g_bounds_match_driver_formula(spark, caches):
    """Value check at g=1000: DataFrame-built bounds equal the scalar
    median/format formulas computed in plain Python."""
    from kgforge.anonymize.ops import AttrSpec, generalize
    from kgforge.anonymize.values import format_bound, median_value

    n, g = 5_000, 1_000
    vals = [((i * 37) % n) * 0.5 for i in range(n)]
    col_df = spark.createDataFrame(
        [(f"http://ex.org/r{i:05d}", str(v)) for i, v in enumerate(vals)],
        "subj string, obj_value string",
    )
    out = generalize(col_df, [AttrSpec("http://ex.org/a", "double", g, n)],
                     cleanup=caches)
    got_min = {
        r["subj"]: r["obj_value"]
        for r in out.filter(F.col("pred").endswith("min")).collect()
    }
    sv = sorted(vals)
    for b in (1, 17, 500, g - 1):
        lb = b * n // g
        lower = median_value("double", sv[lb - 1] if lb > 0 else None, sv[lb])
        lex, _ = format_bound("double", lower)
        assert got_min[f"http://ex.org/a_{b}"] == lex, b


def test_scrub_chunk_lang_paths_are_jvm_only(spark, plans):
    """The new corpus-prep operators must stay inside codegen: no Python
    eval nodes in pii_scrub / doc_chunks / lang_profiles / dedup_keep."""
    for q in ("pii_scrub", "doc_chunks", "lang_profiles"):
        plan = plans[q]
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, f"{marker} in {q}"


def test_new_tpch_queries_broadcast_dims(spark, plans):
    q = entry.queries()
    assert plans["q10_returned_items"].count("BroadcastHashJoin") >= 1
    assert plans["q19_disjunctive_revenue"].count("BroadcastHashJoin") >= 1
    assert plans["q7_volume_shipping"].count("BroadcastHashJoin") >= 2


def test_scalar_subquery_shapes_stay_broadcast(spark, plans):
    # the 1-row threshold/aggregate sides must broadcast, never a shuffled
    # cartesian over the fact table
    q = entry.queries()
    for name in ("q11_important_parts", "q15_top_supplier", "q22_dormant_customers"):
        plan = plans[name]
        assert "CartesianProduct" not in plan, name


def test_corpus_ops_are_jvm_only(spark, plans):
    # vocab/tfidf/mix-sampling hot paths stay in codegen — no Python workers
    q = entry.queries()
    for name in ("vocab_topk", "tfidf_keywords", "source_mix"):
        plan = plans[name]
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, (name, marker)


def test_completed_tpch_queries_broadcast_dims(spark, plans):
    # session-2 TPC-H completions: dimension sides must broadcast
    q = entry.queries()
    assert plans["q2_min_cost_supplier"].count("BroadcastHashJoin") >= 2
    assert plans["q8_market_share"].count("BroadcastHashJoin") >= 2
    assert plans["q9_product_profit"].count("BroadcastHashJoin") >= 2
    assert plans["q21_waiting_suppliers"].count("BroadcastHashJoin") >= 1


def test_session2_corpus_ops_are_jvm_only(spark, plans):
    # repetition signals, duplicate spans, stratified sampling: pure codegen
    q = entry.queries()
    for name in ("repetition", "dup_spans", "stratified_sample"):
        plan = plans[name]
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, (name, marker)
        assert "CartesianProduct" not in plan, name


def test_semantic_dedup_broadcasts_centroids_no_cartesian_pairs(spark, plans):
    # centroid assignment broadcasts the (tiny) centroid table; the pair
    # stage must be an equi-join on the cell id, never an all-pairs product
    plan = plans["semantic_dedup"]
    assert "CartesianProduct" not in plan


def test_round3_ops_plan_quality(spark, plans):
    q = entry.queries()
    # lm_xent: model tables broadcast (charset^3-bounded), nothing Python,
    # no sort-merge join of the data against the model
    plan = plans["lm_xent"]
    assert plan.count("BroadcastHashJoin") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"):
        assert marker not in plan, marker

    # url_domains: pure JVM regex path
    plan = plans["url_domains"]
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # audio_triples: the decode UDF must appear ONCE (an explode over
    # families, not a union that re-executes the Arrow pipeline per family)
    plan = plans["audio_triples"]
    assert plan.count("MapInPandas") == 2, plan.count("MapInPandas")  # synth+decode


def test_kg_triples_geo_broadcasts_catalog(spark, plans):
    plan = plans["kg_triples_geo"]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_session4_ops_plan_quality(spark, plans):
    q = entry.queries()
    # weighted_sample: global top-n must be a TakeOrdered (per-partition
    # heaps + k-row merge), never a full Sort, and pure JVM
    plan = plans["weighted_sample"]
    assert "TakeOrderedAndProject" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # kg_void: profiling aggregate over the checkpointed triple table —
    # hash aggregate, no python, no cartesian
    plan = plans["kg_void"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # url_canonical: regex/array canonicalization entirely in codegen
    plan = plans["url_canonical"]
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session6_ops_plan_quality(spark, plans):
    q = entry.queries()
    # zorder_stats: pure int64 codegen end to end — no python, no
    # cartesian, and a hash aggregate for the skip stats
    plan = plans["zorder_stats"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # edit_dist_pairs: segment blocking + JVM levenshtein — no python
    plan = plans["edit_dist_pairs"]
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # neighbor sampling: the per-(seed, src) top-k must plan as a
    # WindowGroupLimit (hubs cut to the fan-out map-side), never a full
    # per-group sort of hub adjacency
    from kgforge.datapipe.sketch import _stage2
    from pyspark.sql import Window

    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 50}") for i in range(50)],
        "src string, dst string",
    )
    cand = e.withColumn("seed", F.lit("n0")).select(
        "seed", "src", "dst",
        _stage2(
            F.concat_ws("\x1f", "seed", "src", "dst", F.lit("0")), 31, 1009
        ).alias("_h"),
    )
    w = Window.partitionBy("seed", "src").orderBy("_h", "dst")
    pick = cand.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= 3
    )
    assert "WindowGroupLimit" in _plan(pick)


def test_session7_ops_plan_quality(spark, plans):
    q = entry.queries()
    # cdc_merge: the per-key window runs over the CHANGELOG only and the
    # base passes through one anti-join — no python, no cartesian, and
    # exactly one Window (the latest-event pick)
    plan = plans["cdc_merge"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker
    assert plan.count("Window") >= 1

    # gap fill: the sequence+explode grid must be a distributed Generate
    # node, the carry a per-key (never single-partition) window
    plan = plans["events_gap_fill"]
    assert "Generate explode" in plan
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # group-wise OLS: ONE hash aggregate with partial (map-side) combine,
    # all JVM
    plan = plans["ols_trend"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # rank swap / sorted-neighborhood: the rank discipline means no
    # global single-partition window survives in the executed plan
    for name in ("rank_swap_acctbal", "snm_pairs"):
        plan = plans[name]
        assert "SinglePartition" not in plan, name
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct"):
            assert marker not in plan, f"{name}: {marker}"

    # MAD fences: group-partitioned windows only, all JVM
    plan = plans["mad_prices"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # skyline: per-range-partition sweep — no global window, no python
    plan = plans["orders_skyline"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session7_batch2_plan_quality(spark, plans):
    q = entry.queries()
    # target encoding: one hash aggregate + join back, all JVM
    plan = plans["target_encoding"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # pseudonymize: dictionary built on DISTINCT values with the rank
    # discipline — no single-partition window in the executed plan
    plan = plans["pseudonymize_names"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # attribution: per-user range windows, one exchange, no join of
    # conversions against touches
    plan = plans["events_attribution"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                   "SortMergeJoin"):
        assert marker not in plan, marker

    # mondrian result: per-region windows only, all JVM
    plan = plans["mondrian_k10"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session7_batch3_plan_quality(spark, plans):
    q = entry.queries()
    # quantile normalization: rank discipline — no single-partition
    # window; dense-position equi-join, all JVM
    plan = plans["quantile_norm_balances"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # FD violations: aggregate + equi-join back, all JVM, no cartesian
    plan = plans["fd_check"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # Fellegi-Sunter over SNM blocking: the scoring is pure projection —
    # no python, no cartesian, score folded into codegen
    plan = plans["fs_scores"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker


def test_session7_retrieval_plan_quality(spark, plans):
    q = entry.queries()
    # BM25: term frequencies are array expressions — NO explode/Generate
    # for tf, one broadcast stats join, all JVM
    plan = plans["bm25_search"]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # RRF: per-retriever windows (partitioned by the retriever tag) +
    # one doc groupBy, all JVM, no cartesian
    plan = plans["rrf_fusion"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # set-similarity join: prefix-filter equi-joins only — never a
    # cartesian pair product
    plan = plans["setsim_pairs"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker


def test_session7_batch5_plan_quality(spark, plans):
    q = entry.queries()
    # golden records: the whole ER chain stays JVM — blocking join,
    # literal-weight scoring, component loop, one survivorship groupBy
    plan = plans["golden_records"]
    # struct-valued max (the longest rule) plans as SortAggregate — the
    # groupBy is still one partial-aggregated pass either way
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # weighted median: per-group cumulative window, never global
    plan = plans["weighted_median_prices"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session7_batch6_plan_quality(spark, plans):
    q = entry.queries()
    # allen join: equi-join on the key with interval residual — a hash
    # join, never a nested loop over the pair space
    plan = plans["allen_relations"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                   "BroadcastNestedLoopJoin"):
        assert marker not in plan, marker

    # soundex: one codegen fold per row + a hash aggregate — no UDF
    plan = plans["phonetic_blocks"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # cusum: stacked per-key windows, never single-partition
    plan = plans["events_cusum"]
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session7_batch7_plan_quality(spark, plans):
    q = entry.queries()
    # pairwise ER eval: contingency aggregates only — never a pair set
    plan = plans["er_quality"]
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker

    # KMV sketches: per-group top-k must plan as WindowGroupLimit (the
    # map-side cut), pair estimates as array expressions over sketch rows
    plan = plans["kmv_source_overlap"]
    assert "WindowGroupLimit" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_session9_ops_plan_quality(spark, plans):
    q = entry.queries()
    # compaction planner: pure metadata job — one window over the partition
    # key, no python nodes, no joins at all
    plan = plans["compaction_bins"]
    assert "Window" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                   "SortMergeJoin", "BroadcastHashJoin"):
        assert marker not in plan, marker

    # sequence mining: everything keyed by the journey key — the per-key
    # position window and the stats self-joins, never a cartesian and
    # never a global (empty-partition-spec) window
    plan = plans["seq_patterns"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker
    assert "SinglePartition" not in plan

    # winnowing: exploded gram stream + ONE bounded sliding window per doc,
    # all JVM (poly-hash fold is codegen aggregate-expr)
    plan = plans["winnow_fp"]
    assert "Window" in plan
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker


def test_session12_ops_plan_quality(spark, plans):
    q = entry.queries()
    # rectangle motifs: equi-joins only on the oriented edge keys — never
    # a cartesian, never python; the whole decomposition is JVM codegen
    from kgforge.kg.motifs import square_pairs

    plan = _plan(square_pairs(
        spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker

    # IVM merge: the base view is already aggregated — the merge is two
    # hash aggregates (delta partial + union merge), no join of any kind,
    # no python, no global window
    plan = plans["ivm_orders"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                   "SortMergeJoin", "BroadcastHashJoin"):
        assert marker not in plan, marker
    assert "SinglePartition" not in plan

    # risk metrics: one map-side-combinable groupBy (+ a global one-row
    # reduce for the summary) — no joins, no python
    for name in ("reid_risk", "reid_summary"):
        plan = plans[name]
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct", "SortMergeJoin",
                       "BroadcastHashJoin"):
            assert marker not in plan, (name, marker)

    # frozen-bounds application: pure map stage — the classifier fold is a
    # broadcast-literal expression, ZERO exchanges over the new data
    from kgforge.anonymize.incremental import apply_bounds

    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    plan = _plan(apply_bounds(supp, "s_acctbal", [0.0, 1000.0, 5000.0]))
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_copurchase_no_python_and_no_cartesian(spark, plans):
    # the recommender is pure JVM and its pair join is keyed by basket —
    # an item-product would show up as a cartesian/BNLJ
    plan = plans["copurchase_topk"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan


def test_gini_tree_broadcasts_splits(spark, plans):
    # the chosen splits are 1-row DataFrames crossed in via broadcast —
    # never a shuffled join, never a driver collect
    plan = plans["gini_tree"]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_woe_stays_jvm(spark, plans):
    plan = plans["woe_segments"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan
