"""Physical-plan assertions: the scale story (pushdown, pruning,
JVM-side execution, keyed joins) is enforced, not just described."""

from __future__ import annotations

import pytest

from ontario_spark.queries import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filters_reach_the_parquet_scan(spark, sf_small):
    df = all_queries()["q6_revenue_change"](spark, sf_small)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    # the shipdate/discount/quantity predicates must be in the scan node
    scan = [l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l]
    assert scan and "l_shipdate" in scan[0]


def test_column_pruning_reads_only_needed_columns(spark, sf_small):
    df = all_queries()["q6_revenue_change"](spark, sf_small)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # q6 needs 4 lineitem columns; the 16-column table must not be read
    assert "l_comment" not in scan and "l_orderkey" not in scan


def test_no_rowwise_python_udfs_in_pipeline_plans(spark, sf_small):
    """Text/dedup/sampling hot paths stay JVM-side: no BatchEvalPython
    (row-at-a-time Python UDF) anywhere; Arrow-batched nodes are only
    expected in mm_* / stream gap queries."""
    q = all_queries()
    for name in [
        "text_token_stats", "text_quality", "text_langid",
        "dedup_exact", "sample_corpus_mix", "simhash_fingerprints",
        "pack_doc_sequences",
    ]:
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


# the federated registry rows the fed_sparql benchmark workload serves
FED_SPARQL_ROWS = (
    "sparql_federated_join", "sparql_named_graph", "sparql_mongo_join",
    "sparql_drill_join", "sparql_drill_bound_join", "sparql_cypher_join",
    "sparql_service_join", "lslod_cq6_trisource",
)


def test_no_python_stage_on_the_federated_sparql_path(spark, sf_small):
    """Every remote fetch of the federated rows lands as a JVM plan
    (driver rows as a local relation, Derby through Spark-JDBC): no
    Python worker stage anywhere in their physical plans."""
    q = all_queries()
    for name in FED_SPARQL_ROWS:
        plan = _plan(q[name](spark, sf_small))
        for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert marker not in plan, (name, marker)


def test_sparql_joins_run_on_raw_keys_not_uris(spark, sf_small):
    """Star-to-star joins use the underlying key columns (var__kN), not
    formatted URI strings — the engine's core scale property."""
    df = all_queries()["sparql_star_join"](spark, sf_small)
    opt = _optimized(df)
    join_lines = [l for l in opt.splitlines() if "Join" in l]
    assert join_lines
    for l in join_lines:
        assert "concat(" not in l, f"URI-formatted join key: {l}"


def test_whole_stage_codegen_covers_the_agg_path(spark, sf_small):
    df = all_queries()["q1_pricing_summary"](spark, sf_small)
    df.collect()  # AQE finalizes (and codegen-annotates) only on execution
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen stages in the final plan
    assert "*(" in plan
    agg = [l for l in plan.splitlines() if "HashAggregate" in l]
    assert agg and any("*(" in l for l in agg)


def test_var_pred_browsing_scans_each_table_once(spark, sf_small):
    """Round-4 fix: ?s ?p ?o compiles to ONE FileScan per triple map
    (stack-unpivot of the map's predicate columns) instead of one scan
    per catalog predicate — previously a wide catalog re-read the same
    table for every predicate it mapped."""
    from ontario_spark.catalog.tpch_rdf import tpch_catalog
    from ontario_spark.compiler.query import SparqlEngine

    cat = tpch_catalog(sf_small)
    df = SparqlEngine(spark, cat).query("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    plan = _plan(df)
    n_scans = sum(1 for l in plan.splitlines() if "FileScan" in l)
    assert n_scans == len(cat.triple_maps), (n_scans, len(cat.triple_maps))
    assert df.limit(1).count() >= 0  # compiles AND executes


def test_round4_operator_plan_shapes(spark, sf_small):
    """Round-4 additions keep the scale story: contamination joins the
    benchmark side BROADCAST (corpus never shuffles against it), top-k
    selections use distributed TakeOrderedAndProject (never a global
    single-task sort window), and nothing drops to row-wise Python."""
    q = all_queries()
    cont = _plan(q["contamination_check"](spark, sf_small))
    assert "BroadcastHashJoin" in cont
    assert "SortMergeJoin" not in cont
    for name in ("frequent_terms", "bm25_topk"):
        plan = _plan(q[name](spark, sf_small))
        assert "TakeOrderedAndProject" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_temporal_joins_never_plan_nested_loops(spark, sf_small):
    """asof/range/scd2 compile to shuffles + windows / equality joins —
    a range-condition formulation would plan a BroadcastNestedLoopJoin
    and melt at scale."""
    q = all_queries()
    for name in ["events_asof_join", "events_range_pairs", "events_scd2_history"]:
        plan = _plan(q[name](spark, sf_small))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_boilerplate_removal_rejoin_is_an_equality_join(spark, sf_small):
    """The high-df line set re-joins the exploded corpus as a plain
    equality join with NO forced broadcast hint (round-5 fix: the
    boilerplate set is only bounded by total_lines/min_doc_freq, so a
    forced broadcast OOMs at corpus scale) — AQE picks broadcast when
    the set is actually small and a hash join when it isn't. Either
    strategy is acceptable; a nested loop or Python fallback is not."""
    df = all_queries()["dedup_boilerplate"](spark, sf_small)
    df.collect()  # let AQE finalize its join-strategy choice
    plan = _plan(df)
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_scd2_uses_one_key_shuffle(spark, sf_small):
    """Change detection + episode bounds ride ONE (key)-partitioned
    sort: exactly one exchange below the window operators."""
    plan = _plan(all_queries()["events_scd2_history"](spark, sf_small))
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "hashpartitioning" in l
    ]
    assert len(exchanges) == 1, exchanges


def test_round6_operator_plan_shapes(spark, sf_small):
    """Round-6 operators keep their scale shapes: chunking is map-only
    (zero exchanges), the skew profile's top-k never plans a global
    sort, perplexity/pagerank/containment plans stay JVM-side."""
    q = all_queries()
    # chunking: map-only — no keyed shuffle (the only allowed Exchange
    # is spread()'s RoundRobin repartition for single-file inputs)
    plan = _plan(q["doc_chunks"](spark, sf_small))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan
    # skew profile: top-k via TakeOrderedAndProject, not Sort+Limit
    plan = _plan(q["q_skew_suppkey"](spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    # no Python anywhere in the new analysis/dedup paths
    for name in (
        "text_perplexity",
        "dedup_containment",
        "dedup_containment_anchors",
        "events_value_quantiles",
        "events_pagerank",
        "pipeline_rag_prep",
        "semantic_dedup",
    ):
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
    # anchor containment: the candidate side never cross-joins
    plan = _plan(q["dedup_containment_anchors"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round9_operator_plan_shapes(spark, sf_small):
    """Round-9 ops keep their stated scale shapes: no row-wise Python
    anywhere; dup-span and winnow joins ride 8-byte hash keys (never
    gram/fingerprint text); winnow fingerprint GENERATION is map-only
    (no hash/range shuffle, no window — the only exchange allowed is
    spread()'s fixture round-robin)."""
    from ontario_spark.data import table
    from ontario_spark.operators.textops import winnow_fingerprints

    q = all_queries()
    for name in (
        "dedup_dup_spans", "dedup_winnow_pairs", "text_winnow_profile",
        "text_regex_tokens", "emb_cluster_assign",
        "q2_min_cost_supplier", "q20_potential_promotion",
    ):
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    # hashed join keys: optimized joins mention no string concat of grams
    for name in ("dedup_dup_spans", "dedup_winnow_pairs"):
        opt = _optimized(q[name](spark, sf_small))
        for line in opt.splitlines():
            if "Join" in line:
                assert "shingle" not in line and "gram" not in line, (
                    name, line,
                )
    fp_plan = _plan(
        winnow_fingerprints(
            table(spark, sf_small, "documents"), "doc_id", "text"
        )
    )
    assert "hashpartitioning" not in fp_plan
    assert "rangepartitioning" not in fp_plan
    assert "Window" not in fp_plan


def test_round9b_operator_plan_shapes(spark, sf_small):
    """The round-9 continuation ops keep their stated scale shapes: no
    Python nodes anywhere; weighted sampling selects via distributed
    TakeOrderedAndProject (per-partition heaps), never a global sort or
    single-partition window; the Bloom prefilter's bit array rides as a
    broadcast (no shuffle of the benchmark side against the corpus) and
    its membership test stays in codegen (xxhash64 column expressions)."""
    q = all_queries()
    for name in (
        "sample_weighted_topk", "retrieval_rrf_fusion",
        "contamination_bloom", "events_triangles",
    ):
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name

    wtop = _plan(q["sample_weighted_topk"](spark, sf_small))
    assert "TakeOrderedAndProject" in wtop
    assert "Window" not in wtop

    bloom = _plan(q["contamination_bloom"](spark, sf_small))
    assert "BroadcastExchange" in bloom
    assert "xxhash64" in bloom

    incr = _plan(q["pipeline_incremental_neardup"](spark, sf_small))
    assert "BatchEvalPython" not in incr
    assert "ArrowEvalPython" not in incr


def test_cdc_and_url_quality_plan_shapes(spark, sf_small):
    """CDC chunking stays map-only up to the chunk-hash aggregate (one
    Generate for the explode, no Python nodes, and the only exchange is
    the final hash aggregate / fixture spread); URL canonicalization
    and the quality gates stay pure codegen expressions."""
    q = all_queries()
    for name in ("dedup_cdc_chunks", "dedup_url_canonical", "text_quality_gates"):
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
    cdc = _plan(q["dedup_cdc_chunks"](spark, sf_small))
    assert "Generate" in cdc  # edges materialized at the explode node
    assert "Window" not in cdc


def test_centroids_and_web_curation_plan_shapes(spark, sf_small):
    """Label-centroid pooling and the composed web-curation chain stay
    JVM-side end to end."""
    q = all_queries()
    for name in ("emb_label_centroids", "pipeline_web_curation"):
        plan = _plan(q[name](spark, sf_small))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def _build_jobs(spark, build) -> int:
    """Spark jobs started while ``build()`` constructs its DataFrame."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixed_round_loops_start_no_job_per_round_while_built(spark, sf_small):
    """PageRank, PPR and BFS build as one lazy plan, BPE training's
    rounds are lazy checkpoints over one row with no exchange, and
    connected components runs its rounds lazily between convergence
    checks: building any of them must not start a Spark job per
    round."""
    from ontario_spark.data import table
    from ontario_spark.operators import graph
    from ontario_spark.operators.textops import bpe_encode_stats, bpe_train_merges

    q = all_queries()
    for name in ("events_pagerank", "events_ppr", "events_bfs_depth"):
        q[name](spark, sf_small)  # first call reads the table footers
        assert _build_jobs(spark, lambda: q[name](spark, sf_small)) == 0, name
    docs = table(spark, sf_small, "documents")
    builds = {
        "merges": lambda r: bpe_train_merges(docs, "text", rounds=r),
        "encode": lambda r: bpe_encode_stats(docs, "doc_id", "text", rounds=r),
    }
    for name, build in builds.items():
        build(2)
        few = _build_jobs(spark, lambda: build(2))
        many = _build_jobs(spark, lambda: build(8))
        assert few == many, (name, few, many)
    # a star around its minimum node converges in one round, fewer than
    # the rounds between two checks: one check settles it at any cap
    k = graph.CC_ROUNDS_PER_CHECK
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    at_k = _build_jobs(spark, lambda: graph.connected_components(star, max_iter=k))
    at_3k = _build_jobs(spark, lambda: graph.connected_components(star, max_iter=3 * k))
    assert at_k == at_3k, (at_k, at_3k)
