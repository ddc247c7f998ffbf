"""Physical-plan regression tests (PLANS.md claims, pinned).

A refactor that silently breaks predicate pushdown, broadcast of the
dim side, or the top-k strategy would still pass value-equality tests
— these assertions catch the PLAN regressions that only show up as
100× cost at scale."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import kg.contract as contract

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_project_pushdown_and_pruning(spark):
    plan = _plan(contract.Q["filter_project"][0](spark, SF))
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,40.0)" in plan
    # column pruning: the 11-column table reads only the 5 referenced
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_shipdate" in read


def test_join_inner_broadcasts_dim_side(spark):
    plan = _plan(contract.Q["join_inner"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(contract.Q["topk"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # no global sort materialization
    assert "Exchange rangepartitioning" not in plan


def test_agg_basic_partial_then_final(spark):
    plan = _plan(contract.Q["agg_basic"][0](spark, SF))
    # two-phase hash aggregate: partial functions before the exchange
    assert "partial_sum" in plan and "HashAggregate" in plan


def test_range_join_keeps_equi_prefix(spark):
    """The ±window self-join must stay a hash/sort-merge join on the
    user_id equi key — BroadcastNestedLoopJoin means the equi prefix
    was lost and the join is all-pairs."""
    plan = _plan(contract.Q["join_range_window"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hot_key_join_triggers_aqe_skew_split(spark):
    """E3b plan pin (VERDICT r2 #7): a join through a ×100-hot key
    under kg.stages.skew.aqe_skew_conf must come back from AQE with
    the skew split applied — SortMergeJoin(skew=true) over an
    'AQEShuffleRead skewed'. Guards both preconditions the helper
    documents (bare-exchange dim side, partition-level skew)."""
    from pyspark.sql import functions as F

    from kg.stages import skew

    pad = F.sha2(F.col("id").cast("string"), 512)
    hot = spark.range(60000).select(
        F.lit("c_hot").alias("conv_id"), F.col("id").alias("turn_idx"),
        pad.alias("pad"))
    cold = spark.range(8000).select(
        F.concat(F.lit("c"), (F.col("id") % 40).cast("string"))
         .alias("conv_id"),
        F.col("id").alias("turn_idx"), pad.alias("pad"))
    facts = hot.unionByName(cold)
    stats = (facts.groupBy("conv_id")
             .agg(F.count("*").alias("n_turns")).localCheckpoint())
    with skew.aqe_skew_conf(spark, threshold_bytes=4096,
                            advisory_bytes=2048, shuffle_partitions=8):
        out = skew.hot_key_join(facts, stats).select(
            "conv_id", "turn_idx", "pad",
            (F.col("turn_idx") / F.col("n_turns")).alias("rel_pos"))
        # collect() (not count/write — those spawn a SEPARATE query
        # execution) so THIS DataFrame's adaptive plan finalizes
        assert len(out.collect()) == 68000
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert "AQEShuffleRead skewed" in plan


def test_extract_score_is_shuffle_free(spark):
    """The fused B1–B5 path (tokenize → mention scan → pair → score →
    exact-link inside ONE mapInPandas) must stay map-only: an Exchange
    before scoring would shuffle the wide text/token columns and was
    never needed — pin it (PLANS.md 'Pipeline dataflow')."""
    from kg import datagen, pipeline, schemas

    pdf, _ = datagen.generate(n_conversations=10, seed=3)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    plan = _plan(pipeline.extract_and_score(spark, t0))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_packing_window_is_sharded(spark):
    """token_pack_greedy and the corpus pipeline's packing stage are
    PARTITION BY shard windows: no Exchange SinglePartition may appear
    (a global-order window funnels 100 TB through one task)."""
    from kg.contract import Q
    from kg.stages import corpus

    for df in (Q["token_pack_greedy"][0](spark, SF),
               corpus.corpus_pipeline(
                   spark.read.parquet(f"{SF}/documents.parquet")
                   .select("doc_id", "text"))):
        plan = _plan(df)
        assert "Window" in plan
        assert "Exchange SinglePartition" not in plan, plan


def test_dedup_fingerprints_ride_verify_joins(spark, monkeypatch):
    """The r4 carry fix, pinned: on the distributed branch of
    near_duplicate_edges, the minhash_lsh_dedup entry's plan must
    contain EXACTLY the two node-keyed verify joins — the r3
    regression attached fingerprints by re-joining the edge set (2
    extra joins + an O(distinct norms) md5 scan, 2.9× the entry's
    cost). md5 must appear only above the joins (on edge rows), never
    as its own join input. Inside the driver bounds (sf0.001) the
    carried norms come back with the local edge relation, and the
    whole entry plans as one local scan."""
    from kg.contract import Q
    from kg.stages import canon

    import re

    def joins(plan: str) -> int:
        # formatted explain lists each operator twice (tree + detail);
        # count the unique "(N) Op" detail headers
        return len(re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|"
            r"ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
            plan))

    plan = _plan(Q["minhash_lsh_dedup"][0](spark, SF))
    assert joins(plan) == 0 and "LocalTableScan" in plan, plan
    monkeypatch.setattr(canon, "DRIVER_CANON_MAX_NODES", 0)
    plan = _plan(Q["minhash_lsh_dedup"][0](spark, SF))
    assert joins(plan) == 2, f"expected exactly 2 verify joins:\n{plan}"
    assert "md5" in plan


def test_cross_turn_fused_plan_has_no_joins(spark):
    """The r5 fused cross-turn path, pinned: pairing + scoring + exact
    linking in ONE streaming mapInPandas after ONE exchange on
    (conv_id, chunk). The r4 composed path carried TWO broadcast
    linking joins and a second MapInPandas stage; any join or second
    exchange reappearing here is the regression this test exists for."""
    from kg import datagen, schemas
    from kg.stages import score

    pdf, _ = datagen.generate(n_conversations=10, seed=3)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    bc = score.broadcast_weights(spark)
    plan = _plan(score.extract_and_score_cross_turn_fused(t0, bc, k=1))
    assert "Join" not in plan, plan
    # tree form "Exchange (n)" counts nodes; the details section
    # repeats each node as "(n) Exchange"
    assert plan.count("Exchange (") == 1, plan
    assert "MapInPandas" in plan


def test_clustered_cross_turn_plan_has_no_exchange(spark, tmp_path):
    """clustered_input=True must remove the exchange ENTIRELY — scan →
    in-partition sort → MapInPandas. At 10^12 turns the difference is
    shuffling the whole corpus vs shuffling nothing; if an Exchange
    reappears here the fast path has silently regressed to the
    shuffle path."""
    from kg import datagen, schemas
    from kg.stages import score

    pdf, _ = datagen.generate(n_conversations=10, seed=3)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    path = str(tmp_path / "bucketed")
    t0.repartition(2, "conv_id").write.parquet(path)
    bc = score.broadcast_weights(spark)
    plan = _plan(score.extract_and_score_cross_turn_fused(
        spark.read.parquet(path), bc, k=1, clustered_input=True))
    assert "Exchange (" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan
    assert "Sort (" in plan  # the in-partition sort survives


def test_cross_turn_pipeline_is_one_pass(spark, tmp_path):
    """pipeline.extract_and_score with cross_turn_k=1 tokenizes each
    turn once: ONE streaming MapInPandas after ONE exchange on
    (conv_id, chunk), no Union with a second, shuffle-free intra-turn
    scan. On a clustered layout the pass has no Exchange at all."""
    from kg import datagen, pipeline, schemas
    from kg.stages import score

    pdf, _ = datagen.generate(n_conversations=10, seed=3)
    t0 = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    bc = score.broadcast_weights(spark)
    plan = _plan(pipeline.extract_and_score(spark, t0, bc, cross_turn_k=1))
    assert plan.count("MapInPandas (") == 1, plan
    assert plan.count("Exchange (") == 1, plan
    assert "Union" not in plan, plan
    path = str(tmp_path / "bucketed")
    t0.repartition(2, "conv_id").write.parquet(path)
    plan = _plan(pipeline.extract_and_score(
        spark, spark.read.parquet(path), bc, cross_turn_k=1,
        clustered_input=True))
    assert plan.count("MapInPandas (") == 1, plan
    assert "Exchange (" not in plan and "Union" not in plan, plan


def test_kmeans_assign_data_path_is_exchange_free(spark):
    """The Lloyd assignment must not shuffle the vector scan: an
    earlier draft's per-vector row_number window silently added
    Exchange hashpartitioning(vec_id) (caught in review against the
    docstring's map-only claim). The shipped argmin is an array fold
    over a 1-row broadcast centroid array — no vec_id partitioning,
    no Window, anywhere in the plan."""
    from kg import contract

    plan = _plan(contract.Q["kmeans_assign"][0](spark, SF))
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_boilerplate_hot_set_broadcasts(spark):
    """The boilerplate filter's contract is that the turn table is
    never shuffled: the (tiny) hot-text set must arrive broadcast
    into a LeftAnti BroadcastHashJoin. A SortMergeJoin here means
    the 10^12-turn side got sorted and shuffled for a dim-sized
    probe set."""
    plan = _plan(contract.Q["boilerplate_turn_filter"][0](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_single_exchange(spark):
    """Per-stratum rank and stratum count must share ONE shuffle on
    the stratum key (two Window nodes over the same Exchange); a
    second exchange means the count/rank windows partitioned
    differently and the scan is paid twice."""
    import re

    plan = _plan(contract.Q["stratified_sample_lang"][0](spark, SF))
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan,
                                flags=re.M))
    assert n_exchange == 1, plan
    assert plan.count("Window") >= 2


def test_c4_page_agg_combines_map_side(spark):
    """The C4 page aggregation's shuffle must carry O(pages): partial
    aggregate functions before a single exchange."""
    import re

    plan = _plan(contract.Q["c4_quality_filter"][0](spark, SF))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan,
                                flags=re.M))
    assert n_exchange == 1, plan


def _joins(plan: str) -> int:
    """Join operators in a formatted plan: it lists each operator
    twice (tree + detail), so count the unique "(N) Op" headers."""
    import re

    return len(re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|"
        r"ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        plan))


def test_graph_joins_stay_equi(spark, monkeypatch):
    """Triangle wedge/closing joins and LPA message joins must stay
    hash/sort-merge equi-joins — BroadcastNestedLoopJoin or a
    CartesianProduct means a join key was lost and the plan is
    all-pairs (fatal at 10^9 edges). The LPA entry is built forced
    distributed (no driver gate) so its message joins are planned.
    Inside the driver bounds both graph entries read their graph
    output as one local scan: pagerank_iter3 plans no join, and
    min_label_prop_iter3 only its two decode joins."""
    from kg.stages import graph

    for name, n_joins in (("pagerank_iter3", 0),
                          ("min_label_prop_iter3", 2)):
        plan = _plan(contract.Q[name][0](spark, SF))
        assert "LocalTableScan" in plan, name
        assert _joins(plan) == n_joins, (name, plan)
    monkeypatch.setattr(graph, "_driver_graph", lambda nodes, edges: None)
    for name in ("triangle_counts_parts", "min_label_prop_iter3"):
        plan = _plan(contract.Q[name][0](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    assert _joins(plan) == 2 + 3, plan


def test_graph_distributed_plans_are_pinned(spark, monkeypatch):
    """Above the driver bounds, pagerank and min_label_propagation
    plan exactly what they planned before the driver gate existed:
    the sha256 of each optimized logical plan (3 rounds on a small
    graph, expression ids stripped) was taken from the code without
    the gate and matches the gated code forced distributed. A change
    to the distributed plan must re-derive these on purpose."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from kg.stages import graph

    monkeypatch.setattr(graph, "_driver_graph", lambda nodes, edges: None)
    nodes = spark.range(8).select(F.col("id").alias("node"))
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4), (5, 5), (6, 0)],
                                  "src long, dst long")
    for op, digest in (
            (graph.pagerank, "ec3a7df1c70e2d09bb4e2dac3b7573eb"
                             "ccf998759559e97dfa681e4e8f7f3628"),
            (graph.min_label_propagation,
             "1b8c7004345fee7112c144ea6653be5f"
             "b9eae6d5bf4c80c1202bb05ea61eee8c")):
        plan = (op(nodes, edges, iters=3)._jdf.queryExecution()
                .optimizedPlan().toString())
        plan = re.sub(r"#\d+L?", "", plan)
        assert hashlib.sha256(plan.encode()).hexdigest() == digest, (
            op.__name__, plan)
