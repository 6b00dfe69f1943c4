"""Physical-plan audits: the plans the 100 TB design demands, asserted.

These are regression guards on Catalyst behavior, not semantics:
pushdown reaching the parquet scan, column pruning, broadcast joins for
dimensions, AQE active, and — the big one — ZERO exchanges in the fused
extraction stage.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan(spark, df, mode="formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def _exchange_nodes(plan: str) -> list[str]:
    """Exchange-family operators of a formatted plan, one entry per
    node, as ``"<node> <Arguments>"`` — e.g. ``"Exchange
    RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=7]"``."""
    nodes = []
    for section in re.split(r"\n\(\d+\) ", plan)[1:]:
        head, _, body = section.partition("\n")
        name = head.split(" ")[0]
        if name in ("Exchange", "BroadcastExchange", "ReusedExchange"):
            args = re.search(r"^Arguments: (.*)$", body, re.M)
            nodes.append(f"{name} {args.group(1) if args else ''}".rstrip())
    return nodes


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(spark, df)
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(spark, df)
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column never read


def test_dimension_join_broadcasts(spark):
    from dstlr_spark.queries.relational import q_revenue_by_nation

    plan = _plan(spark, q_revenue_by_nation(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan  # nation never shuffles


def test_fused_extraction_has_no_exchange(spark):
    """The flagship: documents → full triple bag with no shuffle of the
    TOKEN/TRIPLE stream. Since r6 the corpus scan is fanned out first
    (single-row-group inputs would otherwise feed the annotator one
    task — plans/partitioning.py), so the plan may contain exactly one
    ROUND-ROBIN spread of the raw documents BELOW the annotator, and
    nothing else: no hash/range exchange anywhere, no exchange above
    the Python stage."""
    from dstlr_spark.operators.extract import extract_bag_fused
    from dstlr_spark.queries.doc_kg import _aliases, _documents, _gazetteer

    bag = extract_bag_fused(
        _documents(spark, "/root/testdata/sf0.001"),
        _gazetteer(spark),
        _aliases(spark),
        sent_threshold=10_000,
    )
    plan = _plan(spark, bag)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    # exact node types: one round-robin spread of the raw documents and
    # no other exchange of any kind (shuffle, broadcast or reused)
    nodes = _exchange_nodes(plan)
    assert len(nodes) == 1, nodes
    assert nodes[0].startswith("Exchange RoundRobinPartitioning"), nodes
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    # the annotator output itself is never exchanged: the Python stage
    # must appear above the (only) exchange in the operator tree
    python_pos = max(plan.find("MapInPandas"), plan.find("ArrowEvalPython"))
    first_exchange = plan.find("Exchange")
    assert first_exchange == -1 or python_pos < first_exchange


def test_fan_out_probe_runs_no_job(spark):
    """fan_out reads the partition count from the planned physical plan:
    a frame it already spread comes back unchanged and no Spark job
    starts (executing the AQE plan just to count its splits ran two).
    NativeKG, which probes through fan_out, is built job-free as well."""
    from dstlr_spark.plans.native_kg import NativeKG
    from dstlr_spark.plans.partitioning import fan_out
    from dstlr_spark.queries.doc_kg import _aliases, _doc_fact_triples, _gazetteer

    sc = spark.sparkContext
    fact_triples = _doc_fact_triples(spark)
    scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("contents"),
    )
    a = fan_out(scan)
    assert a is not scan  # single-row-group input: fan_out spread it
    group = "test_fan_out_probe_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        assert fan_out(a) is a
        NativeKG(a, _gazetteer(spark), _aliases(spark), fact_triples)
        after = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before == 0


def test_aqe_enabled_on_aggregates(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )
    assert "AdaptiveSparkPlan" in _plan(spark, df, "simple")


def test_join_strategy_hints_respected(spark):
    """The engine can force a physical join strategy when Catalyst's
    default is wrong for a known distribution."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    shj = li.join(orders.hint("shuffle_hash"), li["l_orderkey"] == orders["o_orderkey"])
    assert "ShuffledHashJoin" in _plan(spark, shj)
    smj = li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
    assert "SortMergeJoin" in _plan(spark, smj)


def test_correlated_subquery_decorrelates(spark):
    """Q17-shaped correlated scalar subquery becomes an aggregate+join,
    not a per-row subplan."""
    from dstlr_spark.queries.relational import q_small_quantity_revenue

    plan = _plan(spark, q_small_quantity_revenue(spark, "/root/testdata/sf0.001"))
    assert "HashAggregate" in plan
    assert "SubqueryExec" not in plan  # decorrelated into the main plan


def test_embedding_neardup_has_no_cartesian(spark):
    """Near-dup candidates must meet via the LSH (table, bucket)
    equi-join — an all-pairs product is the definitive 100 TB killer."""
    from dstlr_spark.queries.similarity import q_embedding_neardup

    plan = _plan(spark, q_embedding_neardup(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_linking_is_single_aggregate_no_sort(spark):
    """NativeKG's links are a projection of its cached mention frame:
    the scan already resolved each mention's entity, so above the cache
    there is no alias join, no window sort and no lemma-key lambda."""
    from dstlr_spark.operators.graph import split_triples
    from dstlr_spark.plans.native_kg import NativeKG
    from dstlr_spark.queries.doc_kg import (
        _aliases,
        _doc_fact_triples,
        _documents,
        _gazetteer,
    )

    kg = NativeKG(
        _documents(spark, "/root/testdata/sf0.001"),
        _gazetteer(spark),
        _aliases(spark),
        _doc_fact_triples(spark),
        sent_threshold=10_000,
    )
    try:
        plan = _plan(spark, split_triples(kg.bag())["links"])
    finally:
        kg.unpersist()
    above, cached, _ = plan.partition("InMemoryRelation")
    assert cached
    assert "Join" not in above and "Window" not in above
    assert "lambdafunction" not in above
    assert "Exchange" not in above  # the cache is doc_id-partitioned


def test_minhash_pairs_stages_posting_list_once(spark):
    """The guarded LSH pair generation must join over the STAGED posting
    list (localCheckpoint / Iceberg stage table) — if the shingle→minhash
    pipeline appears in the pairs plan it is being recomputed per
    consumer, and an unstaged collect-and-expand aggregate would build an
    O(bucket) buffer before the skew cap can drop it."""
    from dstlr_spark.queries.dedup import q_dedup_minhash_pairs

    plan = _plan(spark, q_dedup_minhash_pairs(spark, "/root/testdata/sf0.001"))
    assert "ExistingRDD" in plan          # staged posting list
    assert "md5" not in plan              # minhash pipeline not re-derived
    assert "ObjectHashAggregate" not in plan  # no collect_list buffers
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ngram_topk_is_takeordered_not_global_sort(spark):
    """Corpus top-K must be per-partition top-K merged at the driver
    (TakeOrderedAndProject) — a global Sort of the gram-count frame
    would materialize the whole vocabulary at scale."""
    from dstlr_spark.queries.textstats import q_ngram_topk

    plan = _plan(spark, q_ngram_topk(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_containment_reads_only_staged_frames(spark):
    """Containment must reuse the session-staged shingle + band posting
    lists: no parquet re-scan, no md5 re-derivation, no cartesian."""
    from dstlr_spark.queries.dedup import q_dedup_containment

    plan = _plan(spark, q_dedup_containment(spark, "/root/testdata/sf0.001"))
    assert "ExistingRDD" in plan
    assert "FileScan" not in plan
    assert "md5" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_packing_windows_per_shard_not_global(spark):
    """Packing's cumsum must partition by shard — a global (single
    partition) window would serialize the whole corpus at scale."""
    from dstlr_spark.queries.textstats import q_packing

    plan = _plan(spark, q_packing(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_pq_adc_topk_broadcasts_codebooks(spark):
    from dstlr_spark.queries.similarity import q_pq_adc_topk

    plan = _plan(spark, q_pq_adc_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rescored_pipeline_derives_shingles_once(spark):
    """The LSH→rescore pipeline must feed signatures AND rescore joins
    from ONE staged shingle frame: the final plan reads checkpoints only
    — any parquet scan or md5 re-derivation means the shingle pipeline
    runs again per consumer (the r2 double-derivation)."""
    from dstlr_spark.queries.dedup import q_dedup_minhash_rescored

    plan = _plan(spark, q_dedup_minhash_rescored(spark, "/root/testdata/sf0.001"))
    assert "ExistingRDD" in plan       # staged shingles / posting list
    assert "md5" not in plan           # shingle+minhash pipeline not re-derived
    assert "FileScan" not in plan      # documents scanned only during staging


#: queries whose plan legitimately contains a broadcast cross product —
#: the product IS the algorithm (brute-force rescoring baseline;
#: broadcast-centroid argmin over a dimension-sized centroid table)
_ALLOWED_BROADCAST_PRODUCT = {
    "sim_topk_cosine",
    "sim_ann_ivf",
    "sim_ivf_probe_topk",
    "sim_semantic_dedup",
    "sim_mrl_topk",
    "sim_kmeans_iters",
    "agg_quantile_hist",  # theta-join over the constant bucket-count frame
    # triangular self-join on the score-BAND dimension (bounded ≲10^3
    # rows) — the no-global-window prefix-sum; plus its 1-row totals
    "curate_token_budget",
    "sim_ann_recall",  # exact-baseline side reuses sim_topk_cosine's product
    "sim_hard_negatives",  # the sim_topk_cosine product + a label anti-filter
}

#: queries that broadcast a 1-ROW corpus-totals frame (scalar join —
#: `crossJoin(F.broadcast(agg_frame))`). The nested-loop "loop" runs
#: exactly once per probe row, so the shape is a map-side scalar
#: attach, not a product; a constant-key equi-join would be
#: constant-folded back to this same plan.
_ALLOWED_SCALAR_BROADCAST = {
    "text_token_rarity",
    "curate_domain_mix",
    "curate_lm_surprisal",  # 1-row train-vocab frame
    "kg_comention_pmi",  # 1-row kept-doc-count frame
    "curate_dsir_weights",  # 1-row target/raw-totals frame
    "curate_nb_quality",  # 1-row class-totals frame
    "kg_entity_kcore",  # 1-row max-edge-weight frame
    "curate_mix_temperature",  # 1-row sqrt-totals frame
    "kg_relation_trend",  # 1-row ts-min/max frame
    "kg_entity_hits",  # 1-row max-score frame per half-round
    "kg_truth_discovery",  # 1-row max-confidence frame per round
    "kg_snapshot_asof",  # 1-row corpus time-bounds frame
    "kg_snapshot_diff",  # 1-row corpus time-bounds frame
    "curate_stratified_sample",  # rides curate_domain_mix's 1-row totals
}


def _has_single_partition_window(jplan) -> bool:
    """True if any Window node in the (Scala) physical plan has a
    SinglePartition-distributed child — i.e. a corpus-funneling global
    window, regardless of where its Exchange sits in the plan text."""
    name = jplan.nodeName()
    if name == "Window":
        child = jplan.children().apply(0)
        if "SinglePartition" in child.outputPartitioning().toString():
            return True
    if name == "AdaptiveSparkPlan":  # LeafExecNode — unwrap explicitly
        return _has_single_partition_window(jplan.executedPlan())
    for i in range(jplan.children().size()):
        if _has_single_partition_window(jplan.children().apply(i)):
            return True
    return False


def test_every_registry_query_plan_is_antipattern_free(spark):
    """Registry-wide plan audit: NO query may contain an unplanned
    cartesian, a row-at-a-time Python eval, or a corpus-wide
    single-partition window. Broadcast cross products are allowed only
    on the explicit allowlist above, where they are the algorithm."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    failures = []
    for name, fn in em.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        plan = _plan(spark, df)
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in _ALLOWED_BROADCAST_PRODUCT
            and name not in _ALLOWED_SCALAR_BROADCAST
        ):
            failures.append(f"{name}: BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:  # row-at-a-time Python UDF
            failures.append(f"{name}: BatchEvalPython")
        # a GLOBAL window's child is physically distributed as
        # SinglePartition — walk the executed plan and check each
        # Window node's child partitioning exactly (text adjacency is
        # fooled by AQE wrapper lines; an unrelated 1-row aggregate
        # elsewhere must not condemn a properly partitioned window)
        if _has_single_partition_window(df._jdf.queryExecution().executedPlan()):
            failures.append(f"{name}: single-partition window")
    assert not failures, failures


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located join evidence: two tables bucketed on the join key
    join with ZERO Exchange operators — the bucketing path
    sources/io.py exposes is what pre-paying the shuffle at write time
    buys on a 100 TB fact table."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", str(tmp_path / "o")).saveAsTable("t_orders_bucketed")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", str(tmp_path / "l")).saveAsTable("t_lineitem_bucketed")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_lineitem_bucketed").join(
            spark.table("t_orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(spark, j, "simple")
        assert "Exchange" not in plan, plan
        assert j.count() == li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).count()
    finally:
        # conf.get(key, None) is None when never explicitly set — the
        # restore must UNSET in that case or -1 leaks into every later
        # test in the session-scoped fixture
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_bucketed")


def test_linked_entity_pairs_staged_and_bucketed(spark):
    """The temporal/ER family's shared pair frame must be (a) STAGED —
    a consumer's plan reads the localCheckpoint (ExistingRDD), never
    re-deriving the mention/link joins — and (b) position-BUCKETED at
    build time: the build plan's self-join carries the _bkt equi-key
    (conv-only equi-join would scan O(mentions²) per conversation) and
    plans as a real hash/sort-merge join, never a nested loop."""
    from dstlr_spark.queries import _memo
    from dstlr_spark.queries.doc_kg import (
        _linked_entity_pairs,
        q_triple_temporal,
    )

    sf = "/root/testdata/sf0.001"
    # drop any memo entry from earlier tests so the BUILD plan is fresh
    app = spark.sparkContext.applicationId
    for k in [k for k in _memo._CACHE if k[:2] == (app, "kg_linked_entity_pairs")]:
        del _memo._CACHE[k]
    pairs = _linked_entity_pairs(spark, sf)
    # consumer plan: reads the staged frame only
    plan = _plan(spark, q_triple_temporal(spark, sf))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # second call returns the SAME staged frame object (one derivation
    # per session — the r4 verdict's per-consumer rebuild finding)
    assert _linked_entity_pairs(spark, sf) is pairs


def _mention_scans_and_mention_joins(plan: str) -> tuple[int, bool]:
    """(number of mention-cache scans, whether any join is keyed on
    mention_id) in a formatted plan."""
    scans = len(re.findall(r"^\(\d+\) InMemoryTableScan", plan, re.M))
    return scans, bool(re.search(r"keys \[\d+\]: \[[^\]]*mention_id", plan))


def test_link_consumers_read_entity_off_mention_rows(spark, monkeypatch):
    """Every mention row carries its scan-resolved entity_id, so the
    NIL, blocking and turn-attribution builders scan the mention cache
    once and never join a link frame back on mention_id. The staged
    builder is planned from its build function (the memo layer is
    bypassed for its key), not from the checkpoint it returns."""
    from dstlr_spark.queries import _memo
    from dstlr_spark.queries.doc_kg import (
        _linked_mention_turns,
        q_blocking_quality,
        q_nil_entities,
    )

    sf = "/root/testdata/sf0.001"
    staged = _memo.staged

    def unstaged(spark, key, build):
        if key[0] == "kg_linked_mention_turns":
            return build()
        return staged(spark, key, build)

    monkeypatch.setattr(_memo, "staged", unstaged)
    for build in (q_nil_entities, q_blocking_quality, _linked_mention_turns):
        plan = _plan(spark, build(spark, sf))
        assert _mention_scans_and_mention_joins(plan) == (1, False), build.__name__


def _outside_caches(plan: str) -> list[str]:
    """The node lines of a formatted plan's tree that are not inside a
    cached relation's subtree (an ``InMemoryRelation`` node's children
    are the plan that filled the cache, not work of this query)."""
    tree = plan.split("\n\n", 1)[0].splitlines()[1:]
    kept, cache_depth = [], None
    for line in tree:
        depth = re.search(r"[A-Za-z]", line).start()
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return kept


def test_mention_queries_project_the_staged_mentions(spark):
    """kg_mentions and kg_relations read the session's staged NativeKG
    mention frame: every scan of theirs is the mention cache, and no
    Arrow mention scan of their own is planned."""
    from dstlr_spark.queries.doc_kg import q_mentions, q_relations

    sf = "/root/testdata/sf0.001"
    for q in (q_mentions, q_relations):
        nodes = "\n".join(_outside_caches(_plan(spark, q(spark, sf))))
        assert "InMemoryRelation" in nodes, q.__name__
        assert "MapInPandas" not in nodes and "Scan parquet" not in nodes, q.__name__


def test_alias_winners_plans_no_window(spark):
    """The alias winners are best_alias_entity's arg-max dictionary as
    a local frame — no second, window-based arg-max spelling."""
    from dstlr_spark.queries.doc_kg import _alias_winners

    assert "Window" not in _plan(spark, _alias_winners(spark))


def test_comention_adjacency_staged_once(spark, monkeypatch):
    """One staged symmetrized co-mention adjacency per session: the
    degree, adjacency and graph-kernel consumers read its checkpoint,
    and none of them symmetrizes and checkpoints an edge list again.
    k-core and PMI read the staged pair counts instead of re-running
    the doc-level pair join."""
    from dstlr_spark.queries import _memo
    from dstlr_spark.queries.doc_kg import (
        _comention_adj,
        _comention_weights,
        _ent_docs,
        q_adjacency_list,
        q_comention_pmi,
        q_degree_assortativity,
        q_distance_hub_audit,
        q_entity_degree_hist,
        q_entity_distances,
        q_entity_kcore,
        q_neighbor_jaccard,
        q_ppr_anchored,
        q_two_hop_reach,
        q_wl_signature,
    )

    sf = "/root/testdata/sf0.001"
    app = spark.sparkContext.applicationId
    for k in [k for k in _memo._CACHE if k[:2] == (app, "kg_comention_adj")]:
        del _memo._CACHE[k]
    adj = _comention_adj(spark, sf)
    assert _comention_adj(spark, sf) is adj
    _ent_docs(spark, sf)

    def scan(df):
        return re.search(r"\w+RDD\[\d+\]", _plan(spark, df)).group(0)

    # every plan a query runs: the frames it checkpoints while being
    # built (where a kernel's own symmetrized edge list would show),
    # then its own
    checkpointed = []
    frame_cls = type(adj)
    real_checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(_plan(spark, self))
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)

    def plans(q):
        checkpointed.clear()
        final = _plan(spark, q(spark, sf))
        return checkpointed[:], final

    adj_scan = scan(adj)
    for q in (q_adjacency_list, q_degree_assortativity, q_distance_hub_audit,
              q_entity_degree_hist, q_entity_distances, q_wl_signature,
              q_neighbor_jaccard, q_two_hop_reach, q_ppr_anchored):
        cut, final = plans(q)
        assert adj_scan in "\n".join([*cut, final]), q.__name__
        assert not any("Union" in p for p in cut), q.__name__
        # the BFS unions its hop layers and PPR its teleport row: their
        # own per-round frames, never an edge list with its reverse
        if q not in (q_entity_distances, q_ppr_anchored):
            assert "Union" not in final, q.__name__

    weights_scan = scan(_comention_weights(spark, sf))
    for q in (q_entity_kcore, q_comention_pmi):
        cut, final = plans(q)
        ran = "\n".join([*cut, final])
        assert weights_scan in ran, q.__name__
        # the pair join's residual: a.entity_id < b.entity_id
        assert not re.search(r"entity_id#\d+ < entity_id#\d+", ran), q.__name__


def test_entity_nodes_plans_one_exchange(spark):
    """entity_nodes is one distinct over the raw link and fact inputs:
    one hash exchange, not the link and fact dedupes again beneath it."""
    from dstlr_spark.operators.graph import materialize_graph
    from dstlr_spark.schemas import TRIPLE_SCHEMA

    bag = spark.createDataFrame(
        [
            ("d", "Document", "d", "MENTIONS", "Mention", "m1",
             ("X", "s", 0, 1, "n", None)),
            ("d", "Mention", "m1", "LINKS_TO", "Entity", "E1", None),
            ("d", "Mention", "m2", "LINKS_TO", "Entity", None, None),
            ("gt", "Entity", "E1", "r", "Fact", "v", None),
            ("gt", "Entity", "E2", "r", "Fact", "v", None),
        ],
        TRIPLE_SCHEMA,
    )
    nodes = materialize_graph(bag)["entity_nodes"]
    exchanges = _exchange_nodes(_plan(spark, nodes))
    assert len(exchanges) == 1 and "hashpartitioning(entity_id" in exchanges[0]
    assert sorted(r.entity_id for r in nodes.collect()) == ["E1", "E2"]


def test_bucketed_window_pairs_plans_as_equi_join(spark):
    """The pair join's build shape: the _bkt position bucket must be
    part of the join EQUI-key (hash or sort-merge join on conv_id +
    _bkt), with the band predicate as a residual — never a
    conv-id-only join with the band as a post-join filter (that plan
    scans O(mentions²) per conversation) and never a nested loop."""
    from pyspark.sql import functions as F

    from dstlr_spark.queries.doc_kg import bucketed_window_pairs

    m = spark.range(100).select(
        F.lit("c").alias("conv_id"), F.col("id").cast("int").alias("pos")
    )
    df = bucketed_window_pairs(
        m.select("conv_id", F.col("pos").alias("a_pos")),
        m.select("conv_id", F.col("pos").alias("b_pos")),
        8,
    )
    plan = _plan(spark, df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the bucket column participates in the join key
    assert "_bkt" in plan


def test_batch_bfs_seeds_filter_first_frontier(spark):
    """The multi-anchor BFS's seed set is a query-sized IN list on the
    first frontier: the seed predicate filters the rows below the first
    expansion join, and nothing semi-joins or crosses with the edge-scale
    frontier on K."""
    from dstlr_spark.queries.doc_kg import adjacency, entity_distances

    edges = spark.range(200).select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") * 7 + 3) % 200).cast("string").alias("dst"),
    )
    plan = _plan(spark, entity_distances(adjacency(edges), seeds=("1", "50")))
    seed_filters = {
        m.group(1)
        for m in re.finditer(r"^\((\d+)\) Filter\n.*\nCondition : (.*)$", plan, re.M)
        if re.search(r" IN \(1,50\)| INSET ", m.group(2))
    }
    assert seed_filters, plan
    # the lowest-numbered join's subtree: the lines after it, deeper than it
    tree = plan.split("\n\n", 1)[0].splitlines()[1:]
    nodes = [
        (re.search(r"[A-Za-z]", line).start(), *re.search(r"(\w+).* \((\d+)\)", line).groups())
        for line in tree
    ]
    first = min(
        (i for i, (_, name, _) in enumerate(nodes) if "Join" in name),
        key=lambda i: int(nodes[i][2]),
    )
    below = []
    for depth, name, node_id in nodes[first + 1:]:
        if depth <= nodes[first][0]:
            break
        below.append(node_id)
    assert seed_filters & set(below), plan
    assert "LeftSemi" not in plan
    assert "CartesianProduct" not in plan
