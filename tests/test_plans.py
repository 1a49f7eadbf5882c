"""Physical-plan audits (SURVEY §4) — the scale contract, asserted.

Correctness tests prove the answers; these prove the PLANS are the ones
that survive a 100× scale-up: filters reach the parquet scan, dimension
joins broadcast (no shuffle of the fact side), top-k never global-sorts,
single-pass aggregations shuffle exactly once, and no row-at-a-time
Python appears outside the sanctioned Arrow kernels.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lakeshed import queries as q

SF = os.environ.get("LAKESHED_TEST_SF", "/root/testdata/sf0.001")


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_reaches_parquet_scan(spark):
    """P3-P5: compound predicate is pushed to the scan AND the projection
    prunes the read schema to the referenced columns only."""
    plan = _plan(q.filter_compound(spark, SF))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_discount" in pushed or "l_quantity" in pushed
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read  # unreferenced wide column pruned


def test_dim_joins_broadcast(spark):
    """3-way star join: every dimension side broadcasts — the fact table
    streams through without a join shuffle (scale-critical)."""
    plan = _plan(q.join_3way_rollup(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    """O1+O2: orderBy+limit compiles to TakeOrderedAndProject (per-partition
    heap), never a global Sort of the full input."""
    plan = _plan(q.cte_top_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_groupby_aggregates_partially(spark):
    """A2: partial (map-side) aggregation runs before the exchange, so the
    shuffle carries one row per (partition, group), not per input row."""
    plan = _plan(q.pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    # the formatted tree prints downstream operators first, so the FINAL
    # aggregate appears above the Exchange and the PARTIAL one below it —
    # assert that ordering explicitly: Agg ... Exchange ... Agg
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange", first_agg)
    assert plan.index("HashAggregate", exchange) > exchange


def test_pivot_broadcasts_customer_dim(spark):
    """Round-4 PIVOT gate: the customer dimension join must broadcast
    (docstring claim, now asserted) and the explicit pivot value list
    keeps it a single aggregation pass — no distinct-values pre-job."""
    plan = _plan(q.spark_queries()["pivot_segment_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_explode_top_tokens_partial_agg_and_topk(spark):
    """Round-4 EXPLODE gate: generator → partial agg before the exchange
    (the shuffle carries (token, partial count), not one row per token
    occurrence) → TakeOrderedAndProject for the top-k (docstring claims,
    now asserted)."""
    plan = _plan(q.spark_queries()["explode_top_tokens"](spark, SF))
    assert "Generate explode" in plan or "Generate" in plan
    assert "TakeOrderedAndProject" in plan
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange", first_agg)
    assert plan.index("HashAggregate", exchange) > exchange


def test_set_ops_except_is_single_antijoin(spark):
    """Round-5 simplification (VERDICT r04 #5): the EXCEPT leg plans ONE
    left-anti join — the old intersect-then-except form planned two."""
    plan = _plan(q.spark_queries()["set_ops_except_intersect"](spark, SF))
    assert plan.count("Join type: LeftAnti") == 1   # the EXCEPT leg
    assert plan.count("Join type: LeftSemi") == 1   # the INTERSECT leg


def test_incremental_minhash_never_scans_corpus_text(spark, tmp_path):
    """The stored-signature LSH pairs plan reads ONLY signature-table
    parquet — corpus text is never an input of the pairs query."""
    from lakeshed.catalog import Catalog
    from lakeshed.llm import dedup
    from lakeshed.io import load_star

    docs = load_star(spark, SF, "documents")["documents"]
    cat = Catalog(spark, str(tmp_path / "sigwh"))
    t = dedup.build_signature_table(
        docs, cat, "default.sigs", num_hashes=128, shingle=3
    )
    pairs = dedup.minhash_lsh_pairs(
        None, threshold=0.7, num_hashes=128, bands=32, shingle=3,
        signatures=t,
    )
    assert all("sigwh" in p for p in pairs.inputFiles())


def test_leakage_split_never_scans_corpus_text(spark, tmp_path):
    """The leakage-safe split plan reads ONLY the materialized
    cluster-labels table — LSH + connected components are paid once at
    build time; assigning splits never re-touches corpus text (the same
    contract the incremental-signature gate pins)."""
    from lakeshed.catalog import Catalog
    from lakeshed.io import load_star
    from lakeshed.llm import dedup, sampling

    docs = load_star(spark, SF, "documents")["documents"]
    cat = Catalog(spark, str(tmp_path / "clwh"))
    t = dedup.build_cluster_table(
        docs, cat, "default.doc_clusters",
        threshold=0.7, num_hashes=128, bands=32, shingle=3,
    )
    split = sampling.leakage_safe_split(
        t.read(), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    files = split.inputFiles()
    assert files and all("clwh" in p for p in files)
    # and the projection is shuffle-free: no exchange anywhere
    assert "Exchange" not in _plan(split)


def test_gap_fill_spine_broadcasts(spark):
    """events_gap_fill: the generated date spine × type dim is tiny and
    must broadcast against the daily counts — no shuffle join on the
    generated side."""
    plan = _plan(q.spark_queries()["events_gap_fill"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_benchmark_grams_broadcast(spark):
    """llm_decontaminate: the benchmark gram set broadcasts into a semi
    join — the corpus side never shuffles for the membership probe."""
    plan = _plan(q.spark_queries()["llm_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Join type: LeftSemi") >= 1
    # r14 optimization: grams collapse to xxhash64 BEFORE the explode,
    # so the broadcast set and the corpus generator output carry 8-byte
    # longs, never n-token gram strings
    assert "xxhash64" in plan
    import re
    gcols = re.findall(r"explode\(transform\(array_distinct", plan)
    assert gcols, plan  # hash applied inside the gram array pre-explode


def test_range_window_single_exchange(spark):
    """window_range_sliding_30d: one shuffle on the partition key serves
    both window aggregates (same window spec)."""
    plan = _plan(q.spark_queries()["window_range_sliding_30d"](spark, SF))
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan


def test_q5_star_join_broadcasts_all_dims(spark):
    """TPC-H Q5 shape: every dimension side broadcasts; the only
    shuffle-worthy join is lineitem↔orders; the date filter reaches the
    orders scan."""
    plan = _plan(q.spark_queries()["local_supplier_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1
    assert "PushedFilters: [" in plan and "o_orderdate" in plan


def test_exact_dedup_single_shuffle(spark):
    """LLM exact dedup: one hash-agg pass — exactly one exchange, keyed on
    the digest."""
    plan = _plan(q.spark_queries()["llm_exact_dedup"](spark, SF))
    assert plan.count("+- Exchange") == 1  # once in the tree (details repeat the name)


def test_no_python_row_udfs_in_relational_paths(spark):
    """The relational queries stay whole-stage-codegen JVM: no BatchEvalPython
    (row-at-a-time Python) anywhere; Arrow kernels (ArrowEvalPython /
    mapInPandas) are allowed only in the LLM signature paths."""
    # AQE defers codegen annotation until runtime; explain without it to
    # see the static whole-stage spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["pricing_summary", "filter_compound",
                     "join_3way_rollup", "cte_top_customers",
                     "latest_event_per_user", "hourly_event_rollup",
                     "zscore_outliers"]:
            plan = _plan(q.spark_queries()[name](spark, SF))
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name
            assert "codegen id" in plan, name  # whole-stage-codegen spans
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_minhash_reuses_signature_exchange(spark):
    """MinHash-LSH self-join: the banded-signature exchange is computed once
    and reused on the probe side (ReusedExchange), so the Arrow signature
    kernel doesn't run twice over the corpus."""
    df = q.spark_queries()["llm_minhash_neardup"](spark, SF)
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = _plan(df)
    assert "ArrowEvalPython" in plan  # the sanctioned kernel is in play
    if "ReusedExchange" not in plan and "BroadcastHashJoin" in plan:
        pytest.skip("AQE chose broadcast for the tiny test corpus; "
                    "exchange reuse applies at scale inputs")
    assert "ReusedExchange" in plan


def test_minhash_total_exchange_count(spark):
    """Closes the r3→r5 bench watch item on llm_minhash_neardup: the
    signature-table-era plan carries NO extra shuffle vs the r3 shape.
    Budget: one REPARTITION exchange feeding the Arrow signature kernel
    (computed once — it must sit inside the persisted InMemoryRelation,
    so band join + both verify legs reuse it) and one ENSURE_REQUIREMENTS
    exchange for the candidate-pair distinct. Any third distinct shuffle
    means a regression re-shuffled the signature or verify path. (The
    r3→r5 timing delta itself was warm-vs-cold methodology — see the
    query docstring.)"""
    import re

    df = q.spark_queries()["llm_minhash_neardup"](spark, SF)
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = _plan(df)
    # distinct shuffle exchanges by partitioning ARGUMENTS (the cached
    # stage's AQE initial and final plans print the same repartition as
    # two node ids — same shuffle, not two)
    shuffles = set(
        re.findall(
            r"^\(\d+\) Exchange\nInput.*\nArguments: (.*?),? \[plan_id=\d+\]",
            plan,
            re.M,
        )
    )
    assert len(shuffles) <= 2, f"unexpected shuffle count: {sorted(shuffles)}"
    # the signature kernel's repartition lives INSIDE the cached relation
    assert "InMemoryRelation" in plan and "InMemoryTableScan" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring join key co-locates the data at
    write time: the sort-merge join then needs NO exchange at read time —
    the pre-shuffle is amortized into the table layout (the 100 TB answer
    for repeated fact-to-fact joins)."""
    from lakeshed.io import load_star

    sfdir = SF
    orders = load_star(spark, sfdir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_star(spark, sfdir, "lineitem")["lineitem"].select(
        "l_orderkey", "l_extendedprice"
    )
    for name, df, key in [("b_orders", orders, "o_orderkey"),
                          ("b_lineitem", lineitem, "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.mode("overwrite")
         .option("path", str(tmp_path / name))
         .bucketBy(8, key).sortBy(key)
         .saveAsTable(name))
    # at fixture scale the planner would just broadcast (and skip the
    # bucketed path entirely); disable broadcast to see the plan the
    # bucketing exists for — two big sides
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    """Salting is a pure re-bucketing: result multiset equals the plain
    join, and the join key includes the salt (so the shuffle spreads a hot
    key across `salt` partitions)."""
    from lakeshed.io import load_star
    from lakeshed.ops import salted_join

    orders = load_star(spark, SF, "orders")["orders"].select(
        "o_custkey", "o_totalprice"
    )
    customer = load_star(spark, SF, "customer")["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customer, "o_custkey").groupBy("o_custkey").count()
    salted = (
        salted_join(orders, customer, on="o_custkey", salt=8)
        .groupBy("o_custkey").count()
    )
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
    plan = _plan(salted_join(orders, customer, on="o_custkey", salt=8))
    assert "__salt" in plan  # the composite join key carries the salt


def test_sketch_aggregates_within_error_bounds(spark):
    """The sketch forms that replace exact aggregation at 100 TB:
    approx_count_distinct (HLL++, mergeable, one pass, no expand) and
    approx_percentile (Greenwald-Khanna). Bounds asserted against exact."""
    from lakeshed.io import load_star

    orders = load_star(spark, SF, "orders")["orders"]
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact_ndv"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_ndv"),
        F.expr(
            "approx_percentile(o_totalprice, 0.5, 10000)"
        ).alias("approx_med"),
        F.median("o_totalprice").alias("exact_med"),
    ).first()
    assert abs(row.approx_ndv - row.exact_ndv) <= 0.05 * row.exact_ndv
    assert abs(row.approx_med - row.exact_med) <= 0.02 * row.exact_med
    # the approx plan avoids the distinct expand: single agg, no Expand node
    plan = _plan(
        orders.agg(F.approx_count_distinct("o_custkey"))
    )
    assert "Expand" not in plan


def test_quality_filter_is_pure_projection(spark):
    """llm_quality_filter: the Gopher screen must compile to a single
    scan+project — no exchange, no Python, nothing that wouldn't fuse
    into the read at 100 TB."""
    plan = _plan(q.spark_queries()["llm_quality_filter"](spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_shard_assign_partitions_by_shard_never_globally_sorts(spark):
    """llm_shard_assign: ONE exchange, hash-partitioned on the shard id —
    ordering parallelizes across shards; a rangepartitioning/single
    partition exchange would serialize the 100 TB sort."""
    plan = _plan(q.spark_queries()["llm_shard_assign"](spark, SF))
    assert plan.count("hashpartitioning(shard") == 1
    assert plan.count("(3) Exchange") == 1 and "(4) Exchange" not in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_stream_enrich_dim_join_broadcasts(spark):
    """stream_static_enrich joins each micro-batch to the dimension with a
    broadcast hash join (stateless, no stream-side shuffle); asserted on
    the batch twin of the exact join expression."""
    from lakeshed.io import load_star

    ev = load_star(spark, SF, "events")["events"]
    dim = load_star(spark, SF, "customer")["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    j = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_pairs_join_on_cluster_key(spark):
    """semantic_dedup's candidate join must key on the cluster id — the
    equi-join half of (same cluster, smaller id) — so pair generation is
    one cluster-hash shuffle of the tagged frame, never a broadcast
    nested-loop over corpus². The id comparison and the cosine threshold
    ride along as join-condition/post filters."""
    from lakeshed.llm import similarity

    df = spark.read.parquet(SF + "/embeddings.parquet")
    out = similarity.semantic_dedup(df, k=4, threshold=0.99, iters=1)
    plan = _plan(out)
    assert "cluster" in plan and (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_doc_chunks_no_exchange_between_scan_and_explode(spark):
    """llm_doc_chunks claims a shuffle-free 1→N flatMap (sequence +
    explode + slice): the whole plan must contain NO Exchange at all —
    chunking is embarrassingly parallel over input partitions, and any
    shuffle here would move the full corpus text at 100 TB."""
    from lakeshed.llm.queries import llm_doc_chunks

    plan = _plan(llm_doc_chunks(spark, SF))
    assert "Generate" in plan or "Explode" in plan  # the 1→N generator
    assert "Exchange" not in plan
