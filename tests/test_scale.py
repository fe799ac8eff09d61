"""Scale machinery: salting equivalence, bucketed co-located joins, and
plan-shape assertions (pushdown/pruning/broadcast) — the 100 TB contract,
checked at test size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zio_analytics_spark.operators.skew import salted_join, two_phase_agg


def _skewed(spark):
    # one hot key (90%) + long tail
    hot = [(1, float(i % 7)) for i in range(900)]
    tail = [(1 + (i % 50) + 1, float(i)) for i in range(100)]
    return spark.createDataFrame(hot + tail, "k long, v double")


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([(k, f"dim{k}") for k in range(1, 60)], "k long, name string")
    plain = big.join(small, ["k"]).groupBy("k", "name").agg(F.round(F.sum("v"), 4).alias("s"))
    salted = (
        salted_join(big, small, ["k"], n_salts=4)
        .groupBy("k", "name")
        .agg(F.round(F.sum("v"), 4).alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_matches_plain(spark):
    df = _skewed(spark)
    plain = {
        (r.k): (r.n, r.total)
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.round(F.sum("v"), 4).alias("total")).collect()
    }
    two = {
        (r.k): (r.n, r.total)
        for r in two_phase_agg(
            df,
            ["k"],
            partial={"s": F.sum("v"), "c": F.count("*")},
            merge={"total": F.round(F.sum("s"), 4), "n": F.sum("c")},
        ).collect()
    }
    assert plain == two


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed tables co-locate equi-join keys at write time: the join plan
    must contain NO shuffle (Exchange) — this is how repeated 100 TB joins
    amortize their shuffle."""
    a = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 10000).withColumn("w", F.col("id") % 7)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bt_a")
        b.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bt_b")
        joined = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    """Filters and projections must reach the parquet scan."""
    from zio_analytics_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # pruned read schema: only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_broadcast_hint_produces_broadcast_join(spark, sf_dir):
    from zio_analytics_spark.datastream import DataStream
    from zio_analytics_spark.sources.parquet import read_table

    li = DataStream(read_table(spark, sf_dir, "lineitem"))
    part = DataStream(read_table(spark, sf_dir, "part"))
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"), broadcast_other=True)
    plan = joined.to_df()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_aqe_enabled_and_adaptive_plan(spark, sf_dir):
    """AQE must be active: runtime partition coalescing + skew handling are
    the session's primary scale levers (session.py DEFAULT_CONFIG)."""
    from zio_analytics_spark.sources.parquet import read_table

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan


def test_tpch_q6_filters_push_to_scan(spark, sf_dir):
    """Q6's conjunctive predicates must reach the parquet reader — at 100 TB
    this query is viable only because the scan itself skips rows/row-groups."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q6_forecast_revenue"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("ReadSchema")[0], f"{col} not pushed: {plan[:2000]}"


def test_tpch_q10_broadcasts_nation(spark, sf_dir):
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q10_returned_items"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must become a (left-)semi hash join, not a
    nested-loop per-row subquery."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q4_late_orders"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_3way_preaggregates_before_join(spark, sf_dir):
    """The fact table must be aggregated to order grain BEFORE the join —
    the optimized plan joins ~|orders| rows, not ~|lineitem| rows."""
    from zio_analytics_spark.catalog import CATALOG

    import re

    q = CATALOG["join_inner_3way"].fn(spark, sf_dir)
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    # the aggregate on l_orderkey must appear BELOW the first join
    first_join = optimized.find("Join")
    m = re.search(r"Aggregate \[l_orderkey#\d+L?\]", optimized)
    assert m, optimized[:2000]
    assert m.start() > first_join >= 0, optimized[:2000]


def test_heavy_hitters_no_wide_shuffle_before_candidates(spark, sf_dir):
    """Pass 1 (candidate generation) must not shuffle the token stream: the
    mapInPandas scan runs on the scan partitioning, and only the tiny
    candidate set is exchanged."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.sketch import partition_candidates
    from zio_analytics_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")).alias("token")
    )
    cand = partition_candidates(toks, "token", 0.002)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # exactly the distinct()'s exchange over candidates; none before the scan
    before_python = plan.split("MapInPandas")[-1]  # below = upstream of UDF
    assert "Exchange" not in before_python, plan[:3000]


def test_word_shingles_expression_is_linear_in_plan(spark):
    """The shingle expression must appear ONCE in the optimized plan: the
    token array is bound as a lambda variable, not re-inlined per shingle.
    The naive form re-ran the full regex tokenization inside every
    element_at (O(L^2) per document — ~100 s across the dedup entries at
    sf0.1, and quadratic in document length at web scale)."""
    from zio_analytics_spark.operators.text import word_shingles

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = (
        df.select(word_shingles("text").alias("sh"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan[:3000]


def test_jaccard_pairs_materializes_shingles_once(spark):
    """jaccard_pairs must materialize the shingle table: several join sides
    read it, so without the boundary the (expensive) shingling expression
    would run once per consumer. The result plan therefore scans the
    materialized table and contains NO tokenization at all — shingling
    happened exactly once, at the write."""
    from zio_analytics_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, "w%d a b c d e" % (i % 3)) for i in range(10)],
        "doc_id long, text string",
    )
    out = jaccard_pairs(df, threshold=0.1)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan, plan[:3000]
    # consumers read the materialized shingle table (a parquet relation)
    assert "__sh" in plan and "parquet" in plan, plan[:3000]


def test_ann_partitioned_index_prunes_to_probed_buckets(spark, sf_dir, tmp_path):
    """The precomputed ANN layout contract: bucket is a PARTITION column,
    so a query's `bucket IN (probes)` plans as a PartitionFilter and the
    scan reads ONLY the probed bucket directories — len(probes)/2^n_planes
    of the files. This is what makes ANN viable at 100 TB: the index build
    is one-time, each query touches a constant fraction of the data."""
    import re

    from zio_analytics_spark.operators import ann_index
    from zio_analytics_spark.operators.similarity import make_planes
    from zio_analytics_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings").where("vec_id <> 0")
    path = str(tmp_path / "lsh_idx")
    ann_index.build_lsh_index(emb, path, n_planes=4, seed=42)
    qv = [
        float(x)
        for x in read_table(spark, sf_dir, "embeddings")
        .where("vec_id = 0")
        .first()["embedding"]
    ]
    q = ann_index.query_lsh_index(spark, path, qv, k=5, n_planes=4, seed=42)
    assert len(q.collect()) == 5

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", plan), plan[:3000]

    def find_scan(node):
        if "FileSourceScan" in node.getClass().getSimpleName():
            return node
        for i in range(node.children().size()):
            got = find_scan(node.children().apply(i))
            if got is not None:
                return got
        return None

    scan = find_scan(q._jdf.queryExecution().executedPlan())
    assert scan is not None, plan[:3000]
    n_probes = len(
        ann_index.probe_buckets(
            ann_index.query_bucket(qv, make_planes(len(qv), 4, 42)), 4
        )
    )
    metrics = {}
    it = scan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    # one file per bucket at this size: files read == probed partitions << 16
    assert metrics["numPartitions"] <= n_probes, metrics
    assert metrics["numPartitions"] < 16, metrics


def test_join_3way_bloom_filter_fires_at_scale_thresholds(spark, sf_dir):
    """Filter-before-pre-agg is delegated to Spark's runtime bloom filter:
    below the 10 GB probe-scan threshold it (correctly) stays out of the
    plan; under scale conditions it must inject might_contain(l_orderkey)
    from the filtered orders side into the lineitem scan BELOW the
    order-grain pre-aggregation."""
    from zio_analytics_spark.catalog import CATALOG

    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    default = spark.conf.get(key)
    q = CATALOG["join_inner_3way"].fn(spark, sf_dir)
    assert "might_contain" not in q._jdf.queryExecution().optimizedPlan().toString()
    spark.conf.set(key, "0")
    try:
        q = CATALOG["join_inner_3way"].fn(spark, sf_dir)
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
        # injected below the pre-agg: the filter mentions the lineitem key
        assert "might_contain" in plan and "l_orderkey" in plan.split("might_contain", 1)[1][:200]
    finally:
        spark.conf.set(key, default)


def test_tpch_q17_scalar_subquery_decorrelates(spark, sf_dir):
    """The correlated scalar AVG subquery must decorrelate to one aggregate
    + join — never a per-row nested-loop re-execution."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q17_small_quantity"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan[:2000]
    assert plan.count("HashAggregate") >= 2, plan[:2000]  # per-part avg + final


def test_tpch_q19_disjunction_pushes_per_side(spark, sf_dir):
    """OR-of-ANDs across both join sides: Catalyst must extract each side's
    implied disjunction below the join, so both scans prune before joining
    (the part side filters brand/size arms, the lineitem side the quantity
    envelope)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q19_disjunctive"].fn(spark, sf_dir)
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    join_pos = opt.find("Join Inner")
    below = opt[join_pos:]
    assert "Filter" in below
    # lineitem-side envelope and part-side arms both appear BELOW the join
    assert below.count("l_quantity") > 2, opt[:3000]
    assert "Brand#1" in below.split("Relation", 1)[1] or "p_brand" in below, opt[:3000]


def test_tpch_q21_semi_anti_stack(spark, sf_dir):
    """Q21's double correlated subquery (EXISTS + NOT EXISTS against the
    same fact table) must plan as one LEFT SEMI and one LEFT ANTI equi-join
    on l_orderkey with the supplier inequality as a residual condition —
    never a cartesian/nested-loop expansion of the fact table."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_tpch_q22_scalar_broadcast_and_anti(spark, sf_dir):
    """Q22's uncorrelated scalar bound must broadcast (one tiny aggregate
    job, never per-row re-evaluation) and the NOT EXISTS must lower to a
    LEFT ANTI join — no nested-loop over the fact table beyond the 1-row
    broadcast."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q22_dormant_customers"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_nested_schema_pruning_reads_only_touched_leaves(spark):
    """A query touching meta.etype/meta.v must prune the parquet ReadSchema
    to those two leaves — the heavy payload array is never decoded."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"),
        F.struct(F.lit("t").alias("etype"), (F.col("id") * 1.0).alias("v")).alias("meta"),
        F.array(
            F.struct(F.lit("k").alias("k"), F.repeat(F.lit("x"), 100).alias("val"))
        ).alias("payload"),
    )
    out = tempfile.mkdtemp(prefix="zas_nestp_")
    try:
        df.write.mode("overwrite").parquet(out)
        q = (
            spark.read.parquet(out)
            .groupBy(F.col("meta.etype"))
            .agg(F.sum("meta.v"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema, plan
        rs = read_schema[0]
        assert "etype" in rs and "v:" in rs
        assert "payload" not in rs, rs  # the array never reaches the scan
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_tpch_q7_q8_broadcast_all_dims(spark, sf_dir):
    """Every dimension chain in q7/q8 must broadcast — the fact table's own
    equi-joins are the only exchanges; no nested loop anywhere."""
    from zio_analytics_spark.catalog import CATALOG

    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        q = CATALOG[name].fn(spark, sf_dir)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, (name, plan[:1500])
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan, name


def test_tpch_q2_min_decorrelates(spark, sf_dir):
    """q2's scalar MIN must run as one aggregate joined back — never a
    correlated per-part re-execution (no nested loop in the plan)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final of the min


def test_mix_sources_filter_is_map_side(spark, sf_dir):
    """mix_sources must plan as scan -> Filter with NO exchange: rejected
    rows die before any shuffle."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.cleaning import mix_sources
    from zio_analytics_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = mix_sources(docs, {"en": 0.5}, "lang", ["doc_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert "Filter" in plan


def test_unigram_logprob_scoring_join_broadcasts(spark, sf_dir):
    """The vocabulary join must be a broadcast — a shuffle join on the
    Zipf-skewed token key would put every hot token in one task."""
    from zio_analytics_spark.operators.text import unigram_logprob
    from zio_analytics_spark.sources.parquet import read_table

    out = unigram_logprob(read_table(spark, sf_dir, "documents"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_contiguous_ids_no_single_partition_global_sort(spark, sf_dir):
    """The id assignment must sort per bucket, never via a single-partition
    global window (SinglePartition in the window's distribution)."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.layout import assign_contiguous_ids
    from zio_analytics_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    h = F.pmod(F.xxhash64("doc_id"), F.lit(100000)).cast("long")
    out = assign_contiguous_ids(docs, h, tiebreak=["doc_id"], n_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window partitions by __bkt -> hashpartitioning, not SinglePartition
    assert "SinglePartition" not in plan, plan[:1500]


def test_tpch_q12_filters_below_single_join(spark, sf_dir):
    """Q12 must plan exactly ONE join (orders ⋈ lineitem on orderkey);
    every derived-column predicate (shipmode IN-list, commit < receipt,
    ship < commit, receipt-year window) must sit BELOW the join on the
    lineitem side so only surviving rows reach the exchange."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["tpch_q12_shipmode"].fn(spark, sf_dir)
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Join") == 1, opt[:3000]
    below = opt[opt.find("Join"):]
    # the 4-condition filter stack is under the join, next to the scan
    assert "MAIL" in below and "1997-01-01" in below, opt[:3000]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # two-row key space → partial aggregation is map-side combinable
    assert "HashAggregate" in plan, plan[:2000]


def test_triangle_count_no_cartesian(spark, sf_dir):
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["graph_triangles"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_point_in_time_join_is_keyed(spark, sf_dir):
    """The validity window must be a residual on an EQUI join keyed by
    c_custkey — a nested-loop/cartesian plan would mean the range
    predicate became the join itself."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["join_point_in_time"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_is_batch_stage_not_udf(spark, sf_dir):
    """The distance argmin runs as one Arrow-batch numpy stage
    (MapInPandas) — no row-at-a-time Python UDF evaluation — and the scan
    and projections around it stay whole-stage codegen."""
    from zio_analytics_spark.operators.clustering import kmeans_assign
    from zio_analytics_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, k=4, n_iter=1, dim=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(n)' prefixes are executedPlan's whole-stage-codegen stage markers
    assert "*(1)" in plan, plan[:500]


def test_not_in_null_aware_plans_naaj(spark, sf_dir):
    """The NOT-IN branch must plan as a single-column null-aware anti
    join (broadcast hash, null-aware flag) — not a nested-loop expansion."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["join_not_in_null_aware"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # single-column NOT IN plans as BroadcastHashJoin [..] LeftAnti,
    # BuildRight, true — the trailing flag is isNullAwareAntiJoin; the
    # NOT EXISTS branch plans the same join with the flag false
    assert "LeftAnti, BuildRight, true" in plan, plan[:2000]
    assert "LeftAnti, BuildRight, false" in plan, plan[:2000]


def test_pq_adc_plan_is_codegen_takeordered(spark, sf_dir):
    """ADC search must stay JVM-side: codes + literal lookup-table sums in
    codegen (no Python eval), ranking via TakeOrdered (no global sort of
    the corpus, no join against the codebook)."""
    from zio_analytics_spark.operators.pq import pq_adc_topk, pq_encode, pq_train
    from zio_analytics_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cbs = pq_train(emb, m=4, k=8, n_iter=1, dim=64)
    query = [float(v) for v in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    out = pq_adc_topk(pq_encode(emb, cbs), cbs, query, top_k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:500]
    assert "Join" not in plan  # LUTs are literals, not a joined table


def test_bpe_segment_corpus_pass_broadcasts_vocab(spark, sf_dir):
    """The apply-side corpus pass must be ONE scan + a broadcast dimension
    join against the segmented vocab — never a shuffle join keyed on the
    corpus."""
    from zio_analytics_spark.operators.bpe import bpe_segment
    from zio_analytics_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = bpe_segment(docs, n_merges=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "SortMergeJoin" not in plan


def test_bpe_train_pair_count_is_partial_agg(spark, sf_dir):
    """Pair counting must map-side combine (partial_sum before the
    exchange) — the vocab shuffle carries (pair, partial count), not raw
    exploded pairs."""
    from zio_analytics_spark.operators._subword import pair_counts, word_vocab, words
    from zio_analytics_spark.sources.parquet import read_table

    vocab = word_vocab(read_table(spark, sf_dir, "documents"), words("text"))
    pairs = pair_counts(vocab)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan[:800]


def test_interval_overlap_is_equi_join_not_cartesian(spark, sf_dir):
    """The grid-cell construction must plan as an EQUI join on
    (block, cell) — a nested-loop plan would mean the overlap predicate
    became the join condition (the per-block cartesian this operator
    exists to avoid)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["join_interval_overlap"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_sits_below_the_join(spark, sf_dir):
    """The bit-test conjunction must be a Filter on the fact scan side,
    UPSTREAM of the join — and the fact scan must not shuffle (broadcast
    join): the rows the filter drops never pay an Exchange."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.bloom import bloom_prefilter_join
    from zio_analytics_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    dim = read_table(spark, sf_dir, "orders").limit(50).select("o_orderkey")
    out = bloom_prefilter_join(li, dim, "l_orderkey", "o_orderkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:500]
    # bitwiseAND bit tests fused into a Filter, not a UDF
    assert "&" in plan and "element_at" in plan, plan[:1500]
    assert "pythonUDF" not in plan.lower(), plan[:1500]


def test_substring_span_shingling_is_linear(spark, sf_dir):
    """The position-stamped gram expression must bind the text ONCE as an
    HOF over sequence() — one substr per position, linear in document
    length (the shingling discipline shared with word_shingles)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["dedup_substring"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auc_window_runs_over_distinct_score_grain(spark, sf_dir):
    """The rank window's input must be the aggregated (group, score)
    table — a HashAggregate BELOW the Window node — never raw rows (the
    single-partition total-order cliff)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["eval_auc_roc"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    w = plan.find("Window")
    assert w != -1, plan[:800]
    below = plan[w:]
    assert "HashAggregate" in below, plan[:2000]


def test_sliding_distinct_merges_at_day_bucket_grain(spark, sf_dir):
    """The OR-merge aggregate's input is the (day, bucket) segment table
    — the fan-out explode must sit ABOVE the first bitmap_construct_agg
    (raw rows collapse once, segments replicate, never raw rows)."""
    from zio_analytics_spark.catalog import CATALOG

    q = CATALOG["sliding_distinct_users"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    gen = plan.find("Generate")  # the explode fan-out
    agg = plan.find("bitmap_construct_agg")
    assert gen != -1 and agg != -1, plan[:1500]
    # physical plans print top-down: the explode (later stage) appears
    # BEFORE the segment-construction aggregate it consumes
    assert gen < agg, (gen, agg)


def test_lake_partition_prune_plan_shape(spark, tmp_path):
    """The partitioned lake snapshot read must prune directories at the
    scan: a predicate on the partition column becomes PartitionFilters,
    and non-partition predicates still push down to the parquet scan."""
    import re

    from pyspark.sql import functions as F

    from zio_analytics_spark.sources import laketable as lake

    t = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("pri"),
        (F.col("id") * 2.0).alias("v"),
    )
    lake.create_table(df, t, key_cols=["k"], partition_by=["pri"])
    q = (
        lake.read_snapshot(spark, t)
        .where(F.col("pri").isin("1", "2") & (F.col("k") > 10))
        .select("k", "pri")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*pri#\d+ IN \(1,2\)", plan), plan[:3000]
    assert "GreaterThan(k,10)" in plan  # data filter still pushed to the scan
    assert q.count() == 194  # 97 each for k%4 in {1,2} with k>10
