"""Plan-shape assertions — the 100 TB discipline, enforced in CI.

Correctness says *what* a query computes; these tests pin *how*: filters and
projections must reach the parquet scan, dimension joins must broadcast,
aggregations must have a map-side partial phase, and hot paths must stay
inside whole-stage codegen.  A regression here is a scale bug even when
results stay right.
"""

from __future__ import annotations

from wukong_spark import plans
from wukong_spark.queries import load_all
from tests.conftest import SF_CORRECT, SF_SMOKE

REG = load_all()


def _plan(spark, name: str) -> str:
    return plans.formatted_plan(REG[name].fn(spark, SF_CORRECT))


def test_q6_filters_push_to_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    # shipdate range + discount + quantity predicates all pushed
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in read_schema
    # untouched wide columns must NOT be read
    assert "l_comment" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q3_broadcasts_dimension(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join must NOT be a nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_single_fact_shuffle(spark):
    """All dims broadcast; at most the orders⋈lineitem join + the final agg
    may shuffle (at low SF even orders broadcasts → only the agg shuffles)."""
    import re

    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    shuffle_exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffle_exchanges) <= 2, shuffle_exchanges


def test_agg_has_partial_phase(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "HashAggregate" in plan
    assert "partial" in plan.lower()


def test_q1_wholestage_codegen(spark):
    # AQE finalizes stages at runtime — execute, then inspect executedPlan
    df = REG["q1_pricing_summary"].fn(spark, SF_CORRECT)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(N) Operator" is the WholeStageCodegen marker in plan toString
    assert "*(" in executed


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "orderby_topk_parts")
    assert "TakeOrderedAndProject" in plan


def test_text_ops_no_python_udf(spark):
    """Text pipeline must stay JVM-side (no BatchEvalPython/ArrowEvalPython)."""
    for name in ("text_token_stats", "dedup_minhash_signature", "dedup_simhash"):
        plan = _plan(spark, name)
        assert "EvalPython" not in plan, name


def test_embed_topk_broadcasts_queries(spark):
    plan = _plan(spark, "embed_cosine_topk")
    assert "Broadcast" in plan


def test_no_row_python_udf_anywhere(spark):
    """No registered query may contain a row-at-a-time Python boundary
    (BatchEvalPython) — Arrow-vectorized boundaries only.

    Runs at SF_SMOKE: every query branches on sf only at the >=0.1
    threshold (grep `_sf(sf_dir)`), so smoke and correct SFs build
    identical plan shapes, and the driver-looped entries (cholesky, ALS,
    pagerank...) execute their construction jobs on the smallest data.
    Plans build on an 8-thread pool — driver-side analysis and the
    construction jobs of independent entries overlap (guide §2.6); the
    r17 sequential sf0.01 version of this audit was the slowest test in
    the suite at 328 s."""
    from concurrent.futures import ThreadPoolExecutor

    def audit(item):
        name, spec = item
        plan = plans.formatted_plan(spec.fn(spark, SF_SMOKE))
        rows, _arrow = plans.python_eval_count(plan)
        return name, rows

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(audit, REG.items()))
    assert len(results) == len(REG)
    offenders = [name for name, rows in results if rows != 0]
    assert not offenders, f"row-at-a-time Python in: {offenders}"


def test_asof_join_single_shuffle(spark):
    """The as-of join is one shuffle on user_id (merge formulation), not a
    range join."""
    plan = _plan(spark, "asof_join_last_click")
    assert plans.count_shuffles(plan) == 1
    assert not plans.has_cartesian(plan)


def test_snowflake_q8_all_dims_broadcast(spark):
    plan = _plan(spark, "q8_market_share")
    assert plans.broadcast_join_count(plan) >= 6
    assert not plans.has_cartesian(plan)


def test_winnow_fingerprint_single_doc_shuffle(spark):
    """Fingerprinting hashes each shingle once (the array-adjacent form
    re-evaluates hashes per generated row — O(n²), see the query docstring)
    and shares ONE doc_id exchange between the sliding-min window, the
    count window, and the per-doc dedup."""
    plan = _plan(spark, "doc_fingerprint_winnow")
    assert plans.count_shuffles(plan) <= 2
    rows, _ = plans.python_eval_count(plan)
    assert rows == 0


def test_fused_gemm_shuffles_keys_only(spark):
    """Seed-generated GEMM operands must ship KEY ROWS through the shuffle
    — the plan's exchange inputs come from Range (id arithmetic), never
    from a generator mapInArrow.  A regression here re-shuffles the full
    block payloads (~8 GB/side at reference dims)."""
    from wukong_spark.blockmatrix import BlockMatrix

    a = BlockMatrix.random(spark, 64, 64, 16, 16, seed=1)
    b = BlockMatrix.random(spark, 64, 64, 16, 16, seed=2)
    plan = plans.formatted_plan(a.matmul(b).df)
    # exactly one python stage: the tile consumer AFTER the shuffle; both
    # exchange inputs are Range arithmetic with a literal-null data column
    assert plan.count("MapInArrow (") == 1  # tree header: one node
    assert plan.count("Range") >= 2
    assert "null AS data" in plan
    assert "Exchange" in plan
    # mixed case: x is driver data (LocalTableScan) — still exactly one
    # python stage (the consumer), and the generated side stays keys-only
    x = BlockMatrix.from_numpy(
        spark, __import__("numpy").zeros((64, 8)), 16, 8
    )
    mixed = plans.formatted_plan(a.matmul(x).df)
    assert mixed.count("MapInArrow (") == 1
    assert "null AS data" in mixed


def test_set_index_is_range_partitioned(spark):
    """set_index must compile to a RANGE exchange (quantile-sampled bounds,
    dask's task-shuffle set_index) + an in-partition sort — never a global
    single-partition sort and never a hash exchange (which would destroy
    the contiguous-key-range postcondition)."""
    from wukong_spark.operators.setindex import set_index
    from wukong_spark.queries.helpers import tbl

    d = set_index(
        tbl(spark, SF_CORRECT, "orders").select("o_orderkey", "o_custkey"),
        "o_custkey",
        16,
    )
    plan = plans.formatted_plan(d)
    assert "rangepartitioning(o_custkey" in plan.lower(), plan
    # the sort must stay partition-local (global=False ≡ "Sort [..], false")
    assert "hashpartitioning(o_custkey" not in plan.lower()


def test_zip_with_generated_side_has_no_join(spark):
    """x.subtract(a) for seed-generated `a` must regenerate a's blocks
    inside the zip task — the plan may contain NO join and NO exchange
    (a join would shuffle the regenerated matrix; the r6 fusion exists to
    prevent exactly that)."""
    import numpy as np

    from wukong_spark.blockmatrix import BlockMatrix

    a = BlockMatrix.random(spark, 256, 64, 64, 32, seed=3)
    x = BlockMatrix.from_numpy(spark, np.zeros((256, 64)), 64, 32)
    plan = plans.formatted_plan(x.subtract(a).df)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_bucketed_join_has_no_shuffle(spark):
    """bucketed_join_check (r9): joining two tables bucketed by the join
    key must produce a sort-merge join with NO Exchange on either join
    input — the bucket layout IS the shuffle, paid once at write."""
    from wukong_spark.queries.helpers import tbl

    import shutil
    from urllib.parse import urlparse

    o = tbl(spark, SF_CORRECT, "orders").select("o_orderkey", "o_orderpriority")
    l = tbl(spark, SF_CORRECT, "lineitem").select("l_orderkey", "l_extendedprice")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("bkt_orders_pin", "bkt_lineitem_pin"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("bkt_orders_pin")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("bkt_lineitem_pin")
    # tiny test tables auto-broadcast (which disables bucketed scans) —
    # force the merge-join shape a fact-fact join takes at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob, lb = spark.table("bkt_orders_pin"), spark.table("bkt_lineitem_pin")
        j = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
            "o_orderpriority", "l_extendedprice"
        )
        plan = plans.formatted_plan(j)
        # the join inputs read bucketed scans directly: no Exchange node
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders_pin")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem_pin")


def test_partitioned_scan_prunes_at_planning_time(spark):
    """partitioned_scan_prune_check (r9): the event_type filter must be a
    PartitionFilter on the scan (directory pruning), NOT a post-scan
    PushedFilter over the data files."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F
    from wukong_spark.queries.helpers import tbl

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    path = f"{wh}/evt_by_type_pin"
    shutil.rmtree(path, ignore_errors=True)
    tbl(spark, SF_CORRECT, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    try:
        e = spark.read.parquet(path).filter(F.col("event_type") == "click")
        plan = plans.formatted_plan(e.groupBy("user_id").count())
        assert "PartitionFilters" in plan and "event_type" in plan.split(
            "PartitionFilters"
        )[1].split("\n")[0], plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_salted_join_salts_the_hot_exchange(spark):
    """skew_salted_join_check (r10/r11): the join must shuffle on
    (key, __salt) — the salt column appears in both exchange
    hashpartitionings, so the hot key spreads over `buckets` reducers
    instead of one straggler partition — and the one-pass shape
    (VERDICT r10 #5) must scan the big side exactly ONCE (the old
    two-branch variant read it twice)."""
    from pyspark.sql import functions as F
    from wukong_spark.operators.skew import salted_join

    big = spark.range(0, 10000).select(
        F.when(F.col("id") % 3 < 2, F.lit(0)).otherwise(F.col("id") % 50)
        .alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = salted_join(big, dim, on=["k"], hot_keys=[(0,)], buckets=16)
        plan = plans.formatted_plan(j)
        # hot branch partitions on the salt (spread), cold on the bare key
        assert "__salt" in plan, plan
        salted_exchanges = [
            ln for ln in plan.splitlines()
            if "hashpartitioning" in ln and "__salt" in ln
        ]
        assert len(salted_exchanges) >= 2, plan  # both join inputs
        assert not plans.has_cartesian(plan)
        # one-pass pin: the big side (Range 0..10000) appears ONCE as a
        # leaf — no hot/cold branch duplication of the scan
        assert plan.count("Range (0, 10000") == 1, plan
        # exactness: salted result == plain join, row for row
        plain = big.join(dim, ["k"], "inner")
        assert (
            j.groupBy("k").count().exceptAll(plain.groupBy("k").count()).count()
            == 0
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_auto_detects_hot_head(spark):
    """detect_hot_keys: a 2/3-mass head key must surface from the sampled
    histogram; a uniform key column must yield no hot keys (salting the
    tail would only add overhead)."""
    from pyspark.sql import functions as F
    from wukong_spark.operators.skew import detect_hot_keys

    skewed = spark.range(0, 30000).select(
        F.when(F.col("id") % 3 < 2, F.lit(0)).otherwise(F.col("id") % 50)
        .alias("k")
    )
    hot = detect_hot_keys(skewed, ["k"], fraction=0.2)
    assert (0,) in hot
    uniform = spark.range(0, 30000).select((F.col("id") % 50).alias("k"))
    assert detect_hot_keys(uniform, ["k"], fraction=0.2) == []


def test_rowgroup_bloom_pruning_metrics(spark):
    """parquet_rowgroup_prune_check (r10): the scan's numOutputRows
    metric must prove both pruning levers — a point predicate on an
    unsorted key reads EVERY row without a bloom filter and under half
    with one; a range predicate on the sorted column prunes via
    row-group min/max stats either way."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F
    from wukong_spark.queries.helpers import tbl

    def scanned(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return total

    l = tbl(spark, SF_CORRECT, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_date")
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # a MID-RANGE existing key: an extremum (min/max orderkey) would be
    # prunable by row-group min/max stats alone, hiding the bloom's work
    key = l.filter(
        F.col("l_orderkey") <= l.agg(F.max("l_orderkey")).collect()[0][0] // 2
    ).agg(F.max("l_orderkey")).collect()[0][0]
    reads = {}
    for variant, bloom in (("with_bloom", True), ("no_bloom", False)):
        path = f"{wh}/li_rg_pin_{variant}"
        shutil.rmtree(path, ignore_errors=True)
        # dictionary encoding off for the key column: small row groups
        # would otherwise be fully dictionary-encoded and parquet-mr's
        # dictionary filtering prunes them even without a bloom — the
        # bloom filter is the lever for high-cardinality PLAIN columns,
        # so pin exactly that case
        w = (
            l.repartition(1)
            .sortWithinPartitions("ship_date")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536)
            .option("parquet.enable.dictionary#l_orderkey", "false")
        )
        if bloom:
            w = w.option("parquet.bloom.filter.enabled#l_orderkey", "true")
        w.parquet(path)
        try:
            r = spark.read.parquet(path)
            total = r.count()
            reads[variant] = (
                scanned(r.filter(F.col("l_orderkey") == key)),
                total,
            )
            if bloom:
                rng = r.filter(
                    (F.col("ship_date") >= F.lit("1995-03-01").cast("date"))
                    & (F.col("ship_date") < F.lit("1995-04-01").cast("date"))
                )
                assert scanned(rng) * 2 < total  # min/max stats prune
        finally:
            shutil.rmtree(path, ignore_errors=True)
    pt_bloom, total = reads["with_bloom"]
    pt_plain, _ = reads["no_bloom"]
    assert pt_plain == total  # min/max useless for the unsorted key
    assert pt_bloom * 2 < total  # the bloom filter skips row groups


def test_zorder_prunes_both_dims_linear_only_one(spark):
    """zorder_layout_prune_check (r10): a linear partkey sort must leave
    the suppkey range reading ~100 % of rows while the z-ordered layout
    reads < 1/2 on BOTH predicates."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F
    from wukong_spark.queries.helpers import tbl

    def scanned(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return total

    # same 3-column layout as the query — row-group row count (and so
    # pruning granularity) depends on bytes/row at a fixed block size
    l = tbl(spark, SF_CORRECT, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("qty")
    )
    mx = l.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    ).collect()[0]
    rp = f"CAST(l_partkey * 256 / {int(mx['mp']) + 1} AS BIGINT)"
    rs = f"CAST(l_suppkey * 256 / {int(mx['ms']) + 1} AS BIGINT)"
    zexpr = F.expr(
        " + ".join(
            f"((({rp} >> {i}) & 1) << {2 * i})"
            f" + ((({rs} >> {i}) & 1) << {2 * i + 1})"
            for i in range(8)
        )
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    results = {}
    for tag, key in (("z", zexpr), ("linear", F.col("l_partkey"))):
        path = f"{wh}/li_zo_pin_{tag}"
        shutil.rmtree(path, ignore_errors=True)
        (
            l.withColumn("zv", key).repartition(1)
            .sortWithinPartitions("zv").drop("zv")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536).parquet(path)
        )
        try:
            r = spark.read.parquet(path)
            total = r.count()
            results[tag] = (
                scanned(r.filter(
                    (F.col("l_partkey") >= 1000) & (F.col("l_partkey") < 1040)
                )),
                scanned(r.filter(
                    (F.col("l_suppkey") >= 50) & (F.col("l_suppkey") < 53)
                )),
                total,
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)
    zp, zs, total = results["z"]
    lp, ls, _ = results["linear"]
    assert zp * 2 < total and zs * 2 < total  # z-order prunes BOTH dims
    assert lp * 2 < total  # linear prunes its own sort column...
    assert ls == total  # ...and nothing else


def test_naive_bayes_model_tables_broadcast(spark):
    """ml_naive_bayes_lang (r10): the class/word count model tables must
    BROADCAST into the scoring join (the model is vocabulary-sized);
    the only nested-loop join allowed is the deliberate 5-row class
    expansion."""
    plan = _plan(spark, "ml_naive_bayes_lang")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_perplexity_model_broadcasts(spark):
    """text_bigram_perplexity (r10): the bigram-count LM joins the token
    stream as a broadcast — scoring must stay map-side."""
    plan = _plan(spark, "text_bigram_perplexity")
    assert "BroadcastHashJoin" in plan, plan
    assert not plans.has_cartesian(plan)
    rows, _ = plans.python_eval_count(plan)
    assert rows == 0


def test_semantic_dedup_pair_join_on_cluster(spark):
    """dedup_semantic_clusters (r10): the pair search must equi-join on
    the cluster id (within-cluster only) — never a cartesian over the
    corpus."""
    plan = _plan(spark, "dedup_semantic_clusters")
    assert not plans.has_cartesian(plan)
    assert "cluster" in plan
    rows, _ = plans.python_eval_count(plan)
    assert rows == 0


def test_als_never_collects_factors(spark, monkeypatch):
    """ml_als_check (r11, VERDICT r10 #1): the co-partitioned ALS must
    keep factors as DataFrames end-to-end — every driver collect during
    the fit is a bounded scalar (objective legs), never O(n_entities)
    factor rows.  The r10 variant collected all 300 entity factors per
    half-step; this pins the regression shut by recording the row count
    of every collect() the fit issues.

    It also pins the fit's job count at the benchmark's shape (100×50,
    rank 8, iters=0): V₀'s checkpoint (the distinct item ids' exchange,
    then the checkpoint), ONE user half-step that regenerates V₀'s rows
    instead of joining them and emits the objective legs (exchange,
    checkpoint), and ONE sum job for both objectives — 5 jobs, where
    measuring each objective by its own ratings ⋈ U ⋈ V query took 26 —
    and that releasing the returned frames leaves no persistent RDD the
    fit made."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wukong_spark.mlops import als_fit
    from wukong_spark.session import release_checkpoint

    n_users, n_items = 120, 60
    ratings = spark.range(0, n_users * 6, 1, 4).select(
        (F.col("id") % n_users).alias("user_id"),
        ((F.col("id") * 7 + 3) % n_items).alias("item_id"),
        (F.col("id") % 5 + F.rand(7)).alias("rating"),
    ).persist()
    ratings.count()

    # pyspark 4: instances are pyspark.sql.classic.dataframe.DataFrame —
    # patch the concrete class, not the abstract base
    DF = type(ratings)
    sizes = []
    real_collect = DF.collect

    def spy(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DF, "collect", spy)
    u_df, v_df, objs = als_fit(ratings, n_factors=4, iters=1)
    monkeypatch.undo()

    assert sizes, "fit issued no collects at all?"
    assert max(sizes) <= 8, f"O(n_entities) driver collect detected: {sizes}"
    # the factors really are sharded DataFrames covering every entity
    assert u_df.count() == n_users and v_df.count() == n_items
    assert len(objs) == 3 and all(
        b <= a + 1e-9 for a, b in zip(objs, objs[1:])
    )
    ratings.unpersist()

    rng = np.random.default_rng(3)
    rows = [
        (u, int(it), float(rng.standard_normal()))
        for u in range(100)
        for it in rng.choice(50, 10, replace=False)
    ]
    ratings = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    sc = spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    group = f"als-jobs-{time.time_ns()}"
    sc.setJobGroup(group, "als_fit job count")
    try:
        u_df, v_df, objs = als_fit(ratings, n_factors=8, reg=0.1, iters=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 5, f"als_fit ran {len(jobs)} jobs"
    assert len(objs) == 2 and objs[1] <= objs[0]
    release_checkpoint(u_df)
    release_checkpoint(v_df)
    assert persistent() <= before


def test_pagerank_bucketed_edge_join_no_edge_exchange(spark):
    """graph_pagerank_bucketed_check (r11, VERDICT r10 #2): with the
    adjacency written bucketed+sorted by src, an iteration's
    edges⋈ranks join must read the bucketed scan DIRECTLY — the only
    exchanges in the iteration plan are on the rank side and the
    contribution agg (both keyed on node); no hashpartitioning(src...)
    may appear anywhere, because that would be the per-iteration edge
    shuffle the bucketing exists to remove."""
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    table = "bkt_pr_edges_pin"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    # ring graph over 400 nodes, both directions, degree pre-joined
    e0 = spark.range(0, 400).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 400).alias("dst")
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges.join(deg, "src").write.mode("overwrite").bucketBy(8, "src").sortBy(
        "src"
    ).saveAsTable(table)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        adj = spark.table(table)
        ranks = spark.range(0, 400).select(
            F.col("id").alias("node"), F.lit(1.0 / 400).alias("r")
        )
        contrib = adj.join(ranks, adj["src"] == ranks["node"]).select(
            F.col("dst").alias("node"), (F.col("r") / F.col("d")).alias("c")
        )
        nxt = contrib.groupBy("node").agg(F.sum("c").alias("r"))
        plan = plans.formatted_plan(nxt)
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # the edge side never exchanges: every exchange keys on node
        assert "hashpartitioning(src" not in plan, plan
        ex_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
        assert ex_lines and all("node" in ln for ln in ex_lines), plan
        assert not plans.has_cartesian(plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)


def test_cc_bucketed_edge_join_no_edge_exchange(spark):
    """graph_cc_bucketed_check (r12, VERDICT r11 #1): with the doubled
    edge set written bucketed+sorted by `b` (the label-lookup column),
    an iteration's edges⋈labels join must read the bucketed scan
    DIRECTLY — every Exchange in the relay plan keys on `node` (the
    label side / min-agg); no hashpartitioning(b...) may appear,
    because that would be the per-iteration edge shuffle the bucketing
    exists to remove (the plain connected_components re-exchanges the
    edge set every round since labels' partitioning dies at the
    localCheckpoint)."""
    from pyspark.sql import functions as F

    from wukong_spark.layout import drop_managed_table

    table = "bkt_cc_edges_pin"
    drop_managed_table(spark, table)
    # ring graph over 300 nodes, doubled, as connected_components_bucketed
    # lays it out
    e0 = spark.range(0, 300).select(
        F.col("id").alias("a"), ((F.col("id") + 1) % 300).alias("b")
    )
    both = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    both.distinct().write.mode("overwrite").bucketBy(8, "b").sortBy(
        "b"
    ).saveAsTable(table)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        adj = spark.table(table)
        labels = spark.range(0, 300).select(
            F.col("id").alias("node"), F.col("id").alias("component")
        )
        via_nbr = adj.join(labels, adj.b == labels.node).select(
            F.col("a").alias("node"), "component"
        )
        relay = (
            labels.select("node", "component")
            .union(via_nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        plan = plans.formatted_plan(relay)
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # the edge side never exchanges: every exchange keys on node
        assert "hashpartitioning(b" not in plan, plan
        ex_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
        assert ex_lines and all("node" in ln for ln in ex_lines), plan
        assert not plans.has_cartesian(plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_managed_table(spark, table)


def test_global_row_number_no_single_partition(spark):
    """global_row_number_check (r11): the numbering plan must contain NO
    Exchange SinglePartition — the whole point vs the naive global
    window sort — and must range-partition on the order column; the ids
    must equal the window formulation exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from wukong_spark.operators.setindex import global_row_number

    df = spark.range(0, 5000, 1, 8).select(
        (F.col("id") * 37 % 4999).alias("k")
    ).distinct()
    numbered = global_row_number(df, "k", n_partitions=8)
    plan = plans.formatted_plan(numbered)
    assert "SinglePartition" not in plan, plan
    # the checkpointed range layout is upstream of the plan cut; verify
    # the RESULT matches the single-partition window formulation
    want = df.select(
        "k", (F.row_number().over(Window.orderBy("k")) - 1).alias("row_id")
    )
    got = numbered.select("k", "row_id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bottomk_window_group_limit_below_exchange(spark):
    """sample_bottomk_per_key's scale claim: Catalyst pushes the rank<=k
    filter as a WindowGroupLimit BELOW the exchange, so each map task
    forwards at most k rows per key (the distributed reservoir
    property).  If a refactor loses the limit pushdown, every map task
    ships its whole partition — a scale bug with identical results."""
    plan = _plan(spark, "sample_bottomk_per_key")
    assert "WindowGroupLimit" in plan
    # partial (pre-shuffle) mode must appear, not just the final one
    assert plan.count("WindowGroupLimit") >= 2


def test_link_prediction_no_cartesian_degrees_broadcast(spark):
    """graph_link_prediction: candidate pairs must come from the relay
    equi-join (never a cartesian), and the per-node degree tables must
    BROADCAST back onto the pair list."""
    plan = _plan(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    assert plans.broadcast_join_count(plan) >= 2


def test_knn_corpus_side_not_shuffled(spark):
    """embed_knn_classifier: the query side broadcasts (BNLJ over the
    tiny held-out set) — the corpus must stream through the scoring
    pass without an exchange before the join."""
    plan = _plan(spark, "embed_knn_classifier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cdc_last_op_broadcasts_base_unshuffled(spark):
    """cdc_apply_changelog: the last-op table is changelog-sized and must
    broadcast into the anti-join; the base never shuffles."""
    plan = _plan(spark, "cdc_apply_changelog")
    assert "CartesianProduct" not in plan
    assert plans.broadcast_join_count(plan) >= 1


def test_oov_vocab_is_take_ordered_not_global_window(spark):
    """text_vocab_oov_rate (r14 fix): the top-16 vocab cut must compile to
    TakeOrderedAndProject (distributed partial top-K) — NOT a
    row_number() over an unpartitioned window, which funnels the full
    distinct-token table (~1e9 rows at 100 TB) through one task."""
    plan = _plan(spark, "text_vocab_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan, plan


def test_pareto_cumsum_no_single_partition_window(spark):
    """pareto_abc_customers (r14): cumulative revenue must come from the
    global_cumsum range-exchange pattern, never a SUM OVER (ORDER BY)
    single-partition window — the last registry-wide instance of the
    unpartitioned-window scale killer.  (A SinglePartition exchange does
    remain for the scalar TOTAL aggregate — a 1-row-per-task partial
    agg, which is fine; what must be gone is the Window.)"""
    plan = _plan(spark, "pareto_abc_customers")
    assert "Window" not in plan, plan


def test_rfm_terciles_no_single_partition_window(spark):
    """rfm_segmentation (r14): each NTILE(3) is replaced by a broadcast
    boundary-tuple comparison (rank_cut_values), so the final plan may
    not contain any window at all, let alone an unpartitioned one."""
    plan = _plan(spark, "rfm_segmentation")
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_single_partition_window_detector(spark):
    """plans.single_partition_window_count (r14, VERDICT r13 item 3):
    flags a Window fed by Exchange SinglePartition on unbounded input,
    passes keyed windows and windows over a constant-bounded (limit)
    frame — so tools/plan_audit.py catches the ntile anti-pattern
    registry-wide."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.range(1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("v")))
    assert plans.single_partition_window_count(plans.formatted_plan(bad)) == 1
    good = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("v"))
    )
    assert plans.single_partition_window_count(plans.formatted_plan(good)) == 0
    exempt = (
        df.orderBy(F.desc("v"))
        .limit(10)
        .withColumn("r", F.row_number().over(Window.orderBy(F.desc("v"))))
    )
    assert (
        plans.single_partition_window_count(plans.formatted_plan(exempt)) == 0
    )


def test_kcore_bucketed_edge_join_no_edge_exchange(spark):
    """graph_kcore_bucketed_check (r14): after the one-time layout write,
    each peel round's edges⋈survivors join must read the bucketed scan
    with NO exchange on the edge side — verify on the executed plan of a
    single round (the loop runs identical plans)."""
    from pyspark.sql import functions as F

    from wukong_spark.layout import drop_managed_table
    from wukong_spark.queries.helpers import tbl

    table = "bkt_kcore_plan_pin"
    drop_managed_table(spark, table)
    e0 = (
        tbl(spark, SF_CORRECT, "orders")
        .select(F.col("o_custkey").alias("a"), (F.col("o_orderkey") % 97).alias("b"))
        .distinct()
    )
    e0.write.mode("overwrite").bucketBy(8, "b").sortBy("b").saveAsTable(table)
    adj = spark.table(table)
    cur = adj.select(F.col("b").alias("node")).distinct().localCheckpoint(eager=True)
    nxt = (
        adj.join(cur.select(F.col("node").alias("b")), "b")
        .groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    plan = plans.formatted_plan(nxt)
    # the bucketed scan side must feed the join without an Exchange:
    # exactly the survivor-side exchange + the final agg exchange remain
    import re as _re

    scan_seg = plan.split("Scan")[1] if "Scan" in plan else plan
    assert "SelectedBucketsCount" in plan, plan
    n_exch = len(_re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exch <= 2, plan
    drop_managed_table(spark, table)


def test_ohlc_single_keyed_agg_no_window(spark):
    """events_ohlc_hourly (r14): open/close must come from min_by/max_by
    INSIDE the one keyed aggregation — no Window, no second pass over
    the events; at most the agg exchange + the output sort."""
    plan = _plan(spark, "events_ohlc_hourly")
    assert "Window" not in plan, plan
    assert plans.count_shuffles(plan) <= 2, plan


def test_attribution_single_user_shuffle(spark):
    """attribution_last_touch (r14): all event types share ONE user_id
    exchange feeding the keyed running-last window; the channel rollup
    and output sort are the only other exchanges."""
    plan = _plan(spark, "attribution_last_touch")
    assert plans.count_shuffles(plan) <= 3, plan
    assert "CartesianProduct" not in plan
    # the window must be keyed, never SinglePartition
    assert plans.single_partition_window_count(plan) == 0


def test_seasonal_naive_uses_join_not_lag_window(spark):
    """events_seasonal_naive_error (r14): the 24 h lag must be the
    keyed time-shift self-join — a LAG window over the hourly series
    would be the unpartitioned-window anti-pattern."""
    plan = _plan(spark, "events_seasonal_naive_error")
    assert "Window" not in plan, plan
    assert "Join" in plan


def test_set_index_feeds_keyed_window_without_reexchange(spark):
    """The set_index contract's downstream payoff (module docstring):
    RangePartitioning(k) satisfies a keyed window's ClusteredDistribution,
    so per-key work AFTER set_index reuses the one range exchange —
    exactly why dask users set_index before repeated key-wise work.  The
    whole plan must contain exactly ONE exchange (the range one)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from wukong_spark.operators.setindex import set_index

    df = spark.range(1000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    s = set_index(df, "k", 8)
    out = s.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("v"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" in plan, plan
