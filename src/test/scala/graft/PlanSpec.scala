package graft

import graft.operators.{BatchRelational, Dedup, Pipeline, Similarity, TextAnalysis}

/** Physical-plan assertions for OUR layout choices (SURVEY.md §5.1: golden
  * plan tests only for decisions we own, not Catalyst's behavior): filter/
  * column pushdown reaching the scan, dimension broadcasts, partial top-k,
  * and absence of accidental cartesian products. These are the properties
  * that keep the plans viable at 100 TB; a regression here can stay
  * value-correct while losing orders of magnitude. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg pushes the shipdate filter and prunes columns at the scan") {
    val p = df1.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$p")
    assert(!p.contains("l_comment"), "scan reads unprojected columns")
  }
  private lazy val df1 = BatchRelational.q1Agg(spark, sf)

  test("star join broadcasts every dimension table") {
    val p = plan(BatchRelational.joinInner(spark, sf))
    assert(p.split("BroadcastHashJoin").length >= 4, // 3 joins
      s"expected 3 broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("grouped top-N uses partial WindowGroupLimit before the shuffle") {
    val p = plan(BatchRelational.topNPerGroup(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"no partial top-k in:\n$p")
  }

  test("ANN brute force broadcasts the query side, not the corpus") {
    val p = plan(Similarity.annBruteForce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    // the broadcast side must be the filtered query set (vec_id < 5)
    assert(p.contains("LessThan(vec_id,5)"), s"query-side filter not pushed:\n$p")
  }

  test("minhash LSH candidate join is a hash join on band buckets, not cartesian") {
    val p = plan(Dedup.minhashLshPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNL in LSH plan:\n$p")
  }

  test("embedding dedup-keep routes through LSH candidates, no all-pairs join") {
    val p = plan(Similarity.cosineDedupKeep(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in dedup plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs BNL in dedup plan:\n$p")
  }

  test("ngram pair generation caps shingle document frequency before the self-join") {
    val p = plan(Dedup.ngramJaccardPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in ngram plan:\n$p")
    // df-cap aggregation (count per shingle) must appear upstream of the join
    assert(p.contains("partial_count"), s"no df aggregation in:\n$p")
  }

  test("SemDeDup intra-cluster compare is an equi-join on cluster id, not all-pairs") {
    val p = plan(Similarity.semDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in semdedup plan:\n$p")
    // the corpus-corpus pair compare must hash-join on the cluster id (the
    // k-row centroid broadcast cross inside the assignment is the same
    // intentional BNL annBruteForce pins — only corpus×corpus is banned)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cid#".r
      .findFirstIn(p).isDefined, s"pair compare not an equi-join on cid:\n$p")
  }

  test("DSIR weights broadcast the vocab-sized llr table to the token scan") {
    val p = plan(Pipeline.dsirWeights(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"llr join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("token-budget mixing joins rates map-side and keeps the filter pre-shuffle") {
    val p = plan(Pipeline.mixBudget(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$p")
  }

  test("sequence packing shuffles once on the source key") {
    val p = plan(Pipeline.packSequences(spark, sf))
    // one hashpartitioning(source) for the window; the final orderBy adds a
    // range exchange — but no second hash shuffle may appear
    val hashShuffles = "hashpartitioning\\(source".r.findAllIn(p).length
    assert(hashShuffles >= 1, s"window not partitioned by source:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("winnowing fingerprint is expression-only: no hash shuffle in the plan") {
    val p = plan(TextAnalysis.winnowFingerprint(spark, sf))
    // the single codegen pass over the scan; only the final orderBy's range
    // exchange is allowed — a hash shuffle would mean the per-doc pipeline
    // broke out of the row expression
    assert(!p.contains("Exchange hashpartitioning"),
      s"winnow fingerprint shuffles:\n$p")
  }

  test("winnow dup pairs: equi-join candidates, no cartesian or BNL") {
    val p = plan(TextAnalysis.winnowDupPairs(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow pairs plan degenerate:\n$p")
  }

  test("perplexity is two linear shuffles, never a cartesian") {
    val p = plan(TextAnalysis.perplexity(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"perplexity plan degenerate:\n$p")
  }

  test("raw SQL as-of idiom plans as AsOfJoin exec, not window-over-versions") {
    val df = operators.SqlSurface.asofPattern(spark, sf)
    val p = plan(df)
    assert(p.contains("AsOfJoin"), s"rule did not fire; plan:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      s"version-ranking window still present:\n$p")
    // untouched control: the single-table dedup pattern must keep Spark's
    // native window path (the rule must not fire without an as-of join)
    graft.Tables.registerAll(spark, sf)
    val ctl = spark.sql(operators.SqlSurface.patterns("q_sql_dedup_pattern"))
    assert(plan(ctl).contains("Window"), "dedup pattern lost its window plan")
  }

  test("partitioned write prunes partitions at the scan, not with data filters") {
    val p = plan(operators.ScaleOps.partitionedWrite(spark, sf))
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"status filter not applied as partition pruning:\n$p")
  }

  test("sort-based aggregation fallback produces the same listagg result") {
    import org.apache.spark.sql.functions._
    // §2.4 sort agg: with ObjectHashAggregate disabled Catalyst plans
    // SortAggregate for collect_list-class buffers — same values
    val q = () => Tables(spark, sf, "nation")
      .groupBy(col("n_regionkey"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
      .orderBy("n_regionkey")
    val default = q().collect().map(_.toSeq)
    GraftSession.withConf(spark, "spark.sql.execution.useObjectHashAggregateExec" -> "false") {
      val df = q()
      assert(plan(df).contains("SortAggregate"), s"expected SortAggregate:\n${plan(df)}")
      assert(df.collect().map(_.toSeq) === default)
    }
  }

  test("native sum0 aggregate stays inside whole-stage codegen") {
    val p = plan(operators.ScaleOps.sum0Native(spark, sf))
    // DeclarativeAggregate plans as HashAggregate partial+final like built-ins
    assert(p.split("HashAggregate").length >= 3, s"plan:\n$p")
    assert(p.contains("sum0"), s"plan:\n$p")
  }

  test("sum0 returns 0.0 (not null) for empty groups") {
    import spark.implicits._
    import graft.functions.Sum0.sum0
    val df = Seq((1, Option.empty[Double]), (2, Some(5.0)))
      .toDF("k", "v").groupBy($"k").agg(sum0($"v").as("s")).orderBy($"k")
    val rows = df.collect()
    assert(!rows(0).isNullAt(1) && rows(0).getDouble(1) === 0.0)
    assert(rows(1).getDouble(1) === 5.0)
  }

  test("bucketed tables join without any exchange (co-located join)") {
    import org.apache.spark.sql.functions.col
    // bucketing = the pre-partitioning that makes repeated big-big joins
    // shuffle-free at 100 TB (SURVEY §4.2 exchange elimination)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a previously-failed run can leave the managed location behind without
    // a catalog entry — saveAsTable then refuses the location
    for (base <- Seq("/tmp/graft-warehouse", "spark-warehouse");
         t <- Seq("b_orders", "b_customer")) {
      val d = new java.io.File(s"$base/$t")
      if (d.exists()) { scala.reflect.io.Directory(d).deleteRecursively() }
    }
    Tables(spark, sf, "orders").write
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    Tables(spark, sf, "customer").write
      .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    // force the shuffle-class join path (broadcast would win on tiny SF and
    // bypass bucketing entirely; at real scale both sides are too big)
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), s"bucketed read not used:\n$p")
      assert(joined.count() > 0)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // at 100 TB the probe side of fact⋈filtered-dim dominates scan cost;
    // Catalyst's InjectRuntimeFilter builds a bloom filter from the
    // filtered build side and pushes might_contain() into the probe scan —
    // rows that cannot join die before the shuffle. Thresholds lowered to
    // fire at test scale (prod defaults: 10 MB build / 10 GB probe).
    GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val li = Tables(spark, sf, "lineitem")
      val ord = Tables(spark, sf, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), s"no runtime filter injected:\n${plan.take(1200)}")
      assert(j.count() > 0)
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    // 100TB-relevant: one viral key would otherwise pin a single reducer;
    // AQE's runtime re-plan splits it (the alternative to manual salting,
    // which q_join_salted demonstrates)
    GraftSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      val left = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v")) // 99% of rows share key 0
      val right = spark.range(200).select(col("id").as("k2"))
      val joined = left.join(right, col("k") === col("k2"))
      // collect() executes THIS dataset's QueryExecution, so its adaptive
      // plan is the one finalized (count() would plan a separate query);
      // right keys are distinct in [0, 200): every left row with k < 200
      // matches exactly once
      assert(joined.collect().length === left.where(col("k") < 200).count())
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n$p")
      assert(p.contains("skew=true"), s"skew join not triggered:\n$p")
    }
  }

  test("q_join_skew's real-table plan splits the hot-key partition (skew=true)") {
    import org.apache.spark.sql.functions._
    // the oracle-checked q_join_skew fact: ~30% of lineitem remapped to
    // one hot orderkey; same conf scoping as ScaleOps.skewJoin but with
    // thresholds shrunk for the sf0.001 fixture data
    // sf0.001 sizes: the hot partition is a few KB, so the byte floor
    // drops to 1KB; with the production 32-way shuffle the hot reducer
    // is ~15x the median, far over the 2x factor
    GraftSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.shuffle.partitions" -> "32") {
      val df = operators.ScaleOps.skewJoinPlan(spark, sf)
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n$p")
      assert(p.contains("skew=true"), s"skew join not triggered:\n$p")
    }
  }

  test("decontaminate size-guard: large benchmark side flips broadcast to shuffle join") {
    // default threshold: the MB-scale eval gram set broadcasts
    val pBroadcast = plan(operators.Pipeline.decontaminate(spark, sf))
    assert(pBroadcast.contains("BroadcastHashJoin"),
      s"benchmark side not broadcast under default threshold:\n$pBroadcast")
    val expected = operators.Pipeline.decontaminate(spark, sf).collect().map(_.toSeq)
    // a benchmark bigger than the threshold must NOT be broadcast — the
    // guard measures the materialized gram set, it does not trust the
    // caller (VERDICT r8 finding #2)
    try GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1KB") {
      spark.catalog.clearCache() // drop the cached benchmark from the first run
      val df = operators.Pipeline.decontaminate(spark, sf)
      val got = df.collect().map(_.toSeq)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"over-threshold benchmark still broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join fallback:\n$p")
      assert(got === expected, "shuffle-join fallback changed the result")
    } finally spark.catalog.clearCache()
  }

  test("lookup join broadcasts the dimension, no driver-side collect") {
    val p = plan(operators.AsyncMap.lookupJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("async lookup join (executor-side cache) equals the broadcast join") {
    val sync = operators.AsyncMap.lookupJoin(spark, sf).collect().map(_.toSeq)
    val async = operators.AsyncMap.lookupJoinAsync(spark, sf).collect().map(_.toSeq)
    assert(async === sync)
  }

  test("CDC materialize keeps rank-1 via WindowGroupLimit, no nested-loop") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("w", DoubleType)))
    val raw = spark.range(100).select(
      concat(lit("""{"before":null,"after":{"id":"""), col("id"),
        lit(""","w":1.5},"op":"c","ts_ms":1}""")).as("value"),
      col("id").as("offset"))
    val mat = graft.sources.CdcFormats.materialize(
      graft.sources.CdcFormats.debeziumChangelog(raw, schema), Seq("id"))
    val p = plan(mat)
    assert(p.contains("WindowGroupLimit"),
      s"keep-last rank filter not pushed below the sort:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("directed-graph fixture joins hash, never nested-loop") {
    val p = plan(operators.Graph.windowDigraph(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"windowDigraph degraded to BNLJ (O(n^2) at scale):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("statement set: both sinks scan the cached shared subplan") {
    val (shared, byFlag, topSupp) = operators.StatementSets.sinkPlans(spark, sf)
    try {
      val p1 = plan(byFlag)
      val p2 = plan(topSupp)
      assert(p1.contains("InMemoryTableScan"),
        s"sink 1 recomputes the shared subplan:\n$p1")
      assert(p2.contains("InMemoryTableScan"),
        s"sink 2 recomputes the shared subplan:\n$p2")
    } finally shared.unpersist()
  }

  test("similar_to lowers to plan-time RLike literals inside codegen, scan pruned") {
    val df = operators.ScalarFuncs.similar(spark, sf)
    df.collect() // finalize the AQE plan so codegen stages are visible
    val p = df.queryExecution.executedPlan.toString
    // translation happened at plan time: the literal TRANSLATED regex is in
    // the plan (no runtime translation expression), projection codegen'd
    assert(p.contains("^(?:.*(bolt|rod).*)$"), s"translated regex not in plan:\n${p.take(2000)}")
    assert(p.contains("*(1) Project") || p.contains("*(2) Project"),
      s"similar_to projection not codegen'd:\n${p.take(2000)}")
    // column pruning reaches the scan: only the three referenced columns
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string>"),
      s"scan not pruned to 3 columns:\n${p.take(2000)}")
  }

  test("vec_dot participates in whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val df = Tables(spark, sf, "embeddings")
      .select(graft.functions.VecOps.dot(col("embedding"), col("embedding")).as("d"))
    val p = df.queryExecution.executedPlan.toString
    // the '*' prefix marks operators inside a WholeStageCodegen stage; a
    // CodegenFallback expression would leave the Project un-starred
    assert(p.contains("*(1) Project"), s"vec_dot projection not codegen'd:\n$p")
    assert(df.head().getDouble(0) > 0.0)
  }

  test("graph generators are shuffle-free codegen over range()") {
    import graft.operators.GraphGens
    // 10^12-edge generation must cost nothing but the per-edge expression:
    // no Exchange of any kind in the raw generator plans
    for (df <- Seq(GraphGens.rmat(spark, 8, 1000),
                   GraphGens.complete(spark, 24),
                   GraphGens.grid(spark, Seq((4L, true), (5L, false))))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"shuffle in generator plan:\n$p")
      assert(p.contains("Range"), s"no range scan in generator plan:\n$p")
    }
  }

  test("bipartite projection hash-joins the banded index, never nested-loop") {
    val p = plan(graft.operators.GraphGens.bipartiteTopSimple(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in projection plan:\n$p")
    // the projection self-join itself must be an equi hash/merge join on
    // the bottom key; the only nested-loop allowed is the 1-row degree-cap
    // broadcast (a scalar crossJoin by construction — it appears once per
    // self-join side)
    val bnl = p.split("BroadcastNestedLoopJoin").length - 1
    val capBnl = p.split("BroadcastNestedLoopJoin BuildRight, Cross, \\(df").length - 1
    assert(bnl == capBnl, s"projection self-join went nested-loop:\n$p")
    assert(p.contains("SortMergeJoin [btm") || p.contains("BroadcastHashJoin [btm"),
      s"no equi join on the bottom key:\n$p")
  }

  test("gopher quality is one codegen pass: no hash shuffle, rules stay in the scan pipeline") {
    val p = plan(TextAnalysis.gopherQuality(spark, sf))
    // all 7 document heuristics are higher-order array expressions over
    // the scan; only the final orderBy's range exchange is allowed —
    // linear at 100 TB means nothing leaves the row pipeline
    assert(!p.contains("Exchange hashpartitioning"),
      s"gopher rules shuffle:\n$p")
  }

  test("corpus datasheet: ROLLUP is ONE Expand + partial agg, not per-grouping re-scans") {
    val p = plan(TextAnalysis.corpusDatasheet(spark, sf))
    assert(p.split("Expand").length - 1 >= 1, s"no Expand in rollup plan:\n$p")
    // one scan feeds the whole data card: a per-grouping-set union of
    // scans would read the corpus three times at 100 TB
    val scans = p.split("Scan parquet").length - 1
    assert(scans == 1, s"datasheet reads the corpus $scans times:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial aggregation below the rollup exchange:\n$p")
  }

  test("multiset lattice: COLLECT pre-aggregates per distinct value before the map fold") {
    val p = plan(graft.operators.MultisetOps.multisetLattice(spark, sf))
    // the inner groupBy(segment, early, pri).count is the map-side combine
    // that keeps collect_list at one entry per DISTINCT value — its partial
    // aggregate must exist below an exchange; and nothing goes cartesian
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial agg before COLLECT's entry list:\n$p")
    assert(!p.contains("CartesianProduct"), s"multiset plan went cartesian:\n$p")
  }
}
