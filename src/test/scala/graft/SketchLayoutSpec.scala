package graft

import graft.functions.{ZValue, ZValueUtil}
import graft.operators.{Layout, Sketches}
import org.apache.spark.sql.functions._

/** Semantic pins for the sketch family (Sketches.scala) and the physical
  * layout operators (Layout.scala) that the DuckDB value-parity gate can't
  * express: sketch mergeability, the CMS no-undercount guarantee, the
  * z-order bounding-box shrinkage on real files, and the bucketed join's
  * exchange-free plan. */
class SketchLayoutSpec extends SparkSpec {

  test("HLL registers merge by max: sketch(A ∪ B) == merge(sketch(A), sketch(B))") {
    import spark.implicits._
    // per-half register tables over the same hashing as hllDistinct
    def regs(filterExpr: String) = spark.read.parquet(s"$sf/documents.parquet")
      .filter(filterExpr)
      .withColumn("toks", split(lower(col("text")), " "))
      .select(explode(expr(
        "CASE WHEN size(toks) < 3 THEN array() ELSE transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))) END"))
        .as("tok"))
      .withColumn("h", expr("cast(conv(substring(md5(tok),1,15),16,10) as bigint)"))
      .withColumn("bucket", expr("h & 255"))
      .withColumn("v", expr("shiftright(h, 8)"))
      .withColumn("rho", expr("CASE WHEN v = 0 THEN 53 ELSE cast(round(log2(v & -v)) as int) + 1 END"))
      .groupBy("bucket").agg(max(col("rho")).as("r"))
    val a = regs("doc_id % 2 = 0")
    val b = regs("doc_id % 2 = 1")
    val union = regs("true").as[(Long, Int)].collect().toMap
    // merge = per-bucket max across the two half-sketches
    val merged = (a.as[(Long, Int)].collect() ++ b.as[(Long, Int)].collect())
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(merged == union,
      "max-merge of half-corpus registers must equal the whole-corpus registers")
  }

  test("CMS never undercounts: est >= exact for EVERY token, not just heavy hitters") {
    import spark.implicits._
    val tf = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("bs", expr(
        "transform(sequence(0, 3), i -> cast(conv(substring(md5(concat(cast(i as string), ':', tok)),1,15),16,10) as bigint) & 63)"))
    val counters = tf.select(posexplode(col("bs")).as(Seq("i", "b")), col("cnt"))
      .groupBy("i", "b").agg(sum("cnt").as("c"))
    val est = tf.select(col("tok"), col("cnt"), posexplode(col("bs")).as(Seq("i", "b")))
      .join(broadcast(counters), Seq("i", "b"))
      .groupBy("tok").agg(min("c").as("est"), min("cnt").as("exact"))
      .as[(String, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (tok, e, x) =>
      assert(e >= x, s"CMS undercounted '$tok': est $e < exact $x")
    }
  }

  test("KMV and HLL estimates land inside loose accuracy bounds on the fixture") {
    import spark.implicits._
    val hll = Sketches.hllDistinct(spark, sf)
      .select("err_pct").as[Double].collect()
    assert(hll.nonEmpty && hll.forall(_ < 40.0), s"HLL err out of band: ${hll.mkString(",")}")
    val kmv = Sketches.kmvDistinct(spark, sf)
      .select("err_pct").as[Double].collect()
    assert(kmv.nonEmpty && kmv.forall(_ < 60.0), s"KMV err out of band: ${kmv.mkString(",")}")
  }

  test("reservoir sample is exactly k, deterministic, and plan is a TakeOrdered") {
    val s1 = Sketches.reservoirSample(spark, sf)
    assert(s1.count() == 100)
    val p = s1.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"reservoir should be TakeOrderedAndProject (per-partition top-k, no sort/shuffle):\n$p")
    assert(Sketches.reservoirSample(spark, sf).collect().toSeq ==
      s1.collect().toSeq, "md5-rank sample must be deterministic")
  }

  test("z_value interleaves bits (unit) and codegen matches interpreted eval") {
    assert(ZValueUtil.interleave16(0, 0) == 0L)
    assert(ZValueUtil.interleave16(1, 0) == 1L)
    assert(ZValueUtil.interleave16(0, 1) == 2L)
    assert(ZValueUtil.interleave16(0xFFFF, 0) == 0x55555555L)
    assert(ZValueUtil.interleave16(0, 0xFFFF) == 0xAAAAAAAAL)
    // bit-by-bit reference on a pseudo-random set
    for (seed <- 0 until 200) {
      val x = (seed * 2654435761L % 65536).toInt
      val y = (seed * 40503 % 65536).toInt
      val expect = (0 until 16).map { i =>
        (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
      }.reduce(_ | _)
      assert(ZValueUtil.interleave16(x, y) == expect, s"x=$x y=$y")
    }
    import spark.implicits._
    val df = (0 until 64).map(i => (i * 37 % 1024, i * 91 % 1024)).toDF("x", "y")
    val viaExpr = df.select(ZValue.zValue(col("x"), col("y"))).as[Long].collect()
    val viaUtil = (0 until 64).map(i => ZValueUtil.interleave16(i * 37 % 1024, i * 91 % 1024))
    assert(viaExpr.toSeq == viaUtil)
  }

  test("z-order layout tightens per-file bounding boxes vs one-column sort on real files") {
    import spark.implicits._
    // both dims normalized to a 10-bit grid from data-derived min/max —
    // the scaling a real layout job computes from table stats first
    val raw = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
      .select(col("p_size").cast("double").as("xs"), col("p_retailprice").as("ys"))
    val Array(minX, maxX, minY, maxY) = raw
      .agg(min("xs"), max("xs"), min("ys"), max("ys"))
      .head().toSeq.map(_.toString.toDouble).toArray
    val base = raw.select(
      expr(s"cast(round((xs - $minX) / (${maxX - minX}) * 1023) as int)").as("x"),
      expr(s"cast(round((ys - $minY) / (${maxY - minY}) * 1023) as int)").as("y"))
    val zdir = s"${spark.conf.get("spark.sql.warehouse.dir")}/zorder-files"
    val xdir = s"${spark.conf.get("spark.sql.warehouse.dir")}/xsort-files"
    base.withColumn("z", ZValue.zValue(col("x"), col("y")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(zdir)
    base.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xdir)
    def meanSpan(dir: String, c: String): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .select("span").as[Double].collect()
      spans.sum / spans.length
    }
    // the x-sort keeps x tight but leaves y unconstrained per file (the
    // dims are independent — corr ≈ 0); the z-order bounds BOTH: a scan
    // filtered on y prunes most z-files and none of the x-sorted ones
    val zY = meanSpan(zdir, "y"); val xY = meanSpan(xdir, "y")
    val zX = meanSpan(zdir, "x")
    assert(zY < 0.5 * xY, s"z-order mean y-span $zY not < 0.5 * one-col-sort's $xY")
    assert(zX < 600, s"z-order mean x-span $zX should stay bounded (grid is 0..1023)")
  }

  test("z-order files MEASURABLY prune: reader row-group skipping on the non-sort dim") {
    // written by the box test above (same suite order); re-write defensively
    import spark.implicits._
    val raw = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
      .select(col("p_size").cast("double").as("xs"), col("p_retailprice").as("ys"))
    val Array(minX, maxX, minY, maxY) = raw
      .agg(min("xs"), max("xs"), min("ys"), max("ys"))
      .head().toSeq.map(_.toString.toDouble).toArray
    val base = raw.select(
      expr(s"cast(round((xs - $minX) / (${maxX - minX}) * 1023) as int)").as("x"),
      expr(s"cast(round((ys - $minY) / (${maxY - minY}) * 1023) as int)").as("y"))
    val zdir = s"${spark.conf.get("spark.sql.warehouse.dir")}/zorder-prune"
    val xdir = s"${spark.conf.get("spark.sql.warehouse.dir")}/xsort-prune"
    base.withColumn("z", ZValue.zValue(col("x"), col("y")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(zdir)
    base.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xdir)
    // rows the parquet reader actually surfaces for a selective filter on
    // y — with one row group per small file, footer min/max row-group
    // pruning is file pruning; the scan node's numOutputRows counts rows
    // AFTER pushdown, i.e. rows read from unpruned groups
    def rowsRead(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("y").between(100, 160))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val zRead = rowsRead(zdir); val xRead = rowsRead(xdir)
    assert(zRead < xRead / 2,
      s"z-order scan read $zRead rows for the y-filter; x-sorted read $xRead — " +
        "expected >2x row-group pruning from the z layout")
  }

  test("bucketed scan prunes buckets on an equality key filter") {
    // tables created by bucketJoin (idempotent overwrite)
    Layout.bucketJoin(spark, sf).collect()
    // a filter-only query has no shuffle to avoid, so the planner's
    // auto-bucketed-scan heuristic turns bucketing off; pin it on to
    // observe the bucket PRUNING path the layout enables
    GraftSession.withConf(spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val (ordersT, _) = Layout.bucketTableNames(sf)
      val one = spark.table(ordersT).filter(col("o_custkey") === 42L)
      one.collect()
      val p = one.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 16"),
        s"equality filter on the bucket key should scan 1/16 buckets:\n$p")
    }
  }

  test("z_value is order-preserving per dimension (range-partition safety)") {
    // monotone in x at fixed y and in y at fixed x — what makes
    // repartitionByRange(z) a valid clustering of EACH dim's order
    for (y <- Seq(0, 5, 999); x1 <- Seq(0, 3, 800); d <- Seq(1, 17)) {
      val x2 = x1 + d
      assert(ZValueUtil.interleave16(x1, y) < ZValueUtil.interleave16(x2, y))
      assert(ZValueUtil.interleave16(y, x1) < ZValueUtil.interleave16(y, x2))
    }
  }

  test("bucketed join plan: no exchange below the join, SMJ on bucket layout") {
    val out = Layout.bucketJoin(spark, sf)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$p")
    // everything from the join down must be exchange-free: both sides are
    // bucket-pruned scans (the agg/sort above it may shuffle its ≤5 rows)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"),
      s"bucketed join sides must not shuffle:\n$below")
    assert(below.contains("Bucketed: true"),
      s"scans should report Bucketed: true:\n$below")
    assert(out.count() >= 1)
  }
}
