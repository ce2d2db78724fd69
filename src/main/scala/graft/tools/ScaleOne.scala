package graft.tools


/** Isolated re-timing of individual ScaleBench entries against an already-
  * inflated dir (r17 diagnostic: attribute k=100 row movement to host I/O
  * vs code — run with/without -Dspark.local.dir on tmpfs and compare).
  * Usage: ScaleOne <inflatedDir> <op1,op2,...> [reps] */
object ScaleOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.local("scaleone")
    val ops: Map[String, () => Long] = Map(
      "ngram_pairs" -> (() => graft.operators.Dedup.ngramJaccardPairs(spark, dir).count()),
      "ppjoin" -> (() => graft.operators.Dedup.ppjoinPairs(spark, dir).count()),
      "emb_dedup_scaled" -> (() => graft.operators.Similarity
        .cosineDedupKeepScaled(spark, dir, bits = 14, maxBucket = 256).count()),
      "cluster_keep" -> (() => graft.operators.Dedup.minhashClusterKeep(spark, dir).count()),
      "mm_phash" -> (() => graft.operators.Multimodal.phashPairs(spark, dir).count()))
    names.foreach { n =>
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val rows = ops(n)()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"[scaleone] $n%-20s $dt%8.2fs rows=$rows localDir=${System.getProperty("spark.local.dir", "/tmp")}")
      }
    }
    spark.stop()
  }
}
