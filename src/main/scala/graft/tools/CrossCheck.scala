package graft.tools

import graft.operators.Similarity
import graft.Tables
import org.apache.spark.sql.functions._

/** Dev utility: cross-validate the LSH-candidate embedding dedup against
  * the in-engine brute-force ground truth at a given scale factor (the
  * DuckDB all-pairs oracle is impractical beyond sf0.01; Spark's codegen
  * vec_dot does the same 12.5M comparisons in seconds).
  * Usage: CrossCheck <sfDir> */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("crosscheck")
    val lsh = Similarity.cosineDedupKeep(spark, sfDir)
    val losers = Similarity.cosinePairs(spark, sfDir) // exact all-pairs, cos >= 0.5
      .select(col("vb").as("vec_id")).distinct()
    val brute = Tables(spark, sfDir, "embeddings").select(col("vec_id"))
      .join(losers, Seq("vec_id"), "left_anti")
    val onlyLsh = lsh.exceptAll(brute).count()
    val onlyBrute = brute.exceptAll(lsh).count()
    println(s"CROSSCHECK emb_dedup_keep sf=$sfDir lsh=${lsh.count()} brute=${brute.count()} " +
      s"onlyLsh=$onlyLsh onlyBrute=$onlyBrute => ${if (onlyLsh == 0 && onlyBrute == 0) "MATCH" else "DIVERGE"}")
    spark.stop()
  }
}
