package graft.tools


/** TTL-bound demonstration for the streaming PPJoin (r16, VERDICT r15
  * what's-wrong #2): runs the NoTimeout operator and the horizon-bounded
  * variant on the same corpus and prints verified-pair counts plus the
  * FINAL state-store row counts of each run — the before/after numbers
  * the NOTES ledger records.
  *
  * Usage: tools/run.sh graft.tools.PpjoinTtlReport [dir] [horizonDocs]
  * (defaults: /root/testdata/sf0.1, StreamDedup.HorizonDocs). */
object PpjoinTtlReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val horizon = args.lift(1).map(_.toLong)
      .getOrElse(graft.streaming.StreamDedup.HorizonDocs)
    val spark = graft.GraftSession.local("ppjointtl")
    def cell(name: String, f: => Long): (String, Double, Long, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      val dt = (System.nanoTime() - t0) / 1e9
      val state = graft.streaming.StreamDedup.lastStateRows
      System.err.println(f"[ppjoin-ttl] $name%-10s $dt%7.2fs pairs=$rows state_rows=$state")
      (name, dt, rows, state)
    }
    val full = cell("full",
      graft.streaming.StreamDedup.ppjoinStream(spark, dir).count())
    val ttl = cell("ttl",
      graft.streaming.StreamDedup.ppjoinStreamTtl(spark, dir, horizon, 1).count())
    // the LSH band-bucket handler's twin cells (rows here = kept docs)
    val lshFull = cell("lsh_full",
      graft.streaming.StreamDedup.minhashStreamKeep(spark, dir).count())
    val lshTtl = cell("lsh_ttl",
      graft.streaming.StreamDedup.minhashStreamKeepTtl(spark, dir, horizon, 1).count())
    println(f"""{"metric":"ppjoin_ttl","dir":"$dir","horizon":$horizon,""" +
      f""""full":{"sec":${full._2}%.2f,"pairs":${full._3},"state_rows":${full._4}},""" +
      f""""ttl":{"sec":${ttl._2}%.2f,"pairs":${ttl._3},"state_rows":${ttl._4}},""" +
      f""""lsh_full":{"sec":${lshFull._2}%.2f,"kept":${lshFull._3},"state_rows":${lshFull._4}},""" +
      f""""lsh_ttl":{"sec":${lshTtl._2}%.2f,"kept":${lshTtl._3},"state_rows":${lshTtl._4}}}""")
    spark.stop()
  }
}
