package graft.tpcds
object TpcdsSmoke {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local("tpcdssmoke")
    s.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime
    val root = TpcdsData.ensure(s, "/root/testdata/sf0.01")
    println(s"generated at $root in ${(System.nanoTime-t0)/1e9}s")
    TpcdsData.tableNames.foreach { t =>
      println(f"$t%-24s ${s.table(t).count()}%10d rows")
    }
    // correlation sanity: ss<->sr ticket+item join, cs rebuys sr pairs
    println("ss-sr ticket+item matches: " + s.sql(
      """SELECT count(*) FROM store_sales ss JOIN store_returns sr
        |ON ss.ss_ticket_number = sr.sr_ticket_number AND ss.ss_item_sk = sr.sr_item_sk""".stripMargin).head.getLong(0))
    println("sr-cs cust+item matches: " + s.sql(
      """SELECT count(*) FROM store_returns sr JOIN catalog_sales cs
        |ON cs.cs_bill_customer_sk = sr.sr_customer_sk AND cs.cs_item_sk = sr.sr_item_sk""".stripMargin).head.getLong(0))
    println("date join: " + s.sql(
      "SELECT count(*) FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk WHERE d_year = 2000").head.getLong(0))
    s.stop()
  }
}
