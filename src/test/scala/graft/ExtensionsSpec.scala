package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The library deployment path: a session built with GraftExtensions has
  * every custom function and the AsOfJoin strategy available from plain
  * SQL, no per-session install calls; a session built without it gets the
  * same functions from GraftSession.install. */
class ExtensionsSpec extends AnyFunSuite {

  private val run = System.nanoTime()

  /** `f` on a session from a fresh builder — extensions only apply at
    * session construction, so any suite-shared session is detached first
    * and reattached after. Hive-backed like GraftSession.local: if this
    * suite runs FIRST in the JVM it creates the SparkContext every later
    * suite inherits, and a non-hive builder would pin InMemoryCatalog for
    * the run. */
  private def withFreshSession(extended: Boolean)(f: SparkSession => Unit): Unit = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .config("spark.hadoop.javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=/tmp/graft-metastore/ext-$run;create=true")
        .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse/ext-$run")
      f((if (extended) b.withExtensions(new GraftExtensions) else b).getOrCreate())
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  /** Table functions the session's registry does not resolve to the
    * table's own entry. */
  private def unresolved(s: SparkSession): Seq[String] =
    GraftSession.functions.collect {
      case (id, info, _) if !s.sessionState.functionRegistry.lookupFunction(id)
          .exists(_.getClassName == info.getClassName) => id.funcName
    }

  test("every function of the table resolves in a bare session after install") {
    withFreshSession(extended = false) { s =>
      assert(unresolved(s).nonEmpty, "a bare session starts without graft's functions")
      GraftSession.install(s)
      assert(unresolved(s).isEmpty)
    }
  }

  test("every function of the table resolves in an extension-built session") {
    withFreshSession(extended = true) { s =>
      assert(GraftSession.functions.size === 13)
      assert(unresolved(s).isEmpty)
    }
  }

  test("extension-built session exposes custom functions in SQL") {
    withFreshSession(extended = true) { s =>
      val row = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       is_digit('123') AS g, is_alpha('abc') AS a,
          |       hash_code('abc') AS h,
          |       size(minhash32(array('x'))) AS mh,
          |       simhash60(array('x')) >= 0 AS sh""".stripMargin).head()
      assert(row.getDouble(0) === 11.0)
      assert(row.getBoolean(1) && row.getBoolean(2))
      assert(row.getInt(3) === "abc".hashCode)
      assert(row.getInt(4) === 32)
      assert(row.getBoolean(5))
      val agg = s.sql("SELECT sum0(v) AS s FROM (SELECT CAST(NULL AS DOUBLE) AS v)").head()
      assert(!agg.isNullAt(0) && agg.getDouble(0) === 0.0)
    }
  }
}
