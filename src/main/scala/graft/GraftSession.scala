package graft

import graft.functions._
import graft.plans.{AsOfPatternRule, AsOfStrategy}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The one place a graft engine is set up (the reference's
  * `TableEnvironment.create(EnvironmentSettings)` plus its `TableConfig`):
  *
  *  - [[local]] builds every graft JVM's session;
  *  - [[install]] puts the custom functions and the AsOf planner pieces
  *    into any session, from the same [[functions]] table that
  *    [[GraftExtensions]] injects;
  *  - [[sizeCodegenCache]] sizes Spark's generated-class cache for graft;
  *  - [[withConf]] scopes session settings to a block. */
object GraftSession {

  /** Every custom SQL function: name, catalog info and builder. The same
    * instances are registered on every call, so a re-install replaces each
    * entry with itself. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = {
    def fn(name: String, clazz: Class[_], build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build)
    Seq(
      fn("vec_dot", classOf[VecDot], es => VecDot(es.head, es(1))),
      fn("minhash32", classOf[MinHash32Expr], es => MinHash32Expr(es.head)),
      fn("simhash60", classOf[SimHash60Expr], es => SimHash60Expr(es.head)),
      fn("is_decimal", classOf[IsDecimalExpr], es => IsDecimalExpr(es.head)),
      fn("is_digit", classOf[IsDigitExpr], es => IsDigitExpr(es.head)),
      fn("is_alpha", classOf[IsAlphaExpr], es => IsAlphaExpr(es.head)),
      fn("hash_code", classOf[HashCodeExpr], es => HashCodeExpr(es.head)),
      fn("sum0", classOf[Sum0], es => Sum0(es.head).toAggregateExpression()),
      fn("split_index", classOf[SplitIndexExpr], es => SplitIndexExpr(es(0), es(1), es(2))),
      fn("temporal_overlaps", classOf[TemporalOverlapsExpr],
        es => TemporalOverlapsExpr(es(0), es(1), es(2), es(3))),
      fn("truncate_num", classOf[TruncateNumExpr], es => TruncateNumExpr(es(0), es(1))),
      fn("similar_to", classOf[org.apache.spark.sql.catalyst.expressions.RLike],
        FlinkScalars.similarTo),
      fn("z_value", classOf[ZValueExpr], es => ZValueExpr(es.head, es(1))))
  }

  /** A `local[cores]` session with shuffle partitions = cores, UTC, no UI,
    * WARN logging, and a Hive catalog whose embedded Derby metastore and
    * warehouse sit under a per-process `$role-$nanoTime` path, so
    * concurrent JVMs never share a Derby lock (the metastore starts
    * lazily: a session that never touches the catalog pays nothing).
    * [[install]] has been applied. */
  def local(role: String,
            cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val run = s"$role-${System.nanoTime()}"
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=/tmp/graft-metastore/$run;create=true")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse/$run")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    install(s)
    s
  }

  /** Register [[functions]] and add the AsOf strategy and rewrite rule to
    * `s`, each at most once. Idempotent, so the query builders call it on
    * whatever session they are handed (sessions built outside graft
    * included). */
  def install(s: SparkSession): Unit = {
    sizeCodegenCache()
    val reg = s.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => reg.registerFunction(id, info, build) }
    val x = s.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(AsOfStrategy))
        x.extraStrategies = x.extraStrategies :+ AsOfStrategy
      if (!x.extraOptimizations.contains(AsOfPatternRule))
        x.extraOptimizations = x.extraOptimizations :+ AsOfPatternRule
    }
  }

  /** Entries of Spark's generated-class cache. Spark's default of 100 is
    * below graft's working set: one pass over the eight verbatim TPC-DS
    * queries of perfbench's `tpcds` workload cycles through 115 generated
    * classes, and with 100 every warm pass recompiled 56-60 of them
    * (NOTES.md). 1000 holds that set several times over. */
  private val CodegenCacheEntries = 1000

  /** Size Spark's JVM-wide generated-class cache to [[CodegenCacheEntries]].
    * The cache reads the static `spark.sql.codegen.cache.maxEntries` once,
    * from `SQLConf.get`, when `CodeGenerator` initializes; this initializes
    * it under a conf holding graft's size, so no session config is needed
    * and a session built outside graft gets the same cache. It runs once
    * per JVM and is free to repeat.
    *
    * It does nothing once `CodeGenerator` has initialized: a query compiled
    * before the first call leaves the cache at the size it read then. So
    * every graft entry point calls it before it plans anything:
    * [[install]] (and so [[local]]), [[GraftExtensions]], each builder of
    * [[SparkEntry.queries]], `TpcdsData.ensure` and `OooReplay.prepare`. */
  def sizeCodegenCache(): Unit = codegenCacheSized

  private lazy val codegenCacheSized: Unit = {
    val conf = new SQLConf
    conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
  }

  /** Run `body` with `conf` set on `s`, then give each key back exactly what
    * it had before (unset if it was unset), also when `body` throws.
    * Windows on one session hold its config's monitor, so windows from
    * several threads run one at a time and each restores what it found;
    * a nested window on the same thread re-enters it. */
  def withConf[A](s: SparkSession, conf: (String, String)*)(body: => A): A =
    s.conf.synchronized {
      val set = s.conf.getAll
      val prev = conf.map { case (k, _) => k -> set.get(k) }
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
}
