package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL DDL surface for table registration (SURVEY.md §2.11; ref
  * flink-table-planner DDL grammar — `CREATE TABLE` carrying WATERMARK
  * and PRIMARY KEY as schema metadata, `WITH (...)` carrying connector
  * options; docs/dev/table/sql/create.md). Spark's parser accepts
  * CREATE TABLE but has no WATERMARK/PRIMARY KEY productions, so this
  * module parses the reference-shaped DDL text directly and lowers it
  * onto [[TableDescriptor]] — the same position the reference's DDL
  * parser occupies over its catalog.
  *
  * Supported subset:
  *   CREATE TABLE <name> (
  *     <col> <type>, ...,
  *     [PRIMARY KEY (c [, c...]) NOT ENFORCED,]
  *     [WATERMARK FOR <col> AS <col> - INTERVAL '<n>' <UNIT>]
  *   ) WITH ('connector' = 'filesystem', 'path' = '<path>',
  *           'format' = 'parquet' [, 'timestamp.nanos' = 'true'])
  *
  * Column types are declarative documentation here (the parquet schema is
  * authoritative, as with Spark's own schema-on-read); PRIMARY KEY and
  * WATERMARK become descriptor metadata that the dedup/stream operators
  * derive their key and rowtime columns from. */
object DdlSql {

  private val createRe =
    "(?is)^\\s*CREATE\\s+TABLE\\s+(\\w+)\\s*\\((.*)\\)\\s*WITH\\s*\\((.*)\\)\\s*$".r
  private val pkRe = "(?is)PRIMARY\\s+KEY\\s*\\(([^)]*)\\)\\s*NOT\\s+ENFORCED".r
  private val wmRe =
    "(?is)WATERMARK\\s+FOR\\s+(\\w+)\\s+AS\\s+\\w+\\s*-\\s*INTERVAL\\s+'(\\d+)'\\s+(\\w+)".r
  private val optRe = "'([^']*)'\\s*=\\s*'([^']*)'".r

  /** Parsed pieces of a schema part: PK columns, watermark (col, delay),
    * computed columns. */
  private case class SchemaParts(pk: Seq[String],
                                 wm: Option[(String, String)],
                                 computed: Seq[(String, String)])

  private def parseSchemaPart(schemaPart: String): SchemaParts = {
    val pk = pkRe.findFirstMatchIn(schemaPart)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val wm = wmRe.findFirstMatchIn(schemaPart)
      .map(m => m.group(1) -> s"${m.group(2)} ${m.group(3).toLowerCase}")
    // computed columns (`name AS expr` — ref parserImpls.ftl computed
    // column production): top-level comma split so CAST(... AS T) inside
    // the expression survives; WATERMARK/PRIMARY KEY entries excluded
    val computedRe = "(?is)^(\\w+)\\s+AS\\s+(.+)$".r
    val computed = splitTopLevel(schemaPart).flatMap {
      // match the real productions, not a name prefix — a computed column
      // named watermark_bucket / primary_flag must not be discarded
      case e if wmRe.findFirstIn(e).isDefined => None
      case e if pkRe.findFirstIn(e).isDefined => None
      case computedRe(n, ex) => Some(n -> ex.trim)
      case _ => None
    }
    SchemaParts(pk, wm, computed)
  }

  private def parseOpts(withPart: String): Map[String, String] =
    optRe.findAllMatchIn(withPart).map(m => m.group(1) -> m.group(2)).toMap

  private def descriptorFrom(name: String, schema: SchemaParts,
                             opts: Map[String, String]): TableDescriptor = {
    require(opts.get("connector").contains("filesystem"),
      s"unsupported connector ${opts.get("connector")} (filesystem only in this deployment)")
    require(opts.get("format").forall(_ == "parquet"),
      s"unsupported format ${opts.get("format")}")
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException("missing 'path' option"))
    TableDescriptor(
      name = name,
      path = path,
      primaryKey = schema.pk,
      watermarkCol = schema.wm.map(_._1),
      watermarkDelay = schema.wm.map(_._2).getOrElse("1 hour"),
      tsNanosAsLong = opts.get("timestamp.nanos").contains("true"),
      computedCols = schema.computed)
  }

  def parse(ddl: String): TableDescriptor = {
    val (name, schemaPart, withPart) = ddl match {
      case createRe(n, sp, wp) => (n, sp, wp)
      case _ => throw new IllegalArgumentException(
        "not a CREATE TABLE (...) WITH (...) statement")
    }
    descriptorFrom(name, parseSchemaPart(schemaPart), parseOpts(withPart))
  }

  // ---------------------------------------------------- CREATE TABLE LIKE

  /** `CREATE TABLE ... LIKE` (FLIP-110; ref flink-table-api-java
    * `MergeTableLikeUtil.java`, parser production in
    * flink-sql-parser `parserImpls.ftl` SqlTableLike): the derived table
    * starts from the base descriptor and merges the new definition under
    * per-feature strategies — INCLUDING (inherit; conflict = error),
    * EXCLUDING (drop the inherited feature), OVERWRITING (new wins;
    * valid for GENERATED / OPTIONS / WATERMARKS only). Default is
    * INCLUDING ALL. */
  /** Index of a keyword outside any parentheses, or -1. The keyword must be
    * delimited by whitespace/')' on the left and whitespace/end on the
    * right, so a table NAMED like_pk never splits the statement. */
  private def topLevelIndexOf(s: String, kw: String): Int = {
    val upper = s.toUpperCase
    var depth = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && upper.startsWith(kw, i) &&
          (i == 0 || upper.charAt(i - 1).isWhitespace || upper.charAt(i - 1) == ')') &&
          (i + kw.length >= s.length || upper.charAt(i + kw.length).isWhitespace ||
            upper.charAt(i + kw.length) == '(') =>
          return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  def parseLike(ddl: String, lookup: String => TableDescriptor): TableDescriptor = {
    // split the statement at the top-level LIKE keyword (outside parens)
    val likeAt = topLevelIndexOf(ddl, "LIKE")
    require(likeAt >= 0, "not a CREATE TABLE ... LIKE statement")
    val head = ddl.substring(0, likeAt)
    val tail = ddl.substring(likeAt + 4)
    // split the head at its top-level WITH — a greedy regex would swallow
    // the WITH clause into the schema parens
    val withAt = topLevelIndexOf(head, "WITH")
    val (schemaSide, withSide) =
      if (withAt >= 0) (head.substring(0, withAt), head.substring(withAt + 4))
      else (head, "")
    val schemaRe =
      "(?is)^\\s*CREATE\\s+TABLE\\s+(\\w+)\\s*(?:\\((.*)\\))?\\s*$".r
    val withRe = "(?is)^\\s*(?:\\((.*)\\))?\\s*$".r
    val tailRe = "(?is)^\\s*(\\w+)\\s*(?:\\(([^)]*)\\))?\\s*$".r
    val (name, schemaPart) = schemaSide match {
      case schemaRe(n, sp) => (n, Option(sp).getOrElse(""))
      case _ => throw new IllegalArgumentException(
        s"malformed CREATE TABLE ... LIKE head: $head")
    }
    val withPart = withSide match {
      case withRe(wp) => Option(wp).getOrElse("")
      case _ => throw new IllegalArgumentException(
        s"malformed WITH clause in CREATE TABLE ... LIKE: $withSide")
    }
    val (baseName, stratPart) = tail match {
      case tailRe(b, sp) => (b, Option(sp).getOrElse(""))
      case _ => throw new IllegalArgumentException(
        s"malformed LIKE clause tail: $tail")
    }
    val base = lookup(baseName)

    // strategy list: e.g. "EXCLUDING CONSTRAINTS, OVERWRITING OPTIONS"
    val stratRe = "(?i)(INCLUDING|EXCLUDING|OVERWRITING)\\s+(ALL|CONSTRAINTS|GENERATED|OPTIONS|PARTITIONS|WATERMARKS)".r
    val strategies = stratRe.findAllMatchIn(stratPart)
      .map(m => m.group(2).toUpperCase -> m.group(1).toUpperCase).toMap
    strategies.foreach { case (feature, strat) =>
      require(strat != "OVERWRITING" ||
        Set("GENERATED", "OPTIONS", "WATERMARKS").contains(feature),
        s"OVERWRITING is not supported for $feature (ref MergeTableLikeUtil)")
    }
    def strat(feature: String): String =
      strategies.getOrElse(feature, strategies.getOrElse("ALL", "INCLUDING"))

    val nw = parseSchemaPart(schemaPart)
    val newOpts = parseOpts(withPart)
    // reconstruct the base's option set from its descriptor fields
    val baseOpts = Map("connector" -> "filesystem", "path" -> base.path,
      "format" -> "parquet") ++
      (if (base.tsNanosAsLong) Map("timestamp.nanos" -> "true") else Map.empty)

    val opts = strat("OPTIONS") match {
      case "EXCLUDING" => newOpts
      case "OVERWRITING" => baseOpts ++ newOpts
      case _ => // INCLUDING: same key with a different value is an error
        val conflicts = baseOpts.keySet.intersect(newOpts.keySet)
          .filter(k => baseOpts(k) != newOpts(k))
        require(conflicts.isEmpty,
          s"There already exist options ${conflicts.mkString(", ")} in the " +
            "base table; use OVERWRITING OPTIONS or EXCLUDING OPTIONS")
        baseOpts ++ newOpts
    }
    val pk = strat("CONSTRAINTS") match {
      case "EXCLUDING" => nw.pk
      case _ =>
        require(nw.pk.isEmpty || base.primaryKey.isEmpty,
          "There already exists a PRIMARY KEY constraint in the base table; " +
            "use EXCLUDING CONSTRAINTS")
        if (nw.pk.nonEmpty) nw.pk else base.primaryKey
    }
    val baseWm = base.watermarkCol.map(c => c -> base.watermarkDelay)
    val wm = strat("WATERMARKS") match {
      case "EXCLUDING" => nw.wm
      case "OVERWRITING" => nw.wm.orElse(baseWm)
      case _ =>
        require(nw.wm.isEmpty || baseWm.isEmpty ||
          nw.wm.map(_._1) == baseWm.map(_._1),
          "There already exists a WATERMARK on a different rowtime in the " +
            "base table; use OVERWRITING WATERMARKS")
        nw.wm.orElse(baseWm)
    }
    val computed = strat("GENERATED") match {
      case "EXCLUDING" => nw.computed
      case "OVERWRITING" =>
        (base.computedCols.toMap ++ nw.computed.toMap).toSeq.sortBy(_._1)
      case _ =>
        val conflicts = base.computedCols.map(_._1).toSet
          .intersect(nw.computed.map(_._1).toSet)
        require(conflicts.isEmpty,
          s"There already exist computed columns ${conflicts.mkString(", ")} " +
            "in the base table; use OVERWRITING GENERATED")
        base.computedCols ++ nw.computed
    }
    descriptorFrom(name, SchemaParts(pk, wm, computed), opts)
  }

  /** Split on commas outside parentheses. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result().filter(_.nonEmpty)
  }

  /** Execute the DDL: parse and register the batch view; returns the
    * descriptor for metadata-driven operators. */
  def executeDdl(s: SparkSession, ddl: String): TableDescriptor = {
    val d = parse(ddl)
    Descriptors.table(s, d)
    d
  }

  /** The events table declared through DDL text, then deduped by its
    * declared PRIMARY KEY / rowtime — the DDL-text twin of
    * q_descriptor_dedup (identical oracle). */
  def ddlFor(dir: String): String =
    s"""CREATE TABLE events_ddl (
       |  event_id BIGINT,
       |  ts TIMESTAMP(3),
       |  user_id BIGINT,
       |  event_type STRING,
       |  value DOUBLE,
       |  PRIMARY KEY (user_id) NOT ENFORCED,
       |  WATERMARK FOR ts AS ts - INTERVAL '1' HOUR
       |) WITH (
       |  'connector' = 'filesystem',
       |  'path' = '$dir/events.parquet',
       |  'format' = 'parquet',
       |  'timestamp.nanos' = 'true'
       |)""".stripMargin

  def ddlDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = executeDdl(s, ddlFor(dir))
    Descriptors.dedupByPk(s, d, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------- catalog verbs

  /** Catalog entry: a DDL-declared table (with metadata) or a view. */
  private case class CatalogEntry(kind: String, descriptor: Option[TableDescriptor],
                                  viewText: Option[String])

  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, CatalogEntry]()

  private val createViewRe =
    "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\s+(\\w+)\\s+AS\\s+(.*)$".r
  private val dropRe = "(?is)^\\s*DROP\\s+(?:TABLE|VIEW)\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val showRe = "(?is)^\\s*SHOW\\s+TABLES\\s*$".r
  private val showViewsRe = "(?is)^\\s*SHOW\\s+VIEWS\\s*$".r
  private val showFnRe = "(?is)^\\s*SHOW\\s+(?:USER\\s+)?FUNCTIONS\\s*$".r
  private val descRe = "(?is)^\\s*DESC(?:RIBE)?\\s+(\\w+)\\s*$".r
  // ALTER TABLE verbs (ref flink-sql-parser parserImpls.ftl:430
  // SqlAlterTable — the 1.12 surface is RENAME TO + SET ('k' = 'v')):
  private val alterRenameRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+RENAME\\s+TO\\s+(\\w+)\\s*$".r
  private val alterSetRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+SET\\s*\\((.*)\\)\\s*$".r
  // CREATE FUNCTION name AS 'impl' (ref parserImpls.ftl SqlCreateFunction):
  private val createFnRe =
    ("(?is)^\\s*CREATE\\s+(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?FUNCTION\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+)\\s+AS\\s+'([^']+)'" +
      "(?:\\s+LANGUAGE\\s+(?:JAVA|SCALA))?\\s*$").r
  private val dropFnRe =
    "(?is)^\\s*DROP\\s+(?:TEMPORARY\\s+)?FUNCTION\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r

  /** Implementation classes resolvable by CREATE FUNCTION ... AS '<class>'
    * — the engine's codegen expressions (the reference resolves the class
    * reflectively from the user jar; here the loadable set is the library's
    * own expression classes, keyed by their fully-qualified names). */
  /** True iff `impl` loads and subclasses one of Hive's UDF roots — the
    * classes Spark's Hive session catalog knows how to wrap. */
  private def isHiveUdfClass(impl: String): Boolean =
    try {
      val c = Class.forName(impl, false,
        Thread.currentThread().getContextClassLoader)
      Seq("org.apache.hadoop.hive.ql.exec.UDF",
        "org.apache.hadoop.hive.ql.udf.generic.GenericUDF",
        "org.apache.hadoop.hive.ql.udf.generic.GenericUDTF",
        "org.apache.hadoop.hive.ql.exec.UDAF",
        "org.apache.hadoop.hive.ql.udf.generic.GenericUDAFResolver2")
        .exists(r => Class.forName(r, false, c.getClassLoader).isAssignableFrom(c))
    } catch { case _: Throwable => false }

  private val functionImpls: Map[String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression] = {
    import graft.functions._
    Map(
      "graft.functions.IsDecimalExpr" -> (es => IsDecimalExpr(es.head)),
      "graft.functions.IsDigitExpr" -> (es => IsDigitExpr(es.head)),
      "graft.functions.IsAlphaExpr" -> (es => IsAlphaExpr(es.head)),
      "graft.functions.HashCodeExpr" -> (es => HashCodeExpr(es.head)),
      "graft.functions.VecDot" -> (es => VecDot(es.head, es(1))),
      "graft.functions.MinHash32Expr" -> (es => MinHash32Expr(es.head)),
      "graft.functions.SimHash60Expr" -> (es => SimHash60Expr(es.head)),
      "graft.functions.Sum0" -> (es => Sum0(es.head).toAggregateExpression()))
  }

  /** Statement dispatcher over the catalog-verb subset (ref
    * flink-sql-parser parserImpls.ftl:90-466 — CREATE TABLE / CREATE VIEW
    * / DROP TABLE / SHOW TABLES / DESCRIBE route through the catalog;
    * SELECTs fall through to the query planner). DDL verbs return the
    * reference's result shapes: OK frame, table list, or schema rows
    * (DESCRIBE includes the PRIMARY KEY / WATERMARK metadata that Spark
    * schemas don't model — the reason this catalog wrapper exists). */
  def execute(s: SparkSession, stmt: String): DataFrame = {
    import s.implicits._
    stmt match {
      case alterRenameRe(from, to) =>
        val entry = Option(catalog.get(from)).getOrElse(
          throw new IllegalArgumentException(s"table $from not found in catalog"))
        require(!catalog.containsKey(to), s"table $to already exists")
        entry.descriptor match {
          case Some(d) =>
            val renamed = d.copy(name = to)
            Descriptors.table(s, renamed)
            catalog.put(to, CatalogEntry(entry.kind, Some(renamed), None))
          case None =>
            s.sql(entry.viewText.getOrElse(s"SELECT * FROM $from"))
              .createOrReplaceTempView(to)
            catalog.put(to, entry)
        }
        s.catalog.dropTempView(from)
        catalog.remove(from)
        Seq("OK").toDF("result")
      case alterSetRe(name, optsPart) =>
        val entry = Option(catalog.get(name)).getOrElse(
          throw new IllegalArgumentException(s"table $name not found in catalog"))
        val d = entry.descriptor.getOrElse(
          throw new IllegalArgumentException(s"$name is a view — ALTER TABLE SET needs a table"))
        val opts = optRe.findAllMatchIn(optsPart)
          .map(m => m.group(1) -> m.group(2)).toMap
        require(opts.nonEmpty, "ALTER TABLE SET with no options")
        val unknown = opts.keySet -- Set("path", "timestamp.nanos")
        require(unknown.isEmpty, s"unsupported ALTER TABLE SET options: $unknown")
        val updated = d.copy(
          path = opts.getOrElse("path", d.path),
          tsNanosAsLong = opts.get("timestamp.nanos")
            .map(_ == "true").getOrElse(d.tsNanosAsLong))
        Descriptors.table(s, updated) // re-register the view over the new options
        catalog.put(name, CatalogEntry("TABLE", Some(updated), None))
        Seq("OK").toDF("result")
      case createFnRe(name, impl) =>
        functionImpls.get(impl) match {
          case Some(builder) =>
            s.sessionState.functionRegistry.createOrReplaceTempFunction(
              name, builder, "scala_udf")
          case None if isHiveUdfClass(impl) =>
            // the Hive function bridge (ref HiveSimpleUDF.java /
            // HiveGenericUDF.java): not one of ours — let the Hive-enabled
            // session catalog wrap the class (HiveSimpleUDF for `UDF`
            // subclasses, HiveGenericUDF for `GenericUDF`). Re-issued
            // idempotently: OR REPLACE (temp) / IF NOT EXISTS (persistent).
            if ("(?is).*\\bTEMPORARY\\b.*".r.matches(stmt))
              s.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $name AS '$impl'")
            else
              s.sql(s"CREATE FUNCTION IF NOT EXISTS $name AS '$impl'")
          case None =>
            throw new IllegalArgumentException(
              s"CREATE FUNCTION: unknown implementation class '$impl' " +
                s"(loadable: ${functionImpls.keys.toSeq.sorted.mkString(", ")}, " +
                "or any Hive UDF/GenericUDF class)")
        }
        Seq("OK").toDF("result")
      case dropFnRe(name) =>
        s.sessionState.functionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        Seq("OK").toDF("result")
      case createViewRe(name, query) =>
        s.sql(query).createOrReplaceTempView(name)
        catalog.put(name, CatalogEntry("VIEW", None, Some(query)))
        Seq("OK").toDF("result")
      case dropRe(name) =>
        s.catalog.dropTempView(name)
        catalog.remove(name)
        Seq("OK").toDF("result")
      case showViewsRe() =>
        import scala.jdk.CollectionConverters._
        catalog.asScala.toSeq.collect { case (n, e) if e.kind == "VIEW" => n }
          .sorted.toDF("view_name")
      case showFnRe() =>
        // registered temp functions resolvable by name (ref SHOW FUNCTIONS
        // listing catalog + system functions; here: the session registry's
        // scala_udf entries — the CREATE FUNCTION surface of this layer)
        s.sessionState.functionRegistry.listFunction()
          .map(_.funcName).filter(n =>
            s.sessionState.functionRegistry.lookupFunction(
              org.apache.spark.sql.catalyst.FunctionIdentifier(n))
              .exists(_.getSource == "scala_udf"))
          .sorted.toDF("function_name")
      case showRe() =>
        import scala.jdk.CollectionConverters._
        catalog.asScala.toSeq.map { case (n, e) => (n, e.kind) }
          .sortBy(_._1).toDF("table_name", "table_kind")
      case descRe(name) =>
        val entry = Option(catalog.get(name)).getOrElse(
          throw new IllegalArgumentException(s"table $name not found in catalog"))
        val fields = s.table(name).schema.fields.toSeq
        val pk = entry.descriptor.map(_.primaryKey).getOrElse(Nil)
        val wm = entry.descriptor.flatMap(_.watermarkCol)
        val comp = entry.descriptor.map(_.computedCols.toMap).getOrElse(Map.empty)
        fields.map { f =>
          (f.name, f.dataType.simpleString, f.nullable,
            if (pk.contains(f.name)) "PRI" else "",
            if (wm.contains(f.name))
              s"WATERMARK ${entry.descriptor.map(_.watermarkDelay).getOrElse("")}"
            else "",
            comp.getOrElse(f.name, ""))
        }.toDF("col_name", "data_type", "nullable", "key", "watermark", "expression")
      case _ if likeGuardRe.findFirstIn(stmt).isDefined =>
        val d = parseLike(stmt, baseName =>
          Option(catalog.get(baseName)).flatMap(_.descriptor).getOrElse(
            throw new IllegalArgumentException(
              s"LIKE base table $baseName not found in catalog")))
        Descriptors.table(s, d)
        catalog.put(d.name, CatalogEntry("TABLE", Some(d), None))
        Seq("OK").toDF("result")
      case _ if createRe.findFirstIn(stmt).isDefined =>
        val d = executeDdl(s, stmt)
        catalog.put(d.name, CatalogEntry("TABLE", Some(d), None))
        Seq("OK").toDF("result")
      case explainRe(query) =>
        // EXPLAIN [PLAN FOR] <query> (ref parserImpls.ftl SqlRichExplain):
        // the optimized + physical plan as rows
        val plan = s.sql(query).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        plan.split("\n").toSeq.toDF("plan")
      case _ => s.sql(stmt) // plain query
    }
  }

  private val likeGuardRe =
    "(?is)^\\s*CREATE\\s+TABLE\\s+\\w+[\\s\\S]*\\bLIKE\\s+\\w+\\s*(?:\\([^)]*\\))?\\s*$".r
  private val explainRe = "(?is)^\\s*EXPLAIN\\s+(?:PLAN\\s+FOR\\s+)?(.+)$".r

  /** CREATE TABLE → CREATE VIEW (aggregate over it) → query the view:
    * the catalog-verb pipeline end to end. */
  def ddlView(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    execute(s, ddlFor(dir))
    execute(s,
      """CREATE OR REPLACE VIEW events_by_type AS
        |SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events_ddl GROUP BY event_type""".stripMargin)
    execute(s, "SELECT * FROM events_by_type").orderBy(col("event_type"))
  }

  /** USE database (ref docs/dev/table/sql/use.md — the 1.12 verbs are
    * `USE CATALOG c` / `USE db`; resolution of unqualified names IS the
    * observable). The verb is load-bearing here: the external table is
    * created and read UNQUALIFIED inside the database made current by USE,
    * and the session is returned to default afterwards. */
  def ddlUse(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    execute(s, "CREATE DATABASE IF NOT EXISTS graft_use_db")
    execute(s, "USE graft_use_db")
    try {
      execute(s, "DROP TABLE IF EXISTS nation_ext")
      execute(s, s"CREATE TABLE nation_ext USING parquet LOCATION '$dir/nation.parquet'")
      // analyzed now, against the current database — the point of USE
      execute(s,
        """SELECT n_regionkey, count(*) AS cnt, min(n_name) AS first_name
          |FROM nation_ext GROUP BY n_regionkey""".stripMargin)
        .orderBy(col("n_regionkey"))
    } finally execute(s, "USE default")
  }

  /** WATERMARK + computed column declared in DDL TEXT driving a real
    * streaming query: the declared 10-second watermark closes each daily
    * window in append mode (the final, still-open windows past
    * `max(ts) - delay` are exactly the rows the oracle excludes), and the
    * computed `value_bucket` column exists only through the DDL. */
  def ddlWatermark(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ddl =
      s"""CREATE TABLE events_wm (
         |  event_id BIGINT,
         |  ts TIMESTAMP(3),
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  value_bucket AS CAST(FLOOR(value / 100) AS BIGINT),
         |  WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$dir/events.parquet',
         |  'format' = 'parquet',
         |  'timestamp.nanos' = 'true'
         |)""".stripMargin
    val d = executeDdl(s, ddl)
    require(d.watermarkDelay == "10 second" && d.computedCols.nonEmpty)
    val src = Descriptors.stream(s, d) // watermark + computed col from metadata
    val agg = src
      .groupBy(window(col("ts"), "1 day"), col("value_bucket"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("value_bucket"),
        col("cnt"), col("sum_value"))
    graft.streaming.StreamSource.runToTable(s, agg, "ddl_watermark", "append")
      .orderBy("w_start", "value_bucket")
  }

  /** ALTER TABLE SET / RENAME TO with an observable effect: the table is
    * declared against the WRONG parquet on purpose, repointed by
    * ALTER TABLE SET (load-bearing — without it the aggregate below reads
    * nation's schema and fails), then renamed; PRIMARY KEY + WATERMARK
    * metadata survive both verbs, asserted through DESCRIBE. Ref
    * flink-sql-parser parserImpls.ftl:430 SqlAlterTable — the 1.12 surface
    * is RENAME TO and SET ('k' = 'v'). */
  def ddlAlter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the object-level catalog persists across queries in one JVM
    execute(s, "DROP TABLE IF EXISTS events_alter")
    execute(s, "DROP TABLE IF EXISTS events_altered")
    execute(s,
      s"""CREATE TABLE events_alter (
         |  event_id BIGINT,
         |  ts TIMESTAMP(3),
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  PRIMARY KEY (user_id) NOT ENFORCED,
         |  WATERMARK FOR ts AS ts - INTERVAL '1' HOUR
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$dir/nation.parquet',
         |  'format' = 'parquet'
         |)""".stripMargin)
    execute(s, s"ALTER TABLE events_alter SET " +
      s"('path' = '$dir/events.parquet', 'timestamp.nanos' = 'true')")
    execute(s, "ALTER TABLE events_alter RENAME TO events_altered")
    // catalog verb on a handful of rows — not a data-path collect
    val desc = execute(s, "DESCRIBE events_altered").collect()
    require(desc.exists(r => r.getString(0) == "user_id" && r.getString(3) == "PRI"),
      "PRIMARY KEY metadata lost across ALTER")
    require(desc.exists(r => r.getString(0) == "ts" && r.getString(4).startsWith("WATERMARK")),
      "WATERMARK metadata lost across ALTER")
    execute(s,
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events_altered GROUP BY event_type""".stripMargin)
      .orderBy(col("event_type"))
  }

  /** CREATE FUNCTION ... AS '<class>' registering the engine's codegen
    * expressions under SQL names, then one query running entirely through
    * DDL-registered functions — scalar (is_digit / is_alpha / hash_code)
    * and aggregate (SUM0: 0, not NULL, on the all-null sum0_dig groups).
    * Ref parserImpls.ftl SqlCreateFunction; in the reference function
    * resolution is catalog metadata (CatalogFunction → class name). */
  def ddlFunction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.Tables.registerAll(s, dir)
    execute(s, "CREATE TEMPORARY FUNCTION ddl_is_digit AS 'graft.functions.IsDigitExpr'")
    execute(s, "CREATE FUNCTION IF NOT EXISTS ddl_is_alpha AS " +
      "'graft.functions.IsAlphaExpr' LANGUAGE SCALA")
    execute(s, "CREATE FUNCTION ddl_hash AS 'graft.functions.HashCodeExpr'")
    execute(s, "CREATE FUNCTION ddl_sum0 AS 'graft.functions.Sum0'")
    execute(s,
      """SELECT p_brand,
        | ddl_sum0(CASE WHEN ddl_is_digit(p_type) THEN p_size END) AS sum0_dig,
        | ddl_sum0(CASE WHEN p_size > 47 AND NOT ddl_is_alpha(p_brand)
        |   THEN p_size END) AS sum0_large,
        | CAST(ddl_sum0(ddl_hash(p_name) % 1000) AS BIGINT) AS sum0_hash,
        | count(*) AS cnt
        |FROM part GROUP BY p_brand""".stripMargin)
      .orderBy(col("p_brand"))
  }

  /** q_ddl_hive_udf: a real Hive UDF registered through the catalog and
    * resolved by class name — the reference's Hive function bridge
    * (ref `flink-connectors/flink-connector-hive/src/main/java/org/apache/
    * flink/table/functions/hive/HiveSimpleUDF.java` and
    * `HiveGenericUDF.java`: two wrapper paths, one for `UDF` subclasses,
    * one for `GenericUDF`). Spark's Hive-enabled session catalog is the
    * same bridge: a CREATE FUNCTION whose class is not a Spark expression
    * falls through to `HiveSimpleUDF`/`HiveGenericUDF` wrappers. Both
    * paths are exercised: `UDFBin` (simple) and `GenericUDFAbs` (generic);
    * one TEMPORARY (session registry) and one persistent (metastore-backed
    * catalog entry), covering both registration routes. */
  def ddlHiveUdf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.Tables.registerAll(s, dir)
    execute(s, "CREATE TEMPORARY FUNCTION hive_bin AS " +
      "'org.apache.hadoop.hive.ql.udf.UDFBin'")
    execute(s, "CREATE FUNCTION IF NOT EXISTS hive_abs AS " +
      "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFAbs'")
    execute(s,
      """SELECT p_size,
        | hive_bin(CAST(p_size AS BIGINT)) AS bin_size,
        | CAST(hive_abs(p_size - 25) AS INT) AS abs_off,
        | count(*) AS cnt
        |FROM part GROUP BY p_size""".stripMargin)
      .orderBy(col("p_size"))
  }

  /** q_ddl_like: CREATE TABLE ... LIKE end to end. The derived table drops
    * the base's PK (EXCLUDING CONSTRAINTS) and declares a composite one,
    * re-points the path under OVERWRITING OPTIONS, and inherits the
    * base's WATERMARK (INCLUDING, the default) — whose rowtime then drives
    * the PK-dedup, proving all three merge strategies in one pipeline. */
  def ddlLike(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    executeDdl(s, ddlFor(dir)) match { case d =>
      catalog.put(d.name, CatalogEntry("TABLE", Some(d), None)) }
    execute(s,
      s"""CREATE TABLE events_like (
         |  PRIMARY KEY (user_id, event_type) NOT ENFORCED
         |) WITH (
         |  'path' = '$dir/events.parquet'
         |) LIKE events_ddl (
         |  EXCLUDING CONSTRAINTS,
         |  OVERWRITING OPTIONS
         |)""".stripMargin)
    val d = Option(catalog.get("events_like")).flatMap(_.descriptor).get
    require(d.primaryKey == Seq("user_id", "event_type") &&
      d.watermarkCol.contains("ts") && d.tsNanosAsLong,
      s"LIKE merge produced wrong descriptor: $d")
    Descriptors.dedupByPk(s, d, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy("user_id", "event_type")
  }

  /** Row count and value total per event_type. */
  val eventTypeTotalsOracle: String =
    """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_ddl_hive_udf", ddlHiveUdf,
      """SELECT p_size, bin(CAST(p_size AS BIGINT)) AS bin_size,
        | CAST(abs(p_size - 25) AS INT) AS abs_off,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM part GROUP BY p_size ORDER BY p_size""".stripMargin),
    Query("q_ddl_like", ddlLike,
      """SELECT user_id, event_type, event_id FROM (
        | SELECT user_id, event_type, event_id,
        |   row_number() OVER (PARTITION BY user_id, event_type
        |     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin),
    Query("q_ddl_alter", ddlAlter,
      eventTypeTotalsOracle),
    Query("q_ddl_function", ddlFunction,
      """SELECT p_brand,
        | CAST(coalesce(sum(CASE WHEN regexp_full_match(p_type, '[0-9]+')
        |   THEN p_size END), 0) AS DOUBLE) AS sum0_dig,
        | CAST(coalesce(sum(CASE WHEN p_size > 47
        |   AND NOT regexp_full_match(p_brand, '[A-Za-z]+')
        |   THEN p_size END), 0) AS DOUBLE) AS sum0_large,
        | CAST(coalesce(sum(
        |   (CAST(((list_reduce(list_prepend(0::BIGINT,
        |     list_transform(range(1, length(p_name)+1), i -> ascii(p_name[i])::BIGINT)),
        |     (a, c) -> (a * 31 + c) % 4294967296) + 2147483648) % 4294967296) - 2147483648 AS INT)) % 1000), 0) AS BIGINT) AS sum0_hash,
        | count(*) AS cnt
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("q_ddl_watermark", ddlWatermark,
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |mx AS (SELECT max(t) AS mt FROM e)
        |SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS w_start,
        |  CAST(FLOOR(value / 100) AS BIGINT) AS value_bucket,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM e, mx
        |WHERE date_trunc('day', t) + INTERVAL 1 DAY <= mt - INTERVAL 10 SECOND
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q_ddl_dedup", ddlDedup,
      graft.streaming.StreamQueries.dedupLastOracle),
    Query("q_ddl_view", ddlView,
      eventTypeTotalsOracle),
    Query("q_ddl_use", ddlUse,
      Query.oracleOf(graft.operators.Formats.queries, "q_fmt_csv")),
  )
}
