package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Event-time AS-OF join as a first-class operator: logical node +
  * planner strategy + physical sort-merge execution (SURVEY.md §7.1 item 3;
  * extension tier (c) of the build contract — a whole-operator semantic
  * Spark lacks, so it gets a `LogicalPlan` + `Strategy` + `SparkPlan`).
  *
  * Reference: TemporalRowTimeJoinOperator.java:77 (probe row joined to the
  * newest build-side version at-or-before its event time) and the planner
  * rewrite LogicalCorrelateToJoinFromTemporalTableRule.scala.
  *
  * Physical contract: both children hash-clustered on the join key and
  * sorted by (key, time) — declared via requiredChildDistribution /
  * requiredChildOrdering, so Catalyst inserts the exchanges and sorts and
  * AQE sizes them. Execution is a single zipPartitions merge: one pass,
  * O(1) state (the last build row per key), no union/window
  * materialization — at 100 TB this is one co-partitioned shuffle per side
  * and nothing else, strictly better than the window-trick fallback
  * (operators.WindowAggs.asOfJoin) which shuffles the unioned schema and
  * runs a window sort over both sides together.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Attribute, rightKey: Attribute,
                        leftTime: Attribute, rightTime: Attribute)
    extends BinaryNode {
  // LEFT OUTER as-of: every probe row survives, build side nullable
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan =
    copy(left = l, right = r)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        override val output: Seq[Attribute])
    extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightArity = right.output.size
    // project through the NULLABLE output attributes — building the
    // projection from the children's (non-null) attributes would elide the
    // null checks and read 0 from the null-padded build row
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightArity)
      val rBuf = rIter.buffered
      // last build row with key == current probe key and time <= probe time
      var matchKey: Long = 0L
      var hasMatch = false
      var matchRow: InternalRow = null
      lIter.map { lRow =>
        val kv = lKey.eval(lRow)
        val tv = lTime.eval(lRow)
        if (kv == null || tv == null) {
          // NULL probe key/time never matches (SQL equality semantics):
          // emit the null-padded build side instead of unboxing null to 0
          proj(joined(lRow, nullRight))
        } else {
          val k = kv.asInstanceOf[Long]
          val t = tv.asInstanceOf[Long]
          if (!hasMatch || matchKey != k) { hasMatch = false; matchRow = null }
          // advance build side through (key < k) and (key == k && time <= t);
          // null build keys sort first under Ascending and are discarded
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val hkv = rKey.eval(head)
            if (hkv == null) { rBuf.next() }
            else {
              val hk = hkv.asInstanceOf[Long]
              if (hk < k) { rBuf.next() }
              else if (hk == k) {
                val htv = rTime.eval(head)
                if (htv == null) { rBuf.next() } // null version time: unusable
                else if (htv.asInstanceOf[Long] <= t) {
                  matchRow = rBuf.next().copy(); matchKey = k; hasMatch = true
                } else advancing = false
              } else advancing = false
            }
          }
          val r = if (hasMatch && matchKey == k) matchRow else nullRight
          proj(joined(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsOfJoinExec =
    copy(left = l, right = r)
}

/** Broadcast variant: when the build (versioned-dimension) side is small,
  * collect it into a key → time-sorted version index, broadcast it, and
  * probe by binary search per row — the probe side keeps its partitioning
  * and NO exchange or sort is inserted on either side. This is the
  * slowly-changing-dimension case (ref TemporalProcessTimeJoinOperator
  * backed by a lookup table): at 100 TB the probe scan is the whole cost
  * and must not shuffle. */
case class AsOfJoinBroadcastExec(left: SparkPlan, right: SparkPlan,
                                 leftKey: Expression, rightKey: Expression,
                                 leftTime: Expression, rightTime: Expression,
                                 override val output: Seq[Attribute])
    extends BinaryExecNode {

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    // build: key -> versions sorted by time (collected then broadcast; the
    // strategy only picks this exec under the broadcast size threshold)
    val index: Map[Long, Array[(Long, InternalRow)]] = right.executeCollect()
      .flatMap { row =>
        val k = rKey.eval(row); val t = rTime.eval(row)
        // rows with NULL key or version time can never match any probe
        if (k == null || t == null) None
        else Some((k.asInstanceOf[Long], (t.asInstanceOf[Long], row)))
      }
      .groupBy(_._1)
      .map { case (k, rows) => k -> rows.map(_._2).sortBy(_._1) }
    val bc = session.sparkContext.broadcast(index)
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rightArity = right.output.size
    val schema = output
    left.execute().mapPartitions { lIter =>
      val proj = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightArity)
      val idx = bc.value
      lIter.map { lRow =>
        val kv = lKey.eval(lRow)
        val tv = lTime.eval(lRow)
        val versions =
          if (kv == null || tv == null) null // NULL key/time: no match
          else idx.getOrElse(kv.asInstanceOf[Long], null)
        var r: InternalRow = nullRight
        if (versions != null) {
          val t = tv.asInstanceOf[Long] // non-null here: versions==null otherwise
          // binary search: last version with time <= t
          var lo = 0; var hi = versions.length - 1; var found = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (versions(mid)._1 <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
          }
          if (found >= 0) r = versions(found)._2
        }
        proj(joined(lRow, r))
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsOfJoinBroadcastExec =
    copy(left = l, right = r)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      val out = l.output ++ r.output.map(_.withNullability(true))
      val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      // same size heuristic as Spark's broadcast joins: small build side →
      // probe-side-preserving broadcast exec; otherwise co-partitioned merge
      if (threshold > 0 && r.stats.sizeInBytes <= threshold)
        AsOfJoinBroadcastExec(planLater(l), planLater(r), lk, rk, lt, rt, out) :: Nil
      else
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, out) :: Nil
    case _ => Nil
  }
}

/** Public API: `AsOfJoin(probe, build, "key", "key2", "pts", "vts")` —
  * every probe row paired with the newest build row of the same key whose
  * time is at-or-before the probe time (nulls if none). Column names must
  * be disjoint between the two sides (rename beforehand). */
object AsOfJoin {
  def apply(probe: DataFrame, build: DataFrame,
            probeKey: String, buildKey: String,
            probeTime: String, buildTime: String): DataFrame = {
    val s: SparkSession = probe.sparkSession
    graft.GraftSession.install(s)
    val lPlan = probe.queryExecution.analyzed
    val rPlan = build.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    // the physical operators unbox key/time eval results to Long: accept only
    // 8-byte-long-backed types up front rather than ClassCastException at run
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    def requireLongBacked(a: Attribute, role: String): Attribute = {
      require(a.dataType == LongType || a.dataType == TimestampType ||
        a.dataType == TimestampNTZType,
        s"AsOfJoin $role column '${a.name}' must be BIGINT or TIMESTAMP, " +
          s"got ${a.dataType.simpleString}; cast it before joining")
      a
    }
    org.apache.spark.sql.graftshim.ColumnShim.ofRows(s,
      AsOfJoinPlan(lPlan, rPlan,
        requireLongBacked(attr(lPlan, probeKey), "probe key"),
        requireLongBacked(attr(rPlan, buildKey), "build key"),
        requireLongBacked(attr(lPlan, probeTime), "probe time"),
        requireLongBacked(attr(rPlan, buildTime), "build time")))
  }
}
