package graft

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.streaming.{Cep, StatefulOps, StreamJoins, StreamSource, WindowExtras}
import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.types.BinaryType

/** Pins what every `Dataset[Event]` stateful operator emits, micro-batch by
  * micro-batch, on the scripted [[DisorderFeed]]: the SHA-256 of each
  * operator's per-batch sorted output. Operators that read the watermark
  * (event-time timeouts) get a 10-minute one. A change to how an operator
  * holds its state must leave every digest as it is.
  */
class OperatorDigestSpec extends SparkSpec {
  import OperatorDigestSpec._
  import spark.implicits._

  /** (name, output mode, reads the watermark, operator). */
  private val operators: Seq[(String, String, Boolean, Dataset[Event] => DataFrame)] = Seq(
    ("keepLast", "append", false, StatefulOps.keepLast(_).toDF()),
    ("keepLastWithTtl", "update", true, StatefulOps.keepLastWithTtl(_, 15 * ms).toDF()),
    ("topN", "update", false, StatefulOps.topN(_, 2).toDF()),
    ("topNRange", "update", false, StatefulOps.topNRange(_, 2, 3).toDF()),
    ("topNVersioned", "append", false, StatefulOps.topNVersioned(_, 2).toDF()),
    ("topNChangelog", "append", false, StatefulOps.topNChangelog(_, 2).toDF()),
    ("runningAgg", "append", false, StatefulOps.runningAgg(_).toDF()),
    ("boundedRowsAgg", "append", false, StatefulOps.boundedRowsAgg(_, 2).toDF()),
    ("boundedRangeAgg", "append", false, StatefulOps.boundedRangeAgg(_, 20 * us).toDF()),
    ("changelogNormalize", "append", false, StatefulOps.changelogNormalize(_).toDF()),
    ("procTimeDedupKeepFirst", "append", false, StatefulOps.procTimeDedupKeepFirst(_).toDF()),
    ("procTimeRunningAgg", "append", false, StatefulOps.procTimeRunningAgg(_).toDF()),
    ("procTimeTemporalJoin", "append", false,
      StatefulOps.procTimeTemporalJoin(_, "purchase", "view").toDF()),
    ("valueChangelog>retractableAgg", "append", false,
      ds => StatefulOps.retractableAgg(StatefulOps.valueChangelog(ds)).toDF()),
    ("dynamicSession", "append", false, StatefulOps.dynamicSession(_, gap).toDF()),
    ("sortedEvents", "append", false, StatefulOps.sortedEvents(_).toDF()),
    ("sortedThen(runningAgg)", "append", false,
      StatefulOps.sortedThen(_, "10 minutes")(StatefulOps.runningAggStep).toDF()),
    ("temporalSort", "append", false, StatefulOps.temporalSort(_).toDF()),
    ("countSliding", "append", false, WindowExtras.countSliding(_, 3, 2).toDF()),
    ("tumbleLateness", "update", true,
      WindowExtras.tumbleLateness(_, 10 * us, 5 * us).toDF()),
    ("tumbleTimeEvictor", "update", true,
      WindowExtras.tumbleTimeEvictor(_, 10 * us, 5 * us).toDF()),
    ("tumbleDeltaEvictor", "update", true,
      WindowExtras.tumbleDeltaEvictor(_, 10 * us, 5.0).toDF()),
    ("tumbleContinuousTrigger", "update", true,
      WindowExtras.tumbleContinuousTrigger(_, 20 * us, 10 * us, purging = false).toDF()),
    ("tumbleContinuousTrigger(purging)", "update", true,
      WindowExtras.tumbleContinuousTrigger(_, 20 * us, 10 * us, purging = true).toDF()),
    ("tumbleCountEvictor", "update", true,
      WindowExtras.tumbleCountEvictor(_, 10 * us, 2).toDF()),
    ("semiJoin", "append", false, StreamJoins.semiJoin(_, "purchase", "view").toDF()),
    ("antiJoin", "update", false, StreamJoins.antiJoin(_, "purchase", "view").toDF()),
    ("connectMatch", "update", false,
      StreamJoins.connectMatch(_, "purchase", "error", 3600).toDF()),
    ("leftOuterJoin", "update", false,
      StreamJoins.leftOuterJoin(_, "purchase", "view").toDF()),
    ("leftOuterJoin(ttl)", "update", true,
      StreamJoins.leftOuterJoin(_, "purchase", "view", Some(15 * ms)).toDF()),
    ("outerJoinChangelog", "update", false, StreamJoins.outerJoinChangelog(_,
      is("purchase"), is("view"), padLeft = true, padRight = true).toDF()),
    ("outerJoinChangelog(ttl)", "update", true, StreamJoins.outerJoinChangelog(_,
      is("purchase"), is("view"), padLeft = true, padRight = true, Some(15 * ms)).toDF()),
    ("countTumbling", "append", false, StreamJoins.countTumbling(_, 2).toDF()),
    ("matchPattern", "append", false,
      Cep.matchPattern(_, Seq(is("view"), is("click"))).toDF()),
    ("matchRecognize", "append", true, Cep.matchRecognize(_,
      Seq(Cep.QStep.oneOrMore(notError), Cep.QStep.once(is("purchase"))),
      skipPastLastRow = true, quiesceMs = 30 * ms).toDF()),
    ("matchRecognizeOrderedSkip", "append", false, Cep.matchRecognizeOrderedSkip(_,
      Seq(Cep.QStep.oneOrMore(notError), Cep.QStep.once(is("purchase"))),
      Cep.SkipToNextRow).toDF()),
    ("matchRecognizeGroup", "append", true, Cep.matchRecognizeGroup(_,
      Seq(Cep.QStep.once(is("purchase")), Cep.QStep.once(is("view"))),
      Seq(Cep.QStep.once(notError)), 0, Cep.SkipPastLastRow, quiesceMs = 30 * ms).toDF()),
    ("matchRelaxed", "update", false,
      Cep.matchRelaxed(_, Seq(is("view"), is("purchase")), 60 * ms).toDF()),
    ("matchRelaxedTimedOut", "append", true, Cep.matchRelaxedTimedOut(_,
      Seq(is("view"), is("click"), is("purchase")), 30 * ms).toDF()))

  /** Timestamps as epoch micros, so the text does not depend on the JVM's
    * time zone. */
  private def cell(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => s"${t.getTime / 1000 * 1000000 + t.getNanos / 1000}us"
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  /** The operator's output per micro-batch, and the state encoders of the
    * stateful operators in its last micro-batch plan. */
  private def run(name: String, mode: String, watermark: Boolean,
                  build: Dataset[Event] => DataFrame)
      : (Map[Long, Seq[String]], Seq[ExpressionEncoder[_]]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val in = if (watermark) input.toDS().withWatermark("ts", "10 minutes") else input.toDS()
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    val ckpt = s"${StreamSource.ckptRoot}/digest-${name.filter(_.isLetter)}-${System.nanoTime()}"
    // valueChangelog > retractableAgg chains two stateful operators
    val q = GraftSession.withConf(spark,
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      build(in).writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          out.put(id, b.collect().map(cell).sorted.toSeq); ()
        }.start()
    }
    try {
      DisorderFeed.batches.foreach { rows => input.addData(rows); q.processAllAvailable() }
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val encoders = plan.collect {
        case p if p.getClass.getSimpleName == "FlatMapGroupsWithStateExec" =>
          p.asInstanceOf[Product].productIterator.collectFirst {
            case e: ExpressionEncoder[_] => e
          }.get
      }
      (out.asScala.toMap, encoders)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  private def sha256(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val runs = operators.map { case (name, mode, wm, build) =>
    val (out, encoders) = run(name, mode, wm, build)
    val text = out.toSeq.sortBy(_._1).map { case (id, rows) =>
      rows.map(r => s"$id\t$r").mkString("\n")
    }.mkString("\n")
    (name, (sha256(text), out.values.map(_.size).sum, encoders))
  }.toMap

  /** Recorded from the operators as they were before their state moved to
    * codec-held bytes. */
  private val expected: Map[String, String] = Map(
    "antiJoin" -> "b6574cab0f2280785eb7178b32d1503c37259d74da98df116598b70a89d8c65e",
    "boundedRangeAgg" -> "3c4c1bc2a1bb97ac9ee15e25010aec735e069495b4269023a0822ae010231b3a",
    "boundedRowsAgg" -> "4b76e2bcd2b8864bc5cc7452bf699b337500e2ff66cbfa1d8c1ca9c38fc32c56",
    "changelogNormalize" -> "18192b90a8042abfd54a35c6b3d57d08c5e0655d605396f18beb82eb02fe9458",
    "connectMatch" -> "9c0d4b7d0fea81b37e18e1df130ea977c334f016e9d00883ff968c4b1fba58ce",
    "countSliding" -> "5b887c88d82439da896d90dc14f53a9f44fdadbb2deeb6f2d2f14436303d312a",
    "countTumbling" -> "6d30837d30af0a70598ce9e6c91259e28f693c69e898602b84829c99f0723b3d",
    "dynamicSession" -> "fd4e8f699130240e243803ecd2f4420a8fdd30b36fe9163e051dac55869fe74a",
    "keepLast" -> "94629d179c1506537e4cd250f0a5997e0c486cd8d23b18497b9c87c1870eba7b",
    "keepLastWithTtl" -> "3f3669faa78bb188939b2d4c9bfe32824711ff04117795bc7c3bb6b04269ad79",
    "leftOuterJoin" -> "66a0d54bf6345c0c17d5ca59c1420c89b120fe2cd472ab9ac05f32cc610283cd",
    "leftOuterJoin(ttl)" -> "5f3aaf794aa8185ec29fc6f165288f58f80e50d7186a5ae1d228cdf89d53afe0",
    "matchPattern" -> "72a7a505d75aff24207213e9dd350b602f07d70d727f107945dafca1bf6d9017",
    "matchRecognize" -> "840f60dad02116e14737d1adf1d2d83eedfb5683f2adf3217d391b73b6f231a2",
    "matchRecognizeGroup" -> "59a40c3a7dcb870ea98ad84fe9e3f383f3265efcf1c65d30ef1f6117e9108686",
    "matchRecognizeOrderedSkip" -> "e8d54944b953e238e20980e469635abd3cdd70fc4dc83031c868b8b81f40b125",
    "matchRelaxed" -> "20af5ed235c02ee4bb5c92405dd73480f7ffaabd540db3b6f9d41ab2aa6ce14b",
    "matchRelaxedTimedOut" -> "3f01e44d2c0305ba28364e3272e0bcb8dcc965bef1708ed1911333adaa55e06d",
    "outerJoinChangelog" -> "3009d9ae28533dcce4df6bc1178b585764dd9d03d7fbfec96a16e50fa724151d",
    "outerJoinChangelog(ttl)" -> "957813c32ccb22a4a67878147419b5bf4f266cd64bb347f0cc6b8fc6a582f032",
    "procTimeDedupKeepFirst" -> "1c4c87e2105f8f48404bd2764bd01e720ed0b236e091415d870d60495ac9c7d2",
    "procTimeRunningAgg" -> "d9a555a5f8ab5e23ec5eaed326ebd492d8371427a3414475cb751944c69ed2da",
    "procTimeTemporalJoin" -> "9fad0190c6e76999ec527839c87a5cc0691c6869df23149090f69be24391c3e8",
    "runningAgg" -> "b9068116bd0111837bf05777ff2ce71be8f4f65ea1c3c23e0b6d56633940d82f",
    "semiJoin" -> "d6b8a54ff3fbcf49b080000a1703aef04b691b954a3855907959804450d9217c",
    "sortedEvents" -> "f9579c48ab7a130407240a2891f34a114dfa19f280cda4cb5660fe796fc54772",
    "sortedThen(runningAgg)" -> "bd7a77dabb9f69a06627bc80bebd3315cc77a7656cbfd2a30069e7957930f05c",
    "temporalSort" -> "eec7dae09c8326f1a852c73ff587c4210a126639321d6d8360bbe234cb382761",
    "topN" -> "3de943be1079d4346e9f1085cf52f8e4ac1a5e656b895e73f0a1c8ec6086cd84",
    "topNChangelog" -> "62f955fc6ada8f2a144e7f56d8235e8370e36952ff82cf48a18ac57f7a635989",
    "topNRange" -> "07c85611529bcfd53ec3257415735cec3454c3c617253336c91e25f63a0521a0",
    "topNVersioned" -> "4a5c11d717bf42ebb862dbc7d2bd3ed33910ef093aacb723d0976799ce83e7e3",
    "tumbleContinuousTrigger" -> "751e6a2af6af468003e8b8d970b73cc5302653e057964f1eb4a4117d2e072230",
    "tumbleContinuousTrigger(purging)" -> "d0ba8521611ee419c318aca5298901c8f6bfb9471e20dfeddc64532a401b61fb",
    "tumbleCountEvictor" -> "2115b14b84a00dc797eb4b4fb121c811c63e1a77e2b315a68cd84caa0ace98c6",
    "tumbleDeltaEvictor" -> "b66976026c49c0d8ee435283fa8aee2b0e100b274742ec481069582fa70e02b9",
    "tumbleLateness" -> "8ca2d78c55966c04b5261a94c38b0656cd91af4b1a9f60d7de9d6a5bbe4e22a8",
    "tumbleTimeEvictor" -> "44ba459f770045ecd87670d8f64188576c6f188cad8428eb6ab3f66d4d2308fb",
    "valueChangelog>retractableAgg" -> "a68c2f8880da553de5ba01b9fe57730a08ff11006351c1f88cb2b67c2efc8ee6")

  test("every operator's per-batch output digest is unchanged") {
    runs.toSeq.sortBy(_._1).foreach { case (name, (digest, n, _)) =>
      info(s"$name -> $digest ($n rows)")
    }
    assert(runs.values.forall(_._2 > 0), "an operator emitted nothing")
    assert(runs.map { case (k, v) => k -> v._1 } === expected)
  }

  test("no stateful operator's state deserializer holds a lambda variable") {
    // a lambda variable takes a new id each time Spark resolves the state
    // encoder, every micro-batch, and the generated code compiles again;
    // such state (anything with a collection) must be held as codec bytes
    runs.foreach { case (name, (_, _, encoders)) =>
      assert(encoders.nonEmpty, s"$name: no stateful operator in the plan")
      encoders.foreach { enc =>
        assert(enc.resolveAndBind().deserializer.find(_.isInstanceOf[LambdaVariable]).isEmpty,
          s"$name: state schema ${enc.schema.simpleString}")
      }
    }
    // the check bites: a collection-typed state is held as bytes
    assert(runs("topN")._3.forall(_.schema.fields.forall(_.dataType == BinaryType)))
  }
}

/** Minutes in ms and µs, and the operators' predicates: kept out of the
  * spec class so the closures that reach the executors capture no spec. */
object OperatorDigestSpec {
  val ms: Long = 60L * 1000
  val us: Long = 1000L * ms
  def is(t: String): Event => Boolean = _.event_type == t
  val notError: Event => Boolean = _.event_type != "error"
  val gap: Event => Long = e => if (e.event_type == "error") 5 * us else 10 * us
}
