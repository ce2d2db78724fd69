package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML Pipeline API (reference `flink-ml-parent/flink-ml-api/src/main/java/
  * org/apache/flink/ml/api/core/{PipelineStage,Transformer,Estimator,Model,
  * Pipeline}.java` + `api/misc/param/Params.java`): a pipeline is an ordered
  * list of stages; `Pipeline.fit` walks the list, fitting each Estimator on
  * the data AS TRANSFORMED SO FAR and replacing it with its fitted Model
  * (ref Pipeline.java `fit` contract), producing a PipelineModel whose
  * `transform` chains every stage. Params are a typed key→value map
  * (`WithParams`), kept on each stage.
  *
  * Spark-first: a stage is DataFrame → DataFrame, so the whole fitted
  * pipeline is one composed lazy plan — Catalyst fuses the transformer
  * chain into the downstream query exactly like hand-written selects; only
  * an Estimator's fit materializes anything (and the KMeans fit collects
  * nothing but the k×dim centroid table).
  *
  * Two concrete stages ship with the engine: [[Int8Quantizer]] (the
  * pipeline-ready form of q_emb_quantize — symmetric per-vector int8,
  * exact integer outputs) and [[KMeans]] wrapping the deterministic Lloyd
  * fit that q_ann_kmeans/q_semdedup already prove. The quantizer's exact
  * integers are what make the fitted pipeline bit-reproducible in DuckDB.
  */
object MlPipeline {

  /** Typed parameter map (ref api/misc/param/Params.java — get with
    * default, set returns the stage's params). */
  final case class Params(m: Map[String, Any] = Map.empty) {
    def set(key: String, value: Any): Params = Params(m + (key -> value))
    def get[T](key: String, default: T): T =
      m.getOrElse(key, default).asInstanceOf[T]
  }

  sealed trait PipelineStage { def params: Params }
  trait Transformer extends PipelineStage {
    def transform(df: DataFrame): DataFrame
  }
  trait Model extends Transformer
  trait Estimator extends PipelineStage {
    def fit(df: DataFrame): Model
  }

  /** Ordered stage list; fit folds left per the reference contract. */
  final case class Pipeline(stages: Seq[PipelineStage]) {
    def fit(df: DataFrame): PipelineModel = {
      var cur = df
      val fitted = stages.map {
        case t: Model => cur = t.transform(cur); t
        case t: Transformer => cur = t.transform(cur); t
        case e: Estimator =>
          val m = e.fit(cur)
          cur = m.transform(cur)
          m
      }
      PipelineModel(fitted)
    }
  }

  final case class PipelineModel(stages: Seq[Transformer]) extends Model {
    val params: Params = Params()
    def transform(df: DataFrame): DataFrame =
      stages.foldLeft(df)((d, t) => t.transform(d))
  }

  /** Symmetric int8 quantization of `inputCol` in place: scale =
    * max|x|/127, q = floor(x/scale + 0.5). Outputs are exact small
    * integers (stored as float — lossless ≤ 127), so every downstream
    * arithmetic result is bit-identical across engines. */
  final case class Int8Quantizer(inputCol: String = "embedding",
                                 params: Params = Params()) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(inputCol, expr(
        s"""transform($inputCol, x -> cast(floor(cast(x AS DOUBLE) /
           | (array_max(transform($inputCol, y -> abs(cast(y AS DOUBLE)))) / 127.0D)
           | + 0.5D) AS FLOAT))""".stripMargin.replace("\n", "")))
  }

  /** Lloyd k-means estimator over (vec_id, embedding): deterministic init
    * (vectors 0..k-1), cosine assignment rounded to 6, centroids rounded
    * to 6 per dimension — the engine's oracle-reproducible fit. */
  final case class KMeans(k: Int = 8, iters: Int = 2,
                          params: Params = Params()) extends Estimator {
    def fit(df: DataFrame): Model = {
      val emb = df
        .withColumn("nrm", graft.functions.VecOps.norm(col("embedding")))
        .select(col("vec_id"), col("embedding"), col("nrm"))
        .cache()
      val cents = try Similarity.kmeansFit(emb, k, iters)
      finally emb.unpersist()
      KMeansModel(cents)
    }
  }

  final case class KMeansModel(centroids: Seq[(Int, Seq[Double])],
                               params: Params = Params()) extends Model {
    def transform(df: DataFrame): DataFrame = {
      val emb = df.withColumn("nrm", graft.functions.VecOps.norm(col("embedding")))
      df.join(Similarity.kmeansAssign(emb, centroids), Seq("vec_id"))
        .withColumnRenamed("cid", "cluster")
    }
  }

  /** q_ml_pipeline: quantize → fit k-means → assign, end to end through
    * the Pipeline API; the DuckDB oracle replays the identical quantized
    * Lloyd fit. */
  def mlPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val model = Pipeline(Seq(Int8Quantizer(), KMeans(k = 8, iters = 2)))
      .fit(emb)
    model.transform(emb)
      .select(col("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  /** MultivariateGaussian scoring (ref flink-ml-lib common/statistics/
    * basicstatistic/MultivariateGaussian.java): logpdf(x) = u − ½·v·v with
    * u = log((2π)^(−k/2)·det(Σ)^(−1/2)), expanded per dimension for a
    * DIAGONAL Σ — the covariance family whose fit AND scoring replay
    * exactly in a second engine. (The reference's full-Σ path runs LAPACK
    * dsyevd on the driver — at scale that is a k×k metadata solve, but its
    * eigenbasis is not oracle-reproducible bit-for-bit, so the engine ships
    * the diagonal specialization: logpdf = −½·Σ_d[(x_d−μ_d)²/σ²_d +
    * ln(2π·σ²_d)], identical when Σ is diagonal.)
    *
    * Determinism scheme (the repo's exact-integer bridge): vectors are
    * int8-quantized first (exact integers in both engines), the fit is
    * per-dimension exact BIGINT (n, Σx, Σx²) so μ and σ² fall out of ONE
    * double expression over exact integers — IEEE-identical anywhere; each
    * vector's per-dim term is micro-nat quantized (round(t·1e6) BIGINT)
    * before the order-independent integer sum. Degenerate dimensions floor
    * at σ²=1e-9 (the reference's pseudo-inverse tolerance role).
    *
    * Scale: the fit is one partial-aggregated shuffle of (dim) groups; the
    * fitted (μ, σ²) table is dim-sized metadata collected like the k-means
    * centroids and scored as a broadcast literal zip_with — scoring itself
    * is shuffle-free codegen. */
  def gaussian(s: SparkSession, dir: String): DataFrame = {
    val q = Tables(s, dir, "embeddings").select(col("vec_id"), expr(
      """transform(embedding, x -> cast(floor(cast(x AS DOUBLE) /
        | (array_max(transform(embedding, y -> abs(cast(y AS DOUBLE)))) / 127.0D)
        | + 0.5D) AS BIGINT))""".stripMargin.replace("\n", "")).as("q"))
    val mv = q.select(posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("d"),
        expr("cast(sx AS DOUBLE) / n").as("mu"),
        expr("greatest((cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * sx / n) / n, 1.0E-9D)").as("v2"))
      .orderBy("d").collect()
    // empty corpus: nothing to fit — return the empty scored frame (an
    // empty array() literal would not even analyze: array<string> vs the
    // bigint zip_with side)
    if (mv.isEmpty)
      return q.select(col("vec_id"), lit(0.0d).as("logpdf")).where(lit(false))
    // shortest round-trip literals: the oracle's own fit produces the same
    // doubles, so the scoring expressions agree bit-for-bit
    val mus = mv.map(r => java.lang.Double.toString(r.getDouble(1))).mkString(",")
    val v2s = mv.map(r => java.lang.Double.toString(r.getDouble(2))).mkString(",")
    q.select(col("vec_id"), expr(
      s"""aggregate(
         |  zip_with(zip_with(q, array($mus), (x, m) -> cast(x AS DOUBLE) - m),
         |           array($v2s),
         |    (dd, v) -> cast(round((-0.5D * (dd * dd / v + ln(2D * pi() * v))) * 1000000.0D) AS BIGINT)),
         |  0L, (a, t) -> a + t)""".stripMargin).as("micro"))
      .select(col("vec_id"),
        round(col("micro") / lit(1000000.0), 5).as("logpdf"))
      .orderBy("vec_id")
  }

  /** Distributed ordinary least squares via sufficient statistics — the
    * canonical no-iteration ML fit at scale (flink-ml's closed-form
    * regression analog): ONE aggregate over the fact table collects
    * (n, Σx, Σy, Σxy, Σx², Σy²) per group and the model is closed-form
    * driver arithmetic — no gradient rounds, no re-scan, the 100 TB shape.
    * Per l_returnflag: extendedprice ~ quantity.
    *
    * Determinism discipline: x/y are quantized to integers first, so every
    * sufficient statistic is an EXACT integer on both engines (Spark
    * BIGINT sums / DuckDB HUGEINT — all magnitudes audited to fit; a
    * 100 TB deployment would lift the sums to DECIMAL(38,0), same plan);
    * slope = round(num/den, 6) from identical integer→double conversions,
    * the intercept reuses the ROUNDED slope, and r² is double math over
    * those exact inputs. */
  def ols(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val st = graft.Tables(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("cast(round(l_quantity) AS bigint)").as("x"),
        expr("cast(round(l_extendedprice) AS bigint)").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
    st.withColumn("slope", expr(
        "round(cast(n * sxy - sx * sy AS double) / cast(n * sxx - sx * sx AS double), 6)"))
      .withColumn("intercept", expr(
        "round((cast(sy AS double) - slope * cast(sx AS double)) / n, 4)"))
      .withColumn("r2", expr(
        "round(cast(n * sxy - sx * sy AS double) * cast(n * sxy - sx * sy AS double) / " +
          "(cast(n * sxx - sx * sx AS double) * " +
          "(cast(n AS double) * cast(syy AS double) - cast(sy AS double) * cast(sy AS double))), 6)"))
      .select(col("l_returnflag"), col("n"), col("slope"), col("intercept"), col("r2"))
      .orderBy("l_returnflag")
  }

  val queries: Seq[Query] = Seq(
    Query("q_ml_ols", ols,
      """WITH b AS (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem),
        |st AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM b GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |   round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
        |   CAST(n*sxy - sx*sy AS DOUBLE) AS numd, CAST(n*sxx - sx*sx AS DOUBLE) AS dend,
        |   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |   CAST(syy AS DOUBLE) AS syyd
        |  FROM st)
        |SELECT l_returnflag, n, slope,
        |  round((syd - slope * sxd) / n, 4) AS intercept,
        |  round(numd * numd / (dend * (n * syyd - syd * syd)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),
    Query("q_ml_gaussian", gaussian,
      """WITH q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x ->
        |    CAST(floor(x / (list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0)
        |      + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |t AS (SELECT vec_id, i.i AS d, q.q[i.i] AS x FROM q, range(1, 65) i(i)),
        |st AS (SELECT d, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM t GROUP BY d),
        |mv AS (SELECT d, sx::DOUBLE / n AS mu,
        |    greatest((sxx::DOUBLE - sx::DOUBLE * sx / n) / n, 1e-9) AS v2 FROM st),
        |terms AS (SELECT t.vec_id,
        |    CAST(round((-0.5 * ((t.x - mv.mu) * (t.x - mv.mu) / mv.v2 + ln(2 * pi() * mv.v2))) * 1000000.0) AS BIGINT) AS tm
        |  FROM t JOIN mv USING (d))
        |SELECT vec_id, round(sum(tm)::DOUBLE / 1000000.0, 5) AS logpdf
        |FROM terms GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    Query("q_ml_pipeline", mlPipeline, (graft.LlmOracles.kmeansCtesOn(
      """SELECT vec_id, list_transform(v0, x -> floor(x / s + 0.5)) AS v FROM (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0 AS s
        | FROM embeddings)""".stripMargin) + """
      |SELECT vec_id, cid AS cluster FROM asg ORDER BY vec_id""".stripMargin)),
  )
}
