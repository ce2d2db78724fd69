package graft.operators

import graft.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gelly's graph-generator package plus the degree-annotate / degree-filter
  * asm helpers and bipartite projections, re-expressed as Catalyst plans.
  *
  * Generators (ref flink-gelly generator/CirculantGraph.java:43,
  * CompleteGraph.java, CycleGraph.java, EchoGraph.java, EmptyGraph.java,
  * GridGraph.java, HypercubeGraph.java, PathGraph.java, RMatGraph.java,
  * SingletonEdgeGraph.java, StarGraph.java): every generator is
  * `spark.range(n)` plus codegen expressions — embarrassingly parallel and
  * shuffle-free, the distribution contract of the reference's
  * `fromParallelCollection` + flatMap (GraphGeneratorBase#setParallelism).
  * At cluster scale a generated graph never touches the driver: `range`
  * splits across executors and each split emits only its own edges, so a
  * 10^12-edge RMat is as cheap per-edge as the toy sizes the oracle checks.
  *
  * Determinism: RMat's randomness is an md5 hash of (edge, bit) — the same
  * hash bridge every LSH oracle uses — so DuckDB derives bit-identical
  * graphs and the oracle can compare full edge multisets, not just counts.
  */
object GraphGens {

  // ---------------------------------------------------------------- //
  // generators — Spark side                                          //
  // ---------------------------------------------------------------- //

  /** CirculantGraph.java:43 — an oriented graph where vertex i links to
    * (i+j) mod n for every configured offset j (1 <= j < n). The explode
    * over a literal offset array keeps the whole generator inside one
    * WholeStageCodegen pass over `range(n)`. */
  def circulant(s: SparkSession, n: Long, offsets: Seq[Long]): DataFrame = {
    require(n >= 2 && offsets.nonEmpty && offsets.forall(o => o >= 1 && o < n),
      s"circulant offsets must be in [1, ${n - 1}]")
    s.range(n).toDF("src")
      .select(col("src"), explode(array(offsets.map(lit(_)): _*)).as("off"))
      .select(col("src"), ((col("src") + col("off")) % n).as("dst"))
  }

  /** CompleteGraph.java — circulant with every offset 1..n-1 (both
    * directions of each undirected edge appear). */
  def complete(s: SparkSession, n: Long): DataFrame =
    circulant(s, n, 1L until n)

  /** EchoGraph.java — circulant over the d offsets centered opposite each
    * vertex: addRange((n-d+1)/2, d). n or d must be even, not both. */
  def echo(s: SparkSession, n: Long, d: Long): DataFrame = {
    require((n % 2 == 0) ^ (d % 2 == 0),
      "vertex count or degree must be even but not both (EchoGraph.java)")
    val start = (n - d + 1) / 2
    circulant(s, n, start until (start + d))
  }

  /** GridGraph.java — regular tiling in one or more dimensions, endpoints
    * optionally wrapped; dimension sizes multiply into the vertex count and
    * earlier dimensions are more significant. A size-2 dimension forces
    * wrap off (addDimension: "prevent duplicate edges"). Neighbor targets
    * are a per-dimension CASE pair exploded from one array — still a single
    * codegen pass, no joins. */
  def grid(s: SparkSession, dims: Seq[(Long, Boolean)]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_._1 >= 2))
    val n = dims.map(_._1).product
    var inc = n
    val targets: Seq[Column] = dims.flatMap { case (size, wrap0) =>
      val wrap = wrap0 && size != 2
      inc /= size
      val idx = expr(s"src div $inc") % size
      val down =
        if (wrap) when(idx > 0, col("src") - inc)
          .otherwise(col("src") + inc * (size - 1))
        else when(idx > 0, col("src") - inc)
      val up =
        if (wrap) when(idx < size - 1, col("src") + inc)
          .otherwise(col("src") - inc * (size - 1))
        else when(idx < size - 1, col("src") + inc)
      Seq(down, up)
    }
    s.range(n).toDF("src")
      .select(col("src"), explode(array(targets: _*)).as("dst"))
      .where(col("dst").isNotNull)
  }

  /** CycleGraph.java — GridGraph with one wrapped dimension. */
  def cycle(s: SparkSession, n: Long): DataFrame = grid(s, Seq((n, true)))

  /** PathGraph.java — GridGraph with one unwrapped dimension. */
  def path(s: SparkSession, n: Long): DataFrame = grid(s, Seq((n, false)))

  /** HypercubeGraph.java — GridGraph with `dims` size-2 dimensions. */
  def hypercube(s: SparkSession, dims: Int): DataFrame =
    grid(s, Seq.fill(dims)((2L, false)))

  /** StarGraph.java — hub vertex 0 linked to and from every leaf. */
  def star(s: SparkSession, n: Long): DataFrame = {
    require(n >= 2)
    s.range(1, n).toDF("v")
      .select(explode(array(
        struct(lit(0L).as("src"), col("v").as("dst")),
        struct(col("v").as("src"), lit(0L).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** SingletonEdgeGraph.java — `pairs` disjoint two-vertex graphs; each
    * vertex maps to its partner (v+1 if even else v-1). */
  def singletonEdge(s: SparkSession, pairs: Long): DataFrame = {
    require(pairs > 0)
    s.range(2 * pairs).toDF("src")
      .select(col("src"),
        when(col("src") % 2 === 0, col("src") + 1)
          .otherwise(col("src") - 1).as("dst"))
  }

  /** EmptyGraph.java — n vertices, no edges (summary row only). */
  def emptyEdges(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("src"), col("id").as("dst"))

  /** RMatGraph.java — the recursive-matrix power-law generator (Chakrabarti
    * et al., Graph500 constants A=0.57 B=C=0.19). Per edge, `scale` bits
    * are drawn MSB-first; each bit's quadrant comes from one uniform float
    * r: r<=a keeps (0,0), r<=a+b sets the target bit, r<=a+b+c the source
    * bit, else both (RMatGraph.java GenerateEdges#flatMap). The float is an
    * md5 of (edge, bit) so the graph is deterministic and the DuckDB oracle
    * regenerates it bit-for-bit. Vertex count is kept a power of two here
    * so the reference's out-of-range rejection loop never triggers (it
    * would re-draw from a stateful RNG, which a hash can't replay).
    * The bit fold is an `aggregate` HOF — zero joins, zero shuffles. */
  def rmat(s: SparkSession, scale: Int, m: Long,
           a: Double = 0.57, b: Double = 0.19, c: Double = 0.19): DataFrame = {
    require(scale >= 1 && scale < 63 && m >= 1 && a + b + c <= 1.0)
    // thresholds as shortest round-trip literals: Spark and DuckDB parse
    // the same text to the same IEEE double, so branch decisions agree
    val ab = (a + b).toString
    val abc = (a + b + c).toString
    val rArr = s"transform(sequence(0, ${scale - 1}), bt -> " +
      "CAST(conv(substr(md5(concat('rmat', CAST(id AS STRING), '_', " +
      "CAST(bt AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0D)"
    s.range(m)
      .select(expr(
        s"""aggregate($rArr, named_struct('x', 0L, 'y', 0L),
           |  (acc, r) -> named_struct(
           |    'x', acc.x * 2L + IF(r > ${ab}D, 1L, 0L),
           |    'y', acc.y * 2L + IF((r > ${a}D AND r <= ${ab}D) OR r > ${abc}D, 1L, 0L)))
           |""".stripMargin).as("xy"))
      .select(col("xy.x").as("src"), col("xy.y").as("dst"))
  }

  // ---------------------------------------------------------------- //
  // generators — DuckDB oracle builders (same parameters, same math)  //
  // ---------------------------------------------------------------- //

  private def circSql(n: Long, offsets: Seq[Long]): String =
    s"SELECT t.range AS src, (t.range + o.o) % $n AS dst " +
      s"FROM range($n) t, (SELECT unnest([${offsets.mkString(", ")}]) AS o) o"

  private def completeSql(n: Long): String = circSql(n, 1L until n)

  private def echoSql(n: Long, d: Long): String = {
    val start = (n - d + 1) / 2
    circSql(n, start until (start + d))
  }

  private def gridSql(dims: Seq[(Long, Boolean)]): String = {
    val n = dims.map(_._1).product
    var inc = n
    dims.flatMap { case (size, wrap0) =>
      val wrap = wrap0 && size != 2
      inc /= size
      val idx = s"((t.range // $inc) % $size)"
      val down =
        if (wrap) s"SELECT t.range AS src, CASE WHEN $idx > 0 THEN t.range - $inc " +
          s"ELSE t.range + ${inc * (size - 1)} END AS dst FROM range($n) t"
        else s"SELECT t.range AS src, t.range - $inc AS dst FROM range($n) t WHERE $idx > 0"
      val up =
        if (wrap) s"SELECT t.range AS src, CASE WHEN $idx < ${size - 1} THEN t.range + $inc " +
          s"ELSE t.range - ${inc * (size - 1)} END AS dst FROM range($n) t"
        else s"SELECT t.range AS src, t.range + $inc AS dst FROM range($n) t WHERE $idx < ${size - 1}"
      Seq(down, up)
    }.mkString(" UNION ALL ")
  }

  private def cycleSql(n: Long) = gridSql(Seq((n, true)))
  private def pathSql(n: Long) = gridSql(Seq((n, false)))
  private def hypercubeSql(dims: Int) = gridSql(Seq.fill(dims)((2L, false)))

  private def starSql(n: Long): String =
    s"SELECT 0::BIGINT AS src, t.range AS dst FROM range(1, $n) t " +
      s"UNION ALL SELECT t.range, 0::BIGINT FROM range(1, $n) t"

  private def singletonSql(pairs: Long): String =
    s"SELECT t.range AS src, CASE WHEN t.range % 2 = 0 THEN t.range + 1 " +
      s"ELSE t.range - 1 END AS dst FROM range(${2 * pairs}) t"

  /** CTE body producing rmat edges as table `rmat_edges(src, dst)`. */
  private def rmatCte(scale: Int, m: Long,
                      a: Double = 0.57, b: Double = 0.19, c: Double = 0.19): String = {
    val ab = (a + b).toString
    val abc = (a + b + c).toString
    s"""rmat_bits AS (
       |  SELECT e.range AS e,
       |    ('0x' || substr(md5('rmat' || e.range::VARCHAR || '_' || bt.range::VARCHAR), 1, 8))::UBIGINT::DOUBLE
       |      / 4294967296.0 AS r,
       |    (1::BIGINT << (${scale - 1} - bt.range))::BIGINT AS w
       |  FROM range($m) e, range($scale) bt),
       |rmat_edges AS (
       |  SELECT e,
       |    CAST(coalesce(sum(CASE WHEN r > $ab THEN w ELSE 0 END), 0) AS BIGINT) AS src,
       |    CAST(coalesce(sum(CASE WHEN (r > $a AND r <= $ab) OR r > $abc THEN w ELSE 0 END), 0) AS BIGINT) AS dst
       |  FROM rmat_bits GROUP BY e)""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // oracle queries                                                    //
  // ---------------------------------------------------------------- //

  /** Small named instances of every deterministic generator — see [[sql]]
    * for the matching DuckDB derivations. */
  private def smallGens(s: SparkSession): Seq[(String, DataFrame)] = Seq(
    "circulant_10_2_2" -> circulant(s, 10, Seq(2, 3)),
    "complete_8"       -> complete(s, 8),
    "cycle_12"         -> cycle(s, 12),
    "echo_10_3"        -> echo(s, 10, 3),
    "grid_3w_4"        -> grid(s, Seq((3L, true), (4L, false))),
    "hypercube_4"      -> hypercube(s, 4),
    "path_9"           -> path(s, 9),
    "singleton_5"      -> singletonEdge(s, 5),
    "star_7"           -> star(s, 7))

  private val smallGensSql: Seq[(String, String)] = Seq(
    "circulant_10_2_2" -> circSql(10, Seq(2, 3)),
    "complete_8"       -> completeSql(8),
    "cycle_12"         -> cycleSql(12),
    "echo_10_3"        -> echoSql(10, 3),
    "grid_3w_4"        -> gridSql(Seq((3L, true), (4L, false))),
    "hypercube_4"      -> hypercubeSql(4),
    "path_9"           -> pathSql(9),
    "singleton_5"      -> singletonSql(5),
    "star_7"           -> starSql(7))

  /** q_graph_gen_edges: full edge-list parity for the nine deterministic
    * generator shapes. */
  def genEdges(s: SparkSession, dir: String): DataFrame =
    smallGens(s).map { case (g, df) =>
      df.select(lit(g).as("gen"), col("src"), col("dst"))
    }.reduce(_ unionAll _).orderBy("gen", "src", "dst")

  /** q_graph_gen_rmat: RMat(2^6 vertices, 512 edges, Graph500 constants)
    * compared as an edge multiset (it is a multigraph). */
  def genRmat(s: SparkSession, dir: String): DataFrame =
    rmat(s, scale = 6, m = 512)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .orderBy("src", "dst")

  /** Larger instances plus EmptyGraph and RMat, compared as per-generator
    * summaries (vertex count, edge count, distinct edges, endpoint sums) —
    * proof the closed-form edge counts hold at sizes where dumping rows
    * would be silly. RMat vertices follow GraphGeneratorUtils.vertexSet:
    * the distinct ids referenced by edges, not the 2^scale id space. */
  def genSummary(s: SparkSession, dir: String): DataFrame = {
    def row(g: String, vertices: Long, e: DataFrame): DataFrame =
      e.agg(
        count(lit(1)).as("edge_count"),
        countDistinct(col("src"), col("dst")).as("distinct_edges"),
        coalesce(sum(col("src")), lit(0L)).as("sum_src"),
        coalesce(sum(col("dst")), lit(0L)).as("sum_dst"))
        .select(lit(g).as("gen"), lit(vertices).as("vertices"),
          col("edge_count"), col("distinct_edges"), col("sum_src"), col("sum_dst"))
    val re = rmat(s, scale = 8, m = 4096)
    val rmatRow = re
      .agg(
        count(lit(1)).as("edge_count"),
        countDistinct(col("src"), col("dst")).as("distinct_edges"),
        coalesce(sum(col("src")), lit(0L)).as("sum_src"),
        coalesce(sum(col("dst")), lit(0L)).as("sum_dst"))
      .crossJoin(re.select(explode(array(col("src"), col("dst"))).as("id"))
        .agg(countDistinct(col("id")).as("vertices")))
      .select(lit("rmat_8_4096").as("gen"), col("vertices"),
        col("edge_count"), col("distinct_edges"), col("sum_src"), col("sum_dst"))
    Seq(
      row("complete_40", 40, complete(s, 40)),
      row("cycle_1000", 1000, cycle(s, 1000)),
      row("echo_21_6", 21, echo(s, 21, 6)),
      row("empty_17", 17, emptyEdges(s)),
      row("grid_5w_6_7w", 210, grid(s, Seq((5L, true), (6L, false), (7L, true)))),
      row("hypercube_10", 1024, hypercube(s, 10)),
      row("singleton_64", 128, singletonEdge(s, 64)),
      row("star_100", 100, star(s, 100)),
      rmatRow
    ).reduce(_ unionAll _).orderBy("gen")
  }

  private def summarySql(g: String, vertices: Long, inner: String): String =
    s"""SELECT '$g' AS gen, ${vertices}::BIGINT AS vertices,
       |  CAST(count(*) AS BIGINT) AS edge_count,
       |  CAST(count(DISTINCT (src, dst)) AS BIGINT) AS distinct_edges,
       |  CAST(coalesce(sum(src), 0) AS BIGINT) AS sum_src,
       |  CAST(coalesce(sum(dst), 0) AS BIGINT) AS sum_dst
       |FROM ($inner)""".stripMargin

  // ---------------------------------------------------------------- //
  // asm/degree + asm/simple + bipartite                               //
  // ---------------------------------------------------------------- //

  /** Directed VertexDegrees (ref asm/degree/annotate/directed/
    * VertexDegrees.java): per vertex the count of DISTINCT neighbors plus
    * distinct out- and in-neighbors — duplicate and opposing edges collapse
    * through a (vertex, neighbor) bitmask reduce exactly like the
    * reference's EmitAndFlipEdge + ReduceBitmask + DegreeCount chain, here
    * two partial-aggregated hash shuffles. includeZeroDegreeVertices=true:
    * the vertex set left-joins in so isolated vertices report zeros. */
  def vertexDegreesDirected(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val marked = edges
      .select(col("src").as("id"), col("dst").as("nb"), lit(1).as("f"), lit(0).as("r"))
      .union(edges.select(col("dst").as("id"), col("src").as("nb"), lit(0).as("f"), lit(1).as("r")))
    val deg = marked.groupBy("id", "nb")
      .agg(max(col("f")).as("f"), max(col("r")).as("r"))
      .groupBy("id")
      .agg(count(lit(1)).as("degree"), sum(col("f")).as("out_degree"),
        sum(col("r")).as("in_degree"))
    vertices.join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  def docDegrees(s: SparkSession, dir: String): DataFrame = {
    val verts = graft.Tables(s, dir, "documents").select(col("doc_id").as("id"))
    vertexDegreesDirected(verts, Graph.windowDigraph(s, dir)).orderBy("id")
  }

  /** MaximumDegree (ref asm/degree/filter/undirected/MaximumDegree.java):
    * drop every vertex whose undirected degree exceeds the cap, and with it
    * every incident edge — the reference's left-outer "project low-degree"
    * joins are two left_anti joins here (its own TODO asks for exactly
    * that). The hot-hub cut is the classic skew guard: at 100 TB this runs
    * before any quadratic neighborhood operator. */
  def maximumDegreeFilter(edges: DataFrame, maxDegree: Long): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val high = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .where(col("deg") > maxDegree)
      .select(col("id"))
    edges
      .join(high.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(high.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
  }

  def docMaxDegree(s: SparkSession, dir: String): DataFrame =
    maximumDegreeFilter(
      Dedup.ngramJaccardPairsShared(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")), maxDegree = 2)
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      .orderBy("doc_a", "doc_b")

  /** Bipartite doc–token fixture (ref bipartite/BipartiteGraph.java,
    * BipartiteEdge.java): top vertices = a document slice (value = lang),
    * bottom vertices = their tokens (value = token length), edge value =
    * occurrences of the token in the document. The degree band (2 ..
    * ceil(0.9·|slice|), in exact integer math so both engines agree) keeps
    * the projection's per-bottom fan-out bounded at EVERY scale factor —
    * the same hot-key cap every near-dup candidate join here uses; at
    * 100 TB the band is what stops a stopword from creating a quadratic
    * bucket. The cap side is a 1-row broadcast, not a driver action. */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
      .where(col("doc_id") % 53 === 0)
    val cap = docs.agg(expr("(count(1) * 9 + 9) div 10").as("hi"))
    val tok = docs
      .select(col("doc_id").as("top"), col("lang"),
        explode(split(lower(col("text")), " ")).as("btm"))
      .where(length(col("btm")) >= 2)
      .groupBy("top", "lang", "btm").agg(count(lit(1)).as("ev"))
    val banded = tok.groupBy("btm").agg(countDistinct(col("top")).as("df"))
      .crossJoin(broadcast(cap))
      .where(col("df") >= 2 && col("df") <= col("hi"))
      .select(col("btm"))
    tok.join(banded, Seq("btm")).select(col("top"), col("btm"), col("lang"), col("ev"))
  }

  /** projectionTopSimple (BipartiteGraph.java#projectionTopSimple): one
    * self-join on the bottom key; every ordered pair of distinct top
    * vertices sharing a bottom vertex becomes an edge carrying both
    * original edge values (a multigraph — one edge per shared bottom). */
  def bipartiteTopSimple(s: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(s, dir)
    val l = e.select(col("btm"), col("top").as("src"), col("ev").as("ev_a"))
    val r = e.select(col("btm"), col("top").as("dst"), col("ev").as("ev_b"))
    l.join(r, Seq("btm"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("ev_a"), col("ev_b"))
      .orderBy("src", "dst", "ev_a", "ev_b")
  }

  /** projectionTopFull (BipartiteGraph.java#projectionTopFull): the
    * three-join variant that keeps the connecting bottom vertex id and
    * value plus both top values and both edge values. */
  def bipartiteTopFull(s: SparkSession, dir: String): DataFrame = {
    val e = bipartiteEdges(s, dir).withColumn("btm_len", length(col("btm")))
    val l = e.select(col("btm"), col("btm_len"), col("top").as("src"),
      col("lang").as("src_lang"), col("ev").as("ev_a"))
    val r = e.select(col("btm"), col("top").as("dst"),
      col("lang").as("dst_lang"), col("ev").as("ev_b"))
    l.join(r, Seq("btm"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("btm"), col("btm_len"),
        col("src_lang"), col("dst_lang"), col("ev_a"), col("ev_b"))
      .orderBy("src", "dst", "btm")
  }

  // ---------------------------------------------------------------- //
  // Graph.java set/mutation verbs                                     //
  // ---------------------------------------------------------------- //

  /** removeVertices (Graph.java#removeVertices / #difference): drop the
    * given vertex ids and every incident edge — two left_anti joins. */
  def removeVertices(edges: DataFrame, rm: DataFrame): DataFrame =
    edges
      .join(rm.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(rm.select(col("id").as("dst")), Seq("dst"), "left_anti")

  /** InvalidVertexIdsValidator (ref gelly validation/
    * InvalidVertexIdsValidator.java): edge endpoints that do not exist in
    * the vertex set — the reference's validate() is `returned set is
    * empty`. Expressed as a union + left_anti join (coGroup in the
    * reference), fully distributed. */
  def invalidVertexIds(vertices: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
      .join(vertices.select(col("id")), Seq("id"), "left_anti")

  /** subgraph (Graph.java:867): vertex predicate keeps edges whose BOTH
    * endpoints survive (two equi-joins against the filtered vertex set,
    * exactly the reference's double ProjectEdge join), then the edge
    * predicate filters the remainder. */
  def subgraph(vertices: DataFrame, edges: DataFrame,
               vertexFilter: Column, edgeFilter: Column): DataFrame = {
    val fv = vertices.where(vertexFilter)
    edges
      .join(fv.select(col("id").as("src")), Seq("src"))
      .join(fv.select(col("id").as("dst")), Seq("dst"))
      .where(edgeFilter)
  }

  /** getUndirected (Graph.java:985): add every inverse edge, keeping
    * duplicates. */
  def undirected(edges: DataFrame): DataFrame =
    edges.unionByName(edges
      .withColumn("tmp", col("src")).withColumn("src", col("dst"))
      .withColumn("dst", col("tmp")).drop("tmp")
      .select(edges.columns.map(col): _*))

  /** intersect, pairwise mode (Graph.java:1647 getPairwiseEdgeIntersection):
    * equal edges pair up greedily, each instance in at most one pair, BOTH
    * edges of every pair are emitted — i.e. 2·min(multiplicity_left,
    * multiplicity_right) copies per distinct (src, dst, val). The
    * reference's coGroup-and-zip becomes two partial-aggregated counts and
    * a sequence explode: same result, no row-at-a-time iterator. */
  def intersectPairwise(l: DataFrame, r: DataFrame): DataFrame = {
    val cl = l.groupBy("src", "dst", "val").agg(count(lit(1)).as("cl"))
    val cr = r.groupBy("src", "dst", "val").agg(count(lit(1)).as("cr"))
    cl.join(cr, Seq("src", "dst", "val"))
      .select(col("src"), col("dst"), col("val"),
        explode(expr("sequence(1, 2 * least(cl, cr))")).as("i"))
      .drop("i")
  }

  /** intersect, distinct mode (Graph.java getDistinctEdgeIntersection):
    * one representative per equal edge. */
  def intersectDistinct(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r.distinct(), Seq("src", "dst", "val"), "left_semi").distinct()

  /** q_graph_ops: the Graph API's set/mutation verbs over deterministic
    * generator fixtures, tagged per op — union keeps duplicate edges
    * (reference semantics), difference removes the other graph's vertex
    * ids with incident edges, intersect is exercised in both modes on
    * inputs with real multiplicities. */
  def graphOps(s: SparkSession, dir: String): DataFrame = {
    def withVal(e: DataFrame): DataFrame =
      e.withColumn("val", (col("src") * 31 + col("dst")) % 7)
    def tag(op: String, e: DataFrame): DataFrame =
      e.select(lit(op).as("op"), col("src"), col("dst"), col("val"))

    val g1 = withVal(cycle(s, 12))
    val g2 = withVal(path(s, 9))
    val g2verts = s.range(9).toDF("id")
    val cyc12verts = s.range(12).toDF("id")
    // intersect fixtures: left has every edge twice; right has ids < 4
    // once plus ids < 2 a second time → pairwise emits 4/2/0 copies
    val sing = withVal(singletonEdge(s, 4))
    val il = sing.unionByName(sing)
    val ir = sing.where(col("src") < 4)
      .unionByName(sing.where(col("src") < 2))

    // asm/simple Simplify (directed + undirected): RMat is the honest
    // input here — a multigraph WITH self-loops. val is a pure function of
    // (src, dst), so distinct on all three equals the reference's
    // distinct(0, 1) while staying deterministic.
    val multi = withVal(rmat(s, scale = 5, m = 300))
    val simpDir = multi.where(col("src") =!= col("dst")).distinct()
    // the flipped copy KEEPS its edge value (SymmetrizeAndRemoveSelfLoops),
    // so (a,b) can carry two values after symmetrizing; the reference's
    // distinct(0,1) keeps an arbitrary one — min(val) is the deterministic
    // tie-break both engines apply
    val simpUndir = multi
      .unionByName(multi.select(col("dst").as("src"), col("src").as("dst"), col("val")))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("val")).as("val"))

    // asm/translate (TranslateGraphIds + TranslateEdgeValues with the
    // shipped LongValueAddOffset translator shape): pure column maps
    val translated = g2.select((col("src") + 100).as("src"),
      (col("dst") + 100).as("dst"), (col("val") * 2).as("val"))

    tag("union", g1.unionByName(g2))
      .unionByName(tag("translate", translated))
      .unionByName(tag("simplify_directed", simpDir))
      .unionByName(tag("simplify_undirected", simpUndir))
      .unionByName(tag("difference", removeVertices(g1, g2verts)))
      .unionByName(tag("subgraph", subgraph(cyc12verts, g1,
        col("id") % 2 === 0, col("val") % 2 === 0)))
      .unionByName(tag("reverse", withVal(circulant(s, 10, Seq(3)))
        .select(col("dst").as("src"), col("src").as("dst"), col("val"))))
      .unionByName(tag("undirected", undirected(withVal(circulant(s, 10, Seq(2))))))
      .unionByName(tag("intersect_pairwise", intersectPairwise(il, ir)))
      .unionByName(tag("intersect_distinct", intersectDistinct(il, ir)))
      .orderBy("op", "src", "dst", "val")
  }

  // ---------------------------------------------------------------- //
  // oracle SQL                                                        //
  // ---------------------------------------------------------------- //

  private val bipartiteCtes: String =
    """WITH sl AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 53 = 0),
      |cap AS (SELECT (count(*) * 9 + 9) // 10 AS hi FROM sl),
      |tok AS (
      |  SELECT doc_id AS top, lang, u.btm, count(*) AS ev
      |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS btm
      |        FROM sl) u(doc_id, lang, btm)
      |  WHERE length(u.btm) >= 2
      |  GROUP BY 1, 2, 3),
      |banded AS (SELECT btm FROM (
      |    SELECT btm, count(DISTINCT top) AS df FROM tok GROUP BY btm)
      |  WHERE df >= 2 AND df <= (SELECT hi FROM cap)),
      |be AS (SELECT t.top, t.btm, t.lang, t.ev FROM tok t JOIN banded b ON b.btm = t.btm)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_graph_gen_edges", genEdges,
      smallGensSql.map { case (g, inner) =>
        s"SELECT '$g' AS gen, src, dst FROM ($inner)"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY gen, src, dst")),

    Query("q_graph_gen_rmat", genRmat, (s"WITH ${rmatCte(6, 512)}\n" +
      """SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        |FROM rmat_edges GROUP BY src, dst ORDER BY src, dst""".stripMargin)),

    Query("q_graph_gen_summary", genSummary, (s"WITH ${rmatCte(8, 4096)},\n" +
      """rmat_verts AS (SELECT count(DISTINCT id) AS vertices FROM (
        |  SELECT src AS id FROM rmat_edges UNION SELECT dst FROM rmat_edges))
        |""".stripMargin +
      Seq(
        summarySql("complete_40", 40, completeSql(40)),
        summarySql("cycle_1000", 1000, cycleSql(1000)),
        summarySql("echo_21_6", 21, echoSql(21, 6)),
        "SELECT 'empty_17' AS gen, 17::BIGINT AS vertices, 0::BIGINT AS edge_count, " +
          "0::BIGINT AS distinct_edges, 0::BIGINT AS sum_src, 0::BIGINT AS sum_dst",
        summarySql("grid_5w_6_7w", 210, gridSql(Seq((5L, true), (6L, false), (7L, true)))),
        summarySql("hypercube_10", 1024, hypercubeSql(10)),
        summarySql("singleton_64", 128, singletonSql(64)),
        summarySql("star_100", 100, starSql(100)),
        """SELECT 'rmat_8_4096' AS gen, CAST(v.vertices AS BIGINT) AS vertices,
          |  CAST(count(*) AS BIGINT) AS edge_count,
          |  CAST(count(DISTINCT (src, dst)) AS BIGINT) AS distinct_edges,
          |  CAST(coalesce(sum(src), 0) AS BIGINT) AS sum_src,
          |  CAST(coalesce(sum(dst), 0) AS BIGINT) AS sum_dst
          |FROM rmat_edges, rmat_verts v GROUP BY v.vertices""".stripMargin
      ).mkString("\nUNION ALL\n") + "\nORDER BY gen")),

    Query("q_graph_ops", graphOps, (s"""WITH ${rmatCte(5, 300)},
       |multi AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM rmat_edges),
       |g1 AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM (${cycleSql(12)})),
       |g2 AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM (${pathSql(9)})),
       |sing AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM (${singletonSql(4)})),
       |il AS (SELECT * FROM sing UNION ALL SELECT * FROM sing),
       |ir AS (SELECT * FROM sing WHERE src < 4 UNION ALL SELECT * FROM sing WHERE src < 2),
       |c3 AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM (${circSql(10, Seq(3))})),
       |c2 AS (SELECT src, dst, (src * 31 + dst) % 7 AS val FROM (${circSql(10, Seq(2))})),
       |cl AS (SELECT src, dst, val, count(*) AS c FROM il GROUP BY 1, 2, 3),
       |cr AS (SELECT src, dst, val, count(*) AS c FROM ir GROUP BY 1, 2, 3),
       |ip AS (SELECT src, dst, val,
       |    unnest(range(1, 2 * least(cl.c, cr.c) + 1)) AS i
       |  FROM cl JOIN cr USING (src, dst, val))
       |SELECT 'union' AS op, src, dst, val FROM g1
       |UNION ALL SELECT 'union', src, dst, val FROM g2
       |UNION ALL SELECT 'translate', src + 100, dst + 100, val * 2 FROM g2
       |UNION ALL SELECT 'simplify_directed', src, dst, val
       |  FROM (SELECT DISTINCT src, dst, val FROM multi WHERE src <> dst)
       |UNION ALL SELECT 'simplify_undirected', src, dst, min(val)
       |  FROM (SELECT src, dst, val FROM multi
       |        UNION ALL SELECT dst, src, val FROM multi)
       |  WHERE src <> dst GROUP BY src, dst
       |UNION ALL SELECT 'difference', src, dst, val FROM g1
       |  WHERE src NOT IN (SELECT t.range FROM range(9) t)
       |    AND dst NOT IN (SELECT t.range FROM range(9) t)
       |UNION ALL SELECT 'subgraph', src, dst, val FROM g1
       |  WHERE src % 2 = 0 AND dst % 2 = 0 AND val % 2 = 0
       |UNION ALL SELECT 'reverse', dst AS src, src AS dst, val FROM c3
       |UNION ALL SELECT 'undirected', src, dst, val FROM c2
       |UNION ALL SELECT 'undirected', dst, src, val FROM c2
       |UNION ALL SELECT 'intersect_pairwise', src, dst, val FROM ip
       |UNION ALL SELECT 'intersect_distinct', src, dst, val
       |  FROM (SELECT DISTINCT l.src, l.dst, l.val FROM il l
       |        JOIN (SELECT DISTINCT * FROM ir) r USING (src, dst, val))
       |ORDER BY op, src, dst, val""".stripMargin)),

    Query("q_graph_degrees", docDegrees, (Graph.windowCtes + """,
      |wedges AS (SELECT a AS src, b AS dst FROM st WHERE s IN (1, 3)
      |           UNION ALL SELECT b, a FROM st WHERE s IN (2, 3)),
      |m AS (SELECT src AS id, dst AS nb, 1 AS f, 0 AS r FROM wedges
      |      UNION ALL SELECT dst, src, 0, 1 FROM wedges),
      |pn AS (SELECT id, nb, max(f) AS f, max(r) AS r FROM m GROUP BY 1, 2),
      |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree,
      |         CAST(sum(f) AS BIGINT) AS out_degree,
      |         CAST(sum(r) AS BIGINT) AS in_degree
      |       FROM pn GROUP BY id)
      |SELECT v.id, coalesce(dg.degree, 0) AS degree,
      |  coalesce(dg.out_degree, 0) AS out_degree,
      |  coalesce(dg.in_degree, 0) AS in_degree
      |FROM vv v LEFT JOIN dg ON dg.id = v.id ORDER BY v.id""".stripMargin)),

    Query("q_graph_max_degree", docMaxDegree, (graft.LlmOracles.pairsCte + """,
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |high AS (SELECT src AS id FROM sym GROUP BY src HAVING count(*) > 2)
      |SELECT p.doc_a, p.doc_b FROM pairs p
      |WHERE p.doc_a NOT IN (SELECT id FROM high)
      |  AND p.doc_b NOT IN (SELECT id FROM high)
      |ORDER BY p.doc_a, p.doc_b""".stripMargin)),

    Query("q_graph_bipartite_top", bipartiteTopSimple, (bipartiteCtes + """
      |SELECT l.top AS src, r.top AS dst, l.ev AS ev_a, r.ev AS ev_b
      |FROM be l JOIN be r ON r.btm = l.btm AND r.top <> l.top
      |ORDER BY src, dst, ev_a, ev_b""".stripMargin)),

    Query("q_graph_bipartite_full", bipartiteTopFull, (bipartiteCtes + """
      |SELECT l.top AS src, r.top AS dst, l.btm,
      |  CAST(length(l.btm) AS INTEGER) AS btm_len,
      |  l.lang AS src_lang, r.lang AS dst_lang, l.ev AS ev_a, r.ev AS ev_b
      |FROM be l JOIN be r ON r.btm = l.btm AND r.top <> l.top
      |ORDER BY src, dst, l.btm""".stripMargin))
  )
}
