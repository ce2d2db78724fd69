package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale rehearsal (VERDICT r3 #10): inflate the sf0.1 fact tables to
  * ~sf1 by unioning key-shifted copies, then time the shuffle-heavy
  * headline shapes and the two skew strategies side by side. This is the
  * "would the plan survive a scale-up" experiment the per-round bench
  * can't show at fixed SF: aggregate/join/window cost should grow ~linearly
  * (2-phase agg, broadcast dims, windows partitioned by key), and the
  * viral-key join should stay near the salted baseline because AQE splits
  * the skewed partition at runtime (OptimizeSkewedJoin) — both asserted
  * for plan shape in PlanSpec, measured here for wall time.
  *
  * Results land in NOTES.md; run with tools/run.sh graft.tools.ScaleBench
  * [k] (default 10). Inflated data is built once under /tmp/graft-sf1. */
object ScaleBench {

  def inflate(s: SparkSession, src: String, out: String, k: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE_$k")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val li = graft.Tables(s, src, "lineitem")
    val ord = graft.Tables(s, src, "orders")
    val maxOrder = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val copies = (0 until k)
    copies.map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    copies.map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // dimensions keep their size — exactly how a real scale-up behaves
    for (t <- Seq("customer", "supplier", "part", "nation", "region")) {
      graft.Tables(s, src, t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    inflateLlm(s, src, out, k)
    done.createNewFile()
  }

  /** documents + embeddings only — the inputs of the four headline LLM ops.
    * Factored out so the k=100 rehearsal (VERDICT r8 task 4) doesn't pay
    * for 100 copies of the fact tables it never reads. */
  def inflateLlm(s: SparkSession, src: String, out: String, k: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE_LLM_$k")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val copies = (0 until k)
    // documents: each copy's tokens get a copy suffix, so copies are NOT
    // near-dups of each other — the inflated corpus models 10× DISTINCT
    // documents with the original's statistical shape (per-copy shingle
    // universes are disjoint; df distribution per universe is unchanged)
    val docs = graft.Tables(s, src, "documents")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    copies.map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$i"))), " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings: copy-specific ORTHOGONAL map (component shift by 7i plus
    // a deterministic ±1 mask) — within-copy inner products are preserved
    // exactly, so each copy's dedup structure mirrors the original corpus,
    // while cross-copy vectors are decorrelated
    val emb = graft.Tables(s, src, "embeddings")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    copies.map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
        .withColumn("embedding", when(lit(i) === 0, col("embedding")).otherwise(
          expr(s"transform(embedding, (x, j) -> " +
            s"float(element_at(embedding, (j + 7 * $i) % size(embedding) + 1) " +
            s"* (1 - 2 * ((j + $i) % 2))))")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    new java.io.File(s"$out/_DONE_LLM_$k").createNewFile()
  }

  /** orders only — the input of the CDC rehearsal. */
  def inflateOrders(s: SparkSession, src: String, out: String, k: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE_ORD_$k")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val ord = graft.Tables(s, src, "orders")
    val maxOrder = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    (0 until k).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    done.createNewFile()
  }

  /** events only, for the streaming rehearsal: k× more USERS (the scale
    * dimension of keyed state — per-key density stays the base run's, so
    * per-key state and match counts are invariant and wall cost must track
    * the key count). */
  def inflateEvents(s: SparkSession, src: String, out: String, k: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE_EV_$k")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val ev = graft.Tables(s, src, "events")
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val maxId = ev.agg(max("event_id")).head().getLong(0) + 1
    (0 until k).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i * maxUser))
        .withColumn("event_id", col("event_id") + lit(i * maxId))
    }.reduce(_ unionByName _)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/events.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val llmOnly = args.lift(1).contains("llm")
    val cdcOnly = args.lift(1).contains("cdc")
    val streamOnly = args.lift(1).contains("stream")
    val graphOnly = args.lift(1).contains("graph")
    val sketchOnly = args.lift(1).contains("sketch")
    val layoutOnly = args.lift(1).contains("layout")
    val src = "/root/testdata/sf0.1"
    val out = if (llmOnly || sketchOnly) s"/tmp/graft-llm$k"
      else if (cdcOnly) s"/tmp/graft-cdc$k"
      else if (streamOnly) s"/tmp/graft-stream$k"
      else if (layoutOnly) s"/tmp/graft-layout$k" else "/tmp/graft-sf1"
    val spark = graft.GraftSession.local("scalebench")

    def time(name: String)(f: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale-bench] $name%-22s $dt%7.2fs rows=$n")
      (name, dt, n)
    }

    // k=100 rehearsal (VERDICT r8 task 4): only the four headline LLM ops,
    // on a documents+embeddings-only inflation (the fact tables would cost
    // tens of GB and are not read here). The naive 16-bucket emb-dedup is
    // deliberately absent — at 200k vectors its 12.5k-per-bucket candidate
    // join is the quadratic blowup the scaled variant exists to avoid; the
    // k=10 full mode still measures both for the advantage ratio.
    // sketch-vs-exact rehearsal alone (same documents inflation as llm
    // mode, none of the expensive dedup entries): the register pass must
    // stay near-flat in k while the exact distinct pays the growing
    // full-width shuffle
    if (sketchOnly) {
      inflateLlm(spark, src, out, k)
      // untimed scan so the first timed entry doesn't absorb file-listing
      // + codegen warmup for everyone
      spark.read.parquet(s"$out/documents.parquet").count()
      val results = Seq(
        time(s"sketch_hll_md5_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.hllEstimateOnly(spark, out).count()
        },
        time(s"sketch_hll_xx_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.hllEstimateFast(spark, out).count()
        },
        time(s"distinct_exact_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.exactDistinctOnly(spark, out).count()
        },
        time(s"sketch_cms_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.cmsHeavyHitters(spark, out).count()
        },
        // quantileSketch reads lineitem, which the documents-only llm
        // inflation does not scale — measured at the FIXED base sf0.1 and
        // labeled so (no _${k}x suffix: the k in this mode never applies)
        time("sketch_quantile_base") {
          spark.catalog.clearCache()
          graft.operators.Sketches.quantileSketch(spark, src).count()
        },
        // overlap matrix: ONE corpus pass builds the signatures (linear in
        // k); the 190-pair estimate works on 20×256 signature rows whatever
        // the corpus size. The exact comparison column's shingle self-join
        // is the part that grows — at a real 100 TB it would be dropped.
        time(s"sketch_overlap_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.sourceOverlap(spark, out).count()
        },
      )
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_sketch","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    if (llmOnly) {
      inflateLlm(spark, src, out, k)
      var prodIx: graft.operators.Similarity.ProdIndex = null
      val results = Seq(
        time(s"ngram_pairs_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.ngramJaccardPairs(spark, out).count()
        },
        time(s"span_dedup_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.spanDupCoverage(spark, out).count()
        },
        time(s"minhash_lsh_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.minhashLshPairs(spark, out).count()
        },
        // buckets sized to the corpus: 2^14 = 16384 buckets ≈ 12/bucket at
        // 200k vectors, same per-bucket occupancy target as the 10x run
        time(s"emb_dedup_${k}x_scaled") {
          spark.catalog.clearCache()
          graft.operators.Similarity.cosineDedupKeepScaled(spark, out,
            bits = 14, maxBucket = 256).count()
        },
        // SemDeDup's scale knob is the cluster count (k ∝ n keeps the
        // within-cluster quadratic term bounded — the paper's own
        // prescription); 64/256 clusters at 10×/100× hold per-cluster
        // population ≈ the base run's, so cost should track n, not n².
        time(s"semdedup_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Similarity.semDedupK(spark, out,
            kClusters = if (k >= 100) 256 else if (k >= 10) 64 else 8).count()
        },
        // perplexity's token-cost join is the zipfian skew case ('the'
        // carries a constant fraction of ALL rows, so its partition grows
        // linearly with k while others stay bounded) — the rehearsal must
        // show wall-cost tracking n, i.e. AQE's skew split absorbing the
        // hot key, not a straggler going superlinear
        time(s"perplexity_${k}x") {
          spark.catalog.clearCache()
          graft.operators.TextAnalysis.perplexity(spark, out).count()
        },
        // r9 additions must prove their own linearity: the gaussian fit is
        // one dim-keyed shuffle + zero-shuffle scoring; the bipartite
        // projection is the banded inverted-index self-join (per-copy
        // token universes are disjoint, so the band keeps fan-out flat)
        time(s"gaussian_${k}x") {
          spark.catalog.clearCache()
          graft.operators.MlPipeline.gaussian(spark, out).count()
        },
        time(s"bipartite_${k}x") {
          spark.catalog.clearCache()
          graft.operators.GraphGens.bipartiteTopSimple(spark, out).count()
        },
        // continuation-5 web family: c4_filter is expression-only (must
        // track the scan, i.e. ~linear wall-cost in k); line_dedup's
        // planted boilerplate line is shared by EVERY document, so its
        // line-hash group and join-back key grow linearly with k — the
        // partial-agg + AQE-skew case the operator's scale story claims
        time(s"c4_filter_${k}x") {
          spark.catalog.clearCache()
          graft.operators.WebPipeline.c4Filter(spark, out).count()
        },
        time(s"line_dedup_${k}x") {
          spark.catalog.clearCache()
          graft.operators.WebPipeline.lineDedup(spark, out).count()
        },
        // BPE training cost = one corpus-scale word collapse + 8 rounds of
        // VOCAB-scale pair counting; with a shared word distribution the
        // vocab barely grows with k, so wall-cost must track the collapse
        // (linear), not the corpus × rounds product
        time(s"bpe_train_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Bpe.mergeTable(spark, out).count()
        },
        // sketch-vs-exact headline: the HLL register pass ships ≤256 rows
        // per (lang, partition) whatever the corpus size, while the exact
        // countDistinct shuffles the full distinct-shingle universe — the
        // gap between these two lines IS the sketch's reason to exist,
        // and it must WIDEN with k
        time(s"sketch_hll_est_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.hllEstimateOnly(spark, out).count()
        },
        time(s"distinct_exact_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.exactDistinctOnly(spark, out).count()
        },
        // CMS: one vocab-scale collapse + a 256-row broadcast — linear
        time(s"sketch_cms_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Sketches.cmsHeavyHitters(spark, out).count()
        },
        // r10 additions: gopher is expression-only (must track the scan);
        // cluster-keep layers CC over the verified pair graph — per-copy
        // shingle universes are disjoint, so pairs stay within copies and
        // the iterative part is priced by the near-dup rate, not k²
        // NB: a bare count() would collapse this expression-only plan to
        // parquet row-count metadata (same trap as graph_degrees above) —
        // aggregate over computed columns to force the real pass
        time(s"gopher_${k}x") {
          spark.catalog.clearCache()
          val r = graft.operators.TextAnalysis.gopherQuality(spark, out)
            .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
              count(lit(1)).as("n")).head()
          r.getLong(1)
        },
        time(s"cluster_keep_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.minhashClusterKeep(spark, out).count()
        },
        time(s"datasheet_${k}x") {
          spark.catalog.clearCache()
          graft.operators.TextAnalysis.corpusDatasheet(spark, out).count()
        },
        // r11 additions: the bloom build is one REDUCING shuffle (≤4096
        // rows out whatever the lake size) + a map-side probe, so
        // wall-cost must track the scan; the bigram model's key space is
        // observed-bigram-bounded and near-saturates on a shared word
        // distribution, so cost must track the corpus-scale join, ~linear
        time(s"bloom_dedup_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.bloomDedup(spark, out).count()
        },
        time(s"bigram_lm_${k}x") {
          spark.catalog.clearCache()
          graft.operators.TextAnalysis.bigramPerplexity(spark, out).count()
        },
        // PQ: codebook fit is vocab-scale (8×4 codewords whatever the
        // corpus), encode + ADC are broadcast-joined linear passes — the
        // memory-compression path must track the scan, ~linear in k
        time(s"ann_pq_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Similarity.annPq(spark, out).count()
        },
        // span removal = span coverage's two linear shuffles + an
        // expression-only rewrite; must track span_dedup's own scaling.
        // NB: a bare count() ELIMINATES the 1:1 left join to the grouped
        // starts (unique-key outer-join elimination) and with it the whole
        // gram pipeline — aggregate the computed column to force the work
        time(s"span_strip_${k}x") {
          spark.catalog.clearCache()
          val r = graft.operators.Dedup.spanStrip(spark, out)
            .agg(sum(col("n_removed")).as("rm"), count(lit(1)).as("n")).head()
          r.getLong(1)
        },
        // r12: the production IVF-PQ at real parameters — fit = Lloyd
        // cells + two K=256 kernel encode passes + an n×64 mean agg (the
        // collected book is 16 KB whatever the corpus); search prices
        // nprobe/10 of the corpus at 8 integer lookups per candidate and
        // only the R=100 shortlist by exact distance. Both must stay
        // ~linear in k — the book/centroid pulls are fixed-size.
        time(s"ann_prod_fit_${k}x") {
          spark.catalog.clearCache()
          prodIx = graft.operators.Similarity.buildProdIndex(spark, out)
          prodIx.codes.count()
        },
        time(s"ann_prod_search_${k}x") {
          graft.operators.Similarity.prodSearch(prodIx, nprobe = 8).count()
        },
        // r13: hard-negative mining from the SAME fitted index (VERDICT
        // r12 task 4) — the shortlist pass at R=200 plus a label filter;
        // must track ann_prod_search's scaling (identical candidate walk,
        // 2x shortlist, one extra metadata join)
        time(s"ann_negatives_ix_${k}x") {
          graft.operators.Similarity.hardNegativesFromIndex(prodIx, out).count()
        },
        // r12: NFD packing is one hash shuffle + per-group sequential
        // folds (group size bounded by the shard modulus — must track n);
        // PSI's bucket aggregates are metadata-scale after the binning
        // scan (must track the scan); the leakage split prices one label
        // pass over the shared pair table
        time(s"pack_nfd_${k}x") {
          spark.catalog.clearCache()
          // count() cannot collapse a typed flatMapGroups — the fold runs
          graft.operators.Pipeline.packBinNfd(spark, out).count()
        },
        time(s"drift_psi_${k}x") {
          spark.catalog.clearCache()
          graft.operators.DataQuality.driftPsi(spark, out).count()
        },
        time(s"split_leakage_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.leakageSafeSplit(spark, out).count()
        },
        // r13: char entropy = two partial-agg-first shuffles bounded by
        // |alphabet| rows/doc; normalized dedup = the exact-dedup groupBy
        // with expression-only normalization; weighted sample = map-side
        // keys + TakeOrderedAndProject (k rows/partition); blocklist =
        // broadcast probe + one small agg. All must track the scan.
        time(s"text_entropy_${k}x") {
          spark.catalog.clearCache()
          graft.operators.TextAnalysis.charEntropy(spark, out).count()
        },
        time(s"dedup_norm_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.normalizedDedup(spark, out).count()
        },
        time(s"sample_weighted_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Pipeline.weightedSample(spark, out).count()
        },
        time(s"url_blocklist_${k}x") {
          spark.catalog.clearCache()
          graft.operators.WebPipeline.urlBlocklist(spark, out).count()
        },
        // r13: PPJoin must track ngram_pairs (same inverted-index shuffles
        // plus the df-rank window, minus the full self-join); phash is one
        // hashing pass + the simhash-shaped band join
        time(s"ppjoin_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Dedup.ppjoinPairs(spark, out).count()
        },
        time(s"mm_phash_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Multimodal.phashPairs(spark, out).count()
        },
        // r14: the keep-set spelling must stay bounded exactly where the
        // pair list blows up (the token-soup corpus's giant aHash ties) —
        // output is |universe| keeps however large the clusters get
        time(s"mm_phash_keep_${k}x") {
          spark.catalog.clearCache()
          graft.operators.Multimodal.phashKeep(spark, out).count()
        },
        // r14: the live exact-recall join — state is the prefix postings
        // of everything seen, so the rehearsal prices keyed-state growth
        // (~n/2 postings per doc through the 4-segment replay).
        // r16: at k >= 100 the NoTimeout spelling OOMs an 8 GB driver
        // (500k docs of unbounded postings — NOTES r16 table; 721.7 s /
        // 18 GiB at 24 GB heap, isolated) — the rehearsal runs the
        // TTL-bounded spelling there (486.4 s / 2.4 GiB, same cpus), the
        // only one that fits the default budget; k <= 10 keeps pricing
        // the unbounded twin.
        time(if (k >= 100) s"stream_ppjoin_ttl_${k}x"
             else s"stream_ppjoin_${k}x") {
          spark.catalog.clearCache()
          if (k >= 100)
            graft.streaming.StreamDedup.ppjoinStreamTtl(spark, out,
              graft.streaming.StreamDedup.HorizonDocs, 1).count()
          else graft.streaming.StreamDedup.ppjoinStream(spark, out).count()
        },
      )
      if (prodIx != null) graft.operators.Similarity.releaseProdIndex(prodIx)
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_llm","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    // Layout rehearsal (VERDICT r9 task 7): the write-once layouts at k×
    // the data and ~k× the FILE count — the two claims that must hold as
    // scale grows are (a) the z-order's row-group pruning RATIO on the
    // non-sort dimension, and (b) the bucketed join staying zero-exchange
    // while per-bucket volume grows k×. Orders is the inflated fact (the
    // bucket-join fact side and the 2-dim z-order subject); customer stays
    // dimension-sized, exactly like a real scale-up.
    if (layoutOnly) {
      inflateOrders(spark, src, out, k)
      if (!new java.io.File(s"$out/customer.parquet/_SUCCESS").exists())
        graft.Tables(spark, src, "customer")
          .write.mode("overwrite").parquet(s"$out/customer.parquet")
      val ord = spark.read.parquet(s"$out/orders.parquet")
      val st = ord.agg(
        min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"),
        min(col("o_totalprice")), max(col("o_totalprice"))).head()
      val (c0, c1, p0, p1) =
        (st.getDouble(0), st.getDouble(1), st.getDouble(2), st.getDouble(3))
      val base = ord.select(
        expr(s"cast(round((cast(o_custkey as double) - $c0) / (${c1 - c0}) * 1023) as int)").as("x"),
        expr(s"cast(round((o_totalprice - $p0) / (${p1 - p0}) * 1023) as int)").as("y"))
      // file count grows with k (4 files per inflation copy, capped): the
      // pruning claim is about footer min/max over MANY files, not 16
      val files = math.max(16, math.min(512, 4 * k))
      val zdir = s"$out/zorder"; val xdir = s"$out/xsort"
      def rowsRead(dir: String): Long = {
        val df = spark.read.parquet(dir).filter(col("y").between(100, 160))
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().head
          .metrics("numOutputRows").value
      }
      var exchanges = -1
      val results = Seq(
        time(s"zorder_write_${k}x") {
          base.withColumn("z", graft.functions.ZValue.zValue(col("x"), col("y")))
            .repartitionByRange(files, col("z")).sortWithinPartitions("z")
            .drop("z").write.mode("overwrite").parquet(zdir)
          files.toLong
        },
        time(s"xsort_write_${k}x") {
          base.repartitionByRange(files, col("x")).sortWithinPartitions("x")
            .write.mode("overwrite").parquet(xdir)
          files.toLong
        },
        // rows surfaced AFTER row-group pruning for a selective filter on
        // the non-sort dim — the z/x ratio is the measured pruning gain
        time(s"zorder_pruned_read_${k}x") { rowsRead(zdir) },
        time(s"xsort_read_${k}x") { rowsRead(xdir) },
        // one-time bucketed write (the write-once contract), then the
        // steady-state co-located join
        time(s"bucket_write_${k}x") {
          graft.operators.Layout.bucketJoin(spark, out).count()
        },
        time(s"bucket_join_${k}x") {
          val df = graft.operators.Layout.bucketJoin(spark, out)
          val n = df.count()
          exchanges = "Exchange".r
            .findAllIn(df.queryExecution.executedPlan.toString).length
          n
        },
      )
      val zRows = results.find(_._1.startsWith("zorder_pruned")).map(_._3).getOrElse(-1L)
      val xRows = results.find(_._1.startsWith("xsort_read")).map(_._3).getOrElse(-1L)
      val ratio = if (zRows > 0) xRows.toDouble / zRows else -1.0
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_layout","value":$total%.2f,"unit":"sec","k":$k,"files":$files,"z_rows":$zRows,"x_rows":$xRows,"prune_ratio":$ratio%.2f,"join_exchanges":$exchanges,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    // Streaming stateful-operator rehearsal (r9): the session's new keyed
    // ops over k× more users. Per-key density is held constant, so state
    // size per key, match counts per key, and per-event work are invariant;
    // wall cost must track the key count (one state-store shuffle each).
    if (streamOnly) {
      inflateEvents(spark, src, out, k)
      val results = Seq(
        time(s"connect_${k}x") {
          spark.catalog.clearCache()
          graft.streaming.StreamQueries.connect(spark, out).count()
        },
        time(s"cep_not_${k}x") {
          spark.catalog.clearCache()
          graft.streaming.StreamQueries.cepNot(spark, out).count()
        },
        time(s"cep_any_${k}x") {
          spark.catalog.clearCache()
          graft.streaming.StreamQueries.cepAny(spark, out).count()
        },
        time(s"topn_range_${k}x") {
          spark.catalog.clearCache()
          graft.streaming.StreamQueries.topNRange(spark, out).count()
        },
      )
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_stream","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    // Graph rehearsal (r9): algorithms over in-engine RMat graphs — the
    // generator is shuffle-free codegen over range(m), so the measured cost
    // is pure algorithm. k scales the EDGE count (vertex space scales with
    // it, Graph500-style: m = 4·n keeps average degree constant while the
    // power-law hubs grow), exercising exactly the skew the doc-pair graphs
    // are too small to show: degrees is two linear shuffles; CC's min-label
    // rounds must stay bounded by the (shrinking) diameter; PageRank is a
    // fixed 3 rounds of join+agg.
    if (graphOnly) {
      // edges scale exactly with k (2^20·k); the vertex-id space grows with
      // it so the average degree stays ~constant while hub mass grows
      val scale = if (k >= 100) 24 else if (k >= 10) 20 else 17
      val m = k.toLong << 20
      val edges = graft.operators.GraphGens.rmat(spark, scale, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      System.err.println(s"[scale-bench] rmat scale=$scale m=$m verts=${verts.count()} (gen warmed)")
      edges.count()
      val results = Seq(
        // NB: a bare count() here measures nothing — the left join's right
        // side is an aggregate with distinct keys, so Catalyst's distinct-
        // key propagation ELIMINATES the join (and with it both degree
        // shuffles) when no degree column is consumed. Summing the degree
        // columns forces the real plan.
        time(s"graph_degrees_${k}x") {
          val d = graft.operators.GraphGens.vertexDegreesDirected(verts, edges)
            .agg(sum(col("degree")), sum(col("out_degree")), count(lit(1)))
            .head()
          d.getLong(2)
        },
        time(s"graph_cc_${k}x") {
          graft.operators.Graph.connectedComponents(verts, edges, maxIter = 30)
            .select(max(col("label"))).count()
        },
        time(s"graph_pagerank_${k}x") {
          graft.operators.Graph.pageRank(verts, edges.distinct(), iters = 3).count()
        },
      )
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_graph","value":$total%.2f,"unit":"sec","k":$k,"scale":$scale,"m":$m,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    // CDC rehearsal: the full pipeline per entry — fixture serialization
    // (to_json + text write), expression-only parse, and the keyed
    // materialization — all three stages are linear shapes (no join wider
    // than the key shuffle), so wall cost must track k
    if (cdcOnly) {
      inflateOrders(spark, src, out, k)
      val results = Seq(
        time(s"cdc_parse_kinds_${k}x") {
          spark.catalog.clearCache()
          graft.sources.CdcFormats.debeziumKinds(spark, out).count()
        },
        time(s"cdc_materialize_${k}x") {
          spark.catalog.clearCache()
          graft.sources.CdcFormats.debeziumMaterialize(spark, out).count()
        },
        time(s"cdc_canal_${k}x") {
          spark.catalog.clearCache()
          graft.sources.CdcFormats.canalKinds(spark, out).count()
        },
      )
      val total = results.map(_._2).sum
      println(f"""{"metric":"scale_bench_cdc","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
        results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    inflate(spark, src, out, k)

    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    val cust = spark.read.parquet(s"$out/customer.parquet")

    val results = Seq(
      // flagship aggregation: 2-phase hash agg, 6-group output
      time("agg_pricing") {
        li.where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
          .count()
      },
      // big-big shuffle join + agg (orders × lineitem at 10×)
      time("join_fact_fact") {
        ord.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("l_quantity").as("q")).count()
      },
      // fact × dimension with broadcast
      time("join_broadcast_dim") {
        ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(sum("o_totalprice")).count()
      },
      // window over the inflated fact (partitioned by order)
      time("window_rank") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_orderkey").orderBy(col("l_extendedprice").desc)
        li.withColumn("rn", row_number().over(w)).where(col("rn") === 1).count()
      },
      // LLM-pipeline flagships at 10×: inverted-index near-dup join,
      // minhash LSH banding, sign-LSH embedding dedup — the operators the
      // 100 TB story leans on hardest
      time("ngram_pairs_10x") {
        spark.catalog.clearCache()
        graft.operators.Dedup.ngramJaccardPairs(spark, out).count()
      },
      time("minhash_lsh_10x") {
        spark.catalog.clearCache()
        graft.operators.Dedup.minhashLshPairs(spark, out).count()
      },
      // 4-bit default: 16 buckets per table regardless of corpus size →
      // candidate join goes quadratic at scale (kept as the what-not-to-do
      // measurement)
      time("emb_dedup_10x") {
        spark.catalog.clearCache()
        graft.operators.Similarity.cosineDedupKeep(spark, out).count()
      },
      // scale configuration: bucket count sized to the corpus
      // (2^9 = 512 buckets ≈ 40 vectors per bucket at 20k) + hot cap
      time("emb_dedup_10x_scaled") {
        spark.catalog.clearCache()
        graft.operators.Similarity.cosineDedupKeepScaled(spark, out,
          bits = 9, maxBucket = 256).count()
      },
    )

    // Skew strategies on a synthetic viral key: 50% of the inflated fact
    // collapses onto one key. (a) AQE skew-join split; (b) manual salting.
    val skewed = li.select(
      when(rand(7) < 0.5, lit(0L)).otherwise(col("l_orderkey")).as("k"),
      col("l_quantity"))
    val dim = ord.select(col("o_orderkey").as("k"), col("o_orderpriority")).limit(200000)
    val skewResults = graft.GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true") {
      val aqe = time("skew_join_aqe") {
        skewed.join(dim, "k").groupBy("o_orderpriority").count().count()
      }
      val salted = time("skew_join_salted") {
        val salt = 16
        val saltedFact = skewed.withColumn("salt", (rand(11) * salt).cast("int"))
        val saltedDim = dim.withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
        saltedFact.join(saltedDim, Seq("k", "salt"))
          .groupBy("o_orderpriority").count().count()
      }
      Seq(aqe, salted)
    }

    val all = results ++ skewResults
    val total = all.map(_._2).sum
    println(f"""{"metric":"scale_bench_total","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
      all.map { case (n, t, _) => f""""$n":$t%.2f""" }.mkString(",")}}}""")
    spark.stop()
  }
}
