package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Zipf-vocabulary sparse corpus (r16 — VERDICT r15 #1:
  * the committed routed-sparse serving evidence needs a fixture whose
  * vocabulary GROWS with the corpus; the documents fixture's ~40-word
  * vocabulary saturates every term cell, so the routed layout benches
  * its worst case there).
  *
  * Shape, all public corpus-statistics laws:
  *  - vocabulary size follows Heaps' law: V = 50·√n (β = 0.5 — the
  *    English-text range);
  *  - term frequency follows Zipf: p(rank r) ∝ 1/r^1.05, sampled by
  *    inverse CDF;
  *  - TOPICAL structure (the LDA-ish generative shape): nDocs/100
  *    topics, each owning 20 mid-rank terms; a document draws 35% of
  *    its tokens from its topic's terms and the rest from the global
  *    Zipf background. Without topics every document is near-
  *    orthogonal noise and "nearest neighbors" are rank noise — no
  *    layout can have stable recall on that; with them, neighbors
  *    share high-impact topical terms, which is both what real
  *    corpora look like and what makes term-mass routing route;
  *  - document length 40..199 token draws;
  *  - values are IMPACT weights, (1 + ln tf)·ln(1 + rank) — the
  *    BM25/SPLADE-shaped vectors sparse ANN actually serves (rare
  *    terms upweighted). This matters structurally: with RAW tf
  *    weights a Zipf corpus routes almost every document to the
  *    rank-1 stopword's cell (measured at 5k docs: 2-3 giant cells,
  *    routed build 20× the flat build, probes no better than flat) —
  *    raw-tf Zipf text is an inverted-index workload, not a sparse-ANN
  *    one, and the degeneracy is documented as the layout's caveat in
  *    BENCH_NOTES r16;
  *  - dimension ids = hash64 of the term rank (terms are hashed in
  *    real sparse-retrieval systems; also decorrelates Zipf rank from
  *    the pmod term cell).
  * Everything is a pure function of (doc id, nDocs) — no wall clock,
  * no global RNG — so two runs (or the spec and the bench) generate
  * bit-identical corpora. */
object ZipfSparse {

  def vocabSize(nDocs: Long): Int =
    math.max(1000, (50.0 * math.sqrt(nDocs.toDouble)).toInt)

  /** Cumulative Zipf(s=1.05) mass over ranks 1..V (driver-side once,
    * task-serialized: V ≤ ~64k doubles even at 500k docs). */
  private def zipfCdf(v: Int): Array[Double] = {
    val cdf = new Array[Double](v)
    var acc = 0.0
    var r = 1
    while (r <= v) {
      acc += 1.0 / math.pow(r.toDouble, 1.05)
      cdf(r - 1) = acc
      r += 1
    }
    cdf
  }

  /** The corpus: (doc_id, sidx sorted unique int64 dims, sval integer
    * tf counts as double). */
  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    val v = vocabSize(nDocs)
    val cdf = zipfCdf(v)
    val total = cdf(v - 1)
    val nTopics = math.max(4, (nDocs / 100).toInt)
    spark.range(nDocs).as[Long].map { id =>
      val rnd = new java.util.Random(0x5eedL ^ (id * 0x9E3779B97F4A7C15L))
      val len = 40 + rnd.nextInt(160)
      // the doc's topic and its 20 owned mid-rank terms (ranks 64..V —
      // past the stopword head), deterministic per topic
      val topic = (id % nTopics).toInt
      val trnd = new java.util.Random(0x70b1cL ^ (topic.toLong * 0x2545F4914F6CDD1DL))
      val lo0 = math.min(64, v - 1)
      val topicTerms = Array.fill(20)(lo0 + trnd.nextInt(math.max(1, v - lo0)))
      val counts = scala.collection.mutable.Map.empty[Int, Double]
      var t = 0
      while (t < len) {
        val rank =
          if (rnd.nextDouble() < 0.35) topicTerms(rnd.nextInt(topicTerms.length))
          else {
            val u = rnd.nextDouble() * total
            var lo = 0
            var hi = v - 1
            while (lo < hi) { // first rank with cdf ≥ u
              val mid = (lo + hi) >>> 1
              if (cdf(mid) < u) lo = mid + 1 else hi = mid
            }
            lo + 1
          }
        counts(rank) = counts.getOrElse(rank, 0.0) + 1.0
        t += 1
      }
      // impact weight per term: sublinear tf × rank-idf (rank is the
      // exact document-frequency order under Zipf sampling, so ln(1+r)
      // IS the idf shape); hash collisions keep the max impact
      val byDim = scala.collection.mutable.Map.empty[Long, Double]
      counts.foreach { case (rank, tf) =>
        val dim = graft.functions.TextFunctions.hash64Scala(s"t$rank")
        val w = (1.0 + math.log(tf)) * math.log1p(rank.toDouble)
        if (w > byDim.getOrElse(dim, 0.0)) byDim(dim) = w
      }
      val sorted = byDim.toSeq.sortBy(_._1)
      (id, sorted.map(_._1), sorted.map(_._2))
    }.toDF("doc_id", "sidx", "sval")
  }
}

/** Scale A/B on the Zipf fixture: FLAT sparse layout (all P graphs
  * walked per query) vs cell-ROUTED (nprobe top-mass term cells) at
  * the production cell sizing nlist = docs/500 — the committed
  * demonstration VERDICT r15 #1 asked for (the in-repo documents
  * fixture can only show the saturated worst case). Also times both
  * BUILDS (VERDICT r15 #2's flatten target measures here without the
  * 40-word-vocab confound).
  *
  * Usage: runMain graft.tools.ZipfSparseBench <nDocs> [outJson]
  * Prints one [zipf-sproute] JSON line; appends it to outJson when
  * given. */
object ZipfSparseBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ZipfSparseBench <nDocs> [outJson] [nlist] [spill] [maxCell] " +
        "[reuse(1)] [nprobe (0 = auto ⌈√nlist⌉)]")
    val nDocs = args(0).toLong
    val outJson = args.lift(1).filter(_ != "-")
    val nlistOverride = args.lift(2).map(_.toInt)
    val spill = args.lift(3).map(_.toInt).getOrElse(2)
    // cap ≈ 2× the mean cell row count at the production sizing
    // (nlist = docs/500 × spill 2): skew tail split, mean untouched
    val maxCell = args.lift(4).map(_.toInt).getOrElse(2048)
    // reuse=1 skips the build phase when the stores exist (probe/recall
    // sweeps — e.g. the nprobe operating-point scan — without re-paying
    // 20-minute builds); build fields then stamp -1
    val reuse = args.lift(5).contains("1")
    // 0 = auto: resolve via Hnsw.resolveNprobe (⌈√nlist⌉, the r17
    // scaled default) once nlist is known below; the artifact stamps
    // the RESOLVED value
    val nprobeArg = args.lift(6).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "48g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id) s").collect()
    import spark.implicits._

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tf = ZipfSparse.corpus(spark, nDocs).localCheckpoint()
    tf.count()
    val nlist = nlistOverride.getOrElse(math.max(16, (nDocs / 500).toInt))
    val nprobe = graft.operators.Hnsw.resolveNprobe(nprobeArg, nlist)
    val v = ZipfSparse.vocabSize(nDocs)
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_zipfsp_${nDocs}_${nlist}_$spill")
    val flatP = new java.io.File(base, "flat").toString
    val routedP = new java.io.File(base, "routed").toString

    // builds timed fresh every run (the A/B target): same corpus, same
    // metric, flat parts=8 vs routed nlist cells spill=2 clustered
    val skipBuild = reuse && new java.io.File(routedP).exists() &&
      new java.io.File(flatP).exists()
    val tFlatBuild = if (skipBuild) -1.0 else timed {
      graft.operators.Hnsw.writeGraphs(
        graft.operators.Hnsw.buildPartitioned(
          tf.withColumn("sv", graft.operators.Hnsw.sparseColumn("sidx", "sval")),
          "doc_id", "sv", parts = 8, metric = "cosine"), flatP)
    }
    val tRoutedBuild = if (skipBuild) -1.0 else timed {
      graft.operators.Hnsw.writeGraphsClustered(
        graft.operators.Hnsw.buildCellRoutedSparse(
          tf, "doc_id", "sidx", "sval",
          nlist = nlist, spill = spill, metric = "cosine",
          maxCell = maxCell), routedP)
    }

    // single-query probes: one corpus doc (the serving shape)
    val q1 = tf.filter(col("doc_id") === 1L)
      .select(col("sidx"), col("sval")).head
    val (qi, qv) = (q1.getSeq[Long](0).toArray, q1.getSeq[Double](1).toArray)
    def flatProbe(): Unit =
      graft.operators.Hnsw.search(graft.operators.Hnsw.readGraphs(spark, flatP),
        graft.operators.Hnsw.Sparse(qi, qv), 10, ef = 96)
        .collect()
    val routedDeser = spark.sparkContext.longAccumulator("zipf-routed-deser")
    def routedProbe(): Unit =
      graft.operators.Hnsw.searchRoutedSparse(
        graft.operators.Hnsw.readGraphs(spark, routedP), nlist,
        qi, qv, 10, nprobe = nprobe, ef = 96,
        deserCounter = Some(routedDeser)).collect()

    // 64-query serving batch
    val batch = tf.filter(col("doc_id") < 64L)
      .select(col("doc_id"), col("sidx"), col("sval")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray))
      .toSeq
    val batchDeser = spark.sparkContext.longAccumulator("zipf-batch-deser")
    def routedBatch(): Unit =
      graft.operators.Hnsw.searchBatchRoutedSparse(
        graft.operators.Hnsw.readGraphs(spark, routedP), nlist,
        batch, 5, nprobe = nprobe, ef = 64,
        deserCounter = Some(batchDeser)).collect()

    val fc = timed(flatProbe()); val fw = timed(flatProbe())
    routedDeser.reset()
    val rc = timed(routedProbe())
    val deserSingle = routedDeser.value
    val rw = timed(routedProbe())
    batchDeser.reset()
    val bc = timed(routedBatch())
    val deserBatch = batchDeser.value
    val bw = timed(routedBatch())

    // recall@10 of the routed operating point vs the exact answer,
    // averaged over 16 corpus-doc queries
    val recalls = batch.take(16).map { case (_, bqi, bqv) =>
      val exact = tf.select(col("doc_id"),
          (lit(1.0) - graft.functions.SparseVec.cosineSimilarity(
            col("sidx"), col("sval"), bqi, bqv)).as("dist"))
        .orderBy(col("dist"), col("doc_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val routed = graft.operators.Hnsw.searchRoutedSparse(
        graft.operators.Hnsw.readGraphs(spark, routedP), nlist,
        bqi, bqv, 10, nprobe = nprobe, ef = 96)
        .collect().map(_.getLong(0)).toSet
      routed.intersect(exact).size.toDouble / exact.size
    }
    val recall = recalls.sum / recalls.length

    val nonEmpty = spark.read.parquet(routedP).count()
    // cell-occupancy skew: mass routing must not degenerate into a few
    // giant cells (the raw-tf Zipf failure mode this fixture's impact
    // weights exist to avoid) — stamp the evidence into the artifact
    val cellSizes = tf.as[(Long, Seq[Long], Seq[Double])]
      .flatMap { case (_, ci, cv) =>
        graft.operators.Hnsw.rankCellsSparse(ci.toArray, cv.toArray, nlist, 2) }
      .groupBy(col("value")).count()
      .select(col("count")).as[Long].collect().sorted
    val cellMax = if (cellSizes.isEmpty) 0L else cellSizes.last
    val cellP50 = if (cellSizes.isEmpty) 0L else cellSizes(cellSizes.length / 2)
    def f3(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    val line = s"""{"fixture":"zipf-sparse","docs":$nDocs,"vocab":$v,""" +
      s""""nlist":$nlist,"nonempty_cells":$nonEmpty,"nprobe":$nprobe,""" +
      s""""flat_build":${f3(tFlatBuild)},"routed_build":${f3(tRoutedBuild)},""" +
      s""""flat_probe_cold":${f3(fc)},"flat_probe_warm":${f3(fw)},""" +
      s""""routed_probe_cold":${f3(rc)},"routed_probe_warm":${f3(rw)},""" +
      s""""routed_batch64_cold":${f3(bc)},"routed_batch64_warm":${f3(bw)},""" +
      s""""deser_single":$deserSingle,"deser_batch64":$deserBatch,""" +
      s""""cell_max":$cellMax,"cell_p50":$cellP50,""" +
      s""""cell_max_frac":${f3(cellMax.toDouble / math.max(1L, 2L * nDocs))},""" +
      s""""recall_at_10":${f3(recall)}}"""
    println(s"[zipf-sproute] $line")
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
