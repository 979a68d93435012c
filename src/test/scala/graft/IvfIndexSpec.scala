package graft

import graft.functions.VectorFunctions._
import graft.operators.{IvfIndex, Knn}
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, Sf)
  private lazy val corpus = emb.filter(col("vec_id") =!= 0)
  private lazy val query = emb.filter(col("vec_id") === 0)
    .select(col("embedding").as("qvec"))

  test("nprobe = nlist degenerates to exact search") {
    val (indexed, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 8)
    val exact = Knn.topK(corpus, "vec_id", "embedding", query, "qvec", l2Distance, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val ivf = IvfIndex.search(indexed.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      centroids, query, "qvec", l2Distance, k = 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ivf == exact)
  }

  test("partial probe keeps useful recall") {
    val (indexed, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 16)
    val exact = Knn.topK(corpus, "vec_id", "embedding", query, "qvec", l2Distance, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = IvfIndex.search(indexed.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      centroids, query, "qvec", l2Distance, k = 10, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low")
    assert(ivf.size == 10)
  }

  test("streaming assignment appends new vectors into existing cells") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val (_, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 4)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = IvfIndex.streamAssign(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, s"$dir/store", s"$dir/ckpt")
    try {
      val fresh = emb.limit(20)
        .collect().map(r => (r.getLong(0) + 100000L, r.getSeq[Float](1)))
      input.addData(fresh.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(s"$dir/store")
    assert(stored.count() == 20)
    assert(stored.select("centroid_id").distinct().count() >= 1)
    assert(stored.columns.contains("centroid_id"))
  }

  test("streamAssign invalidates the store's IvfCatalog registration (stale radii)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfinval").toString
    val (indexed, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 4)
    IvfIndex.writePartitioned(indexed, s"$dir/store")
    val withRadii = centroids
      .join(IvfIndex.cellRadii(indexed, "embedding", centroids), Seq("centroid_id"), "left")
      .na.fill(0.0, Seq("radius"))
    graft.plans.IvfCatalog.register(s"$dir/store", withRadii, nprobe = 2)
    val hp = new org.apache.hadoop.fs.Path(s"$dir/store")
    assert(graft.plans.IvfCatalog.lookup(Seq(hp)).exists(_.radii.length == 4))
    // append one vector through the maintenance stream: the recorded
    // radii can no longer bound the cell contents → entry must drop
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = IvfIndex.streamAssign(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, s"$dir/store", s"$dir/ckpt")
    try {
      input.addData(emb.limit(1).collect().map(r => (r.getLong(0) + 500000L, r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.plans.IvfCatalog.lookup(Seq(hp)).isEmpty,
      "appends left a stale radii registration — range pruning would be unsound")
  }

  test("every vector lands in exactly one cell") {
    val (indexed, _) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 8)
    assert(indexed.count() == emb.count())
    assert(indexed.select("vec_id").distinct().count() == emb.count())
  }

  test("spill=2 stores each vector in 2 distinct cells with ranked cells + cell_rank") {
    val (indexed, centroids) = IvfIndex.buildIndex(
      emb, "vec_id", "embedding", nlist = 8, spill = 2)
    assert(indexed.count() == 2 * emb.count())
    // per vector: exactly 2 rows, 2 distinct cells, ranks {1,2}, the
    // row's cell at its rank's slot of the shared ranked list
    val per = indexed.groupBy(col("vec_id")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("centroid_id")).as("nc"),
      countDistinct(col("cells")).as("ncl"),
      sum(col("cell_rank")).as("rksum"),
      sum(when(element_at(col("cells"), col("cell_rank")) === col("centroid_id"), 1)
        .otherwise(0)).as("slotok"))
    assert(per.filter(col("n") =!= 2 || col("nc") =!= 2 || col("ncl") =!= 1 ||
      col("rksum") =!= 3 || col("slotok") =!= 2).count() == 0)
    // rank-1 cell matches the single-assignment choice
    val single = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
    val joined = indexed.filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("centroid_id").as("primary"))
      .join(single.withColumnRenamed("centroid_id", "single_cell"), "vec_id")
    assert(joined.filter(col("primary") =!= col("single_cell")).count() == 0)
  }

  test("assignment is shuffle-free: no exchange, no window in the plan (VERDICT r5 #1)") {
    val (_, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 8)
    val assigned = IvfIndex.assignCells(emb, "embedding", centroids, spill = 2)
    assigned.collect() // finalize any adaptive plan before inspecting
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"assignment uses a per-id window:\n$plan")
  }

  test("a Lloyd round ranks each row's cell once, below the element explode") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
    // record the optimized plan of the one round trainCentroids runs
    val rounds = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val inner = graft.operators.Materializer.local()
    val recording = new graft.operators.Materializer {
      def mat(df: org.apache.spark.sql.DataFrame, tag: String): org.apache.spark.sql.DataFrame = {
        if (tag == "lloyd-0") rounds += df.queryExecution.optimizedPlan
        inner.mat(df, tag)
      }
      def release(df: org.apache.spark.sql.DataFrame): Unit = inner.release(df)
      def releaseAll(): Unit = inner.releaseAll()
    }
    IvfIndex.trainCentroids(emb.limit(200), "vec_id", "embedding",
      nlist = 4, iters = 1, mat = recording)
    inner.releaseAll()
    assert(rounds.size == 1)
    def ranks(e: Expression): Boolean =
      e.find(_.isInstanceOf[graft.functions.NearestCellsExpr]).isDefined
    val ranking = rounds.head.collect {
      case p: Project if p.projectList.exists(ranks) => p
    }
    assert(ranking.nonEmpty, s"no cell ranking in the round:\n${rounds.head}")
    // a Project above the Generate evaluates once per vector ELEMENT
    val perElement = ranking.filter(_.find(_.isInstanceOf[Generate]).isDefined)
    assert(perElement.isEmpty,
      s"cell ranking sits above the posexplode (d× redundant):\n${rounds.head}")
  }

  test("iters=10 training stays lineage-bounded (materialized Lloyd rounds)") {
    val small = emb.limit(400)
    val t0 = System.nanoTime()
    val centroids = IvfIndex.trainCentroids(small, "vec_id", "embedding",
      nlist = 4, iters = 10)
    assert(centroids.count() == 4)
    // each round is checkpointed, so the returned frame's plan is a
    // materialized scan — not 10 rounds of nested k-means lineage
    val depth = centroids.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(depth <= 5, s"centroids plan not lineage-cut ($depth nodes)")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120.0, f"deep training took $secs%.1f s — lineage blowup?")
  }

  test("readStore exposes a duplicate-free view of a spilled store") {
    val dir = java.nio.file.Files.createTempDirectory("ivfreadstore").toString
    val (indexed, _) = IvfIndex.buildIndex(
      emb, "vec_id", "embedding", nlist = 8, spill = 3)
    IvfIndex.writePartitioned(indexed, s"$dir/store")
    assert(spark.read.parquet(s"$dir/store").count() == 3 * emb.count())
    val view = IvfIndex.readStore(spark, s"$dir/store")
    assert(view.count() == emb.count())
    assert(view.select("vec_id").distinct().count() == emb.count())
  }

  test("streamAssign spill=2 appends match the spilled store layout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfspillstream").toString
    val (indexed, centroids) = IvfIndex.buildIndex(
      emb, "vec_id", "embedding", nlist = 4, spill = 2)
    IvfIndex.writePartitioned(indexed, s"$dir/store")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = IvfIndex.streamAssign(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, s"$dir/store", s"$dir/ckpt", spill = 2)
    try {
      input.addData(emb.limit(5).collect()
        .map(r => (r.getLong(0) + 900000L, r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(s"$dir/store")
    // appended vectors follow the same 2-copies-with-primary contract,
    // so a probe over the mixed store dedups them identically
    val appended = stored.filter(col("vec_id") >= 900000L)
    assert(appended.count() == 10)
    assert(appended.filter(col("cell_rank").isNull || col("cells").isNull).count() == 0)
    val searched = IvfIndex.search(stored, "vec_id", "embedding", centroids,
      emb.limit(1).select(col("embedding").as("qvec")),
      "qvec", graft.functions.VectorFunctions.l2Distance, k = 20, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(searched.distinct == searched)
  }

  test("spill=1 appends into a spilled store conform to the ranked layout (schema-inference safe)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfmixstream").toString
    val (indexed, centroids) = IvfIndex.buildIndex(
      emb, "vec_id", "embedding", nlist = 4, spill = 2)
    IvfIndex.writePartitioned(indexed, s"$dir/store")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = IvfIndex.streamAssign(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, s"$dir/store", s"$dir/ckpt", spill = 1)
    try {
      input.addData(emb.limit(5).collect()
        .map(r => (r.getLong(0) + 800000L, r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // every file now shares the ranked schema: whichever footer Spark
    // infers from, cell_rank survives and the dedup predicate holds
    val stored = spark.read.parquet(s"$dir/store")
    assert(stored.columns.contains("cell_rank"))
    val appended = stored.filter(col("vec_id") >= 800000L)
    assert(appended.count() == 5)
    assert(appended.filter(col("cell_rank").isNull || col("cells").isNull).count() == 0,
      "spill-1 appends must carry explicit rank-1 cells, not nulls")
    val view = IvfIndex.readStore(spark, s"$dir/store")
    assert(view.count() == emb.count() + 5)
    assert(view.select("vec_id").distinct().count() == emb.count() + 5)
  }

  test("spilled appends into a rank-less store are rejected (readers could not dedup them)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfrejstream").toString
    val (indexed, centroids) = IvfIndex.buildIndex(
      emb, "vec_id", "embedding", nlist = 4, spill = 1)
    IvfIndex.writePartitioned(indexed, s"$dir/store")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = IvfIndex.streamAssign(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, s"$dir/store", s"$dir/ckpt", spill = 2)
    try {
      input.addData(emb.limit(2).collect()
        .map(r => (r.getLong(0) + 700000L, r.getSeq[Float](1))).toSeq)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("single-copy store") ||
        Option(ex.getCause).exists(_.getMessage.contains("single-copy store")))
    } finally q.stop()
  }

  test("spill above MaxSpill is rejected (dedup conjunction is statically bounded)") {
    val (_, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 4)
    intercept[IllegalArgumentException] {
      IvfIndex.assignCells(emb, "embedding", centroids, spill = IvfIndex.MaxSpill + 1)
    }
  }

  test("iterative filtered scan adapts probe width to the predicate") {
    val (indexed, centroids) = IvfIndex.buildIndex(emb, "vec_id", "embedding", nlist = 16)
    val live = indexed.filter(col("vec_id") =!= 0)
    // permissive predicate: every cell has plenty of rows → width stays
    // at nprobe0
    val (easy, wEasy) = IvfIndex.searchFilteredIterative(
      live, "vec_id", "embedding", centroids, query, "qvec",
      l2Distance, k = 5, pred = lit(true), nprobe0 = 2, maxProbe = 16)
    assert(wEasy == 2, s"permissive filter must not widen (got $wEasy)")
    assert(easy.count() == 5)
    // selective predicate: ask for EVERY matching row (k = match
    // count), so the scan must widen until the probed cells hold all
    // of them — guaranteed growth unless the whole match set lives in
    // the query's single nearest cell
    val sel = col("label") === 3
    val matches = live.filter(sel).count().toInt
    assert(matches >= 8, s"fixture: need ≥8 label-3 rows, got $matches")
    val cellOf = if (live.columns.contains("cells"))
      col("cells").getItem(0) else col("centroid_id")
    val perCell = live.filter(sel)
      .groupBy(cellOf).count()
      .agg(max("count")).head.getLong(0)
    assert(perCell < matches, "fixture degenerate: all matches in one cell")
    val (hard, wHard) = IvfIndex.searchFilteredIterative(
      live, "vec_id", "embedding", centroids, query, "qvec",
      l2Distance, k = matches, pred = sel, nprobe0 = 1, maxProbe = 16)
    assert(wHard > 1, s"selective filter must widen past nprobe0 (got $wHard)")
    assert(hard.count() == matches, "iterative scan must not under-return")
    // the rows it returns satisfy the predicate
    val bad = hard.join(live.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") =!= 3).count()
    assert(bad == 0, "every returned row must satisfy the predicate")
  }

  test("iterative widening counts spilled stores exactly once (width matches full recount)") {
    // the incremental counter (scan only NEW cells per step) must land
    // on the same final width as a from-scratch recount at every
    // prefix — the double-count hazard is a vector first counted via a
    // low-ranked copy, then recounted when its better cell enters
    for (spill <- Seq(2, 3)) {
      val (indexed, centroids) = IvfIndex.buildIndex(
        emb, "vec_id", "embedding", nlist = 16, spill = spill)
      val live = indexed.filter(col("vec_id") =!= 0)
      val sel = col("label") === 3
      val k = 12
      val (res, w) = IvfIndex.searchFilteredIterative(
        live, "vec_id", "embedding", centroids, query, "qvec",
        l2Distance, k = k, pred = sel, nprobe0 = 1, maxProbe = 16)
      // reference: full recount per prefix via probeCandidates (the
      // pre-r8 semantics — counts DISTINCT surviving vectors)
      var p = 1
      while (p < 16 && IvfIndex.probeCandidates(
          live, centroids, query, "qvec", l2Distance, p)
          .filter(sel).count() < k) {
        p = math.min(p * 2, 16)
      }
      assert(w == p, s"spill $spill: incremental width $w != recount width $p")
      assert(res.count() == k)
      val got = res.collect().map(_.getLong(0)).toSeq
      assert(got.distinct == got, "duplicate ids from spilled iterative scan")
    }
  }

  test("spilled search returns distinct ids and full probe equals exact (spill 2 and 3)") {
    for (spill <- Seq(2, 3)) {
      val (indexed, centroids) = IvfIndex.buildIndex(
        emb, "vec_id", "embedding", nlist = 8, spill = spill)
      val partial = IvfIndex.search(indexed.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", centroids, query, "qvec", l2Distance, k = 10, nprobe = 3)
        .collect().map(_.getLong(0)).toSeq
      assert(partial.distinct == partial, s"duplicate ids from spill=$spill probe")
      assert(partial.size == 10)
      val full = IvfIndex.search(indexed.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", centroids, query, "qvec", l2Distance, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      val exact = Knn.topK(corpus, "vec_id", "embedding", query, "qvec", l2Distance, 10)
        .collect().map(_.getLong(0)).toSeq
      assert(full == exact, s"spill=$spill full probe diverged")
    }
  }
}
