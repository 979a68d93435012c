package graft

import graft.operators.Hnsw
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `serveHnsw` answered on the driver: one Spark job per flat
  * single-partition micro-batch (two over several input partitions),
  * and one more for a routed store's probed blobs; blobs loaded once
  * and never stale; rows bit-identical to `searchBatch` and, routed,
  * to per-query `search`; and the two walk-state changes under it —
  * per-walk visited marks (concurrent walkers on one cached graph)
  * and the WalkCache identity memo. */
class ServeDriverSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, Sf)

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_serve_driver_$tag").toString

  /** The served rows of one micro-batch: (qid, vec_id, dist bits). */
  private def bits(rows: Seq[Row]): Seq[(Long, Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2))))

  /** A running `serveHnsw` over a dense (qid, qvec) MemoryStream that
    * keeps every answered batch's rows and schema. */
  private final class Served(graphs: DataFrame, k: Int, ef: Int) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Seq[Double])]
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val query = graft.streaming.KnnServing.serveHnsw(
      input.toDF().toDF("qid", "qvec"), graphs, "qid", "qvec", k, ef) { (b, id) =>
      schema = b.schema
      batches += ((id, b.collect().toSeq))
    }
    def answer(qs: Seq[(Long, Seq[Double])]): Seq[Row] = {
      input.addData(qs)
      query.processAllAvailable()
      batches.last._2
    }
  }

  private def denseQueries(ids: Seq[Long], qidBase: Long): Seq[(Long, Seq[Double])] =
    emb.filter(col("vec_id").isin(ids: _*)).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq.map(r => (qidBase + r.getLong(0), r.getSeq[Double](1)))

  private def direct(graphs: DataFrame, qs: Seq[(Long, Seq[Double])], k: Int, ef: Int): DataFrame =
    Hnsw.searchBatch(graphs, qs.map { case (id, v) => (id, Hnsw.Dense(v.toArray): Hnsw.Query) },
      k, ef)

  /** (job group, micro-batch id) of every Spark job started while
    * `body` runs. */
  private def jobsDuring(body: => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    listening {
      case e: org.apache.spark.scheduler.SparkListenerJobStart =>
        val p = Option(e.properties)
        seen.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("streaming.sql.batchId")).orNull))
        ()
      case _ => ()
    }(body)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  test("flat serveHnsw runs one Spark job per micro-batch and reads the graphs once") {
    val dir = tmpDir("jobs")
    Hnsw.writeGraphs(Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), dir)
    val s = new Served(Hnsw.readGraphs(spark, dir), k = 3, ef = 64)
    try {
      val jobs = jobsDuring {
        (0 until 5).foreach(b => s.answer(denseQueries(Seq(0L, 1L, 2L), 1000L * (b + 1))))
      }
      val mine = jobs.filter(_._1 == s.query.runId.toString)
        .groupBy(_._2).map { case (b, js) => b -> js.size }
      assert(s.batches.map(_._1) == (0L until 5L))
      // batch 0: the query collect and the one graph read
      assert(mine.get("0").contains(2), s"first batch jobs: $mine")
      // then the query collect alone: no isEmpty, no graph read, no
      // walk or rank job, and the sink's collect of the local answer
      // runs none
      for (b <- 1 until 5)
        assert(mine.get(b.toString).contains(1), s"batch $b jobs: $mine")
      assert(s.batches.forall(_._2.size == 9))
    } finally s.query.stop()
  }

  test("a micro-batch spread over several input partitions collects its queries in two jobs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("parts")
    Hnsw.writeGraphs(Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), dir)
    val graphs = Hnsw.readGraphs(spark, dir)
    val input = MemoryStream[(Long, Seq[Double])](4) // rows round-robin over 4 partitions
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val q = graft.streaming.KnnServing.serveHnsw(
      input.toDF().toDF("qid", "qvec"), graphs, "qid", "qvec", k = 3) { (b, id) =>
      batches += ((id, b.collect().toSeq))
    }
    try {
      val fed = (0 until 3).map(b => denseQueries((0L until 8L), 1000L * (b + 1)))
      val jobs = jobsDuring {
        fed.foreach { qs => input.addData(qs); q.processAllAvailable() }
      }
      val mine = jobs.filter(_._1 == q.runId.toString)
        .groupBy(_._2).map { case (b, js) => b -> js.size }
      assert(batches.map(_._1) == (0L until 3L))
      // the query collect is limit(maxBatch + 1).collect(): one round
      // over the first partition, one more over the other three; batch
      // 0 also reads the graphs once
      assert(mine.get("0").contains(3), s"first batch jobs: $mine")
      for (b <- 1 until 3) assert(mine.get(b.toString).contains(2), s"batch $b jobs: $mine")
      for ((qs, (_, rows)) <- fed.zip(batches))
        assert(bits(rows) == bits(direct(graphs, qs, 3, 64).collect()))
    } finally q.stop()
  }

  test("routed serveHnsw runs at most one Spark job beyond the query collect; rows equal per-query search") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tf = graft.queries.VectorQueries.sparseTf(spark, Sf).localCheckpoint()
    val dir = tmpDir("routed")
    val routing: Hnsw.Routing = Hnsw.TermMass(8)
    Hnsw.writeGraphs(Hnsw.buildCellRouted(tf.withColumn("sv", Hnsw.sparseColumn("sidx", "sval")),
      "doc_id", "sv", routing, spill = 2, m = 8, efC = 32, metric = "cosine"), dir)
    val graphs = Hnsw.readGraphs(spark, dir)
    val route = Some((routing, 3))
    val docs = tf.orderBy(col("doc_id")).limit(9).select(col("doc_id"), col("sidx"), col("sval"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2)))
    val input = MemoryStream[(Long, Seq[Long], Seq[Double])]
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val q = graft.streaming.KnnServing.serveHnsw(
      input.toDF().toDF("qid", "qi", "qv")
        .select(col("qid"), Hnsw.sparseColumn("qi", "qv").as("q")),
      graphs, "qid", "q", k = 4, ef = 48, route = route) { (b, id) =>
      batches += ((id, b.collect().toSeq))
    }
    try {
      val fed = docs.grouped(3).toSeq.zipWithIndex.map { case (g, b) =>
        g.map { case (id, qi, qv) => (100L * (b + 1) + id, qi, qv) }
      }
      val jobs = jobsDuring {
        fed.foreach { qs => input.addData(qs); q.processAllAvailable() }
      }
      val mine = jobs.filter(_._1 == q.runId.toString)
        .groupBy(_._2).map { case (b, js) => b -> js.size }
      assert(batches.map(_._1) == (0L until 3L))
      // the query collect, then one collect of the batch's probed blobs
      for (b <- 0 until 3)
        assert(mine.get(b.toString).exists(_ <= 2), s"batch $b jobs: $mine")
      for ((qs, (_, rows)) <- fed.zip(batches); (qid, qi, qv) <- qs) {
        val single = Hnsw.search(graphs, Hnsw.Sparse(qi.toArray, qv.toArray),
          k = 4, ef = 48, route = route).collect()
          .map(r => (qid, r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
        assert(single.nonEmpty && bits(rows.filter(_.getLong(0) == qid)) == single.toSeq,
          s"served rows of query $qid diverged from per-query search")
      }
    } finally q.stop()
  }

  test("flat serveHnsw over readGraphs answers from an overwritten store on the next batch") {
    val dir = tmpDir("stale")
    val ef = 1000 // exhaustive beams: any stale graph shows in the top-3
    Hnsw.writeGraphs(Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), dir)
    val s = new Served(Hnsw.readGraphs(spark, dir), k = 3, ef = ef)
    try {
      val q1 = denseQueries(Seq(0L, 1L), 100L)
      val first = s.answer(q1)
      assert(bits(first) == bits(direct(Hnsw.readGraphs(spark, dir), q1, 3, ef).collect()))
      val servedIds = first.map(_.getLong(1)).distinct
      // overwrite the store in place without the served hits
      Hnsw.writeGraphs(Hnsw.buildPartitioned(emb.filter(!col("vec_id").isin(servedIds: _*)),
        "vec_id", "embedding", parts = 4), dir)
      val q2 = denseQueries(Seq(0L, 1L), 200L)
      val second = s.answer(q2)
      assert(!second.exists(r => servedIds.contains(r.getLong(1))),
        s"served the overwritten store's old graphs: ${second.map(_.getLong(1))}")
      assert(bits(second) == bits(direct(Hnsw.readGraphs(spark, dir), q2, 3, ef).collect()))
    } finally s.query.stop()
  }

  test("flat serveHnsw rows are bit-identical to searchBatch: dense, sparse and ip ties") {
    // dense l2, over a persisted store and a checkpointed frame
    val dir = tmpDir("rows")
    val built = Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4)
    Hnsw.writeGraphs(built, dir)
    for (graphs <- Seq(Hnsw.readGraphs(spark, dir), built.localCheckpoint())) {
      val s = new Served(graphs, k = 5, ef = 32)
      try {
        val qs = denseQueries(Seq(3L, 0L, 7L, 11L), 0L)
        val want = direct(graphs, qs, 5, 32)
        assert(bits(s.answer(qs)) == bits(want.collect()))
        assert(s.schema == want.schema)
      } finally s.query.stop()
    }

    // sparse cosine, queried through sparseColumn
    {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val tf = graft.queries.VectorQueries.sparseTf(spark, Sf).localCheckpoint()
      val graphs = Hnsw.buildPartitioned(tf.withColumn("sv", Hnsw.sparseColumn("sidx", "sval")),
        "doc_id", "sv", m = 8, efC = 32, parts = 3, metric = "cosine").localCheckpoint()
      val qs = tf.filter(col("doc_id") < 4).select(col("doc_id"), col("sidx"), col("sval"))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2)))
      val input = MemoryStream[(Long, Seq[Long], Seq[Double])]
      val served = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = graft.streaming.KnnServing.serveHnsw(
        input.toDF().toDF("qid", "qi", "qv")
          .select(col("qid"), Hnsw.sparseColumn("qi", "qv").as("q")),
        graphs, "qid", "q", k = 4, ef = 48) { (b, _) => served ++= b.collect() }
      try {
        input.addData(qs)
        q.processAllAvailable()
      } finally q.stop()
      val want = Hnsw.searchBatch(graphs,
        qs.map { case (id, qi, qv) => (id, Hnsw.Sparse(qi.toArray, qv.toArray): Hnsw.Query) },
        k = 4, ef = 48).collect()
      assert(served.nonEmpty && bits(served.toSeq) == bits(want.toSeq))
    }

    // ip, with queries orthogonal to most of the corpus: those rows
    // score -dot = -0.0 and tie, so the top-k cut and row order run
    // through Spark's (dist, vec_id) tie rules
    {
      val rnd = new scala.util.Random(5)
      val corpus = (0 until 240).map { i =>
        val v = new Array[Double](8)
        val lo = if (i % 8 == 0) 0 else 4 // 30 rows on dims 0-3, the rest on 4-7
        (lo until lo + 4).foreach(j => v(j) = 1.0 + rnd.nextInt(3))
        (i.toLong, v.toSeq)
      }
      val graphs = Hnsw.buildPartitioned(spark.createDataFrame(corpus).toDF("id", "v"),
        "id", "v", m = 8, efC = 32, parts = 3, metric = "ip").localCheckpoint()
      val s = new Served(graphs, k = 40, ef = 240)
      try {
        val qs = Seq(
          (1L, Seq(1.0, 2.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0)),
          (2L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
          (3L, Seq(0.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0)))
        val got = s.answer(qs)
        assert(bits(got) == bits(direct(graphs, qs, 40, 240).collect()))
        assert(got.count(r => r.getLong(0) == 1L && r.getDouble(2) == 0.0) >= 2,
          "the ip check is blind: query 1 has no -0.0 ties in its top-k")
      } finally s.query.stop()
    }
  }

  test("mergeTopK keeps Spark's (dist, vec_id) order: -0.0 ties 0.0, NaN last, one row per tie") {
    val cands = Seq((5L, -0.0), (3L, 0.0), (9L, Double.NaN), (1L, 1.0), (2L, -1.0),
      (4L, 0.0), (4L, 0.0), (7L, Double.NaN))
    val sparkOrder = spark.createDataFrame(cands.distinct).toDF("vec_id", "dist")
      .orderBy(col("dist"), col("vec_id")).collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq
    val merged = Hnsw.mergeTopK(cands, 10)
      .map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }
    assert(merged == sparkOrder)
    // a total-order sort would put 5 (-0.0) before 3 (0.0)
    assert(merged.map(_._1) == Seq(2L, 3L, 4L, 5L, 1L, 7L, 9L))
    assert(Hnsw.mergeTopK(cands, 3).map(_._1) == Seq(2L, 3L, 4L))
  }

  test("flat serveHnsw refuses a duplicate query id in a micro-batch") {
    val graphs = Hnsw.buildPartitioned(emb.limit(60), "vec_id", "embedding",
      m = 8, efC = 32, parts = 2).localCheckpoint()
    val s = new Served(graphs, k = 3, ef = 32)
    try {
      val v = Seq.fill(64)(0.25)
      s.input.addData(Seq((7L, v), (7L, v)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        s.query.processAllAvailable()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains("duplicate query ids"), s"unexpected failure:\n$msgs")
    } finally s.query.stop()
  }

  test("concurrent walkers on one cached graph are bit-identical to a serial walk") {
    val rnd = new scala.util.Random(17)
    val ix = new Hnsw.Index(8, 48)
    (0 until 3000).foreach(i => ix.insert(i.toLong, Hnsw.Dense(Array.fill(12)(rnd.nextGaussian()))))
    val blob = Hnsw.ser(ix)
    Hnsw.WalkCache.clear()
    val queries = IndexedSeq.fill(64)(Hnsw.Dense(Array.fill(12)(rnd.nextGaussian())))
    val serial = queries.map(Hnsw.walk(blob, 10, 128))
    val threads = 8
    val go = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        go.await()
        val w = Hnsw.walk(blob, 10, 128) // the one shared parsed graph
        for (round <- 0 until 6; i <- queries.indices) {
          val qi = (i + 7 * t) % queries.size
          val got = w(queries(qi))
          if (got.map(x => (x._1, java.lang.Double.doubleToRawLongBits(x._2))) !=
              serial(qi).map(x => (x._1, java.lang.Double.doubleToRawLongBits(x._2))))
            errs.add(s"thread $t round $round query $qi: $got vs ${serial(qi)}")
        }
      })
    }
    workers.foreach(_.start())
    go.countDown()
    workers.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.take(3).mkString("\n"))
    // the driver-side walk over several copies of the graph agrees too
    val blobs = Array.tabulate(4)(p => (p, blob))
    val local = Hnsw.walkLocal(blobs, queries, 10, 128)
    assert(local.indices.forall(q => local(q).toSeq ==
      blobs.toSeq.flatMap { case (p, _) => serial(q).map { case (id, d) => (p, id, d) } }))
  }

  test("WalkCache identity memo: the same array skips the digest, a copy hits through MD5") {
    val rnd = new scala.util.Random(23)
    val ix = new Hnsw.Index(8, 32)
    (0 until 200).foreach(i => ix.insert(i.toLong, Hnsw.Dense(Array.fill(8)(rnd.nextGaussian()))))
    val blob = Hnsw.ser(ix)
    val q = Hnsw.Dense(Array.fill(8)(rnd.nextGaussian()))
    Hnsw.WalkCache.clear()
    def counters = (Hnsw.WalkCache.hits, Hnsw.WalkCache.misses, Hnsw.WalkCache.digests)
    def delta(body: => Unit): (Long, Long, Long) = {
      val (h, m, d) = counters
      body
      val (h1, m1, d1) = counters
      (h1 - h, m1 - m, d1 - d)
    }
    val first = Hnsw.walk(blob, 5, 32)(q)
    assert(delta(Hnsw.walk(blob, 5, 32)(q)) == ((1L, 0L, 0L)),
      "a second walk of the same array computed a digest")
    assert(delta(Hnsw.walk(blob.clone(), 5, 32)(q)) == ((1L, 0L, 1L)),
      "an equal-bytes copy did not hit through its digest")
    ix.insert(1000L, q)
    val rewritten = Hnsw.ser(ix)
    var after: Seq[(Long, Double)] = null
    assert(delta { after = Hnsw.walk(rewritten, 5, 32)(q) } == ((0L, 1L, 1L)),
      "a rewritten blob did not miss")
    assert(after.head == ((1000L, 0.0)) && first.head._1 != 1000L)
  }
}
