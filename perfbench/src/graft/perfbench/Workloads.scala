package graft.perfbench

import graft.operators.Hnsw
import graft.pipeline.{FeatureHashEmbedder, PdfIngest}
import graft.plans.PgVectorSql
import graft.sources.{GraftTable, VectorStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Input sizes and knobs, stamped into every artifact. */
object Sizes {
  val Dims = 128
  val Clusters = 64
  val Spread = 0.5
  val CorpusRows = 5000
  val CorpusFiles = 4
  val PagesPerDoc = 8
  val QueryPool = 256
  val K = 5
  /** Set-up repetitions per run; setup_s is their median. */
  val SetupReps = 3
  /** Untimed searches before the timed loop. With 8, latencies still
    * fell by a quarter over the timed loop while the JIT settled on the
    * walk and scan paths; after about 20 searches they are flat. */
  val WarmupOps = 20
  /** Untimed uploads before the timed loop: the live table enters the
    * timed window already holding a dozen commits and past Spark's
    * 32-path parallel-listing threshold, so every timed commit meets
    * the same file-count regime. */
  val IngestWarmupOps = 12
  val IvfLists = 50
  val IvfProbes = 4
  val HnswParts = 8
  /** Reference split parameters (Function.java splitText). */
  val SplitLen = 7500
  val Lookback = 300
  val UploadsPerBatch = 3
  val BaseBatches = 2
  val ServeBatch = 64
  /** Untimed 64-query batches, then an untimed lead-in of open-loop
    * queries that runs straight into the timed ones. */
  val ServeWarmupBatches = 3
  val ServeWarmupQueries = 60
  val ServeRate = 20.0
  /** How often the open loop's generator wakes. */
  val ServePollMs = 20L
  val ServeOpenShare = 0.7
}

/** One run's session and settings. A `training` run (the build's
  * class-data-sharing pass) sets up once and warms up with one
  * operation: it only has to load the classes a real run loads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val tmp: java.io.File, val training: Boolean = false) {
  def trace: Boolean = tracer.enabled
  def setupReps: Int = if (training) 1 else Sizes.SetupReps
  def warmup(ops: Int): Int = if (training) 1 else ops
  def path(name: String): String = new java.io.File(tmp, name).getPath
}

/** Shared pieces: the corpus table, the timed loop and the Spark
  * share of the per-layer table. */
object Workload {
  val Table = "DOCUMENT_SEARCH_VECTOR"
  /** The reference's search, verbatim (SSEOpenAIController.java). */
  val Sql = s"SELECT id, origntext, filename, pagenumber FROM $Table " +
    "ORDER BY embedding <-> ?::vector LIMIT 5"

  val PerLayerNames: Seq[String] = Seq(
    "plans.translate_s", "plans.analyze_s", "plans.optimize_s", "plans.physical_s",
    "plans.probe_ids", "plans.cells_probed",
    "operators.hnsw.graphs_deserialized", "operators.hnsw.cache_hits",
    "operators.hnsw.cache_misses", "operators.hnsw.cache_hit_ratio",
    "operators.hnsw.cache_resident_mb", "operators.walk_cpu_s",
    "operators.hnsw.build_s", "operators.ivf.build_s",
    "sources.scan_mb", "sources.scan_rows", "sources.append_s", "sources.output_mb",
    "sources.snapshot_files", "sources.table_version",
    "functions.exec_cpu_s",
    "pipeline.pdfs", "pipeline.pages", "pipeline.split_pages", "pipeline.chunks",
    "pipeline.cpu_s", "pipeline.pages_per_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.commit_s", "streaming.batch_rows", "streaming.queue_wait_s",
    "streaming.generator_late_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.driver_s",
    "trace.overhead_ratio")

  /** Per-layer metrics only `search_ivf` produces. That workload is run
    * by hand, so the other workloads leave them out of their results. */
  val IvfOnlyNames: Set[String] = Set("plans.cells_probed", "operators.ivf.build_s")

  def perLayerNames(workload: String): Seq[String] =
    PerLayerNames.filter(n => workload == "search_ivf" || !IvfOnlyNames(n))

  val MB = 1024.0 * 1024.0

  def mixture(seed: Long): Gen.Mixture =
    Gen.Mixture(seed, Sizes.Dims, Sizes.Clusters, Sizes.Spread)

  /** The DOCUMENT_SEARCH_VECTOR corpus, generated inside the tasks. */
  def corpus(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val mix = mixture(seed)
    val per = Sizes.PagesPerDoc
    spark.range(0, Sizes.CorpusRows, 1, Sizes.CorpusFiles).as[Long]
      .map(i => (i, mix.point(i), Gen.rowText(seed, i), f"doc-${i / per}%06d.pdf", i % per + 1))
      .toDF("id", "embedding", "origntext", "filename", "pagenumber")
  }

  /** Queries (fresh mixture draws) and their exact top-k, computed on
    * the driver in plain Scala. */
  def queriesWithTruth(seed: Long): (Array[Array[Float]], Array[Set[Long]]) = {
    val mix = mixture(seed)
    val d = Sizes.Dims
    val flat = new Array[Float](Sizes.CorpusRows * d)
    (0 until Sizes.CorpusRows).foreach(i => System.arraycopy(mix.point(i), 0, flat, i * d, d))
    val qs = Array.tabulate(Sizes.QueryPool)(j => mix.query(j))
    val truth = new Array[Set[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach { j =>
      truth(j) = Gen.exactTopK(flat, d, qs(j), Sizes.K).toSet
    }
    (qs, truth)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `setup` [[Ctx.setupReps]] times, timing each; `between`
    * tears down the previous repetition untimed. */
  def repeatedSetup[T](ctx: Ctx, out: Outcome)(between: () => Unit)(setup: Int => T): T = {
    var last: Option[T] = None
    (0 until ctx.setupReps).foreach { r =>
      if (r > 0) between()
      val (v, s) = timed(setup(r))
      out.setupSeconds += s
      last = Some(v)
    }
    last.get
  }

  /** Closed loop: `warmup` untimed operations, then back-to-back
    * timed ones for `seconds`. In a traced run even operations are
    * traced and odd ones are not; the ratio of their median latencies
    * is the tracing overhead. Returns the traced operations' latencies. */
  def closedLoop(ctx: Ctx, out: Outcome, warmup: Int = Sizes.WarmupOps,
      maxOps: Int = Int.MaxValue)(op: (Int, Boolean) => Unit): Seq[Double] = {
    var i = 0
    while (i < ctx.warmup(warmup)) { op(i, false); i += 1 }
    val traced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val end = start + ctx.seconds * 1000000000L
    while (System.nanoTime() < end && i < maxOps) {
      val tr = ctx.trace && i % 2 == 0
      val (_, s) = timed(op(i, tr))
      if (tr) traced += s else out.latencies += s
      out.completed += 1
      i += 1
    }
    out.measuredSeconds = (System.nanoTime() - start) / 1e9
    if (ctx.trace) out.completed = out.latencies.size.toLong
    traced.toSeq
  }

  /** trace.overhead_ratio: traced over untraced median latency. */
  def overhead(out: Outcome, traced: Seq[Double], plain: Seq[Double]): Unit =
    if (traced.nonEmpty && plain.nonEmpty)
      out.perLayer("trace.overhead_ratio") = Stats.median(traced) / Stats.median(plain)

  /** spark.* per operation over `spans` (each one operation's root). */
  def sparkLayer(t: Tracer, out: Outcome, spans: Seq[Span], ops: Double): Unit = {
    if (ops <= 0) return
    val w = t.inclusiveWork(spans: _*)
    val p = out.perLayer
    p("spark.jobs") = w.jobs / ops
    p("spark.stages") = w.stages / ops
    p("spark.tasks") = w.tasks / ops
    p("spark.executor_run_s") = w.runMs / 1e3 / ops
    p("spark.executor_cpu_s") = w.cpuNs / 1e9 / ops
    p("spark.gc_s") = w.gcMs / 1e3 / ops
    p("spark.shuffle_read_mb") = w.shuffleRead / MB / ops
    p("spark.shuffle_write_mb") = w.shuffleWrite / MB / ops
    p("spark.driver_s") = spans.map(t.driverSeconds).sum / ops
  }

  def named(t: Tracer, name: String): Seq[Span] = t.allSpans.filter(_.name == name)

  /** Mean duration of the spans called `name`, per operation. */
  def spanSeconds(t: Tracer, name: String, ops: Double): Double =
    named(t, name).map(_.seconds).sum / ops

  def cacheLayer(out: Outcome, delta: Counters, ops: Double): Unit = {
    val p = out.perLayer
    p("operators.hnsw.graphs_deserialized") = delta.graphsDeserialized / ops
    p("operators.hnsw.cache_hits") = delta.walkHits / ops
    p("operators.hnsw.cache_misses") = delta.walkMisses / ops
    val looks = delta.walkHits + delta.walkMisses
    p("operators.hnsw.cache_hit_ratio") = if (looks == 0) 0.0 else delta.walkHits.toDouble / looks
    p("operators.hnsw.cache_resident_mb") = Hnsw.WalkCache.residentBytes / MB
  }

  /** Sizes of the id / cell IN lists the probe rules injected. */
  def inListSizes(plan: LogicalPlan): Map[String, Int] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case In(a: AttributeReference, list) => a.name -> list.size
      case InSet(a: AttributeReference, set) => a.name -> set.size
    })).groupMapReduce(_._1)(_._2)(_ + _)

  def checkRows(rows: Array[Row]): Seq[(Boolean, String)] = Seq(
    (rows.length == Sizes.K, s"search returned ${rows.length} rows, not ${Sizes.K}"),
    (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)),
      "search returned a row with a null column"))

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}

/** `search_hnsw` / `search_ivf`: one client in a closed loop issuing
  * the reference's verbatim SQL against the indexed corpus. */
object SearchWorkload {
  import Workload._

  def run(ctx: Ctx, out: Outcome, method: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val buildSpan = if (method == "hnsw") "operators.hnsw.build" else "operators.ivf.build"
    val ddl = method match {
      case "hnsw" => s"CREATE INDEX ON $Table USING hnsw (embedding vector_l2_ops)"
      case _ => s"CREATE INDEX ON $Table USING ivfflat (embedding vector_l2_ops) " +
        s"WITH (lists = ${Sizes.IvfLists})"
    }
    if (method == "ivfflat") spark.sql(s"SET ivfflat.probes = ${Sizes.IvfProbes}")
    var rep = 0
    repeatedSetup(ctx, out) { () =>
      spark.sql(s"DROP INDEX ${Table}_embedding_$method")
      rmrf(new java.io.File(ctx.path(s"corpus_${rep - 1}")))
    } { r =>
      rep = r
      val dir = ctx.path(s"corpus_$r")
      corpus(spark, ctx.seed).write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView(Table)
      t.span(buildSpan)(spark.sql(ddl))
    }
    // the corpus plus the index store, which CREATE INDEX writes to
    // java.io.tmpdir/graft_sqlindex_<method>_<name>, outside ctx.tmp
    val indexStores = Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("graft_sqlindex_"))
    val indexBytes = indexStores.map(Stats.dirBytes).sum
    out.storeBytes = Stats.dirBytes(ctx.tmp) + indexBytes
    out.facts("index_store_mb") = indexBytes / MB
    out.facts("index_stores") = indexStores.map(_.getName)
    val (qs, truth) = queriesWithTruth(ctx.seed)
    val args = qs.map(q => Array[Any](Gen.vectorText(q)))
    val inLists = mutable.ArrayBuffer.empty[Map[String, Int]]

    val traced = closedLoop(ctx, out) { (i, tr) =>
      val j = i % qs.length
      try {
        val rows =
          if (!tr) spark.sql(Sql, args(j)).collect()
          else t.span("op.search", i) {
            t.span("plans.translate")(PgVectorSql.translate(Sql))
            val df = t.span("plans.analyze")(spark.sql(Sql, args(j)))
            val opt = t.span("plans.optimize")(df.queryExecution.optimizedPlan)
            t.span("plans.physical")(df.queryExecution.executedPlan)
            inLists += inListSizes(opt)
            t.span("sql.exec")(df.collect())
          }
        out.recall(truth(j), rows.map(_.getLong(0)).toSeq)
        out.operation(checkRows(rows))
      } catch { case scala.util.control.NonFatal(e) => out.operationFailed(e) }
    }
    out.facts("index_ddl") = ddl
    if (!ctx.trace) return

    t.drain()
    val ops = named(t, "op.search")
    val n = ops.size.toDouble
    val p = out.perLayer
    Seq("translate", "analyze", "optimize", "physical").foreach { ph =>
      p(s"plans.${ph}_s") = spanSeconds(t, s"plans.$ph", n)
    }
    p("plans.probe_ids") = inLists.map(_.getOrElse("id", 0)).sum / n
    p("plans.cells_probed") = inLists.map(_.getOrElse("centroid_id", 0)).sum / n
    cacheLayer(out, ops.map(s => s.after - s.before).foldLeft(Counters(0, 0, 0))(_ + _), n)
    p("operators.walk_cpu_s") = t.inclusiveWork(named(t, "plans.optimize"): _*).cpuNs / 1e9 / n
    p(buildSpan + "_s") = Stats.median(named(t, buildSpan).map(_.seconds))
    val exec = t.inclusiveWork(named(t, "sql.exec"): _*)
    p("sources.scan_mb") = exec.inBytes / MB / n
    p("sources.scan_rows") = exec.inRecords / n
    p("functions.exec_cpu_s") = exec.cpuNs / 1e9 / n
    sparkLayer(t, out, ops, n)
    overhead(out, traced, out.latencies.toSeq)
  }
}

/** `serve_stream`: KnnServing.serveHnsw on a MemoryStream, first as an
  * open loop at a fixed arrival rate, then saturated with back-to-back
  * 64-query batches. */
object ServeWorkload {
  import Workload._

  private final case class Answer(batchId: Long, doneNs: Long, ids: Seq[Long])
  /** A query of the open loop: when it fell due, and when the generator
    * saw it due (the poll after its due time). */
  private final case class Arrival(qid: Long, dueNs: Long, seenNs: Long, seenMs: Long)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val answers = new java.util.concurrent.ConcurrentHashMap[Long, Answer]()
    // the serving sink: collect each micro-batch's answers; in a traced
    // run only even batches carry a span, for the overhead ratio
    val sink: (DataFrame, Long) => Unit = { (answered, batchId) =>
      val rows =
        if (ctx.trace && batchId % 2 == 0)
          t.span("streaming.write_batch", batchId)(answered.collect())
        else answered.collect()
      val now = System.nanoTime()
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        answers.put(qid, Answer(batchId, now, rs.map(_.getLong(1)).toSeq))
      }
    }
    var input: MemoryStream[(Long, Array[Double])] = null
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    var rep = 0
    repeatedSetup(ctx, out) { () =>
      query.stop()
      rmrf(new java.io.File(ctx.path(s"corpus_${rep - 1}")))
      rmrf(new java.io.File(ctx.path(s"graphs_${rep - 1}")))
    } { r =>
      rep = r
      val dir = ctx.path(s"corpus_$r")
      val gdir = ctx.path(s"graphs_$r")
      corpus(spark, ctx.seed).write.parquet(dir)
      t.span("operators.hnsw.build") {
        Hnsw.writeGraphs(Hnsw.buildPartitioned(spark.read.parquet(dir), "id", "embedding",
          parts = Sizes.HnswParts), gdir)
      }
      input = MemoryStream[(Long, Array[Double])]
      query = graft.streaming.KnnServing.serveHnsw(input.toDF().toDF("qid", "qvec"),
        Hnsw.readGraphs(spark, gdir), "qid", "qvec", Sizes.K)(sink)
    }
    out.storeBytes = Stats.dirBytes(ctx.tmp)
    val (qs, truth) = queriesWithTruth(ctx.seed)
    val qd = qs.map(_.map(_.toDouble))
    var nextQid = 0L
    def batch(n: Int): Seq[(Long, Array[Double])] = Seq.fill(n) {
      val q = nextQid; nextQid += 1; (q, qd((q % qs.length).toInt))
    }
    def settle(qids: Seq[Long]): Unit = qids.foreach { q =>
      val a = answers.get(q)
      if (a == null) out.operation(Seq((false, s"query $q got no answer")))
      else {
        out.recall(truth((q % qs.length).toInt), a.ids)
        out.operation(Seq((a.ids.size == Sizes.K, s"query $q got ${a.ids.size} rows")))
      }
    }

    /** One query due every 1/rate s, `n` of them, then wait until all
      * are answered. Latency counts from each query's due time. The
      * generator wakes every poll interval. Queries that fell due wait
      * in its buffer while a micro-batch runs, and enter the source as
      * one block once the stream is idle, as a log-based source hands a
      * micro-batch everything since its last offset. A MemoryStream
      * block is an input partition: a block per query or per poll made
      * a micro-batch's task count grow with its wait, so a slow batch
      * made the next one slower. */
    def openLoop(n: Int): Seq[Arrival] = {
      val interval = (1e9 / Sizes.ServeRate).toLong
      val poll = Sizes.ServePollMs * 1000000L
      val start = System.nanoTime() + 1000000L
      val arrivals = mutable.ArrayBuffer.empty[Arrival]
      val held = mutable.ArrayBuffer.empty[(Long, Array[Double])]
      while (arrivals.size < n || held.nonEmpty) {
        java.util.concurrent.locks.LockSupport.parkNanos(poll)
        val now = System.nanoTime()
        val due = Iterator.from(arrivals.size).takeWhile(j => j < n)
          .map(j => start + j * interval).takeWhile(_ <= now).toSeq
        if (due.nonEmpty) {
          val b = batch(due.size)
          val ms = System.currentTimeMillis()
          arrivals ++= b.zip(due).map { case ((qid, _), d) => Arrival(qid, d, now, ms) }
          held ++= b
        }
        if (held.nonEmpty && !query.status.isTriggerActive) {
          input.addData(held.toSeq)
          held.clear()
        }
      }
      query.processAllAvailable()
      arrivals.toSeq
    }

    // warm-up, untimed but checked: saturation batches, which also
    // fill the WalkCache
    (0 until ctx.warmup(Sizes.ServeWarmupBatches)).foreach { _ =>
      val b = batch(Sizes.ServeBatch)
      input.addData(b); query.processAllAvailable(); settle(b.map(_._1))
    }

    // open loop: an untimed lead-in, then the timed queries on the same
    // schedule, so the timed ones meet the stream in its steady state
    // rather than starting from an idle one. In a traced run the
    // stream's jobs outside the sink's spans are attributed to the
    // open-loop span, and the per-layer figures cover the lead-in too.
    val leadIn = ctx.warmup(Sizes.ServeWarmupQueries)
    val openN = math.max(1, (Sizes.ServeRate * ctx.seconds * Sizes.ServeOpenShare).toInt)
    val before = t.counters()
    val (all, openSeconds) = timed(t.span("streaming.open_loop") {
      t.fallback = t.current
      openLoop(leadIn + openN)
    })
    t.fallback = -1
    val after = t.counters()
    settle(all.map(_.qid))
    val arrivals = all.drop(leadIn)
    val lat = arrivals.flatMap { a =>
      Option(answers.get(a.qid)).map(x => (x.batchId, (x.doneNs - a.dueNs) / 1e9))
    }
    val (tracedLat, plainLat) =
      if (ctx.trace) lat.partition(_._1 % 2 == 0) else (Seq.empty, lat)
    out.latencies ++= plainLat.map(_._2)

    // saturation: back-to-back batches for the rest of the run; the
    // rate is one batch over the median batch time, so a single batch
    // caught by a GC pause or CPU steal does not move it
    val satStart = System.nanoTime()
    val satEnd = satStart + (ctx.seconds * (1 - Sizes.ServeOpenShare) * 1e9).toLong
    val batchSeconds = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < satEnd) {
      val b = batch(Sizes.ServeBatch)
      val (_, s) = timed { input.addData(b); query.processAllAvailable() }
      settle(b.map(_._1))
      batchSeconds += s
    }
    out.completed = Sizes.ServeBatch
    if (batchSeconds.nonEmpty) out.measuredSeconds = Stats.median(batchSeconds.toSeq)
    out.facts("open_loop_queries") = openN
    out.facts("open_loop_seconds") = openSeconds
    out.facts("saturation_batch_s") = batchSeconds.toSeq
    out.heapLiveBytes = Main.liveHeapBytes()
    query.stop()
    if (!ctx.trace) return

    t.drain()
    val p = out.perLayer
    val n = all.size.toDouble
    cacheLayer(out, after - before, n)
    val open = named(t, "streaming.open_loop").head
    val batchSpans = named(t, "streaming.write_batch")
      .filter(s => s.startNs >= open.startNs && s.endNs <= open.endNs)
    p("operators.walk_cpu_s") = t.inclusiveWork(batchSpans: _*).cpuNs / 1e9 / n
    p("operators.hnsw.build_s") = Stats.median(named(t, "operators.hnsw.build").map(_.seconds))
    val openBatches = all.flatMap(a => Option(answers.get(a.qid)).map(_.batchId)).toSet
    val prog = t.progressEvents.filter(e => openBatches.contains(e.batchId))
    if (prog.nonEmpty) {
      def d(keys: String*): Double =
        prog.map(e => keys.map(e.durations.getOrElse(_, 0L)).sum).sum / 1e3 / prog.size
      p("streaming.trigger_s") = d("triggerExecution")
      p("streaming.add_batch_s") = d("addBatch")
      p("streaming.planning_s") = d("queryPlanning")
      p("streaming.commit_s") = d("walCommit", "commitOffsets")
      p("streaming.batch_rows") = prog.map(_.rows).sum.toDouble / prog.size
      val startOf = prog.map(e => e.batchId -> e.startMs).toMap
      val waits = all.flatMap { a =>
        Option(answers.get(a.qid)).flatMap(x => startOf.get(x.batchId))
          .map(s => math.max(0L, s - a.seenMs) / 1e3)
      }
      if (waits.nonEmpty) p("streaming.queue_wait_s") = waits.sum / waits.size
    }
    p("streaming.generator_late_s") = all.map(a => (a.seenNs - a.dueNs) / 1e9).sum / n
    // the open loop's Spark work: the sink spans plus the fallback span
    val phaseSpans = open +: batchSpans
    sparkLayer(t, out, phaseSpans, n)
    p("spark.driver_s") = Tracer.idleSeconds(open.startMs, open.endMs,
      t.inclusiveWork(phaseSpans: _*).jobIntervals.toSeq) / n
    overhead(out, tracedLat.map(_._2), plainLat.map(_._2))
  }
}

/** `ingest_live`: one uploader in a closed loop. Each operation writes
  * a batch of seeded PDFs, runs PdfIngest.pdfDirToVectorStore with the
  * reference split parameters, commits with GraftTable.append, then
  * searches the live table for the batch's probe chunk. */
object IngestWorkload {
  import Workload._

  private def ingest(spark: SparkSession, dir: String): DataFrame =
    PdfIngest.pdfDirToVectorStore(spark, dir, dims = Sizes.Dims,
      maxLen = Sizes.SplitLen, lookback = Sizes.Lookback)

  private def writeUploads(dir: java.io.File, ups: Seq[Gen.Upload]): Unit = {
    dir.mkdirs()
    ups.foreach(u => java.nio.file.Files.write(new java.io.File(dir, u.name).toPath, u.bytes))
  }

  private def uploads(seed: Long, b: Int): Seq[Gen.Upload] =
    (0 until Sizes.UploadsPerBatch).map(d => Gen.upload(seed, b, d, Sizes.SplitLen))

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    import spark.implicits._
    var table: GraftTable = null
    var rep = 0
    repeatedSetup(ctx, out) { () =>
      rmrf(new java.io.File(ctx.path(s"live_${rep - 1}")))
      rmrf(new java.io.File(ctx.path(s"uploads_${rep - 1}")))
    } { r =>
      rep = r
      val base = new java.io.File(ctx.path(s"uploads_$r/base"))
      writeUploads(base, (0 until Sizes.BaseBatches).flatMap(uploads(ctx.seed, _)))
      table = VectorStore.createTable(spark, ctx.path(s"live_$r"), ingest(spark, base.getPath))
      table.read().createOrReplaceTempView(Table)
    }
    out.storeBytes = Stats.dirBytes(new java.io.File(table.path))

    // the live uploads, generated before any timer: at most one
    // operation per 1/8 s, beyond that the loop stops early
    val maxOps = Sizes.IngestWarmupOps + 8 * ctx.seconds
    val pool = (0 until maxOps).map { k =>
      val ups = uploads(ctx.seed, Sizes.BaseBatches + k)
      ups.foreach(_.bytes)
      val probe = ups.head
      (ups, s"${probe.name}#${probe.pages.size}#0", probe.pages.last)
    }
    val embedder = FeatureHashEmbedder(Sizes.Dims)
    def embed(text: String): String = {
      val q = Seq(text).toDF("q").withColumn("toks", graft.functions.TextFunctions.tokens(col("q")))
      val v = embedder.embed(q, "toks", "e").select("e").head().getSeq[Double](0)
      v.mkString("[", ",", "]")
    }
    val pagesPerOp = pool.map(_._1.map(_.pages.size).sum)

    var timedPages = 0L
    val traced = closedLoop(ctx, out, Sizes.IngestWarmupOps, maxOps) { (k, tr) =>
      val (ups, target, probeText) = pool(k)
      def step[T](name: String)(body: => T): T = if (tr) t.span(name)(body) else body
      def op(): Array[Row] = {
        step("op.upload")(writeUploads(new java.io.File(ctx.path(s"uploads_$rep/b$k")), ups))
        val rows = step("pipeline.ingest")(ingest(spark, ctx.path(s"uploads_$rep/b$k")))
        step("sources.append")(table.append(rows))
        step("sources.snapshot")(table.read().createOrReplaceTempView(Table))
        val q = step("pipeline.embed_query")(embed(probeText))
        step("sql.exec")(spark.sql(Sql, Array[Any](q)).collect())
      }
      try {
        val res = if (tr) t.span("op.ingest", k)(op()) else op()
        val ids = res.map(_.getString(0)).toSeq
        out.recall(Set(target), ids)
        out.operation(checkRows(res) :+
          ((ids.contains(target), s"batch $k: probe chunk $target not in top ${Sizes.K}")))
        if (k >= Sizes.IngestWarmupOps && !tr) timedPages += pagesPerOp(k)
      } catch { case scala.util.control.NonFatal(e) => out.operationFailed(e) }
    }
    out.facts("timed_pages") = timedPages
    out.facts("upload_pool_batches") = maxOps
    out.facts("table_version") = table.version
    if (!ctx.trace) return

    t.drain()
    val ops = named(t, "op.ingest")
    val n = ops.size.toDouble
    val opIds = ops.map(_.request.toInt)
    val p = out.perLayer
    p("pipeline.pdfs") = Sizes.UploadsPerBatch.toDouble
    p("pipeline.pages") = opIds.map(pagesPerOp).sum / n
    p("pipeline.split_pages") =
      opIds.map(k => pool(k)._1.flatMap(_.pages).count(_.length > Sizes.SplitLen)).sum / n
    val appends = named(t, "sources.append")
    val aw = t.inclusiveWork(appends: _*)
    p("pipeline.chunks") = aw.outRecords / n
    p("pipeline.cpu_s") = aw.cpuNs / 1e9 / n
    p("pipeline.pages_per_s") = opIds.map(pagesPerOp).sum / ops.map(_.seconds).sum
    p("sources.append_s") = appends.map(_.seconds).sum / n
    p("sources.output_mb") = aw.outBytes / MB / n
    p("sources.snapshot_files") = table.snapshotMetas().size.toDouble
    p("sources.table_version") = table.version.toDouble
    val exec = t.inclusiveWork(named(t, "sql.exec"): _*)
    p("sources.scan_mb") = exec.inBytes / MB / n
    p("sources.scan_rows") = exec.inRecords / n
    p("functions.exec_cpu_s") = exec.cpuNs / 1e9 / n
    sparkLayer(t, out, ops, n)
    overhead(out, traced, out.latencies.toSeq)
  }
}
