package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spark work attributed to one span: job, stage and task counts plus
  * the task metrics the per-layer table reads. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  /** Wall-clock (epoch ms) intervals of this span's jobs. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
    jobIntervals ++= o.jobIntervals
  }
}

/** Engine counters sampled at span boundaries. */
final case class Counters(walkHits: Long, walkMisses: Long, graphsDeserialized: Long) {
  def -(o: Counters): Counters = Counters(walkHits - o.walkHits,
    walkMisses - o.walkMisses, graphsDeserialized - o.graphsDeserialized)
  def +(o: Counters): Counters = Counters(walkHits + o.walkHits,
    walkMisses + o.walkMisses, graphsDeserialized + o.graphsDeserialized)
}

final case class Span(id: Int, name: String, parent: Int, request: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    before: Counters, after: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One micro-batch's StreamingQueryListener progress. */
final case class Progress(batchId: Long, startMs: Long, rows: Long,
    durations: Map[String, Long])

/** In-memory span recorder for the traced run. Each span sets a Spark
  * job group naming it, and a SparkListener attributes every job, stage
  * and task of that group to the span; other jobs go to the `fallback`
  * span when one is set (streaming micro-batches run on the stream's
  * own thread, under its own job group). Counters are sampled when a span opens and
  * closes. With `enabled` false, `span` just runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** This thread's open spans, innermost first, as (id, request). */
  private val stack = new ThreadLocal[List[(Int, Long)]] { override def initialValue() = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val GroupPrefix = "perfbench-span-"
  /** The thread-local job-group properties a span sets and restores. */
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")
  @volatile var fallback: Int = -1

  val deser: Option[org.apache.spark.util.LongAccumulator] =
    if (enabled) Some(sc.longAccumulator("perfbench.graphsDeserialized")) else None
  if (enabled) graft.plans.HnswProbeRule.deserCounter = deser

  def counters(): Counters = Counters(
    graft.operators.Hnsw.WalkCache.hits, graft.operators.Hnsw.WalkCache.misses,
    deser.map(_.value.longValue).getOrElse(0L))

  private val work = mutable.HashMap.empty[Int, Work]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val sid = group match {
        case Some(g) if g.startsWith(GroupPrefix) => g.stripPrefix(GroupPrefix).toInt
        case _ => fallback
      }
      if (sid >= 0) {
        jobSpan(e.jobId) = (sid, e.time)
        e.stageIds.foreach(stageSpan(_) = sid)
        work.getOrElseUpdate(sid, new Work).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = work.synchronized {
      jobSpan.remove(e.jobId).foreach { case (sid, t0) =>
        work(sid).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = work.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(work(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).foreach { sid =>
        val w = work(sid)
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.inBytes += m.inputMetrics.bytesRead
          w.inRecords += m.inputMetrics.recordsRead
          w.outBytes += m.outputMetrics.bytesWritten
          w.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      progress.synchronized {
        progress += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d)
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as span `name` (a child of this thread's open span). */
  def span[T](name: String, request: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val outer = stack.get()
    val req = if (request >= 0) request else outer.headOption.fold(-1L)(_._2)
    val before = counters()
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    stack.set((id, req) :: outer)
    spans.synchronized(spans += Span(id, name, outer.headOption.fold(-1)(_._1), req,
      ns0, -1L, ms0, -1L, before, before))
    try body
    finally {
      val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
      stack.set(outer)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val after = counters()
      spans.synchronized {
        val i = spans.lastIndexWhere(_.id == id)
        spans(i) = spans(i).copy(endNs = ns1, endMs = ms1, after = after)
      }
    }
  }

  /** The innermost span open on this thread, or -1. */
  def current: Int = stack.get().headOption.fold(-1)(_._1)

  /** Block until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def progressEvents: Seq[Progress] = progress.synchronized(progress.toList)
  def workOf(spanId: Int): Work = work.synchronized(work.getOrElse(spanId, new Work))

  private def children: Map[Int, Seq[Span]] = allSpans.groupBy(_.parent)

  /** The spans' own work plus that of every span below them. */
  def inclusiveWork(spans: Span*): Work = {
    val kids = children
    val total = new Work
    def go(x: Span): Unit = { total += workOf(x.id); kids.getOrElse(x.id, Nil).foreach(go) }
    spans.foreach(go)
    total
  }

  /** Duration minus the part covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Wall seconds of `s` during which none of its jobs was running. */
  def driverSeconds(s: Span): Double =
    Tracer.idleSeconds(s.startMs, s.endMs, inclusiveWork(s).jobIntervals.toSeq)

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    graft.plans.HnswProbeRule.deserCounter = None
  }
}

object Tracer {
  /** Seconds of [startMs, endMs) that no interval in `jobs` covers. */
  def idleSeconds(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double = {
    val iv = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (endMs - startMs - covered) / 1e3)
  }
}
