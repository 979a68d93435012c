package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate returns the same instance across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf = "/root/testdata/sf0.001"

  /** Every listener event posted while `body` runs goes to `handle`.
    * A sentinel job in its own group flushes the listener: events
    * arrive in posting order, so once its start is seen every earlier
    * event has been (a task's end is posted before its job returns). */
  def listening(handle: org.apache.spark.scheduler.SparkListenerEvent => Unit)(
      body: => Unit): Unit = {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val flush = s"listener-flush-${System.nanoTime()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.SparkFirehoseListener {
      override def onEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart
            if Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull == flush =>
          flushed.countDown()
        case _ => if (flushed.getCount > 0) handle(e)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup(flush, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the flush job")
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs started while `body` runs. */
  def jobsStarted(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    listening {
      case _: org.apache.spark.scheduler.SparkListenerJobStart => seen.incrementAndGet(); ()
      case _ => ()
    }(body)
    seen.get
  }

  /** Input records (file scan rows) read by the tasks `body` runs. */
  def recordsRead(body: => Unit): Long = {
    val seen = new java.util.concurrent.atomic.AtomicLong
    listening {
      case t: org.apache.spark.scheduler.SparkListenerTaskEnd if t.taskMetrics != null =>
        seen.addAndGet(t.taskMetrics.inputMetrics.recordsRead); ()
      case _ => ()
    }(body)
    seen.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", 1024) // point-read In lists prune row groups (Dedup.eqAnyPred)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
