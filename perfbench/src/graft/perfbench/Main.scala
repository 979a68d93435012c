package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <dir> [--git-head <sha>] [--source-hash <sha>]
  *
  * Prints the result as the last line of stdout, writes the artifact
  * (run context, every metric, checks) and, when traced, the spans to
  * `--out`, and exits non-zero when any output check failed. The
  * caller points `java.io.tmpdir` at a wiped, benchmark-owned root.
  *
  *   Main --train 1
  *
  * runs every workload of BENCHMARK.json once at minimal length, so
  * that the build's class-data-sharing archive holds the classes a run
  * loads. */
object Main {

  val Workloads = Seq("search_hnsw", "search_ivf", "serve_stream", "ingest_live")

  def liveHeapBytes(): Long = {
    System.gc(); System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed
  }

  /** The host's CPU time counters (Linux `/proc/stat`), if readable. */
  private def cpuTicks(): Option[Array[Long]] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
    finally src.close()
  }.toOption

  /** Share of the host's CPU time between two readings that its
    * hypervisor gave to other guests (steal). A run on shared CPUs reads
    * slower in every timing, by far more than this share. */
  private def stealShare(from: Option[Array[Long]], to: Option[Array[Long]]): Option[Double] =
    for (a <- from; b <- to; total = b.sum - a.sum if total > 0 && a.length == 8)
      yield (b(7) - a(7)).toDouble / total

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  private def session(tmp: java.io.File, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getPath)
      .getOrCreate()

  private def run(workload: String, ctx: Ctx, out: Outcome): Unit = workload match {
    case "search_hnsw" => SearchWorkload.run(ctx, out, "hnsw")
    case "search_ivf" => SearchWorkload.run(ctx, out, "ivfflat")
    case "serve_stream" => ServeWorkload.run(ctx, out)
    case "ingest_live" => IngestWorkload.run(ctx, out)
  }

  private def train(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val spark = session(tmp, Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, enabled = true)
    Workloads.filterNot(_ == "search_ivf").foreach { w =>
      val dir = new java.io.File(tmp, s"train-$w")
      dir.mkdirs()
      val t0 = System.nanoTime()
      try run(w, new Ctx(spark, 1L, 0, tracer, dir, training = true), new Outcome)
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"training $w: $e") }
      System.err.println(f"training $w: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.streams.active.foreach(_.stop())
    }
    tracer.drain()
    tracer.close()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    if (opts.contains("train")) { train(); sys.exit(0) }
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val outDir = new java.io.File(opts("out"))
    outDir.mkdirs()
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val ticks = cpuTicks()
    val (spark, sessionSeconds) = Workload.timed(session(tmp, cores))
    spark.sparkContext.setLogLevel("ERROR")
    val data = new java.io.File(tmp, "data")
    data.mkdirs()
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, seed, seconds, tracer, data)
    val out = new Outcome
    val crashed =
      try { run(workload, ctx, out); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
    if (out.heapLiveBytes == 0L) out.heapLiveBytes = liveHeapBytes()
    val steal = stealShare(ticks, cpuTicks())
    tracer.drain()

    val endToEnd: Seq[(String, Double, String)] =
      if (out.latencies.isEmpty || out.setupSeconds.isEmpty) Nil
      else Seq(
        ("setup_s", sessionSeconds + Stats.median(out.setupSeconds.toSeq), "s"),
        ("latency_p50_s", Stats.quantile(out.latencies.toSeq, 0.5), "s"),
        ("latency_p90_s", Stats.quantile(out.latencies.toSeq, 0.9), "s"),
        ("queries_per_s", out.completed / out.measuredSeconds, "1/s"),
        ("recall_at_5", if (out.expected == 0) 0.0 else out.found.toDouble / out.expected, "ratio"),
        ("store_mb", out.storeBytes / Workload.MB, "MB"),
        ("heap_live_mb", out.heapLiveBytes / Workload.MB, "MB"))
    val perLayer: Seq[(String, Double, String)] = Workload.perLayerNames(workload).map { n =>
      val unit =
        if (n.endsWith("_per_s")) "1/s" else if (n.endsWith("_s")) "s"
        else if (n.endsWith("_mb")) "MB" else if (n.endsWith("_ratio")) "ratio" else "count"
      (n, out.perLayer.getOrElse(n, 0.0), unit)
    }
    val correct = crashed.isEmpty && out.failed == 0 && out.attempted > 0 && endToEnd.nonEmpty
    crashed.foreach(e => out.failures += s"run aborted: $e")
    val metrics = if (trace) perLayer else endToEnd

    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1).toMap
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    }
    val artifact = scala.collection.immutable.ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "error_rate" -> (if (out.attempted == 0) 0.0 else out.failed.toDouble / out.attempted),
      "failures" -> out.failures.toSeq,
      "end_to_end" -> endToEnd.map(m => m._1 -> m._2).toMap,
      "per_layer" -> perLayer.map(m => m._1 -> m._2).toMap,
      "timed_operations" -> out.latencies.size,
      "latencies_s" -> out.latencies.toSeq,
      "setup_reps_s" -> out.setupSeconds.toSeq,
      "session_start_s" -> sessionSeconds,
      "facts" -> out.facts,
      "sizes" -> scala.collection.immutable.ListMap(
        "dims" -> Sizes.Dims, "clusters" -> Sizes.Clusters, "spread" -> Sizes.Spread,
        "corpus_rows" -> Sizes.CorpusRows, "query_pool" -> Sizes.QueryPool, "k" -> Sizes.K,
        "setup_reps" -> Sizes.SetupReps, "warmup_ops" -> Sizes.WarmupOps,
        "ingest_warmup_ops" -> Sizes.IngestWarmupOps,
        "serve_warmup_queries" -> Sizes.ServeWarmupQueries,
        "serve_warmup_batches" -> Sizes.ServeWarmupBatches,
        "ivf_lists" -> Sizes.IvfLists, "ivf_probes" -> Sizes.IvfProbes,
        "hnsw_parts" -> Sizes.HnswParts, "split_len" -> Sizes.SplitLen,
        "lookback" -> Sizes.Lookback, "uploads_per_batch" -> Sizes.UploadsPerBatch,
        "base_batches" -> Sizes.BaseBatches, "serve_batch" -> Sizes.ServeBatch,
        "serve_rate_per_s" -> Sizes.ServeRate, "serve_poll_ms" -> Sizes.ServePollMs,
        "serve_open_share" -> Sizes.ServeOpenShare,
        "walk_cache_bound_mb" -> graft.operators.Hnsw.WalkCache.maxBytes / Workload.MB),
      "context" -> scala.collection.immutable.ListMap(
        "nproc" -> cores,
        "host_steal_share" -> steal,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / Workload.MB,
        "java" -> sys.props("java.version"),
        // with -Xshare:on the JVM does not start unless it maps the archive
        "class_data_archive" -> (jvmArgs.contains("-Xshare:on") &&
          jvmArgs.exists(_.startsWith("-XX:SharedArchiveFile="))),
        "jvm_args" -> jvmArgs,
        "spark" -> spark.version,
        "git_head" -> opts.get("git-head"),
        "source_hash" -> opts.get("source-hash"),
        "spark_conf" -> conf))
    val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    write(new java.io.File(outDir, s"$stem.json"), Json(artifact))
    if (trace) writeSpans(new java.io.File(outDir, s"$stem-spans.json"), tracer)
    tracer.close()
    spark.stop()

    if (crashed.isDefined) {
      crashed.get.printStackTrace()
      sys.exit(3)
    }
    val line = scala.collection.immutable.ListMap[String, Any](
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*))
    if (!correct) out.failures.foreach(f => System.err.println(s"check failed: $f"))
    println(Json(line))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, (s + "\n").getBytes("UTF-8"))

  /** Every span with its self time and Spark work, in start order. */
  private def writeSpans(f: java.io.File, t: Tracer): Unit = {
    val rows = t.allSpans.sortBy(_.startNs).map { s =>
      val w = t.workOf(s.id)
      scala.collection.immutable.ListMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> t.selfSeconds(s), "jobs" -> w.jobs, "tasks" -> w.tasks,
        "executor_cpu_s" -> w.cpuNs / 1e9, "input_mb" -> w.inBytes / Workload.MB)
    }
    val selfByName = t.allSpans.groupBy(_.name).map { case (n, ss) =>
      n -> scala.collection.immutable.ListMap("count" -> ss.size,
        "self_s" -> ss.map(t.selfSeconds).sum, "seconds" -> ss.map(_.seconds).sum)
    }
    write(f, Json(scala.collection.immutable.ListMap("self_time_by_name" -> selfByName,
      "spans" -> rows)))
  }
}
