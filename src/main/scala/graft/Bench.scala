package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every inventory query at SPARK_GRAFT_SF_DIR,
  * one JSON line. Each query is forced through the noop sink so the
  * full projection materializes (a bare count() would let Catalyst
  * prune the computed columns and understate the work).
  *
  * The JSON line is printed to stdout AND written to
  * `SPARK_GRAFT_BENCH_OUT` (default ./bench_out.json) so the driver
  * can parse it structurally even when a build tool prefixes or
  * swallows program output (VERDICT r1 "What's wrong" #6).
  *
  * An entry with a [[QueryDef.build]] reports `<name>_build` (the
  * build, which rebuilds its stores from scratch) and `<name>_probe`
  * (the entry's own `fn`, which then only reads them) separately: an
  * index is built once and probed many times, so a single conflated
  * number hides probe regressions behind build cost (VERDICT r1 #5).
  *
  * Warm timing (VERDICT r2 "next" #8): each sub-`WarmThreshold` cold
  * run is followed by a warm re-run whose time is reported — the
  * cold pass pays one-time driver costs (janino whole-stage-codegen
  * compilation, parquet footer listing) that amortize to zero on a
  * real cluster run, so the warm number is the 100 TB-relevant one.
  * Cold times stay in the JSON under `"cold"`, so nothing is hidden;
  * queries past the threshold are dominated by real work and are
  * reported cold (re-running them would double bench wall time for
  * no information). */
object Bench {

  /** Cold-run time under which the planning/codegen floor dominates
    * and a warm re-run is measured instead. */
  private val WarmThreshold = 3.0

  private def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // Subset runs (r15 — the committed BENCH_sf10 artifact, VERDICT r14
    // #4): SPARK_GRAFT_BENCH_ONLY = comma-separated entry names limits
    // BOTH the inventory and the serving passes; unset = full bench.
    // All guard fields (canary, calib, contended, cached) still stamp,
    // so a subset artifact carries the same self-diagnosis.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Cold-store runs (r18 — VERDICT r17 #2: the r17 scaling pair was
    // uninterpretable because the 8-core run consumed sidecar stores
    // built by the 32-core run, so its `_build` rows read 0.000 s).
    // SPARK_GRAFT_WIPE_STORES=1 deletes every graft_* store root under
    // the tmpdir BEFORE the battery, so a c8/c32 pair can be run
    // both-cold by contract instead of by hand-wiping. The wipe skips
    // the io-floor stamp (a measurement calibration, not a store) and
    // any generated 10× fixture (graft_sf*: input data, not derived
    // state). The artifact records the wipe so consumers can tell the
    // two run modes apart.
    val wipedStores = sys.env.get("SPARK_GRAFT_WIPE_STORES").contains("1") && {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      Option(tmp.listFiles).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
          !f.getName.startsWith("graft_sf"))
        .foreach { f =>
          System.err.println(s"[bench] SPARK_GRAFT_WIPE_STORES: removing $f")
          Sidecar.drop(f.toString)
        }
      true
    }
    // names that actually matched an entry — a typo'd ONLY name would
    // otherwise be silently ignored and the near-empty artifact could
    // pass as a full run (ADVICE r15); the artifact self-describes as
    // a subset and lists unmatched names, and the run warns loudly.
    val onlyMatched = scala.collection.mutable.Set.empty[String]
    def wanted(name: String): Boolean = only.forall { o =>
      val w = o.contains(name)
      if (w) onlyMatched += name
      w
    }
    // ---- IO-pressure guard (VERDICT r15 #6): the CPU canary cannot
    // see page-cache writeback — a discarded r15 sf1.0 run had 3-5×
    // row inflation under a CLEAN canary right after a Verify pass
    // wrote GBs to the same box. Two defenses:
    //  (1) refuse to start within a cool-down of a Verify pass on the
    //      SAME fixture (Verify stamps a marker file at exit);
    //  (2) measure IO pressure directly — /proc/meminfo Dirty+Writeback
    //      plus a timed fsync'd write+readback probe — wait for drain,
    //      and stamp the final readings into the artifact next to
    //      `calib` so a pressured run self-identifies.
    def dirtyKb(): Long = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines()
        .filter(l => l.startsWith("Dirty:") || l.startsWith("Writeback:"))
        .map(_.split("\\s+")(1).toLong).sum
      finally src.close()
    } catch { case _: Throwable => -1L }
    def ioProbe(): Double = try {
      val f = java.io.File.createTempFile("graft_ioprobe", ".bin")
      val buf = new Array[Byte](4 * 1024 * 1024)
      val t0 = System.nanoTime()
      val ch = new java.io.FileOutputStream(f)
      ch.write(buf); ch.getFD.sync(); ch.close()
      val in = new java.io.FileInputStream(f)
      while (in.read(buf) > 0) {}
      in.close(); f.delete()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }
    val marker = new java.io.File(sys.props("java.io.tmpdir"), "graft_verify_marker.json")
    if (marker.exists() && sys.env.get("SPARK_GRAFT_BENCH_FORCE").isEmpty) {
      val txt = try new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
        catch { case _: Throwable => "" }
      val ageS = (System.currentTimeMillis() - marker.lastModified()) / 1000
      if (txt.contains("\"" + sfDir + "\"") && ageS < 180) {
        System.err.println(s"[bench] REFUSED: a Verify pass on $sfDir finished " +
          s"${ageS}s ago — its writeback inflates IO-heavy rows while the CPU " +
          "canary stays clean (BENCH_NOTES r15). Wait out the cool-down or " +
          "set SPARK_GRAFT_BENCH_FORCE=1.")
        sys.exit(3)
      }
    }
    var dirty0 = dirtyKb()
    val DirtyThresholdKb = 256L * 1024
    var drained = 0
    while (dirty0 > DirtyThresholdKb && drained < 12) {
      System.err.println(s"[bench] waiting for writeback drain: Dirty+Writeback=${dirty0}kB")
      Thread.sleep(5000); drained += 1; dirty0 = dirtyKb()
    }
    // min-of-3 (r16): a single probe conflates the box's fsync
    // BASELINE with pressure — the r16 box floors at ~0.5s where the
    // r15 threshold sat, stamping clean runs pressured. The failure
    // mode this guard exists for (page-cache writeback after a Verify
    // pass) inflates the probe ~10×, far past 1s; a stable sub-1s min
    // across three probes is the disk's idle latency, not load.
    val ioProbes = Seq.fill(3)(ioProbe())
    val ioProbeS = ioProbes.min
    // measured-baseline bar (r17, ADVICE r16): the fixed 1.0s constant
    // combined with min-of-3 stamped a box with a sustained 0.6-0.9s
    // probe floor (real background IO) clean. The bar is now 2× the
    // box's own idle floor — the monotone minimum probe ever observed
    // here, persisted across runs (a true idle floor only shrinks; a
    // contaminated first write converges down on the next quiet run).
    // The floor cap (1.0s) stops a pathological first run from baking
    // in a huge bar; the bar floor (0.25s) keeps fast-NVMe boxes from
    // flagging ordinary jitter. Per-probe values stay in io_probes.
    val floorFile = new java.io.File(sys.props("java.io.tmpdir"), "graft_bench_io_floor.txt")
    val prevFloor: Option[Double] = try {
      val v = new String(java.nio.file.Files.readAllBytes(floorFile.toPath), "UTF-8").trim.toDouble
      if (v > 0 && !v.isNaN && !v.isInfinite) Some(v) else None
    } catch { case _: Throwable => None }
    val ioFloor = math.min(prevFloor.fold(ioProbeS)(math.min(_, ioProbeS)), 1.0)
    try java.nio.file.Files.write(floorFile.toPath, f"$ioFloor%.4f%n".getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val ioBar = math.max(2.0 * ioFloor, 0.25)
    val ioPressured = dirty0 > DirtyThresholdKb || ioProbeS > ioBar
    if (ioPressured)
      System.err.println(s"[bench] IO PRESSURE at start: dirty=${dirty0}kB " +
        f"probes=${ioProbes.map(p => f"$p%.3f").mkString("/")}s floor=$ioFloor%.3f " +
        f"bar=$ioBar%.3f — artifact stamped io_pressured")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", 1024) // point-read In lists prune row groups (Dedup.eqAnyPred)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // session warmup: JVM, codegen, shuffle machinery — not any query's work
    spark.range(1000000).selectExpr("sum(id) s").collect()

    // Box-speed calibration (VERDICT r14 #5): a fixed CPU-bound kernel
    // — no Spark, no IO, single thread — timed into every artifact, so
    // cross-round comparisons carry a box normalizer and pure box
    // drift self-identifies the way contention now does (the r14 sf1.0
    // adjudication needed a manual code-identical worktree A/B to
    // prove the 1.16× was the box; this row makes that an artifact
    // diff). Reading rule in BENCH_NOTES: compare rounds as
    // (total / calib) ratios; a calib shift explains a same-code total
    // shift of the same magnitude.
    def calibrate(): Double = {
      def once(): Double = {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        val t0 = System.nanoTime()
        while (i < 400000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (x == 0) System.err.println("[bench] calib sink") // keep the loop live
        dt
      }
      once() // JIT warm
      math.min(once(), once())
    }
    val calib = calibrate()

    // Ensure-cached `_build` stamping (VERDICT r14 "what's wrong" #2):
    // fingerprint-keyed stores make a repeat build a ~0 s ensure — the
    // committed row then silently reads as "builds are free". A build
    // row is stamped into the artifact's `cached` list when it BOTH
    // finished under the ensure floor AND wrote no store artifact
    // ([[Sidecar.wroteStores]]) — consumers must not read stamped rows
    // as cold build cost.
    val CachedBuildMax = 0.3
    val cachedBuilds = scala.collection.mutable.ArrayBuffer.empty[String]

    // between queries: free any blocks the previous query materialized
    // (checkpointed intermediates). Queries are self-contained; leaked
    // blocks otherwise accumulate across the run until GC pressure
    // poisons later multi-job queries (measured 5-10× degradation).
    def sweepBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))

    val coldTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warmTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(thunk: () => Unit): Double = {
      val t0 = System.nanoTime()
      thunk()
      (System.nanoTime() - t0) / 1e9
    }
    // Contention canary (VERDICT r8 #8): a fixed floor query timed
    // after every entry. Its time is constant on an idle machine; if
    // the canary inflates around some entries in a DRIVER artifact,
    // the inflation quantifies multi-job/neighbor contention in that
    // run — the confound that has skewed three rounds of driver
    // numbers — so the artifact self-diagnoses (see BENCH_NOTES.md).
    val canaryTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def canary(name: String): Unit =
      canaryTimes(name) = timed(() => {
        spark.range(4000000L).selectExpr("sum(id) s").collect(); ()
      })
    /** Cold run; below the threshold, a warm re-run is the reported
      * number (cold recorded alongside). The block sweep isolates
      * entries from each other, not a run from its own warm pass, so
      * none runs between the two: each pass plans the entry's `fn`
      * anew over its persisted stores. */
    def coldThenWarm(name: String, thunk: () => Unit): Double = {
      val cold = timed(thunk)
      if (cold >= WarmThreshold) {
        // r13 (the six-entry A/B): an entry whose cold run sits NEAR
        // the threshold is bistable across rounds — under contention
        // its cold crosses 3.0 s and the REPORTED number flips from
        // warm to cold (events_ewma read 1.31 warm in r10 and 3.29
        // cold in r12 with an unchanged plan). For the near band,
        // measure the warm run too and record it in the file JSON
        // (`warm` map), so round-over-round comparisons can always be
        // made like-with-like.
        if (cold < 2 * WarmThreshold) {
          try { warmTimes(name) = timed(thunk) }
          catch { case scala.util.control.NonFatal(_) => () }
        }
        cold
      } else {
        coldTimes(name) = cold
        // a warm-run failure reports -1 upstream; drop the cold entry
        // so the file JSON doesn't show the query both failed and timed
        try timed(thunk)
        catch { case e: Throwable => coldTimes.remove(name); throw e }
      }
    }

    // -1 marks a failed row: it can't masquerade as fast
    def orFail(row: String)(t: => Double): Double =
      try t catch { case e: Throwable =>
        System.err.println(s"[bench] $row failed: ${e.getMessage}")
        -1.0
      }
    val results = SparkEntry.all.toSeq.sortBy(_._1)
        .filter(q => wanted(q._1)).flatMap { case (name, q) =>
      sweepBlocks()
      val probe = () => runNoop(q.fn(spark, sfDir))
      val out = q.build match {
        case Some(build) =>
          // a failed build fails its probe row too; a failed probe
          // keeps the build's time
          val tWall = System.currentTimeMillis() - 1000 // FS mtime slack
          val tb = orFail(s"${name}_build")(timed(() => build(spark, sfDir))) // one-shot: cold
          if (tb >= 0 && tb < CachedBuildMax && !Sidecar.wroteStores(tWall))
            cachedBuilds += s"${name}_build"
          val tp = if (tb < 0) -1.0
            else orFail(s"${name}_probe")(coldThenWarm(s"${name}_probe", probe))
          Seq(s"${name}_build" -> tb, s"${name}_probe" -> tp)
        case None => Seq(name -> orFail(name)(coldThenWarm(name, probe)))
      }
      canary(name)
      out
    }
    // Streaming serving family (VERDICT r9 #7): fixed micro-batch
    // replays at steady state — build + warm-up feed are untimed
    // startup; the timed probe is one end-to-end micro-batch. These
    // are not SparkEntry queries (no oracle surface), so they run as
    // their own canary-annotated pass after the main loop.
    val servingResults = (graft.streaming.ServingBench.all ++
        graft.streaming.ServingBench.tput)
        .filter(p => wanted(p._1)).flatMap { case (name, mk) =>
      sweepBlocks()
      val out =
        try {
          val p = mk(spark, sfDir)
          try {
            // honest build cost (VERDICT r13 #8): the serving families
            // amortize index/store builds outside the timed probe; the
            // `_build` row records them (index build + stream startup +
            // one warm-up micro-batch — the cost a deploy actually pays
            // before first steady-state serve). One-shot by design: cold.
            val tWall = System.currentTimeMillis() - 1000
            val tb = timed(p.build)
            if (tb < CachedBuildMax && !Sidecar.wroteStores(tWall))
              cachedBuilds += s"${name}_build"
            Seq(s"${name}_build" -> tb,
              name -> coldThenWarm(name, p.probe))
          } finally p.stop()
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Seq(name -> -1.0)
        }
      canary(name)
      out
    }
    val allResults = results ++ servingResults
    // Locale.ROOT: the default-locale f"" interpolator would emit
    // "0,711" on comma-decimal locales — invalid JSON for the driver.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jsonMap(m: Seq[(String, Double)], round: Boolean): String =
      m.map { case (k, v) =>
        val num = if (round) f3(v) else v.toString
        "\"" + k + "\":" + num
      }.mkString("{", ",", "}")
    val total = allResults.map(_._2).filter(_ >= 0).sum
    // stdout line must stay SHORT: the driver captures a bounded tail
    // of program output and parses the JSON line out of it. Round 3's
    // line (full-precision doubles + the cold map) overflowed that
    // window and the round lost its parsed bench numbers. Rounded
    // millisecond precision, no cold map — full precision + cold go
    // to the bench_out.json file instead.
    // canary summary: median + max on the short stdout line (two
    // numbers diagnose "was this run contended"); the per-entry map
    // goes to the file JSON only
    val cSorted = canaryTimes.values.toSeq.sorted
    val cMed = if (cSorted.isEmpty) 0.0 else cSorted(cSorted.size / 2)
    val cMax = if (cSorted.isEmpty) 0.0 else cSorted.last
    // Contention GUARD (VERDICT r13 "what's wrong" #1): the committed
    // r13 artifact was 2.8× inflated by neighbor contention and still
    // shipped as the round's number — nothing structural stopped it.
    // A run whose canary max exceeds 3× its median is now stamped
    // `"contended": true` in BOTH the stdout line and the file JSON
    // (with the per-entry dirty list), so a dirty artifact can never
    // again pass as a clean round-over-round comparison point: the
    // consumer must either re-run on a quiet box or read per-entry
    // canaries. The guard annotates rather than aborts — a partial
    // artifact with a warning beats a round with no numbers at all.
    // An ABSOLUTE slack term rides along (max − med > 0.25 s): with a
    // fast-box median of ~50 ms, a single 100 ms scheduler hiccup is
    // a 3× ratio but contaminates nothing — the r13 contamination this
    // guard exists for read max 3.3 s over a 0.097 median.
    val contended = cMed > 0 && cMax / cMed > 3.0 && cMax - cMed > 0.25
    val dirty = canaryTimes.collect {
      case (n, c) if cMed > 0 && c / cMed > 2.0 && c - cMed > 0.25 => n
    }.toSeq.sorted
    if (contended)
      System.err.println(s"[bench] CONTENDED RUN: canary max ${f3(cMax)} > " +
        s"3x median ${f3(cMed)} (${dirty.size} dirty entries) — do not use " +
        "this artifact for round-over-round comparisons; re-run on a quiet box")
    val contJson = s""","contended":$contended"""
    val dirtyJson = dirty.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cachedJson = cachedBuilds.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // subset stamp (ADVICE r15): a BENCH_ONLY run self-describes so a
    // cross-round total comparison can never misread a subset total as
    // a full run, and unmatched (typo'd) names are surfaced
    val subsetJson = only match {
      case None => ""
      case Some(o) =>
        val unmatched = (o -- onlyMatched).toSeq.sorted
        if (unmatched.nonEmpty)
          System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY names matched " +
            s"no entry: ${unmatched.mkString(", ")} — check for typos")
        s""","subset":true,"only":${o.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"only_unmatched":${unmatched.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    }
    val ioJson = s""","dirty_kb":$dirty0,"io_probe":${f3(ioProbeS)},""" +
      s""""io_probes":[${ioProbes.map(f3).mkString(",")}],"io_floor":${f3(ioFloor)},""" +
      s""""io_bar":${f3(ioBar)},"io_pressured":$ioPressured"""
    // the DIRTY-entry list now rides on the short stdout line too
    // (r18 — VERDICT r17 #2: the driver captures only stdout, and the
    // r17 32-core artifact's contended window could not be excluded
    // per-row from the line alone; the full per-entry canary map stays
    // file-JSON-only to keep the line inside the driver's capture
    // window, but the dirty NAMES are what a consumer needs to drop
    // contaminated rows)
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${jsonMap(allResults, round = true)},"canary_med":${f3(cMed)},"canary_max":${f3(cMax)}$contJson,"canary_dirty":$dirtyJson,"stores_wiped":$wipedStores$subsetJson$ioJson,"calib":${f3(calib)},"cached_builds":${cachedBuilds.size},"sf":"$sfDir"}"""
    println(line)
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(allResults, round = false)},"cold":${jsonMap(coldTimes.toSeq, round = false)},"warm":${jsonMap(warmTimes.toSeq, round = false)},"canary":${jsonMap(canaryTimes.toSeq, round = false)}$contJson,"stores_wiped":$wipedStores$subsetJson$ioJson,"canary_dirty":$dirtyJson,"calib":$calib,"cached":$cachedJson,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fileLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    spark.stop()
  }
}
