package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming twins on the HASH-oracle gate, round 10 — extending the
  * r9 pair (stream_window_agg, stream_sessionize) to the rest of the
  * EventStream surface: per-key sequential state (ewmaStream),
  * watermarked exact dedup (dedupStream), and the two stream-stream
  * interval joins (clickToPurchase, abandonedClicks). Each entry runs
  * the REAL streaming operator over a multi-micro-batch file feed and
  * must hash-match a batch DuckDB oracle.
  *
  * Why these are deterministic (SURVEY §3):
  *  - the feed replays the fixture as four time-quartile slices, one
  *    sorted single-part file per slice, file-source order pinned by
  *    modification time and path, one file per micro-batch — so
  *    arrival order IS (ts, event_id) order, globally;
  *  - ewmaStream folds each batch in (ts, event_id) order, so the
  *    user's final state is the whole fixture folded in that order —
  *    which DuckDB replays with list_reduce over an ordered list
  *    (sequential double fold, bit-exact);
  *  - dedupStream's horizon exceeds the fixture's span, so no state
  *    evicts and the survivor set is exactly first-arrival-per-key;
  *  - the inner interval join's output is a SET equal to the batch
  *    join (watermark eviction only discards rows that can no longer
  *    match — Spark's documented guarantee); the left-outer twin
  *    additionally needs the watermark to pass every click's join
  *    window before null rows flush, which a far-future sentinel file
  *    (event_id −1/−2, filtered from the result) forces.
  */
object StreamingTwinQueries {

  private def sliceDir(s: SparkSession, d: String, sentinel: Boolean): String = {
    val base = Sidecar.dir(
      if (sentinel) "stream_feed_v1_sent" else "stream_feed_v1_plain", d)
    val srcDir = new java.io.File(base, "src")
    Sidecar.built(base) { _ =>
      srcDir.mkdirs()
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val step = math.max(1L, (hi - lo) / 4 + 1)
      val sentinelTs = hi + 2L * 86400L * 1000000000L // +2 days in nanos
      val slices = (0 until 4).map { i =>
        ev.filter(col("ts") >= lo + i * step && col("ts") < lo + (i + 1) * step)
      } ++ (if (!sentinel) Nil else Seq(
        // one click + one purchase marker: their only job is to push
        // BOTH join-side watermarks past every real row's join window
        // so outer-state flushes; user_id −1 keeps them out of real
        // matches and the queries filter event_id < 0 regardless
        s.range(1).select(
          lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
          lit(-1L).as("user_id"), lit("click").as("event_type"),
          lit(0.0).as("value"))
          .unionByName(s.range(1).select(
            lit(-2L).as("event_id"), lit(sentinelTs).as("ts"),
            lit(-1L).as("user_id"), lit("purchase").as("event_type"),
            lit(0.0).as("value")))))
      slices.zipWithIndex.foreach { case (df, i) =>
        val tmp = new java.io.File(base, s"tmp_$i")
        // ONE sorted partition per slice file: arrival order within a
        // micro-batch is file order, and file order is (ts, event_id)
        df.repartition(1).sortWithinPartitions(col("ts"), col("event_id"))
          .write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(srcDir, f"chunk_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        Sidecar.drop(tmp.toString)
        require(dst.setLastModified((i + 1) * 60000L))
      }
    }
    srcDir.toString
  }

  private def eventStream(s: SparkSession, d: String, sentinel: Boolean): DataFrame = {
    val src = sliceDir(s, d, sentinel)
    val schema = s.read.parquet(src).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
  }

  private def runToTable(s: SparkSession, name: String,
      out: DataFrame, mode: String): DataFrame = {
    s.catalog.dropTempView(name)
    // State-partition tuning: each stateful operator commits one state
    // store per shuffle partition per micro-batch, and at this
    // fixture's volume the per-store commit overhead dominates the
    // state work itself — the twins run their micro-batches at 8
    // state partitions (a real deployment sizes this to state volume,
    // the same knob). Results are partition-count independent: state
    // is per-key, per-key arrival order survives any reducer count
    // (one ordered upstream partition per batch), and the joins are
    // set-equal to their batch oracles. Session conf restored after.
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try {
      val q = out.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set(key, prev)
    s.table(name)
  }

  // ---------------------------------------------------------- stream_ewma
  /** [[EventStream.ewmaStream]] (mapGroupsWithState, α = 1/2) across
    * four real micro-batches: the update-mode sink keeps every
    * per-batch emission, and a user's final state is the row with the
    * largest n_events (strictly increasing per emission). The oracle
    * replays the recurrence as a sequential left fold seeded with the
    * first value — exactly the state machine's arithmetic, in the
    * same (ts, event_id) order the feed guarantees. */
  private def streamEwma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = eventStream(s, d, sentinel = false)
      .as[EventStream.Event]
    val table = runToTable(s, "graft_stream_ewma",
      EventStream.ewmaStream(stream)(s).toDF(), mode = "update")
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    table.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy(col("user_id"))
  }

  private val streamEwmaSql = """
    SELECT user_id, count(*) AS n_events,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> 0.5*x + 0.5*acc) AS ewma
    FROM events
    GROUP BY user_id
    ORDER BY user_id"""

  // --------------------------------------------------------- stream_dedup
  /** [[EventStream.dedupStream]] (dropDuplicatesWithinWatermark) with
    * the horizon past the fixture's span: no state evicts, so exactly
    * the first arrival of each content key survives — and because the
    * feed arrives in (ts, event_id) order through single-partition
    * batches, "first arrival" is deterministic. Content key =
    * user_id|event_type, so the output is each user's first event of
    * each type — the streaming twin of Dedup.exact. */
  private def streamDedup(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d, sentinel = false)
      .withColumn("ts_ts", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("content",
        concat_ws("|", col("user_id"), col("event_type")))
    val table = runToTable(s, "graft_stream_dedup",
      EventStream.dedupStream(stream, "ts_ts", "content", horizon = "365 days"),
      mode = "append")
    table.select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"),
        expr("ts DIV 1000000000").as("first_ts_s"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val streamDedupSql = """
    WITH r AS (
      SELECT user_id, event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT user_id, event_type, event_id AS first_event_id, ts_s AS first_ts_s
    FROM r WHERE rn = 1
    ORDER BY user_id, event_type"""

  // ----------------------------------------------------- stream_click2buy
  /** [[EventStream.clickToPurchase]] — the stream-stream interval join
    * across real micro-batches. Inner-join output is emitted as
    * matches arrive and watermark eviction only discards rows whose
    * join window has provably passed, so the final table is the SAME
    * SET as the batch interval join, independent of batch slicing. */
  private def streamClick2Buy(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d, sentinel = true)
    val clicks = stream.filter(col("event_type") === "click")
    val purchases = stream.filter(col("event_type") === "purchase")
    val table = runToTable(s, "graft_stream_click2buy",
      EventStream.clickToPurchase(clicks, purchases), mode = "append")
    table.filter(col("click_id") >= 0 && col("purchase_id") >= 0)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  private val streamClick2BuySql = """
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ORDER BY purchase_id, click_id"""

  // ----------------------------------------------------- stream_abandoned
  /** [[EventStream.abandonedClicks]] — the left-outer interval join.
    * Null (abandoned) rows flush only when the watermark proves no
    * purchase can still arrive inside the click's one-hour window, so
    * the sentinel file's far-future markers are what close the last
    * real clicks' windows; the markers themselves never flush (their
    * own window never closes) and are filtered out. */
  private def streamAbandoned(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d, sentinel = true)
    val clicks = stream.filter(col("event_type") === "click")
    val purchases = stream.filter(col("event_type") === "purchase")
    val table = runToTable(s, "graft_stream_abandoned",
      EventStream.abandonedClicks(clicks, purchases), mode = "append")
    table.filter(col("click_id") >= 0)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val streamAbandonedSql = """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           p.event_id IS NULL AS abandoned
    FROM events c LEFT JOIN events p
      ON p.user_id = c.user_id AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    ORDER BY click_id, purchase_id NULLS FIRST"""

  // ------------------------------------------------------ stream_trending
  /** [[EventStream.trendingTopK]] — the windowed SpaceSaving sketch in
    * STREAMING state (one capacity-bounded sketch per window, merged
    * across micro-batches exactly like text_topk_sketch's shuffle
    * combine). On the hash gate by the sub-capacity argument: the
    * fixture's item domain (5 event types) is far below capacity 64,
    * so the sketch never evicts, counts are exact, and the top-k
    * array order is the deterministic (−cnt, item) tie-break —
    * which the oracle replays as row_number() over
    * (cnt DESC, event_type). Append mode emits a window only when
    * the watermark closes it; the sentinel file's far-future markers
    * close the last real windows (their own window never emits). */
  private def streamTrending(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d, sentinel = true)
    val table = runToTable(s, "graft_stream_trending",
      EventStream.trendingTopK(stream, capacity = 64, k = 3), mode = "append")
    table
      .select(col("bucket_start"), posexplode(col("top")).as(Seq("pos", "x")))
      .select(col("bucket_start"), (col("pos") + 1).cast("long").as("rank"),
        col("x.item").as("event_type"), col("x.cnt").as("cnt"))
      .orderBy(col("bucket_start"), col("rank"))
  }

  private val streamTrendingSql = """
    WITH b AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_start,
             event_type, count(*) AS cnt
      FROM events
      GROUP BY 1, 2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY bucket_start
                                   ORDER BY cnt DESC, event_type) AS rank
      FROM b)
    SELECT bucket_start, rank, event_type, cnt
    FROM r WHERE rank <= 3
    ORDER BY bucket_start, rank"""

  val defs: Map[String, QueryDef] = Map(
    "stream_ewma"      -> QueryDef(streamEwma _, streamEwmaSql),
    "stream_dedup"     -> QueryDef(streamDedup _, streamDedupSql),
    "stream_click2buy" -> QueryDef(streamClick2Buy _, streamClick2BuySql),
    "stream_abandoned" -> QueryDef(streamAbandoned _, streamAbandonedSql),
    "stream_trending"  -> QueryDef(streamTrending _, streamTrendingSql),
  )
}
