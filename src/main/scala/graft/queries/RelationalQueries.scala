package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational/analytic inventory (SURVEY.md §2) — the Postgres side of
  * the reference: scans, filtered aggregates, star joins, top-k,
  * window analytics over the event stream.
  *
  * Determinism: monetary/quantity sums go through DECIMAL (exact,
  * order-independent) and only then to DOUBLE, so Spark's partial-
  * aggregation order can't perturb the value vs DuckDB.
  */
object RelationalQueries {

  private val D2 = "decimal(18,2)"
  private val D6 = "decimal(18,6)"

  /** sum(extendedprice * (1 - discount)) in exact decimal, as double. */
  private def revenueAgg = sum(
    col("l_extendedprice").cast(D2) * (lit(1).cast(D2) - col("l_discount").cast(D2))
  ).cast("double")

  private val revenueSql =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  // ---------------------------------------------------------------- q1_agg
  private def q1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(D2)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D2)).cast("double").as("sum_base_price"),
        revenueAgg.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q1Sql = s"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           $revenueSql AS sum_disc_price,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------- q3_topk_join
  private def q3(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
    // segment-filtered customer is the small side → broadcast; the
    // orders⋈lineitem join shuffles on the (true) orderkey key only.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(revenueAgg.as("revenue"))
      .select(
        col("o_orderkey"),
        col("revenue"),
        unix_timestamp(col("o_orderdate")).as("o_orderdate_s"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q3Sql = s"""
    SELECT o_orderkey,
           $revenueSql AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10"""

  // --------------------------------------------------------- q5_multi_join
  private def q5(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
    // star join: dims (region/nation/supplier/customer) broadcast, the
    // two fact tables shuffle once on orderkey.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c),
        col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenueAgg.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q5Sql = s"""
    SELECT n_name, $revenueSql AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  // ----------------------------------------------------------- topk_orders
  private def topkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  private val topkOrdersSql = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20"""

  // ----------------------------------------------------- events_window_agg
  // Batch twin of graft.streaming.EventStream.windowedCounts: tumbling
  // 1-hour windows keyed on the truncated timestamp.
  private def eventsWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        expr("(ts DIV 1000000000) DIV 3600 * 3600").as("bucket_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(D6)).cast("double").as("sum_value"))
      .orderBy(col("bucket_start"), col("event_type"))

  private val eventsWindowAggSql = """
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket_start, event_type"""

  // ----------------------------------------------------- stream_window_agg
  private val StreamEventsTag = "stream_events_v1"
  private val StreamSessTag = "stream_sess_v1"

  /** The STREAMING twin on the hash-oracle gate (VERDICT r8 #5): the
    * same fixture runs through Structured Streaming —
    * [[graft.streaming.EventStream.windowedCounts]] fed by a real
    * file stream in four micro-batches (maxFilesPerTrigger=1, so the
    * state store genuinely merges across batches) — and the final
    * complete-mode table must HASH-match the batch oracle
    * (events_window_agg's SQL). Decimal accumulation makes the
    * aggregate independent of how the stream slices the rows; the
    * memory sink holds windows × types rows, never the corpus. */
  private def streamWindowAgg(s: SparkSession, d: String): DataFrame = {
    val src = Sidecar.built(Sidecar.dir(StreamEventsTag, d)) { p =>
      Tables.events(s, d).repartition(4, col("user_id"))
        .write.mode("overwrite").parquet(p)
    }
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val name = "graft_stream_window_agg"
    s.catalog.dropTempView(name)
    // 8 state partitions (see StreamingTwinQueries.runToTable): the
    // decimal window aggregate is partition-count independent, and
    // per-store commit overhead dominates at fixture volume
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = graft.streaming.EventStream.windowedCounts(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name).orderBy(col("bucket_start"), col("event_type"))
  }

  // ----------------------------------------------------- stream_sessionize
  /** flatMapGroupsWithState sessionization on the HASH-oracle gate
    * (the stateful streaming twin, beyond stream_window_agg's window
    * agg): the fixture's events run through
    * [[graft.streaming.EventStream.sessionize]] as a REAL file stream
    * in five micro-batches — four time-quartile slices (file-source
    * order pinned by modification time AND path) so sessions straddle
    * batch boundaries and the per-user state genuinely carries
    * across, plus one far-future sentinel event per user whose
    * arrival closes (and emits) every user's final open session; the
    * sentinel's own session stays open and is never emitted, so the
    * collected output is exactly the real session table.
    *
    * Deterministic: session membership depends only on per-second
    * gaps (intra-second order cannot move a boundary), the state
    * fold sums doubles in (ts, event_id) order — which the oracle
    * replays with an in-order list_sum — and session numbering is
    * the per-user running count. */
  private def streamSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Sidecar.dir(StreamSessTag, d)
    val srcDir = new java.io.File(base, "src")
    Sidecar.built(base) { _ =>
      srcDir.mkdirs()
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val step = math.max(1L, (hi - lo) / 4 + 1)
      val sentinelTs = hi + 86400L * 1000000000L // +1 day: past any gap
      val slices = (0 until 4).map { i =>
        ev.filter(col("ts") >= lo + i * step && col("ts") < lo + (i + 1) * step)
      } :+ ev.select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
          col("user_id"), lit("sentinel").as("event_type"), lit(0.0).as("value"))
      slices.zipWithIndex.foreach { case (df, i) =>
        val tmp = new java.io.File(base, s"tmp_$i")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(srcDir, f"chunk_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        Sidecar.drop(tmp.toString)
        // file-source ordering: modification time (and path as the
        // tie-break — names are already ascending)
        require(dst.setLastModified((i + 1) * 60000L))
      }
    }
    val schema = s.read.parquet(srcDir.toString).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .as[graft.streaming.EventStream.Event]
    val name = "graft_stream_sessionize"
    s.catalog.dropTempView(name)
    // 8 state partitions (see StreamingTwinQueries.runToTable): the
    // session state is per-user and batch-internal order is sorted by
    // the state fold itself, so the reducer count cannot move results
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = graft.streaming.EventStream.sessionize(stream, gapSec = 1800)(s)
        .toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name).orderBy(col("user_id"), col("session_id"))
  }

  /** Same session construction as the batch oracle, but the
    * per-session sum replays the STREAM's sequential double fold
    * (list_sum in (ts, event_id) order) instead of decimal
    * aggregation — the state machine adds doubles one event at a
    * time, and that order is part of the contract being verified. */
  private val streamSessionizeSql = """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(value AS DOUBLE) AS value_d
      FROM events),
    marked AS (
      SELECT *,
             CASE WHEN lag(ts_s) OVER w IS NULL
                    OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT *,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts_s) AS session_start_s,
           max(ts_s) AS session_end_s,
           list_sum(list(value_d ORDER BY ts, event_id)) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""

  // ----------------------------------------------------- events_sessionize
  // Gap-based sessionization (30-min idle gap) via running-sum window —
  // batch twin of EventStream.sessionize (flatMapGroupsWithState).
  private def eventsSessionize(s: SparkSession, d: String): DataFrame = {
    val tsS = expr("ts DIV 1000000000")
    val ordW = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), tsS.as("ts_s"),
        col("value").cast(D6).as("value_d"))
      .withColumn("prev_s", lag(col("ts_s"), 1).over(ordW))
      .withColumn("is_new",
        when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(ordW.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_s")).as("session_start_s"),
        max(col("ts_s")).as("session_end_s"),
        sum(col("value_d")).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val eventsSessionizeSql = """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(value AS DECIMAL(18,6)) AS value_d
      FROM events),
    marked AS (
      SELECT *,
             CASE WHEN lag(ts_s) OVER w IS NULL
                    OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
    sess AS (
      SELECT *,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts_s) AS session_start_s,
           max(ts_s) AS session_end_s,
           CAST(sum(value_d) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""

  val defs: Map[String, QueryDef] = Map(
    "q1_agg"            -> QueryDef(q1 _, q1Sql),
    "q3_topk_join"      -> QueryDef(q3 _, q3Sql),
    "q5_multi_join"     -> QueryDef(q5 _, q5Sql),
    "topk_orders"       -> QueryDef(topkOrders _, topkOrdersSql),
    "events_window_agg" -> QueryDef(eventsWindowAgg _, eventsWindowAggSql),
    "stream_window_agg" -> QueryDef(streamWindowAgg _, eventsWindowAggSql),
    "stream_sessionize" -> QueryDef(streamSessionize _, streamSessionizeSql),
    "events_sessionize" -> QueryDef(eventsSessionize _, eventsSessionizeSql),
  )
}
