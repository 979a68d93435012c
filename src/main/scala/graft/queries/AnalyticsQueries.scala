package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import graft.QueryDef.rebuild
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced event analytics (SURVEY.md §2 extension): as-of enrich,
  * sliding windows, deterministic quantiles — the time-series side of
  * an analytics engine, each with an exact DuckDB oracle.
  */
object AnalyticsQueries {

  // ------------------------------------------------------------- as-of
  /** For each error event, the most recent prior click by the same
    * user. The as-of key is MICROSECOND-truncated: DuckDB coerces the
    * parquet TIMESTAMP(NANOS) column to µs TIMESTAMP, so comparing at
    * raw nanos would flip matches for events inside the same µs. */
  private def asofEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("value"))
    AsOfJoin.backward(err, clk, Seq("user_id"), "ts_us", Seq("value"))
      .select(
        col("event_id"), col("user_id"),
        expr("ts_us DIV 1000000").as("err_ts_s"),
        coalesce(expr("ts_us_asof DIV 1000000"), lit(-1L)).as("click_ts_s"),
        coalesce(col("value_asof"), lit(-1.0)).as("click_value"))
      .orderBy(col("event_id"))
  }

  private val asofEnrichSql = """
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    clk AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS err_ts_s,
           coalesce(CAST(floor(epoch(c.ts)) AS BIGINT), -1) AS click_ts_s,
           coalesce(c.value, -1.0) AS click_value
    FROM err e ASOF LEFT JOIN clk c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY event_id"""

  // -------------------------------------------------------- range join
  /** Per purchase: count + value-sum of the same user's clicks in the
    * trailing hour — the attribution-window join every funnel/abuse
    * pipeline runs. Spark-side it is [[RangeJoin.banded]]: an
    * EQUI-join on (user, time-band) with the exact window predicate
    * after, never a per-key nested loop (see RangeJoin scaladoc);
    * DuckDB verifies against the declared inequality join. µs
    * truncation for cross-engine parity, as in [[asofEnrich]]. */
  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_us"), col("value"))
    graft.operators.RangeJoin.banded(purchases, clicks, Seq("user_id"),
        lTime = "ts_us", rTime = "click_us", lo = -3600000000L, hi = 0L)
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("value")).as("sum_value"))
      .orderBy(col("event_id"))
  }

  private val rangeJoinSql = """
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, epoch_us(ts) AS click_us, value
          FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           sum(c.value) AS sum_value
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.click_us > p.ts_us - 3600000000 AND c.click_us <= p.ts_us
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id"""

  // ----------------------------------------------------- sliding window
  /** 2-hour windows sliding by 1 hour via Spark's native window();
    * each event lands in exactly two buckets. */
  private def slidingAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ts_ts", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window(col("ts_ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  private val slidingAggSql = """
    WITH e AS (SELECT event_type, value,
                      CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hr
               FROM events),
    exploded AS (
      SELECT event_type, value, hr - 3600 AS win_start FROM e
      UNION ALL
      SELECT event_type, value, hr AS win_start FROM e)
    SELECT win_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM exploded
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type"""

  // ---------------------------------------------------------- quantiles
  /** Exact p50/p95 of value per event type, deterministic rank pick
    * (row_number over (value, event_id), element at ceil(p·n)) — the
    * same algorithm in both engines, so no interpolation drift. */
  private def quantiles(s: SparkSession, d: String): DataFrame = {
    val ranked = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // single pass: each row emits whichever p-levels it is the rank
    // pick for (a row can be both p50 and p95 in tiny groups)
    ranked
      .select(col("event_type"), col("value"),
        explode(filter(array(lit(0.5), lit(0.95)),
          p => col("rn") === ceil(p * col("n")).cast("long"))).as("p"))
      .select(col("event_type"), col("p"), col("value"))
      .orderBy(col("event_type"), col("p"))
  }

  private val quantilesSql = """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type, p, value
    FROM ranked
    CROSS JOIN (SELECT unnest([0.5, 0.95]) AS p)
    WHERE rn = CAST(ceil(p * n) AS BIGINT)
    ORDER BY event_type, p"""

  // ---------------------------------------------------------------- JSON
  /** Semi-structured props: extract $.k, aggregate per type. JSON path
    * evaluation happens in the scan projection (codegen'd
    * get_json_object) — no UDF, no reparse per reference. */
  private def jsonAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n"))
      .orderBy(col("event_type"))

  private val jsonAggSql = """
    WITH e AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type, count(k) AS n, min(k) AS min_k, max(k) AS max_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / count(k) AS avg_k
    FROM e
    GROUP BY event_type
    ORDER BY event_type"""

  // -------------------------------------------------------- window suite
  /** Window-function breadth on one totally-ordered frame: row_number,
    * rank (with real ties on value), lead gap, ntile quartiles. */
  private def userStats(s: SparkSession, d: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    // rank over value alone so real ties produce equal ranks (an
    // event_id tie-break would degenerate rank into row_number)
    val byValue = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
    Tables.events(s, d)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000000000").as("ts_s"), col("value"))
      .select(
        col("user_id"), col("event_id"),
        row_number().over(byTime).as("rn"),
        rank().over(byValue).as("value_rank"),
        coalesce(lead(col("ts_s"), 1).over(byTime) - col("ts_s"), lit(-1L)).as("next_gap_s"),
        ntile(4).over(byTime).as("quartile"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val userStatsSql = """
    WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
               FROM events WHERE user_id < 50)
    SELECT user_id, event_id,
           row_number() OVER bytime AS rn,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS value_rank,
           coalesce(lead(ts_s, 1) OVER bytime - ts_s, -1) AS next_gap_s,
           ntile(4) OVER bytime AS quartile
    FROM e
    WINDOW bytime AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ORDER BY user_id, event_id"""

  // ----------------------------------------------------------- retention
  /** Cohort retention: users grouped by first-activity day, with the
    * count still active exactly 7 days later — two aggregations and a
    * broadcast-friendly self-join on user_id. */
  private def retention(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), expr("(ts DIV 1000000000) DIV 86400").as("day"))
      .distinct()
    val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    cohort
      .join(days, Seq("user_id"))
      .groupBy(col("cohort_day"))
      .agg(
        countDistinct(col("user_id")).as("cohort_size"),
        countDistinct(when(col("day") === col("cohort_day") + 7, col("user_id")))
          .as("retained_d7"))
      .orderBy(col("cohort_day"))
  }

  private val retentionSql = """
    WITH days AS (
      SELECT DISTINCT user_id,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
      FROM events),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
    SELECT cohort_day,
           count(DISTINCT c.user_id) AS cohort_size,
           count(DISTINCT CASE WHEN d.day = c.cohort_day + 7 THEN c.user_id END) AS retained_d7
    FROM cohort c JOIN days d ON c.user_id = d.user_id
    GROUP BY cohort_day
    ORDER BY cohort_day"""

  // -------------------------------------------------------------- funnel
  /** Ordered multi-step funnel: users who viewed, then clicked AFTER
    * their first view, then purchased AFTER that first qualifying
    * click. Each stage is a groupBy(user) + min — shuffles keyed on
    * user_id only, stage frames shrink monotonically (AQE broadcasts
    * the narrow side of each qualifying join at scale).
    * Timestamps are µs-truncated on the Spark side because DuckDB
    * coerces the parquet TIMESTAMP(NANOS) to µs (same contract as
    * events_asof_enrich). */
  private def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tus") > col("t1"))
      .groupBy("user_id").agg(min("tus").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tus") > col("t2"))
      .groupBy("user_id").agg(min("tus").as("t3"))
    def stage(df: DataFrame, step: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
    stage(v, 1L, "view")
      .unionAll(stage(c, 2L, "click"))
      .unionAll(stage(p, 3L, "purchase"))
      .orderBy(col("step"))
  }

  private val funnelSql = """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, count(*) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', count(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', count(*) FROM p
    ORDER BY step"""

  // -------------------------------------------- histogram quantiles
  /** The SCALE path for quantiles: [[quantiles]] is exact but pays a
    * full per-group sort (the window rank) — at 100 TB that is the
    * dominant shuffle. This variant is the classic fixed-bin histogram
    * sketch: integer bins (floor(value) — exact in both engines, no
    * float-boundary risk), one map-side-combined groupBy producing a
    * bin table bounded by the value RANGE (not the row count), then
    * window arithmetic on that tiny table. Mergeable by construction
    * (bin counts add), error bounded by the bin width — the reported
    * [q_lo, q_hi) bracket makes the approximation explicit. Oracled
    * bit-exact because the sketch itself is deterministic. */
  private def quantilesHist(s: SparkSession, d: String): DataFrame = {
    val bins = Tables.events(s, d)
      .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val w = bins
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
    // one pass over the bin table: explode the p-levels instead of
    // unioning one filtered branch per level (which would recompute
    // the scan + bin aggregation per level)
    w.select(col("event_type"), col("bin"), col("cum"), col("n"),
        explode(array(lit(0.5), lit(0.95))).as("p"))
      .filter(col("cum") >= ceil(col("p") * col("n")))
      .groupBy(col("event_type"), col("p")).agg(min(col("bin")).as("qbin"))
      .select(col("event_type"), col("p"),
        col("qbin").cast("double").as("q_lo"),
        (col("qbin") + 1).cast("double").as("q_hi"))
      .orderBy(col("event_type"), col("p"))
  }

  private val quantilesHistSql = """
    WITH b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin, count(*) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bin,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM b),
    q AS (
      SELECT event_type, p, min(bin) AS qbin
      FROM w CROSS JOIN (SELECT unnest([0.5, 0.95]) AS p)
      -- CAST forces the identical IEEE double multiply Spark does
      WHERE cum >= ceil(CAST(p AS DOUBLE) * CAST(n AS DOUBLE))
      GROUP BY event_type, p)
    SELECT event_type, p,
           CAST(qbin AS DOUBLE) AS q_lo, CAST(qbin + 1 AS DOUBLE) AS q_hi
    FROM q
    ORDER BY event_type, p"""

  // ------------------------------------------------ KLL sketch quantiles
  /** The scale path for quantiles over an UNBOUNDED / non-integer-
    * binnable domain (VERDICT r4 #6): [[quantilesHist]] assumes a
    * value range that bins to a bounded integer table; this variant is
    * a KLL sketch ([[graft.functions.SketchAggregates.quantileSketch]],
    * a TypedImperativeAggregate) — one map-side-combined aggregation,
    * a ~3k-item buffer per (group × partition) crossing the shuffle,
    * mergeable by construction, rank error O(1/k). Approximate →
    * rows-only; RecallGateSpec asserts the realized rank error of
    * every reported estimate against the exact CDF (floor 0.025 at
    * k = 200). Output shape matches events_quantiles for direct
    * comparison. */
  private val SketchPs = Seq(0.5, 0.95)

  /** KLL quantiles on the HASH-EXACT gate since r12 (VERDICT r10 #8 /
    * r11 #10): the LIVE TypedImperativeAggregate path cannot be
    * oracled — its buffer-merge order is the shuffle scheduler's, and
    * the compaction sequence is a data-dependent sequential fold over
    * an unbounded level structure, which SQL recursion cannot replay
    * (the text_bpe_train argument, with scheduler nondeterminism on
    * top). What IS replayable is the probe: a KLL sketch's quantile
    * extraction is a weighted-quantile SELECT over its stored
    * (value, 2^level) multiset. So the entry persists the merged
    * per-type sketch state once (sketches built per PARTITION —
    * bounded state, the sketch's whole point — then driver-merged in
    * PARTITION-INDEX order, making the artifact deterministic for a
    * fixed file layout), and both engines answer the same relational
    * weighted-quantile query over the sidecar: smallest value whose
    * RANGE-frame cumulative weight reaches ceil(p·total). The
    * sketch's rank-error quality stays separately gated in
    * RecallGateSpec. */
  private val KllTag = "kll_v1"

  private def ensureKllStore(s: SparkSession, d: String): String =
    Sidecar.built(Sidecar.dir(KllTag, d)) { p =>
      import graft.functions.KllSketch
      // one sketch per (event_type, partition): bounded executor
      // state, P·|types| KB-scale blobs to the driver — the
      // standard mergeable-sketch topology at any corpus size
      val parts = Tables.events(s, d)
        .select(col("event_type"), col("value").cast("double"))
        .filter(col("value").isNotNull) // the agg path's null skip
        .rdd.mapPartitionsWithIndex { (pid, it) =>
          val m = scala.collection.mutable.Map.empty[String, KllSketch]
          it.foreach { r =>
            m.getOrElseUpdate(r.getString(0), new KllSketch(200))
              .update(r.getDouble(1))
          }
          m.iterator.map { case (et, sk) => (et, pid, sk.serialize()) }
        }.collect()
      // deterministic merge: partition-index order per type
      val merged = parts.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, blobs) =>
        val sks = blobs.sortBy(_._2).map(b => KllSketch.deserialize(200, b._3))
        et -> sks.reduceLeft((a, b) => a.merge(b))
      }
      import s.implicits._
      merged.flatMap { case (et, sk) =>
        sk.weightedItems.map { case (v, w) => (et, v, w) }
      }.toDF("event_type", "value", "weight")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  private def quantilesSketch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val it = s.read.parquet(ensureKllStore(s, d))
    // RANGE frame (the default with an ORDER BY): equal values share
    // the run's full cumulative weight, which both makes the cum
    // deterministic under ties and matches the sketch's inclusive-rank
    // semantics
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val tot = Window.partitionBy(col("event_type"))
    it
      .withColumn("cum", sum(col("weight")).over(cumW))
      .withColumn("tw", sum(col("weight")).over(tot))
      .crossJoin(broadcast(SketchPs.toDF("p")))
      .filter(col("cum") >= greatest(lit(1L), ceil(col("p") * col("tw"))))
      .groupBy(col("event_type"), col("p"))
      .agg(min(col("value")).as("value"))
      .orderBy(col("event_type"), col("p"))
  }

  private def quantilesSketchSql(d: String): String = {
    val p = Sidecar.dir(KllTag, d)
    val psRows = SketchPs.map(v => s"($v)").mkString(", ")
    s"""
    WITH it AS (SELECT event_type, value, weight
                FROM read_parquet('$p/*.parquet')),
    ps(p) AS (VALUES $psRows),
    cum AS (
      SELECT event_type, value,
             sum(weight) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             sum(weight) OVER (PARTITION BY event_type) AS tw
      FROM it)
    SELECT c.event_type, p.p, min(c.value) AS value
    FROM cum c CROSS JOIN ps p
    WHERE c.cum >= greatest(1, CAST(ceil(p.p * c.tw) AS BIGINT))
    GROUP BY c.event_type, p.p
    ORDER BY c.event_type, p.p"""
  }

  // ------------------------------------------------------- anomaly flags
  /** Per-type z-score outliers (monitoring's bread-and-butter over an
    * event stream). Moments come from INTEGER-quantized values
    * (floor(v) as BIGINT, the histogram sketch's binning): integer
    * sums are order-independent and cast to double identically in
    * both engines, so mean/variance and the z-scores are bit-exact
    * without rounding, where double stddev_samp would drift with
    * accumulation order. The moments accumulate in WIDE integers —
    * decimal(38,0) here, HUGEINT in the oracle — because Spark's
    * sum over BIGINT wraps silently on overflow while DuckDB
    * promotes: a single |value| ≳ 3.04e9 would make q² exceed
    * Long.MaxValue and silently diverge the engines (ADVICE r5).
    * Exact domain is now Σq² < 10^38 — e.g. 10^12 rows of
    * |value| ≤ 3·10^12 — with the long quantization itself the
    * remaining bound (|value| < 9.2e18). One map-side-combined
    * aggregate broadcast back over the scan; no window, no sort
    * until the presentation ORDER BY. */
  private def anomaly(s: SparkSession, d: String): DataFrame = {
    val q = floor(col("value")).cast("long")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"), q.as("q"))
    val qd = col("q").cast("decimal(19,0)") // decimal(19,0)² → decimal(38,0), never wraps
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(qd).as("sq"),
      sum(qd * qd).as("sqq"))
    val mu = col("sq").cast("double") / col("n").cast("double")
    val varq = col("sqq").cast("double") / col("n").cast("double") - mu * mu
    val z = (col("q").cast("double") - mu) / sqrt(varq)
    ev.join(broadcast(stats), "event_type")
      .filter(col("n") >= 30 && varq > 0.0)
      .select(col("event_id"), col("event_type"), col("value"), z.as("zscore"))
      .filter(abs(col("zscore")) > 3.0)
      .orderBy(col("event_id"))
  }

  private val anomalySql = """
    WITH ev AS (
      SELECT event_id, event_type, value,
             CAST(floor(value) AS BIGINT) AS q
      FROM events),
    st AS (
      -- HUGEINT moments: q*q over BIGINT would raise on |value| > ~3e9
      SELECT event_type, count(*) AS n, sum(CAST(q AS HUGEINT)) AS sq,
             sum(CAST(q AS HUGEINT) * q) AS sqq
      FROM ev GROUP BY event_type),
    z AS (
      SELECT e.event_id, e.event_type, e.value,
             (CAST(e.q AS DOUBLE) - CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE))
               / sqrt(CAST(s.sqq AS DOUBLE) / CAST(s.n AS DOUBLE)
                      - (CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE))
                        * (CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE))) AS zscore
      FROM ev e JOIN st s USING (event_type)
      WHERE s.n >= 30
        AND CAST(s.sqq AS DOUBLE) / CAST(s.n AS DOUBLE)
            - (CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE))
              * (CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE)) > 0.0)
    SELECT event_id, event_type, value, zscore
    FROM z WHERE abs(zscore) > 3.0
    ORDER BY event_id"""

  // ------------------------------------------------------------- ewma
  private val EwmaLags = 8

  /** Per-user exponentially-weighted moving average (α = 1/2,
    * truncated at [[EwmaLags]] lags — the tail weight beyond 8 lags
    * is < 0.4%, below the signal's own noise) reported at each
    * user's final event. The geometric weights are INTEGER powers of
    * two over DECIMAL-cast values, so the weighted sum is exact in
    * both engines and only the final (numerator / weight-mass)
    * division is a double op — bit-deterministic because its
    * operands are. The recurrence form of EWMA cannot hash-match
    * across engines (it compounds float rounding per row); the
    * truncated-lag form is algebraically the same signal and exact.
    *
    * Scale shape: ONE shuffle on user_id serves every window (the
    * lags, the recency rank, the per-user count all share the same
    * partitioning); no joins, no second shuffle. */
  private def ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val v = col("value").cast("decimal(18,6)")
    val lags = (0 until EwmaLags).map { k =>
      (lag(v, k).over(w), 1L << (EwmaLags - 1 - k))
    }
    val num = lags.map { case (c, wt) =>
      coalesce(c, lit(0).cast("decimal(18,6)")) * lit(wt).cast("decimal(18,6)")
    }.reduce(_ + _)
    val den = lags.map { case (c, wt) =>
      when(c.isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ewma", num.cast("double") / den)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_events", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("ewma"))
      .orderBy(col("user_id"))
  }

  private val ewmaSql: String = {
    val terms = (0 until EwmaLags).map { k =>
      val wt = 1L << (EwmaLags - 1 - k)
      s"coalesce(lag(CAST(value AS DECIMAL(18,6)), $k) OVER w, 0) * CAST($wt AS DECIMAL(18,6))"
    }.mkString(" + ")
    val mass = (0 until EwmaLags).map { k =>
      val wt = 1L << (EwmaLags - 1 - k)
      s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN $wt ELSE 0 END"
    }.mkString(" + ")
    s"""
    WITH scored AS (
      SELECT user_id,
             CAST($terms AS DOUBLE) / ($mass) AS ewma,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, n_events, ewma
    FROM scored WHERE rn = 1
    ORDER BY user_id"""
  }

  // ------------------------------------------------------------ markov
  /** First-order Markov transition matrix over per-user event-type
    * sequences — the behavioral-model table behind next-action
    * prediction and bot detection (uniform rows ≈ scripted traffic).
    * Transition probability is an exact-integer count divided by the
    * exact per-source total — one double division on exact operands,
    * bit-deterministic. ONE user_id shuffle builds the adjacent
    * pairs; the 25-cell matrix aggregates map-side. */
  private def markov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val markovSql: String = """
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events),
    cnt AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
    FROM cnt
    ORDER BY from_type, to_type"""

  // -------------------------------------------------------------- gaps
  /** Per-user activity-gap profile: active-day count, first→last
    * span, and the longest inactive stretch — the churn-risk /
    * sparse-history signal, and the batch shape of time-series gap
    * detection (missing buckets surface as lag deltas > 1, no
    * generate-and-join densification needed). Integer day arithmetic
    * end to end. ONE user_id shuffle: the distinct, the lag window,
    * and the final per-user aggregate all share it. */
  private def gaps(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), expr("(ts DIV 1000000000) DIV 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w) - 1L)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_active_days"),
        (max(col("day")) - min(col("day")) + 1L).as("span_days"),
        coalesce(max(col("gap")), lit(0L)).as("longest_gap"))
      .orderBy(col("user_id"))
  }

  private val gapsSql: String = """
    WITH days AS (
      SELECT DISTINCT user_id,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
      FROM events),
    lagged AS (
      SELECT user_id, day,
             day - lag(day, 1) OVER (PARTITION BY user_id ORDER BY day) - 1 AS gap
      FROM days)
    SELECT user_id, count(*) AS n_active_days,
           max(day) - min(day) + 1 AS span_days,
           coalesce(max(gap), 0) AS longest_gap
    FROM lagged
    GROUP BY user_id
    ORDER BY user_id"""

  /** def, not val: quantilesSketchSql embeds the
    * [[graft.OracleEnv.sfDir]]-derived sketch-sidecar path, resolved
    * at dump time (see VectorQueries.defs). */
  def defs: Map[String, QueryDef] = Map(
    "events_gaps"        -> QueryDef(gaps _, gapsSql),
    "events_markov"      -> QueryDef(markov _, markovSql),
    "events_ewma"        -> QueryDef(ewma _, ewmaSql),
    "events_anomaly"     -> QueryDef(anomaly _, anomalySql),
    "events_funnel"      -> QueryDef(funnel _, funnelSql),
    "events_quantiles_sketch" -> QueryDef(quantilesSketch _,
      Some(quantilesSketchSql(graft.OracleEnv.sfDir)), rebuild(KllTag)(ensureKllStore)),
    "events_quantiles_hist" -> QueryDef(quantilesHist _, quantilesHistSql),
    "events_asof_enrich" -> QueryDef(asofEnrich _, asofEnrichSql),
    "events_range_join"  -> QueryDef(rangeJoin _, rangeJoinSql),
    "events_sliding_agg" -> QueryDef(slidingAgg _, slidingAggSql),
    "events_quantiles"   -> QueryDef(quantiles _, quantilesSql),
    "events_json"        -> QueryDef(jsonAgg _, jsonAggSql),
    "events_retention"   -> QueryDef(retention _, retentionSql),
    "events_user_stats"  -> QueryDef(userStats _, userStatsSql),
  )
}
