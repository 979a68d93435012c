package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational completeness (SURVEY.md §2 extension): subquery
  * semantics (semi/anti), pivot, rollup, distinct aggregation — the
  * remaining Postgres query shapes a reference user would expect.
  */
object RelationalExtQueries {

  // ------------------------------------------------------- semi / anti
  /** Customers with at least one urgent order but none before 1996 —
    * EXISTS + NOT EXISTS as left_semi / left_anti joins. */
  private def semiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val preY96 = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_custkey")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(preY96, c("c_custkey") === preY96("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  private val semiAntiSql = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate < TIMESTAMP '1996-01-01')
    ORDER BY c_custkey"""

  // -------------------------------------------------------------- pivot
  /** Events pivoted: one row per day, one count column per type. */
  private def pivotQ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("(ts DIV 1000000000) DIV 86400").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("day"))

  private val pivotSql = """
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'error') AS error
    FROM events
    GROUP BY 1
    ORDER BY day"""

  // ------------------------------------------------------------- rollup
  /** Revenue rollup over (returnflag, linestatus) with subtotal and
    * grand-total rows; null grouping keys coalesced to 'ALL' so the
    * compare has no null-vs-NaN ambiguity. */
  private def rollupQ(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("rflag"), col("lstatus"))

  private val rollupSql = """
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus"""

  // --------------------------------------------------------------- cube
  /** Full CUBE over (returnflag, linestatus) — every grouping-set
    * combination including the per-linestatus marginals ROLLUP can't
    * produce. Same plan family as [[rollupQ]]: Spark expands the
    * grouping sets into one Expand + single aggregate (4 streams in
    * one pass — no union of 4 scans), map-side combined. Decimal sums
    * cast to double at the END, as in rollup, for cross-engine
    * bit-parity. */
  private def cubeQ(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("rflag"), col("lstatus"))

  private val cubeSql = """
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus"""

  // ---------------------------------------------------------- distincts
  /** Exact distinct users + events per type (the exact twin of the
    * HLL sketch below). */
  private def distinctQ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  private val distinctSql = """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** HLL approximate distinct — the engine's own sketch
    * ([[graft.functions.SketchAggregates.hllDistinct]]) on the md5
    * hash64 contract: sketch-based cardinality at 100 TB where exact
    * distinct would shuffle every key (registers merge map-side; one
    * m-byte buffer per group crosses the shuffle). Unlike Spark's
    * HLL++ (implementation-specific estimate → rows-only), register
    * index and rho are integer bit arithmetic on hash64 and the
    * estimator is exact-integer end to end (see
    * [[graft.functions.HllEstimator]]), so the DuckDB oracle replays
    * register maxima relationally (GROUP BY register → MAX(rho) →
    * 2^49-scaled harmonic fold → rational-alpha division, linear
    * counting from the ln-LUT sidecar) and the entry is HASH-EXACT.
    * The residual approximation-vs-truth error stays gated in
    * RecallGateSpec (rsd 1.04/√4096 ≈ 1.6%). */
  private def approxDistinctQ(s: SparkSession, d: String): DataFrame = {
    ensureHllLut(s)
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchAggregates.hllDistinct(
        graft.functions.TextFunctions.hash64(col("user_id").cast("string")),
        HllP).as("approx_users"))
      .orderBy(col("event_type"))
  }

  private[graft] val HllP = 12

  /** 2^30 fixed-point ln(m/v) sidecar for the linear-counting branch —
    * content depends only on p, so the path is fixture-independent. */
  private[graft] def hllLutPath: String = Sidecar.dir(s"hll_lut_p${HllP}_v1")

  private def ensureHllLut(s: SparkSession): Unit =
    Sidecar.built(hllLutPath) { p =>
      val m = 1 << HllP
      val rows = (1 to m).map(v =>
        (v.toLong, graft.functions.HllEstimator.lnBits(m, v)))
      s.createDataFrame(rows).toDF("v", "ln_bits")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  /** DuckDB replay of the whole HLL estimator on exact operands. */
  private def approxDistinctSql: String = {
    val m = 1 << HllP
    val q = 60 - HllP
    val twoQ = 1L << q
    val num = BigInt(7213000L) * BigInt(m).pow(3) * (BigInt(1) << (q + 1))
    val den = BigInt(10000L) * BigInt(1000L * m + 1079L)
    s"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS h64
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, h64 // $twoQ AS reg,
             MAX(CASE WHEN h64 % $twoQ = 0 THEN ${q + 1}
                      ELSE ${q + 1} - length(bin(h64 % $twoQ)) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             SUM(CAST(1 AS BIGINT) << (${q + 1} - rho)) AS s_hit,
             COUNT(*) AS hit
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT event_type, $m - hit AS zeros,
             CAST(CAST('$num' AS HUGEINT) //
                  (CAST('$den' AS HUGEINT) *
                   (CAST(s_hit AS HUGEINT) +
                    CAST($m - hit AS HUGEINT) * (CAST(1 AS HUGEINT) << ${q + 1})))
               AS BIGINT) AS e_raw
      FROM agg
    )
    SELECT e.event_type,
           CAST(CASE WHEN e.zeros > 0 AND 2 * e.e_raw <= ${5L * m}
                     THEN ($m * l.ln_bits) // ${1L << 30}
                     ELSE e.e_raw END AS BIGINT) AS approx_users
    FROM est e LEFT JOIN read_parquet('$hllLutPath/*.parquet') l ON l.v = e.zeros
    ORDER BY e.event_type"""
  }

  // ------------------------------------------- correlated aggregate (Q17)
  /** TPC-H Q17 shape: revenue from small-quantity orders, where
    * "small" is relative to the part's own average — the correlated
    * scalar subquery expressed as a window (one pass, no rejoin). */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice").cast("decimal(18,2)").as("price_d"),
        col("l_quantity").cast("decimal(18,2)").as("qty_d"))
      .withColumn("avg_qty",
        (sum(col("qty_d")).over(w).cast("double") / count(lit(1)).over(w)))
    li.filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        (sum(col("price_d")).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  private val q17Sql = """
    WITH li AS (
      SELECT l_partkey, l_quantity,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price_d,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS DOUBLE)
               / count(*) OVER (PARTITION BY l_partkey) AS avg_qty
      FROM lineitem)
    SELECT CAST(sum(price_d) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n_small
    FROM li
    WHERE l_quantity < 0.5 * avg_qty"""

  // ----------------------------------------------------- set operations
  /** INTERSECT / EXCEPT via Spark's set operators: building-segment
    * customers vs urgent-order customers. */
  private def setOps(s: SparkSession, d: String): DataFrame = {
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    val both = building.intersect(urgent).withColumn("side", lit("both"))
    val onlyBuilding = building.except(urgent).withColumn("side", lit("building_only"))
    both.unionAll(onlyBuilding).orderBy(col("side"), col("c_custkey"))
  }

  private val setOpsSql = """
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    urgent AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT c_custkey, 'both' AS side FROM (SELECT * FROM building INTERSECT SELECT * FROM urgent)
    UNION ALL
    SELECT c_custkey, 'building_only' AS side FROM (SELECT * FROM building EXCEPT SELECT * FROM urgent)
    ORDER BY side, c_custkey"""

  // ------------------------------------------------------- having + like
  /** LIKE-pattern scan + HAVING filter on the aggregate. */
  private def havingLike(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_name").like("%ring%") || col("p_type").like("%SMALL%"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .filter(col("n_parts") >= 2)
      .orderBy(col("p_brand"))

  private val havingLikeSql = """
    SELECT p_brand, count(*) AS n_parts,
           CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part
    WHERE p_name LIKE '%ring%' OR p_type LIKE '%SMALL%'
    GROUP BY p_brand
    HAVING count(*) >= 2
    ORDER BY p_brand"""

  // ---------------------------------------------------------- outer join
  /** Left outer join keeping empty groups: orders per customer
    * including customers with no orders (null-safe zero counts). */
  private def outerJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey")).agg(
        count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sp"))
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_urgent"),
        coalesce(col("sp").cast("double"), lit(0.0)).as("sum_urgent_price"))
      .orderBy(col("c_custkey"))
  }

  private val outerJoinSql = """
    WITH o AS (SELECT o_custkey, count(*) AS cnt,
                      sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
               FROM orders WHERE o_orderpriority = '1-URGENT'
               GROUP BY o_custkey)
    SELECT c_custkey,
           coalesce(cnt, 0) AS n_urgent,
           coalesce(CAST(sp AS DOUBLE), 0.0) AS sum_urgent_price
    FROM customer LEFT OUTER JOIN o ON c_custkey = o_custkey
    ORDER BY c_custkey"""

  // -------------------------------------------------------- salted agg
  /** Skew-proof aggregation on the oracle gate: revenue and row count
    * per returnflag — THREE values over 600k+ rows, the textbook
    * hot-key shape where an unsalted groupBy gives three reducers the
    * whole table — via [[graft.operators.Salt.saltedSumCount]]'s
    * two-phase reduce (32 salts; phase 2 carries keys × salts rows).
    * Sums stay DECIMAL through both phases (the operator REJECTS
    * float sums — re-associated double addition is order-dependent)
    * and cast to double only at the end, which is why a re-associated
    * two-phase plan can sit on the bit-exact oracle gate at all. */
  private def saltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Salt.saltedSumCount(
        Tables.lineitem(s, d),
        keys = Seq("l_returnflag"),
        stable = col("l_orderkey") * 8 + col("l_linenumber"),
        salts = 32,
        sums = Map(
          "revenue" -> (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))))
      .select(col("l_returnflag"), col("n_rows"),
        col("revenue").cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))

  private val saltedAggSql = """
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  // -------------------------------------------------------- range frame
  /** Value-based window frame (RANGE BETWEEN, r8): for each order,
    * the same customer's order count and revenue within ±30 DAYS of
    * it — the frame is bounded by the ORDER-BY VALUE, not by row
    * offsets (ROWS frames are everywhere else in the inventory; this
    * is the missing frame kind). Integer day arithmetic keys the
    * frame; the revenue sum is DECIMAL-exact. ONE customer shuffle
    * serves the window. */
  private def rangeFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"))
      .rangeBetween(-30, 30)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (unix_timestamp(col("o_orderdate")) / 86400L).cast("long").as("day"))
      .withColumn("n_nearby", count(lit(1)).over(w))
      .withColumn("nearby_total",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"), col("n_nearby"),
        col("nearby_total"))
      .orderBy(col("o_orderkey"))
  }

  private val rangeFrameSql = """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders)
    SELECT o_orderkey, o_custkey,
           count(*) OVER w AS n_nearby,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS nearby_total
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
    ORDER BY o_orderkey"""

  val defs: Map[String, QueryDef] = Map(
    "q_range_frame"          -> QueryDef(rangeFrame _, rangeFrameSql),
    "q_salted_agg"           -> QueryDef(saltedAgg _, saltedAggSql),
    "q_set_ops"              -> QueryDef(setOps _, setOpsSql),
    "q_having_like"          -> QueryDef(havingLike _, havingLikeSql),
    "q_outer_join"           -> QueryDef(outerJoin _, outerJoinSql),
    "q17_small_qty"          -> QueryDef(q17 _, q17Sql),
    "q_semi_anti"            -> QueryDef(semiAnti _, semiAntiSql),
    "events_pivot"           -> QueryDef(pivotQ _, pivotSql),
    "q_rollup"               -> QueryDef(rollupQ _, rollupSql),
    "q_cube"                 -> QueryDef(cubeQ _, cubeSql),
    "events_distinct"        -> QueryDef(distinctQ _, distinctSql),
    "events_approx_distinct" -> QueryDef(approxDistinctQ _, approxDistinctSql),
  )
}
