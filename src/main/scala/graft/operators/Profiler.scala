package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling for pipeline QA (SURVEY.md §2): per-column
  * completeness, cardinality, and range in ONE scan — the pre-flight
  * check before a 100 TB transform.
  *
  * One wide aggregation row computes every statistic map-side
  * (count/count-nulls/min/max are partial-aggregable), then the row
  * unpivots to the (column, stat…) shape. Cardinality is an exact
  * distinct count (oracle-friendly, but shuffles per column).
  */
object Profiler {

  /** (column, n_rows, n_null, n_distinct, min_s, max_s), one row per
    * profiled column; min/max rendered as strings so mixed column
    * types coexist. */
  def describeExact(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__d_$c").as("n_distinct"),
        col(s"__min_$c").as("min_s"),
        col(s"__max_$c").as("max_s"))
    }
    row.select(explode(array(entries: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }
}
