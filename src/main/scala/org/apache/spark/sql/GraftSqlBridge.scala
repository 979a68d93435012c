package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 moved Column↔Expression conversion behind
  * `private[sql] classic.ExpressionUtils`; libraries extending
  * Catalyst conventionally bridge from inside the sql package (the
  * same pattern Spark-ecosystem projects use for Dataset/plan
  * access). This is the only file outside the graft package.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fold over a Column's node tree (Spark 4 keeps `Column.node` and
    * the ColumnNode types private[sql]): function applications call
    * `fn(name, foldedArgs)`, attribute references `attr(dotted-name)`,
    * literals `lit(value)`, anything else `opaque()`. Used by
    * GraftTable's stats pruning to walk a predicate's shape without
    * an analyzer pass or access to the internal types. */
  def foldColumn[T](c: Column)(fn: (String, Seq[T]) => T, attr: String => T,
      lit: Any => T, opaque: () => T): T = {
    def go(n: internal.ColumnNode): T = n match {
      case f: internal.UnresolvedFunction => fn(f.functionName, f.arguments.map(go))
      case a: internal.UnresolvedAttribute => attr(a.nameParts.mkString("."))
      case l: internal.Literal => lit(l.value)
      case _ => opaque()
    }
    go(c.node)
  }

  /** Run a logical plan to rows (Dataset.ofRows is private[sql]) —
    * used by the IVF probe rule to evaluate a provably-tiny query-side
    * subplan at rewrite time. */
  def runPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Array[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan).collect()

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — used by DROP INDEX to restore a table's
    * pre-index binding from its captured ANALYZED plan (re-registering
    * `session.table(t)` unanalyzed would create a self-referencing
    * view). */
  def planToDf(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Write `df` as parquet files under `path` in one Spark job,
    * through Spark's public file writer (`FileFormatWriter.write`; its
    * session type and the Dataset's QueryExecution are classic-only)
    * inside one SQL execution, with the caller's commit protocol and
    * stats trackers. Spark's own `BasicWriteJobStatsTracker` rides
    * along, so task output metrics and the SQL write metrics are
    * reported as for `df.write`. Used by GraftTable appends. */
  def writeParquet(df: DataFrame, path: String,
      committer: org.apache.spark.internal.io.FileCommitProtocol,
      trackers: Seq[execution.datasources.WriteJobStatsTracker]): Unit = {
    import execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val hadoopConf = session.sessionState.newHadoopConf()
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(qe, Some("graftTableWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(session, plan,
        new execution.datasources.parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output), hadoopConf,
        Nil, None, basic +: trackers, Map.empty)
      ()
    }
  }
}
