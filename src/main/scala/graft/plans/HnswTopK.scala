package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  Expression, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The top-k of an hnsw-served query: [[HnswProbeRule]] replaces the
  * matched `GlobalLimit ▸ LocalLimit ▸ [Project] ▸ Sort` with this
  * node once it has put the graph candidates below it as an `InSet`
  * on the id column. `projectList` is the folded Project (the Sort's
  * output when there was none). The node is also the rule's
  * fixed-point marker: a served top-k has no GlobalLimit left to
  * match. [[HnswTopKStrategy]] plans it as [[HnswTopKExec]]. */
final case class HnswTopK(k: Int, order: Seq[SortOrder],
    projectList: Seq[NamedExpression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def maxRows: Option[Long] = Some(k.toLong)
  override protected def withNewChildInternal(newChild: LogicalPlan): HnswTopK =
    copy(child = newChild)
}

/** Plans [[HnswTopK]]; [[graft.GraftExtensions]] injects it. */
object HnswTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case HnswTopK(k, order, projectList, child) =>
      HnswTopKExec(k, order, projectList, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Exact top-k over the hnsw candidates in one Spark job.
  *
  * `executeCollect` runs one job over the child (the `InSet`-filtered
  * table scan). Each task evaluates the sort keys and copies them out
  * with the columns `projectList` reads, so the vector column never
  * leaves the executors unless the query selects it. The driver ranks
  * the collected rows with Spark's [[LazilyGeneratedOrdering]], keeps
  * `k` and evaluates `projectList` over them, as
  * `TakeOrderedAndProjectExec` does. The job function is a named class
  * ([[HnswTopKExec.Candidates]]): Spark's ClosureCleaner scans the
  * defining class of every lambda it is handed, and a named function
  * is not one. Every query of one shape generates the same code: the
  * candidate set is an `InSet` held by reference, and the query vector
  * is a literal held by reference too.
  *
  * Driver bound: the rows collected are at most the candidate set,
  * k·P rows for P partition graphs, or fetch·P when the probe widened
  * for a filtered (iterative) scan; each row holds the sort keys and
  * the projected columns only.
  *
  * Metrics: `candidateRows` (rows the job returned) and `rankTime`
  * (the driver's sort, take and projection). */
final case class HnswTopKExec(k: Int, order: Seq[SortOrder],
    projectList: Seq[NamedExpression], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"),
    "rankTime" -> SQLMetrics.createTimingMetric(sparkContext, "rank time"))

  /** One slot per sort key, then the child columns `projectList` reads:
    * the row layout the job ships. */
  private lazy val keySlots: Seq[Attribute] = order.indices.map(i =>
    AttributeReference(s"_key$i", order(i).dataType, order(i).nullable)())
  private lazy val carried: Seq[Attribute] = {
    val read = AttributeSet(projectList.flatMap(_.references))
    child.output.filter(read.contains)
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val rdd = child.execute()
    val shipped = sparkContext.runJob(rdd,
      new HnswTopKExec.Candidates(order.map(_.child) ++ carried, child.output),
      0 until rdd.getNumPartitions).flatten
    val start = System.nanoTime()
    val ordering = new LazilyGeneratedOrdering(
      order.zip(keySlots).map { case (o, slot) => SortOrder(slot, o.direction, o.nullOrdering, Nil) },
      keySlots ++ carried)
    val project = UnsafeProjection.create(projectList, keySlots ++ carried)
    project.initialize(0)
    val top = shipped.sorted(ordering).take(k).map(r => project(r).copy(): InternalRow)
    metrics("candidateRows").add(shipped.length.toLong)
    metrics("rankTime").add((System.nanoTime() - start) / 1000000L)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    top
  }

  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"HnswTopK(k=$k, order=${order.mkString("[", ", ", "]")}, " +
      s"output=${output.mkString("[", ", ", "]")})"

  override protected def withNewChildInternal(newChild: SparkPlan): HnswTopKExec =
    copy(child = newChild)
}

object HnswTopKExec {

  /** The job function: per task, project each candidate row to
    * `exprs` (sort keys, then carried columns) and copy it out. */
  final class Candidates(exprs: Seq[Expression], input: Seq[Attribute])
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      val project = UnsafeProjection.create(exprs, input)
      project.initialize(ctx.partitionId())
      rows.map(r => project(r).copy(): InternalRow).toArray
    }
  }
}
