package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** One written file's row count and `(min, max)` per stats column,
  * both cast to string. A column whose values in the file are all
  * NULL has no entry. */
final case class FileStats(name: String, rows: Long,
    stats: Map[String, (String, String)])

/** Row counts and per-column min/max gathered by the write tasks
  * themselves, so a GraftTable append needs no second pass over the
  * files it wrote (Delta's job statistics tracker shape, Armbrust et
  * al., VLDB 2020).
  *
  * The values equal what `min(c).cast("string")` and
  * `max(c).cast("string")` grouped by `input_file_name()` return over
  * the written files: comparisons use the type's SQL ordering
  * (`PhysicalDataType.ordering`: NaN above every number, -0.0 equal to
  * 0.0), a kept value is replaced only by a strictly lower (higher)
  * one, so on ties the first value seen wins, as `Min`/`Max` do
  * through `least`/`greatest`; NULLs are skipped; and the final cast
  * to string runs with the session time zone captured here, on the
  * driver. `rows` is per file, `maxRecordsPerFile` splits included.
  *
  * `schema` is the written rows' layout; `statsCols` name fields of
  * it. After the write job, [[files]] holds the successful task
  * attempts' files by name. */
final class FileStatsTracker(schema: StructType, statsCols: Seq[String],
    timeZoneId: String) extends WriteJobStatsTracker {

  private val ordinals = statsCols.map(schema.fieldIndex).toArray

  @transient private var collected = Map.empty[String, FileStats]

  /** File name → stats, filled when the job's stats are processed. */
  def files: Map[String, FileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTracker.Task(ordinals, ordinals.map(schema(_).dataType),
      statsCols.toArray, timeZoneId)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case FileStatsTracker.TaskFiles(fs) => fs }
      .map(f => f.name -> f).toMap
}

object FileStatsTracker {

  private final case class TaskFiles(files: Seq[FileStats]) extends WriteTaskStats

  /** Running count and extremes of one open file. */
  private final class Acc(n: Int) {
    var rows = 0L
    val lo = new Array[Any](n)
    val hi = new Array[Any](n)
  }

  private final class Task(ordinals: Array[Int], types: Array[DataType],
      names: Array[String], timeZoneId: String) extends WriteTaskStatsTracker {

    private val orderings = types.map(PhysicalDataType.ordering)
    private val toText = types.map(dt =>
      Cast(BoundReference(0, dt, nullable = true), StringType, Some(timeZoneId)))
    private val open = mutable.HashMap.empty[String, Acc]
    private val closed = mutable.ArrayBuffer.empty[FileStats]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = open(filePath) = new Acc(ordinals.length)

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val a = open(filePath)
      a.rows += 1
      var i = 0
      while (i < ordinals.length) {
        if (!row.isNullAt(ordinals(i))) {
          val v = row.get(ordinals(i), types(i))
          if (a.lo(i) == null) {
            val kept = InternalRow.copyValue(v)
            a.lo(i) = kept; a.hi(i) = kept
          } else if (orderings(i).lt(v, a.lo(i))) a.lo(i) = InternalRow.copyValue(v)
          else if (orderings(i).gt(v, a.hi(i))) a.hi(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { a =>
        val text = (i: Int, v: Any) => toText(i).eval(InternalRow(v)).toString
        val stats = names.indices.collect { case i if a.lo(i) != null =>
          names(i) -> (text(i, a.lo(i)), text(i, a.hi(i)))
        }.toMap
        closed += FileStats(filePath.substring(filePath.lastIndexOf('/') + 1), a.rows, stats)
      }

    // the writer closes every file before it asks for the stats
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(closed.toList)
  }
}
