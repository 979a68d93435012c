package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** GraftTable's commit protocol (the shape of Delta's delayed commit
  * protocol): tasks write uniquely named `part-<split>-<uuid>…` files
  * straight into one append's `staging` directory, `commitTask`
  * returns the `(name, bytes)` of the files it wrote, `abortTask`
  * deletes them, and `commitJob` only keeps the messages. There is no
  * `_temporary` directory, no task or job commit rename and no
  * `_SUCCESS` file: the table's commit log is the commit. [[files]]
  * names the successful attempts' files, so the caller never lists
  * the directory, and a losing attempt's files die with it. The
  * caller promotes the files and deletes `staging`, also when the job
  * fails. Unpartitioned writes only. */
final class StagingCommitProtocol(staging: String)
    extends FileCommitProtocol with Serializable {

  @transient private var written: mutable.ArrayBuffer[String] = _
  @transient private var committed: Seq[(String, Long)] = Nil

  /** `(name, bytes)` of every committed file, in task order. */
  def files: Seq[(String, Long)] = committed

  override def setupJob(job: JobContext): Unit = {
    val dir = new Path(staging)
    dir.getFileSystem(job.getConfiguration).mkdirs(dir)
    ()
  }

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    committed = msgs.flatMap(_.obj.asInstanceOf[Seq[(String, Long)]])

  // the caller deletes the staging directory on any failure
  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(task: TaskAttemptContext): Unit =
    written = mutable.ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    require(dir.isEmpty, s"partitioned write into $staging")
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}${spec.suffix}"
    written += name
    new Path(staging, name).toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val fs = new Path(staging).getFileSystem(task.getConfiguration)
    new TaskCommitMessage(written.toList.map(n =>
      n -> fs.getFileStatus(new Path(staging, n)).getLen))
  }

  override def abortTask(task: TaskAttemptContext): Unit =
    if (written != null) {
      val fs = new Path(staging).getFileSystem(task.getConfiguration)
      written.foreach(n => fs.delete(new Path(staging, n), false))
    }
}
