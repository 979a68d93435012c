package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A file index over a list of files that is already resolved: a
  * [[GraftTable]] snapshot's add records, or the part files a staged
  * write has just listed. Planning a scan over it lists nothing and
  * starts no Spark job, where `spark.read.parquet(files: _*)` lists
  * every file again (in a parallel-listing job past 32 paths).
  *
  * It keeps `PartitioningAwareFileIndex`'s rules for an unpartitioned
  * file list: files in the given order, zero-length files left out of
  * the scan, an empty partition schema. `rootPaths` and `inputFiles`
  * are the qualified file paths, as for an explicit-file-list read, so
  * root-path catalogs (which fall back to the parent directory) and
  * `input_file_name()` see the same spellings. Nothing is checked
  * against the file system: a file that is gone fails the scan that
  * reads it, and Spark's error names the file. */
final case class SnapshotFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = files.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] =
    files.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}
