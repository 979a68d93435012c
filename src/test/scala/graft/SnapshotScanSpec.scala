package graft

import java.nio.file.Files

import graft.operators.IvfIndex
import graft.plans.{IvfCatalog, IvfProbeRule}
import graft.sources.{GraftTable, SnapshotFileIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GraftTable reads plan from the commit log's own records: a scan is
  * built over a [[SnapshotFileIndex]] of the snapshot's files, so a
  * read lists nothing and starts no Spark job before its scan, even
  * past Spark's 32-path parallel-listing threshold. Checkpoints carry
  * the schema, so a log whose old commits were removed still reads. */
class SnapshotScanSpec extends SparkSpec {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"snapshot_scan_$tag").resolve("t").toString

  private def row(i: Int): DataFrame = {
    import spark.implicits._
    Seq((i.toLong, s"doc_$i", i * 0.5)).toDF("id", "name", "score")
  }

  /** A table of 41 one-row files: a create and 40 single-row appends. */
  private def manyFiles(p: String): GraftTable = {
    val t = GraftTable.create(spark, p, row(0), statsCols = Seq("id"))
    (1 to 40).foreach(i => t.append(row(i)))
    t
  }

  private def locations(df: DataFrame): Seq[FileIndex] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }

  /** The same files read the way a plain parquet reader would. */
  private def plain(t: GraftTable, files: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(files.map(f => new Path(new Path(t.path), f).toString): _*)

  test("a read past 32 files starts no Spark job and scans the log's files in log order") {
    val t = manyFiles(fresh("jobs"))
    val metas = t.snapshotMetas()
    assert(metas.size == 41)
    var df: DataFrame = null
    val jobs = jobsStarted { df = t.read(); df.queryExecution.executedPlan; () }
    assert(jobs == 0, s"planning a 41-file read started $jobs Spark job(s)")
    val locs = locations(df)
    assert(!locs.exists(_.isInstanceOf[InMemoryFileIndex]), s"Spark listed the files: $locs")
    assert(locs.size == 1 && locs.head.isInstanceOf[SnapshotFileIndex],
      s"expected one snapshot index, got $locs")
    assert(locs.head.inputFiles.map(new Path(_).getName).toSeq == metas.map(_.path))
    // the same files, spelled as Spark's own listing spells them
    val listed = plain(t, metas.map(_.path), t.schema)
    assert(locs.head.inputFiles.toSeq == locations(listed).head.inputFiles.toSeq)
    assert(df.collect().toSeq == listed.collect().toSeq)
  }

  test("time travel, readWhere, a clone and an evolved schema read the same rows as a plain reader") {
    val t = manyFiles(fresh("rows"))
    // time travel to a version past the first checkpoint
    val v = 20L
    assert(t.read(v).collect().toSeq ==
      plain(t, t.snapshotMetas(v).map(_.path), t.schemaAt(v)).collect().toSeq)
    // stat-pruned read
    val pred = col("id") >= 30L && col("id") < 33L
    val cands = t.candidateFiles(pred)
    assert(cands.size == 3, s"stats should prune to 3 files, got ${cands.size}")
    assert(t.readWhere(pred).collect().toSeq ==
      plain(t, cands.map(_.path), t.schema).filter(pred).collect().toSeq)
    // a clone's log holds absolute paths
    val clone = t.cloneTo(fresh("clone"))
    val cm = clone.snapshotMetas()
    assert(cm.forall(m => new Path(m.path).isAbsolute))
    val cdf = clone.read()
    val clisted = plain(clone, cm.map(_.path), clone.schema)
    // the clone's log spells its files file:/…, which a listing respells file:///…
    def paths(df: DataFrame) = locations(df).head.inputFiles.toSeq.map(new Path(_).toUri.getPath)
    assert(paths(cdf) == paths(clisted))
    assert(cdf.collect().toSeq == clisted.collect().toSeq)
    // additive schema evolution: old files read NULL in the new column
    t.addColumns(StructType(Seq(StructField("lang", StringType))))
    val evolved = t.read().collect().toSeq
    assert(evolved.forall(_.isNullAt(3)))
    assert(evolved == plain(t, t.snapshotMetas().map(_.path), t.schema).collect().toSeq)
    // a file that is gone fails the scan, naming the file
    val gone = t.snapshotMetas().head.path
    assert(new java.io.File(new Path(new Path(t.path), gone).toUri.getPath).delete())
    val e = intercept[Exception](t.read().collect())
    assert(e.getMessage.contains(gone), e.getMessage)
  }

  test("an IVF-pruned probe keeps the snapshot index: no re-listing at optimize time") {
    val dir = fresh("ivf")
    val (indexed, centroids) = IvfIndex.buildIndex(
      Tables.embeddings(spark, Sf), "vec_id", "embedding", nlist = 4, spill = 1)
    val cells = indexed.select("centroid_id").distinct().collect().map(_.getInt(0)).sorted
    val t = GraftTable.create(spark, dir,
      indexed.filter(col("centroid_id") === cells.head).coalesce(1),
      statsCols = Seq("centroid_id", "vec_id"))
    cells.tail.foreach(c => t.append(indexed.filter(col("centroid_id") === c).coalesce(1)))
    IvfCatalog.registerTable(t, centroids, nprobe = 1)
    IvfProbeRule.install(spark)
    try {
      val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
      val knn = t.read()
        .select(col("vec_id"),
          graft.functions.VectorDistance.l2(col("embedding"), typedLit(q)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(5)
      val locs = locations(knn)
      assert(!locs.exists(_.isInstanceOf[InMemoryFileIndex]), s"the prune re-listed: $locs")
      assert(locs.nonEmpty && locs.forall(_.isInstanceOf[SnapshotFileIndex]),
        s"expected only snapshot indexes in the probe plan, got $locs")
      val scanned = locs.map(_.inputFiles.length).sum
      assert(scanned == 1, s"a 1-cell probe should scan 1 of ${cells.length} files, got $scanned")
      assert(knn.collect().length == 5)
    } finally IvfCatalog.invalidate(dir)
  }

  test("checkpoints carry the schema: a log without its old commits still reads and appends") {
    val p = fresh("ckpt")
    val t = GraftTable.create(spark, p, row(0), checkpointInterval = 5)
    (1 to 11).foreach(i => t.append(row(i)))
    assert(t.version == 12L)
    val latest = t.read().collect().toSeq
    val at11 = t.read(atVersion = 11L).collect().toSeq
    val schema = t.schema
    val log = new java.io.File(p, "_txlog")
    val old = log.listFiles().filter { f =>
      val n = f.getName
      n.endsWith(".commit") && n.stripPrefix("v").stripSuffix(".commit").toLong < 10L
    }
    assert(old.length == 9)
    old.foreach(f => assert(f.delete()))
    val cold = GraftTable.open(spark, p, checkpointInterval = 5)
    for (tb <- Seq(t, cold)) {
      assert(tb.schema == schema)
      assert(tb.read().collect().toSeq == latest)
      assert(tb.read(atVersion = 11L).collect().toSeq == at11)
    }
    assert(cold.append(row(12)) == 13L)
    assert(t.read().count() == 13L)
    assert(t.read().agg(sum("id")).head.getLong(0) == (0L to 12L).sum)
  }
}
