package graft

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.sources.{FileMeta, GraftTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A GraftTable append is one Spark job: the write tasks gather each
  * file's row count and min/max, and the commit protocol names the
  * files, so nothing is read back. The stats must be exactly what a
  * read-back of the committed files computes. */
class OnePassAppendSpec extends SparkSpec {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"one_pass_append_$tag").resolve("t").toString

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally old.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  /** The per-file metas the pre-one-pass append computed: a second
    * pass over the committed files grouped by `input_file_name()`,
    * with `min(c)`/`max(c)` cast to string and all-NULL columns left
    * out. Byte counts come from the files on disk. */
  private def readBack(t: GraftTable, cols: Seq[String]): Map[String, FileMeta] = {
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    t.read().groupBy(input_file_name().as("__f")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val name = new Path(r.getString(0)).getName
        val stats = cols.flatMap { c =>
          Option(r.getAs[String](s"__min_$c")).map(lo => c -> (lo, r.getAs[String](s"__max_$c")))
        }.toMap
        val bytes = new java.io.File(t.path, name).length()
        name -> FileMeta(name, r.getAs[Long]("__n"), bytes, stats)
      }.toMap
  }

  private def assertReadBack(t: GraftTable, cols: Seq[String]): Unit = {
    val metas = t.snapshotMetas()
    assert(metas.map(_.path).distinct.size == metas.size)
    assert(metas.map(m => m.path -> m).toMap == readBack(t, cols))
  }

  /** Part files in the table root, and any entry whose name starts
    * with `_staging_`. */
  private def partFiles(t: GraftTable): Set[String] =
    new java.io.File(t.path).list().filter(_.startsWith("part-")).toSet
  private def stagingDirs(t: GraftTable): Seq[String] =
    new java.io.File(t.path).list().filter(_.startsWith("_staging_")).toSeq

  private val typed = StructType(Seq(
    StructField("s", StringType), StructField("b", ByteType),
    StructField("sh", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 2)),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("bo", BooleanType), StructField("n", IntegerType)))

  private def typedRow(s: String, b: Any, sh: Any, i: Any, l: Any, f: Any, d: Any,
      dec: String, dt: String, ts: String, bo: Any): Row =
    Row(s, b, sh, i, l, f, d, Option(dec).map(new JBigDecimal(_)).orNull,
      Option(dt).map(Date.valueOf).orNull, Option(ts).map(Timestamp.valueOf).orNull,
      bo, null)

  /** Three slices, one file each. File 0 holds -0.0 before 0.0 in `d`
    * (a tie: the first wins), file 1 holds 0.0 before -0.0 and a NaN,
    * and file 2 has NULLs in every column but `s`. */
  private def typedFrame(): DataFrame = {
    val slices = Seq(
      Seq(typedRow("pear", 3.toByte, 7.toShort, -5, 10L, 1.5f, -0.0,
            "12.50", "2024-03-10", "2024-03-10 01:30:00", true),
          typedRow("apple", -2.toByte, 9.toShort, 8, -3L, Float.NaN, 0.0,
            "-1.25", "2023-12-31", "2024-11-03 08:15:00.123456", false),
          typedRow(null, null, null, null, null, null, null, null, null, null, null)),
      Seq(typedRow("zeta", 127.toByte, -32768.toShort, Int.MaxValue, Long.MinValue, -0.0f, 0.0,
            "99999999.99", "1970-01-01", "1969-12-31 23:59:59", false),
          typedRow("Zeta", -128.toByte, 32767.toShort, Int.MinValue, Long.MaxValue, 0.0f, -0.0,
            "0.01", "2100-02-28", "2038-01-19 03:14:07", false),
          typedRow("éclair", 0.toByte, 0.toShort, 0, 0L, 2.0f, Double.NaN,
            "0.00", "2000-02-29", "2000-01-01 00:00:00", null)),
      Seq(typedRow("only", null, null, null, null, null, null, null, null, null, null)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(slices, slices.size).flatMap(identity), typed)
  }

  test("one-pass stats equal a read-back of the committed files for every stats type") {
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val cols = typed.fieldNames.toSeq
      val t = GraftTable.create(spark, fresh("types"), typedFrame(), statsCols = cols)
      val metas = t.snapshotMetas()
      assert(metas.size == 3)
      // the tie and the left-out columns are really exercised
      assert(metas.flatMap(_.stats.get("d")).toSet == Set(("-0.0", "-0.0"), ("0.0", "NaN")))
      assert(metas.count(m => !m.stats.contains("bo")) == 1)
      assert(metas.forall(!_.stats.contains("n")))
      assertReadBack(t, cols)
      t.append(typedFrame().filter(col("s") =!= "pear"))
      assert(t.snapshotMetas().size == 6)
      assertReadBack(t, cols)
    }
  }

  test("with maxRecordsPerFile = 2, each of a task's files gets its own count") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize((0 until 10).map(i => (i.toLong, s"doc_$i")), 2)
      .toDF("id", "name")
    val t = withConf("spark.sql.files.maxRecordsPerFile" -> "2") {
      GraftTable.create(spark, fresh("max_records"), df, statsCols = Seq("id", "name"))
    }
    assert(t.snapshotMetas().map(_.rows) == Seq(2L, 2L, 1L, 2L, 2L, 1L))
    assertReadBack(t, Seq("id", "name"))
    assert(partFiles(t) == t.snapshotMetas().map(_.path).toSet)
  }

  test("an empty append adds no file") {
    import spark.implicits._
    val t = GraftTable.create(spark, fresh("empty"), Seq((1L, "a")).toDF("id", "name"),
      statsCols = Seq("id"))
    val before = t.snapshotMetas()
    val v = t.append(Seq.empty[(Long, String)].toDF("id", "name"))
    assert(v == 2L)
    assert(t.snapshotMetas() == before)
    assert(partFiles(t) == before.map(_.path).toSet)
    assert(stagingDirs(t).isEmpty)
  }

  test("create, append and appendBatch of an in-memory frame each start one Spark job") {
    import spark.implicits._
    def rows(lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i => (i.toLong, s"doc_$i", i * 0.5)).toDF("id", "name", "score")
    var t: GraftTable = null
    val p = fresh("jobs")
    assert(jobsStarted { t = GraftTable.create(spark, p, rows(0, 3), Seq("id")); () } == 1)
    assert(jobsStarted { t.append(rows(3, 6)); () } == 1)
    assert(jobsStarted { t.appendBatch(rows(6, 9), "app", 0L); () } == 1)
    assert(t.read().count() == 9)
    assertReadBack(t, Seq("id"))
  }

  test("a failed append leaves the version unchanged and no staging directory") {
    import spark.implicits._
    val t = GraftTable.create(spark, fresh("failed"),
      Seq((1L, "doc_1", 0.5)).toDF("id", "name", "score"), statsCols = Seq("id"))
    val files = partFiles(t)
    val boom = udf((i: Long) => { if (i == 7L) sys.error("boom"); i })
    val bad = spark.range(0, 12, 1, 3).select(boom(col("id")).as("id"),
      concat(lit("doc_"), col("id")).as("name"), (col("id") * 0.5).as("score"))
    intercept[Exception](t.append(bad))
    assert(t.version == 1L)
    assert(stagingDirs(t).isEmpty, s"left behind: ${stagingDirs(t)}")
    assert(partFiles(t) == files)
    assert(t.read().count() == 1L)
  }
}
