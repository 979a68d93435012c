package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only phase breakdown of the routed-sparse store build (r17,
  * guide §1: measure before optimizing — the A/B showed the kernel
  * change moved walks but not builds, so this splits the build row
  * into its phases: tf store, cell assignment + graph inserts + ser,
  * clustered write, oracle dump). */
object ProfileBuildPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id) s").collect()
    def timed(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[phase] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val base = java.nio.file.Files.createTempDirectory("graft_profphase").toString
    var tfP: String = null
    timed("tf_store") {
      tfP = s"$base/tf"
      graft.queries.VectorQueries.sparseTf(spark, sfDir)
        .write.mode("overwrite").parquet(tfP)
    }
    var graphs: org.apache.spark.sql.DataFrame = null
    timed("build_cells(materialize)") {
      graphs = graft.operators.Hnsw.buildCellRouted(
        spark.read.parquet(tfP)
          .withColumn("sv", graft.operators.Hnsw.sparseColumn("sidx", "sval")),
        "doc_id", "sv", graft.operators.Hnsw.TermMass(16),
        spill = 2, m = 16, efC = 64, metric = "cosine")
        .localCheckpoint(true)
    }
    timed("write_clustered") {
      graft.operators.Hnsw.writeGraphsClustered(graphs, s"$base/graphs")
    }
    timed("dump_parsed") {
      graft.operators.Hnsw.dumpParsed(
        graft.operators.Hnsw.readGraphs(spark, s"$base/graphs"))
        .write.mode("overwrite").parquet(s"$base/dump")
    }
    // second pass, two floors (ADVICE r17: the old single "assign_only"
    // pass mapped every row to two FIXED cells — it measured the
    // scan+explode+groupBy floor, not cell assignment):
    //  - scan_floor: the fixed-cell map — scan + explode + groupBy cost
    //  - assign_real: the actual TermMass routing function at
    //    the build's parameterization; assign_real − scan_floor is the
    //    routing arithmetic itself
    timed("scan_floor(count)") {
      val tf = spark.read.parquet(tfP)
      import spark.implicits._
      tf.select(org.apache.spark.sql.functions.col("doc_id").cast("long"),
          org.apache.spark.sql.functions.col("sidx").cast("array<bigint>"),
          org.apache.spark.sql.functions.col("sval").cast("array<double>"))
        .as[(Long, Seq[Long], Seq[Double])]
        .flatMap { case (id, qi, qv) => (0 until 2).map(c => (c, id)) }
        .toDF("c", "id").groupBy("c").count().collect()
    }
    timed("assign_real(count)") {
      val tf = spark.read.parquet(tfP)
      import spark.implicits._
      tf.select(org.apache.spark.sql.functions.col("doc_id").cast("long"),
          org.apache.spark.sql.functions.col("sidx").cast("array<bigint>"),
          org.apache.spark.sql.functions.col("sval").cast("array<double>"))
        .as[(Long, Seq[Long], Seq[Double])]
        .flatMap { case (id, qi, qv) =>
          graft.operators.Hnsw.TermMass(16)
            .cells(graft.operators.Hnsw.Sparse(qi.toArray, qv.toArray), 2).map(c => (c, id))
        }
        .toDF("c", "id").groupBy("c").count().collect()
    }
    println(s"[phase] base=$base")
    spark.stop()
  }
}
