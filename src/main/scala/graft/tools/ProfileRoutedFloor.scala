package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only decomposition of the routed-sparse probe floor (r18 —
  * VERDICT r17 #3: vs_hnsw_routed_probe read ~1.3× across two
  * instruments after the kernel rework; and the Zipf 500k cache A/B
  * shows a ~1 s warm floor on the routed single probe that graph
  * loads cannot explain). Phases, each min-of-5 after one warm pass:
  *   read_df      — spark.read.parquet(store) alone (listing+schema)
  *   scan_collect — probed blobs fetched to the driver (scan + In prune)
  *   walk_driver  — driver-side Hnsw.walk over those blobs
  *   full_routed  — the routed Hnsw.search end to end
  *   full_flat    — Hnsw.search end to end (the contrast row)
  * full_routed − (scan_collect + walk_driver) ≈ the Spark plan floor
  * (dedup exchange, AQE stages, job scheduling).
  * Usage: runMain graft.tools.ProfileRoutedFloor <storeDir> <flatDir> <nlist>
  */
object ProfileRoutedFloor {
  def main(args: Array[String]): Unit = {
    val routedP = args(0); val flatP = args(1); val nlist = args(2).toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id) s").collect()
    import spark.implicits._
    val tf = ZipfSparse.corpus(spark, 500000L)
    val q1 = tf.filter(col("doc_id") === 1L).select(col("sidx"), col("sval")).head
    val (qi, qv) = (q1.getSeq[Long](0).toArray, q1.getSeq[Double](1).toArray)
    val routing = graft.operators.Hnsw.TermMass(nlist)
    val route = Some((routing, 4))
    val cells = routing.cells(graft.operators.Hnsw.Sparse(qi, qv), 4)
    def minOf5(tag: String)(f: => Unit): Unit = {
      f // warm
      val t = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[floor] $tag ${t}%.3f s")
    }
    minOf5("read_df") { spark.read.parquet(routedP).schema; () }
    var blobs: Array[Array[Byte]] = null
    minOf5("scan_collect") {
      blobs = spark.read.parquet(routedP)
        .filter(col("part_id").isin(cells.map(Int.box): _*))
        .select(col("graph")).as[Array[Byte]].collect()
    }
    println(s"[floor] probed_blobs=${blobs.length} bytes=${blobs.map(_.length.toLong).sum}")
    minOf5("walk_driver") {
      blobs.foreach(b => graft.operators.Hnsw.walk(b, 10, 96)(
        graft.operators.Hnsw.Sparse(qi, qv)))
    }
    minOf5("full_routed") {
      graft.operators.Hnsw.search(
        graft.operators.Hnsw.readGraphs(spark, routedP),
        graft.operators.Hnsw.Sparse(qi, qv), 10, ef = 96, route = route).collect(); ()
    }
    minOf5("full_flat") {
      graft.operators.Hnsw.search(graft.operators.Hnsw.readGraphs(spark, flatP),
        graft.operators.Hnsw.Sparse(qi, qv), 10, ef = 96)
        .collect(); ()
    }
    // batch-16 serving shapes
    val qs = tf.filter(col("doc_id") < 16).collect()
      .map(r => (r.getLong(0),
        graft.operators.Hnsw.Sparse(r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray)))
      .toSeq
    minOf5("batch16_routed") {
      graft.operators.Hnsw.searchBatch(
        graft.operators.Hnsw.readGraphs(spark, routedP), qs,
        10, ef = 96, route = route).collect(); ()
    }
    minOf5("batch16_flat") {
      graft.operators.Hnsw.searchBatch(graft.operators.Hnsw.readGraphs(spark, flatP),
        qs, 10, 96).collect(); ()
    }
    spark.stop()
  }
}
