package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scale A/B for the cell-routed sparse layout (r15 —
  * VERDICT r14 #1's "done" evidence): per-query probe cost of the
  * FLAT sparse layout (all P partition graphs walked) vs the ROUTED
  * layout at a FIXED CELL SIZE — nlist scales with the corpus
  * (nlist ≈ docs / 500, the 100 TB law: cells hold a bounded vector
  * count, so a query's nprobe cell loads are corpus-size-independent
  * while the flat layout's per-query bytes grow with the corpus).
  * The inventory entry vs_hnsw_sparse_routed keeps its fixed
  * nlist=16 for oracle determinism; this probe measures the layout's
  * SCALING law, which is a function of cell sizing, not of the entry's
  * toy parameters.
  *
  * Usage: runMain graft.tools.ProfileSparseRouted <sfDir> [nlist]
  * Prints one [sproute] line: flat cold/warm, routed cold/warm,
  * and a 64-query routed batch (the serving shape). */
object ProfileSparseRouted {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileSparseRouted <sfDir> [nlist]")
    val sfDir = args(0)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id) s").collect()
    graft.OracleEnv.sfDir = sfDir

    val tf = graft.queries.VectorQueries.sparseTf(spark, sfDir).localCheckpoint()
    val nDocs = tf.count()
    val nlist = if (args.length > 1) args(1).toInt
      else math.max(16, (nDocs / 500).toInt) // ~500 docs per cell pre-spill
    val key = graft.Sidecar.key(sfDir)
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sproute_profb_${nlist}_$key")
    val flatP = new java.io.File(base, "flat").toString
    val routedP = new java.io.File(base, "routed").toString
    if (!new java.io.File(routedP, "_SUCCESS").exists()) {
      graft.operators.Hnsw.writeGraphs(
        graft.operators.Hnsw.buildPartitioned(
          tf.withColumn("sv", graft.operators.Hnsw.sparseColumn("sidx", "sval")),
          "doc_id", "sv", parts = 8, metric = "cosine"), flatP)
      graft.operators.Hnsw.writeGraphsClustered(
        graft.operators.Hnsw.buildCellRoutedSparse(
          tf, "doc_id", "sidx", "sval",
          nlist = nlist, spill = 2, metric = "cosine"), routedP)
    }
    val (qi, qv) = graft.functions.SparseVec.queryOf(
      graft.queries.VectorQueries.SparseQueryTerms)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def flatProbe(): Unit = {
      graft.operators.Hnsw.search(graft.operators.Hnsw.readGraphs(spark, flatP),
        graft.operators.Hnsw.Sparse(qi, qv), 10, ef = 96)
        .collect(); ()
    }
    def routedProbe(): Unit = {
      graft.operators.Hnsw.searchRoutedSparse(
        graft.operators.Hnsw.readGraphs(spark, routedP), nlist,
        qi, qv, 10, nprobe = 4, ef = 96).collect(); ()
    }
    // 64 corpus docs as a serving batch (the serveHnswSparseRouted shape)
    val batch = tf.orderBy(col("doc_id")).limit(64).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray))
      .toSeq
    def routedBatch(): Unit = {
      graft.operators.Hnsw.searchBatchRoutedSparse(
        graft.operators.Hnsw.readGraphs(spark, routedP), nlist,
        batch, 5, nprobe = 4, ef = 64).collect(); ()
    }
    val fc = timed(flatProbe()); val fw = timed(flatProbe())
    val rc = timed(routedProbe()); val rw = timed(routedProbe())
    val bc = timed(routedBatch()); val bw = timed(routedBatch())
    println(f"[sproute] sf=$sfDir docs=$nDocs nlist=$nlist " +
      f"flat cold=$fc%.3f warm=$fw%.3f | routed cold=$rc%.3f warm=$rw%.3f | " +
      f"routed-batch64 cold=$bc%.3f warm=$bw%.3f")
    spark.stop()
  }
}
