package graft

import org.scalatest.funsuite.AnyFunSuite

/** An entry's build step lives on its [[QueryDef]] and nowhere else:
  * `graft.queries` keeps no bench-only builder beside the entry, and
  * [[Bench]] takes its split set from `SparkEntry.all`, so the
  * `_build`/`_probe` rows time the `fn` that Verify checks. */
class BenchSplitSpec extends AnyFunSuite {

  test("graft.queries defines no bench-only builder") {
    val dir = new java.io.File("src/main/scala/graft/queries")
    assert(dir.isDirectory, dir)
    val defBench = """def \w+Bench\b""".r
    val hits = dir.listFiles.toSeq.filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if defBench.findFirstIn(l).isDefined => s"${f.getName}:${i + 1}: ${l.trim}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the split set is the entries with a build, and Bench names none") {
    val split = Set(
      "vs_knn_join", "vs_ivf_knn", "vs_ivf_auto", "vs_ivf_txn", "vs_ivf_bit",
      "vs_ivfpq_knn", "vs_pq_knn", "vs_bq_knn", "vs_sq_knn", "vs_hnsw_knn",
      "vs_hnsw_routed", "vs_hnsw_bit", "vs_hnsw_bit_jacc", "vs_hnsw_sparse",
      "vs_hnsw_sparse_routed",
      "ingest_pdf_pages", "ingest_pdf_encrypted", "ingest_pdf_modern",
      "ingest_pdf_store", "vs_registered_list", "vs_failed_list",
      "txn_merge", "txn_changes", "txn_timetravel", "txn_restore", "txn_evolve",
      "txn_stats_agg", "txn_stats_auto", "txn_cluster", "txn_clone",
      "txn_incr_view", "txn_compact", "txn_index_sync",
      "text_bpe_train", "text_bpe_apply", "curate_classifier",
      "events_quantiles_sketch", "dedup_incremental")
    val built = SparkEntry.all.collect { case (k, q) if q.build.isDefined => k }.toSet
    assert(built == split,
      s"added: ${(built -- split).toSeq.sorted}, missing: ${(split -- built).toSeq.sorted}")
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    val named = SparkEntry.all.keys.filter(k => src.contains("\"" + k + "\"")).toSeq.sorted
    assert(named.isEmpty, s"Bench.scala names entries: ${named.mkString(", ")}")
  }
}
