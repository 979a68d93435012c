package graft.streaming

import graft.{Sidecar, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Bench harness for the streaming serving family (VERDICT r9 #7):
  * the serve/serveIvf/serveHnsw/serveCached surfaces had specs but no
  * bench rows, so serving latency had no round-over-round trend.
  *
  * Each probe is a FIXED deterministic micro-batch replay: build
  * prepares the store/index, starts the streaming query on a
  * MemoryStream source, and feeds one warm-up batch (stream machinery
  * + index load are startup cost, not serving latency); the timed
  * probe then feeds [[BatchSize]] fixed query vectors and blocks on
  * processAllAvailable — one end-to-end micro-batch at steady state.
  * Request ids advance per feed so every batch is a distinct request
  * set over the same vectors (the cached probe therefore measures the
  * HIT path — its design point). */
object ServingBench {

  final case class Probe(build: () => Unit, probe: () => Unit, stop: () => Unit)

  private val BatchSize = 64
  private val K = 5

  /** (qid, qvec) rows for vec_id ∈ [lo, lo+BatchSize). */
  private def qRows(s: SparkSession, d: String, lo: Long,
      idOffset: Long): Array[(Long, Seq[Float])] =
    Tables.embeddings(s, d)
      .filter(col("vec_id") >= lo && col("vec_id") < lo + BatchSize)
      .select(col("vec_id") + idOffset, col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Pre-collected feed rows, keyed by lo (r17 measurement fix, guide
    * §1.4: the timed feed must measure SERVING, not query-side parquet
    * scans — the dense probes used to re-run a filtered collect over
    * the embeddings table inside every timed feed, i.e. 16 extra scan
    * jobs per `_tput` row; the SPARSE probes always pre-collected
    * their query rows at build, and the dense ones now match them).
    * The rows fed are unchanged: the per-feed request-id offset is
    * applied to the in-memory rows instead of inside the collect's
    * projection — same (qid, qvec) pairs, same per-feed uniqueness.
    * The one collect per lo runs at `prefetch` inside build(), where
    * index/store preparation already lives. */
  private final class FeedRows(s: SparkSession, d: String) {
    private var cache = Map.empty[Long, Array[(Long, Seq[Float])]]
    def prefetch(los: Long*): Unit = los.foreach(rows(_))
    private def rows(lo: Long): Array[(Long, Seq[Float])] =
      cache.getOrElse(lo, {
        val r = qRows(s, d, lo, 0L); cache += lo -> r; r
      })
    def batch(lo: Long, off: Long): IndexedSeq[(Long, Seq[Float])] =
      rows(lo).map { case (i, v) => (i + off, v) }.toIndexedSeq
  }

  def serveExactProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    val store = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L, BatchSize + 1L)
        input = MemoryStream[(Long, Seq[Float])]
        q = KnnServing.serve(input.toDF().toDF("qid", "qvec"), store,
          "qid", "qvec", "vec_id", "embedding", K) { (b, _) => b.count(); () }
        feed(lo = BatchSize + 1) // warm-up: machinery, codegen
      },
      probe = () => feed(lo = 1),
      stop = () => if (q != null) q.stop())
  }

  def serveIvfProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L, BatchSize + 1L)
        val (ix, cents) = graft.operators.IvfIndex.buildIndex(
          Tables.embeddings(s, d), "vec_id", "embedding", nlist = 16)
        val store = ix.localCheckpoint()
        val centroids = cents.localCheckpoint()
        input = MemoryStream[(Long, Seq[Float])]
        q = KnnServing.serveIvf(input.toDF().toDF("qid", "qvec"),
          store, centroids,
          "qid", "qvec", "vec_id", "embedding", K, nprobe = 4) { (b, _) => b.count(); () }
        feed(lo = BatchSize + 1)
      },
      probe = () => feed(lo = 1),
      stop = () => if (q != null) q.stop())
  }

  def serveHnswProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L, BatchSize + 1L)
        val graphs = graft.operators.Hnsw.buildPartitioned(
          Tables.embeddings(s, d), "vec_id", "embedding",
          m = 16, efC = 64, parts = 8).localCheckpoint()
        input = MemoryStream[(Long, Seq[Float])]
        q = KnnServing.serveHnsw(input.toDF().toDF("qid", "qvec"), graphs,
          "qid", "qvec", K, ef = 64) { (b, _) => b.count(); () }
        feed(lo = BatchSize + 1)
      },
      probe = () => feed(lo = 1),
      stop = () => if (q != null) q.stop())
  }

  def serveCachedProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var served: KnnServing.CachedServing = null
    var feeds = 0L
    val store = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      served.query.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L)
        input = MemoryStream[(Long, Seq[Float])]
        served = KnnServing.serveCached(input.toDF().toDF("qid", "qvec"), store,
          "qid", "qvec", "vec_id", "embedding",
          K, eps = 0.0, capacity = 256) { (b, _) => b.count(); () }
        // warm-up feeds the SAME vectors the probe replays, so the
        // timed batch exercises the cache's hit path — its design point
        feed(lo = 1)
      },
      probe = () => feed(lo = 1),
      stop = () => if (served != null) served.query.stop())
  }

  def serveSummarizedProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    val store = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val docs = Tables.documents(s, d)
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L, BatchSize + 1L)
        // doc fetch through the range-clustered GraftTable point-read
        // seam (r14, VERDICT r13 #6): the unclustered parquet fetch's
        // footer/scan term grew with the corpus (0.35 → 0.57 s per
        // 10×); stat-pruned point reads make it hit-proportional
        val table = ensureDocStore(s, d)
        input = MemoryStream[(Long, Seq[Float])]
        q = KnnServing.serveSummarized(input.toDF().toDF("qid", "qvec"),
          store, docs, "qid", "qvec", "vec_id", "embedding",
          "doc_id", "text", terms = Seq("join", "vector", "scan"),
          k = K,
          fetchDocs = Some(ids => table.readWhere(col("doc_id").isin(ids: _*)))) {
          (b, _) => b.count(); ()
        }
        feed(lo = BatchSize + 1)
      },
      probe = () => feed(lo = 1),
      stop = () => if (q != null) q.stop())
  }

  /** The reference's serving flow end-to-end in its INDEXED form
    * ([[KnnServing.serveSummarizedIndexed]] — as pgvector would serve
    * the reference's SELECT with an hnsw index created; the reference
    * itself creates only the extension): hnsw-indexed top-k
    * (P graph loads per batch, corpus-row-count independent)
    * + a stat-pruned GraftTable point read for the hit docs
    * (the docs store is range-clustered on doc_id at build, so the
    * literal In prunes to the files holding the hits) + extractive
    * summarize. The scale contrast row for serve_summarized_probe,
    * whose exact store scan is its documented dominant term at 10×+
    * (BENCH_NOTES r13 sweep #2). */
  def serveSummarizedIdxProbe(s: SparkSession, d: String): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Float])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    val fr = new FeedRows(s, d)
    def feed(lo: Long): Unit = {
      feeds += 1
      input.addData(fr.batch(lo, feeds * 1000000L))
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        fr.prefetch(1L, BatchSize + 1L)
        val graphs = graft.operators.Hnsw.buildPartitioned(
          Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", m = 16, efC = 64, parts = 8).localCheckpoint()
        val table = ensureDocStore(s, d)
        input = MemoryStream[(Long, Seq[Float])]
        q = KnnServing.serveSummarizedIndexed(
          input.toDF().toDF("qid", "qvec"), graphs,
          ids => table.readWhere(col("doc_id").isin(ids: _*)),
          "qid", "qvec", "doc_id", "text",
          terms = Seq("join", "vector", "scan"),
          k = K) { (b, _) => b.count(); () }
        feed(lo = BatchSize + 1)
      },
      probe = () => feed(lo = 1),
      stop = () => if (q != null) q.stop())
  }

  /** Sparse-query graph serving (r14): sparse graphs over the tf
    * corpus, fed per-batch (qid, indices, values) term queries — the
    * lexical-retrieval serving shape. Query rows are real corpus
    * docs' sparse vectors (ids offset per feed like the dense
    * probes). */
  def serveSparseProbe(s: SparkSession, d: String): Probe = sparseProbe(s, d, routed = false)

  /** ROUTED sparse-query graph serving (r15): the cell-routed form of
    * [[serveSparseProbe]] — same store corpus, same per-batch query
    * rows, but each query walks only its nprobe top-mass cells'
    * graphs. The contrast row for serve_sparse_probe's P-growth band
    * (the VERDICT r14 perf-weak): per-batch graph loads are capped by
    * min(nlist, |batch|·nprobe) instead of growing with the corpus's
    * partition count. */
  def serveSparseRoutedProbe(s: SparkSession, d: String): Probe = sparseProbe(s, d, routed = true)

  private def sparseProbe(s: SparkSession, d: String, routed: Boolean): Probe = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    var input: MemoryStream[(Long, Seq[Long], Seq[Double])] = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var feeds = 0L
    var qrows: Array[(Long, Seq[Long], Seq[Double])] = null
    def feed(): Unit = {
      feeds += 1
      input.addData(qrows.map { case (i, ix, v) =>
        (i + feeds * 1000000L, ix, v) }.toIndexedSeq)
      q.processAllAvailable()
    }
    Probe(
      build = () => {
        val tf = graft.queries.VectorQueries.sparseTf(s, d).localCheckpoint()
        val corpus = tf.withColumn("sv", graft.operators.Hnsw.sparseColumn("sidx", "sval"))
        val (graphs, route) =
          if (!routed)
            (graft.operators.Hnsw.buildPartitioned(corpus, "doc_id", "sv",
              m = 16, efC = 64, parts = 8, metric = "cosine"), None)
          else {
            // nlist is the corpus-scale knob (the fixed-cell-size law,
            // see the writeGraphsClustered scaladoc and the round-15
            // scale A/B, commit 22177d1): ~500 docs per cell
            // pre-spill. A FIXED nlist at a 100× fixture lets cells grow with the corpus and the
            // batch's probed union saturate — the row would then
            // (mis)read slower than flat while measuring only the toy
            // parameterization.
            val routing = graft.operators.Hnsw.TermMass(math.max(16, (tf.count() / 500).toInt))
            (graft.operators.Hnsw.buildCellRouted(corpus, "doc_id", "sv", routing,
              spill = 2, m = 16, efC = 64, metric = "cosine",
              // split skewed cells at ~2× the mean row count so the
              // build is never one giant cell's serial insert loop (r16)
              maxCell = 2048), Some((routing, 4)))
          }
        qrows = tf.filter(col("doc_id") < BatchSize)
          .select(col("doc_id"), col("sidx"), col("sval"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2)))
        input = MemoryStream[(Long, Seq[Long], Seq[Double])]
        q = KnnServing.serveHnsw(
          input.toDF().toDF("qid", "qidx", "qval")
            .select(col("qid"), graft.operators.Hnsw.sparseColumn("qidx", "qval").as("q")),
          graphs.localCheckpoint(), "qid", "q", K, ef = 64, route = route) {
          (b, _) => b.count(); ()
        }
        feed() // warm-up
      },
      probe = () => feed(),
      stop = () => if (q != null) q.stop())
  }

  private[graft] val DocStoreTag = "docstore_v1"

  /** Range-clustered docs GraftTable for point-read doc fetches:
    * built once per fixture generation (Sidecar content key), files
    * sorted/partitioned by doc_id so every id's stats envelope is
    * tight and the In prune touches only hit-bearing files. */
  private[graft] def ensureDocStore(s: SparkSession, d: String): graft.sources.GraftTable = {
    val path = Sidecar.built(Sidecar.dir(DocStoreTag, d)) { p =>
      graft.sources.GraftTable.create(s, p,
        Tables.documents(s, d)
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"),
        statsCols = Seq("doc_id"))
    }
    graft.sources.GraftTable.open(s, path, statsCols = Seq("doc_id"))
  }

  /** name → probe factory, in bench execution order. */
  def all: Seq[(String, (SparkSession, String) => Probe)] = Seq(
    "serve_exact_probe" -> (serveExactProbe _),
    "serve_ivf_probe" -> (serveIvfProbe _),
    "serve_hnsw_probe" -> (serveHnswProbe _),
    "serve_cached_probe" -> (serveCachedProbe _),
    "serve_summarized_probe" -> (serveSummarizedProbe _),
    "serve_summarized_idx_probe" -> (serveSummarizedIdxProbe _),
    "serve_sparse_probe" -> (serveSparseProbe _),
    "serve_sparse_routed_probe" -> (serveSparseRoutedProbe _))

  /** Micro-batches per `_tput` row. */
  val TputBatches = 16

  /** THROUGHPUT rows (VERDICT r10 #5 / r11 #8): each family's probe
    * fed [[TputBatches]] consecutive micro-batches in ONE timed span.
    * A single-batch row carries the per-batch fixed floor (state-store
    * commits, plan reuse misses, index touch); the tput row divided by
    * 16× the single-batch row shows what amortizes at steady state —
    * the serving-relevant number (the cached family's hit path should
    * amortize hardest). Request ids advance per feed, so every batch
    * is a distinct request set over the same vectors. */
  def tput: Seq[(String, (SparkSession, String) => Probe)] =
    all.map { case (name, mk) =>
      (name.stripSuffix("_probe") + "_tput") ->
        ((s: SparkSession, d: String) => {
          val p = mk(s, d)
          p.copy(probe = () => (1 to TputBatches).foreach(_ => p.probe()))
        })
    }
}
