package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import graft.operators.{IvfIndex, Knn, LshAnn, PqIndex}
import graft.plans.{IvfCatalog, IvfProbeRule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-search inventory (SURVEY.md §2) — the pgvector side of the
  * reference (SSEOpenAIController.java:316 `ORDER BY embedding <->
  * ?::vector LIMIT 5`, and the `<=>` / `<#>` operators pgvector
  * defines on the same table).
  *
  * Oracle parity: DuckDB `list_distance` / `list_cosine_similarity` /
  * `list_dot_product` over `CAST(x AS DOUBLE[])` are bit-identical to
  * [[graft.functions.VectorFunctions]] (verified; SURVEY.md §3).
  */
object VectorQueries {

  private val K = 10

  private def queryVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") =!= 0)

  private def knnOracle(distSql: String, extra: String = ""): String = s"""
    SELECT e.vec_id AS vec_id, $distSql AS dist
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0 $extra
    ORDER BY dist, vec_id
    LIMIT $K"""

  private val l2Sql  = "list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))"
  private val cosSql = "1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))"
  private val ipSql  = "-list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))"
  // L1 has no native DuckDB list function; list_sum folds the list in
  // element order (verified bit-identical to sequential accumulation)
  private val l1Sql  = "list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), " +
    "CAST(q.qvec AS DOUBLE[])), x -> abs(x[1] - x[2])))"

  private def knnL2(s: SparkSession, d: String): DataFrame =
    Knn.topK(corpus(s, d), "vec_id", "embedding", queryVec(s, d), "qvec", l2Distance, K)

  /** pgvector `<+>` (L1) top-k — same TakeOrderedAndProject shape as
    * the other three distance operators, fourth mode of the fused
    * [[graft.functions.VectorDistanceExpr]]. */
  private def knnL1(s: SparkSession, d: String): DataFrame =
    Knn.topK(corpus(s, d), "vec_id", "embedding", queryVec(s, d), "qvec", l1Distance, K)

  private def knnCos(s: SparkSession, d: String): DataFrame =
    Knn.topK(corpus(s, d), "vec_id", "embedding", queryVec(s, d), "qvec", cosineDistance, K)

  private def knnIp(s: SparkSession, d: String): DataFrame =
    Knn.topK(corpus(s, d), "vec_id", "embedding", queryVec(s, d), "qvec", negativeInnerProduct, K)

  // ----------------------------------------------------------- batch top-k
  private def knnBatch(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Knn.topKBatch(Tables.embeddings(s, d), "vec_id", "embedding",
      q, "qid", "qvec", l2Distance, 5)
  }

  private val knnBatchSql = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    dists AS (
      SELECT q.qid, e.vec_id,
             list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid),
    ranked AS (
      SELECT qid, vec_id, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      FROM dists)
    SELECT qid, vec_id, dist FROM ranked
    WHERE rn <= 5
    ORDER BY qid, dist, vec_id"""

  // ---------------------------------------------------------- range search
  private def rangeSearch(s: SparkSession, d: String): DataFrame =
    Knn.rangeSearch(corpus(s, d), "vec_id", "embedding",
      queryVec(s, d), "qvec", l2Distance, 1.30)

  private val rangeSearchSql = """
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
      AND list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) < 1.30
    ORDER BY dist, vec_id"""

  // -------------------------------------------------------------- IVF ANN
  /** Shipped IVF operating point (r5): nlist 32, spill 2 (SOAR-style
    * multi-assignment, [[IvfIndex.assignCells]]), nprobe 6. On the
    * isotropic test corpus — the worst case for any partitioning
    * index — this measures mean recall@10 ≈ 0.83 over 20 queries
    * (tools/ProfileRecall) at a candidate fraction of
    * spill·nprobe/nlist = 0.375, vs 0.54 at 1.5× fewer candidates for
    * the old 4/16 single-assignment point: the spare copies buy more
    * recall per candidate scanned than raising nprobe does. */
  private[graft] val IvfNlist = 32
  private[graft] val IvfSpill = 2
  private[graft] val IvfNprobe = 6

  /** Explicit-API IVF probe over the PERSISTED cell-assigned store
    * ([[ensureAutoStore]] — same nlist/spill/nprobe operating point).
    * Approximate vs the true exact top-k (cell recall < 1, floor
    * asserted in RecallGateSpec) but DETERMINISTIC given the
    * materialized centroids: the DuckDB oracle replays cell ranking +
    * spilled-copy dedup + within-cell exact top-k over the same
    * parquet (VERDICT r8 #1), so the entry carries the full
    * rows+schema+hash gate. */
  private def ivfKnn(s: SparkSession, d: String): DataFrame = {
    val (storeP, centP) = ensureAutoStore(s, d)
    IvfIndex.search(
      s.read.parquet(storeP).filter(col("vec_id") =!= 0), "vec_id", "embedding",
      s.read.parquet(centP).select(col("centroid_id"), col("centroid")),
      queryVec(s, d), "qvec", l2Distance, k = K, nprobe = IvfNprobe)
  }

  // ------------------------------------------------------------ IVF-PQ
  /** The FAISS-style composite index (pgvector has no analogue; at
    * 100 TB it is the memory-bound workhorse): IVF cell probing picks
    * the candidate fraction (spill·nprobe/nlist of the corpus), PQ/ADC
    * scores those candidates reading only the m-byte codes, and the
    * exact re-rank touches `rerank` full vectors — so the probe's
    * byte cost is codes-only where plain IVF reads full vectors.
    * Pure composition of the two existing operators
    * ([[IvfIndex.probeCandidates]] + [[PqIndex.search]]), SURVEY §6a
    * tier (a). Rows-only: approximate (cell recall × ADC shortlist,
    * recovered by the exact re-rank; gated in RecallGateSpec). */
  /** Build-once IVF-PQ store: the cell-assigned spilled layout WITH
    * the PQ codes on every row (at 100 TB codes live inside the
    * cell-partitioned files — the probe reads codes-only from the
    * probed cells), plus centroids + codebooks sidecars. */
  private[graft] def ivfPqBasePath(d: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivfpq_v1_${graft.Sidecar.key(d)}")

  private def ensureIvfPqStore(s: SparkSession, d: String): (String, String, String) = {
    val base = ivfPqBasePath(d)
    val storeP = new java.io.File(base, "store").toString
    val centP = new java.io.File(base, "centroids").toString
    val cbP = new java.io.File(base, "codebooks").toString
    VectorQueries.synchronized {
      if (!new java.io.File(cbP, "_SUCCESS").exists()) {
        val emb = Tables.embeddings(s, d)
        val (indexed, centroids) = IvfIndex.buildIndex(
          emb, "vec_id", "embedding", nlist = IvfNlist, spill = IvfSpill)
        val cb = PqIndex.train(emb, "embedding", dims = 64, m = 16, ksub = 32)
        IvfIndex.writePartitioned(
          PqIndex.encode(indexed, "embedding", cb), storeP)
        centroids.write.mode("overwrite").parquet(centP)
        PqIndex.writeCodebooks(s, cb, cbP)
      }
    }
    (storeP, centP, cbP)
  }

  /** IVF-PQ composite search over the persisted combined store: cell
    * probe picks the candidate fraction, ADC scores codes-only, exact
    * re-rank touches 64 vectors. Deterministic given the persisted
    * cells + codes + codebooks — since r9 fully hash-oracled. */
  private def ivfPqKnn(s: SparkSession, d: String): DataFrame = {
    val (storeP, centP, cbP) = ensureIvfPqStore(s, d)
    val cb = PqIndex.readCodebooks(s, cbP)
    val cands = IvfIndex.probeCandidates(
      s.read.parquet(storeP).filter(col("vec_id") =!= 0),
      s.read.parquet(centP), queryVec(s, d), "qvec", l2Distance, nprobe = IvfNprobe)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    PqIndex.search(cands, "vec_id", q, cb, K, rerank = 64)
  }

  def ivfPqBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var encoded: DataFrame = null
    var centroids: DataFrame = null
    var cb: PqIndex.Codebooks = null
    var q: Array[Double] = null
    val build = () => {
      val emb = Tables.embeddings(s, d)
      val (ix, c) = IvfIndex.buildIndex(
        emb, "vec_id", "embedding", nlist = IvfNlist, spill = IvfSpill)
      cb = PqIndex.train(emb, "embedding", dims = 64, m = 16, ksub = 32)
      encoded = PqIndex.encode(ix.filter(col("vec_id") =!= 0), "embedding", cb)
        .localCheckpoint()
      centroids = c
      q = queryVec(s, d).select(col("qvec").cast("array<double>"))
        .head.getSeq[Double](0).toArray
    }
    val probe = () => PqIndex.search(
      IvfIndex.probeCandidates(encoded, centroids, queryVec(s, d), "qvec",
        l2Distance, nprobe = IvfNprobe),
      "vec_id", q, cb, K, rerank = 64)
    (build, probe)
  }

  // -------------------------------------------------------- HNSW graph ANN
  /** Graph ANN (pgvector's `USING hnsw` family): partition-local HNSW
    * graphs + exact cross-partition merge ([[graft.operators.Hnsw]]).
    * Unlike cell probing, the beam walks toward the query wherever it
    * lives, so recall stays high even on this isotropic corpus
    * (gated ≥ 0.9 in RecallGateSpec). Rows-only: approximate
    * (beam-search termination, like every HNSW). */
  private[graft] val HnswM = 16
  private[graft] val HnswEfC = 64
  private[graft] val HnswEf = 96
  private[graft] val HnswParts = 8
  private[graft] val HnswFilterWiden = 8

  /** Build-once flat partitioned graph store + its RELATIONAL dump
    * ([[graft.operators.Hnsw.dumpParsed]]): with deterministic
    * (dist, node) heap tie-breaks the ef-beam walk is a pure function
    * of (graph, query), so persisting the parsed adjacency lets the
    * DuckDB oracle replay the walk bit-for-bit (r13 — the flip that
    * moved the hnsw trio off the rows-only tier). */
  private[graft] def ensureHnswStore(s: SparkSession, d: String): (String, String) = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswflat_v1_${graft.Sidecar.key(d)}")
    val graphsP = new java.io.File(base, "graphs").toString
    val dumpP = new java.io.File(base, "dump").toString
    VectorQueries.synchronized {
      if (!new java.io.File(dumpP, "_SUCCESS").exists()) {
        val graphs = graft.operators.Hnsw.buildPartitioned(
          corpus(s, d), "vec_id", "embedding",
          m = HnswM, efC = HnswEfC, parts = HnswParts)
        graft.operators.Hnsw.writeGraphs(graphs, graphsP)
        graft.operators.Hnsw.dumpParsed(
          graft.operators.Hnsw.readGraphs(s, graphsP))
          .write.mode("overwrite").parquet(dumpP)
      }
    }
    (graphsP, dumpP)
  }

  private def hnswKnn(s: SparkSession, d: String): DataFrame = {
    val (graphsP, _) = ensureHnswStore(s, d)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    graft.operators.Hnsw.search(
      graft.operators.Hnsw.readGraphs(s, graphsP), graft.operators.Hnsw.Dense(q), K,
      ef = HnswEf)
  }

  /** Build-once BIT graph stores (pgvector `bit_hamming_ops` /
    * `bit_jaccard_ops` — r13): graphs over the packed sidecar's 0/1
    * bit expansion, built AND walked with the integer-exact bit
    * kernel ([[graft.operators.Hnsw.Metric]] Hamming/Jaccard; metric
    * is index state, so each opclass gets its own store). 0/1 are
    * exact in binary16 → half storage. Same parsed-dump replay
    * contract as the real-vector graphs. */
  private[graft] def ensureHnswBitStore(
      s: SparkSession, d: String, metric: String): (String, String) = {
    val tag = if (metric == "hamming") "ham" else "jac"
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswbit_${tag}_v1_${graft.Sidecar.key(d)}")
    val graphsP = new java.io.File(base, "graphs").toString
    val dumpP = new java.io.File(base, "dump").toString
    VectorQueries.synchronized {
      if (!new java.io.File(dumpP, "_SUCCESS").exists()) {
        val src = s.read.parquet(ensureBqStore(s, d))
          .withColumn("bits", expr("flatten(transform(bq, w -> " +
            "transform(sequence(0, 63), j -> cast(getbit(w, j) as double))))"))
        val graphs = graft.operators.Hnsw.buildPartitioned(
          src, "vec_id", "bits", m = HnswM, efC = HnswEfC,
          parts = HnswParts, metric = metric, half = true)
        graft.operators.Hnsw.writeGraphs(graphs, graphsP)
        graft.operators.Hnsw.dumpParsed(
          graft.operators.Hnsw.readGraphs(s, graphsP))
          .write.mode("overwrite").parquet(dumpP)
      }
    }
    (graphsP, dumpP)
  }

  /** vs_hnsw_bit / vs_hnsw_bit_jacc: graph ANN over `bit(n)` sign
    * vectors — the beam walks by hamming (resp. jaccard) distance, so
    * the index family pgvector serves with `<~>`/`<%>` is covered
    * end-to-end (DDL surface in VectorIndexDdl; this is the
    * explicit-API twin on the oracle gate). Deterministic: integer
    * distances, (dist, node) heap tie-breaks — hash-exact from birth
    * via the parameterized walk replay. */
  private def hnswBitKnn(s: SparkSession, d: String, metric: String): DataFrame = {
    val (graphsP, _) = ensureHnswBitStore(s, d, metric)
    val q = graft.operators.Hnsw.expandWords(graft.operators.BinaryQuant.pack(
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray))
    graft.operators.Hnsw.search(
      graft.operators.Hnsw.readGraphs(s, graphsP), graft.operators.Hnsw.Dense(q), K,
      ef = HnswEf)
  }

  /** Build-once bit-IVF store (pgvector `ivfflat (bq bit_hamming_ops)`
    * — r13, the former documented ivfflat-bit refusal now implemented):
    * k-majority Lloyd over the packed sidecar
    * ([[graft.operators.IvfIndex.buildBitIndex]]), store partitioned
    * by cell, centroids persisted as 0/1 arrays for the replay. */
  private[graft] val IvfBitNlist = 16
  private[graft] val IvfBitNprobe = 4
  private def ivfBitBasePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivfbit_v1_${graft.Sidecar.key(d)}").toString

  private def ensureIvfBitStore(s: SparkSession, d: String): String = {
    val base = ivfBitBasePath(d)
    VectorQueries.synchronized {
      // gate on the LAST-written artifact (ADVICE r13): gating on
      // store/_SUCCESS with centroids written after left a crash
      // window that permanently poisoned the cache (store present,
      // centroids missing — every later probe/oracle run fails until
      // the directory is deleted by hand)
      if (!new java.io.File(new java.io.File(base, "centroids"), "_SUCCESS").exists()) {
        val (indexed, cents) = graft.operators.IvfIndex.buildBitIndex(
          s.read.parquet(ensureBqStore(s, d)), "vec_id", "bq",
          nlist = IvfBitNlist, iters = 2)
        graft.operators.IvfIndex.writePartitioned(
          indexed, new java.io.File(base, "store").toString)
        cents.write.mode("overwrite")
          .parquet(new java.io.File(base, "centroids").toString)
      }
    }
    base
  }

  /** vs_ivf_bit: cell-probed hamming search — rank the nlist bit
    * centroids by hamming driver-side (KB-scale, the rankCells
    * budget), scan ONLY the nprobe cell partitions (partition-pruned
    * In), exact integer hamming top-k within. Deterministic end to
    * end: integer cell ranking (centroid_id tie-break) + integer
    * distances — hash-exact from birth. */
  private def ivfBitKnn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val base = ensureIvfBitStore(s, d)
    val qWords = graft.operators.BinaryQuant.pack(
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray)
    val qBits = graft.operators.Hnsw.expandWords(qWords)
    // nlist rows — driver metadata, same budget as Hnsw.rankCells
    val cells = s.read.parquet(new java.io.File(base, "centroids").toString)
      .select(col("centroid_id"), col("centroid").cast("array<double>"))
      .collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        var h = 0; var i = 0
        val n = math.min(qBits.length, c.length)
        while (i < n) { if (qBits(i) != c(i)) h += 1; i += 1 }
        (h, r.getInt(0))
      }
      .sorted.take(IvfBitNprobe).map(_._2).toSeq
    s.read.parquet(new java.io.File(base, "store").toString)
      .filter(col("centroid_id").isin(cells.map(Int.box): _*))
      .select(col("vec_id"),
        toColumn(graft.functions.HammingDistExpr(
          toExpression(col("bq")), qWords)).cast("long").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** Replay: centroid ranking from the persisted 0/1 centroid arrays
    * (integer hamming, centroid_id tie-break), partition-pruned
    * probe, sign-bit hamming vs the raw embeddings (≡ the packed
    * store's HammingDistExpr — pack is the sign bits). */
  private def ivfBitOracle(d: String): String = {
    val base = ivfBitBasePath(d)
    s"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT centroid_id
      FROM read_parquet('$base/centroids/*.parquet'), q
      ORDER BY list_sum(list_transform(list_zip(centroid, q.qv),
        x -> CASE WHEN (x[1] = 1) <> (x[2] > 0) THEN 1 ELSE 0 END)),
        centroid_id
      LIMIT $IvfBitNprobe),
    store AS (
      SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
      FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1))
    SELECT s.vec_id AS vec_id,
      CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
        x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS dist
    FROM store s
    JOIN embeddings e ON e.vec_id = s.vec_id, q
    WHERE s.centroid_id IN (SELECT centroid_id FROM probed)
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Bench split for the bit IVF: build = k-majority Lloyd + assign +
    * partitioned write; probe = cell ranking + pruned hamming scan. */
  def ivfBitBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => { ensureIvfBitStore(s, d); () }
    (build, () => ivfBitKnn(s, d))
  }

  // ------------------------------------ sparse HNSW (pgvector sparsevec, r14)
  /** Build-once SPARSE graph store (pgvector `hnsw (v
    * sparsevec_cosine_ops)` — the last pgvector index family): graphs
    * over the sparse tf corpus (the [[sparseTf]] (sidx, sval) layout),
    * built AND walked with the two-pointer sparse cosine kernel
    * ([[graft.operators.Hnsw]] sparse Index). Integer tf weights make
    * every dot/norm an exact integer, so the walk replay needs no
    * accumulation-order argument at all — hash-exact from birth. */
  private[graft] def ensureHnswSparseStore(s: SparkSession, d: String): (String, String) = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswsparse_v1_${graft.Sidecar.key(d)}")
    val graphsP = new java.io.File(base, "graphs").toString
    val dumpP = new java.io.File(base, "dump").toString
    VectorQueries.synchronized {
      if (!new java.io.File(dumpP, "_SUCCESS").exists()) {
        val graphs = graft.operators.Hnsw.buildPartitioned(
          s.read.parquet(ensureSparseTfStore(s, d))
            .withColumn("sv", graft.operators.Hnsw.sparseColumn("sidx", "sval")),
          "doc_id", "sv", m = HnswM, efC = HnswEfC, parts = HnswParts, metric = "cosine")
        graft.operators.Hnsw.writeGraphs(graphs, graphsP)
        graft.operators.Hnsw.dumpParsed(
          graft.operators.Hnsw.readGraphs(s, graphsP))
          .write.mode("overwrite").parquet(dumpP)
      }
    }
    (graphsP, dumpP)
  }

  /** vs_hnsw_sparse: graph ANN over the sparse term-frequency corpus —
    * the pgvector `sparsevec` hnsw serve path (DDL twin:
    * `CREATE INDEX … USING hnsw (sidx sparsevec_cosine_ops) WITH
    * (values = 'sval')`). Same fixed term query as vs_sparse_knn;
    * note the graph walks COSINE DISTANCE (1 − sim ascending) while
    * vs_sparse_knn returns similarity descending — same ranking. */
  private def hnswSparseKnn(s: SparkSession, d: String): DataFrame = {
    val (graphsP, _) = ensureHnswSparseStore(s, d)
    val (qi, qv) = graft.functions.SparseVec.queryOf(SparseQueryTerms)
    graft.operators.Hnsw.search(graft.operators.Hnsw.readGraphs(s, graphsP),
      graft.operators.Hnsw.Sparse(qi, qv), K, ef = HnswEf)
      .select(col("vec_id").as("doc_id"), col("dist"))
  }

  /** Sparse-cosine walk distance for the DuckDB replay: dot over the
    * query's indices via list_position into the node's (vecidx, vec)
    * pair (missing → 0 — list_position returns 0 there), node norm²
    * as a value fold, then the engine's exact
    * `1 − dot/(√qss·√ssq)` with the both-zero → 1.0 guard. All
    * accumulators are integer-valued on this fixture, so every term
    * is bit-exact in any evaluation order. */
  private def hnswSparseDistSql(n: String): String = {
    val pos = s"list_position(gg.vi[$n + 1], x)"
    val dot = s"list_sum(list_transform(gg.qi, (x, i) -> CASE WHEN $pos > 0 " +
      s"THEN gg.qv[i] * gg.vv[$n + 1][$pos] ELSE 0.0 END))"
    val ssq = s"list_sum(list_transform(gg.vv[$n + 1], x -> x * x))"
    s"(CASE WHEN gg.qss * ($ssq) = 0 THEN 1.0 " +
      s"ELSE 1.0 - ($dot) / (sqrt(gg.qss) * sqrt($ssq)) END)"
  }

  /** [[hnswWalkPrelude]]'s sparse flavor: the query is the fixed term
    * set (hash64 ids sorted ascending — [[graft.functions.SparseVec
    * .queryOf]]'s layout), and gg carries the per-node index lists
    * (`vi`) plus the query's (qi, qv, qss). */
  private def hnswSparsePrelude(dumpGlob: String): String = {
    val dist = hnswSparseDistSql _
    s"""
    qcte AS MATERIALIZED (
      SELECT list(h ORDER BY h) AS qi, list(wt ORDER BY h) AS qv,
             CAST(sum(wt * wt) AS DOUBLE) AS qss
      FROM (SELECT ${graft.functions.TextFunctions.hash64Sql("w")} AS h,
                   CAST(wt AS DOUBLE) AS wt
            FROM (VALUES ${SparseQueryTerms.map { case (w, x) =>
              s"('$w', ${x.toInt})" }.mkString(", ")}) t(w, wt))),
    dmp AS MATERIALIZED (SELECT * FROM read_parquet('$dumpGlob')),
    pmeta AS MATERIALIZED (
      SELECT part_id, any_value(entry) AS entry, any_value(max_level) AS maxl,
             count(*) AS n
      FROM dmp GROUP BY part_id),
    offs AS MATERIALIZED (
      SELECT part_id, entry, maxl,
        coalesce(CAST(sum(n) OVER (ORDER BY part_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS INTEGER), 0) AS o
      FROM pmeta),
    nodesg AS MATERIALIZED (
      SELECT d.part_id, o.o + d.node AS gnode, d.vec_id, d.vec, d.vecidx,
             list_transform(d.nbrs, ll -> list_transform(ll, nb -> nb + o.o)) AS gnbrs
      FROM dmp d JOIN offs o USING (part_id)),
    gg AS MATERIALIZED (
      SELECT (SELECT list(vec ORDER BY gnode) FROM nodesg) AS vv,
             (SELECT list(vecidx ORDER BY gnode) FROM nodesg) AS vi,
             (SELECT list(vec_id ORDER BY gnode) FROM nodesg) AS ids,
             (SELECT list(gnbrs ORDER BY gnode) FROM nodesg) AS adj,
             (SELECT qi FROM qcte) AS qi,
             (SELECT qv FROM qcte) AS qv,
             (SELECT qss FROM qcte) AS qss),
    down(part_id, lvl, cur) AS (
      SELECT part_id, maxl, entry + o FROM offs
      UNION ALL
      SELECT part_id, CASE WHEN nxt = cur THEN lvl - 1 ELSE lvl END, nxt
      FROM (
        SELECT w.part_id, w.lvl, w.cur,
          cl[list_position(ds, list_aggregate(ds, 'min'))] AS nxt
        FROM (
          SELECT w0.part_id, w0.lvl, w0.cur,
            list_prepend(w0.cur, gg.adj[w0.cur + 1][w0.lvl + 1]) AS cl,
            list_transform(list_prepend(w0.cur, gg.adj[w0.cur + 1][w0.lvl + 1]),
              n -> ${dist("n")}) AS ds
          FROM down w0, gg WHERE w0.lvl > 0
        ) w
      )
    )"""
  }

  private def hnswSparseOracle(d: String): String = {
    val dump = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswsparse_v1_${graft.Sidecar.key(d)}"), "dump").toString
    val parts = 0 until HnswParts
    s"""WITH RECURSIVE
    ${hnswSparsePrelude(s"$dump/*.parquet")},
    ${parts.map(p => hnswWalkCte(p, HnswEf, K, "", hnswSparseDistSql _)).mkString(",")},
    allres AS (${hnswAllRes(parts, K)})
    SELECT gg.ids[a.n + 1] AS doc_id, a.d AS dist
    FROM allres a, gg
    ORDER BY dist, doc_id LIMIT $K"""
  }

  /** Bench split for the sparse graphs. */
  def hnswSparseBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => { ensureHnswSparseStore(s, d); () }
    (build, () => hnswSparseKnn(s, d))
  }

  // ------------------- cell-routed sparse HNSW (r15 — VERDICT r14 #1)
  private[graft] val SparseRoutedNlist = 16
  private[graft] val SparseRoutedSpill = 2
  private[graft] val SparseRoutedNprobe = 4

  private def sparseRoutedBase(d: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswsproute_v2_${graft.Sidecar.key(d)}")

  /** Build-once cell-ROUTED sparse graph store — the vs_hnsw_routed
    * treatment for the sparsevec family (VERDICT r14's one perf-weak:
    * flat sparse serving loads all P graphs per query, and P grows
    * with the corpus): top-mass-cell routing
    * ([[graft.operators.Hnsw.rankCellsSparse]] — pmod term cells,
    * integer mass sums, the impact-partitioned inverted-index layout),
    * one sparse COSINE graph per cell with spill-2 boundary copies,
    * parsed dump for the walk replay written LAST (the ensure-gate
    * discipline). No centroid artifact: routing is a pure integer
    * function of the vector. */
  private[graft] def ensureSparseRoutedGraphs(s: SparkSession, d: String): String = {
    val base = sparseRoutedBase(d)
    val graphsP = new java.io.File(base, "graphs").toString
    val dumpP = new java.io.File(base, "dump").toString
    VectorQueries.synchronized {
      if (!new java.io.File(dumpP, "_SUCCESS").exists()) {
        val graphs = graft.operators.Hnsw.buildCellRoutedSparse(
          s.read.parquet(ensureSparseTfStore(s, d)), "doc_id", "sidx", "sval",
          nlist = SparseRoutedNlist, spill = SparseRoutedSpill,
          m = HnswM, efC = HnswEfC, metric = "cosine")
        // cell-clustered layout: probes prune at row-group granularity
        // under a constant footer count (the scale-measured layout —
        // see writeGraphsClustered's scaladoc)
        graft.operators.Hnsw.writeGraphsClustered(graphs, graphsP)
        graft.operators.Hnsw.dumpParsed(
          graft.operators.Hnsw.readGraphs(s, graphsP))
          .write.mode("overwrite").parquet(dumpP)
      }
    }
    graphsP
  }

  /** vs_hnsw_sparse_routed: the sparse beam walk probes only the
    * query's [[SparseRoutedNprobe]] top-mass term cells instead of all
    * partition graphs — per-query cost nprobe graph loads,
    * corpus-size-independent (the flat twin vs_hnsw_sparse pays P).
    * Deterministic end to end: integer cell ranking (mass DESC, cell
    * ASC), integer-exact sparse cosine walks — hence on the hash gate
    * from birth like the dense routed entry. */
  private def hnswSparseRouted(s: SparkSession, d: String): DataFrame = {
    val graphsP = ensureSparseRoutedGraphs(s, d)
    val (qi, qv) = graft.functions.SparseVec.queryOf(SparseQueryTerms)
    graft.operators.Hnsw.searchRoutedSparse(
      graft.operators.Hnsw.readGraphs(s, graphsP), SparseRoutedNlist,
      qi, qv, K, nprobe = SparseRoutedNprobe, ef = HnswEf)
      .select(col("vec_id").as("doc_id"), col("dist"))
  }

  /** Replay: re-derive the query's probed cells with the same integer
    * arithmetic (pmod term cells, mass DESC / cell ASC ranking — all
    * exact on the integer term weights), then walk ONLY the probed
    * cells' graphs and collapse spill copies (identical (id, dist)
    * rows) exactly as [[graft.operators.Hnsw.searchRoutedSparse]]
    * does. */
  private def hnswSparseRoutedOracle(d: String): String = {
    val base = sparseRoutedBase(d)
    val dump = new java.io.File(base, "dump").toString
    val cells = 0 until SparseRoutedNlist
    val gate = "AND part_id IN (SELECT part_id FROM probed)"
    s"""WITH RECURSIVE
    ${hnswSparsePrelude(s"$dump/*.parquet")},
    probed AS (
      SELECT part_id FROM (
        SELECT CAST(((t.x % $SparseRoutedNlist) + $SparseRoutedNlist)
                 % $SparseRoutedNlist AS INTEGER) AS part_id,
               sum(t.wt) AS mass
        FROM (SELECT unnest(qi) AS x, unnest(qv) AS wt FROM qcte) t
        GROUP BY 1)
      ORDER BY mass DESC, part_id LIMIT $SparseRoutedNprobe),
    ${cells.map(p => hnswWalkCte(p, HnswEf, K, gate, hnswSparseDistSql _)).mkString(",")},
    allres AS (${hnswAllRes(cells, K)})
    SELECT gg.ids[a.n + 1] AS doc_id, min(a.d) AS dist
    FROM allres a, gg
    GROUP BY 1
    ORDER BY dist, doc_id LIMIT $K"""
  }

  /** vs_hnsw_sparse_filtered (r15 — VERDICT r14 #6): lexical sparse
    * retrieval under a metadata predicate (`WHERE source = 'src1'
    * ORDER BY sparse cosine LIMIT k` through the sparse hnsw index) —
    * widened beam over-fetch + documents semi-join + exact top-k of
    * the survivors ([[graft.operators.Hnsw.searchFiltered]]),
    * the production SPLADE-with-filters shape. Deterministic given the
    * persisted flat sparse graphs: the walk replay is metric-generic
    * and the survivor join is relational — hash gate from birth. */
  private def hnswSparseFiltered(s: SparkSession, d: String): DataFrame = {
    val (graphsP, _) = ensureHnswSparseStore(s, d)
    val (qi, qv) = graft.functions.SparseVec.queryOf(SparseQueryTerms)
    graft.operators.Hnsw.searchFiltered(
      graft.operators.Hnsw.readGraphs(s, graphsP),
      Tables.documents(s, d), "doc_id", col("source") === "src1",
      graft.operators.Hnsw.Sparse(qi, qv), K, ef = HnswEf, widen = HnswFilterWiden)
      .select(col("vec_id").as("doc_id"), col("dist"))
  }

  /** Replay: widened per-graph fetch (k·widen), survivor semi-join on
    * the documents predicate, exact top-k —
    * [[graft.operators.Hnsw.searchFiltered]] replayed over the
    * same flat sparse dump as vs_hnsw_sparse. */
  private def hnswSparseFilteredOracle(d: String): String = {
    val dump = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswsparse_v1_${graft.Sidecar.key(d)}"), "dump").toString
    val parts = 0 until HnswParts
    val fetch = K * HnswFilterWiden
    val ef = math.max(HnswEf, fetch)
    s"""WITH RECURSIVE
    ${hnswSparsePrelude(s"$dump/*.parquet")},
    ${parts.map(p => hnswWalkCte(p, ef, fetch, "", hnswSparseDistSql _)).mkString(",")},
    allres AS (${hnswAllRes(parts, fetch)})
    SELECT gg.ids[a.n + 1] AS doc_id, a.d AS dist
    FROM allres a, gg
    WHERE gg.ids[a.n + 1] IN (SELECT doc_id FROM documents WHERE source = 'src1')
    ORDER BY dist, doc_id LIMIT $K"""
  }

  /** Bench split for the routed sparse variant: build = cell
    * assignment + per-cell sparse graphs + persist + dump; probe =
    * nprobe-pruned sparse beam walk. */
  def hnswSparseRoutedBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var graphsP: String = null
    var qi: Array[Long] = null
    var qv: Array[Double] = null
    val build = () => {
      graphsP = ensureSparseRoutedGraphs(s, d)
      val q = graft.functions.SparseVec.queryOf(SparseQueryTerms)
      qi = q._1; qv = q._2
    }
    val probe = () => graft.operators.Hnsw.searchRoutedSparse(
      graft.operators.Hnsw.readGraphs(s, graphsP), SparseRoutedNlist,
      qi, qv, K, nprobe = SparseRoutedNprobe, ef = HnswEf)
    (build, probe)
  }

  /** Bench split for the bit graphs: build = expand + graph build +
    * persist + dump; probe = the per-query beam walk + k·P merge. */
  def hnswBitBench(metric: String)(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var graphsP: String = null
    var q: Array[Double] = null
    val build = () => {
      graphsP = ensureHnswBitStore(s, d, metric)._1
      q = graft.operators.Hnsw.expandWords(graft.operators.BinaryQuant.pack(
        Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray))
    }
    (build, () => graft.operators.Hnsw.search(
      graft.operators.Hnsw.readGraphs(s, graphsP), graft.operators.Hnsw.Dense(q), K,
      ef = HnswEf))
  }

  private def hnswBitOracle(d: String, metric: String): String = {
    val tag = if (metric == "hamming") "ham" else "jac"
    val dump = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswbit_${tag}_v1_${graft.Sidecar.key(d)}"), "dump").toString
    val dist: String => String =
      if (metric == "hamming") hnswHamDistSql _ else hnswJacDistSql _
    val parts = 0 until HnswParts
    s"""WITH RECURSIVE
    ${hnswWalkPrelude(s"$dump/*.parquet", dist, QvBitSql)},
    ${parts.map(p => hnswWalkCte(p, HnswEf, K, "", dist)).mkString(",")},
    allres AS (${hnswAllRes(parts, K)})
    SELECT gg.ids[a.n + 1] AS vec_id, a.d AS dist
    FROM allres a, gg
    ORDER BY dist, vec_id LIMIT $K"""
  }

  /** Filtered graph search (`WHERE label = 3 ORDER BY <-> LIMIT k`
    * through the HNSW index): widened beam over-fetch + metadata
    * semi-join + exact top-k of survivors
    * ([[graft.operators.Hnsw.searchFiltered]]). Deterministic given
    * the persisted graphs — oracle-replayed like the unfiltered walk,
    * with the survivor semi-join done relationally. */
  private def hnswFiltered(s: SparkSession, d: String): DataFrame = {
    val (graphsP, _) = ensureHnswStore(s, d)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    graft.operators.Hnsw.searchFiltered(
      graft.operators.Hnsw.readGraphs(s, graphsP), Tables.embeddings(s, d), "vec_id",
      col("label") === 3, graft.operators.Hnsw.Dense(q), K, ef = HnswEf,
      widen = HnswFilterWiden)
  }

  // -------------------------------------------- cell-routed HNSW (r7)
  private[graft] val RoutedNlist = 16
  private[graft] val RoutedSpill = 2
  private[graft] val RoutedNprobe = 4

  /** Build-once cell-routed graph store: coarse k-means centroids +
    * one graph per cell (spill-2 boundary copies), persisted under
    * tmpdir with the ensureAutoStore _SUCCESS discipline. */
  private[graft] def ensureRoutedGraphs(s: SparkSession, d: String): (String, String) = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswcell_v3_${graft.Sidecar.key(d)}")
    val graphsP = new java.io.File(base, "graphs").toString
    val centP = new java.io.File(base, "centroids").toString
    VectorQueries.synchronized {
      if (!new java.io.File(centP, "_SUCCESS").exists()) {
        val mat = graft.operators.Materializer.local()
        val centroids = IvfIndex.trainCentroids(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nlist = RoutedNlist, iters = 2, mat = mat)
        val graphs = graft.operators.Hnsw.buildCellRouted(
          corpus(s, d), "vec_id", "embedding", centroids,
          spill = RoutedSpill, m = HnswM, efC = HnswEfC)
        // cell-clustered persist (r15): probes prune at row-group
        // granularity under a constant footer count, the same layout
        // the sparse routed store measured its way to
        graft.operators.Hnsw.writeGraphsClustered(graphs, graphsP,
          cellCol = "cell_id")
        // relational dump beside the blobs: the DuckDB oracle replays
        // the probed cells' walks over exactly this adjacency (r13)
        graft.operators.Hnsw.dumpParsed(
          graft.operators.Hnsw.readGraphs(s, graphsP))
          .write.mode("overwrite").parquet(new java.io.File(base, "dump").toString)
        centroids.write.mode("overwrite").parquet(centP)
        mat.releaseAll()
      }
    }
    (graphsP, centP)
  }

  private def routedDumpPath(d: String): String =
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswcell_v3_${graft.Sidecar.key(d)}"), "dump").toString

  // ---------------------------------------- hnsw beam-walk oracles (r13)
  /** DuckDB replay of [[graft.operators.Hnsw.Index.searchKnn]] over
    * the persisted parsed dump: greedy descent (levels maxl..1) as a
    * recursive CTE, then the ef-beam at level 0 as ONE recursive CTE
    * PER PARTITION GRAPH (unrolled — DuckDB 1.0's vectorized executor
    * misaligns rows when a multi-row recursive working table carries
    * heavy nested-list state; a single-row recursion cannot). All
    * state transitions are scalar list/struct ops mirroring the
    * engine's (dist, node)-deterministic heaps step for step:
    * identical pops, identical admissions, identical evictions —
    * hence identical doubles (the L2 fold is the same sequential
    * sum DuckDB's list_sum runs). Node ids are globalized (per-part
    * offsets) so every lambda reads one shared graph row. */
  private def hnswDistSql(n: String): String =
    s"sqrt(list_sum(list_transform(list_zip(gg.qv, gg.vv[$n + 1]), " +
      "x -> (x[1] - x[2]) * (x[1] - x[2]))))"

  /** Bit-graph hamming: node vectors are 0/1 doubles (the packed
    * words' LSB-first expansion — [[graft.operators.Hnsw
    * .expandWords]]), so the walk distance is the integer
    * disagreement count, CAST to the DOUBLE the engine's kernel
    * accumulates (integers ≪ 2^53: bit-exact). */
  private def hnswHamDistSql(n: String): String =
    s"CAST(list_sum(list_transform(list_zip(gg.qv, gg.vv[$n + 1]), " +
      "x -> CASE WHEN x[1] <> x[2] THEN 1 ELSE 0 END)) AS DOUBLE)"

  /** Bit-graph jaccard: 1 − |A∩B|/|A∪B| over set bits, both-empty
    * = 0 — integer counts, one final double division, the exact
    * [[graft.operators.Hnsw.Metric]] Jaccard arithmetic. */
  private def hnswJacDistSql(n: String): String = {
    def cnt(op: String) =
      s"list_sum(list_transform(list_zip(gg.qv, gg.vv[$n + 1]), " +
        s"x -> CASE WHEN x[1] = 1 $op x[2] = 1 THEN 1 ELSE 0 END))"
    s"(CASE WHEN ${cnt("OR")} = 0 THEN 0.0 " +
      s"ELSE 1.0 - CAST(${cnt("AND")} AS DOUBLE) / CAST(${cnt("OR")} AS DOUBLE) END)"
  }

  /** The query vector the L2/bit walks rank against: full doubles for
    * real-vector graphs; the sign-bit 0/1 expansion (the
    * [[graft.operators.BinaryQuant.pack]] order) for bit graphs. */
  private val QvRealSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private val QvBitSql = "list_transform(embedding, " +
    "x -> CASE WHEN x > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"

  private def hnswWalkPrelude(dumpGlob: String,
      dist: String => String = hnswDistSql _,
      qvSql: String = QvRealSql): String = s"""
    qcte AS MATERIALIZED (
      SELECT $qvSql AS qv
      FROM embeddings WHERE vec_id = 0),
    dmp AS MATERIALIZED (SELECT * FROM read_parquet('$dumpGlob')),
    pmeta AS MATERIALIZED (
      SELECT part_id, any_value(entry) AS entry, any_value(max_level) AS maxl,
             count(*) AS n
      FROM dmp GROUP BY part_id),
    offs AS MATERIALIZED (
      SELECT part_id, entry, maxl,
        coalesce(CAST(sum(n) OVER (ORDER BY part_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS INTEGER), 0) AS o
      FROM pmeta),
    nodesg AS MATERIALIZED (
      SELECT d.part_id, o.o + d.node AS gnode, d.vec_id, d.vec,
             list_transform(d.nbrs, ll -> list_transform(ll, nb -> nb + o.o)) AS gnbrs
      FROM dmp d JOIN offs o USING (part_id)),
    gg AS MATERIALIZED (
      SELECT (SELECT list(vec ORDER BY gnode) FROM nodesg) AS vv,
             (SELECT list(vec_id ORDER BY gnode) FROM nodesg) AS ids,
             (SELECT list(gnbrs ORDER BY gnode) FROM nodesg) AS adj,
             (SELECT qv FROM qcte) AS qv),
    down(part_id, lvl, cur) AS (
      SELECT part_id, maxl, entry + o FROM offs
      UNION ALL
      SELECT part_id, CASE WHEN nxt = cur THEN lvl - 1 ELSE lvl END, nxt
      FROM (
        SELECT w.part_id, w.lvl, w.cur,
          cl[list_position(ds, list_aggregate(ds, 'min'))] AS nxt
        FROM (
          SELECT w0.part_id, w0.lvl, w0.cur,
            list_prepend(w0.cur, gg.adj[w0.cur + 1][w0.lvl + 1]) AS cl,
            list_transform(list_prepend(w0.cur, gg.adj[w0.cur + 1][w0.lvl + 1]),
              n -> ${dist("n")}) AS ds
          FROM down w0, gg WHERE w0.lvl > 0
        ) w
      )
    )"""

  /** One graph's beam walk as a single-row recursion; `gate` further
    * restricts the anchor (the routed oracle's probed-cell filter). */
  private def hnswWalkCte(p: Int, ef: Int, fetch: Int, gate: String,
      dist: String => String = hnswDistSql _): String = s"""
    walk_$p(step, cand, vis, res, done) AS (
      SELECT 0,
        [struct_pack(d := ${dist("s.cur")}, n := s.cur)],
        [s.cur],
        [struct_pack(d := ${dist("s.cur")}, n := s.cur)],
        false
      FROM (SELECT cur FROM down WHERE lvl = 0 AND part_id = $p $gate) s, gg
      UNION ALL
      SELECT step + 1,
        CASE WHEN brk THEN [] ELSE folded.cand END,
        CASE WHEN brk THEN vis ELSE vis || nbrs END,
        CASE WHEN brk THEN res ELSE folded.res END,
        brk
      FROM (
        SELECT w.step, w.vis, w.res, w.brk, w.nbrs,
          list_reduce(
            list_prepend(struct_pack(cand := w.rest, res := w.res), w.entries),
            (acc, x) -> CASE
              WHEN len(acc.res) < $ef OR x.cand[1].d < acc.res[len(acc.res)].d
              THEN struct_pack(
                cand := list_sort(list_append(acc.cand, x.cand[1])),
                res := list_slice(list_sort(list_append(acc.res, x.cand[1])), 1, $ef))
              ELSE acc END) AS folded
        FROM (
          SELECT w0.step, w0.vis, w0.res,
            (len(w0.res) >= $ef AND (list_sort(w0.cand))[1].d > w0.res[len(w0.res)].d) AS brk,
            list_slice(list_sort(w0.cand), 2, len(w0.cand)) AS rest,
            list_filter(gg.adj[(list_sort(w0.cand))[1].n + 1][1],
              nb -> NOT list_contains(w0.vis, nb)) AS nbrs,
            list_transform(
              list_filter(gg.adj[(list_sort(w0.cand))[1].n + 1][1],
                nb -> NOT list_contains(w0.vis, nb)),
              nb -> struct_pack(
                cand := [struct_pack(d := ${dist("nb")}, n := nb)],
                res := CAST([] AS STRUCT(d DOUBLE, n INTEGER)[]))) AS entries
          FROM walk_$p w0, gg
          WHERE NOT w0.done AND len(w0.cand) > 0
        ) w
      )
    ),
    final_$p AS (
      SELECT max_by(res, step) AS res FROM walk_$p WHERE done OR len(cand) = 0
    )"""

  private def hnswAllRes(parts: Seq[Int], fetch: Int): String =
    parts.map(p =>
      s"SELECT r.n AS n, r.d AS d FROM final_$p, unnest(list_slice(res, 1, $fetch)) AS u(r)")
      .mkString(" UNION ALL ")

  /** vs_hnsw_knn: per-graph top-K walks, exact (dist, vec_id) merge —
    * [[graft.operators.Hnsw.search]] replayed. */
  private def hnswKnnOracle(d: String): String = {
    val dump = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswflat_v1_${graft.Sidecar.key(d)}"), "dump").toString
    val parts = 0 until HnswParts
    s"""WITH RECURSIVE
    ${hnswWalkPrelude(s"$dump/*.parquet")},
    ${parts.map(p => hnswWalkCte(p, HnswEf, K, "")).mkString(",")},
    allres AS (${hnswAllRes(parts, K)})
    SELECT gg.ids[a.n + 1] AS vec_id, a.d AS dist
    FROM allres a, gg
    ORDER BY dist, vec_id LIMIT $K"""
  }

  /** vs_hnsw_filtered: widened per-graph fetch (k·widen), survivor
    * semi-join on the metadata predicate, exact top-k —
    * [[graft.operators.Hnsw.searchFiltered]] replayed. */
  private def hnswFilteredOracle(d: String): String = {
    val dump = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswflat_v1_${graft.Sidecar.key(d)}"), "dump").toString
    val parts = 0 until HnswParts
    val fetch = K * HnswFilterWiden
    val ef = math.max(HnswEf, fetch)
    s"""WITH RECURSIVE
    ${hnswWalkPrelude(s"$dump/*.parquet")},
    ${parts.map(p => hnswWalkCte(p, ef, fetch, "")).mkString(",")},
    allres AS (${hnswAllRes(parts, fetch)})
    SELECT gg.ids[a.n + 1] AS vec_id, a.d AS dist
    FROM allres a, gg
    WHERE gg.ids[a.n + 1] IN (SELECT vec_id FROM embeddings WHERE label = 3)
    ORDER BY dist, vec_id LIMIT $K"""
  }

  /** vs_hnsw_routed: centroid ranking picks the nprobe cells (the
    * rankCells (dist, cell) sort), only those cells' graphs walk, and
    * spill copies collapse to one row per vec_id —
    * [[graft.operators.Hnsw.searchRouted]] replayed. */
  private def hnswRoutedOracle(d: String): String = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_hnswcell_v3_${graft.Sidecar.key(d)}")
    val dump = new java.io.File(base, "dump").toString
    val cent = new java.io.File(base, "centroids").toString
    val cells = 0 until RoutedNlist
    val gate = "AND part_id IN (SELECT part_id FROM probed)"
    s"""WITH RECURSIVE
    ${hnswWalkPrelude(s"$dump/*.parquet")},
    probed AS (
      SELECT part_id FROM (
        SELECT c.centroid_id AS part_id,
          sqrt(list_sum(list_transform(
            list_zip(q.qv, list_transform(c.centroid, x -> CAST(x AS DOUBLE))),
            x -> (x[1] - x[2]) * (x[1] - x[2])))) AS cd
        FROM read_parquet('$cent/*.parquet') c, qcte q)
      ORDER BY cd, part_id LIMIT $RoutedNprobe),
    ${cells.map(p => hnswWalkCte(p, HnswEf, K, gate)).mkString(",")},
    allres AS (${hnswAllRes(cells, K)})
    SELECT gg.ids[a.n + 1] AS vec_id, min(a.d) AS dist
    FROM allres a, gg
    GROUP BY 1
    ORDER BY dist, vec_id LIMIT $K"""
  }

  /** Cell-ROUTED graph ANN (VERDICT r6 #5): the query walks only its
    * nprobe nearest cells' graphs — per-query cost is nprobe graph
    * loads, independent of the partition count that flat vs_hnsw_knn
    * pays linearly. Rows-only: approximate (cell recall × beam);
    * recall gated ≥ 0.85 and the ≤ nprobe deserialization contract
    * metric-asserted in HnswRoutedSpec. */
  private def hnswRouted(s: SparkSession, d: String): DataFrame = {
    val (graphsP, centP) = ensureRoutedGraphs(s, d)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    graft.operators.Hnsw.searchRouted(
      s.read.parquet(graphsP), s.read.parquet(centP),
      q, K, nprobe = RoutedNprobe, ef = HnswEf)
  }

  /** Bench split for the routed variant: build = train + per-cell
    * graph construction + persist; probe = nprobe-pruned beam walk. */
  def hnswRoutedBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var q: Array[Double] = null
    var graphsP: String = null
    var centP: String = null
    val build = () => {
      val ps = ensureRoutedGraphs(s, d)
      graphsP = ps._1; centP = ps._2
      q = queryVec(s, d).select(col("qvec").cast("array<double>"))
        .head.getSeq[Double](0).toArray
    }
    val probe = () => graft.operators.Hnsw.searchRouted(
      s.read.parquet(graphsP), s.read.parquet(centP),
      q, K, nprobe = RoutedNprobe, ef = HnswEf)
    (build, probe)
  }

  /** Bench split: graph construction is the one-time build; the probe
    * is the per-query beam walk + k·P merge. */
  def hnswBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var graphs: DataFrame = null
    var q: Array[Double] = null
    val build = () => {
      graphs = graft.operators.Hnsw.buildPartitioned(
        corpus(s, d), "vec_id", "embedding",
        m = HnswM, efC = HnswEfC, parts = 16).localCheckpoint()
      q = queryVec(s, d).select(col("qvec").cast("array<double>"))
        .head.getSeq[Double](0).toArray
    }
    (build, () => graft.operators.Hnsw.search(graphs, graft.operators.Hnsw.Dense(q), K,
      ef = HnswEf))
  }

  /** Build-once LSH bucket store: (vec_id, embedding, table_id, sig)
    * — the stored-bucketed layout the operator is designed around (at
    * 100 TB a probe reads single buckets; re-hashing the corpus per
    * query was the old shape). The signatures are deterministic
    * (md5-derived planes), so the store makes the bucket probe
    * REPLAYABLE: the oracle recomputes only the QUERY's signatures. */
  private[graft] def lshStorePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_lsh_v1_${graft.Sidecar.key(d)}").toString

  private[graft] val LshTables = 8
  private[graft] val LshBits = 4

  private def ensureLshStore(s: SparkSession, d: String): String = {
    val p = lshStorePath(d)
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        LshAnn.bucketRows(corpus(s, d), "vec_id", "embedding",
          tables = LshTables, bits = LshBits, dims = 64)
          .write.mode("overwrite").parquet(p)
    }
    p
  }

  /** Bucket-probed ANN over the persisted bucket store. Approximate
    * vs exact search (bucket recall, gated in RecallGateSpec) but
    * deterministic given the stored signatures — since r9 fully
    * hash-oracled (the oracle recomputes the query's md5-plane
    * signatures in SQL, expands the Hamming-1 multiprobe, bucket-
    * joins the store, and re-ranks exactly). */
  private def lshKnn(s: SparkSession, d: String): DataFrame =
    LshAnn.searchBuckets(s.read.parquet(ensureLshStore(s, d)), "vec_id", "embedding",
      queryVec(s, d), "qvec", dims = 64, k = K, tables = LshTables, bits = LshBits,
      multiprobe = 1)

  // ---------------------------------------------------------------- norms
  private def norms(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        sqrt(graft.functions.VectorDistance.dot(col("embedding"), col("embedding")))
          .as("nrm"))
      .orderBy(col("vec_id"))

  private val normsSql = """
    SELECT vec_id,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
    ORDER BY vec_id"""

  // ------------------------------------------------------------ centroids
  /** Per-label centroid (grouped vector mean) in relational form
    * (label, pos, centroid). Components are fixed-point quantized at
    * 2^-24 before summing so the mean is order-independent and
    * bit-identical across engines (double sums are not). */
  private def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * 16777216.0).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq").cast("double") / (col("n") * lit(16777216.0))).as("centroid"))
      .orderBy(col("label"), col("pos"))

  private val centroidsSql = """
    WITH x AS (
      SELECT label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216.0) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(sum(q) AS DOUBLE) / (count(*) * 16777216.0) AS centroid
    FROM x
    GROUP BY label, pos
    ORDER BY label, pos"""

  // ------------------------------------------------------------ outliers
  private val OutShift = 134217728L // 2^27: keeps shifted components non-negative for |v| < 8
  private val OutTopK = 3

  /** Embedding outlier audit: the [[OutTopK]] farthest vectors from
    * their label's centroid — the per-class quality sweep a training
    * pipeline runs on embedded data (mislabeled / corrupt items sit
    * far from their class mean). Bit-exact pipeline: components
    * quantize at 2^-24 and SHIFT non-negative (so integer division
    * floors identically in both engines), the centroid is the
    * floored per-(label, pos) mean, and the squared distance is an
    * integer sum of squared deviations (≤ 2^62 at 64 dims — no
    * overflow). Only the final sqrt/scale is IEEE, on exact operands.
    *
    * Scale shape: one explode pass + a map-side-combined
    * (label, pos) aggregate whose output is labels × dims rows —
    * broadcast back over the component stream; the per-vector reduce
    * is map-side combinable and the per-label top-k is a bounded
    * window over label partitions. */
  private def outliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        (floor(col("v").cast("double") * 16777216.0).cast("long") + OutShift)
          .as("vq"))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("vq")).as("sq"), count(lit(1)).as("n"))
      .select(col("label").as("c_label"), col("pos").as("c_pos"),
        expr("sq div n").as("cq"))
    val d2 = comp
      .join(broadcast(cent),
        col("label") === col("c_label") && col("pos") === col("c_pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("vq") - col("cq")) * (col("vq") - col("cq"))).as("d2q"))
    d2.withColumn("rk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("d2q").desc, col("vec_id"))))
      .filter(col("rk") <= OutTopK)
      .select(col("label"), col("rk").cast("long").as("rk"), col("vec_id"),
        (sqrt(col("d2q").cast("double")) / 16777216.0).as("dist"))
      .orderBy(col("label"), col("rk"))
  }

  private val outliersSql: String = s"""
    WITH comp AS (
      SELECT vec_id, label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216.0) AS BIGINT) + $OutShift AS vq
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    cent AS (
      SELECT label, pos, CAST(sum(vq) AS BIGINT) // count(*) AS cq
      FROM comp GROUP BY label, pos),
    d2 AS (
      SELECT vec_id, comp.label,
             CAST(sum((vq - cq) * (vq - cq)) AS BIGINT) AS d2q
      FROM comp JOIN cent USING (label, pos)
      GROUP BY vec_id, comp.label),
    rk AS (
      SELECT label, vec_id, d2q,
             row_number() OVER (PARTITION BY label ORDER BY d2q DESC, vec_id) AS rk
      FROM d2)
    SELECT label, CAST(rk AS BIGINT) AS rk, vec_id,
           sqrt(CAST(d2q AS DOUBLE)) / 16777216.0 AS dist
    FROM rk WHERE rk <= $OutTopK
    ORDER BY label, rk"""

  // ------------------------------------------------------------ knn join
  private val KjK = 5
  private val KjSpill = 3

  /** Blocked kNN JOIN ([[Knn.knnJoinFromCells]]): the k nearest
    * neighbors of EVERY corpus vector — kNN-graph construction
    * (SemDeDup clustering, embedding label propagation) without the
    * O(n²) all-pairs. nlist scales as √n (the standard IVF sizing) so
    * the init's within-cell candidate volume stays ~n^1.5/√n-bounded
    * instead of n²/nlist with a fixed cell count — at a fixed nlist
    * the init re-approaches all-pairs as the corpus grows.
    *
    * Since r10 on the HASH-EXACT gate: the query reads the PERSISTED
    * ranked-cell store (trained once, probed many — the same shape
    * as the rest of the ANN tier and the same store vs_knn_join_init
    * replays), and GIVEN the cells the whole join — blocked init
    * top-k and both NN-Descent rounds — is deterministic (dist, id)
    * arithmetic the DuckDB oracle replays with two unrolled
    * neighbor-of-neighbor rounds. The blocking RECALL (vs the exact
    * all-pairs ranking) stays approximate and gated in
    * RecallGateSpec — both halves checked, as with the dedup/IVF
    * conversions. */
  private def knnJoinQ(s: SparkSession, d: String): DataFrame = {
    val store = s.read.parquet(ensureKjInitStore(s, d))
    Knn.knnJoinFromCells(store, "vec_id", "embedding", l2Distance, KjK)
  }

  /** Bench split (r10): the cell store is trained once (`_build`,
    * fresh each bench run), the join itself — init + descent, the
    * real per-refresh work — is the probe. */
  def kjBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      VectorQueries.synchronized { rm(new java.io.File(kjInitStorePath(d))) }
      ensureKjInitStore(s, d); ()
    }
    (build, () => knnJoinQ(s, d))
  }

  /** The full-join replay (r10): init top-kInternal from the store's
    * primary×spilled blocking, then TWO unrolled NN-Descent rounds —
    * candidates = neighbor-of-neighbor pairs over the symmetrized
    * graph plus the current edges, deduped, re-ranked by
    * (dist, neighbor) — and the final truncation to k. list_distance
    * is bit-identical to the engine's sequential-fold L2 on these
    * operands (proven by the init entry's hash match). */
  private def knnJoinSql(d: String): String = {
    val p = kjInitStorePath(d)
    val ki = 3 * KjK
    s"""
    WITH store AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, cells
      FROM read_parquet('$p/*.parquet')),
    prim AS (SELECT cells[1] AS cell, vec_id AS id_a, emb AS v_a FROM store),
    spl AS (SELECT u.c AS cell, s.vec_id AS id_b, s.emb AS v_b
            FROM store s, unnest(s.cells) AS u(c)),
    initc AS (
      SELECT p.id_a AS src, s2.id_b AS dst, list_distance(p.v_a, s2.v_b) AS dist
      FROM prim p JOIN spl s2 USING (cell) WHERE p.id_a <> s2.id_b),
    init AS (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
        FROM initc) WHERE rn <= $ki),
    v AS (SELECT vec_id AS id, emb FROM store),
    und1 AS (SELECT src, dst FROM init UNION ALL SELECT dst, src FROM init),
    cand1 AS (
      SELECT DISTINCT qa, qb FROM (
        SELECT x.src AS qa, y.dst AS qb FROM und1 x JOIN und1 y ON x.dst = y.src
        UNION ALL SELECT src, dst FROM init) WHERE qa <> qb),
    sc1 AS (
      SELECT c.qa AS src, c.qb AS dst, list_distance(a.emb, b.emb) AS dist
      FROM cand1 c JOIN v a ON c.qa = a.id JOIN v b ON c.qb = b.id),
    g1 AS (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
        FROM sc1) WHERE rn <= $ki),
    und2 AS (SELECT src, dst FROM g1 UNION ALL SELECT dst, src FROM g1),
    cand2 AS (
      SELECT DISTINCT qa, qb FROM (
        SELECT x.src AS qa, y.dst AS qb FROM und2 x JOIN und2 y ON x.dst = y.src
        UNION ALL SELECT src, dst FROM g1) WHERE qa <> qb),
    sc2 AS (
      SELECT c.qa AS src, c.qb AS dst, list_distance(a.emb, b.emb) AS dist
      FROM cand2 c JOIN v a ON c.qa = a.id JOIN v b ON c.qb = b.id),
    g2 AS (
      SELECT src, dst, dist, rn FROM (
        SELECT src, dst, dist, row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
        FROM sc2) WHERE rn <= $ki)
    SELECT src AS vec_id, CAST(rn AS BIGINT) AS rank, dst AS neighbor_id, dist
    FROM g2 WHERE rn <= $KjK
    ORDER BY vec_id, rank"""
  }

  /** The kNN join's IVF-blocked INIT graph on the hash-exact gate
    * (VERDICT r9 #5): given the persisted spill-ranked cell store, the
    * init phase is fully deterministic — primary×spilled candidate
    * pairs (each pair at most once by construction: a's one primary
    * cell matches at most one of b's distinct spill cells) → bit-exact
    * sequential-fold L2 → the bounded (dist, id)-ordered per-vector
    * top-k — so the DuckDB oracle replays it relationally. The
    * NN-Descent refinement on top stays recall-gated (vs_knn_join).
    * Primary side sampled (vec_id % 17) so the replay stays cheap at
    * 10×; the blocking geometry exercised is identical. */
  private def kjInitStorePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_kjinit_v1_${graft.Sidecar.key(d)}").toString

  private def ensureKjInitStore(s: SparkSession, d: String): String = {
    val p = kjInitStorePath(d)
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists()) {
        val emb = Tables.embeddings(s, d)
        val n = emb.count()
        val nlist = math.max(16, math.min(1024, math.ceil(math.sqrt(n.toDouble)).toInt))
        val centroids = IvfIndex.trainCentroids(emb, "vec_id", "embedding", nlist, iters = 2)
        IvfIndex.rankedCells(emb, "embedding", centroids, KjSpill)
          .select(col("vec_id"), col("embedding"), col("cells"))
          .write.mode("overwrite").parquet(p)
      }
    }
    p
  }

  private def knnJoinInitQ(s: SparkSession, d: String): DataFrame = {
    val store = s.read.parquet(ensureKjInitStore(s, d))
    val primary = store.filter(col("vec_id") % 17 === 0)
      .select(element_at(col("cells"), 1).as("cell"),
        col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val spilled = store.select(col("vec_id").as("id_b"),
      col("embedding").as("v_b"), explode(col("cells")).as("cell"))
    primary.join(spilled, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        l2Distance(col("v_a"), col("v_b")).as("dist"))
      .groupBy(col("id_a"))
      .agg(graft.functions.TopKAggregate.topK(col("dist"), col("id_b"), KjK).as("nn"))
      .select(col("id_a").as("vec_id"), posexplode(col("nn")).as(Seq("rk", "p")))
      .select(col("vec_id"), (col("rk") + 1).cast("long").as("rank"),
        col("p.id").as("neighbor_id"), col("p.dist").as("dist"))
      .orderBy(col("vec_id"), col("rank"))
  }

  private def knnJoinInitOracle(d: String): String = {
    val p = kjInitStorePath(d)
    s"""
    WITH store AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, cells
                   FROM read_parquet('$p/*.parquet')),
    prim AS (SELECT cells[1] AS cell, vec_id AS id_a, emb AS v_a
             FROM store WHERE vec_id % 17 = 0),
    spl AS (SELECT u.c AS cell, s.vec_id AS id_b, s.emb AS v_b
            FROM store s, unnest(s.cells) AS u(c)),
    cand AS (
      SELECT p.id_a, s2.id_b, list_distance(p.v_a, s2.v_b) AS dist
      FROM prim p JOIN spl s2 USING (cell)
      WHERE p.id_a <> s2.id_b),
    r AS (SELECT id_a, id_b, dist,
                 row_number() OVER (PARTITION BY id_a ORDER BY dist, id_b) AS rn
          FROM cand)
    SELECT id_a AS vec_id, CAST(rn AS BIGINT) AS rank, id_b AS neighbor_id, dist
    FROM r WHERE rn <= $KjK
    ORDER BY vec_id, rank"""
  }

  // --------------------------------------------------------------- drift
  /** Embedding distribution drift: per-label centroid displacement
    * between two corpus slices (here: even vs odd vec_id standing in
    * for old vs new snapshot) — the monitoring query that tells a
    * pipeline its embedding space moved and indexes/thresholds need
    * retraining. Same shifted fixed-point contract as
    * [[outliers]]: floored integer centroids per slice, integer
    * squared-displacement sum, one IEEE sqrt on exact operands.
    * One explode pass, map-side-combined (label, pos, slice)
    * aggregate (labels × dims × 2 rows), driver-bounded finish. */
  private def drift(s: SparkSession, d: String): DataFrame = {
    val comp = Tables.embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("slice"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("slice"), col("pos"),
        (floor(col("v").cast("double") * 16777216.0).cast("long") + OutShift)
          .as("vq"))
    comp.groupBy(col("label"), col("slice"), col("pos"))
      .agg(sum(col("vq")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("slice"),
        expr("sq div n").as("cq"), col("n"))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(col("slice") === 0, col("cq")).otherwise(0L)).as("cq_a"),
        sum(when(col("slice") === 1, col("cq")).otherwise(0L)).as("cq_b"),
        max(when(col("slice") === 0, col("n")).otherwise(0L)).as("n_a"),
        max(when(col("slice") === 1, col("n")).otherwise(0L)).as("n_b"))
      .groupBy(col("label"))
      .agg(
        (sqrt(sum((col("cq_a") - col("cq_b")) * (col("cq_a") - col("cq_b")))
          .cast("double")) / 16777216.0).as("drift"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .orderBy(col("label"))
  }

  private val driftSql: String = s"""
    WITH comp AS (
      SELECT label, vec_id % 2 AS slice, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216.0) AS BIGINT) + $OutShift AS vq
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    cent AS (
      SELECT label, slice, pos,
             CAST(sum(vq) AS BIGINT) // count(*) AS cq, count(*) AS n
      FROM comp GROUP BY label, slice, pos),
    sides AS (
      SELECT label, pos,
             CAST(sum(CASE WHEN slice = 0 THEN cq ELSE 0 END) AS BIGINT) AS cq_a,
             CAST(sum(CASE WHEN slice = 1 THEN cq ELSE 0 END) AS BIGINT) AS cq_b,
             CAST(max(CASE WHEN slice = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
             CAST(max(CASE WHEN slice = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b
      FROM cent GROUP BY label, pos)
    SELECT label,
           sqrt(CAST(sum((cq_a - cq_b) * (cq_a - cq_b)) AS DOUBLE)) / 16777216.0 AS drift,
           CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
    FROM sides
    GROUP BY label
    ORDER BY label"""

  // ------------------------------------------------- contrastive pairs
  /** Contrastive training-pair mining (r12) — the SimCSE/E5-style
    * data-prep op an embedding-model pipeline runs over its corpus:
    * for each ANCHOR, emit its nearest in-margin neighbor as the
    * POSITIVE (cosine distance < [[PairTauP]]) and its nearest
    * beyond-margin neighbor as the HARD NEGATIVE (distance ≥
    * [[PairTauN]] — "hardest negative outside the positive ball", the
    * mining rule that makes contrastive batches informative). Anchors
    * without an in-margin positive emit no pair (an anchor with no
    * paraphrase has no training signal).
    *
    * Scale shape: the anchor set is BROADCAST (bounded by the mining
    * batch, never the corpus); one corpus pass computes |anchors|
    * distances per row, and each anchor reduces through two bounded
    * map-side-combined top-1 aggregates — nothing corpus-sized
    * shuffles or collects. At real scale the anchor batch streams
    * (the [[graft.streaming.KnnServing]] shape) or routes through the
    * ANN index family; the brute-force pass here is the exact tier.
    *
    * Hash-exact: cosine is the fused [[graft.functions
    * .VectorDistanceExpr]] sequential-fold kernel (bit-identical to
    * DuckDB's list_cosine_similarity, proven by vs_knn_cosine) and
    * both argmins tie-break (dist, id) through the bounded
    * [[graft.functions.TopKAggregate]]. */
  private val PairAnchors = 8
  private val PairTauP = 0.7
  private val PairTauN = 0.8

  private def embPairs(s: SparkSession, d: String): DataFrame = {
    val anchors = Tables.embeddings(s, d)
      .filter(col("vec_id").between(1, PairAnchors))
      .select(col("vec_id").as("anchor_id"), col("embedding").as("avec"))
    val scored = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        cosineDistance(col("embedding"), col("avec")).as("dist"))
    // ONE corpus pass, both argmins as conditional top-1 aggregates
    // (TopKAggregate skips null dists), no join: the shuffle carries
    // |anchors| groups of two 1-element buffers
    val tk = graft.functions.TopKAggregate.topK _
    scored.groupBy(col("anchor_id"))
      .agg(
        tk(when(col("dist") < PairTauP, col("dist")), col("vec_id"), 1).as("p"),
        tk(when(col("dist") >= PairTauN, col("dist")), col("vec_id"), 1).as("n"))
      .filter(size(col("p")) === 1 && size(col("n")) === 1) // a usable pair needs both
      .select(col("anchor_id"),
        element_at(col("p"), 1).getField("id").as("pos_id"),
        element_at(col("p"), 1).getField("dist").as("pos_dist"),
        element_at(col("n"), 1).getField("id").as("neg_id"),
        element_at(col("n"), 1).getField("dist").as("neg_dist"))
      .orderBy(col("anchor_id"))
  }

  private val embPairsSql: String = s"""
    WITH a AS (
      SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS avec
      FROM embeddings WHERE vec_id BETWEEN 1 AND $PairAnchors),
    d AS (
      SELECT a.anchor_id, e.vec_id,
             1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.avec) AS dist
      FROM embeddings e CROSS JOIN a
      WHERE e.vec_id <> a.anchor_id),
    p AS (
      SELECT anchor_id, vec_id AS pos_id, dist AS pos_dist,
             row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
      FROM d WHERE dist < $PairTauP),
    n AS (
      SELECT anchor_id, vec_id AS neg_id, dist AS neg_dist,
             row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
      FROM d WHERE dist >= $PairTauN)
    SELECT p.anchor_id, p.pos_id, p.pos_dist, n.neg_id, n.neg_dist
    FROM p JOIN n USING (anchor_id)
    WHERE p.rn = 1 AND n.rn = 1
    ORDER BY p.anchor_id"""

  // --------------------------------------- blocked pair mining (r13)
  /** Production-anchor-scale contrastive mining (VERDICT r12 "what's
    * wrong" #3): [[embPairs]]'s broadcast-anchor shape is right for a
    * small explicit anchor set, but a production anchor set is a
    * CORPUS FRACTION — |anchors| distance evaluations per corpus row
    * is the all-pairs shape in disguise. The blocked variant routes
    * candidate generation through the learned-IVF-cell family
    * (dedup_embedding_ivf's discipline): anchors are a deterministic
    * md5-hash sample of the corpus (every ~[[PairSampleMod]]-th
    * vector), vectors meet their anchors ONLY inside shared spill
    * cells (one exchange on cell id), and the per-anchor positive /
    * hardest-negative argmins are the same conditional top-1
    * aggregates. Per-anchor cost is its cells' occupancy (the
    * √N-knobbed nlist), not the corpus. Recall vs the exact pairs is
    * floor-gated in RecallGateSpec; the entry is hash-oracled against
    * the persisted cell store. */
  private[graft] val PairSampleMod = 20
  /** Pair-mining cell count: corpus-scaled (r16 — pgvector's
    * lists-per-rows guidance, the routed-sparse nlist treatment).
    * With nlist fixed, rows/cell grow with the corpus and the
    * anchors×rows pair volume grows QUADRATICALLY in SF (measured: the
    * sf10 fixture's 37.5k-row cells put ~1.1B cosine evaluations in
    * one task). Scaling nlist ∝ vecs/2000 bounds rows/cell, keeping
    * pair volume LINEAR. Floor 16 keeps sf ≤ 1.0 fixtures bit-exactly
    * on the historical layout (2k/20k vecs → floor); the oracle is
    * layout-agnostic either way (it reads `cells` from the store). */
  private[graft] def pairCellNlist(nVecs: Long): Int =
    math.max(16, (nVecs / 2000L).toInt)
  private[graft] val PairCellSpill = 3

  private[graft] def pairCellStorePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_paircell_v1_${graft.Sidecar.key(d)}").toString

  private def ensurePairCellStore(s: SparkSession, d: String): String = {
    val p = pairCellStorePath(d)
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists()) {
        val emb = Tables.embeddings(s, d)
        val mat = graft.operators.Materializer.local()
        val centroids = IvfIndex.trainCentroids(
          emb, "vec_id", "embedding", nlist = pairCellNlist(emb.count()),
          iters = 2, mat)
        IvfIndex.rankedCells(emb, "embedding", centroids, spill = PairCellSpill)
          .select(col("vec_id"), col("embedding"), col("cells"))
          .write.mode("overwrite").parquet(p)
        mat.releaseAll()
      }
    }
    p
  }

  /** The md5 hash-sample selector (deterministic, engine ≡ DuckDB:
    * the 60-bit integer from the first 15 hex digits of
    * md5(vec_id-as-string)). */
  private def anchorHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  private def embPairsBlocked(s: SparkSession, d: String): DataFrame = {
    val st = s.read.parquet(ensurePairCellStore(s, d))
    val rows = st.select(col("vec_id"), col("embedding"),
      explode(col("cells")).as("cell"))
    val anchors = rows
      .filter(anchorHash(col("vec_id")) % PairSampleMod === 0)
      .select(col("cell"), col("vec_id").as("anchor_id"), col("embedding").as("avec"))
    val scored = rows.join(anchors, Seq("cell"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        cosineDistance(col("embedding"), col("avec")).as("dist"))
    // duplicates from shared spill cells carry identical dists — the
    // top-1 aggregates are duplicate-immune, no pair-level DISTINCT
    val tk = graft.functions.TopKAggregate.topK _
    scored.groupBy(col("anchor_id"))
      .agg(
        tk(when(col("dist") < PairTauP, col("dist")), col("vec_id"), 1).as("p"),
        tk(when(col("dist") >= PairTauN, col("dist")), col("vec_id"), 1).as("n"))
      .filter(size(col("p")) === 1 && size(col("n")) === 1)
      .select(col("anchor_id"),
        element_at(col("p"), 1).getField("id").as("pos_id"),
        element_at(col("p"), 1).getField("dist").as("pos_dist"),
        element_at(col("n"), 1).getField("id").as("neg_id"),
        element_at(col("n"), 1).getField("dist").as("neg_dist"))
      .orderBy(col("anchor_id"))
  }

  private def embPairsBlockedOracle(d: String): String = s"""
    WITH st AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, cells
                FROM read_parquet('${pairCellStorePath(d)}/*.parquet')),
    rows_ AS (SELECT vec_id, v, unnest(cells) AS cell FROM st),
    anch AS (
      SELECT cell, vec_id AS anchor_id, v AS avec FROM rows_
      WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % $PairSampleMod = 0),
    d AS (
      SELECT a.anchor_id, r.vec_id,
             1.0 - list_cosine_similarity(r.v, a.avec) AS dist
      FROM rows_ r JOIN anch a USING (cell)
      WHERE r.vec_id <> a.anchor_id),
    p AS (
      SELECT anchor_id, vec_id AS pos_id, dist AS pos_dist,
             row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
      FROM d WHERE dist < $PairTauP),
    n AS (
      SELECT anchor_id, vec_id AS neg_id, dist AS neg_dist,
             row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
      FROM d WHERE dist >= $PairTauN)
    SELECT p.anchor_id, p.pos_id, p.pos_dist, n.neg_id, n.neg_dist
    FROM p JOIN n USING (anchor_id)
    WHERE p.rn = 1 AND n.rn = 1
    ORDER BY p.anchor_id"""

  // -------------------------------------------------------- filtered knn
  /** pgvector filtered search: `WHERE label = 3 ORDER BY embedding <->
    * q LIMIT k` — the metadata predicate is pushed into the parquet
    * scan, so the distance computation only touches the surviving
    * fraction. */
  private def knnFiltered(s: SparkSession, d: String): DataFrame =
    Knn.topK(
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0 && col("label") === 3),
      "vec_id", "embedding", queryVec(s, d), "qvec", l2Distance, K)

  private val knnFilteredSql = s"""
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0 AND e.label = 3
    ORDER BY dist, vec_id
    LIMIT $K"""

  // -------------------------------------------------------------- hybrid
  /** Hybrid retrieval: blend lexical term overlap (on documents.text)
    * with vector cosine similarity (embeddings joined on id) —
    * score = 0.4·term_frac + 0.6·cos_sim. The lexical side is a pure
    * per-row projection; the vector side reuses the broadcast query. */
  private def hybrid(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("fast", "join", "vector")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val termFrac = terms.map(t =>
      when(array_contains(toks, t), lit(1.0)).otherwise(lit(0.0)))
      .reduce(_ + _) / terms.length.toDouble
    val lexical = Tables.documents(s, d)
      .select(col("doc_id"), termFrac.as("term_frac"))
    val vectors = Tables.embeddings(s, d)
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), col("qvec"))
          .as("cos_sim"))
    lexical.join(vectors, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("term_frac"), col("cos_sim"),
        (col("term_frac") * 0.4 + col("cos_sim") * 0.6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(K)
  }

  private val hybridSql = s"""
    WITH lex AS (
      SELECT doc_id,
             ((CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'fast') THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'join') THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'vector') THEN 1.0 ELSE 0.0 END)) / 3.0 AS term_frac
      FROM documents),
    vec AS (
      SELECT e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos_sim
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q)
    SELECT doc_id, term_frac, cos_sim,
           term_frac * 0.4 + cos_sim * 0.6 AS score
    FROM lex JOIN vec ON doc_id = vec_id
    ORDER BY score DESC, doc_id
    LIMIT $K"""

  // --------------------------------------------- multi-vector late interaction
  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    * SIGIR 2020): documents are BAGS of token vectors (here: 8
    * consecutive embeddings per doc, `vec_id DIV 8`), queries are
    * bags too (vec_id < 4), and the score is
    * MaxSim = Σ_q max_t cos(q, t) — each query token finds its best
    * match in the document independently, which single-vector search
    * cannot express.
    *
    * Scale shape: the query bag is broadcast (Q rows), the per-token
    * sims are one shuffle-free projection over the corpus, and the
    * per-doc max/sum is ONE map-side-combined groupBy keyed on
    * doc_id (partial maxes per partition — Q doubles per doc cross
    * the wire, not token rows), then TakeOrderedAndProject. Bit-exact
    * oracle: max is an exact pick, and the Σ is a fixed-order
    * left-associated 4-term add in both engines. */
  private def multivecMaxsim(s: SparkSession, d: String): DataFrame = {
    val nq = 4
    val qs = Tables.embeddings(s, d).filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val toks = Tables.embeddings(s, d).filter(col("vec_id") >= 8)
      .select(expr("vec_id DIV 8").as("doc_id"), col("embedding"))
    val sims = toks.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("qid"),
        graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), col("qvec"))
          .as("sim"))
    val maxAggs = (0 until nq).map(q =>
      max(when(col("qid") === q, col("sim"))).as(s"m$q"))
    sims.groupBy(col("doc_id"))
      .agg(maxAggs.head, maxAggs.tail: _*)
      .select(col("doc_id") +: (0 until nq).map(q => col(s"m$q")) :+
        (0 until nq).map(q => col(s"m$q")).reduce(_ + _).as("maxsim_score"): _*)
      .orderBy(col("maxsim_score").desc, col("doc_id"))
      .limit(K)
  }

  private val multivecMaxsimSql = s"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 4),
    sims AS (
      SELECT e.vec_id // 8 AS doc_id, q.qid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 8),
    perdoc AS (
      SELECT doc_id,
             max(sim) FILTER (WHERE qid = 0) AS m0,
             max(sim) FILTER (WHERE qid = 1) AS m1,
             max(sim) FILTER (WHERE qid = 2) AS m2,
             max(sim) FILTER (WHERE qid = 3) AS m3
      FROM sims GROUP BY doc_id)
    SELECT doc_id, m0, m1, m2, m3, m0 + m1 + m2 + m3 AS maxsim_score
    FROM perdoc ORDER BY maxsim_score DESC, doc_id LIMIT $K"""

  // ------------------------------------------------------- MMR re-rank
  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998) — the result-diversification stage a RAG stack
    * runs between retrieval and the LLM so k near-duplicate chunks
    * don't fill the context window. Two-phase, the same
    * shortlist-then-rerank discipline as [[operators.BinaryQuant]]:
    * the corpus-scale work is one exact cosine top-`MmrShortlist`
    * scan (TakeOrderedAndProject — per-partition heaps, no shuffle);
    * the greedy selection is O(k·m·dims) driver arithmetic over the
    * m collected candidates, constants at any corpus size.
    *
    * Every number is bit-exact against the DuckDB recursive-CTE
    * oracle: relevance comes from the codegen'd
    * [[graft.functions.VectorFunctions.cosineSimilarity]] (verified
    * ≡ list_cosine_similarity), pairwise sims use the same
    * sequential-accumulation clamp kernel on the driver, λ = 0.5
    * makes both blend terms exact halvings, and ties break on
    * vec_id in both engines. Seed convention: rank 1 is the pure
    * argmax-relevance pick (its blended score has no diversity term:
    * max over the empty selected set = 0). */
  private val MmrShortlist = 30

  private def rerankMmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val short = corpus(s, d)
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), col("qvec"))
          .as("rel"))
      .orderBy((lit(1.0) - col("rel")).asc, col("vec_id"))
      .limit(MmrShortlist)
      .collect() // m rows by construction — the corpus work is the scan above
    val n = short.length
    val ids = short.map(_.getLong(0))
    val embs = short.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val rels = short.map(_.getDouble(2))
    // the §3 cosine contract, driver-side: per-element double cast,
    // sequential accumulation, clamp (DuckDB and pgvector both clamp)
    def sim(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      math.max(-1.0, math.min(1.0, dot / (math.sqrt(aa) * math.sqrt(bb))))
    }
    val taken = Array.fill(n)(false)
    // max sim to the selected set so far; −∞ so a candidate whose
    // similarities are all NEGATIVE keeps its true (negative) max —
    // a 0.0 floor would silently shrink its diversity bonus
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    var seed = 0
    var i = 1
    while (i < n) {
      if (rels(i) > rels(seed) || (rels(i) == rels(seed) && ids(i) < ids(seed))) seed = i
      i += 1
    }
    def absorb(j: Int): Unit = {
      var t = 0
      while (t < n) {
        if (!taken(t)) { val sv = sim(embs(t), embs(j)); if (sv > maxSim(t)) maxSim(t) = sv }
        t += 1
      }
    }
    taken(seed) = true
    out += ((1, ids(seed), rels(seed), 0.5 * rels(seed)))
    absorb(seed)
    var r = 2
    while (r <= K && r <= n) {
      var best = -1; var bestScore = 0.0
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          val sc = 0.5 * rels(c) - 0.5 * maxSim(c)
          if (best < 0 || sc > bestScore || (sc == bestScore && ids(c) < ids(best))) {
            best = c; bestScore = sc
          }
        }
        c += 1
      }
      taken(best) = true
      out += ((r, ids(best), rels(best), bestScore))
      absorb(best)
      r += 1
    }
    out.toSeq.toDF("rank", "vec_id", "rel", "mmr_score")
  }

  private val rerankMmrSql = s"""
    WITH RECURSIVE
    cand AS (
      SELECT e.vec_id,
             CAST(e.embedding AS DOUBLE[]) AS emb,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS rel
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY 1.0 - rel, e.vec_id
      LIMIT $MmrShortlist),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    mmr AS (
      SELECT 1 AS rank, [vec_id] AS sel, vec_id, rel, 0.5 * rel AS mmr_score
      FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
      UNION ALL
      SELECT m.rank + 1, list_append(m.sel, nxt.vec_id), nxt.vec_id, nxt.rel, nxt.score
      FROM mmr m, LATERAL (
        SELECT c.vec_id, c.rel,
               0.5 * c.rel - 0.5 * (
                 SELECT max(p.sim) FROM pair p
                 WHERE p.ia = c.vec_id AND list_contains(m.sel, p.ib)) AS score
        FROM cand c
        WHERE NOT list_contains(m.sel, c.vec_id)
        ORDER BY score DESC, c.vec_id
        LIMIT 1) nxt
      WHERE m.rank < $K)
    SELECT rank, vec_id, rel, mmr_score FROM mmr ORDER BY rank"""

  // -------------------------------------------- reciprocal rank fusion
  /** RRF hybrid fusion (Cormack/Clarke/Buettcher, SIGIR 2009) — the
    * rank-based alternative to vs_hybrid's score blend: each
    * retriever contributes 1/(60+rank), so systems with incomparable
    * score scales (lexical term overlap vs dense cosine) fuse without
    * normalization — the fusion Elasticsearch/Vespa/pgvector hybrid
    * stacks default to.
    *
    * Scale shape: each retriever runs its own top-`RrfShortlist`
    * (TakeOrderedAndProject — per-partition heaps, no global sort);
    * ranks are then row_number over the collected m-row shortlists
    * (constant size, the single-partition window is over m rows, not
    * the corpus) and the fuse is a UNION + one hash aggregate — not a
    * join: each retriever emits (doc, rank) with zeros for the other
    * retrievers' slots and a map-side-combined max folds them, which
    * generalizes to R retrievers with no R-way outer join (a full
    * outer join cannot broadcast and would plan a SortMergeJoin). A
    * doc outside a shortlist keeps rank 0 = "absent" (no fusion
    * term), the standard RRF convention. Bit-exact: ranks are
    * integers and each fusion term is one double division in fixed
    * add order in both engines. */
  private val RrfC = 60
  private val RrfShortlist = 50

  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Seq("fast", "join", "vector")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val termFrac = terms.map(t =>
      when(array_contains(toks, t), lit(1.0)).otherwise(lit(0.0)))
      .reduce(_ + _) / terms.length.toDouble
    val lexShort = Tables.documents(s, d).filter(col("doc_id") =!= 0)
      .select(col("doc_id"), termFrac.as("lex"))
      .orderBy(col("lex").desc, col("doc_id"))
      .limit(RrfShortlist)
    val vecShort = corpus(s, d)
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id").as("doc_id"),
        graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), col("qvec"))
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(RrfShortlist)
    // constant-m frames: the unpartitioned window ranks m rows, never
    // the corpus
    val lr = lexShort.select(col("doc_id"),
      row_number().over(Window.orderBy(col("lex").desc, col("doc_id")))
        .cast("long").as("r_lex"))
    val vr = vecShort.select(col("doc_id"),
      row_number().over(Window.orderBy(col("cos").desc, col("doc_id")))
        .cast("long").as("r_vec"))
    lr.select(col("doc_id"), col("r_lex"), lit(0L).as("r_vec"))
      .unionAll(vr.select(col("doc_id"), lit(0L).as("r_lex"), col("r_vec")))
      .groupBy(col("doc_id"))
      .agg(max(col("r_lex")).as("r_lex"), max(col("r_vec")).as("r_vec"))
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        (when(col("r_lex") > 0, lit(1.0) / (lit(RrfC) + col("r_lex"))).otherwise(lit(0.0))
          + when(col("r_vec") > 0, lit(1.0) / (lit(RrfC) + col("r_vec"))).otherwise(lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(K)
  }

  private val hybridRrfSql = s"""
    WITH lex AS (
      SELECT doc_id,
             ((CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'fast') THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'join') THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("text")}, 'vector') THEN 1.0 ELSE 0.0 END)) / 3.0 AS lex
      FROM documents WHERE doc_id <> 0
      ORDER BY lex DESC, doc_id LIMIT $RrfShortlist),
    lr AS (SELECT doc_id, row_number() OVER (ORDER BY lex DESC, doc_id) AS r_lex FROM lex),
    vec AS (
      SELECT e.vec_id AS doc_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY cos DESC, doc_id LIMIT $RrfShortlist),
    vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_vec FROM vec),
    fused AS (
      SELECT COALESCE(lr.doc_id, vr.doc_id) AS doc_id,
             COALESCE(lr.r_lex, 0) AS r_lex,
             COALESCE(vr.r_vec, 0) AS r_vec
      FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id)
    SELECT doc_id, r_lex, r_vec,
           (CASE WHEN r_lex > 0 THEN 1.0 / ($RrfC + r_lex) ELSE 0.0 END)
         + (CASE WHEN r_vec > 0 THEN 1.0 / ($RrfC + r_vec) ELSE 0.0 END) AS rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT $K"""

  // ------------------------------------------- Matryoshka / subvector
  /** Matryoshka two-phase KNN — pgvector's documented `subvector()`
    * index pattern for MRL embeddings (Kusupati et al., NeurIPS 2022:
    * the first m dims of an MRL embedding are themselves a usable
    * embedding): phase 1 ranks by L2 over the first [[MrlHead]] dims
    * read from a persisted (id, head) sidecar — dims/64ths of the
    * scan IO, the same packed-sidecar discipline as
    * [[operators.BinaryQuant]] (ReadSchema plan-asserted in MrlSpec)
    * — and phase 2 exactly re-ranks the `MrlShortlist` survivors
    * pulled by an `In` filter pushed to the full-precision scan.
    *
    * Unlike BQ/SQ/PQ the coarse metric here is an EXACT L2 over a
    * deterministic prefix, so the whole two-phase pipeline is
    * bit-reproducible and the DuckDB oracle replays it with list
    * slicing — no recall gate needed, the contract is exact. */
  private val MrlHead = 16
  private val MrlShortlist = 50

  /** Build-once (vec_id, head) sidecar: the first [[MrlHead]] dims. */
  private def ensureMrlStore(s: SparkSession, d: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mrl_v1_${graft.Sidecar.key(d)}").toString
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        corpus(s, d)
          .select(col("vec_id"), slice(col("embedding"), 1, MrlHead).as("head"))
          .write.mode("overwrite").parquet(p)
    }
    p
  }

  /** Exposed for MrlSpec's ReadSchema assertion. */
  private[graft] def mrlShortlistPlan(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    s.read.parquet(ensureMrlStore(s, d))
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("head"), typedLit(q.take(MrlHead).toSeq))
          .as("cd"))
      .orderBy(col("cd"), col("vec_id"))
      .limit(MrlShortlist)
  }

  private def mrlKnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val ids = mrlShortlistPlan(s, d)
      .select(col("vec_id")).collect().map(_.getLong(0))
    emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(q.toSeq)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  private val mrlKnnSql = s"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    short AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY list_distance(CAST(e.embedding[1:$MrlHead] AS DOUBLE[]),
                             CAST(q.qvec[1:$MrlHead] AS DOUBLE[])), e.vec_id
      LIMIT $MrlShortlist)
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
    FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
    ORDER BY dist, vec_id
    LIMIT $K"""

  // ----------------------------------------------------- sparse vectors
  /** Build-once parquet sidecar of [[sparseTf]] (r15): the flat and
    * routed sparse graph ensures each recomputed the tf assembly's two
    * shuffles before their builds — at scale the tf store is the
    * artifact a pipeline materializes once and every index build
    * reads. Safe for oracle purposes: the walk replays read the graph
    * DUMPS, never this store. */
  private[graft] def ensureSparseTfStore(s: SparkSession, d: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sparsetf_v1_${graft.Sidecar.key(d)}").toString
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        sparseTf(s, d).write.mode("overwrite").parquet(p)
    }
    p
  }

  /** Corpus as sparse term-frequency vectors — the pgvector
    * `sparsevec` layout: per doc, (sidx, sval) sorted-ascending
    * (hash64(term), tf) arrays. Two bounded shuffles (term counts,
    * per-doc assembly), columnar output, built once and served to any
    * query. */
  private[graft] def sparseTf(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .select(col("doc_id"),
        struct(hash64(col("w")).as("h"), col("tf").cast("double").as("v")).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("p"))).as("ps"))
      .select(col("doc_id"),
        transform(col("ps"), p => p("h")).as("sidx"),
        transform(col("ps"), p => p("v")).as("sval"))
  }

  /** Sparse KNN (pgvector `sparsevec` search, r7): cosine top-k of an
    * integer-weighted term query against the sparse tf store via the
    * two-pointer [[graft.functions.SparseDistExpr]] merge — no
    * explode, no join, one scan + TakeOrderedAndProject. Integer
    * weights make every accumulator exact, so the relational DuckDB
    * oracle (integer dot/ssq, then one double division) is
    * bit-identical. */
  /** The fixed sparse term query shared by vs_sparse_knn and the
    * sparse graph walk (vs_hnsw_sparse): integer weights → exact
    * accumulators in every engine. */
  private[graft] val SparseQueryTerms: Seq[(String, Double)] =
    Seq("join" -> 3.0, "vector" -> 2.0, "scan" -> 2.0, "fast" -> 1.0)

  private def sparseKnn(s: SparkSession, d: String): DataFrame = {
    val (qi, qv) = graft.functions.SparseVec.queryOf(SparseQueryTerms)
    sparseTf(s, d)
      .select(col("doc_id"),
        graft.functions.SparseVec.cosineSimilarity(col("sidx"), col("sval"), qi, qv)
          .as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(K)
  }

  /** Sparse L2 KNN (pgvector sparsevec `<->`, r16): nearest-k by
    * Euclidean distance over the index UNION between the sparse tf
    * store and the integer-weighted term query — puts the r15
    * [[graft.functions.SparseDistExpr]] L2 kernel (until now serving
    * sparsevec_l2_ops with spec-only coverage) on the hash gate.
    * Integer tf·weights make every accumulator exact, and the union
    * merge satisfies dist² = ssq_doc − 2·dot + ssq_q, which the
    * relational oracle replays in integers with one final sqrt. */
  private def sparseL2Knn(s: SparkSession, d: String): DataFrame = {
    val (qi, qv) = graft.functions.SparseVec.queryOf(SparseQueryTerms)
    sparseTf(s, d)
      .select(col("doc_id"),
        graft.functions.SparseVec.l2Distance(col("sidx"), col("sval"), qi, qv)
          .as("dist"))
      .orderBy(col("dist"), col("doc_id"))
      .limit(K)
  }

  private val sparseL2KnnSql = s"""
    WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.tokensSql("text")}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    q(w, wt) AS (VALUES ('join', 3), ('vector', 2), ('scan', 2), ('fast', 1)),
    dotn AS (SELECT t.doc_id, CAST(sum(t.tf * q.wt) AS BIGINT) AS dot
             FROM tf t JOIN q ON t.w = q.w GROUP BY t.doc_id),
    ssq AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ssq FROM tf GROUP BY doc_id)
    SELECT s.doc_id,
           sqrt(CAST(s.ssq - 2 * coalesce(d.dot, 0) + 18 AS DOUBLE)) AS dist
    FROM ssq s LEFT JOIN dotn d USING (doc_id)
    ORDER BY dist, doc_id
    LIMIT $K"""

  /** One-column sparsevec KNN (r17 — the pgvector `sparsevec` type as
    * a SINGLE stored column, closing the operator surface of the
    * columnar-pair deviation): docs as bounded-dims sparse tf vectors
    * — index = hash64(term) mod D + 1, 1-based in [1, D], collisions
    * merged by the tf grouping — assembled into the canonical
    * `struct<indices, values, dims>` by [[graft.functions.SparseVec
    * .toStructColumn]], nearest-k by L2 against a pgvector
    * `'{i:v,...}/D'` text literal via [[graft.functions
    * .SparseStructDistExpr]] — the exact kernel the verbatim
    * `sv <-> '...'::sparsevec` SQL form resolves to through
    * [[graft.plans.SparseColumnRule]] (spec-asserted equivalence,
    * SparseStructSpec). Integer tf·weights → exact accumulators;
    * the oracle replays dist² = ssq − 2·dot + qssq relationally over
    * the SAME mod-D index space. One scan + TakeOrderedAndProject. */
  private val SparseColDims = 16384

  /** The fixed term query in mod-D index space: (hash64(t) mod D)+1,
    * same-index collisions merged, ascending — legal pgvector
    * sparsevec text-literal indices. */
  private def sparseColQuery: Seq[(Long, Double)] =
    SparseQueryTerms
      .groupBy { case (t, _) =>
        graft.functions.TextFunctions.hash64Scala(t) % SparseColDims + 1 }
      .map { case (ix, ts) => (ix, ts.map(_._2).sum) }
      .toSeq.sortBy(_._1)

  private def sparsevecColKnn(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), (hash64(col("w")) % SparseColDims + 1).as("ix"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"),
        struct(col("ix").as("h"), col("tf").cast("double").as("v")).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("p"))).as("ps"))
      .select(col("doc_id"),
        transform(col("ps"), p => p("h")).as("si"),
        transform(col("ps"), p => p("v")).as("sv"))
    val qText = sparseColQuery
      .map { case (i, v) => s"$i:${if (v == v.floor) v.toLong.toString else v.toString}" }
      .mkString("{", ",", "}") + s"/$SparseColDims"
    tf.select(col("doc_id"),
        graft.functions.SparseVec.structDist(
          graft.functions.SparseVec.toStructColumn(col("si"), col("sv"), SparseColDims),
          graft.functions.SparseVec.structLiteral(qText),
          graft.functions.VectorDistance.L2).as("dist"))
      .orderBy(col("dist"), col("doc_id"))
      .limit(K)
  }

  private def sparsevecColSql: String = {
    val q = sparseColQuery
    val qValues = q.map { case (i, v) => s"($i, ${v.toLong})" }.mkString(", ")
    val qssq = q.map { case (_, v) => (v * v).toLong }.sum
    s"""
    WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.tokensSql("text")}) AS w FROM documents),
    tf AS (SELECT doc_id, ${graft.functions.TextFunctions.hash64Sql("w")} % $SparseColDims + 1 AS ix,
                  count(*) AS tf
           FROM tok GROUP BY doc_id, ix),
    q(ix, wt) AS (VALUES $qValues),
    dotn AS (SELECT t.doc_id, CAST(sum(t.tf * q.wt) AS BIGINT) AS dot
             FROM tf t JOIN q USING (ix) GROUP BY t.doc_id),
    ssq AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ssq FROM tf GROUP BY doc_id)
    SELECT s.doc_id,
           sqrt(CAST(s.ssq - 2 * coalesce(d.dot, 0) + $qssq AS DOUBLE)) AS dist
    FROM ssq s LEFT JOIN dotn d USING (doc_id)
    ORDER BY dist, doc_id
    LIMIT $K"""
  }

  private val sparseKnnSql = s"""
    WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.tokensSql("text")}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    q(w, wt) AS (VALUES ('join', 3), ('vector', 2), ('scan', 2), ('fast', 1)),
    dotn AS (SELECT t.doc_id, CAST(sum(t.tf * q.wt) AS BIGINT) AS dot
             FROM tf t JOIN q ON t.w = q.w GROUP BY t.doc_id),
    ssq AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ssq FROM tf GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(s.ssq AS DOUBLE)) * sqrt(18.0)) AS score
    FROM dotn d JOIN ssq s USING (doc_id)
    WHERE d.dot > 0
    ORDER BY score DESC, doc_id
    LIMIT $K"""

  /** Production hybrid retrieval (r7): the sparse side is the FULL
    * per-doc BM25-weighted term vector (weight = the text_bm25
    * per-term formula, k1=1.2 b=0.75, rational Robertson idf), so the
    * sparse dot against a {term → 1.0} query IS the BM25 score — the
    * shape real lexical+dense stacks serve (SPLADE-style sparse dot +
    * dense cosine), replacing vs_hybrid's fixed-term term_frac. Blend
    * 0.4·lex + 0.6·cos, inner join on the id like vs_hybrid. The
    * DuckDB oracle replays matched-term contributions through
    * list_sum(list_transform(list_sort(...))) — the same ascending-
    * index accumulation order as the two-pointer kernel. */
  private def hybridSparse(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val g = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    val tfd = col("tf").cast("double")
    val dfd = col("df").cast("double")
    val nd = col("n").cast("double")
    val avgdl = col("sum_dl").cast("double") / nd
    val weight = tfd * lit(2.2) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))) *
      ((nd - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val sv = tf.join(dl, "doc_id").join(dfT, "w").crossJoin(broadcast(g))
      .select(col("doc_id"), struct(hash64(col("w")).as("h"), weight.as("v")).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("p"))).as("ps"))
      .select(col("doc_id"),
        transform(col("ps"), p => p("h")).as("sidx"),
        transform(col("ps"), p => p("v")).as("sval"))
    val (qi, qv) = graft.functions.SparseVec.queryOf(
      Seq("fast" -> 1.0, "join" -> 1.0, "vector" -> 1.0))
    val lex = sv.select(col("doc_id"),
      graft.functions.SparseVec.dot(col("sidx"), col("sval"), qi, qv).as("lex_score"))
    val vectors = Tables.embeddings(s, d)
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), col("qvec"))
          .as("cos_sim"))
    lex.join(vectors, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lex_score"), col("cos_sim"),
        (col("lex_score") * lit(0.4) + col("cos_sim") * lit(0.6)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(K)
  }

  private val hybridSparseSql = s"""
    WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.tokensSql("text")}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    q(w) AS (VALUES ('fast'), ('join'), ('vector')),
    contrib AS (
      SELECT t.doc_id, ${graft.functions.TextFunctions.hash64Sql("t.w")} AS h,
             CAST(t.tf AS DOUBLE) * 2.2
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(g.sum_dl AS DOUBLE) / CAST(g.n AS DOUBLE)))))
               * ((CAST(g.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) AS c
      FROM tf t
      JOIN q ON t.w = q.w
      JOIN dl ON t.doc_id = dl.doc_id
      JOIN df ON t.w = df.w
      CROSS JOIN g),
    lex AS (SELECT doc_id,
             list_sum(list_transform(list_sort(list({'h': h, 'c': c})), p -> p.c)) AS lex_score
            FROM contrib GROUP BY doc_id),
    vec AS (SELECT e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q2.qvec AS DOUBLE[])) AS cos_sim
            FROM embeddings e
            CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q2)
    SELECT l.doc_id, l.lex_score, v.cos_sim,
           l.lex_score * 0.4 + v.cos_sim * 0.6 AS score
    FROM lex l JOIN vec v ON l.doc_id = v.vec_id
    ORDER BY score DESC, doc_id
    LIMIT $K"""

  // ------------------------------------------------------ search+present
  /** The reference's full search flow (SSEOpenAIController: embed →
    * top-5 → per-hit summarize → present): here the LLM summarization
    * step is extractive — a deterministic snippet (first 12 tokens) +
    * query-term hit count — keeping the join/present plumbing real. */
  private def searchPresent(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("join", "vector", "scan")
    val topHits = Knn.topK(corpus(s, d), "vec_id", "embedding",
      queryVec(s, d), "qvec", cosineDistance, 5)
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("source"), toks.as("toks"))
    val termHits = terms.map(t =>
      when(array_contains(col("toks"), t), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    topHits.join(docs, col("vec_id") === col("doc_id"))
      .select(
        col("vec_id"), col("dist"), col("source").as("filename"),
        concat_ws(" ", slice(col("toks"), 1, 12)).as("snippet"),
        termHits.as("term_hits"))
      .orderBy(col("dist"), col("vec_id"))
  }

  private val searchPresentSql = s"""
    WITH hits AS (
      SELECT e.vec_id, 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY dist, vec_id LIMIT 5),
    d AS (SELECT doc_id, source, ${graft.functions.TextFunctions.tokensSql("text")} AS toks FROM documents)
    SELECT vec_id, dist, source AS filename,
           array_to_string(toks[1:12], ' ') AS snippet,
           CAST((CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(toks, 'vector') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS BIGINT) AS term_hits
    FROM hits JOIN d ON vec_id = doc_id
    ORDER BY dist, vec_id"""

  // ----------------------------------------------- search+summarize
  /** The reference's per-hit summarize stage
    * (SSEOpenAIController.java:143-230: every top-k hit is summarized
    * by ChatGPT before presentation), as a DETERMINISTIC extractive
    * summarizer: each hit's document is split into sentences, each
    * sentence scored by query-term overlap (ties → earlier sentence),
    * and the top-2 sentences per hit returned as the summary. Pure
    * integer scoring → exact oracle parity; the LLM call is the one
    * intentionally substituted piece (zero egress).
    *
    * The sentence splitter here is a fixed 12-token window: the
    * synthetic corpus carries no punctuation (every document is one
    * "sentence" under any punctuation split, which would make the
    * top-2 selection vacuous). For prose corpora the splitter is the
    * only line to swap (split on '. ' in both engines — DuckDB RE2
    * has no lookbehind, so the shared contract is a literal
    * separator); scoring and selection are unchanged.
    *
    * Scale shape: top-k is the oracle-proven exact knn; the summarize
    * stage touches only k documents (broadcast-joined), sentence work
    * is per-row codegen with one tiny per-hit window. */
  private def searchSummarize(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Summarize
    val topHits = Knn.topK(corpus(s, d), "vec_id", "embedding",
      queryVec(s, d), "qvec", cosineDistance, 5)
    // join FIRST, window-split after: the sentence HOF then touches
    // only the k hit documents instead of the whole corpus (and no
    // array alias crosses the join for filter pushdown to inline)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val hitDocs = topHits.join(docs, col("vec_id") === col("doc_id"))
      .drop("doc_id")
      .select(col("*"), Summarize.tokenWindows(
        graft.functions.TextFunctions.tokens(col("text")), 12).as("sents"))
      .drop("text")
    Summarize.extract(hitDocs,
      "vec_id", "sents", terms = Seq("join", "vector", "scan"), m = 2)
      .select(col("vec_id"), col("dist"), col("pos"), col("sentence"), col("overlap"))
      .orderBy(col("vec_id"), col("pos"))
  }

  private val searchSummarizeSql = s"""
    WITH hits AS (
      SELECT e.vec_id, 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS dist
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY dist, vec_id LIMIT 5),
    tk AS (
      SELECT doc_id, ${graft.functions.TextFunctions.tokensSql("text")} AS toks
      FROM documents),
    s AS (
      SELECT h.vec_id, h.dist, CAST(i + 1 AS BIGINT) AS pos,
             array_to_string(t.toks[(i * 12 + 1):(i * 12 + 12)], ' ') AS sentence
      FROM hits h
      JOIN tk t ON h.vec_id = t.doc_id,
      unnest(range(0, CAST(floor((len(t.toks) - 1) / 12.0) AS BIGINT) + 1)) AS u(i)),
    sc AS (
      SELECT vec_id, dist, pos, sentence,
             CAST((CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("sentence")}, 'join') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("sentence")}, 'vector') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(${graft.functions.TextFunctions.tokensSql("sentence")}, 'scan') THEN 1 ELSE 0 END) AS BIGINT) AS overlap
      FROM s),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY overlap DESC, pos) AS rn
      FROM sc)
    SELECT vec_id, dist, pos, sentence, overlap
    FROM r WHERE rn <= 2
    ORDER BY vec_id, pos"""

  /** Build-once persisted (vec_id, bq) sidecar for the binary-quant
    * search — the packed store phase 1 scans INSTEAD of the float
    * column (same build-once _SUCCESS discipline as ensureAutoStore). */
  private def ensureBqStore(s: SparkSession, d: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bq_v1_${graft.Sidecar.key(d)}").toString
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        graft.operators.BinaryQuant.writeStore(
          Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", p)
    }
    p
  }

  /** Binary-quantized search (pgvector `bit(n)` mode; two-phase since
    * r7): hamming pass over the persisted (id, packed-sign-bits)
    * sidecar ONLY — 32× less scan IO than the float column, the
    * operator's whole point — then exact re-rank of the top-192
    * shortlist pulled from the corpus by a pushed `In` filter.
    * Lossy → rows-only; recall gated in RecallGateSpec, phase-1
    * ReadSchema plan-asserted in BinaryQuantSpec. */
  private def bqKnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bqStore = s.read.parquet(ensureBqStore(s, d))
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    graft.operators.BinaryQuant.search(
      bqStore, emb.filter(col("vec_id") =!= 0), "vec_id", query, K, rerank = 192)
  }

  /** Build-once SQ8 sidecar (FAISS `QT_8bit` rung of the compression
    * ladder): (vec_id, sq binary) + trained per-dim params — 4× less
    * scan IO than float32. */
  private[graft] def sqStorePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sq_v1_${graft.Sidecar.key(d)}").toString

  private def ensureSqStore(s: SparkSession, d: String): String = {
    val p = sqStorePath(d)
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        graft.operators.ScalarQuant.writeStore(
          Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", p)
    }
    p
  }

  /** SQ8 two-phase KNN: asymmetric-distance shortlist over the
    * 1-byte-per-dim sidecar (codes dequantize against the
    * full-precision query), exact re-rank of the survivors. Lossy
    * storage → rows-only; recall gated ≥ 0.9 in RecallGateSpec
    * (8-bit per-dim range beats halfvec's global format at 2× less
    * IO than it). */
  private def sqKnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val p = ensureSqStore(s, d)
    val (mins, scales) = graft.operators.ScalarQuant.readParams(s, p)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    graft.operators.ScalarQuant.search(
      s.read.parquet(p), emb.filter(col("vec_id") =!= 0), "vec_id",
      query, mins, scales, K, rerank = 64)
  }

  /** Bench split for vs_sq_knn: build = train params + persist the
    * packed sidecar (forced fresh), probe = the two-phase search. */
  def sqBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var path: String = null
    val build = () => {
      VectorQueries.synchronized {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_sq_v1_${graft.Sidecar.key(d)}"))
      }
      path = ensureSqStore(s, d)
    }
    (build, () => sqKnn(s, d))
  }

  /** Build-once float16-packed store (pgvector `halfvec` analogue):
    * (vec_id, hv binary) — HALF the scan bytes of the float32 column.
    * v2: the query row (vec_id 0) is packed too, so the replay oracle
    * can decode the half-rounded query from the same sidecar instead
    * of re-implementing the encoder's double→float→binary16 rounding
    * (pack is deterministic: the stored row 0 IS `Half.pack(q)`). */
  private[graft] def halfStorePath(d: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_half_v2_${graft.Sidecar.key(d)}").toString

  private def ensureHalfStore(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val p = halfStorePath(d)
    VectorQueries.synchronized {
      if (!new java.io.File(p, "_SUCCESS").exists())
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            toColumn(graft.functions.HalfPackExpr(toExpression(col("embedding")))).as("hv"))
          .write.mode("overwrite").parquet(p)
    }
    p
  }

  /** halfvec KNN (pgvector `halfvec` parity): L2 top-k over the
    * float16-packed store — half the scan IO, ~3 decimal digits of
    * element precision. Query is half-rounded too (pgvector casts
    * both sides to halfvec). Lossy vs float32 (recall gated ≥ 0.9 in
    * RecallGateSpec) but bit-DETERMINISTIC given the packed sidecar:
    * the oracle decodes the stored binary16 codes with integer bit
    * arithmetic and replays the same sequential L2 fold, so the entry
    * carries the full hash gate (VERDICT r8 #1). */
  private def knnHalf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val store = s.read.parquet(ensureHalfStore(s, d))
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    val qHalf = graft.functions.Half.unpackToDouble(graft.functions.Half.pack(q))
    store
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        toColumn(graft.functions.HalfDistExpr(
          toExpression(col("hv")), qHalf,
          graft.functions.VectorDistance.L2.id)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** Halfvec cosine KNN (pgvector halfvec `<=>`, r16): the
    * [[graft.functions.HalfDistExpr]] cosine mode — added so all four
    * pgvector halfvec operators have servable kernels — on the hash
    * gate over the same packed binary16 sidecar as vs_knn_half. The
    * oracle decodes the stored codes with integer bit arithmetic and
    * replays the kernel's three per-dim accumulators (dot, ‖x‖², ‖q‖²)
    * as dim-ordered list_sums — each is an independent sequential
    * fold, so 1 − dot/(√·√) reproduces bit-exactly. */
  private def knnHalfCos(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val store = s.read.parquet(ensureHalfStore(s, d))
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    val qHalf = graft.functions.Half.unpackToDouble(graft.functions.Half.pack(q))
    store
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        toColumn(graft.functions.HalfDistExpr(
          toExpression(col("hv")), qHalf,
          graft.functions.VectorDistance.CosineDist.id)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** pgvector `<~>` (hamming_distance over `bit(n)`) — EXACT top-k by
    * hamming distance between sign-bit vectors, scanning only the
    * persisted (vec_id, packed-words) sidecar. Unlike vs_bq_knn (a
    * lossy shortlist + float re-rank) the bit vector IS the data
    * here, so the integer distance is exact and fully oracled. */
  private def knnBitHamming(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val store = s.read.parquet(ensureBqStore(s, d))
    val q = graft.operators.BinaryQuant.pack(
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray)
    store
      .select(col("vec_id"),
        toColumn(graft.functions.HammingDistExpr(toExpression(col("bq")), q))
          .cast("long").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  private val bitHammingSql = s"""
    SELECT e.vec_id AS vec_id,
      CAST(list_sum(list_transform(list_zip(e.embedding, q.qvec),
        x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS dist
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY dist, vec_id
    LIMIT $K"""

  /** pgvector `<%>` (jaccard_distance over `bit(n)`) — exact top-k by
    * 1 − |A∩B|/|A∪B| over set sign-bit positions, same packed-sidecar
    * scan as [[knnBitHamming]]. Counts accumulate as integers; the
    * single final double division makes the result bit-exact against
    * the oracle's identical formula. */
  private def knnBitJaccard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val store = s.read.parquet(ensureBqStore(s, d))
    val q = graft.operators.BinaryQuant.pack(
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray)
    store
      .select(col("vec_id"),
        toColumn(graft.functions.JaccardDistExpr(toExpression(col("bq")), q)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  private val bitJaccardSql = s"""
    WITH d AS (
      SELECT e.vec_id,
        list_sum(list_transform(list_zip(e.embedding, q.qvec),
          x -> CASE WHEN x[1] > 0 AND x[2] > 0 THEN 1 ELSE 0 END)) AS inter,
        list_sum(list_transform(list_zip(e.embedding, q.qvec),
          x -> CASE WHEN x[1] > 0 OR x[2] > 0 THEN 1 ELSE 0 END)) AS uni
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0)
    SELECT vec_id,
      CASE WHEN uni = 0 THEN 0.0
           ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) END AS dist
    FROM d
    ORDER BY dist, vec_id
    LIMIT $K"""

  /** Bench split for vs_bq_knn: build = persist the packed sidecar,
    * probe = two-phase search (hamming scan + In-pushed re-rank). */
  def bqBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val emb = Tables.embeddings(s, d)
    var bqStore: DataFrame = null
    var query: Array[Double] = null
    val build = () => {
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bq_bench_${graft.Sidecar.key(d)}").toString
      graft.operators.BinaryQuant.writeStore(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", p)
      bqStore = s.read.parquet(p)
      query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    }
    val probe = () => graft.operators.BinaryQuant.search(
      bqStore, emb.filter(col("vec_id") =!= 0), "vec_id", query, K, rerank = 192)
    (build, probe)
  }

  /** Build-once PQ store: (vec_id, embedding, codes) + the trained
    * codebooks persisted next to it — the memory-resident serving
    * layout, and what makes the ADC search REPLAYABLE: given the
    * stored codes and the exact codebook doubles, the shortlist is
    * deterministic arithmetic the oracle re-runs in DuckDB. */
  private[graft] def pqBasePath(d: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_v1_${graft.Sidecar.key(d)}")

  private def ensurePqStore(s: SparkSession, d: String): (String, String) = {
    val base = pqBasePath(d)
    val storeP = new java.io.File(base, "store").toString
    val cbP = new java.io.File(base, "codebooks").toString
    VectorQueries.synchronized {
      if (!new java.io.File(cbP, "_SUCCESS").exists()) {
        val emb = Tables.embeddings(s, d)
        val cb = PqIndex.train(emb, "embedding", dims = 64, m = 16, ksub = 32)
        PqIndex.encode(emb.filter(col("vec_id") =!= 0), "embedding", cb)
          .select(col("vec_id"), col("embedding"), col("codes"))
          .write.mode("overwrite").parquet(storeP)
        PqIndex.writeCodebooks(s, cb, cbP)
      }
    }
    (storeP, cbP)
  }

  /** PQ/ADC compressed search with exact re-rank of the top-192 ADC
    * shortlist over the persisted code store. Lossy vs exact search
    * (recall gated in RecallGateSpec) but deterministic given the
    * stored codes + codebooks — since r9 fully hash-oracled (the
    * oracle rebuilds the ADC table from the codebook parquet and
    * replays shortlist + re-rank). */
  private def pqKnn(s: SparkSession, d: String): DataFrame = {
    val (storeP, cbP) = ensurePqStore(s, d)
    val cb = PqIndex.readCodebooks(s, cbP)
    val query = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    PqIndex.search(s.read.parquet(storeP), "vec_id", query, cb, K, rerank = 192)
  }

  // ------------------------------------------- optimizer-picked IVF probe
  /** Build-once per sfDir: a cell-partitioned store + persisted
    * centroids (with per-cell bounding radii — the statistics the
    * range rewrite needs for sound pruning) under java.io.tmpdir,
    * registered in [[IvfCatalog]] with [[IvfProbeRule]] installed.
    * Deterministic: same corpus → same k-means → same layout, so
    * re-use across JVMs is safe. (Dir name carries a layout version:
    * v2 added the radius column.) */
  private[graft] def autoBasePath(d: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivf_auto_v4_${graft.Sidecar.key(d)}")

  private def ensureAutoStore(s: SparkSession, d: String): (String, String) = {
    // v4: spilled layout carries the ranked cells array + cell_rank
    // (generalized dedup, any spill) instead of v3's primary_cell
    val base = autoBasePath(d)
    val storeP = new java.io.File(base, "store").toString
    val centP = new java.io.File(base, "centroids").toString
    VectorQueries.synchronized {
      // validity = the _SUCCESS marker of the LAST artifact written
      // (centroids): present → both store and centroids completed; a
      // killed build leaves no marker and is rebuilt, never read
      if (!new java.io.File(centP, "_SUCCESS").exists()) {
        val (indexed, centroids) = IvfIndex.buildIndex(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nlist = IvfNlist, spill = IvfSpill)
        IvfIndex.writePartitioned(indexed, storeP)
        centroids
          .join(IvfIndex.cellRadii(indexed, "embedding", centroids),
            Seq("centroid_id"), "left")
          .na.fill(0.0, Seq("radius")) // an empty cell intersects nothing
          .write.mode("overwrite").parquet(centP)
      }
    }
    IvfCatalog.register(storeP, s.read.parquet(centP), nprobe = IvfNprobe, vecCol = "embedding")
    IvfProbeRule.install(s)
    (storeP, centP)
  }

  /** GraftTable-backed registered store (VERDICT r7 #8): the same
    * cell-assigned corpus as [[ensureAutoStore]], persisted as an
    * ACID transaction-log table CLUSTERED by cell
    * (range-repartitioned on centroid_id, so each file's committed
    * [min,max] stats bind tight) instead of a hive-partitioned
    * directory tree. [[IvfCatalog.registerTable]] lets the probe
    * rule stack the log's file-level skipping under the injected
    * cell filter — the lakehouse composition of the r6 (optimizer
    * probe) and r7 (table format) wins. Spill=1: GraftTable files
    * carry data columns only, and the single-copy store needs no
    * probe dedup predicate. */
  private[graft] def txnBasePath(d: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivf_txn_v1_${graft.Sidecar.key(d)}")

  private[graft] def ensureTxnStore(s: SparkSession, d: String): (String, String) = {
    val base = txnBasePath(d)
    val tableP = new java.io.File(base, "table").toString
    val centP = new java.io.File(base, "centroids").toString
    VectorQueries.synchronized {
      if (!new java.io.File(centP, "_SUCCESS").exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(base); base.mkdirs()
        val (indexed, centroids) = IvfIndex.buildIndex(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nlist = IvfNlist, spill = 1)
        graft.sources.GraftTable.create(s, tableP,
          indexed.repartitionByRange(IvfNlist, col("centroid_id")),
          statsCols = Seq("centroid_id", "vec_id"))
        centroids.write.mode("overwrite").parquet(centP)
      }
    }
    val t = graft.sources.GraftTable.open(s, tableP)
    // spill=1 loses the SOAR margin the spill-2 auto store gets, so
    // the single-copy store probes wider for the same recall band
    IvfCatalog.registerTable(t, s.read.parquet(centP),
      nprobe = TxnNprobe, vecCol = "embedding")
    IvfProbeRule.install(s)
    (tableP, centP)
  }

  private[graft] val TxnNprobe = 10

  /** The reference's literal-query shape over the ACID store with NO
    * index call: the optimizer injects the cell probe AND prunes the
    * snapshot's file list via the commit log's per-file stats
    * (IvfGraftSpec asserts the scan plans over ≤ the probed cells'
    * files and gates recall vs the exact answer). Rows-only:
    * approximate (cell recall), like vs_ivf_auto. */
  private def ivfTxn(s: SparkSession, d: String): DataFrame = {
    val (tableP, _) = ensureTxnStore(s, d)
    val snap = graft.sources.GraftTable.open(s, tableP).read()
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    snap
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** Bench split: `_build` = index train/assign + clustered ACID
    * table write, forced fresh; `_probe` = the optimizer-rewritten
    * snapshot knn. */
  def ivfTxnBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => {
      VectorQueries.synchronized {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_ivf_txn_v1_${graft.Sidecar.key(d)}"))
      }
      ensureTxnStore(s, d); ()
    }
    (build, () => ivfTxn(s, d))
  }

  /** The pgvector range shape (`WHERE embedding <-> '[...]' < τ`) over
    * the registered store with NO index call in the query: the
    * optimizer's triangle-inequality rewrite keeps only cells whose
    * bounding ball can intersect the query ball. Unlike the knn probe
    * this pruning is EXACT (a skipped cell provably holds no
    * qualifying row), so the entry carries the same DuckDB oracle as
    * vs_range_search. On this isotropic corpus radii are wide and few
    * cells prune; IvfAutoSpec's clustered fixture shows real pruning. */
  private def rangeAuto(s: SparkSession, d: String): DataFrame = {
    val (storeP, _) = ensureAutoStore(s, d)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    s.read.parquet(storeP)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(q)).as("dist"))
      .filter(col("dist") < 1.30)
      .orderBy(col("dist"), col("vec_id"))
  }

  /** The reference's literal-query search shape (`ORDER BY
    * embedding <-> '[...]'::vector LIMIT k`) with NO index call in the
    * query: [[IvfProbeRule]] recognizes the plan over the registered
    * store and injects the nprobe partition-pruned probe — index
    * selection in the optimizer, where an RDBMS does it. Rows-only:
    * approximate (cell recall), like vs_ivf_knn. */
  private def ivfAuto(s: SparkSession, d: String): DataFrame = {
    val (storeP, _) = ensureAutoStore(s, d)
    autoProbe(s, d, storeP)
  }

  /** IVF-accelerated BATCH ANN over the persisted cell-partitioned
    * store: each query probes its nprobe cells, candidates come from
    * the cell-bucket join (never a full cross), per-query exact top-k
    * via the bounded aggregate. Rows-only: approximate (cell recall
    * asserted in IvfAutoSpec vs the exact batch). */
  private def ivfBatch(s: SparkSession, d: String): DataFrame = {
    val (storeP, centP) = ensureAutoStore(s, d)
    val q = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // queries ARE corpus rows here (vec_id < 5), so self-exclusion is
    // the exact-batch twin's semantics (knnBatch: e.vec_id <> q.qid)
    IvfIndex.searchBatch(
      s.read.parquet(storeP), "vec_id", "embedding",
      s.read.parquet(centP), q, "qid", "qvec", l2Distance, k = 5, nprobe = IvfNprobe,
      excludeSelf = true)
  }

  private def autoProbe(s: SparkSession, d: String, storeP: String): DataFrame = {
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    s.read.parquet(storeP)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** FILTERED auto search (pgvector ≥0.8 iterative-scan shape,
    * VERDICT r4 #2): the reference's top-k with a metadata WHERE
    * clause (`WHERE label = 3 ORDER BY embedding <-> '[...]' LIMIT k`)
    * over the registered store, again with NO index call — the
    * metadata predicate stays a pushed parquet data filter INSIDE the
    * partition-pruned probe ([[IvfProbeRule]] injects the cell filter
    * under the user filter; both reach the scan). Rows-only:
    * approximate; IvfAutoSpec asserts the plan carries BOTH the
    * PartitionFilters IN list and the pushed label filter, and
    * RecallGateSpec gates recall vs the exact filtered search. */
  private def knnFilteredAuto(s: SparkSession, d: String): DataFrame = {
    val (storeP, _) = ensureAutoStore(s, d)
    val q = queryVec(s, d).select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    s.read.parquet(storeP)
      .filter(col("vec_id") =!= 0 && col("label") === 3)
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  /** pgvector ≥0.8 ITERATIVE index scan: filtered top-k where the
    * probe width adapts to the predicate's selectivity —
    * [[IvfIndex.searchFilteredIterative]] starts at one cell and
    * doubles until the probed cells hold k predicate-passing rows, so
    * an easy filter costs one cell and a brutal one never silently
    * under-returns (the fixed-nprobe failure mode
    * vs_knn_filtered_auto accepts). Rows-only: approximate;
    * RecallGateSpec gates recall vs the exact filtered search and
    * IvfIndexSpec asserts the width adaptivity both ways. */
  private def knnFilteredIter(s: SparkSession, d: String): DataFrame = {
    val (storeP, centP) = ensureAutoStore(s, d)
    IvfIndex.searchFilteredIterative(
      s.read.parquet(storeP), "vec_id", "embedding",
      s.read.parquet(centP).select(col("centroid_id"), col("centroid")),
      queryVec(s, d), "qvec", l2Distance, k = K,
      pred = col("vec_id") =!= 0 && col("label") === 3,
      nprobe0 = 1, maxProbe = IvfNlist)._1
  }

  def ivfAutoBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var storeP: String = null
    val build = () => {
      // force a fresh build so `_build` measures the same work on
      // every machine — a cache hit would time a no-op (r2 reported
      // 0.19 s for what is really a ~3 s build)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivf_auto_v4_${graft.Sidecar.key(d)}")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      VectorQueries.synchronized { rm(base) }
      storeP = ensureAutoStore(s, d)._1
    }
    (build, () => autoProbe(s, d, storeP))
  }

  // ------------------------------------------------- bench build/probe split
  /** Bench-only split of the index queries: an index is built once and
    * probed many times, so timing them together hides probe
    * regressions behind training cost (VERDICT r1 "What's wrong" #5).
    * The build thunk materializes the index (localCheckpoint — bench
    * scope only; persistent serving uses writePartitioned); the probe
    * thunk then runs against the materialized relation, never
    * replaying build lineage. */
  def ivfBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    var indexed: DataFrame = null
    var centroids: DataFrame = null
    val build = () => {
      val (ix, c) = IvfIndex.buildIndex(
        Tables.embeddings(s, d), "vec_id", "embedding", nlist = 16)
      indexed = ix.localCheckpoint()
      centroids = c
    }
    val probe = () => IvfIndex.search(
      indexed.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      centroids, queryVec(s, d), "qvec", l2Distance, k = K, nprobe = IvfNprobe)
    (build, probe)
  }

  def pqBench(s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val emb = Tables.embeddings(s, d)
    var encoded: DataFrame = null
    var cb: PqIndex.Codebooks = null
    var query: Array[Double] = null
    val build = () => {
      cb = PqIndex.train(emb, "embedding", dims = 64, m = 16, ksub = 32)
      encoded = PqIndex.encode(emb.filter(col("vec_id") =!= 0), "embedding", cb)
        .localCheckpoint()
      query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    }
    val probe = () => PqIndex.search(encoded, "vec_id", query, cb, K, rerank = 192)
    (build, probe)
  }

  // ------------------------------------ deterministic ANN replay oracles
  // (VERDICT r8 #1.) An IVF probe over a PERSISTED store is
  // deterministic given the materialized centroids: the oracle replays
  // cell ranking (same (dist, centroid_id) tie-break), the spilled-copy
  // dedup predicate ("no better-ranked cell probed" —
  // IvfIndex.assignCells), and the within-cell exact top-k, all in
  // DuckDB over the same parquet the engine wrote. Paths embed
  // OracleEnv.sfDir (set by Verify before the dump), which is why
  // `defs` below is a def, not a val.

  /** DuckDB replay of the single-query spilled-store probe (vs_ivf_knn
    * explicit API and vs_ivf_auto optimizer rewrite plan to the same
    * candidates by construction — IvfProbeRule ranks with the same
    * metric and injects the same dedup conjunct). */
  private def ivfProbeOracle(d: String): String = {
    val base = autoBasePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT centroid_id
      FROM read_parquet('$base/centroids/*.parquet'), q
      ORDER BY list_distance(CAST(centroid AS DOUBLE[]), qvec), centroid_id
      LIMIT $IvfNprobe),
    plist AS (SELECT list(centroid_id) AS pl FROM probed),
    store AS (
      SELECT vec_id, embedding, cells, cell_rank, CAST(centroid_id AS INT) AS centroid_id
      FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1))
    SELECT s.vec_id AS vec_id,
           list_distance(CAST(s.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM store s, plist, q
    WHERE s.centroid_id IN (SELECT centroid_id FROM probed)
      AND s.vec_id <> 0
      AND NOT list_has_any(list_slice(s.cells, 1, s.cell_rank - 1), plist.pl)
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the GraftTable-backed probe: single-copy store (no
    * dedup), nprobe = TxnNprobe, the table's live files are the one
    * create-commit's part-*.parquet (the store is immutable once
    * built, so a raw glob IS the snapshot). */
  private def ivfTxnOracle(d: String): String = {
    val base = txnBasePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT centroid_id
      FROM read_parquet('$base/centroids/*.parquet'), q
      ORDER BY list_distance(CAST(centroid AS DOUBLE[]), qvec), centroid_id
      LIMIT $TxnNprobe)
    SELECT s.vec_id AS vec_id,
           list_distance(CAST(s.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM read_parquet('$base/table/part-*.parquet') s, q
    WHERE s.centroid_id IN (SELECT centroid_id FROM probed)
      AND s.vec_id <> 0
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the batch probe: per-query cell ranking (row_number
    * with the engine's (dist, centroid_id) struct-sort tie-break),
    * per-query spilled dedup, self-exclusion, exact top-5 per query
    * (TopKAggregate's (dist, id) eviction = the row_number order). */
  private def ivfBatchOracle(d: String): String = {
    val base = autoBasePath(d)
    s"""
    WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
                FROM embeddings WHERE vec_id < 5),
    ranked AS (
      SELECT qid, qvec, centroid_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY list_distance(CAST(centroid AS DOUBLE[]), qvec), centroid_id) AS rn
      FROM qs, read_parquet('$base/centroids/*.parquet')),
    probes AS (
      SELECT qid, any_value(qvec) AS qvec, list(centroid_id ORDER BY rn) AS pl
      FROM ranked WHERE rn <= $IvfNprobe GROUP BY qid),
    store AS (
      SELECT vec_id, embedding, cells, cell_rank, CAST(centroid_id AS INT) AS centroid_id
      FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1)),
    cand AS (
      SELECT p.qid, s.vec_id,
             list_distance(CAST(s.embedding AS DOUBLE[]), p.qvec) AS dist
      FROM store s JOIN probes p ON list_contains(p.pl, s.centroid_id)
      WHERE s.vec_id <> p.qid
        AND NOT list_has_any(list_slice(s.cells, 1, s.cell_rank - 1), p.pl)),
    r AS (SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
          FROM cand)
    SELECT qid, vec_id, dist FROM r WHERE rn <= 5
    ORDER BY qid, dist, vec_id"""
  }

  /** Replay of the binary-quant two-phase search — needs NO store
    * path: the packed sidecar is the sign bits of the float column,
    * so the oracle computes the SAME integer hamming distance from
    * the embeddings directly (the vs_bit_hamming formula), takes the
    * top-`rerank` shortlist by (hd, vec_id), and re-ranks exactly. */
  private val bqKnnOracle: String = s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    hd AS (
      SELECT e.vec_id,
        CAST(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qvec),
          x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS hd
      FROM embeddings e, q WHERE e.vec_id <> 0),
    short AS (SELECT vec_id FROM hd ORDER BY hd, vec_id LIMIT 192)
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY dist, vec_id
    LIMIT $K"""

  /** Replay of the FILTERED auto probe: the selective metadata
    * predicate widens the probe (nprobe × filteredWiden — the
    * pgvector-iterative-scan analogue IvfProbeRule applies), then the
    * label filter and the spilled dedup run inside the probed cells. */
  private def knnFilteredAutoOracle(d: String): String = {
    val base = autoBasePath(d)
    val widened = math.min(IvfNlist, IvfNprobe * 2) // filteredWiden = 2
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT centroid_id
      FROM read_parquet('$base/centroids/*.parquet'), q
      ORDER BY list_distance(CAST(centroid AS DOUBLE[]), qvec), centroid_id
      LIMIT $widened),
    plist AS (SELECT list(centroid_id) AS pl FROM probed),
    store AS (
      SELECT vec_id, embedding, label, cells, cell_rank, CAST(centroid_id AS INT) AS centroid_id
      FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1))
    SELECT s.vec_id AS vec_id,
           list_distance(CAST(s.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM store s, plist, q
    WHERE s.centroid_id IN (SELECT centroid_id FROM probed)
      AND s.vec_id <> 0 AND s.label = 3
      AND NOT list_has_any(list_slice(s.cells, 1, s.cell_rank - 1), plist.pl)
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the ITERATIVE filtered probe: the adaptive width is
    * itself deterministic — the doubling schedule stops at the first
    * width whose probed cells hold k predicate-passing vectors, and
    * the engine's exactly-once incremental count across steps sums to
    * COUNT(DISTINCT vec_id) over the prefix — so the oracle computes
    * cnt(w) per schedule width, picks p, and replays the final probe
    * (dedup included) at that width. */
  private def knnFilteredIterOracle(d: String): String = {
    val base = autoBasePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    ranked AS (
      SELECT centroid_id,
             row_number() OVER (
               ORDER BY list_distance(CAST(centroid AS DOUBLE[]), q.qvec), centroid_id) AS rn
      FROM read_parquet('$base/centroids/*.parquet'), q),
    store AS (
      SELECT vec_id, embedding, label, cells, cell_rank, CAST(centroid_id AS INT) AS centroid_id
      FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1)),
    widths(w) AS (VALUES (1), (2), (4), (8), (16), (32)),
    cnts AS (
      SELECT w.w,
             (SELECT count(DISTINCT s.vec_id)
              FROM store s JOIN ranked r ON s.centroid_id = r.centroid_id
              WHERE r.rn <= w.w AND s.vec_id <> 0 AND s.label = 3) AS cnt
      FROM widths w),
    pw AS (SELECT coalesce(min(w) FILTER (WHERE cnt >= $K), 32) AS p FROM cnts),
    plist AS (SELECT list(centroid_id ORDER BY rn) AS pl
              FROM ranked, pw WHERE rn <= pw.p)
    SELECT s.vec_id AS vec_id,
           list_distance(CAST(s.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM store s, plist, pw, q
    WHERE s.centroid_id IN (SELECT centroid_id FROM ranked, pw WHERE rn <= pw.p)
      AND s.vec_id <> 0 AND s.label = 3
      AND NOT list_has_any(list_slice(s.cells, 1, s.cell_rank - 1), plist.pl)
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** The ADC arithmetic shared by the PQ replay oracles: rebuild the
    * query's [subspace][code] squared-distance table from the
    * codebook parquet (same sequential fold as
    * [[PqIndex.distanceTable]]), score each candidate's stored codes
    * (fold over subspaces in order), shortlist, exact re-rank. */
  private def pqAdcSql(codesFrom: String, cbP: String, dsub: Int,
      rerank: Int): String = s"""
    qd AS (SELECT generate_subscripts(qvec, 1) AS gd, unnest(qvec) AS qx FROM q),
    tbl AS (
      SELECT cb.sp, cb.cid,
             list_sum(list((qd.qx - cb.c) * (qd.qx - cb.c) ORDER BY cb.pos)) AS sqd
      FROM read_parquet('$cbP/*.parquet') cb
      JOIN qd ON qd.gd = cb.sp * $dsub + cb.pos + 1
      GROUP BY cb.sp, cb.cid),
    cvals AS (
      SELECT vec_id, generate_subscripts(codes, 1) AS sp1, unnest(codes) AS code
      FROM ($codesFrom)),
    adc AS (
      SELECT cv.vec_id, sqrt(list_sum(list(t.sqd ORDER BY cv.sp1))) AS ad
      FROM cvals cv JOIN tbl t ON t.sp = cv.sp1 - 1 AND t.cid = cv.code
      GROUP BY cv.vec_id),
    short AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT $rerank)"""

  /** Replay of the flat PQ/ADC search over the persisted code store. */
  private def pqKnnOracle(d: String): String = {
    val base = pqBasePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    ${pqAdcSql(s"SELECT vec_id, codes FROM read_parquet('$base/store/*.parquet')",
        s"$base/codebooks", dsub = 4, rerank = 192)}
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the IVF-PQ composite: cell probe + spilled dedup picks
    * the candidates, then the same ADC arithmetic on their codes. */
  private def ivfPqKnnOracle(d: String): String = {
    val base = ivfPqBasePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT centroid_id
      FROM read_parquet('$base/centroids/*.parquet'), q
      ORDER BY list_distance(CAST(centroid AS DOUBLE[]), qvec), centroid_id
      LIMIT $IvfNprobe),
    plist AS (SELECT list(centroid_id) AS pl FROM probed),
    cand0 AS (
      SELECT s.vec_id, s.codes
      FROM (SELECT vec_id, codes, cells, cell_rank, CAST(centroid_id AS INT) AS centroid_id
            FROM read_parquet('$base/store/centroid_id=*/*.parquet', hive_partitioning=1)) s,
           plist
      WHERE s.centroid_id IN (SELECT centroid_id FROM probed)
        AND s.vec_id <> 0
        AND NOT list_has_any(list_slice(s.cells, 1, s.cell_rank - 1), plist.pl)),
    ${pqAdcSql("SELECT vec_id, codes FROM cand0", s"$base/codebooks",
        dsub = 4, rerank = 64)}
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the LSH bucket probe: the query's signatures are
    * recomputed IN SQL from the same md5-derived ±1 planes
    * (hash64Sql ≡ LshAnn.plane), expanded to the Hamming-1 multiprobe
    * neighborhood, bucket-joined against the persisted store, and the
    * candidates re-ranked exactly by cosine distance. */
  private def lshKnnOracle(d: String): String = {
    val h = "CAST(('0x' || substr(md5(CAST(pl.t AS VARCHAR) || ':' || " +
      "CAST(pl.b AS VARCHAR) || ':' || CAST(pl.d AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    qd AS (SELECT generate_subscripts(qvec, 1) AS gd, unnest(qvec) AS qx FROM q),
    planes AS (
      SELECT pl.t, pl.b, pl.d,
             CASE WHEN $h % 2 = 0 THEN 1.0 ELSE -1.0 END AS p
      FROM (SELECT t.range AS t, b.range AS b, d.range AS d
            FROM range($LshTables) t, range($LshBits) b, range(64) d) pl),
    dots AS (
      SELECT pl.t, pl.b, list_sum(list(qd.qx * pl.p ORDER BY pl.d)) AS dotv
      FROM planes pl JOIN qd ON qd.gd = pl.d + 1
      GROUP BY pl.t, pl.b),
    qsig AS (
      SELECT t AS table_id,
             CAST(sum(CASE WHEN dotv > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY t),
    probes AS (
      SELECT table_id, xor(sig, CAST(m.m AS BIGINT)) AS sig
      FROM qsig, (VALUES (0), (1), (2), (4), (8)) m(m)),
    cand AS (
      SELECT DISTINCT s.vec_id
      FROM read_parquet('${lshStorePath(d)}/*.parquet') s
      JOIN probes p ON s.table_id = p.table_id AND s.sig = p.sig)
    SELECT e.vec_id AS vec_id,
           1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Hex-pair → int for the packed-sidecar decoders (DuckDB has no
    * get_byte; hex() + strpos arithmetic is exact). `hx` must be the
    * hex(blob) column, `i` a 1-based char index of the pair. */
  private def hexByte(hx: String, i: String): String =
    s"((strpos('0123456789ABCDEF', $hx[$i]) - 1) * 16 + " +
      s"strpos('0123456789ABCDEF', $hx[($i) + 1]) - 1)"

  /** Replay of the SQ8 two-phase search: dequantize the stored codes
    * (min + code/255·scale — the exact SqDistExpr arithmetic), ADC
    * shortlist of 64 by (ad, vec_id), exact re-rank from the float
    * column. list(… ORDER BY dim) + list_sum reproduces the
    * sequential accumulation contract. */
  private def sqKnnOracle(d: String): String = {
    val p = sqStorePath(d)
    s"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
    qd AS (SELECT generate_subscripts(qvec, 1) AS qdim, unnest(qvec) AS qx FROM q),
    par AS (SELECT dim, "min" AS mn, "scale" AS sc FROM read_parquet('$p.params/*.parquet')),
    st AS (SELECT vec_id, hex(sq) AS hx FROM read_parquet('$p/*.parquet')),
    dec AS (
      SELECT s.vec_id, p.dim,
             p.mn + (CAST(${hexByte("s.hx", "2*p.dim+1")} AS DOUBLE) / 255.0) * p.sc AS x
      FROM st s, par p),
    ad AS (
      SELECT d.vec_id,
             sqrt(list_sum(list((d.x - qd.qx) * (d.x - qd.qx) ORDER BY d.dim))) AS ad
      FROM dec d JOIN qd ON qd.qdim = d.dim + 1
      GROUP BY d.vec_id),
    short AS (SELECT vec_id FROM ad ORDER BY ad, vec_id LIMIT 64)
    SELECT e.vec_id AS vec_id,
           list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist
    FROM embeddings e JOIN short USING (vec_id), q
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Replay of the halfvec search from the packed sidecar alone: the
    * stored binary16 codes (query row 0 included — v2 layout) decode
    * with integer bit arithmetic (sign · (1024+mant)·2^(exp−25),
    * subnormal mant·2^−24 — exact in double), then the same
    * sequential L2 fold. No encoder replication: the sidecar IS the
    * rounding's output. */
  private def knnHalfOracle(d: String): String = {
    val p = halfStorePath(d)
    val u = hexByte("hx", "4*dim+1") + " + 256 * " + hexByte("hx", "4*dim+3")
    s"""
    WITH st AS (SELECT vec_id, hex(hv) AS hx, octet_length(hv) // 2 AS nd
                FROM read_parquet('$p/*.parquet')),
    bits AS (
      SELECT vec_id, dim, $u AS u
      FROM (SELECT vec_id, hx, unnest(range(0, nd)) AS dim FROM st)),
    dec AS (
      SELECT vec_id, dim,
             (CASE WHEN u >= 32768 THEN -1.0 ELSE 1.0 END) *
             (CASE WHEN ((u % 32768) // 1024) = 0
                   THEN (u % 1024) * power(2.0, -24)
                   ELSE (1024 + (u % 1024)) * power(2.0, ((u % 32768) // 1024) - 25) END) AS x
      FROM bits),
    qd AS (SELECT dim, x AS qx FROM dec WHERE vec_id = 0)
    SELECT d.vec_id AS vec_id,
           sqrt(list_sum(list((d.x - qd.qx) * (d.x - qd.qx) ORDER BY d.dim))) AS dist
    FROM dec d JOIN qd USING (dim)
    WHERE d.vec_id <> 0
    GROUP BY d.vec_id
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** Cosine twin of [[knnHalfOracle]] (vs_half_cos, r16): the same
    * integer binary16 decode, then the kernel's three dim-ordered
    * accumulators as independent list_sums and the single
    * 1 − clamp(dot/(√‖x‖²·√‖q‖²)) combination (similarity clamped to
    * [-1,1] like pgvector/DuckDB and the engine's own kernels). */
  private def knnHalfCosOracle(d: String): String = {
    val p = halfStorePath(d)
    val u = hexByte("hx", "4*dim+1") + " + 256 * " + hexByte("hx", "4*dim+3")
    s"""
    WITH st AS (SELECT vec_id, hex(hv) AS hx, octet_length(hv) // 2 AS nd
                FROM read_parquet('$p/*.parquet')),
    bits AS (
      SELECT vec_id, dim, $u AS u
      FROM (SELECT vec_id, hx, unnest(range(0, nd)) AS dim FROM st)),
    dec AS (
      SELECT vec_id, dim,
             (CASE WHEN u >= 32768 THEN -1.0 ELSE 1.0 END) *
             (CASE WHEN ((u % 32768) // 1024) = 0
                   THEN (u % 1024) * power(2.0, -24)
                   ELSE (1024 + (u % 1024)) * power(2.0, ((u % 32768) // 1024) - 25) END) AS x
      FROM bits),
    qd AS (SELECT dim, x AS qx FROM dec WHERE vec_id = 0)
    SELECT d.vec_id AS vec_id,
           1.0 - greatest(-1.0, least(1.0,
                 list_sum(list(d.x * qd.qx ORDER BY d.dim)) /
                 (sqrt(list_sum(list(d.x * d.x ORDER BY d.dim))) *
                  sqrt(list_sum(list(qd.qx * qd.qx ORDER BY d.dim)))))) AS dist
    FROM dec d JOIN qd USING (dim)
    WHERE d.vec_id <> 0
    GROUP BY d.vec_id
    ORDER BY dist, vec_id
    LIMIT $K"""
  }

  /** def, not val: the replay oracles above embed
    * [[graft.OracleEnv.sfDir]]-derived store paths, resolved at dump
    * time (Verify sets sfDir, runs the queries — which build the
    * stores — then reads this map). */
  def defs: Map[String, QueryDef] = {
    val d = graft.OracleEnv.sfDir
    Map(
    "vs_ivf_auto"     -> QueryDef(ivfAuto _, ivfProbeOracle(d)),
    "vs_ivf_txn"      -> QueryDef(ivfTxn _, ivfTxnOracle(d)),
    "vs_knn_filtered_auto" -> QueryDef(knnFilteredAuto _, knnFilteredAutoOracle(d)),
    "vs_knn_filtered_iter" -> QueryDef(knnFilteredIter _, knnFilteredIterOracle(d)),
    "vs_hnsw_knn"     -> QueryDef(hnswKnn _, hnswKnnOracle(d)),
    "vs_hnsw_routed"  -> QueryDef(hnswRouted _, hnswRoutedOracle(d)),
    "vs_hnsw_filtered" -> QueryDef(hnswFiltered _, hnswFilteredOracle(d)),
    "vs_hnsw_bit"     -> QueryDef(
      (s: SparkSession, dd: String) => hnswBitKnn(s, dd, "hamming"),
      hnswBitOracle(d, "hamming")),
    "vs_hnsw_bit_jacc" -> QueryDef(
      (s: SparkSession, dd: String) => hnswBitKnn(s, dd, "jaccard"),
      hnswBitOracle(d, "jaccard")),
    "vs_hnsw_sparse"  -> QueryDef(hnswSparseKnn _, hnswSparseOracle(d)),
    "vs_hnsw_sparse_routed" -> QueryDef(hnswSparseRouted _, hnswSparseRoutedOracle(d)),
    "vs_hnsw_sparse_filtered" -> QueryDef(hnswSparseFiltered _, hnswSparseFilteredOracle(d)),
    "vs_ivf_bit"      -> QueryDef(ivfBitKnn _, ivfBitOracle(d)),
    "vs_ivfpq_knn"    -> QueryDef(ivfPqKnn _, ivfPqKnnOracle(d)),
    "vs_ivf_batch"    -> QueryDef(ivfBatch _, ivfBatchOracle(d)),
    "vs_ivf_knn"      -> QueryDef(ivfKnn _, ivfProbeOracle(d)),
    "vs_lsh_knn"      -> QueryDef(lshKnn _, lshKnnOracle(d)),
    "vs_pq_knn"       -> QueryDef(pqKnn _, pqKnnOracle(d)),
    "vs_bq_knn"       -> QueryDef(bqKnn _, bqKnnOracle),
    "vs_sq_knn"       -> QueryDef(sqKnn _, sqKnnOracle(d)),
    "vs_knn_filtered" -> QueryDef(knnFiltered _, knnFilteredSql),
    "vs_hybrid"       -> QueryDef(hybrid _, hybridSql),
    "vs_rerank_mmr"   -> QueryDef(rerankMmr _, rerankMmrSql),
    "vs_hybrid_rrf"   -> QueryDef(hybridRrf _, hybridRrfSql),
    "vs_mrl_knn"      -> QueryDef(mrlKnn _, mrlKnnSql),
    "vs_multivec_maxsim" -> QueryDef(multivecMaxsim _, multivecMaxsimSql),
    "vs_sparse_knn"   -> QueryDef(sparseKnn _, sparseKnnSql),
    "vs_hybrid_sparse" -> QueryDef(hybridSparse _, hybridSparseSql),
    "vs_search_present" -> QueryDef(searchPresent _, searchPresentSql),
    "vs_search_summarize" -> QueryDef(searchSummarize _, searchSummarizeSql),
    "vs_norms"        -> QueryDef(norms _, normsSql),
    "emb_centroids"   -> QueryDef(centroids _, centroidsSql),
    "emb_outliers"    -> QueryDef(outliers _, outliersSql),
    "emb_drift"       -> QueryDef(drift _, driftSql),
    "emb_pairs"       -> QueryDef(embPairs _, embPairsSql),
    "emb_pairs_blocked" -> QueryDef(embPairsBlocked _, embPairsBlockedOracle(d)),
    "vs_knn_join"     -> QueryDef(knnJoinQ _, knnJoinSql(d)),
    "vs_knn_join_init" -> QueryDef(knnJoinInitQ _, knnJoinInitOracle(d)),
    "vs_knn_l2"       -> QueryDef(knnL2 _, knnOracle(l2Sql)),
    "vs_knn_l1"       -> QueryDef(knnL1 _, knnOracle(l1Sql)),
    "vs_knn_half"     -> QueryDef(knnHalf _, knnHalfOracle(d)),
    "vs_half_cos"     -> QueryDef(knnHalfCos _, knnHalfCosOracle(d)),
    "vs_sparse_l2_knn" -> QueryDef(sparseL2Knn _, sparseL2KnnSql),
    "vs_sparsevec_col" -> QueryDef(sparsevecColKnn _, sparsevecColSql),
    "vs_bit_hamming"  -> QueryDef(knnBitHamming _, bitHammingSql),
    "vs_bit_jaccard"  -> QueryDef(knnBitJaccard _, bitJaccardSql),
    "vs_knn_cosine"   -> QueryDef(knnCos _, knnOracle(cosSql)),
    "vs_knn_ip"       -> QueryDef(knnIp _, knnOracle(ipSql)),
    "vs_knn_batch"    -> QueryDef(knnBatch _, knnBatchSql),
    "vs_range_search" -> QueryDef(rangeSearch _, rangeSearchSql),
    "vs_range_auto"   -> QueryDef(rangeAuto _, rangeSearchSql),
    )
  }
}
