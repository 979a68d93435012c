package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the 100 TB scale
  * path for the reference's `ORDER BY embedding <-> q LIMIT k`
  * (SURVEY.md §4).
  *
  * Build: Lloyd's k-means expressed purely as DataFrame ops. The
  * assignment step is SHUFFLE-FREE (VERDICT r5 #1): the nlist
  * centroid table becomes driver metadata inside one custom
  * expression ([[graft.functions.NearestCellsExpr]]), and each corpus
  * row computes its ranked nearest cells locally in a single bounded-
  * selection pass — O(nlist·dims) flat-array arithmetic per row, zero
  * exchanged rows, zero joins. (The previous shape — crossJoin to
  * N×nlist rows + a per-id argmin window — shuffled nlist× the corpus
  * volume; with the standard nlist ≈ √N sizing at 100 TB that is a
  * 1000×-volume exchange.)
  * The centroid update is a posexplode + groupBy(cell, pos) average:
  * partial aggregation reduces map output to partitions×nlist×dims
  * rows before the only shuffle in the loop. Each round's centroids
  * are materialized through the [[Materializer]] so deep trainings
  * (iters ≫ 2) never accumulate lineage.
  *
  * Search: the query ranks the nlist centroids (broadcast, tiny),
  * probes the nprobe nearest cells, and scans only those — at scale
  * the corpus is written `partitionBy("centroid_id")`
  * ([[writePartitioned]]) so the probe is a partition-pruned read of
  * nprobe/nlist of the data, no shuffle, while exact top-k within the
  * probed cells is a TakeOrderedAndProject.
  *
  * Determinism: init = the nlist vectors with smallest ids; argmin
  * ties break on centroid id; means are decimal-free but only used
  * for bucketing (approximation, never compared to an oracle).
  */
object IvfIndex {

  /** Upper bound on `spill` (multi-assignment copies per vector). The
    * optimizer-injected probe dedup predicate
    * ([[graft.plans.IvfProbeRule]]) is a static conjunction with one
    * term per possible rank below this bound, so the bound must be a
    * compile-time constant — 8 is far past the useful spill range
    * (storage and candidate volume scale linearly with spill). */
  val MaxSpill = 8

  /** Collapse the (tiny) centroid frame to ONE broadcast row holding
    * the full centroid table as a sorted array of structs — the
    * carrier that lets every QUERY row rank cells locally with an
    * arbitrary metric (probe-side use; the corpus assignment path
    * uses the flat-array [[nearestCells]] kernel instead). */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids
      .groupBy()
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("__cents"))

  /** Add `outCol` = the `spill` nearest centroid ids (ranked, ties on
    * centroid id) to every row — no shuffle, no window: a broadcast
    * nested-loop join against the ONE centroid-array row, then a
    * per-row sort of (distance, id) structs. Query-side only (small
    * frames, caller-chosen metric): the per-row HOF sort boxes a
    * struct per cell, which the corpus-sized path must not pay. */
  private def rankedWith(
      df: DataFrame, vecCol: String, centroids: DataFrame, spill: Int,
      outCol: String, distance: (Column, Column) => Column): DataFrame =
    df.crossJoin(broadcast(centroidArray(centroids)))
      .withColumn(outCol,
        slice(
          transform(
            array_sort(transform(col("__cents"), c =>
              struct(
                distance(col(vecCol), c.getField("centroid")).as("d"),
                c.getField("centroid_id").as("cid")))),
            x => x.getField("cid")),
          1, spill))
      .drop("__cents")

  /** The ranked-cells column for the CORPUS-sized assignment path:
    * [[graft.functions.NearestCellsExpr]] with the nlist-row centroid
    * table collected to driver metadata — O(nlist·dims) flat-array
    * work per row, no join, no per-row sort, no shuffle. L2, the
    * k-means bucketing metric; ties on centroid id. */
  private def nearestCells(vecCol: Column, centroids: DataFrame, spill: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val c = Hnsw.Centroids.of(centroids)
    toColumn(graft.functions.NearestCellsExpr(toExpression(vecCol), c.ids, c.vecs, spill))
  }

  /** Corpus + `cells` (array of the `spill` nearest centroid ids,
    * rank order, L2 metric — the k-means bucketing metric). */
  def rankedCells(corpus: DataFrame, vecCol: String,
      centroids: DataFrame, spill: Int): DataFrame =
    corpus.withColumn("cells", nearestCells(col(vecCol), centroids, spill))

  /** (idCol, centroid_id) nearest-centroid assignment — shuffle-free. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    corpus.select(col(idCol),
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("centroid_id"))

  /** Corpus rows with their cell assignment attached — the store
    * layout, no join (every output column is computed in place):
    *
    *  - spill = 1: `centroid_id` only (classic single-copy layout).
    *  - spill ≥ 2 (SOAR-style multi-assignment): one row per (vector,
    *    rank) with `centroid_id` = the rank's cell, `cell_rank`
    *    (1-based) and `cells` = the vector's full ranked cell list.
    *    The spare copies buy boundary recall at exactly spill× storage
    *    and candidate volume, and `cells`/`cell_rank` make probe-time
    *    DEDUP a per-row predicate: a copy survives a probe iff NONE of
    *    its better-ranked cells was probed (its own cell was — it came
    *    from the probed scan), which selects exactly one copy per
    *    vector for ANY spill — no shuffle, no distinct.
    *
    * RAW-SCAN CONTRACT: a spilled store holds `spill` rows per vector.
    * Every reader must either apply the probe dedup (the search
    * helpers and [[graft.plans.IvfProbeRule]] do) or go through
    * [[readStore]], which keeps only rank-1 copies. */
  def assignCells(corpus: DataFrame, vecCol: String,
      centroids: DataFrame, spill: Int): DataFrame = {
    require(spill >= 1 && spill <= MaxSpill,
      s"spill must be in [1, $MaxSpill] (got $spill)")
    if (spill <= 1)
      corpus.withColumn("centroid_id",
        element_at(nearestCells(col(vecCol), centroids, 1), 1))
    else
      rankedCells(corpus, vecCol, centroids, spill)
        .select(col("*"), posexplode(col("cells")).as(Seq("__rk", "centroid_id")))
        .withColumn("cell_rank", (col("__rk") + 1).cast("int"))
        .drop("__rk")
  }

  /** Spilled-store probe dedup as a per-row predicate: with `probed`
    * the set of probed cells (array column), a copy survives iff no
    * cell ranked BEFORE its own was probed — i.e. its cell is the
    * first probed entry of the vector's ranked list, so exactly one
    * copy per vector survives, for any spill. Null rank (rows appended
    * by a spill-1 [[streamAssign]] into a spilled store) counts as
    * rank 1. */
  private def spillSurvives(probed: Column): Column =
    col("cell_rank").isNull ||
      !exists(slice(col("cells"), lit(1), col("cell_rank") - lit(1)),
        c => array_contains(probed, c))

  /** (centroid_id, centroid) frame after `iters` Lloyd rounds. Each
    * round: shuffle-free assignment ([[rankedCells]]), then ONE
    * map-side-combined aggregation for the means; the round's nlist
    * output rows are materialized (lineage cut) before the next. */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int,
      mat: Materializer = Materializer.local(),
      quantizeCentroid: Option[Column => Column] = None): DataFrame = {
    // Lloyd input hygiene (r10): a single-file input scans as ONE
    // partition, serializing the per-row assignment stage on a
    // many-core box (measured 24 s/iteration at the 10× fixture while
    // 31 cores idled). Repartition UP to the session parallelism when
    // the plan is narrower — a real multi-split corpus is untouched —
    // and materialize once, since every iteration re-reads it.
    val sc = corpus.sparkSession.sparkContext
    val src0 = corpus.select(col(idCol), col(vecCol))
    val src =
      if (src0.rdd.getNumPartitions < sc.defaultParallelism)
        mat.mat(src0.repartition(sc.defaultParallelism), "lloyd-input")
      else src0 // already parallel: avoid a redundant checkpoint
    // init = the nlist smallest-id vectors. Only nlist rows survive the
    // limit, so numbering them via one global collect_list aggregate is
    // O(nlist) and avoids a partition-less global window (which funnels
    // through a single task AND logs a scale warning).
    var centroids = src
      .orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("__init_id"), asDouble(col(vecCol)).as("centroid"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("__init_id"), col("centroid")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("centroid_id", "x")))
      .select(col("centroid_id"), col("x.centroid").as("centroid"))
    var owned: DataFrame = null
    for (i <- 0 until iters) {
      val next = mat.mat(
        src
          // the cell is computed once per ROW, below the explode: a
          // non-generator expression selected beside posexplode is
          // evaluated above the Generate, once per vector ELEMENT
          .select(element_at(nearestCells(col(vecCol), centroids, 1), 1)
              .as("centroid_id"), col(vecCol))
          .select(col("centroid_id"),
            posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
          .groupBy(col("centroid_id"), col("pos"))
          // DECIMAL mean (the q_salted_agg discipline): the decimal sum
          // is exact and associative, so the centroid is independent of
          // partition count — which the repartition above now varies.
          // One double cast after the division; quantizer quality is
          // unaffected, determinism is load-bearing.
          .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 18)))
            / count(lit(1))).cast("double").as("m"))
          .groupBy(col("centroid_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("centroid_id"),
            // quantized-centroid hook (r13, the bit-IVF k-majority
            // round): rounding INSIDE each Lloyd round keeps the next
            // assignment's centroids in the element domain (bit
            // vectors stay bit vectors), pgvector's bit-kmeans shape
            quantizeCentroid.foldLeft(
              transform(col("pm"), x => x.getField("m")))(
              (c, q) => q(c)).as("centroid")),
        s"lloyd-$i")
      if (owned != null) mat.release(owned) // next is materialized; prev blocks free
      owned = next
      centroids = next
    }
    val result = if (iters <= 0) mat.mat(centroids, "lloyd-init") else centroids
    mat.release(src)
    result
  }

  /** Corpus + cell assignment (+ `cells`/`cell_rank` when spill > 1),
    * ready to write partitioned by cell ([[assignCells]] documents the
    * layout and the raw-scan contract). */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2, trainFraction: Double = 0.25,
      mat: Materializer = Materializer.local(), spill: Int = 1): (DataFrame, DataFrame) = {
    // standard IVF recipe: train centroids on a sample (quantizer
    // quality needs ~100s of points per cell, not the corpus), then
    // assign everything; trainCentroids materializes the nlist centroid
    // rows per round — otherwise every downstream action replays the
    // Lloyd's lineage. Materializer.parquet makes the build restartable
    // (VERDICT r1 #3/#4).
    val train =
      if (trainFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, trainFraction, seed = 42)
    val centroids = trainCentroids(train, idCol, vecCol, nlist, iters, mat)
    (assignCells(corpus, vecCol, centroids, spill), centroids)
  }

  /** Bit-IVF (pgvector `ivfflat … bit_hamming_ops`, r13 — lifts the
    * former documented refusal): k-MAJORITY Lloyd over `bit(n)`
    * vectors. The identity that makes the existing kernels exact:
    * squared L2 over the 0/1 bit expansion ≡ hamming over the packed
    * words, so assignment and cell ranking reuse the L2 machinery on
    * the expansion, while [[trainCentroids]]'s quantize hook rounds
    * each round's mean to the majority bit (≥ 0.5 → 1; the tie rounds
    * up, deterministically) — centroids STAY bit vectors, so "nearest
    * cell" is genuinely nearest-by-hamming and the probe is
    * integer-deterministic end to end (fully oracle-replayable, no
    * recall gate needed on the ranking itself).
    *
    * Input is the PACKED array<bigint> column ([[BinaryQuant.pack]]
    * layout); the store keeps packed words + centroid_id only (the
    * scan-bytes reason the opclass exists). At 100 TB: same layout
    * contract as [[buildIndex]] — write with [[writePartitioned]],
    * probes prune to nprobe cell partitions. */
  def buildBitIndex(corpus: DataFrame, idCol: String, packedCol: String,
      nlist: Int, iters: Int = 2,
      mat: Materializer = Materializer.local()): (DataFrame, DataFrame) = {
    val expandSql = s"flatten(transform($packedCol, w -> " +
      "transform(sequence(0, 63), j -> cast(getbit(w, j) as double))))"
    val expanded = corpus.withColumn("__bits", expr(expandSql))
    val majority: Column => Column =
      c => transform(c, v => when(v >= 0.5, lit(1.0)).otherwise(lit(0.0)))
    val centroids = trainCentroids(expanded, idCol, "__bits", nlist, iters,
      mat, quantizeCentroid = Some(majority))
    // k-majority rounding can collapse two cells onto one bit vector
    // (and groupBy drops emptied cells) — the probe stays correct
    // (engine and oracle rank the same persisted centroids) but the
    // effective nlist silently shrinks and cell balance degrades
    // unobserved (ADVICE r13). Surface it: count distinct centroids
    // (nlist rows — driver-metadata scale) and warn on collapse.
    val counts = centroids
      .groupBy().agg(count(lit(1)).as("n"), countDistinct(col("centroid")).as("nd"))
      .head()
    val (nCells, nDistinct) = (counts.getLong(0), counts.getLong(1))
    if (nCells < nlist || nDistinct < nCells)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bit-IVF k-majority training kept $nCells/$nlist cells " +
          s"($nDistinct distinct bit centroids) — duplicate/empty cells " +
          "shrink the effective nlist; consider fewer lists or more data")
    val assigned = assignCells(expanded, "__bits", centroids, spill = 1)
      .drop("__bits")
    (assigned, centroids)
  }

  /** Persist the index partitioned by cell so probes prune partitions. */
  def writePartitioned(indexed: DataFrame, path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Duplicate-free view of a persisted store: a spilled store holds
    * `spill` rows per vector (see [[assignCells]]), and a raw
    * `spark.read.parquet` exposes them all — correct ONLY under the
    * probe dedup predicate. This is the external-consumer entry point:
    * it keeps each vector's rank-1 (primary) copy, a pure per-row
    * filter, no shuffle. Single-copy stores pass through unchanged. */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    if (!raw.columns.contains("cell_rank")) raw
    else raw.filter(col("cell_rank").isNull || col("cell_rank") === 1)
  }

  /** Per-cell bounding radius — index statistics for SOUND range-query
    * cell pruning: dist(q, member) ≥ dist(q, centroid) − radius by the
    * triangle inequality, so a cell with dist(q,c) − radius > τ
    * provably holds no point within τ of the query and can be skipped
    * without changing results (unlike nprobe knn probing, which is
    * approximate by construction). Spare copies are included — any
    * stored row of the cell must be bounded. One aggregation at build
    * time; KB-scale output. */
  def cellRadii(indexed: DataFrame, vecCol: String, centroids: DataFrame): DataFrame =
    indexed.join(broadcast(centroids), "centroid_id")
      .groupBy(col("centroid_id"))
      .agg(max(l2Distance(col(vecCol), col("centroid"))).as("radius"))

  /** Incremental index maintenance: assign a stream of new vectors to
    * the existing (frozen) centroids and append them into the
    * cell-partitioned store — the index stays fresh without retraining
    * (retrain is an offline decision when cell balance drifts).
    * Exactly-once via the streaming checkpoint.
    *
    * Every appended batch invalidates the [[graft.plans.IvfCatalog]]
    * registration for `path`: the catalog's per-cell radii were
    * computed over the corpus at register time, and an appended vector
    * may land OUTSIDE its cell's recorded bounding ball (centroids are
    * frozen; assignment distance is unbounded) — stale radii would
    * make the range rewrite's "sound" pruning silently drop that
    * vector. Invalidation falls back to exact scans until the store is
    * re-registered with fresh statistics ([[cellRadii]]); knn probing
    * through the explicit search API is unaffected. (compact() keeps
    * content identical and delete() only shrinks cells, so existing
    * radii stay valid upper bounds there — only appends invalidate.) */
  def streamAssign(
      newVectors: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
      centroids: org.apache.spark.sql.DataFrame, path: String, checkpoint: String,
      spill: Int = 1) // MUST match the store's build spill, or probes
                      // over mixed files dedup inconsistently
      : org.apache.spark.sql.streaming.StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // Appended files must share the store's schema exactly:
          // parquet schema inference reads ONE footer (mergeSchema is
          // off by default), so a spill-1 append into a spilled store
          // would let readStore/search infer a rank-less schema and
          // silently drop the dedup predicate — duplicate copies per
          // vector. Conform the batch (a spill-1 append IS its own
          // rank-1 primary) or reject the unrepresentable direction.
          val storeRanked =
            try batch.sparkSession.read.parquet(path)
              .columns.contains("cell_rank")
            catch { case _: org.apache.spark.sql.AnalysisException => spill >= 2 }
          require(spill == 1 || storeRanked,
            s"streamAssign(spill=$spill) into a single-copy store at $path: " +
              "spilled rows cannot be deduped by readers of a rank-less " +
              "schema; rebuild the store spilled or append with spill=1")
          val assigned = assignCells(batch, vecCol, centroids, spill)
          val conformed =
            if (storeRanked && spill == 1)
              assigned
                .withColumn("cells", array(col("centroid_id")))
                .withColumn("cell_rank", lit(1))
            else assigned
          conformed
            .write.mode("append").partitionBy("centroid_id").parquet(path)
          graft.plans.IvfCatalog.invalidate(path)
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Keep a cell-clustered [[graft.sources.GraftTable]] INDEX in sync
    * with a MUTATING base table by consuming the base's change-data
    * feed ([[graft.sources.GraftTable.changes]]) — the lakehouse
    * answer to "the corpus got corrections; is the ANN index stale?".
    * Cost ∝ churn, never the corpus:
    *
    *  - feed deletes propagate as a stats-pruned copy-on-write
    *    [[graft.sources.GraftTable.deleteKeys]] on the index — only
    *    index files holding a deleted id are rewritten, the rest
    *    carry by reference;
    *  - feed inserts are cell-assigned locally (broadcast centroids,
    *    [[assignCells]] — shuffle-free) and appended as ONE atomic
    *    commit, range-clustered on `centroid_id` so the new files'
    *    committed [min,max] stats stay selective for the probe rule's
    *    file skipping ([[graft.plans.IvfProbeRule]] re-reads the log
    *    at probe time, so the appended files prune via their own
    *    commits with no re-registration).
    *
    * Deletes apply BEFORE inserts: an update surfaces in the feed as
    * its delete+insert pair under the same id — the reverse order
    * would delete the freshly appended replacement. Single-copy
    * (spill=1) layout, matching the GraftTable store contract.
    * Repeated appends loosen per-file cell locality over time;
    * [[graft.sources.GraftTable.cluster]] restores it, the same
    * OPTIMIZE discipline every log-structured table needs. Returns
    * (deleted-key count applied, inserted-row count applied). */
  def syncFromChanges(index: graft.sources.GraftTable, changes: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame,
      appendFiles: Int = 4): (Long, Long) = {
    val feed = changes.persist()
    try {
      val del = feed.filter(col("_change_type") === "delete")
        .select(col(idCol))
      val ins = feed.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val nDel = del.count()
      if (nDel > 0) index.deleteKeys(del, Seq(idCol))
      val nIns = ins.count()
      if (nIns > 0) {
        val assigned = assignCells(ins, vecCol, centroids, spill = 1)
          .select(index.schema.fieldNames.toSeq.map(col): _*)
        index.append(
          assigned.repartitionByRange(appendFiles, col("centroid_id"))
            .sortWithinPartitions("centroid_id"))
      }
      (nDel, nIns)
    } finally { feed.unpersist(); () }
  }

  /** Batch ANN: many query vectors at once against the cell-assigned
    * corpus — the scale path where even one corpus scan per query is
    * too much.
    *
    * Shape: each query ranks the broadcast centroids LOCALLY
    * ([[rankedWith]] — no window even on the query side) and keeps its
    * nprobe cells; the candidate set is then the CELL-BUCKET JOIN of
    * (query, cell) pairs with the corpus on `centroid_id`, never a
    * full cross. Candidate volume is queries × nprobe × (N/nlist)
    * versus the brute-force queries × N — an nlist/nprobe reduction —
    * and with a store written `partitionBy("centroid_id")` the corpus
    * side is already co-located on the join key. Per-query exact
    * top-k within the candidates runs through the bounded
    * [[graft.functions.TopKAggregate]] (map-side ≤ k rows per query
    * per partition cross the shuffle).
    *
    * Output: (qIdCol, idCol, dist) ordered by (qid, dist, id);
    * approximate with the usual IVF cell recall.
    *
    * `excludeSelf` drops candidates whose corpus id equals the query
    * id — ONLY meaningful when queries and corpus share an id space
    * (corpus-vs-itself dedup/nearest-neighbor graphs). Leave it false
    * for external queries: an external qid that coincidentally equals
    * a corpus id would otherwise silently lose a legitimate neighbor.
    * The comparison is null-unsafe (a NULL id on either side never
    * matches, so NULL-id rows are kept). */
  def searchBatch(
      indexed: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queries: DataFrame, qIdCol: String, qVecCol: String,
      distance: (Column, Column) => Column, k: Int, nprobe: Int,
      excludeSelf: Boolean = false): DataFrame = {
    // each probe row carries its query's FULL probed-cell list
    // (`__qcells`) so the spilled-store dedup below stays a per-row
    // predicate — no distinct, no second join
    val probes = rankedWith(
        queries.select(col(qIdCol), col(qVecCol)), qVecCol, centroids, nprobe,
        "__qcells", distance)
      .select(col(qIdCol), col(qVecCol), col("__qcells"),
        explode(col("__qcells")).as("centroid_id"))
    val joined = indexed.join(broadcast(probes), Seq("centroid_id"))
    // spilled-store dedup (one surviving copy per (query, vector)): a
    // copy survives iff none of its better-ranked cells was probed BY
    // ITS QUERY (see [[assignCells]]) — pure per-row predicate
    val candidates =
      if (!indexed.columns.contains("cell_rank")) joined
      else joined.filter(spillSurvives(col("__qcells")))
    (if (excludeSelf) candidates.filter(col(idCol) =!= col(qIdCol)) else candidates)
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAggregate.topK(
        distance(col(vecCol), col(qVecCol)), col(idCol).cast("long"), k).as("topk"))
      .select(col(qIdCol), explode(col("topk")).as("p"))
      .select(col(qIdCol), col("p.id").as(idCol), col("p.dist").as("dist"))
      .orderBy(col(qIdCol), col("dist"), col(idCol))
  }

  /** The probe's candidate set: rows of the nprobe nearest cells,
    * deduplicated for spilled stores. Factored out so composite
    * indexes (IVF-PQ: ADC-score only these candidates) reuse the
    * probe + dedup machinery.
    *
    * The cell ranking is evaluated EAGERLY (one nlist-row driver
    * job — index metadata scale) and injected as a literal
    * `centroid_id IN (...)` filter, for two load-bearing reasons:
    * (1) on a `partitionBy("centroid_id")` store the In-list prunes
    * partitions STATICALLY at planning, where the previous broadcast
    * semi-join only pruned at runtime; (2) the In conjunct is what
    * [[graft.plans.IvfProbeRule]]'s already-probed guard recognizes —
    * with the semi-join shape the rule re-injected its OWN (possibly
    * WIDER, via filteredWiden) probe on top, and the two probes'
    * dedup lists disagreed: a spilled copy could be killed by a
    * better-ranked cell the narrow probe never scanned, silently
    * dropping that vector (caught by the r9 vs_knn_filtered_iter
    * replay oracle; OracleAnnSpec pins the regression). */
  def probeCandidates(
      indexed: DataFrame, centroids: DataFrame, queryVec: DataFrame,
      qVecCol: String, distance: (Column, Column) => Column, nprobe: Int): DataFrame = {
    // rank cells with the SAME metric used for final scoring: ranking
    // by L2 when the caller searches by cosine/inner-product can probe
    // the wrong cells on unnormalized vectors (recall loss beyond the
    // normal IVF approximation)
    val probedIds: Seq[Int] = centroids
      .crossJoin(broadcast(queryVec))
      .select(col("centroid_id"), distance(col("centroid"), col(qVecCol)).as("cdist"))
      .orderBy(col("cdist"), col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id")).collect().map(_.getInt(0)).toSeq
    val scanned = indexed.filter(col("centroid_id").isin(probedIds.map(c => c: Any): _*))
    // spilled-store dedup: a copy survives iff none of its
    // better-ranked cells was probed (see [[assignCells]]) — a pure
    // per-row predicate against the literal probed-cell list
    if (!indexed.columns.contains("cell_rank")) scanned
    else scanned.filter(spillSurvives(typedLit(probedIds)))
  }

  /** Probe search: scan only the nprobe cells nearest to the query. */
  def search(
      indexed: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryVec: DataFrame, qVecCol: String,
      distance: (Column, Column) => Column, k: Int, nprobe: Int): DataFrame =
    probeCandidates(indexed, centroids, queryVec, qVecCol, distance, nprobe)
      .crossJoin(broadcast(queryVec))
      .select(col(idCol), distance(col(vecCol), col(qVecCol)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** Iterative filtered probe search — pgvector ≥0.8's "iterative
    * index scans", the fix for the filtered-ANN failure mode: a fixed
    * nprobe returns fewer than k rows when the predicate is selective
    * (the shortlist dies in the filter), while sizing nprobe for the
    * worst filter makes every easy query scan nlist cells. Here the
    * probe width ADAPTS: start at `nprobe0`, check whether the probed
    * cells hold k predicate-passing rows (a limit(k) count over the
    * partition-pruned, filter-pushed scan — cheap), and double until
    * satisfied or `maxProbe`. Geometric doubling means the widening
    * phase re-scans at most 2× the final width's cells and issues at
    * most log₂(maxProbe/nprobe0) driver-bounded jobs; at 100 TB the
    * cost tracks the filter's selectivity instead of worst-casing to
    * a full scan. Returns (top-k plan at the chosen width, width). */
  def searchFilteredIterative(
      indexed: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryVec: DataFrame, qVecCol: String,
      distance: (Column, Column) => Column, k: Int, pred: Column,
      nprobe0: Int = 4, maxProbe: Int = 64): (DataFrame, Int) = {
    // Rank the maxProbe nearest cells ONCE (driver-side ints; prefixes
    // of this list are exactly probeCandidates' cell sets at each
    // width — same metric, same (cdist, centroid_id) tie-break), then
    // count survivors INCREMENTALLY: each widening step scans only the
    // NEW cells, so the counting passes read each cell once across the
    // whole loop instead of re-reading the full prefix per step
    // (VERDICT r7 note: geometric re-scan cost 2× final width; now 1×).
    val rankedCells: Array[Int] = centroids
      .crossJoin(broadcast(queryVec))
      .select(col("centroid_id"), distance(col("centroid"), col(qVecCol)).as("cdist"))
      .orderBy(col("cdist"), col("centroid_id"))
      .limit(maxProbe)
      .select(col("centroid_id")).collect().map(_.getInt(0))
    val cap = math.min(maxProbe, rankedCells.length)
    val spilled = indexed.columns.contains("cell_rank")
    var prev = 0          // cells already counted
    var p = math.min(nprobe0, cap)
    var survivors = 0L
    var done = false
    while (!done) {
      val newCells = rankedCells.slice(prev, p).toSeq
      val slice = indexed
        .filter(col("centroid_id").isin(newCells.map(c => c: Any): _*))
        .filter(pred)
      // Exactly-once counting on a spilled store: a vector counts in
      // the step its FIRST probed copy appears (no copy of it in the
      // previous prefix), via the copy that survives the cumulative
      // dedup predicate (best-ranked probed copy — dedups within the
      // step too). A vector counted earlier via a lower-ranked copy is
      // NOT recounted when a better cell enters: its new copy fails
      // the no-copy-in-prev test. Copies of one vector agree on every
      // data column, so `pred` cannot split a vector across steps.
      val counted =
        if (!spilled) slice
        else slice
          .filter(spillSurvives(typedLit(rankedCells.take(p).toSeq)))
          .filter(!arrays_overlap(
            coalesce(col("cells"), array()),
            typedLit(rankedCells.take(prev).toSeq)))
      survivors += counted.count()
      prev = p
      if (survivors >= k || p >= cap) done = true
      else p = math.min(p * 2, cap)
    }
    val result =
      probeCandidates(indexed, centroids, queryVec, qVecCol, distance, p)
        .filter(pred)
        .crossJoin(broadcast(queryVec))
        .select(col(idCol), distance(col(vecCol), col(qVecCol)).as("dist"))
        .orderBy(col("dist"), col(idCol))
        .limit(k)
    (result, p)
  }
}
