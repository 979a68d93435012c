package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import graft.QueryDef.rebuild
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup inventory (SURVEY.md §2) over the documents / embeddings
  * tables. The Spark side uses the scalable candidate-generation
  * paths (LSH bands, simhash chunks, shingle joins, label blocking);
  * oracles verify the *result contract* with brute-force SQL.
  * MinHash-LSH recall at these thresholds is validated locally (the
  * planted near-dups sit at jaccard ≥ 0.97; with 8 bands × 4 rows the
  * per-pair miss probability is ≈ 3e-8 — note a hypothetical pair at
  * exactly the τ=0.8 threshold would miss with ≈ 1.5%, so the oracle
  * comparison leans on the generator's wide jaccard gap; simhash
  * chunking is exact by pigeonhole).
  */
object DedupQueries {
  /** Documents with the scan repartitioned UP to the session
    * parallelism (r10, the Lloyd-fix discipline): every entry here
    * fans the corpus out through a shingle/token explode — a
    * CPU-heavy narrow map that a single-file fixture would otherwise
    * run on one core. All outputs are partition-independent (integer
    * counts, min-hash, content keys); no filter sits below, so no
    * scan pushdown is lost; a multi-split corpus passes through. */
  private def docs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
    val p = s.sparkContext.defaultParallelism
    if (base.rdd.getNumPartitions < p) base.repartition(p, col("doc_id"))
    else base
  }


  private def shingleCte(n: Int, src: String = "documents"): String = s"""
    t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $src),
    shing AS (SELECT doc_id, unnest(${shinglesSql("toks", n)}) AS s FROM t),
    sh AS (SELECT DISTINCT doc_id, s FROM shing),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)"""

  private def jaccardSql(n: Int, tau: Double): String = s"""
    WITH ${shingleCte(n)}
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
    FROM shared
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= $tau
    ORDER BY doc_a, doc_b"""

  // -------------------------------------------------------------- exact
  // plain scan, NOT docs() (r12): exact dedup's map stage is ONE md5
  // per row and its keyed projection is consumed twice (groups +
  // join-back), so the repartition-up shuffled the full text TWICE to
  // parallelize near-zero work — measured +0.85 s at sf0.1 for an 8%
  // sf1.0 win; the groupBy(content_key) shuffle is narrow either way
  private def exact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val exactSql = """
    WITH keyed AS (SELECT doc_id, md5(trim(text)) AS content_key FROM documents),
    g AS (SELECT content_key, min(doc_id) AS survivor_id, count(*) AS group_size
          FROM keyed GROUP BY content_key)
    SELECT k.doc_id, g.survivor_id, g.group_size,
           k.doc_id <> g.survivor_id AS is_dup
    FROM keyed k JOIN g USING (content_key)
    ORDER BY doc_id"""

  // -------------------------------------------------------- minhash LSH
  // 32 hashes / 8 bands of 4: planted dups sit at jaccard ≥ 0.97 →
  // per-band hit (0.97)^4 = 0.885, miss (1-0.885)^8 ≈ 3e-8; halving
  // the signature halves the wide-agg codegen and compute.
  // Hot-bucket / hot-shingle caps (the 100 TB skew guards) are ON at
  // 50 — an order of magnitude above the observed maxima on this
  // corpus (max 3-gram df 25 at sf0.1, max 4-gram df 6), so they bind
  // only on pathological skew and the oracle comparison is unchanged;
  // DedupGuardSpec proves the bound on a crafted skewed corpus.
  private def minhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(docs(s, d), "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, tau = 0.8, maxBucket = 50)

  // ------------------------------------------------- incremental minhash
  /** The STREAMING-ARRIVAL dedup shape on the oracle gate (r12 —
    * previously spec-only as [[Dedup.incrementalMinhash]]): a new
    * batch (doc_id % 10 = 0 plays the arriving shard) is checked
    * against the EXISTING corpus's PERSISTED LSH bands and shingles
    * ([[ensureIncStore]], banded once) through the corpus band-key
    * Bloom prefilter — the production "index once, probe per batch"
    * path, which never re-bands the corpus. A Bloom filter has no
    * false negatives, so the prefilter changes no row
    * (IncrementalSpec). Output: (new doc_a, corpus doc_b, exact
    * jaccard ≥ τ). Same recall argument as dedup_minhash_lsh
    * (planted dups at jaccard ≥ 0.97, 8×4 bands → miss ≈ 3e-8). */
  private def incremental(s: SparkSession, d: String): DataFrame = {
    val p = ensureIncStore(s, d)
    Dedup.incrementalMinhash(
      docs(s, d).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      s.read.parquet(s"$p/bands"), s.read.parquet(s"$p/sh"),
      shingleN = 3, numHashes = 32, bands = 8, tau = 0.8,
      bandBloom = Some(loadIncBloom(p)))
  }

  /** The corpus side of [[incremental]]: shingles, LSH bands and the
    * band-key Bloom, built once per sfDir. */
  private val IncBandsTag = "incbands_v2"

  /** FINE row groups for the probe stores (r14): a probed key's read
    * granule is one row group, so the per-batch read is
    * |survivor keys| × rowGroupBytes — corpus-INDEPENDENT only if row
    * groups stay small. The default 128 MB block puts a whole store
    * file in one row group and any pushed key reads everything. Rows
    * here are narrow (3 longs / id+shingle), so 256 KB ≈ 10-30k rows
    * per group; footer metadata stays KB-scale. */
  private val IncStoreBlockBytes = 256 * 1024

  private[graft] def ensureIncStore(s: SparkSession, d: String): String =
    Sidecar.built(Sidecar.dir(IncBandsTag, d)) { p =>
      val corpus = docs(s, d).filter(col("doc_id") % 10 =!= 0)
      val corpusSh = Dedup.shingleRows(corpus, "doc_id", "text", 3)
        .persist()
      try {
        // stores CLUSTERED on their probe keys (r13): the per-batch
        // probe pushes literal key predicates on doc_id / band_key,
        // and range-clustered files + fine row groups turn those
        // into row-group point reads — per-batch cost ∝ batch
        corpusSh.repartitionByRange(32, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite")
          .option("parquet.block.size", IncStoreBlockBytes)
          .option("parquet.page.size", 64 * 1024)
          .parquet(s"$p/sh")
        val bands = Dedup.lshBands(Dedup.minhashSignatures(corpusSh, 32), 32, 8)
          .persist()
        bands.repartitionByRange(32, col("band_key"))
          .sortWithinPartitions("band_key")
          .write.mode("overwrite")
          .option("parquet.block.size", IncStoreBlockBytes)
          .option("parquet.page.size", 64 * 1024)
          .parquet(s"$p/bands")
        // corpus band-key Bloom (r14): built once here, loaded once
        // per serving process — the driver-side prefilter that
        // collapses a batch's |batch|·bands uniform keys to ~true
        // collisions before the push (Dedup.incrementalMinhash docs)
        val nKeys = math.max(1L, bands.count())
        val bf = bands.stat.bloomFilter(col("band_key"), nKeys, 0.001)
        bands.unpersist(blocking = false)
        val os = new java.io.FileOutputStream(s"$p/bloom.bin")
        try bf.writeTo(os) finally os.close()
      } finally { corpusSh.unpersist(blocking = false); () }
    }

  private[graft] def loadIncBloom(p: String): org.apache.spark.util.sketch.BloomFilter = {
    val is = new java.io.FileInputStream(s"$p/bloom.bin")
    try org.apache.spark.util.sketch.BloomFilter.readFrom(is) finally is.close()
  }

  private val incrementalSql: String = s"""
    WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
    shing AS (SELECT doc_id, unnest(${shinglesSql("toks", 3)}) AS s FROM t),
    sh AS (SELECT DISTINCT doc_id, s FROM shing),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
               FROM sh a JOIN sh b ON a.s = b.s
               WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
               GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
    FROM shared
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.8
    ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------ ngram jaccard
  // 4-gram shingles: on a small-vocabulary corpus short shingles
  // collide massively (2-grams → ~1600 distinct keys → a quadratic
  // shingle join); 4-grams keep join buckets near 1.
  //
  // CLONE-COLLAPSED since r7 (VERDICT r6 #2): pairs are emitted over
  // exact-clone representatives (one per distinct trimmed text), each
  // annotated with the clone-group sizes it stands for — a corpus
  // where every page has g exact copies emits the same pairs as a
  // clone-free one instead of g²·pairs (sf1.0 measured 71× for 10×
  // data under the old raw-pair contract). Exact-clone membership
  // itself is dedup_exact's output.
  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardCollapsed(docs(s, d), "doc_id", "text",
      shingleN = 4, tau = 0.65, maxShingleDf = 50)

  private val repsCte =
    """reps AS (SELECT trim(text) AS text, min(doc_id) AS doc_id, count(*) AS grp
              FROM documents GROUP BY trim(text))"""

  private def collapsedJaccardSql(n: Int, tau: Double): String = s"""
    WITH $repsCte,
    ${shingleCte(n, "reps").trim}
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard,
           ga.grp AS docs_a, gb.grp AS docs_b
    FROM shared
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    JOIN reps ga ON doc_a = ga.doc_id
    JOIN reps gb ON doc_b = gb.doc_id
    WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= $tau
    ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------- survivors
  /** The PRIMARY dedup contract at 100 TB (VERDICT r6 #2): per-doc
    * (survivor_id, is_dup) — output linear in corpus size, never a
    * pair set. Exact-clone collapse → rep near-dup pairs →
    * connected components → every doc inherits its rep's cluster. */
  private def survivors(s: SparkSession, d: String): DataFrame =
    Dedup.ngramSurvivors(docs(s, d), "doc_id", "text",
      shingleN = 4, tau = 0.65, maxShingleDf = 50)

  private val survivorsSql = s"""
    WITH RECURSIVE $repsCte,
    ${shingleCte(4, "reps").trim},
    pairs AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.65),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node AS a, node AS b FROM nodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS rep, min(b) AS cluster_id FROM reach GROUP BY a),
    m AS (SELECT d.doc_id, r.doc_id AS rep
          FROM documents d JOIN reps r ON trim(d.text) = r.text)
    SELECT m.doc_id,
           coalesce(c.cluster_id, m.rep) AS survivor_id,
           m.doc_id <> coalesce(c.cluster_id, m.rep) AS is_dup
    FROM m LEFT JOIN comp c ON m.rep = c.rep
    ORDER BY doc_id"""

  // ------------------------------------------------------------ simhash
  private def simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docs(s, d), "doc_id", "text", tau = 3)

  private val simhashSql = s"""
    WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    tokh AS (SELECT doc_id, ${hash64Sql("w")} AS h FROM tok),
    bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM tokh, unnest(range(0, ${Dedup.SimhashBits})) u(b)
             GROUP BY doc_id, b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
            FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY doc_a, doc_b"""

  // -------------------------------------------------- embedding near-dup
  // CLONE-COLLAPSED since r7 (VERDICT r6 #2): one representative per
  // bit-identical (embedding, label), pair output annotated with the
  // collapsed group sizes — same rationale as dedup_ngram_jaccard
  // (sf1.0 measured 33× for 10× data under the raw-pair contract).
  private def embedding(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupCollapsed(Tables.embeddings(s, d), "vec_id", "embedding",
      "label", VectorFunctions.cosineSimilarity, tau = 0.35)

  private val embeddingSql = """
    WITH reps AS (SELECT embedding, label, min(vec_id) AS vec_id, count(*) AS grp
                  FROM embeddings GROUP BY embedding, label)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos_sim,
           a.grp AS vecs_a, b.grp AS vecs_b
    FROM reps a
    JOIN reps b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35
    ORDER BY id_a, id_b"""

  // ------------------------------------------------ embedding near-dup IVF
  /** The label-free scale path for [[embedding]]: blocking key =
    * learned IVF cell (spill-2 multi-assignment) instead of the label
    * column — what a real unlabeled 100 TB corpus runs (SemDeDup).
    * Approximate by design (cell-disjoint pairs are missed) →
    * rows-only entry; recall vs exact all-pairs + hard precision are
    * gated in RecallGateSpec. Clone-collapsed since r7 like the other
    * pair contracts: pairs are over distinct-vector representatives
    * with vecs_a/vecs_b group sizes (a clone group of size g would
    * otherwise emit g²-growing cos=1.0 pairs from inside one cell —
    * measured 40.8× wall for 10× data on the replicated fixture).
    *
    * Operating point (tools/ProfileSemDedup on the isotropic
    * fixture, where every true pair sits at cos 0.35-0.45 — the
    * geometry floor): nlist 16 / spill 3 → pair recall 0.856; spill 2
    * drops to 0.59, nlist 32/spill 3 to 0.76. nlist is the √N-style
    * scale knob — it grows with corpus size to hold cell size (and so
    * per-cell pair volume) constant.
    *
    * Since r9 the blocking layout persists (build-once reps +
    * ranked-cells store) and the entry is fully HASH-ORACLED: given
    * the materialized cell assignments, the whole pipeline —
    * hot-block pruning, within-cell pairs, τ filter, pair dedup,
    * clone-size join — is deterministic SQL the oracle replays.
    * Recall/precision gates in RecallGateSpec still quantify the
    * approximation vs the exact all-pairs ground truth. */
  private val DedupIvfTag = "dedupivf_v1"

  private def ensureDedupIvfStore(s: SparkSession, d: String): String =
    Sidecar.built(Sidecar.dir(DedupIvfTag, d)) { p =>
      val reps = Tables.embeddings(s, d)
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("grp"))
      val mat = graft.operators.Materializer.local()
      val centroids = graft.operators.IvfIndex.trainCentroids(
        reps, "vec_id", "embedding", nlist = 16, iters = 2, mat)
      graft.operators.IvfIndex.rankedCells(reps, "embedding", centroids, spill = 3)
        .select(col("vec_id"), col("embedding"), col("grp"), col("cells"))
        .write.mode("overwrite").parquet(p)
      mat.releaseAll()
    }

  private def embeddingIvf(s: SparkSession, d: String): DataFrame = {
    val st = s.read.parquet(ensureDedupIvfStore(s, d))
    val blocked = st.select(col("vec_id"), col("embedding"),
      explode(col("cells")).as("cell"))
    val sizes = st.select(col("vec_id"), col("grp"))
    Dedup.embeddingNearDup(blocked, "vec_id", "embedding", "cell",
        VectorFunctions.cosineSimilarity, tau = 0.35, maxBlock = 5000)
      .dropDuplicates("id_a", "id_b")
      .join(sizes.select(col("vec_id").as("id_a"), col("grp").as("vecs_a")), "id_a")
      .join(sizes.select(col("vec_id").as("id_b"), col("grp").as("vecs_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cos_sim"), col("vecs_a"), col("vecs_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB replay of the persisted-blocking SemDeDup: hot-block
    * prune (> maxBlock rows), within-cell pairs, τ filter, pair-level
    * DISTINCT (a pair found via two shared cells has the identical
    * cos), clone sizes joined back. */
  private def embeddingIvfOracle(d: String): String = s"""
    WITH st AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, grp, cells
                FROM read_parquet('${Sidecar.dir(DedupIvfTag, d)}/*.parquet')),
    rows_ AS (SELECT vec_id, v, unnest(cells) AS cell FROM st),
    bsz AS (SELECT cell, count(*) AS n FROM rows_ GROUP BY cell),
    pruned AS (SELECT r.vec_id, r.v, r.cell
               FROM rows_ r JOIN bsz USING (cell) WHERE bsz.n <= 5000),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos_sim
      FROM pruned a JOIN pruned b USING (cell)
      WHERE a.vec_id < b.vec_id),
    flt AS (SELECT * FROM pairs WHERE cos_sim >= 0.35)
    SELECT f.id_a, f.id_b, f.cos_sim, ga.grp AS vecs_a, gb.grp AS vecs_b
    FROM flt f
    JOIN st ga ON ga.vec_id = f.id_a
    JOIN st gb ON gb.vec_id = f.id_b
    ORDER BY id_a, id_b"""

  // ------------------------------------------------------------ clusters
  /** Near-dup clusters: LSH pairs → connected components → one
    * deterministic cluster id (component-min doc id) per member. */
  private def clusters(s: SparkSession, d: String): DataFrame =
    Dedup.minhashClusters(docs(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, tau = 0.8, maxBucket = 50)
      .orderBy(col("doc_id"))

  private val clustersSql = s"""
    WITH RECURSIVE ${shingleCte(3).trim},
    pairs AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.8),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node AS a, node AS b FROM nodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS cluster_id
    FROM reach GROUP BY a ORDER BY doc_id"""

  // ------------------------------------------------------ shared spans
  /** Windowed exact-substring duplication (Lee et al. span dedup,
    * Spark-native): docs whose 15-token windows appear verbatim in
    * other docs, with the shared fraction. */
  private def spans(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpans(docs(s, d), "doc_id", "text", w = 15)
      .orderBy(col("doc_id"))

  private val spansSql: String =
    Dedup.sharedSpansSql("doc_id", "text", w = 15) + "\n    ORDER BY doc_id"

  /** def, not val: embeddingIvfOracle embeds the OracleEnv.sfDir
    * store path, resolved at dump time (the VectorQueries pattern). */
  def defs: Map[String, QueryDef] = Map(
    "dedup_spans"         -> QueryDef(spans _, spansSql),
    "dedup_clusters"      -> QueryDef(clusters _, clustersSql),
    "dedup_exact"         -> QueryDef(exact _, exactSql),
    "dedup_minhash_lsh"   -> QueryDef(minhashLsh _, jaccardSql(3, 0.8)),
    "dedup_incremental"   -> QueryDef(incremental _, Some(incrementalSql),
      rebuild(IncBandsTag)(ensureIncStore)),
    "dedup_ngram_jaccard" -> QueryDef(ngramJaccard _, collapsedJaccardSql(4, 0.65)),
    "dedup_survivors"     -> QueryDef(survivors _, survivorsSql),
    "dedup_simhash"       -> QueryDef(simhash _, simhashSql),
    "dedup_embedding"     -> QueryDef(embedding _, embeddingSql),
    "dedup_embedding_ivf" -> QueryDef(embeddingIvf _,
      embeddingIvfOracle(graft.OracleEnv.sfDir)),
  )
}
