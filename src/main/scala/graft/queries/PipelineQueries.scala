package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import graft.QueryDef.rebuild
import graft.functions.TextFunctions._
import graft.pipeline.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest-pipeline inventory (SURVEY.md §2): the reference's chunker,
  * embedder, and status listings as oracle-checked queries.
  */
object PipelineQueries {

  private val MaxLen = 120
  private val Lookback = 30

  // -------------------------------------------------------------- chunk
  // The oracled query splits on space ONLY, matching chunkSql exactly
  // (a full-punctuation Spark side vs a space-only oracle would
  // silently diverge if the corpus ever gained punctuation). The full
  // reference set ".:;?! " is exercised by IngestSpec and the
  // ScalaCheck chunker properties instead.
  private def chunkQ(s: SparkSession, d: String): DataFrame =
    Ingest.chunk(Tables.documents(s, d), "doc_id", "text", MaxLen, Lookback, " ")
      .select(col("doc_id"), col("chunk_idx"), col("chunk"), col("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkSql: String = {
    val start = MaxLen - Lookback
    // window = 0-based chars [start+1 .. maxLen] = substr(rem, start+2, lookback)
    val win = s"substr(rem, ${start + 2}, $Lookback)"
    s"""
    WITH RECURSIVE parts AS (
      SELECT doc_id, ${Ingest.normalizeSql("text")} AS rem,
             0 AS idx, CAST(NULL AS VARCHAR) AS chunk
      FROM documents
      UNION ALL
      SELECT doc_id, substr(rem, sp + 1), idx + 1, substr(rem, 1, sp)
      FROM (
        SELECT doc_id, rem, idx,
          CASE WHEN length(rem) > $MaxLen THEN (
            CASE WHEN strpos(reverse($win), ' ') > 0
                 THEN $start + ($Lookback - strpos(reverse($win), ' ') + 1)
                 ELSE $start END)
          ELSE length(rem) END AS sp
        FROM parts
        WHERE length(rem) > 0))
    SELECT doc_id, CAST(idx - 1 AS BIGINT) AS chunk_idx, chunk,
           CAST(length(chunk) AS BIGINT) AS chunk_len
    FROM parts
    WHERE chunk IS NOT NULL
    ORDER BY doc_id, chunk_idx"""
  }

  // --------------------------------------------------------- chunk by lang
  /** Language-aware chunking (per-row parameter selection): zh gets
    * half the character budget — CJK codepoints carry roughly 2× the
    * information, so a fixed-token embedding window fills at half the
    * characters. Split semantics are the reference's unchanged; the
    * oracle's recursive CTE carries (maxLen, lookback) as per-row
    * columns through the recursion. */
  private val ZhMaxLen = 60
  private val ZhLookback = 15

  private def chunkLangQ(s: SparkSession, d: String): DataFrame =
    Ingest.chunkByLang(Tables.documents(s, d), "doc_id", "text", "lang",
        Map("zh" -> (ZhMaxLen, ZhLookback)), (MaxLen, Lookback), " ")
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"),
        col("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkLangSql: String = {
    // 0-based window [ml-lb+1 .. ml] = 1-based substr(rem, ml-lb+2, lb)
    val win = "substr(rem, ml - lb + 2, lb)"
    s"""
    WITH RECURSIVE parts AS (
      SELECT doc_id, lang, ${Ingest.normalizeSql("text")} AS rem,
             CASE WHEN lang = 'zh' THEN $ZhMaxLen ELSE $MaxLen END AS ml,
             CASE WHEN lang = 'zh' THEN $ZhLookback ELSE $Lookback END AS lb,
             0 AS idx, CAST(NULL AS VARCHAR) AS chunk
      FROM documents
      UNION ALL
      SELECT doc_id, lang, substr(rem, sp + 1), ml, lb, idx + 1,
             substr(rem, 1, sp)
      FROM (
        SELECT doc_id, lang, rem, ml, lb, idx,
          CASE WHEN length(rem) > ml THEN (
            CASE WHEN strpos(reverse($win), ' ') > 0
                 THEN (ml - lb) + (lb - strpos(reverse($win), ' ') + 1)
                 ELSE ml - lb END)
          ELSE length(rem) END AS sp
        FROM parts
        WHERE length(rem) > 0))
    SELECT doc_id, lang, CAST(idx - 1 AS BIGINT) AS chunk_idx, chunk,
           CAST(length(chunk) AS BIGINT) AS chunk_len
    FROM parts
    WHERE chunk IS NOT NULL
    ORDER BY doc_id, chunk_idx"""
  }

  // -------------------------------------------------------------- embed
  /** Feature-hashing embedding in relational form: (doc_id, dim,
    * weight) with L2 normalization — explode + count + window, all
    * map-side-combinable. */
  private def embedQ(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
    // repartition the narrow (doc_id, text) rows up front (r12): a
    // single-file fixture ran the explode+hash map stage on one core;
    // hash partitioning on doc_id also SATISFIES the groupBy's
    // (doc_id, dim) clustering and the window's doc_id clustering
    // (subset-key rule), so both downstream exchanges are elided —
    // one text exchange buys a parallel map stage AND two fewer
    // shuffles (sf1.0: 4.4 → see BENCH_NOTES r12)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), (hash64(col("w")) % 64).as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("n"))
      .withColumn("weight",
        col("n").cast("double") / sqrt(sum(col("n") * col("n")).over(w).cast("double")))
      .select(col("doc_id"), col("dim"), col("weight"))
      .orderBy(col("doc_id"), col("dim"))
  }

  private val embedSql: String = s"""
    WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    c AS (SELECT doc_id, ${hash64Sql("w")} % 64 AS dim, count(*) AS n
          FROM tok GROUP BY 1, 2)
    SELECT doc_id, dim,
           CAST(n AS DOUBLE) / sqrt(CAST(sum(n * n) OVER (PARTITION BY doc_id) AS DOUBLE)) AS weight
    FROM c
    ORDER BY doc_id, dim"""

  // ----------------------------------------------------- status listings
  // Reference listing queries (CosmosDBUtil.java:44-47):
  //   SELECT * FROM c WHERE c.status = 'COMPLETED' ORDER BY c.fileName ASC, c.pageNumber ASC
  //   SELECT * FROM c WHERE c.status != 'COMPLETED' ...
  // source plays fileName, doc_id plays pageNumber.
  private def statusBase(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("source").as("filename"),
      col("doc_id"),
      Ingest.statusOf(col("text")).as("status"),
      col("n_chars"))

  /** The listings read a LIVE GraftTable snapshot, not the fixture
    * directly: the reference's status registry is a mutating store
    * (a row per chunk, deleted + re-inserted when a document is
    * re-uploaded — CosmosDBUtil.java:44-47 reads whatever is live),
    * so the ACID read path (log replay, snapshot resolution, pruned
    * file listing) sits ON the hash-compared oracle gate. The build
    * exercises the mutation protocol, not just create: create → COW
    * DELETE of one document's rows → same-content re-append — the
    * v3 snapshot is multiset-identical to the relational oracle, but
    * only a reader that resolves the remove/add history correctly
    * reproduces it. */
  private val RegistryTag = "registry_v1"

  private[graft] def ensureRegistry(s: SparkSession, d: String): String = {
    val base = Sidecar.dir(RegistryTag, d)
    val tablePath = new java.io.File(base, "table").toString
    Sidecar.built(base) { _ =>
      val rows = statusBase(s, d)
      val t = graft.sources.GraftTable.create(s, tablePath,
        rows.repartition(8), statsCols = Seq("filename", "doc_id"))
      val reupload = rows.orderBy(col("filename"), col("doc_id"))
        .select(col("filename")).first().getString(0)
      t.delete(col("filename") === lit(reupload))
      t.append(rows.filter(col("filename") === lit(reupload)))
    }
    tablePath
  }

  private def readListing(s: SparkSession, path: String, completed: Boolean): DataFrame = {
    val snap = graft.sources.GraftTable.open(s, path).read()
    val pred = if (completed) col("status") === "COMPLETED"
               else col("status") =!= "COMPLETED"
    snap.filter(pred).orderBy(col("filename"), col("doc_id"))
  }

  private def registered(s: SparkSession, d: String): DataFrame =
    readListing(s, ensureRegistry(s, d), completed = true)

  private def failed(s: SparkSession, d: String): DataFrame =
    readListing(s, ensureRegistry(s, d), completed = false)

  private def listSql(pred: String): String = s"""
    WITH st AS (SELECT source AS filename, doc_id,
                       ${Ingest.statusOfSql("text")} AS status, n_chars
                FROM documents)
    SELECT filename, doc_id, status, n_chars
    FROM st WHERE status $pred 'COMPLETED'
    ORDER BY filename, doc_id"""

  // ----------------------------------------------------- PDF ingestion
  /** Page size for synthesized PDFs. Both engines slice by the same
    * unit (ASCII corpus: Spark UTF-16 units == DuckDB codepoints). */
  private val PdfPageChars = 200

  /** Real binary PDFs (Flate-compressed content streams) synthesized
    * in-executor from the corpus text, then parsed back by the real
    * extraction path ([[graft.pipeline.Pdf.extractPages]]) — the
    * reference's per-page PDF extraction (Function.java:92-135) as an
    * oracle-checked round trip: the oracle recomputes the expected
    * pagination directly from the text, so any writer/parser defect
    * (escaping, Flate, xref, text operators) breaks the hash match. */
  private val mkPdf = graft.pipeline.PdfIngest.syntheticPdf(PdfPageChars)
  private val mkEncPdf = graft.pipeline.PdfIngest.syntheticEncryptedPdf(PdfPageChars)
  private val mkModPdf = graft.pipeline.PdfIngest.syntheticModernPdf(PdfPageChars)

  /** Synthesized PDFs persisted once per sfDir (deterministic writer →
    * same bytes every run). The reference ingests PDFs that already
    * exist in blob storage, so fixture synthesis (write + deflate per
    * document) is corpus-preparation, not pipeline work — both ingest
    * queries read the cached binaries and the timed path is exactly
    * the reference's: stored blob → parse → extract. */
  // store tags carry a generator version + the page-size constant:
  // changing either must invalidate fixtures, or Spark would parse
  // stale bytes while the oracle recomputes from current text
  // (breaking the round-trip property the docstring promises).
  private val PdfBlobsTag = s"pdfblobs_v2_$PdfPageChars"
  private val EncPdfBlobsTag = s"pdfblobs_enc_v2_$PdfPageChars"
  private val ModPdfBlobsTag = s"pdfblobs_mod_v2_$PdfPageChars"

  private def ensureBlobs(s: SparkSession, d: String, tag: String,
      content: org.apache.spark.sql.Column): String =
    Sidecar.built(Sidecar.dir(tag, d)) { dir =>
      // repartition-up (r10, the Lloyd-fix discipline): a single-file
      // documents fixture scans as ONE partition, which would (a)
      // synthesize the blobs single-threaded and (b) leave ONE blob
      // file, serializing every downstream parse probe on a 32-core
      // box (measured: the 10× encrypted-parse probe at 59 s with 31
      // cores idle). Real blob storage is many objects — many splits.
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("source"), content.as("content"))
        .write.mode("overwrite").parquet(dir)
    }

  private def ensurePdfBlobs(s: SparkSession, d: String): String =
    ensureBlobs(s, d, PdfBlobsTag, mkPdf(col("text")))

  private def ensureEncPdfBlobs(s: SparkSession, d: String): String =
    ensureBlobs(s, d, EncPdfBlobsTag, mkEncPdf(col("doc_id"), col("text")))

  private def pdfPagesQ(s: SparkSession, d: String): DataFrame = {
    val pdfs = s.read.parquet(ensurePdfBlobs(s, d))
    graft.pipeline.PdfIngest.pages(pdfs, carry = Seq("doc_id"))
      .select(col("doc_id"), col("page_number"), col("page_text"))
      .orderBy(col("doc_id"), col("page_number"))
  }

  /** ENCRYPTED binary PDFs (half RC4-128, half AES-128/AESV2, standard
    * security handler) through the same parse path — key derivation +
    * per-object decryption happen inside extractPages, and the oracle
    * is the SAME pagination SQL as ingest_pdf_pages: proof that
    * decryption is lossless, not merely non-crashing. */
  private def pdfEncQ(s: SparkSession, d: String): DataFrame = {
    val pdfs = s.read.parquet(ensureEncPdfBlobs(s, d))
    graft.pipeline.PdfIngest.pages(pdfs, carry = Seq("doc_id"))
      .select(col("doc_id"), col("page_number"), col("page_text"))
      .orderBy(col("doc_id"), col("page_number"))
  }

  private def ensureModPdfBlobs(s: SparkSession, d: String): String =
    ensureBlobs(s, d, ModPdfBlobsTag, mkModPdf(col("doc_id"), col("text")))

  /** The CONTEMPORARY file shape through the same parse path: xref
    * streams + object streams ([[graft.pipeline.Pdf.writeModern]]),
    * half the corpus AES-encrypted on top. Same pagination oracle as
    * ingest_pdf_pages — the ObjStm expansion, binary-xref layout and
    * in-xref-dict /Encrypt resolution are all proven lossless. */
  private def pdfModQ(s: SparkSession, d: String): DataFrame = {
    val pdfs = s.read.parquet(ensureModPdfBlobs(s, d))
    graft.pipeline.PdfIngest.pages(pdfs, carry = Seq("doc_id"))
      .select(col("doc_id"), col("page_number"), col("page_text"))
      .orderBy(col("doc_id"), col("page_number"))
  }

  // --------------------------------------- cross-page chunk stitching
  /** The reference chunks each page separately (Function.java:115-135
    * iterates pages), so a sentence straddling a page break is cut at
    * the break no matter what the look-back window finds. This variant
    * STITCHES the document back together before chunking — parse the
    * binary PDF, re-concatenate pages in page-tree order, chunk the
    * document as one text, then attribute each chunk to the page its
    * first character came from by joining chunk start offsets against
    * the real per-page offset table (general mechanism: works for
    * ragged page lengths; the oracle exploits the fixture's fixed
    * page size to recompute attribution independently). Shuffles: one
    * groupBy(doc) to stitch + one broadcast-side join per doc for
    * attribution — both keyed on doc_id, no global sort until the
    * final presentation ORDER BY. */
  private def chunkStitchQ(s: SparkSession, d: String): DataFrame = {
    val pg = graft.pipeline.PdfIngest.pages(
      s.read.parquet(ensurePdfBlobs(s, d)), carry = Seq("doc_id"))
    // ONE parse pass: the same per-doc aggregate carries both the
    // stitched text and the page START offsets (prefix sums of page
    // lengths). chunk() threads every input column through, so the
    // tiny pstarts array rides along each chunk row and attribution is
    // a per-row array scan — no second fixture scan, no join.
    val byDoc = pg
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("page_number"), col("page_text"))))
        .as("ps"))
      .select(col("doc_id"),
        array_join(transform(col("ps"), x => x("page_text")), "").as("stitched"),
        expr("aggregate(transform(ps, x -> CAST(length(x.page_text) AS BIGINT))," +
          " array(0L), (acc, l) -> concat(acc, array(element_at(acc, -1) + l)))")
          .as("poffs0"))
      // drop the trailing total: pstarts(i) = start offset of page i+1
      .select(col("doc_id"), col("stitched"),
        slice(col("poffs0"), lit(1), size(col("poffs0")) - 1).as("pstarts"))
    Ingest.chunk(byDoc, "doc_id", "stitched", MaxLen, Lookback, " ")
      .withColumn("start_off",
        sum(col("chunk_len")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("chunk_len"))
      .withColumn("start_page",
        size(filter(col("pstarts"), p => p <= col("start_off"))).cast("long"))
      .select(col("doc_id"), col("chunk_idx"), col("start_page"),
        col("chunk"), col("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val chunkStitchSql: String = {
    val start = MaxLen - Lookback
    val win = s"substr(rem, ${start + 2}, $Lookback)"
    s"""
    WITH RECURSIVE parts AS (
      SELECT doc_id, ${Ingest.normalizeSql("text")} AS rem,
             0 AS idx, CAST(NULL AS VARCHAR) AS chunk
      FROM documents
      UNION ALL
      SELECT doc_id, substr(rem, sp + 1), idx + 1, substr(rem, 1, sp)
      FROM (
        SELECT doc_id, rem, idx,
          CASE WHEN length(rem) > $MaxLen THEN (
            CASE WHEN strpos(reverse($win), ' ') > 0
                 THEN $start + ($Lookback - strpos(reverse($win), ' ') + 1)
                 ELSE $start END)
          ELSE length(rem) END AS sp
        FROM parts
        WHERE length(rem) > 0)),
    c AS (
      SELECT doc_id, CAST(idx - 1 AS BIGINT) AS chunk_idx, chunk,
             CAST(length(chunk) AS BIGINT) AS chunk_len
      FROM parts WHERE chunk IS NOT NULL),
    o AS (
      SELECT doc_id, chunk_idx, chunk, chunk_len,
             CAST(sum(chunk_len) OVER (PARTITION BY doc_id ORDER BY chunk_idx
               ROWS UNBOUNDED PRECEDING) - chunk_len AS BIGINT) AS start_off
      FROM c)
    SELECT doc_id, chunk_idx,
           CAST(start_off // $PdfPageChars + 1 AS BIGINT) AS start_page,
           chunk, chunk_len
    FROM o
    ORDER BY doc_id, chunk_idx"""
  }

  private val pdfPagesSql = s"""
    SELECT doc_id, CAST(gs AS BIGINT) AS page_number,
           substr(text, (CAST(gs AS INT) - 1) * $PdfPageChars + 1, $PdfPageChars) AS page_text
    FROM documents,
         unnest(range(1, GREATEST(CAST(ceil(length(text) / $PdfPageChars.0) AS BIGINT), 1) + 1)) AS u(gs)
    ORDER BY doc_id, page_number"""

  /** The full binary-PDF → store flow (extract → normalize → chunk →
    * store schema): maxLen 300 > page size, so each page is exactly
    * one chunk and every non-embedding store column is SQL-oracled —
    * including the reference's pagenumber semantics (true page, not
    * chunk index). */
  private def pdfStoreQ(s: SparkSession, d: String): DataFrame = {
    val pdfs = s.read.parquet(ensurePdfBlobs(s, d))
    val pg = graft.pipeline.PdfIngest.pages(pdfs, carry = Seq("doc_id", "source"))
    Ingest.toVectorStore(pg, "doc_id", "page_text", "source",
        pageCol = Some("page_number"), maxLen = 300, lookback = 30)
      .select(col("id"), col("origntext"), col("filename"),
        col("pagenumber"), col("chunk_idx"), col("status"))
      .orderBy(col("id"))
  }

  private val pdfStoreSql = s"""
    WITH pg AS (
      SELECT doc_id, source, CAST(gs AS BIGINT) AS page_number,
             substr(text, (CAST(gs AS INT) - 1) * $PdfPageChars + 1, $PdfPageChars) AS page_text
      FROM documents,
           unnest(range(1, GREATEST(CAST(ceil(length(text) / $PdfPageChars.0) AS BIGINT), 1) + 1)) AS u(gs)),
    norm AS (
      SELECT doc_id, source, page_number,
             ${Ingest.normalizeSql("page_text")} AS chunk
      FROM pg
      WHERE length(page_text) > 0)
    SELECT doc_id || '#' || page_number || '#0' AS id,
           chunk AS origntext, source AS filename,
           page_number AS pagenumber, CAST(0 AS BIGINT) AS chunk_idx,
           ${Ingest.statusOfSql("chunk")} AS status
    FROM norm
    ORDER BY id"""

  // ------------------------------------------------ status state machine
  /** Full per-document status transition log (reference state machine,
    * Function.java:185-214) — the event-sourcing view behind the
    * registered/failed listings. */
  private def statusEventsQ(s: SparkSession, d: String): DataFrame =
    Ingest.statusEvents(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"), col("seq"))

  private val statusEventsSql = s"""
    WITH st AS (SELECT doc_id, ${hash64Sql("text")} AS h,
                       ${Ingest.statusOfSql("text")} AS t
                FROM documents),
    p AS (SELECT doc_id, t, h % 3 AS r,
                 ${Ingest.StatusLenCaseSql} AS len
          FROM st)
    SELECT doc_id, CAST(seq AS BIGINT) AS seq,
           ${Ingest.StatusEventCaseSql} AS status
    FROM p, unnest(range(0, len)) AS u(seq)
    ORDER BY doc_id, seq"""

  /** Current status + retry accounting from the event log; by
    * construction the terminal row equals the [[Ingest.statusOf]]
    * snapshot that vs_registered_list / vs_failed_list use. */
  private def statusCurrentQ(s: SparkSession, d: String): DataFrame =
    Ingest.statusEvents(Tables.documents(s, d), "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("status") === "RETRY_OAI_INVOCATION", 1L).otherwise(0L)).as("n_retries"),
        max_by(col("status"), col("seq")).as("current_status"))
      .orderBy(col("doc_id"))

  private val statusCurrentSql = s"""
    WITH st AS (SELECT doc_id, ${hash64Sql("text")} AS h,
                       ${Ingest.statusOfSql("text")} AS t
                FROM documents),
    p AS (SELECT doc_id, t, h % 3 AS r,
                 ${Ingest.StatusLenCaseSql} AS len
          FROM st),
    ev AS (SELECT doc_id, CAST(seq AS BIGINT) AS seq,
                  ${Ingest.StatusEventCaseSql} AS status
           FROM p, unnest(range(0, len)) AS u(seq))
    SELECT doc_id, count(*) AS n_events,
           CAST(sum(CASE WHEN status = 'RETRY_OAI_INVOCATION' THEN 1 ELSE 0 END) AS BIGINT) AS n_retries,
           arg_max(status, seq) AS current_status
    FROM ev GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------------------ profiling
  private val ProfileCols = Seq("doc_id", "lang", "source", "n_chars")

  private def profileQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Profiler.describeExact(Tables.documents(s, d), ProfileCols)

  private val profileSql: String = ProfileCols.sorted.map { c => s"""
    SELECT '$c' AS "column", count(*) AS n_rows,
           count(*) - count($c) AS n_null,
           count(DISTINCT $c) AS n_distinct,
           CAST(min($c) AS VARCHAR) AS min_s,
           CAST(max($c) AS VARCHAR) AS max_s
    FROM documents"""
  }.mkString("", "\n    UNION ALL", "\n    ORDER BY \"column\"")

  val defs: Map[String, QueryDef] = Map(
    "profile_documents"  -> QueryDef(profileQ _, profileSql),
    "vs_chunk"           -> QueryDef(chunkQ _, chunkSql),
    "vs_chunk_lang"      -> QueryDef(chunkLangQ _, chunkLangSql),
    "vs_embed"           -> QueryDef(embedQ _, embedSql),
    "vs_registered_list" -> QueryDef(registered _, Some(listSql("=")),
      rebuild(RegistryTag)(ensureRegistry)),
    "vs_failed_list"     -> QueryDef(failed _, Some(listSql("<>")),
      rebuild(RegistryTag)(ensureRegistry)),
    "ingest_pdf_pages"   -> QueryDef(pdfPagesQ _, Some(pdfPagesSql),
      rebuild(PdfBlobsTag)(ensurePdfBlobs)),
    "ingest_pdf_encrypted" -> QueryDef(pdfEncQ _, Some(pdfPagesSql),
      rebuild(EncPdfBlobsTag)(ensureEncPdfBlobs)),
    "ingest_pdf_modern"  -> QueryDef(pdfModQ _, Some(pdfPagesSql),
      rebuild(ModPdfBlobsTag)(ensureModPdfBlobs)),
    "vs_chunk_stitch"    -> QueryDef(chunkStitchQ _, chunkStitchSql),
    "ingest_pdf_store"   -> QueryDef(pdfStoreQ _, Some(pdfStoreSql),
      rebuild(PdfBlobsTag)(ensurePdfBlobs)),
    "status_events"      -> QueryDef(statusEventsQ _, statusEventsSql),
    "status_current"     -> QueryDef(statusCurrentQ _, statusCurrentSql),
  )
}
