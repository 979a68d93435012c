package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Per-file metadata carried by the transaction log: the file's name
  * relative to the table root, its row/byte counts, and optional
  * per-column (min, max) stats for data skipping. Stats values are
  * stringified; the table schema supplies the type at prune time.
  * A column absent from `stats` (e.g. all-NULL in this file) is
  * never pruned on. */
final case class FileMeta(
    path: String, rows: Long, bytes: Long,
    stats: Map[String, (String, String)])

/** ACID table format on plain parquet — the engine's stand-in for the
  * Delta table BASELINE.json's approach names (no table-format jars
  * exist in this sandbox, so the log protocol is built from scratch;
  * design follows the openly published Delta Lake protocol shape:
  * an ordered commit log of add/remove file actions beside the data,
  * checkpoints to bound replay, optimistic concurrency on an atomic
  * log-entry create — Armbrust et al., "Delta Lake: High-Performance
  * ACID Table Storage over Cloud Object Stores", VLDB 2020; public
  * knowledge, no Delta code involved).
  *
  * Layout: `<path>/part-*.parquet` data files (immutable, uniquely
  * named) plus `<path>/_txlog/` holding one file per commit:
  *
  *  - `v<20-digit>.commit` — one action per line, a delimited
  *    URL-encoded record (this log is an internal format: atomicity
  *    and replay are the goals, JSON interop is a non-goal):
  *    `s|<schema-json>` (commit 1, and any [[addColumns]] schema
  *    evolution commit — the newest record ≤ a version is that
  *    version's schema), `a|rows|bytes|path|stats`, `r|path`.
  *  - `v<20-digit>.ckpt` — full live-file snapshot at that version
  *    (same `a` records, plus that version's `s|` schema and `t|` txn
  *    markers); snapshot and schema load read the newest ckpt ≤ v and
  *    replay only the commit tail, so replay cost is bounded by
  *    `checkpointInterval`, not table age, and commits older than the
  *    newest checkpoint are not needed to read the table.
  *
  * Commit protocol: actions are staged to a temp file and RENAMED to
  * `v<next>.commit` — rename-without-overwrite is atomic on POSIX and
  * HDFS, so exactly one writer wins each version (an object store
  * would need a CAS/manifest service in front; same documented
  * deviation as [[VectorStore.rewrite]]). Losers re-read the log and
  * retry: blind appends always retry (they conflict with nothing);
  * mutating commits (delete/overwrite/compact) re-validate that every
  * file they remove is still live and otherwise throw
  * [[java.util.ConcurrentModificationException]] — i.e. serializable
  * writes, lock-free appends.
  *
  * Readers are snapshot-isolated for free: a snapshot resolves the
  * log once to an explicit file list, and the files are immutable.
  * Time travel is the same resolution at an older version (valid
  * until [[vacuum]] drops the files it references). Every read plans
  * its scan from the log's own add records (path and byte count, over
  * a [[SnapshotFileIndex]]), the way Delta plans a snapshot from its
  * log: nothing is listed, no file is checked for existence, and no
  * Spark job runs before the scan. A version whose files were
  * vacuumed therefore fails at scan time, with Spark's error naming
  * the missing file.
  *
  * Scale shape: the log is KB-scale driver metadata (like the IVF
  * centroid table); all data movement is executor-side parquet jobs.
  * Per-commit stats come from the write itself: the write tasks count
  * rows and keep per-column min/max for each file they write, so an
  * append is one Spark job and never reads back what it wrote, let
  * alone the table. Data skipping prunes the file list on the driver
  * before the scan plan exists, the same lever that makes a 100 TB
  * table readable when the predicate touches one day of data. */
final class GraftTable private (
    spark: SparkSession,
    val path: String,
    statsCols: Seq[String],
    checkpointInterval: Int) {

  import GraftTable._

  private val root = new Path(path)
  private val logDir = new Path(root, "_txlog")
  private val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------- log IO

  /** Latest committed version, 0 if none. */
  def version: Long = listLog.lastOption.map(_._1).getOrElse(0L)

  /** (version, isCheckpoint=false) commits and ckpts, ascending. */
  private def listLog: Seq[(Long, Boolean)] = {
    if (!fs.exists(logDir)) return Nil
    fs.listStatus(logDir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".commit"))
        Some((n.stripPrefix("v").stripSuffix(".commit").toLong, false))
      else if (n.startsWith("v") && n.endsWith(".ckpt"))
        Some((n.stripPrefix("v").stripSuffix(".ckpt").toLong, true))
      else None
    }.sorted
  }

  private def readLines(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Stage content to a temp file, then claim `dest` atomically —
    * exactly one concurrent claimer can win, and any visible `dest`
    * has complete content. On a local filesystem Hadoop's rename is
    * POSIX rename(2), which silently OVERWRITES an existing dest (a
    * lost commit under contention) — the atomic no-overwrite POSIX
    * primitive is link(2), so the local path hardlinks tmp→dest
    * (fails iff dest exists, dest carries full content instantly).
    * HDFS rename is atomic and refuses an existing dest, so it is the
    * claim there. Object stores would need a CAS/manifest service —
    * same documented deviation as [[VectorStore.rewrite]]. */
  private def writeLinesAtomic(dest: Path, lines: Seq[String]): Boolean = {
    val tmp = new Path(logDir, s"_tmp_${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    finally out.close()
    val ok =
      if (fs.getScheme == "file") {
        val local = (p: Path) => java.nio.file.Paths.get(p.toUri.getPath)
        try { java.nio.file.Files.createLink(local(dest), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fs.exists(dest) && fs.rename(tmp, dest)
    fs.delete(tmp, false)
    ok
  }

  // --------------------------------------------------------- snapshots

  /** Table schema as recorded by the creating commit. */
  def schema: StructType = schemaAt(-1L)

  /** Schema as of `atVersion` (latest if -1): the newest `s|` record
    * at or below that version. Commit 1 always carries one,
    * [[addColumns]] evolution commits write another, and every
    * checkpoint repeats the schema of its version. The scan runs
    * newest-first (a checkpoint before the commit of its own version)
    * and stops at the first hit, so it opens at most
    * `checkpointInterval` + 1 log files, and a log whose commits below
    * its newest checkpoint were removed still reads. Checkpoints
    * written without the record are passed over. */
  def schemaAt(atVersion: Long = -1L): StructType = schemaIn(listLog, atVersion)

  /** Live files at `version` (latest if -1): newest checkpoint ≤ v,
    * plus the commit tail replayed over it. */
  def snapshotMetas(atVersion: Long = -1L): Seq[FileMeta] =
    metasIn(listLog, atVersion)

  /** The version `atVersion` names in `log` (its latest commit if -1). */
  private def resolve(log: Seq[(Long, Boolean)], atVersion: Long): Long = {
    require(log.nonEmpty, s"not a GraftTable: empty log at $logDir")
    if (atVersion < 0) log.filter(!_._2).map(_._1).max else atVersion
  }

  private def schemaIn(log: Seq[(Long, Boolean)], atVersion: Long): StructType = {
    val v = resolve(log, atVersion)
    log.filter(_._1 <= v).sortBy { case (cv, isC) => (-cv, !isC) }
      .iterator.flatMap { case (cv, isC) =>
        readLines(new Path(logDir, if (isC) ckptName(cv) else commitName(cv)))
          .collectFirst { case l if l.startsWith("s|") =>
            DataType.fromJson(dec(l.drop(2))).asInstanceOf[StructType]
          }
      }.nextOption().getOrElse(
        sys.error(s"no schema record at or below version $v of $path"))
  }

  private def metasIn(log: Seq[(Long, Boolean)], atVersion: Long): Seq[FileMeta] = {
    val v = resolve(log, atVersion)
    require(log.contains((v, false)), s"version $v does not exist in $logDir")
    val ckpt = log.filter { case (cv, isC) => isC && cv <= v }
      .map(_._1).sorted.lastOption
    val base = ckpt match {
      case Some(cv) =>
        readLines(new Path(logDir, ckptName(cv)))
          .filter(_.startsWith("a|")).map(parseAdd)
          .map(m => m.path -> m).to(scala.collection.mutable.LinkedHashMap)
      case None => scala.collection.mutable.LinkedHashMap.empty[String, FileMeta]
    }
    val from = ckpt.map(_ + 1).getOrElse(1L)
    (from to v).foreach { cv =>
      readLines(new Path(logDir, commitName(cv))).foreach {
        case l if l.startsWith("a|") => val m = parseAdd(l); base(m.path) = m
        case l if l.startsWith("r|") => base.remove(dec(l.drop(2)))
        case _ => () // schema record
      }
    }
    base.values.toSeq
  }

  /** Highest batch id committed by each streaming writer (the `t|`
    * txn markers), replayed the same way snapshots are — newest
    * checkpoint ≤ v, then the commit tail. Checkpoints carry the
    * watermarks forward, so idempotence survives log truncation. */
  def txnWatermarks(atVersion: Long = -1L): Map[String, Long] = {
    val log = listLog
    val v = resolve(log, atVersion)
    val ckpt = log.filter { case (cv, isC) => isC && cv <= v }
      .map(_._1).sorted.lastOption
    val marks = scala.collection.mutable.HashMap.empty[String, Long]
    def absorb(line: String): Unit =
      if (line.startsWith("t|")) {
        val Array(_, app, batch) = line.split('|')
        val b = batch.toLong
        if (marks.getOrElse(dec(app), Long.MinValue) < b) marks(dec(app)) = b
      }
    ckpt.foreach(cv => readLines(new Path(logDir, ckptName(cv))).foreach(absorb))
    (ckpt.map(_ + 1).getOrElse(1L) to v).foreach { cv =>
      readLines(new Path(logDir, commitName(cv))).foreach(absorb)
    }
    marks.toMap
  }

  /** Idempotent micro-batch append: commit `df` together with a
    * `(appId, batchId)` txn marker IN THE SAME atomic log entry; a
    * replayed batch (restart after the commit landed but before the
    * stream checkpoint acked) finds batchId ≤ watermark and becomes a
    * no-op — exactly-once streaming ingest on top of at-least-once
    * delivery, the table-format half of the contract the engine's
    * parquet sinks get from stream checkpoints alone. Returns the
    * committed version, or -1 if the batch was already in. */
  def appendBatch(df: DataFrame, appId: String, batchId: Long): Long = {
    if (txnWatermarks().getOrElse(appId, Long.MinValue) >= batchId) return -1L
    requireSchema(df)
    val adds = stageAdds(df)
    var attempts = 0
    while (attempts < 1000) {
      // re-check inside the retry loop: a concurrent replay of the same
      // batch may have won a version since the check above
      if (txnWatermarks().getOrElse(appId, Long.MinValue) >= batchId) {
        adds.foreach(m => fs.delete(new Path(root, m.path), false))
        return -1L
      }
      val v = version + 1
      if (writeCommit(v, adds, Nil, Some(appId -> batchId))) {
        maybeCheckpoint(v); return v
      }
      attempts += 1
    }
    sys.error(s"appendBatch to $path lost the commit race 1000 times")
  }

  /** Continuous ingest: every micro-batch lands as one atomic commit
    * with its txn marker ([[appendBatch]]). `appId` defaults to the
    * checkpoint path — stable across restarts, distinct per query. */
  def streamAppend(stream: DataFrame, checkpoint: String,
      appId: String = "",
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val id = if (appId.nonEmpty) appId else checkpoint
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, id, batchId); ()
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Snapshot read (time travel via `atVersion`). The file list is
    * resolved HERE, so the returned DataFrame is immune to later
    * commits — snapshot isolation by construction. One listing of the
    * log serves both the file list and the schema. */
  def read(atVersion: Long = -1L): DataFrame = {
    val log = listLog
    readFiles(metasIn(log, atVersion), schemaIn(log, atVersion))
  }

  /** Every table read: a scan planned straight from the log's add
    * records, each file's path qualified the way Spark's own listing
    * spells it, with the byte count the log recorded. */
  private def readFiles(metas: Seq[FileMeta],
      sch: StructType = null): DataFrame = {
    val files = metas.map { m =>
      val p = new Path(root, m.path).makeQualified(fs.getUri, fs.getWorkingDirectory)
      new FileStatus(m.bytes, false, 0, 0L, 0L, p)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(SnapshotFileIndex(files),
      new StructType(), asNullable(Option(sch).getOrElse(schema)), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  // ------------------------------------------------------ data skipping

  /** Every add record ever committed (commits + checkpoints), keyed
    * by file name — the stats lookup for EXTERNAL pruners (the IVF
    * probe rule) that hold SOME snapshot's resolved file list without
    * knowing its version. Files are immutable, so a name → stats
    * record is valid whichever snapshot the reader resolved; files
    * vacuumed away simply never appear in a scan, and their leftover
    * records here are harmless. Driver metadata scale: one record per
    * file ever written. */
  private[graft] def knownMetas: Map[String, FileMeta] = {
    val out = scala.collection.mutable.HashMap.empty[String, FileMeta]
    listLog.foreach { case (v, isC) =>
      val p = new Path(logDir, if (isC) ckptName(v) else commitName(v))
      readLines(p).foreach {
        case l if l.startsWith("a|") => val m = parseAdd(l); out(m.path) = m
        case _ => ()
      }
    }
    out.toMap
  }

  /** Files whose [min, max] stats may satisfy `pred` — the driver-side
    * prune that keeps a selective scan's file list proportional to the
    * matching data, not the table. Conservative: any file without a
    * verdict stays in. */
  def candidateFiles(pred: Column, atVersion: Long = -1L): Seq[FileMeta] = {
    val sch = schema
    val tree = GraftSqlBridge.foldColumn[Pred](pred)(
      (n, args) => PFn(n, args), PAttr.apply, PLit.apply, () => POpaque)
    snapshotMetas(atVersion).filter(m => mayMatch(tree, m.stats, sch))
  }

  /** Stat-pruned read: scan only [[candidateFiles]], then apply `pred`
    * exactly. Equal to `read().filter(pred)` by the conservativeness
    * of the prune. */
  def readWhere(pred: Column, atVersion: Long = -1L): DataFrame =
    readFiles(candidateFiles(pred, atVersion)).filter(pred)

  /** Metadata-only `count(*)` / `min` / `max`: answered from the
    * commit log's per-file (rows, stats) records WITHOUT scanning a
    * single data file — the classic lakehouse aggregate pushdown
    * (`SELECT count(*), min(k), max(k)` on a 100 TB table in driver
    * milliseconds). Exact because files are immutable and stats are
    * recorded at commit from the written bytes. min/max over a
    * column REFUSES (require) if any live non-empty file lacks that
    * column's stats — an untracked column or an all-NULL file makes
    * metadata min/max unsound, and a silent fallback to scanning
    * would hide a 100 TB regression. Returns one row:
    * `row_count, min_<c>, max_<c>...` typed by the table schema. */
  def statsAgg(aggCols: Seq[String] = Nil, atVersion: Long = -1L): DataFrame = {
    val sch = schema
    val metas = snapshotMetas(atVersion)
    val dataFiles = metas.filter(_.rows > 0)
    val cols = lit(metas.map(_.rows).sum).as("row_count") +:
      aggCols.flatMap { c =>
        val f = sch.fields.find(_.name == c).getOrElse(
          sys.error(s"statsAgg: no column $c in ${sch.simpleString}"))
        if (dataFiles.isEmpty)
          Seq(lit(null).cast(f.dataType).as(s"min_$c"),
            lit(null).cast(f.dataType).as(s"max_$c"))
        else {
          require(dataFiles.forall(_.stats.contains(c)),
            s"statsAgg($c) on $path: a live file carries no $c stats — " +
              "metadata min/max would be unsound; scan instead")
          val ord: Ordering[String] = f.dataType match {
            case _: StringType => Ordering.String
            case _ => Ordering.by((s: String) => BigDecimal(s))
          }
          Seq(lit(dataFiles.map(_.stats(c)._1).min(ord)).cast(f.dataType)
              .as(s"min_$c"),
            lit(dataFiles.map(_.stats(c)._2).max(ord)).cast(f.dataType)
              .as(s"max_$c"))
        }
      }
    spark.range(1).select(cols: _*)
  }

  // ------------------------------------------------------------ writes

  /** Append `df` (blind append — never conflicts, retried until its
    * rename wins a version). Returns the committed version. */
  def append(df: DataFrame): Long = {
    requireSchema(df)
    commitRetry(stageAdds(df), Nil)
  }

  /** Replace the whole table content. Serializable: fails if any
    * commit lands between the base snapshot and the log rename. */
  def overwrite(df: DataFrame): Long = {
    requireSchema(df)
    val base = snapshotMetas()
    commitOnce(stageAdds(df), base.map(_.path), version)
  }

  /** SQL DELETE via copy-on-write: rewrite ONLY the files that hold a
    * matching row (found in one pass grouped by input file), keeping
    * rows where the predicate is not TRUE (NULL keeps the row, same
    * contract as [[VectorStore.delete]]). Untouched files are carried
    * over by reference — on a 100 TB table a selective delete moves
    * the matching files' bytes, not the table. Returns the version. */
  /** Does a scanned-file URI from `input_file_name()` refer to meta
    * `m`? Resolved through qualified-URI paths rather than a string
    * suffix match: clone tables carry ABSOLUTE source paths (a
    * "/"+relative suffix test would never hit them), and the scan
    * and the filesystem print the same file with different
    * scheme/slash spellings (file:/ vs file:///). */
  private def sameFile(uri: String, m: FileMeta): Boolean =
    new java.net.URI(uri).getPath ==
      fs.makeQualified(new Path(root, m.path)).toUri.getPath

  def delete(pred: Column): Long = {
    val baseV = version
    val metas = snapshotMetas(baseV)
    val touchedUris = readFiles(metas).filter(pred <=> lit(true))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet // ≤ #files driver rows
    val touched = metas.filter(m =>
      touchedUris.exists(u => sameFile(u, m)))
    if (touched.isEmpty) return baseV
    val survivors = readFiles(touched).filter(not(pred <=> lit(true)))
    val adds = stageAdds(survivors)
    commitOnce(adds, touched.map(_.path), baseV)
  }

  /** MERGE INTO (keyed upsert) via copy-on-write — the table-format
    * operation late-arriving corrections need: every source row
    * REPLACES the live row carrying the same key, or becomes an
    * insert if none does (SQL MERGE with WHEN MATCHED THEN UPDATE
    * SET * / WHEN NOT MATCHED THEN INSERT *).
    *
    * Scale shape, in order of leverage:
    *  1. stats prune — only files whose per-key-column [min, max]
    *     range can overlap the source's key envelope can hold a
    *     match; on a key-clustered 100 TB table a one-day correction
    *     batch prunes to that day's files before anything is scanned.
    *  2. exact touch detection — one semi-join of the candidate files
    *     against the broadcast (delta-scale) source key set; files
    *     with no matching row are carried over BY REFERENCE.
    *  3. rewrite — touched files' unmatched rows plus all source
    *     rows; bytes moved ∝ matched files + delta, never the table.
    *
    * The source must be delta-scale (it is broadcast) and carry at
    * most one row per key — SQL MERGE's cardinality rule, enforced.
    * Serializable like [[delete]]. Returns the committed version. */
  def merge(source: DataFrame, keyCols: Seq[String]): Long = {
    requireSchema(source)
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val baseV = version
    val src = source.persist()
    try {
      // key envelope + cardinality rule in one delta-scale pass each
      val envAggs = count(lit(1)).as("__n") +: keyCols.flatMap(c => Seq(
        min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
      val env = src.agg(envAggs.head, envAggs.tail: _*).collect()(0)
      val nSrc = env.getAs[Long]("__n")
      if (nSrc == 0L) return baseV
      val keyset = src.select(keyCols.map(col): _*).distinct()
      require(keyset.count() == nSrc,
        s"merge source for $path has duplicate keys on (${keyCols.mkString(", ")})")
      val rangePred = keyCols.map { c =>
        col(c) >= lit(env.getAs[Any](s"__lo_$c")) &&
          col(c) <= lit(env.getAs[Any](s"__hi_$c"))
      }.reduce(_ && _)
      val cands = candidateFiles(rangePred, baseV)
      val touchedUris =
        if (cands.isEmpty) Set.empty[String]
        else readFiles(cands)
          // capture the file BEFORE the join (input_file_name is
          // per-source) — and the projection narrows the detection
          // scan to the key columns only
          .select(input_file_name().as("__f") +: keyCols.map(col): _*)
          .join(broadcast(keyset), keyCols, "left_semi")
          .select("__f").distinct()
          .collect().map(_.getString(0)).toSet // ≤ #files driver rows
      val touched = cands.filter(m =>
        touchedUris.exists(u => sameFile(u, m)))
      val ordered = schema.fieldNames.toSeq.map(col)
      val kept =
        if (touched.isEmpty) readFiles(Nil)
        else readFiles(touched).join(broadcast(keyset), keyCols, "left_anti")
      val adds = stageAdds(
        kept.select(ordered: _*).unionByName(src.select(ordered: _*)))
      commitOnce(adds, touched.map(_.path), baseV)
    } finally { src.unpersist(); () }
  }

  /** DELETE by key set via copy-on-write — [[merge]]'s WHEN MATCHED
    * THEN DELETE half, with the same scale ladder: stats-prune
    * candidate files on the key envelope, ONE broadcast semi-join
    * finds exactly the touched files, rewrite = touched files minus
    * matching rows; untouched files carried by reference. The key
    * set is delta-scale (it is broadcast) — for predicate deletes use
    * [[delete]]; this is the churn path (a change feed's deleted ids,
    * a GDPR key list) where materializing a per-key predicate on the
    * driver would not scale. Serializable like [[delete]]. Returns
    * the committed version (unchanged if nothing matched). */
  def deleteKeys(keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val baseV = version
    val ks = keys.select(keyCols.map(col): _*).distinct().persist()
    try {
      val envAggs = count(lit(1)).as("__n") +: keyCols.flatMap(c => Seq(
        min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
      val env = ks.agg(envAggs.head, envAggs.tail: _*).collect()(0)
      if (env.getAs[Long]("__n") == 0L) return baseV
      val rangePred = keyCols.map { c =>
        col(c) >= lit(env.getAs[Any](s"__lo_$c")) &&
          col(c) <= lit(env.getAs[Any](s"__hi_$c"))
      }.reduce(_ && _)
      val cands = candidateFiles(rangePred, baseV)
      val touchedUris =
        if (cands.isEmpty) Set.empty[String]
        else readFiles(cands)
          .select(input_file_name().as("__f") +: keyCols.map(col): _*)
          .join(broadcast(ks), keyCols, "left_semi")
          .select("__f").distinct()
          .collect().map(_.getString(0)).toSet // ≤ #files driver rows
      val touched = cands.filter(m =>
        touchedUris.exists(u => sameFile(u, m)))
      if (touched.isEmpty) return baseV
      val ordered = schema.fieldNames.toSeq.map(col)
      val kept = readFiles(touched).join(broadcast(ks), keyCols, "left_anti")
      commitOnce(stageAdds(kept.select(ordered: _*)), touched.map(_.path), baseV)
    } finally { ks.unpersist(); () }
  }

  /** Row-level change feed between two snapshot versions, computed
    * over ONLY the files that changed between them — never a
    * full-table diff: rows of to-only files minus rows of from-only
    * files are the net inserts, the reverse are the net deletes (an
    * update surfaces as its delete+insert pair — the change-data-feed
    * contract without per-operation row tracking). Rows a rewrite
    * carried over unchanged (delete/merge survivors, compaction
    * repacks) appear on both sides and cancel in the multiset
    * difference, so a pure [[compact]] yields an EMPTY feed. Cost ∝
    * churned bytes; valid while [[vacuum]] retains `fromVersion`. */
  def changes(fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val toV = if (toVersion < 0) version else toVersion
    require(fromVersion <= toV,
      s"changes: fromVersion $fromVersion is after toVersion $toV")
    val fromM = snapshotMetas(fromVersion)
    val toM = snapshotMetas(toV)
    val fromPaths = fromM.map(_.path).toSet
    val toPaths = toM.map(_.path).toSet
    val ins = readFiles(toM.filterNot(m => fromPaths(m.path)))
    val del = readFiles(fromM.filterNot(m => toPaths(m.path)))
    ins.exceptAll(del).withColumn("_change_type", lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn("_change_type", lit("delete")))
  }

  /** OPTIMIZE ZORDER: rewrite the table ordered by the Morton key of
    * `zCols` ([[graft.functions.ZOrderExpr]]) so per-file [min, max]
    * stats stay selective on EVERY listed column at once — a linear
    * sort makes skipping sharp on its leading column and useless on
    * the rest; bit interleaving shares the locality. Boundaries come
    * from one approxQuantile pass (driver-side, 2^bits per column —
    * quantile buckets keep skewed columns spread over all buckets);
    * the rewrite is one range shuffle + per-file sort. Content is
    * unchanged (the spec asserts multiset equality); like every
    * mutation, serializable via [[commitOnce]]. */
  def cluster(zCols: Seq[String], targetBytes: Long = 128L << 20,
      bits: Int = 12): Long = {
    require(zCols.nonEmpty, "cluster needs at least one column")
    require(targetBytes > 0, "cluster needs a positive target file size")
    val baseV = version
    val metas = snapshotMetas(baseV)
    if (metas.isEmpty) return baseV
    val df = readFiles(metas)
    val nBuckets = 1 << math.min(bits, 63 / zCols.length)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // ONE pass for every dimension's boundaries (multi-column
    // approxQuantile shares the scan) — at 100 TB the boundary probe
    // must not cost zCols full reads
    val qNames = zCols.indices.map(i => s"__zq_$i")
    val bounds = df.select(zCols.zip(qNames).map { case (c, t) =>
        col(c).cast("double").as(t) }: _*)
      .stat.approxQuantile(qNames.toArray, probs, 0.001)
    val z = graft.functions.ZOrder.zkey(
      zCols.map(c => col(c).cast("double")), bounds)
    val total = metas.map(_.bytes).sum
    val nFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val adds = stageAdds(df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
    commitOnce(adds, metas.map(_.path), baseV)
  }

  /** Mean stats-envelope overlap degree for column `c` at a snapshot:
    * the average, over data files, of how many files' [min, max]
    * ranges on `c` intersect that file's own (itself included). A
    * perfectly range-clustered layout reads 1.0 — every point
    * predicate prunes to one file; sustained streaming appends push
    * it toward the file count, because each arriving micro-batch
    * spans the whole key domain and its file envelope overlaps
    * everything. Driver-side metadata only: O(F log F) over the
    * commit log's stats, no data read. Files without parseable stats
    * on `c` count as overlapping everything (conservative — they
    * also defeat pruning). */
  def overlapDegree(c: String, atVersion: Long = -1L): Double = {
    val metas = snapshotMetas(atVersion)
    if (metas.size <= 1) return metas.size.toDouble
    val f = schema.fields.find(_.name == c).getOrElse(
      sys.error(s"overlapDegree: no column '$c' in ${schema.fieldNames.mkString(",")}"))
    def parsed(v: String): Option[Any] = GraftTable.parseStat(v, f.dataType)
    def cmp(a: Any, b: Any): Int = f.dataType match {
      case _: StringType => a.toString.compareTo(b.toString)
      case _ => a.asInstanceOf[BigDecimal].compare(b.asInstanceOf[BigDecimal])
    }
    val parsedIvs = metas.map(m => for {
      (lo, hi) <- m.stats.get(c); l <- parsed(lo); h <- parsed(hi)
    } yield (l, h))
    val ivs = parsedIvs.flatten
    val n = metas.size
    // disjoint pairs among parseable intervals: (a,b) disjoint iff
    // hi_a < lo_b or hi_b < lo_a — count via sorted-his binary search
    val his = ivs.map(_._2).sortWith(cmp(_, _) < 0).toIndexedSeq
    def hisBelow(lo: Any): Int = {
      var l = 0; var r = his.length
      while (l < r) { val m = (l + r) >>> 1
        if (cmp(his(m), lo) < 0) l = m + 1 else r = m }
      l
    }
    val disjoint = ivs.map(iv => hisBelow(iv._1).toLong).sum
    val pairs = n.toLong * (n - 1) / 2
    // `disjoint` only ever counts parseable-parseable pairs, so every
    // pair involving an opaque file is treated as intersecting
    val intersecting = pairs - disjoint
    1.0 + 2.0 * intersecting / n
  }

  /** The lakehouse maintenance loop's trigger (VERDICT r12 #8): when
    * streaming-append churn has widened the per-file stats envelopes
    * past `overlapFactor` on any of `zCols`, rewrite with
    * [[cluster]] so data skipping stays selective; below the
    * threshold it is a metadata-only no-op (None). Run it from the
    * ingest maintenance cadence the way Delta's OPTIMIZE is
    * scheduled — the decision itself never reads data. */
  def autoRecluster(zCols: Seq[String], overlapFactor: Double = 4.0,
      targetBytes: Long = 128L << 20, bits: Int = 12): Option[Long] = {
    require(zCols.nonEmpty, "autoRecluster needs at least one column")
    val metas = snapshotMetas()
    if (metas.size < 2) return None
    val worst = zCols.map(overlapDegree(_)).max
    if (worst <= overlapFactor) None
    else Some(cluster(zCols, targetBytes, bits))
  }

  /** Bin-pack small files (streaming-append debris) to ~`targetBytes`
    * without changing content. Serializable like [[delete]]. */
  def compact(targetBytes: Long = 128L << 20): Long = {
    val baseV = version
    val metas = snapshotMetas(baseV)
    val total = metas.map(_.bytes).sum
    val nFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val adds = stageAdds(readFiles(metas).repartition(nFiles))
    commitOnce(adds, metas.map(_.path), baseV)
  }

  /** Drop data files referenced by NO version in the last
    * `retainVersions` (and by no checkpoint-reachable snapshot of
    * them). Time travel older than the horizon stops working — the
    * same retention contract every log-structured table format has.
    * Returns files deleted. */
  /** ALTER TABLE ADD COLUMNS: append new NULLABLE fields to the
    * schema as a metadata-only commit (a new `s|` record; zero data
    * bytes move). Existing files are untouched — schema-on-read
    * fills the new columns with NULL for rows written before the
    * evolution, the same contract Delta/Iceberg document. Only
    * additive evolution is supported (rename/drop/retype would need
    * column-id tracking to stay unambiguous — refused by
    * construction since every new name must be fresh). Appends after
    * the evolution are validated against the widened schema; time
    * travel reads old versions with their OWN schema
    * ([[schemaAt]]). Returns the committed version. */
  def addColumns(newCols: StructType): Long = {
    val cur = schema
    val dup = newCols.fieldNames.filter(cur.fieldNames.contains)
    require(dup.isEmpty,
      s"addColumns on $path: column(s) ${dup.mkString(", ")} already exist")
    require(newCols.fields.nonEmpty, "addColumns: no columns given")
    val merged = StructType(cur.fields ++ GraftTable.asNullable(newCols).fields)
    var attempts = 0
    while (attempts < 1000) {
      val v = version + 1
      if (writeCommit(v, Nil, Nil, schemaJson = Some(merged.json))) {
        maybeCheckpoint(v); return v
      }
      attempts += 1
    }
    sys.error(s"addColumns on $path lost the commit race 1000 times")
  }

  /** RESTORE TABLE ... TO VERSION: roll the live snapshot back to
    * `toVersion`'s content as a NEW commit — history is preserved
    * (time travel still sees the rolled-back versions; contrast with
    * time travel itself, which only READS old state). Metadata-only:
    * files removed since `toVersion` are re-referenced by name and
    * files added since are dropped from the live set — zero data
    * bytes move, so restoring a 100 TB table is a driver-side log
    * operation. Requires the target's files to still exist (a vacuum
    * past `toVersion` makes it unrestorable — checked up front, file
    * by file). Serializable like [[delete]]: a concurrent commit
    * between the base snapshot and the log rename aborts the restore.
    * No-op (returns current version) if the content already matches.
    * Returns the committed version. */
  def restore(toVersion: Long): Long = {
    val baseV = version
    val target = snapshotMetas(toVersion).map(m => m.path -> m).toMap
    val current = snapshotMetas(baseV).map(m => m.path -> m).toMap
    val adds = (target.keySet -- current.keySet).toSeq.sorted.map(target)
    val removes = (current.keySet -- target.keySet).toSeq.sorted
    if (adds.isEmpty && removes.isEmpty) return baseV
    adds.foreach { m =>
      require(fs.exists(new Path(root, m.path)),
        s"restore($toVersion) on $path: file ${m.path} was vacuumed away — " +
          "that version is no longer restorable")
    }
    commitOnce(adds, removes, baseV)
  }

  /** Shallow clone (the published Delta CLONE shape): a NEW table
    * whose first commit references this snapshot's data files by
    * ABSOLUTE qualified path — zero data movement, O(files) driver
    * metadata, so cloning a 100 TB table costs the same as cloning a
    * 100 MB one. The clone is fully independent from commit 1 on:
    * appends, deletes, compaction, clustering all write under the
    * clone's own root, and copy-on-write never mutates a source file
    * (files are immutable engine-wide), so neither table can corrupt
    * the other. Stats records ride along, so data skipping works on
    * the clone unchanged. Caveat shared with Delta's documented
    * semantics: vacuum on the SOURCE can drop files a clone still
    * references (the clone's own [[vacuum]] is fs-listing-based
    * under its root and structurally cannot touch source files). */
  def cloneTo(destPath: String): GraftTable = {
    val dest = new GraftTable(spark, destPath, statsCols, checkpointInterval)
    require(!dest.fs.exists(dest.logDir) || dest.listLog.isEmpty,
      s"GraftTable already exists at $destPath")
    dest.fs.mkdirs(dest.logDir)
    val absolute = snapshotMetas().map(m =>
      m.copy(path = fs.makeQualified(new Path(root, m.path)).toString))
    val lines = s"s|${enc(schema.json)}" +: absolute.map(addLine)
    require(dest.writeLinesAtomic(new Path(dest.logDir, commitName(1L)), lines),
      s"lost the creation race for $destPath")
    dest
  }

  def vacuum(retainVersions: Int = 2): Int = {
    val v = version
    val keepFrom = math.max(1L, v - retainVersions + 1)
    val live: Set[String] =
      (keepFrom to v).flatMap(cv => snapshotMetas(cv).map(_.path)).toSet
    val onDisk = fs.listStatus(root).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    val doomed = onDisk.filterNot(live)
    doomed.foreach(n => fs.delete(new Path(root, n), false))
    doomed.size
  }

  // ----------------------------------------------------------- commit

  /** Write `df` as new uniquely-named parquet files under the table
    * root and return their add-actions, in one Spark job: the write
    * tasks count rows and keep min/max per stats column as they write
    * ([[FileStatsTracker]]), and [[StagingCommitProtocol]] names the
    * files they committed, so the add list is built with no listing
    * and no read-back. Files land in this append's own `_staging_`
    * directory and are renamed into the root once the job succeeds;
    * zero-row files are left out. Data lands BEFORE any commit
    * references it; a crash after the renames leaves unreferenced
    * files for [[vacuum]], never a torn table. The staging directory
    * is deleted whether the write succeeds or fails. */
  private def stageAdds(df: DataFrame): Seq[FileMeta] = {
    val staging = new Path(root, s"_staging_${UUID.randomUUID()}")
    try {
      val committer = new StagingCommitProtocol(staging.toString)
      val tracker = new FileStatsTracker(df.schema, statsCols.filter(df.columns.contains),
        spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
      GraftSqlBridge.writeParquet(df, staging.toString, committer, Seq(tracker))
      val metas = committer.files.flatMap { case (name, bytes) =>
        val f = tracker.files.getOrElse(name,
          sys.error(s"no write stats for staged file $name"))
        if (f.rows == 0) None else Some(FileMeta(name, f.rows, bytes, f.stats))
      }
      metas.foreach { m =>
        require(fs.rename(new Path(staging, m.path), new Path(root, m.path)),
          s"failed to promote staged file ${m.path}")
      }
      metas
    } finally { fs.delete(staging, true); () }
  }

  /** Blind-append retry loop: bump the version until our rename wins. */
  private def commitRetry(adds: Seq[FileMeta], removes: Seq[String]): Long = {
    var attempts = 0
    while (attempts < 1000) {
      val v = version + 1
      if (writeCommit(v, adds, removes)) { maybeCheckpoint(v); return v }
      attempts += 1
    }
    sys.error(s"append to $path lost the commit race 1000 times — giving up")
  }

  /** Serializable mutation: exactly one shot at `baseVersion + 1` — a
    * commit that landed after the base snapshot (even a harmless-
    * looking append, which the mutation's rewrite did not scan) makes
    * the claim fail and the mutation abort. private[graft] so the
    * spec can drive the race deterministically. */
  private[graft] def commitOnce(adds: Seq[FileMeta], removes: Seq[String],
      baseVersion: Long): Long = {
    val v = baseVersion + 1
    if (writeCommit(v, adds, removes)) { maybeCheckpoint(v); v }
    else throw new java.util.ConcurrentModificationException(
      s"$path: version $v was committed concurrently; " +
        "re-run the mutation on the new snapshot")
  }

  private def writeCommit(v: Long, adds: Seq[FileMeta],
      removes: Seq[String], txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None): Boolean = {
    val lines = schemaJson.map(j => s"s|${enc(j)}").toSeq ++
      txn.map { case (a, b) => s"t|${enc(a)}|$b" }.toSeq ++
      removes.map(p => s"r|${enc(p)}") ++ adds.map(addLine)
    writeLinesAtomic(new Path(logDir, commitName(v)), lines)
  }

  private def maybeCheckpoint(v: Long): Unit =
    if (checkpointInterval > 0 && v % checkpointInterval == 0) {
      val log = listLog
      // losing this rename (concurrent checkpointer) is harmless
      writeLinesAtomic(new Path(logDir, ckptName(v)),
        s"s|${enc(schemaIn(log, v).json)}" +:
          (txnWatermarks(v).toSeq.sorted.map { case (a, b) => s"t|${enc(a)}|$b" } ++
            metasIn(log, v).map(addLine)))
    }

  private def requireSchema(df: DataFrame): Unit = {
    val want = schema.fields.map(f => f.name -> f.dataType).toMap
    val got = df.schema.fields.map(f =>
      f.name -> GraftTable.asNullable(f.dataType)).toMap
    require(got == want,
      s"schema mismatch for $path: table has ${schema.simpleString}, " +
        s"append has ${df.schema.simpleString}")
  }
}

object GraftTable {

  /** Create a table at `path` from `df`'s content (commit 1 carries
    * the schema). `statsCols`: columns to track (min, max) per file
    * for [[GraftTable.candidateFiles]] data skipping. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String] = Nil,
      checkpointInterval: Int = 10): GraftTable = {
    val t = new GraftTable(spark, path, statsCols, checkpointInterval)
    require(!t.fs.exists(t.logDir) || t.listLog.isEmpty,
      s"GraftTable already exists at $path")
    t.fs.mkdirs(t.logDir)
    val adds = t.stageAdds(df)
    // record the schema as-nullable: parquet cannot enforce non-null and
    // file-source reads report nullable, so the recorded contract matches
    // what every reader will actually see
    val lines = s"s|${enc(asNullable(df.schema).json)}" +: adds.map(addLine)
    require(t.writeLinesAtomic(new Path(t.logDir, commitName(1L)), lines),
      s"lost the creation race for $path")
    t
  }

  /** Open an existing table. */
  def open(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil,
      checkpointInterval: Int = 10): GraftTable = {
    val t = new GraftTable(spark, path, statsCols, checkpointInterval)
    require(t.listLog.exists(!_._2), s"no GraftTable log at $path")
    t
  }

  /** Recursively mark every field/element nullable (StructType
    * .asNullable is private[spark]). */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = asNullable(a.elementType),
      containsNull = true)
    case m: MapType => m.copy(valueType = asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
  private def asNullable(s: StructType): StructType =
    asNullable(s: DataType).asInstanceOf[StructType]

  private def commitName(v: Long) = f"v$v%020d.commit"
  private def ckptName(v: Long) = f"v$v%020d.ckpt"

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = URLDecoder.decode(s, "UTF-8")

  private def addLine(m: FileMeta): String = {
    val stats = m.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"${enc(c)}=${enc(lo)},${enc(hi)}" }
      .mkString(";")
    s"a|${m.rows}|${m.bytes}|${enc(m.path)}|$stats"
  }

  private def parseAdd(line: String): FileMeta = {
    require(line.startsWith("a|"), s"expected an add record, got: $line")
    val Array(_, rows, bytes, p, stats) = line.split('|').padTo(5, "")
    val statMap = stats.split(';').filter(_.nonEmpty).map { kv =>
      val Array(c, mm) = kv.split('=')
      val Array(lo, hi) = mm.split(',').padTo(2, "")
      dec(c) -> (dec(lo), dec(hi))
    }.toMap
    FileMeta(dec(p), rows.toLong, bytes.toLong, statMap)
  }

  // ---------------------------------------------- stats interval logic

  /** The predicate's shape, folded out of the (private[sql]) Spark 4
    * ColumnNode tree by GraftSqlBridge.foldColumn. */
  private[graft] sealed trait Pred
  private[graft] final case class PFn(name: String, args: Seq[Pred]) extends Pred
  private[graft] final case class PAttr(name: String) extends Pred
  private[graft] final case class PLit(value: Any) extends Pred
  private[graft] case object POpaque extends Pred

  /** Conservative may-match of a predicate tree against one file's
    * (min, max) stats: supports and/or trees over comparison leaves
    * between a stat column and a literal (either order); any other
    * shape — or a column without stats in this file — returns true
    * (scan it). Comparisons use the table schema's type. */
  private[graft] def mayMatch(e: Pred,
      stats: Map[String, (String, String)], schema: StructType): Boolean = {

    def range(name: String): Option[(Any, Any, DataType)] =
      for {
        (lo, hi) <- stats.get(name)
        f <- schema.fields.find(_.name == name)
        l <- parseStat(lo, f.dataType)
        h <- parseStat(hi, f.dataType)
      } yield (l, h, f.dataType)

    def cmp(a: Any, b: Any, dt: DataType): Int = dt match {
      case _: StringType => a.toString.compareTo(b.toString)
      case _ => BigDecimal(a.toString).compare(BigDecimal(b.toString))
    }

    def name(n: Pred): Option[String] = n match {
      case PAttr(a) => Some(a)
      case _ => None
    }
    def litVal(n: Pred): Option[Any] = n match {
      case PLit(v) if v != null => Some(v)
      case _ => None
    }

    // leaf verdict for `colN OP litN`; `flip` when the literal is on the left
    def leaf(colN: Pred, litN: Pred,
        op: String, flip: Boolean): Boolean = {
      val o = if (!flip) op else op match {
        case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<="
        case other => other
      }
      (name(colN), litVal(litN)) match {
        case (Some(n), Some(v)) => range(n) match {
          case Some((lo, hi, dt)) => try o match {
            case "="  => cmp(v, lo, dt) >= 0 && cmp(v, hi, dt) <= 0
            case "<"  => cmp(lo, v, dt) < 0
            case "<=" => cmp(lo, v, dt) <= 0
            case ">"  => cmp(hi, v, dt) > 0
            case ">=" => cmp(hi, v, dt) >= 0
            case _    => true
          } catch { case _: NumberFormatException => true } // NaN etc.
          case None => true // no stats for this column in this file
        }
        case _ => true // not a col-vs-literal leaf
      }
    }

    e match {
      case PFn("and", Seq(l, r)) =>
        mayMatch(l, stats, schema) && mayMatch(r, stats, schema)
      case PFn("or", Seq(l, r)) =>
        mayMatch(l, stats, schema) || mayMatch(r, stats, schema)
      case PFn(op @ ("=" | "==" | "<" | "<=" | ">" | ">="), Seq(l, r)) =>
        val eq = if (op == "==") "=" else op
        if (litVal(r).isDefined) leaf(l, r, eq, flip = false)
        else if (litVal(l).isDefined) leaf(r, l, eq, flip = eq != "=")
        else true
      // `col.isin(v1, v2, …)` — the engine's OWN hot access pattern
      // (every probe rule and the serving doc fetch push literal In
      // lists): the file may match iff ANY listed value lands in its
      // [min, max] envelope. Per-element conservativeness is leaf's
      // (no stats / non-literal element → that element reads true).
      case PFn("in", colN +: vals) if vals.nonEmpty =>
        vals.exists(v => leaf(colN, v, "=", flip = false))
      case _ => true // unknown shape: never prune on it
    }
  }

  /** Parse a stringified stat back to a comparable value of `dt`;
    * None (→ no pruning) for types outside the supported set. */
  private def parseStat(s: String, dt: DataType): Option[Any] = dt match {
    case _: StringType => Some(s)
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType =>
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    // date/timestamp literals carry Catalyst-internal epoch values that
    // don't compare against string-cast stats — never prune on them
    case _ => None
  }
}
