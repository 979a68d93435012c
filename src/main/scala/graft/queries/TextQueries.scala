package graft.queries

import graft.{QueryDef, Sidecar, Tables}
import graft.QueryDef.rebuild
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis inventory (SURVEY.md §2): language ID, quality
  * scoring, token counting, document fingerprinting — each a pure
  * per-row projection (no shuffle, scales linearly; the only wide op
  * is the final presentation ORDER BY).
  */
object TextQueries {
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


  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  // ------------------------------------------------------------ lang id
  private def langId(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val scored = docs(s, d)
      .select(col("doc_id"), col("lang").as("true_lang"), toks.as("toks"))
    val withScores = langDicts.foldLeft(scored) { case (df, (l, words)) =>
      df.withColumn(s"s_$l", langScore(col("toks"), words).cast("long"))
    }
    val m = greatest(langDicts.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = langDicts.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === m, lit(l)).otherwise(acc)
    }
    // CASE chains bind first-match, so fold from the right to keep the
    // en > de > es > fr > zh tie-break order.
    withScores
      .withColumn("pred_lang", pred)
      .drop("toks")
      .orderBy(col("doc_id"))
  }

  private val langIdSql: String = {
    val scores = langDicts
      .map { case (l, w) => s"CAST(${langScoreSql("toks", w)} AS BIGINT) AS s_$l" }
      .mkString(",\n             ")
    val m = langDicts.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val chain = langDicts
      .map { case (l, _) => s"WHEN s_$l = $m THEN '$l'" }
      .mkString(" ")
    s"""
    WITH t AS (SELECT doc_id, lang AS true_lang, ${tokensSql("text")} AS toks FROM documents),
    scored AS (SELECT doc_id, true_lang,
             $scores
           FROM t)
    SELECT doc_id, true_lang, s_en, s_de, s_es, s_fr, s_zh,
           CASE $chain ELSE 'und' END AS pred_lang
    FROM scored
    ORDER BY doc_id"""
  }

  // ------------------------------------------------------------ quality
  private def quality(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val toks = col("toks")
    val nChars = length(t).cast("long")
    val nToks = size(toks).cast("long")
    val stopRatio = langScore(toks, langDicts.head._2).cast("double") / nToks
    val digitRatio = patternCount(t, "[0-9]").cast("double") / nChars
    val alphaRatio = patternCount(t, "[a-z]").cast("double") / nChars
    val avgTokLen =
      aggregate(transform(toks, x => length(x).cast("long")), lit(0L), (a, x) => a + x)
        .cast("double") / nToks
    val score =
      least(lit(1.0), nToks.cast("double") / lit(50.0)) *
        (lit(1.0) - digitRatio) *
        (lit(0.5) + least(stopRatio * lit(2.0), lit(0.5)))
    docs(s, d)
      .select(col("doc_id"), t, tokens(t).as("toks"))
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        nToks.as("n_tokens"),
        avgTokLen.as("avg_token_len"),
        stopRatio.as("stop_ratio"),
        digitRatio.as("digit_ratio"),
        alphaRatio.as("alpha_ratio"),
        score.as("quality"))
      .orderBy(col("doc_id"))
  }

  private val qualitySql: String = s"""
    WITH t AS (SELECT doc_id, text, ${tokensSql("text")} AS toks FROM documents),
    m AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) AS tok_chars,
             CAST(${langScoreSql("toks", langDicts.head._2)} AS DOUBLE) AS n_stop,
             CAST(${patternCountSql("text", "[0-9]")} AS DOUBLE) AS n_digit,
             CAST(${patternCountSql("text", "[a-z]")} AS DOUBLE) AS n_alpha
           FROM t)
    SELECT doc_id, n_chars, n_tokens,
           tok_chars / n_tokens AS avg_token_len,
           n_stop / n_tokens AS stop_ratio,
           n_digit / n_chars AS digit_ratio,
           n_alpha / n_chars AS alpha_ratio,
           least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
             * (1.0 - n_digit / n_chars)
             * (0.5 + least(n_stop / n_tokens * 2.0, 0.5)) AS quality
    FROM m
    ORDER BY doc_id"""

  // ------------------------------------------------------------- tokens
  private def tokenCounts(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    docs(s, d)
      .select(col("doc_id"), t, tokens(t).as("toks"))
      .select(
        col("doc_id"),
        length(t).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_ws_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        patternCount(t, BpePattern).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  private val tokenCountsSql: String = s"""
    WITH t AS (SELECT doc_id, text, ${tokensSql("text")} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_ws_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(${patternCountSql("text", BpePattern)} AS BIGINT) AS n_bpe_tokens
    FROM t
    ORDER BY doc_id"""

  // --------------------------------------------------------- fingerprint
  /** Whole-doc md5 fingerprint plus a shingle min-hash content
    * fingerprint (robust to reordering-free small edits). */
  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d)
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        md5(trim(col("text"))).as("fp_md5"),
        coalesce(
          array_min(transform(shingles(col("toks"), 5), sh => hash64(sh))),
          hash64(trim(col("text")))).as("fp_shingle_min"),
        size(shingles(col("toks"), 5)).cast("long").as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  private val fingerprintSql: String = s"""
    WITH t AS (SELECT doc_id, text, ${tokensSql("text")} AS toks FROM documents),
    sh AS (SELECT doc_id, text, ${shinglesSql("toks", 5)} AS shing FROM t)
    SELECT doc_id,
           md5(trim(text)) AS fp_md5,
           coalesce(list_min(list_transform(shing, s -> ${hash64Sql("s")})),
                    ${hash64Sql("trim(text)")}) AS fp_shingle_min,
           CAST(len(shing) AS BIGINT) AS n_shingles
    FROM sh
    ORDER BY doc_id"""

  // ----------------------------------------------------- n-gram frequency
  /** Corpus-level bigram frequency table (top 20) — the corpus-stats
    * pass of a data pipeline; map-side combinable count, top-k via
    * TakeOrderedAndProject. */
  private def ngramFreq(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(tokens(col("text")).as("toks"))
      .select(explode(shingles(col("toks"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val ngramFreqSql = s"""
    WITH t AS (SELECT ${tokensSql("text")} AS toks FROM documents),
    b AS (SELECT unnest(${shinglesSql("toks", 2)}) AS bigram FROM t)
    SELECT bigram, count(*) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20"""

  // ------------------------------------------------------- repetition
  /** Within-document repetition signals (the Gopher-style quality
    * rules an LLM-data pipeline filters on): duplicate-token fraction
    * and the share of the most frequent token / bigram. Pure per-row
    * work over the materialized token array — no shuffle, no cross-row
    * work; the top-count runs through the single-pass
    * [[graft.functions.ArrayMaxCount]] expression, O(tokens) per row
    * (the HOF composition it replaced was O(distinct × tokens) — a
    * 100k-token document would be a 10⁹-operation row).
    *
    * Determinism: every ratio is ONE IEEE division of two exact
    * integers, bit-identical across engines and partitionings. */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val maxCount = (xs: Column) => graft.functions.ArrayMaxCount.maxCount(xs)
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("bi", shingles(col("toks"), 2))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("dup_ratio"),
        (maxCount(col("toks")).cast("double") /
          size(col("toks")).cast("double")).as("top_token_share"),
        when(size(col("bi")) > 0,
          maxCount(col("bi")).cast("double") / size(col("bi")).cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_share"))
      .orderBy(col("doc_id"))
  }

  private val repetitionSql = s"""
    WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
    b AS (SELECT doc_id, toks, ${shinglesSql("toks", 2)} AS bi FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS dup_ratio,
           CAST(list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS top_token_share,
           CASE WHEN len(bi) > 0 THEN
             CAST(list_max(list_transform(list_distinct(bi),
                    t -> len(list_filter(bi, x -> x = t)))) AS DOUBLE)
               / CAST(len(bi) AS DOUBLE)
           ELSE 0.0 END AS top_bigram_share
    FROM b
    ORDER BY doc_id"""

  // ------------------------------------------------------------- bm25
  /** BM25 ranking of the corpus against a fixed term query — the
    * lexical half of a search engine as one aggregation pipeline:
    * explode tokens → one map-side-combined groupBy builds per-doc
    * (dl, tf per term); a one-row global aggregate (N, Σdl, df per
    * term) broadcasts back; scoring is per-row arithmetic; top-10 is
    * TakeOrderedAndProject. No global sort of the corpus, no join
    * wider than the broadcast single row — the 100 TB shape.
    *
    * Deviation from textbook BM25, documented: the idf factor is the
    * rational Robertson form (N - df + 0.5)/(df + 0.5) WITHOUT the
    * log — ln() is not bit-portable across engines (libm vs JVM), and
    * the oracle contract here is bit-exact. Monotone in df, so
    * rankings agree with log-idf whenever a single term dominates;
    * k1 = 1.2, b = 0.75 are the standard constants. */
  private val Bm25Terms = Seq("join", "vector", "scan")

  private def bm25(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val stats = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      Bm25Terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf$i")
      }: _*)
    val globalCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl")) ++
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val global = stats.agg(globalCols.head, globalCols.tail: _*)
    val dld = col("dl").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n").cast("double")
    val score = Bm25Terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = (col("n").cast("double") - df + lit(0.5)) / (df + lit(0.5))
      val denom = tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl))
      when(col(s"tf$i") > 0, tf * lit(2.2) / denom * idf).otherwise(lit(0.0))
    }.reduce(_ + _)
    stats.crossJoin(broadcast(global))
      .select(col("doc_id"), col("dl"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  private val bm25Sql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i" }
      .mkString(",\n             ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n             ")
    val termScores = Bm25Terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
           CAST(tf$i AS DOUBLE) * 2.2
             / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE)))))
             * ((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))
         ELSE 0.0 END"""
    }.mkString("(", "\n      + ", ")")
    s"""
    WITH tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
    st AS (SELECT doc_id, count(*) AS dl,
             $tfCols
           FROM tok GROUP BY doc_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl,
             $dfCols
          FROM st)
    SELECT doc_id, dl, $termScores AS score
    FROM st CROSS JOIN g
    ORDER BY score DESC, doc_id
    LIMIT 10"""
  }

  // ------------------------------------------------------------ tf-idf
  private val TfidfTopN = 3

  /** Per-document top-[[TfidfTopN]] distinguishing terms by tf·idf —
    * the keyword-extraction pass (document tagging, index-time
    * boosts). idf uses the INTEGER log₂-floor bits() contract
    * (bits(N) − bits(df) — same cross-engine portability choice as
    * text_surprisal; float log idf would not hash-match across
    * libm), so the score tf · idf_bits is an exact integer and the
    * (score desc, term asc) ranking replays bit-identically.
    *
    * Scale shape: tf is ONE map-side-combined (doc, term) aggregate;
    * df derives from it with a second term-keyed aggregate (vocab
    * rows, broadcast back — shuffle-joined on the term at web-scale
    * vocab); the per-doc rank window partitions by doc (bounded
    * groups). */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bits(x: org.apache.spark.sql.Column) =
      length(conv(x, 10, 2)).cast("long") - 1L
    val tf = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n"))
    val scored = tf
      .join(broadcast(df), "w")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        (col("tf") * (bits(col("n")) - bits(col("df")))).as("score"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("w"))))
      .filter(col("rk") <= TfidfTopN)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("w").as("term"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val tfidfSql: String = s"""
    WITH tok AS (
      SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfc AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    g AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, w,
             CAST(tf * ((length(bin(g.n)) - 1) - (length(bin(df)) - 1)) AS BIGINT) AS score
      FROM tf JOIN dfc USING (w) CROSS JOIN g),
    rk AS (
      SELECT doc_id, w, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
      FROM scored)
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, w AS term, score
    FROM rk WHERE rk <= $TfidfTopN
    ORDER BY doc_id, rk"""

  // ------------------------------------------------- unigram surprisal
  /** Unigram language-model surprisal — the LM-based quality signal
    * (Gopher/CCNet-style: low mean surprisal ≈ natural prose, high ≈
    * gibberish/boilerplate-with-rare-tokens). Per token, surprisal is
    * floor(log2 N) − floor(log2 c(w)) bits — the INTEGER log2 floor
    * computed by binary string length in both engines (Spark
    * `conv(x,10,2)`, DuckDB `bin(x)`), because transcendental ln/log2
    * are not bit-portable across libm implementations (same contract
    * choice as text_bm25's rational idf). Per doc: the exact mean.
    *
    * Scale shape: vocab counts are one map-side-combined groupBy; the
    * token→count join is broadcast here (vocab ≪ corpus) and becomes
    * a plain shuffle join keyed on the token at web-corpus vocab
    * sizes; the per-doc mean is map-side combinable. No windows, no
    * sorts before the presentation ORDER BY. */
  private def surprisal(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val cnt = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = tok.agg(count(lit(1)).as("n"))
    def bits(x: org.apache.spark.sql.Column) =
      length(conv(x, 10, 2)).cast("long") - 1L
    tok
      .join(broadcast(cnt), "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), (bits(col("n")) - bits(col("c"))).as("sbits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("sbits")).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  private val surprisalSql: String = s"""
    WITH tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    g AS (SELECT count(*) AS n FROM tok)
    SELECT doc_id, count(*) AS n_tokens,
           avg((length(bin(g.n)) - 1) - (length(bin(cnt.c)) - 1)) AS surprisal
    FROM tok JOIN cnt USING (w) CROSS JOIN g
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------- bigram LM surprisal
  /** Bigram-LM surprisal — the stronger CCNet/KenLM-shaped quality
    * signal: per adjacent pair (w₁,w₂), surprisal ≈ −log₂ p(w₂|w₁) =
    * bits(c(w₁·)) − bits(c(w₁w₂)) with the same INTEGER log₂-floor
    * contract as text_surprisal (binary string length — transcendental
    * log is not bit-portable across libm). The context count c(w₁·)
    * counts bigram starts, so every pair's conditional is well-defined
    * and ≥ its own occurrence — no unseen-event backoff needed when
    * scoring the training corpus itself.
    *
    * Scale shape: bigrams come from the shuffle-free positional
    * shingle projection; the two count tables are map-side-combined
    * groupBys; the count joins are broadcast here (bigram vocab ≪
    * corpus) and become shuffle joins keyed on the n-gram at web
    * scale; the per-doc mean is map-side combinable. */
  private def lmBigram(s: SparkSession, d: String): DataFrame = {
    // tokens projected BEFORE the shingle HOF — collapsed projections
    // re-inline split() into every element_at, the measured 8×
    // quadratic-retokenize trap (Dedup.sharedSpans comment)
    val big = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("bg"))
      .select(col("doc_id"), col("bg"),
        element_at(split(col("bg"), " "), 1).as("w1"))
    val c2 = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    def bits(x: org.apache.spark.sql.Column) =
      length(conv(x, 10, 2)).cast("long") - 1L
    big
      .join(broadcast(c2), "bg")
      .join(broadcast(c1), "w1")
      .select(col("doc_id"), (bits(col("c1")) - bits(col("c2"))).as("sbits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("sbits")).as("bigram_surprisal"))
      .orderBy(col("doc_id"))
  }

  private val lmBigramSql: String = s"""
    WITH tok AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
    big AS (SELECT doc_id, unnest(${shinglesSql("t", 2)}) AS bg FROM tok),
    bigw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM big),
    c2 AS (SELECT bg, count(*) AS c2 FROM bigw GROUP BY bg),
    c1 AS (SELECT w1, count(*) AS c1 FROM bigw GROUP BY w1)
    SELECT doc_id, count(*) AS n_bigrams,
           avg((length(bin(c1.c1)) - 1) - (length(bin(c2.c2)) - 1)) AS bigram_surprisal
    FROM bigw JOIN c2 USING (bg) JOIN c1 USING (w1)
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ---------------------------------------------- heavy-hitter tokens
  /** Approximate corpus top-k tokens via the SpaceSaving summary
    * ([[graft.functions.SketchAggregates.heavyHitters]]): ONE bounded
    * buffer per partition crosses the shuffle instead of the full
    * vocabulary — the 100 TB shape for "top domains / tokens / keys"
    * where even the map-side-combined exact groupBy ships
    * vocab-per-partition rows. Rows-only: counts can overestimate by
    * ≤ err (RecallGateSpec gates the realized error AND that the
    * exact top-10 set is recovered). */
  private def topkSketch(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(graft.functions.SketchAggregates.heavyHitters(
        col("w"), capacity = 4096, k = 20).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item").as("w"), col("x.cnt").as("cnt"), col("x.err").as("err"))
      .orderBy(col("cnt").desc, col("w"))

  /** Hash oracle (r9): SpaceSaving with support ≤ capacity NEVER
    * evicts, so counts are exact, err = 0, and the top-k selection's
    * (−cnt, item) tie-break equals ORDER BY cnt DESC, w — all
    * merge-order independent. The fixture vocabulary is 31 tokens
    * against capacity 4096, so the oracle is the exact heavy-hitter
    * table; a corpus past capacity would fail the hash loudly (and
    * lives in the RecallGateSpec bounded-error regime instead). */
  private val topkSketchSql = s"""
    WITH w AS (SELECT unnest(${tokensSql("text")}) AS w FROM documents),
    c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w)
    SELECT w, cnt, CAST(0 AS BIGINT) AS err FROM c
    ORDER BY cnt DESC, w
    LIMIT 20"""

  // ---------------------------------------------------------------- BPE
  private val BpeMerges = 20

  /** Build-once BPE artifacts per sfDir ([[graft.Sidecar.built]]):
    * the trained merge table and the final vocabulary
    * tokenization persisted as parquet, so every consumer (the train
    * listing, the corpus apply join, bench probes) reads a
    * restartable artifact instead of replaying the training rounds —
    * and the artifacts survive Bench's between-query block sweep,
    * which a localCheckpoint handoff would not. */
  private val BpeTag = "bpe_v1"

  private[graft] def ensureBpe(s: SparkSession, d: String): (String, String) = {
    val base = Sidecar.dir(BpeTag, d)
    val mergesP = new java.io.File(base, "merges").toString
    val symsP = new java.io.File(base, "syms").toString
    Sidecar.built(base) { _ =>
      val mat = graft.operators.Materializer.local()
      try {
        val (merges, syms) = graft.operators.Bpe.train(
          docs(s, d), "text", BpeMerges, mat)
        syms.write.mode("overwrite").parquet(symsP)
        s.createDataFrame(merges)
          .select(col("rank"), col("lhs"), col("rhs"), col("merged"),
            col("pairCount").as("pair_count"))
          .coalesce(1).write.mode("overwrite").parquet(mergesP)
      } finally mat.releaseAll()
    }
    (mergesP, symsP)
  }

  /** The first training round's pair-count table — the one BPE step
    * that is purely relational, so it carries the DuckDB oracle for
    * the family: corpus word counts (one map-side-combined groupBy),
    * adjacent character pairs weighted by word count, top-20. */
  private def bpePairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.pairCounts(
      graft.operators.Bpe.charSymbols(
        graft.operators.Bpe.wordCounts(docs(s, d), "text")))
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
      .limit(20)

  private val bpePairsSql = s"""
    WITH words AS (
      SELECT word, count(*) AS wc FROM (
        SELECT unnest(${graft.functions.TextFunctions.tokensSql("text")}) AS word
        FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$$')
      GROUP BY word),
    pairs AS (
      SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs, wc
      FROM words, LATERAL (
        SELECT unnest(generate_series(1, length(word) - 1)) AS i) t
      WHERE length(word) >= 2)
    SELECT lhs, rhs, CAST(sum(wc) AS BIGINT) AS pair_count
    FROM pairs GROUP BY lhs, rhs
    ORDER BY pair_count DESC, lhs, rhs LIMIT 20"""

  /** The learned merge sequence (rank order). HASH-ORACLED since r14
    * (the last `no_oracle` entry flipped): see [[bpeTrainSql]]. The
    * exact-sequence gate against the independent in-memory trainer
    * (RecallGateSpec) stays as a second, engine-internal check. */
  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val (mergesP, _) = ensureBpe(s, d)
    s.read.parquet(mergesP).orderBy("rank")
  }

  /** text_bpe_train ORACLE (r14): the greedy training loop, fully
    * re-derived from the documents table in DuckDB — no engine
    * artifact is consulted, making this a genuinely independent
    * oracle (stronger than the ANN replay tier, which trusts a
    * persisted structure).
    *
    * The standing impossibility memo said SQL recursion cannot
    * aggregate over the recursive reference — true for ONE recursion
    * carrying the whole loop. The sidestep: the merge count is a
    * FIXED constant ([[BpeMerges]]), so the loop UNROLLS into
    * BpeMerges flat blocks (the hnsw walk-replay discipline — one
    * recursive CTE per partition graph). Per round r:
    *
    *  - `pc_r`: adjacent-pair counts over round r−1's segmentation —
    *    a plain GROUP BY over a COMPLETED CTE (aggregating a finished
    *    recursion is legal; only intra-recursion aggregation is not);
    *  - `am_r`: the argmax row with the engine's exact tie-break
    *    (count DESC, lhs, rhs);
    *  - `seg_r`: the merge applied to every word as leftmost-
    *    occurrence string surgery on the space-delimited symbol
    *    string, one recursive CTE per round (the proven bpeApplySql
    *    machinery restricted to a single rank; repeated leftmost
    *    replacement ≡ the engine's greedy left-to-right fold);
    *  - `seg_rf`: each word's fixpoint row (zero remaining
    *    occurrences — unique per word since every step strictly
    *    shrinks the symbol count).
    *
    * MATERIALIZED is load-bearing on every per-round CTE: inlining
    * would re-expand the full prior-round tree per reference —
    * exponential blowup (observed as fd exhaustion at depth ~10).
    * Early stop matches the engine: an empty pc_r yields no am_r row
    * and empties every later round. Runs at vocab scale (Heaps' law)
    * — ~0.4 s at sf0.01. */
  private def bpeTrainSql: String = {
    val blocks = (1 to BpeMerges).map { r =>
      val prev = if (r == 1) "seg0" else s"seg${r - 1}f"
      s"""
    pc$r AS MATERIALIZED (
      SELECT lhs, rhs, CAST(sum(wc) AS BIGINT) AS pair_count
      FROM (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs, wc
        FROM (SELECT string_split(trim(s), ' ') AS syms, wc FROM $prev) t,
             LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) u)
      GROUP BY lhs, rhs),
    am$r AS MATERIALIZED (
      SELECT CAST($r AS INTEGER) AS rank, lhs, rhs, lhs || rhs AS merged, pair_count
      FROM pc$r ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
    seg$r AS (
      SELECT word, wc, s FROM $prev
      UNION ALL
      SELECT word, wc,
             substr(s, 1, hit - 1) || ' ' || merged || ' ' || substr(s, hit + length(pat))
      FROM (
        SELECT g.word, g.wc, g.s, a.merged,
               ' ' || a.lhs || ' ' || a.rhs || ' ' AS pat,
               strpos(g.s, ' ' || a.lhs || ' ' || a.rhs || ' ') AS hit
        FROM seg$r g, am$r a)
      WHERE hit > 0),
    seg${r}f AS MATERIALIZED (
      SELECT g.word, g.wc, g.s
      FROM seg$r g, am$r a
      WHERE strpos(g.s, ' ' || a.lhs || ' ' || a.rhs || ' ') = 0)"""
    }.mkString(",")
    s"""
    WITH RECURSIVE words AS MATERIALIZED (
      SELECT word, count(*) AS wc FROM (
        SELECT unnest(${tokensSql("text")}) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$$')
      GROUP BY word),
    seg0 AS MATERIALIZED (
      SELECT word, wc, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
      FROM words),$blocks
    SELECT rank, lhs, rhs, merged, pair_count FROM (
      ${(1 to BpeMerges).map(r => s"SELECT * FROM am$r").mkString(" UNION ALL ")})
    ORDER BY rank"""
  }

  /** Corpus tokenized under the trained vocabulary: per-doc word and
    * BPE-token counts via ONE broadcast join of the corpus words
    * against the vocab-scale tokenization (the apply path never
    * replays merges over the corpus). Rows-only, gated with the
    * trainer. */
  private def bpeApply(s: SparkSession, d: String): DataFrame = {
    val (_, symsP) = ensureBpe(s, d)
    val vocab = s.read.parquet(symsP)
      .select(col("word"), size(col("symbols")).as("n_sub"))
    docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** The apply entry's oracle (r10): GIVEN the persisted merge table
    * — the same "deterministic probe over a persisted artifact"
    * argument as the ANN replay tier — segmentation is the greedy
    * LEFT-TO-RIGHT merge fold, which DuckDB replays as a recursive
    * CTE doing leftmost single-occurrence string surgery on a
    * space-delimited symbol string until each rank stops matching
    * (one replacement per step ≡ the fold's leftmost-first order;
    * a replace-ALL would wrongly skip consecutive overlaps). Runs at
    * vocab scale (Heaps' law), then one corpus join. Training itself
    * stays exact-sequence-gated (text_bpe_train): replaying 20
    * rounds of pair-count argmax needs aggregation over the
    * recursive reference, which SQL recursion cannot express. */
  private def bpeApplySql(d: String): String = {
    val mergesP = new java.io.File(Sidecar.dir(BpeTag, d), "merges").toString
    s"""
    WITH RECURSIVE m AS (
      SELECT rank, lhs, rhs, merged FROM read_parquet('$mergesP/*.parquet')),
    -- recursion bound = the table's ACTUAL max rank, not the nominal
    -- merge budget: an early-stopping trainer (pairs exhausted before
    -- $BpeMerges rounds) persists fewer ranks, and a constant bound
    -- would dead-end the recursive join at the first missing rank and
    -- silently empty the oracle (ADVICE r11)
    mx AS (SELECT max(rank) AS mr FROM m),
    tok AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$$')),
    w0 AS (SELECT DISTINCT word FROM tok),
    seg AS (
      SELECT word, CAST(1 AS BIGINT) AS rank,
             ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
      FROM w0
      UNION ALL
      SELECT word,
             CASE WHEN hit = 0 THEN rank + 1 ELSE rank END,
             CASE WHEN hit = 0 THEN s
                  ELSE substr(s, 1, hit - 1) || ' ' || merged || ' ' ||
                       substr(s, hit + length(pat)) END
      FROM (
        SELECT g.word, g.rank, g.s, m.merged,
               ' ' || m.lhs || ' ' || m.rhs || ' ' AS pat,
               strpos(g.s, ' ' || m.lhs || ' ' || m.rhs || ' ') AS hit
        FROM seg g JOIN m ON m.rank = g.rank CROSS JOIN mx
        WHERE g.rank <= mx.mr))
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_bpe
    FROM tok JOIN (
      SELECT word,
             CAST(length(trim(s)) - length(replace(trim(s), ' ', '')) + 1 AS BIGINT) AS n_sub
      FROM seg WHERE rank = (SELECT mr FROM mx) + 1) v USING (word)
    GROUP BY doc_id
    ORDER BY doc_id"""
  }

  /** Oracle SQL embeds the sfDir-derived merge-table path, resolved
    * at dump time via [[graft.OracleEnv.sfDir]] — so defs must be a
    * def (same pattern as VectorQueries). */
  def defs: Map[String, QueryDef] = {
    val d = graft.OracleEnv.sfDir
    Map(
      "text_topk_sketch" -> QueryDef(topkSketch _, topkSketchSql),
      "text_surprisal"   -> QueryDef(surprisal _, surprisalSql),
      "text_lm_bigram"   -> QueryDef(lmBigram _, lmBigramSql),
      "text_bm25"        -> QueryDef(bm25 _, bm25Sql),
      "text_repetition"  -> QueryDef(repetition _, repetitionSql),
      "text_ngram_freq"  -> QueryDef(ngramFreq _, ngramFreqSql),
      "text_lang_id"     -> QueryDef(langId _, langIdSql),
      "text_quality"     -> QueryDef(quality _, qualitySql),
      "text_tokens"      -> QueryDef(tokenCounts _, tokenCountsSql),
      "text_tfidf"       -> QueryDef(tfidf _, tfidfSql),
      "text_fingerprint" -> QueryDef(fingerprint _, fingerprintSql),
      "text_bpe_pairs"   -> QueryDef(bpePairs _, bpePairsSql),
      "text_bpe_train"   -> QueryDef(bpeTrain _, Some(bpeTrainSql), rebuild(BpeTag)(ensureBpe)),
      "text_bpe_apply"   -> QueryDef(bpeApply _, Some(bpeApplySql(d)),
        rebuild(BpeTag)(ensureBpe)),
    )
  }
}
