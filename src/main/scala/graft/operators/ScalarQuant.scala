package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization — the standard 4×-compression rung of the
  * ANN ladder between halfvec (2×, [[graft.functions.HalfPackExpr]])
  * and binary quant (32×, [[BinaryQuant]]): each dimension gets an
  * affine [min, max] range trained on the corpus, vectors store as
  * one byte per dimension, and search runs the usual two-phase
  * pipeline — asymmetric-distance shortlist over the packed sidecar
  * (codes dequantize against the full-precision query), exact
  * re-rank of the top-`rerank` survivors (same shape as
  * [[BinaryQuant.search]] / the PQ ADC pipeline; FAISS
  * `ScalarQuantizer(QT_8bit)` is the reference design).
  *
  * Scale shape: training is ONE map-side-combined aggregation to
  * dims rows (per-dim min/max — never an explode of N×dims);
  * the params ride search expressions as driver metadata (the
  * NearestCellsExpr discipline — no join, no shuffle); phase 1's
  * scan IO is the (id, sq) sidecar only — dims bytes per vector,
  * plan-asserted in ScalarQuantSpec; phase 2 touches `rerank` rows
  * via an In-list pushed to the corpus scan. */
object ScalarQuant {

  /** Per-dimension (min, scale = max − min), one aggregation pass:
    * 2·dims `min/max(element_at(...))` aggregates in a single agg —
    * the partial (map-side) combine reduces every partition to one
    * row of 2·dims doubles, so the shuffle carries dims-scale rows,
    * never an N×dims explode. */
  def trainParams(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    val minsCol = (0 until dims).map(i =>
      min(element_at(col(vecCol), i + 1)).as(s"n$i"))
    val maxsCol = (0 until dims).map(i =>
      max(element_at(col(vecCol), i + 1)).as(s"x$i"))
    val row = corpus.agg((minsCol ++ maxsCol).head, (minsCol ++ maxsCol).tail: _*).head()
    val mins = Array.tabulate(dims)(i => row.getAs[Number](s"n$i").doubleValue())
    val maxs = Array.tabulate(dims)(i => row.getAs[Number](s"x$i").doubleValue())
    (mins, maxs.zip(mins).map { case (hi, lo) => hi - lo })
  }

  /** The params' subdirectory of a store written by [[writeStore]]. */
  val ParamsDir = "_params"

  /** Persist the (idCol, sq) sidecar — the search-time scan never
    * touches the float column — plus the trained params as a tiny
    * `(dim, min, scale)` parquet inside it, under [[ParamsDir]]
    * (re-openable without the corpus). The params live in the store
    * directory so whatever marks, drops or replaces the store covers
    * them too; the leading underscore keeps them out of a
    * `spark.read.parquet(path)` of the codes. */
  def writeStore(corpus: DataFrame, idCol: String, vecCol: String,
      path: String): (Array[Double], Array[Double]) = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val (mins, scales) = trainParams(corpus, vecCol)
    corpus
      .select(col(idCol),
        toColumn(graft.functions.SqPackExpr(
          toExpression(col(vecCol)), mins, scales)).as("sq"))
      .write.mode("overwrite").parquet(path)
    val spark = corpus.sparkSession
    import spark.implicits._
    mins.indices.map(i => (i, mins(i), scales(i))).toDF("dim", "min", "scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$ParamsDir")
    (mins, scales)
  }

  def readParams(spark: SparkSession, path: String): (Array[Double], Array[Double]) = {
    val rows = spark.read.parquet(s"$path/$ParamsDir")
      .orderBy("dim").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Phase 1 as a lazy plan (spec asserts its ReadSchema is the
    * sidecar only). */
  def shortlist(sqStore: DataFrame, idCol: String, query: Array[Double],
      mins: Array[Double], scales: Array[Double], n: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    sqStore
      .select(col(idCol),
        toColumn(graft.functions.SqDistExpr(
          toExpression(col("sq")), query, mins, scales,
          graft.functions.VectorDistance.L2.id)).as("ad"))
      .orderBy(col("ad"), col(idCol))
      .limit(n)
  }

  /** Two-phase top-k: asymmetric-distance shortlist over the packed
    * sidecar, exact L2 re-rank of the `rerank` survivors pulled from
    * the corpus by a pushed In-list. Output (idCol, dist) ordered by
    * (dist, id), dist exact. */
  def search(sqStore: DataFrame, corpus: DataFrame, idCol: String,
      query: Array[Double], mins: Array[Double], scales: Array[Double],
      k: Int, rerank: Int, vecCol: String = "embedding"): DataFrame = {
    val ids = shortlist(sqStore, idCol, query, mins, scales, math.max(k, rerank))
      .select(col(idCol)).collect().map(_.get(0))
    corpus
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol),
        graft.functions.VectorDistance.l2(col(vecCol), typedLit(query.toSeq)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}
