package graft

import graft.operators.ScalarQuant
import org.apache.spark.sql.functions._

/** The SQ8 rung's own IO + precision story: phase 1 scans the
  * (id, 1-byte-per-dim) sidecar and never the float column (the 4×),
  * phase 2 reaches the corpus through the pushed shortlist In-list,
  * codes round-trip within half a quantization step per dimension,
  * and the persisted params reproduce the in-memory search exactly. */
class ScalarQuantSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, Sf)
  private lazy val query: Array[Double] = emb.filter(col("vec_id") === 0)
    .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray

  private lazy val storePath: String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"), "graft_sq_spec").toString
    ScalarQuant.writeStore(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", p)
    p
  }

  test("dequantized codes sit within half a step of the source on every dimension") {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val (mins, scales) = ScalarQuant.readParams(spark, storePath)
    val rows = emb.filter(col("vec_id") =!= 0).limit(50)
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("sq", toColumn(graft.functions.SqPackExpr(
        toExpression(col("v")), mins, scales)))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val b = r.getAs[Array[Byte]](1)
      v.indices.foreach { i =>
        val step = scales(i) / 255.0
        val x = mins(i) + (b(i) & 0xff).toDouble * step
        assert(math.abs(x - v(i)) <= step / 2 + 1e-12,
          s"dim $i: ${v(i)} round-tripped to $x (step $step)")
      }
    }
  }

  test("phase-1 scan reads (vec_id, sq) only — ReadSchema excludes the embedding column") {
    val (mins, scales) = ScalarQuant.readParams(spark, storePath)
    val plan = ScalarQuant.shortlist(
        spark.read.parquet(storePath), "vec_id", query, mins, scales, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), s"expected a file scan:\n$plan")
    assert(!plan.contains("embedding"),
      s"SQ8 pass must not touch the float column:\n$plan")
    assert(plan.contains("sq"), s"SQ8 pass must read the code bytes:\n$plan")
  }

  test("phase-2 re-rank pushes the shortlist In-list; persisted params ≡ fresh training") {
    val (mins, scales) = ScalarQuant.readParams(spark, storePath)
    val live = emb.filter(col("vec_id") =!= 0)
    val result = ScalarQuant.search(spark.read.parquet(storePath), live,
      "vec_id", query, mins, scales, k = 10, rerank = 64)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(vec_id"),
      s"shortlist ids must push into the corpus scan:\n$plan")
    val got = result.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.length == 10)
    assert(got.map(_._2).sameElements(got.map(_._2).sorted))
    // fresh in-memory training must agree with the persisted params
    val (m2, s2) = ScalarQuant.trainParams(live, "embedding")
    assert(m2.toSeq == mins.toSeq && s2.toSeq == scales.toSeq,
      "persisted params must round-trip exactly")
  }

  test("the SQ8 store holds its params: Sidecar.drop leaves no entry of it behind") {
    SparkEntry.all("vs_sq_knn").build.get(spark, Sf) // drop, then ensure: a freshly built, marked store
    val dir = new java.io.File(Sidecar.dir(graft.queries.VectorQueries.SqTag, Sf))
    assert(new java.io.File(dir, Sidecar.Done).isFile, s"$dir not marked done")
    Sidecar.drop(dir.toString)
    val left = Option(dir.getParentFile.listFiles).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith(dir.getName))
    assert(left.isEmpty, s"store entries left after drop: ${left.mkString(", ")}")
  }
}
