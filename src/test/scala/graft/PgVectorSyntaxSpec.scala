package graft

import graft.plans.PgVectorSql
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** pgvector operator syntax (VERDICT r8 #3): the reference's literal
  * SQL — `ORDER BY embedding <-> '[...]'::vector LIMIT 5`
  * (SSEOpenAIController.java:316) — parses and runs UNMODIFIED on a
  * GraftExtensions session, and the IvfProbeRule still fires on the
  * rewritten plan. */
class PgVectorSyntaxSpec extends AnyFunSuite {

  private val Sf = "/root/testdata/sf0.001"

  // ------------------------------------------------- pure translation
  test("operator translation: all six operators and the ::vector cast") {
    assert(PgVectorSql.translate("SELECT a <-> b FROM t") ==
      "SELECT vec_l2(a, b) FROM t")
    // <=> doubles as Spark's null-safe equality: the cosine reading
    // needs another unambiguous pgvector marker in the statement
    assert(PgVectorSql.translate(
      "SELECT e.embedding <=> '[1,2]'::vector FROM t") ==
      "SELECT vec_cos_dist(e.embedding, vec_literal('[1,2]')) FROM t")
    assert(PgVectorSql.translate("SELECT a <#> '[1,2]'::vector") ==
      "SELECT (-vec_dot(a, vec_literal('[1,2]')))")
    assert(PgVectorSql.translate("SELECT (a) <+> (b)") ==
      "SELECT vec_l1((a), (b))")
    assert(PgVectorSql.translate(
      "SELECT vec_binary_quantize(v) <~> vec_binary_quantize('[1]'::vector)") ==
      "SELECT vec_hamming(vec_binary_quantize(v), vec_binary_quantize(vec_literal('[1]')))")
    assert(PgVectorSql.translate("SELECT a <%> b FROM t") ==
      "SELECT vec_jaccard(a, b) FROM t")
  }

  test("::vector(n) typmod casts translate with the declared dims (VERDICT r15 #4)") {
    // the form pgvector docs / ORMs emit; the reference's own column
    // is vector(1536) (Function.java DDL)
    assert(PgVectorSql.translate("SELECT '[1,2,3]'::vector(3)") ==
      "SELECT vec_literal('[1,2,3]', 3)")
    assert(PgVectorSql.translate(
      "ORDER BY embedding <-> '[1,2]'::vector(1536) LIMIT 5") ==
      "ORDER BY vec_l2(embedding, vec_literal('[1,2]', 1536)) LIMIT 5")
    // parameterized form keeps the marker AND the typmod
    assert(PgVectorSql.translate("ORDER BY embedding <-> ?::vector(4) LIMIT 5") ==
      "ORDER BY vec_l2(embedding, vec_literal(?, 4)) LIMIT 5")
    // whitespace inside the typmod group is legal in postgres
    assert(PgVectorSql.translate("SELECT '[1]'::vector ( 1 )") ==
      "SELECT vec_literal('[1]', 1)")
    // a non-typmod '(' after the cast is NOT consumed
    assert(PgVectorSql.translate("SELECT '[1]'::vector (a)") ==
      "SELECT vec_literal('[1]') (a)")
  }

  test("translation preserves parameter markers, strings, and non-vector SQL") {
    assert(PgVectorSql.translate(
      "ORDER BY embedding <-> ?::vector LIMIT 5") ==
      "ORDER BY vec_l2(embedding, vec_literal(?)) LIMIT 5")
    // operators inside string literals are data, not syntax
    assert(PgVectorSql.translate("SELECT '<->' AS s, \"a<=>b\" FROM t") ==
      "SELECT '<->' AS s, \"a<=>b\" FROM t")
    // ordinary comparisons survive (<= is not <=>)
    assert(PgVectorSql.translate("SELECT * FROM t WHERE a <= b AND c <> d") ==
      "SELECT * FROM t WHERE a <= b AND c <> d")
    // lambda arrows survive
    assert(PgVectorSql.translate("SELECT transform(xs, x -> x + 1) FROM t") ==
      "SELECT transform(xs, x -> x + 1) FROM t")
  }

  test("<=> without a pgvector marker stays Spark's null-safe equality") {
    // valid upstream SQL must NOT be hijacked into cosine distance
    assert(PgVectorSql.translate(
      "SELECT * FROM a JOIN b ON a.k <=> b.k") ==
      "SELECT * FROM a JOIN b ON a.k <=> b.k")
    // a marker anywhere in the statement flips the whole statement to
    // the pgvector dialect (decided once, not per occurrence)
    assert(PgVectorSql.translate(
      "SELECT a <=> b, c <-> d FROM t") ==
      "SELECT vec_cos_dist(a, b), vec_l2(c, d) FROM t")
  }

  test("nested operand groups rewrite inside-out") {
    assert(PgVectorSql.translate("SELECT (a <-> b) <=> c") ==
      "SELECT vec_cos_dist((vec_l2(a, b)), c)")
  }

  test("::sparsevec casts translate to the sparse literal (r16)") {
    assert(PgVectorSql.translate("SELECT '{1:1.5,3:2}/5'::sparsevec") ==
      "SELECT vec_sparse_literal('{1:1.5,3:2}/5')")
    assert(PgVectorSql.translate("SELECT '{1:1}/5'::sparsevec(5)") ==
      "SELECT vec_sparse_literal('{1:1}/5', 5)")
    assert(PgVectorSql.translate(
      "SELECT sparse_dot(si, sv, ?::sparsevec(9)) FROM t") ==
      "SELECT sparse_dot(si, sv, vec_sparse_literal(?, 9)) FROM t")
  }

  test("::halfvec casts route distance operators to the half kernels (r16)") {
    // query on the right — the pgvector porting shape
    assert(PgVectorSql.translate("SELECT hv <-> '[1,2]'::halfvec(2) FROM t") ==
      "SELECT vec_half_l2(hv, vec_literal('[1,2]', 2)) FROM t")
    assert(PgVectorSql.translate("SELECT hv <#> '[1,2]'::halfvec FROM t") ==
      "SELECT (-vec_half_dot(hv, vec_literal('[1,2]'))) FROM t")
    assert(PgVectorSql.translate("SELECT hv <=> ?::halfvec(4) FROM t") ==
      "SELECT vec_half_cos_dist(hv, vec_literal(?, 4)) FROM t")
    assert(PgVectorSql.translate("SELECT hv <+> '[0.5]'::halfvec FROM t") ==
      "SELECT vec_half_l1(hv, vec_literal('[0.5]')) FROM t")
    // query on the left — the kernels are symmetric
    assert(PgVectorSql.translate("SELECT '[1,2]'::halfvec(2) <-> hv FROM t") ==
      "SELECT vec_half_l2(hv, vec_literal('[1,2]', 2)) FROM t")
    // standalone cast packs to the binary halfvec column type
    assert(PgVectorSql.translate("SELECT '[1,2]'::halfvec(2) AS h") ==
      "SELECT vec_half(vec_literal('[1,2]', 2)) AS h")
    assert(PgVectorSql.translate("SELECT v::halfvec FROM t") ==
      "SELECT vec_half(vec_literal(v)) FROM t")
    // both sides cast: right is the query, left packs on the next step
    assert(PgVectorSql.translate("SELECT '[1]'::halfvec <-> '[2]'::halfvec") ==
      "SELECT vec_half_l2(vec_half(vec_literal('[1]')), vec_literal('[2]'))")
  }

  test("sparsevec literal parsing follows pgvector's rules") {
    import graft.functions.SparseVec.parseLiteral
    val (i1, v1, d1) = parseLiteral("{1:1.5, 3:2}/5")
    assert(i1.toSeq == Seq(1L, 3L) && v1.toSeq == Seq(1.5, 2.0) && d1 == 5)
    // zero values are dropped (sparsevec stores only non-zero)
    val (i2, v2, _) = parseLiteral("{1:0,2:3}/4")
    assert(i2.toSeq == Seq(2L) && v2.toSeq == Seq(3.0))
    // empty literal is legal
    val (i3, _, d3) = parseLiteral("{}/7")
    assert(i3.isEmpty && d3 == 7)
    // typmod mismatch gets pgvector's dim error
    val tm = intercept[IllegalArgumentException] { parseLiteral("{1:1}/5", 4) }
    assert(tm.getMessage.contains("expected 4 dimensions, not 5"))
    // 1-based bounds
    val oor = intercept[IllegalArgumentException] { parseLiteral("{0:1}/5") }
    assert(oor.getMessage.contains("index out of range"))
    val oor2 = intercept[IllegalArgumentException] { parseLiteral("{6:1}/5") }
    assert(oor2.getMessage.contains("index out of range"))
    // ascending order (also rejects duplicates)
    val ord = intercept[IllegalArgumentException] { parseLiteral("{3:1,2:1}/5") }
    assert(ord.getMessage.contains("ascending order"))
    val dup = intercept[IllegalArgumentException] { parseLiteral("{2:1,2:1}/5") }
    assert(dup.getMessage.contains("ascending order"))
    // malformed shapes
    intercept[IllegalArgumentException] { parseLiteral("[1,2]") }
    intercept[IllegalArgumentException] { parseLiteral("{1:1}") }
    intercept[IllegalArgumentException] { parseLiteral("{1}/5") }
    // dims bounds
    intercept[IllegalArgumentException] { parseLiteral("{1:1}/0") }
    intercept[IllegalArgumentException] { parseLiteral("{1:1}/2000000000") }
    // non-finite values rejected outright (r17, ADVICE r16: Scala
    // toDouble happily parses these, and NaN != 0.0 would store it
    // and poison every downstream distance; pgvector's sparsevec_in
    // rejects both)
    val nan = intercept[IllegalArgumentException] { parseLiteral("{1:NaN}/5") }
    assert(nan.getMessage.contains("NaN not allowed in sparsevec"))
    val inf = intercept[IllegalArgumentException] { parseLiteral("{1:Infinity}/5") }
    assert(inf.getMessage.contains("infinite value not allowed in sparsevec"))
    val ninf = intercept[IllegalArgumentException] { parseLiteral("{2:-Infinity}/5") }
    assert(ninf.getMessage.contains("infinite value not allowed in sparsevec"))
  }

  // --------------------------------------- parser-injected execution
  // extensions only apply at session construction; build a sibling
  // session over the same SparkContext, restore the shared one after
  private def withExtSession[T](f: SparkSession => T): T = {
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def queryVecText(s: SparkSession): String =
    Tables.embeddings(s, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0).mkString("[", ",", "]")

  test("the reference's literal query text runs verbatim") {
    withExtSession { s =>
      Tables.embeddings(s, Sf).createOrReplaceTempView("embeddings")
      val vec = queryVecText(s)
      val got = s.sql(
        s"""SELECT vec_id FROM embeddings
            WHERE vec_id <> 0
            ORDER BY embedding <-> '$vec'::vector
            LIMIT 5""").collect().map(_.getLong(0)).toSeq
      val want = graft.operators.Knn.topK(
        Tables.embeddings(s, Sf).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        Tables.embeddings(s, Sf).filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec")),
        "qvec", graft.functions.VectorFunctions.l2Distance, 5)
        .collect().map(_.getLong(0)).toSeq
      assert(got == want)
    }
  }

  test("parameterized ?::vector binds through spark.sql args") {
    withExtSession { s =>
      Tables.embeddings(s, Sf).createOrReplaceTempView("embeddings")
      val vec = queryVecText(s)
      val got = s.sql(
        """SELECT vec_id FROM embeddings WHERE vec_id <> 0
           ORDER BY embedding <-> ?::vector LIMIT 3""",
        Array(vec)).collect().map(_.getLong(0)).toSeq
      assert(got.length == 3)
      val lit = s.sql(
        s"""SELECT vec_id FROM embeddings WHERE vec_id <> 0
            ORDER BY embedding <-> '$vec'::vector LIMIT 3""")
        .collect().map(_.getLong(0)).toSeq
      assert(got == lit)
    }
  }

  test("::vector(n) executes: matching dims pass, mismatched dims get pgvector's error") {
    withExtSession { s =>
      // matching typmod is a no-op on the value
      val ok = s.sql("SELECT '[1,2,3]'::vector(3) AS v").head.getSeq[Double](0)
      assert(ok == Seq(1.0, 2.0, 3.0))
      // mismatch carries pgvector's error text
      val e = intercept[Exception] {
        s.sql("SELECT '[1,2,3]'::vector(4) AS v").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("expected 4 dimensions, not 3")),
        s"wanted pgvector's dim error, got: ${msgs(e).mkString(" | ")}")
      // typmod range checks (pgvector's DDL-time errors)
      val lo = intercept[Exception] { s.sql("SELECT '[1]'::vector(0)").collect() }
      assert(msgs(lo).exists(_.contains("must be at least 1")))
      val hi = intercept[Exception] { s.sql("SELECT '[1]'::vector(16001)").collect() }
      assert(msgs(hi).exists(_.contains("cannot be greater than 16000")))
    }
  }

  test("parameterized ?::vector(n) binds and validates dims") {
    withExtSession { s =>
      Tables.embeddings(s, Sf).createOrReplaceTempView("embeddings")
      val vec = queryVecText(s)
      val dims = vec.count(_ == ',') + 1
      val got = s.sql(
        s"""SELECT vec_id FROM embeddings WHERE vec_id <> 0
            ORDER BY embedding <-> ?::vector($dims) LIMIT 3""",
        Array(vec)).collect().map(_.getLong(0)).toSeq
      val want = s.sql(
        s"""SELECT vec_id FROM embeddings WHERE vec_id <> 0
            ORDER BY embedding <-> '$vec'::vector LIMIT 3""")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want)
      // and a wrong declared dim fails even through the parameter path
      val e = intercept[Exception] {
        s.sql(
          """SELECT vec_id FROM embeddings WHERE vec_id <> 0
             ORDER BY embedding <-> ?::vector(2) LIMIT 3""",
          Array(vec)).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(s"expected 2 dimensions, not $dims")))
    }
  }

  test("null-safe equality joins execute correctly on an extension session") {
    withExtSession { s =>
      import s.implicits._
      Seq((1L, Some("x")), (2L, None)).toDF("k", "v").createOrReplaceTempView("nsa")
      Seq((10L, Some("x")), (20L, None)).toDF("k", "v").createOrReplaceTempView("nsb")
      val got = s.sql(
        "SELECT a.k, b.k FROM nsa a JOIN nsb b ON a.v <=> b.v ORDER BY a.k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // <=> matched NULL to NULL — EqualNullSafe semantics, not cosine
      assert(got == Seq((1L, 10L), (2L, 20L)))
    }
  }

  test("<#> is the NEGATIVE inner product, like pgvector") {
    withExtSession { s =>
      val r = s.sql(
        "SELECT array(1.0D, 2.0D) <#> '[3,4]'::vector AS d").head.getDouble(0)
      assert(r == -(1.0 * 3 + 2.0 * 4))
    }
  }

  test("sparsevec literals execute: 3-arg sparse kernels match the 4-arg forms") {
    withExtSession { s =>
      import s.implicits._
      // two docs as (indices, values) pairs in a 1-based 5-dim space
      Seq((1L, Seq(1L, 3L), Seq(1.0, 2.0)), (2L, Seq(2L, 3L), Seq(4.0, 1.0)))
        .toDF("id", "si", "sv").createOrReplaceTempView("sp")
      val q = "'{1:2, 3:1}/5'::sparsevec(5)"
      def col1(sqlText: String): Seq[Double] =
        s.sql(sqlText).orderBy(org.apache.spark.sql.functions.col("id"))
          .collect().map(_.getDouble(1)).toSeq
      val dot3 = col1(s"SELECT id, sparse_dot(si, sv, $q) AS d FROM sp")
      val dot4 = col1(
        "SELECT id, sparse_dot(si, sv, array(1L, 3L), array(2.0D, 1.0D)) AS d FROM sp")
      assert(dot3 == dot4 && dot3 == Seq(1.0 * 2 + 2.0 * 1, 1.0 * 1))
      // the r16 SQL names for every pgvector sparsevec operator
      val l2 = col1(s"SELECT id, sparse_l2(si, sv, $q) AS d FROM sp")
      assert(l2.head == math.sqrt(1.0 + 1.0)) // (1-2)² + (2-1)², indices 1/3 matched
      val l1 = col1(s"SELECT id, sparse_l1(si, sv, $q) AS d FROM sp")
      assert(l1(1) == 2.0 + 4.0 + 0.0) // q idx1 unmatched (2), doc idx2 unmatched (4), idx3 |1-1|
      val cd = col1(s"SELECT id, sparse_cos_dist(si, sv, $q) AS d FROM sp")
      val cs = col1(s"SELECT id, sparse_cos_sim(si, sv, $q) AS d FROM sp")
      assert(cd.zip(cs).forall { case (d, sim) => d == 1.0 - sim })
      // struct fields are addressable too
      val dims = s.sql(s"SELECT $q.dims AS n").head.getInt(0)
      assert(dims == 5)
    }
  }

  test("halfvec casts execute: distance ops over a packed column (r16)") {
    withExtSession { s =>
      import s.implicits._
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.6f, 0.8f)))
        .toDF("id", "v")
        .selectExpr("id", "v::halfvec AS hv")
        .createOrReplaceTempView("hv")
      def d(sqlText: String): Seq[Double] =
        s.sql(sqlText).orderBy(org.apache.spark.sql.functions.col("id"))
          .collect().map(_.getDouble(1)).toSeq
      val l2 = d("SELECT id, hv <-> '[1,0]'::halfvec(2) AS d FROM hv")
      assert(math.abs(l2.head) < 1e-9)
      assert(math.abs(l2(1) - math.sqrt(0.4 * 0.4 + 0.8 * 0.8)) < 1e-3)
      val ip = d("SELECT id, hv <#> '[1,0]'::halfvec AS d FROM hv")
      assert(ip == Seq(-1.0, -0.6) || (math.abs(ip.head + 1.0) < 1e-3 &&
        math.abs(ip(1) + 0.6) < 1e-3))
      // cosine distance: doc2 is unit at 53.13°, query unit at 0°
      val cos = d("SELECT id, hv <=> '[2,0]'::halfvec AS d FROM hv")
      assert(math.abs(cos.head) < 1e-6 && math.abs(cos(1) - 0.4) < 1e-3)
      val l1 = d("SELECT id, hv <+> '[1,0]'::halfvec AS d FROM hv")
      assert(math.abs(l1(1) - (0.4 + 0.8)) < 1e-3)
      // typmod mismatch raises pgvector's dim error through the cast
      val e = intercept[Exception] {
        s.sql("SELECT hv <-> '[1,0,0]'::halfvec(2) AS d FROM hv").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("expected 2 dimensions, not 3")))
    }
  }

  test("pgvector's named functions resolve as aliases of the vec_* kernels (r16)") {
    withExtSession { s =>
      assert(s.sql("SELECT l2_distance(array(0.0D, 0.0D), '[3,4]'::vector) AS d")
        .head.getDouble(0) == 5.0)
      // inner_product is pgvector's POSITIVE dot; <#> stays negated
      assert(s.sql("SELECT inner_product(array(1.0D, 2.0D), '[3,4]'::vector) AS d")
        .head.getDouble(0) == 11.0)
      assert(math.abs(s.sql(
        "SELECT cosine_distance(array(1.0D, 0.0D), '[0,2]'::vector) AS d")
        .head.getDouble(0) - 1.0) < 1e-12)
      assert(s.sql("SELECT l1_distance(array(1.0D, 1.0D), '[3,4]'::vector) AS d")
        .head.getDouble(0) == 5.0)
      assert(s.sql("SELECT vector_dims('[1,2,3]'::vector) AS n").head.getInt(0) == 3)
      assert(s.sql("SELECT vector_norm('[3,4]'::vector) AS n").head.getDouble(0) == 5.0)
      assert(s.sql("SELECT subvector('[1,2,3,4]'::vector, 2, 2) AS v")
        .head.getSeq[Double](0) == Seq(2.0, 3.0))
      assert(s.sql("SELECT l2_normalize('[3,4]'::vector) AS v")
        .head.getSeq[Double](0) == Seq(0.6, 0.8))
      assert(s.sql(
        """SELECT hamming_distance(binary_quantize('[1,-1,1]'::vector),
                                   binary_quantize('[1,1,-1]'::vector)) AS d""")
        .head.getInt(0) == 2)
    }
  }

  test("IvfProbeRule fires on the verbatim pgvector query over a registered store") {
    withExtSession { s =>
      // build + register the auto store and install the rule on THIS
      // session (the query entry does all three)
      SparkEntry.queries("vs_ivf_auto")(s, Sf)
      val storeP = new java.io.File(
        Sidecar.dir(graft.queries.VectorQueries.IvfAutoTag, Sf), "store").toString
      s.read.parquet(storeP).createOrReplaceTempView("vstore")
      val vec = queryVecText(s)
      val df = s.sql(
        s"""SELECT vec_id FROM vstore
            WHERE vec_id <> 0
            ORDER BY embedding <-> '$vec'::vector
            LIMIT 10""")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("centroid_id"),
        s"probe rule did not fire on the rewritten plan:\n$plan")
      // and the probed answer equals the engine's vs_ivf_auto entry
      val want = SparkEntry.queries("vs_ivf_auto")(s, Sf)
        .collect().map(_.getLong(0)).toSeq
      assert(df.collect().map(_.getLong(0)).toSeq == want)
    }
  }
}
