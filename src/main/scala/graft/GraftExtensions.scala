package graft

import graft.functions.{HalfDistExpr, HammingDistExpr, JaccardDistExpr,
  L2NormalizeExpr, SignPackExpr, HalfPackExpr, SparseDistExpr,
  SparseLiteralExpr, VectorDistance, VectorDistanceExpr, Half}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal, Size, Slice, Sqrt, Subtract}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** SQL surface of the engine: registers the pgvector operator and
  * function family as SQL functions, so
  * `spark.sql("... ORDER BY vec_l2(embedding, q) LIMIT 5")` is the
  * literal Spark translation of the reference's
  * `ORDER BY embedding <-> ?::vector LIMIT 5`
  * (SSEOpenAIController.java:316).
  *
  * Parity map (pgvector → here):
  *  - `<->` l2_distance → `vec_l2`; `<#>` → `-vec_dot`;
  *    `<=>` cosine_distance → `vec_cos_dist`; `<+>` l1_distance →
  *    `vec_l1`
  *  - `<~>` hamming_distance → `vec_hamming`; `<%>`
  *    jaccard_distance → `vec_jaccard` (over `vec_binary_quantize`
  *    sign-packed words — pgvector's `bit(n)` storage)
  *  - `binary_quantize` → `vec_binary_quantize`; `::halfvec[(n)]` →
  *    `vec_half` when standalone, and as a distance-operator operand
  *    the operator routes to the packed-column kernels `vec_half_l2`
  *    / `vec_half_dot` / `vec_half_cos_dist` / `vec_half_l1` (all
  *    four pgvector halfvec operators, r16); `l2_normalize` →
  *    `vec_l2_normalize`; `vector_norm` → `vec_norm`; `subvector` →
  *    `vec_subvector` (1-based, like pgvector); `vector_dims` →
  *    `vec_dims`
  *  - `sparsevec` operators → `sparse_dot` (`<#>` is `-sparse_dot`) /
  *    `sparse_cos_sim` / `sparse_cos_dist` (`<=>`) / `sparse_l2`
  *    (`<->`) / `sparse_l1` (`<+>`) over sorted (indices, values)
  *    pairs; the pgvector text literal `'{i:v,...}/dims'::sparsevec[(n)]`
  *    → `vec_sparse_literal` (struct<indices, values, dims>), accepted
  *    as the 3rd argument of every sparse kernel (r16)
  *
  * Query-side arguments of the quantized kernels (`vec_hamming`,
  * `vec_jaccard`, `vec_half_*`, `sparse_*`) must be FOLDABLE — they
  * are driver metadata baked into the codegen'd scan, exactly how
  * the DataFrame API passes them; a non-literal raises at analysis,
  * not at runtime.
  *
  * Install with:
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * // or spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
object GraftExtensions {

  // ------------------------------------------------ literal extraction
  private def litArray(e: Expression, fn: String): ArrayData = {
    require(e.foldable, s"$fn: the query argument must be a literal")
    val v = e.eval(null)
    require(v != null, s"$fn: the query argument must not be NULL")
    v.asInstanceOf[ArrayData]
  }

  private def litLongs(e: Expression, fn: String): Array[Long] = {
    val a = litArray(e, fn)
    e.dataType match {
      case ArrayType(LongType, _) => a.toLongArray()
      case ArrayType(IntegerType, _) => a.toIntArray().map(_.toLong)
      case t => throw new IllegalArgumentException(
        s"$fn: query must be an integer array literal (array<bigint>), got $t")
    }
  }

  private def litDoubles(e: Expression, fn: String): Array[Double] = {
    val a = litArray(e, fn)
    e.dataType match {
      case ArrayType(DoubleType, _) => a.toDoubleArray()
      case ArrayType(FloatType, _)  => a.toFloatArray().map(_.toDouble)
      case ArrayType(LongType, _)   => a.toLongArray().map(_.toDouble)
      case t => throw new IllegalArgumentException(
        s"$fn: query must be a numeric array literal, got $t")
    }
  }

  /** Half-round a query once, driver-side — [[HalfDistExpr]] expects
    * its metadata query already at binary16 precision so corpus and
    * query quantize identically. */
  private def halfRound(q: Array[Double]): Array[Double] =
    q.map(x => Half.fromHalfBits(Half.toHalfBits(x.toFloat)).toDouble)

  /** Extract the (indices, values) query pair from a foldable
    * sparsevec-literal struct ([[SparseLiteralExpr]] output) — the
    * 3-arg sparse kernel forms `sparse_dot(i, v, '{..}/n'::sparsevec)`. */
  private def litSparseQuery(e: Expression, fn: String): (Array[Long], Array[Double]) = {
    e.dataType match {
      case st: StructType if st.length == 3 &&
          st.head.name == "indices" && st(1).name == "values" =>
      case t => throw new IllegalArgumentException(
        s"$fn: the 3-argument form's query must be a sparsevec literal " +
          s"(vec_sparse_literal / ::sparsevec), got $t")
    }
    require(e.foldable, s"$fn: the query argument must be a literal")
    val row = e.eval(null)
    require(row != null, s"$fn: the query argument must not be NULL")
    val r = row.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    (r.getArray(0).toLongArray(), r.getArray(1).toDoubleArray())
  }

  /** Shared builder for the sparse kernels' two SQL arities:
    * `fn(indices, values, q_indices, q_values)` (arrays) or
    * `fn(indices, values, q)` with q a sparsevec literal. */
  private def sparseArgs(fn: String, args: Seq[Expression]): (Array[Long], Array[Double]) =
    args.length match {
      case 4 => (litLongs(args(2), fn), litDoubles(args(3), fn))
      case 3 => litSparseQuery(args(2), fn)
      case n => throw new IllegalArgumentException(
        s"$fn expects 3 or 4 arguments, got $n")
    }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  /** Type-directed dense/sparse dispatch for the distance builders
    * (r17): an operand that already RESOLVES to the one-column
    * sparsevec struct routes to [[SparseStructDistExpr]] here; an
    * operand whose type is unknown at build time gets the dense
    * kernel and [[graft.plans.SparseColumnRule]] (injected below)
    * swaps it post-resolution. Both paths land on the same kernel. */
  private def dist(a: Expression, b: Expression, mode: Int): Expression = {
    def sparse(e: Expression) = scala.util.Try(e.dataType).toOption
      .exists(graft.functions.SparseVec.isSparseStructType)
    if (sparse(a) || sparse(b)) graft.functions.SparseStructDistExpr(a, b, mode)
    else VectorDistanceExpr(a, b, mode)
  }

  /** name → (usage, builder); single source for both registration
    * paths. */
  private val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - inner product (pgvector <#> is -vec_dot)",
      args => { arity("vec_dot", args, 2)
        dist(args.head, args(1), VectorDistance.Dot.id) }),
    ("vec_l2", "vec_l2(a, b) - Euclidean distance (pgvector <->)",
      args => { arity("vec_l2", args, 2)
        dist(args.head, args(1), VectorDistance.L2.id) }),
    ("vec_cos_dist", "vec_cos_dist(a, b) - cosine distance (pgvector <=>)",
      args => { arity("vec_cos_dist", args, 2)
        dist(args.head, args(1), VectorDistance.CosineDist.id) }),
    ("vec_cos_sim", "vec_cos_sim(a, b) - cosine similarity",
      args => { arity("vec_cos_sim", args, 2)
        dist(args.head, args(1), VectorDistance.CosineSim.id) }),
    ("vec_l1", "vec_l1(a, b) - taxicab distance (pgvector <+>)",
      args => { arity("vec_l1", args, 2)
        dist(args.head, args(1), VectorDistance.L1.id) }),
    ("vec_norm", "vec_norm(v) - Euclidean norm (pgvector vector_norm)",
      args => { arity("vec_norm", args, 1)
        Sqrt(dist(args.head, args.head, VectorDistance.Dot.id)) }),
    ("vec_l2_normalize", "vec_l2_normalize(v) - unit vector (pgvector l2_normalize); zero vectors pass through",
      args => { arity("vec_l2_normalize", args, 1)
        L2NormalizeExpr(args.head) }),
    ("vec_binary_quantize", "vec_binary_quantize(v) - sign bits packed to array<bigint> (pgvector binary_quantize)",
      args => { arity("vec_binary_quantize", args, 1)
        SignPackExpr(args.head) }),
    ("vec_half", "vec_half(v) - IEEE binary16 packed to binary (pgvector ::halfvec)",
      args => { arity("vec_half", args, 1)
        HalfPackExpr(args.head) }),
    ("vec_hamming", "vec_hamming(packed, query_packed) - hamming distance over vec_binary_quantize words (pgvector <~>); query must be a literal",
      args => { arity("vec_hamming", args, 2)
        HammingDistExpr(args.head, litLongs(args(1), "vec_hamming")) }),
    ("vec_jaccard", "vec_jaccard(packed, query_packed) - jaccard distance over vec_binary_quantize words (pgvector <%>); query must be a literal",
      args => { arity("vec_jaccard", args, 2)
        JaccardDistExpr(args.head, litLongs(args(1), "vec_jaccard")) }),
    ("vec_half_l2", "vec_half_l2(halfvec, query) - Euclidean distance over a vec_half column; query must be a literal",
      args => { arity("vec_half_l2", args, 2)
        HalfDistExpr(args.head, halfRound(litDoubles(args(1), "vec_half_l2")),
          VectorDistance.L2.id) }),
    ("vec_half_dot", "vec_half_dot(halfvec, query) - inner product over a vec_half column; query must be a literal",
      args => { arity("vec_half_dot", args, 2)
        HalfDistExpr(args.head, halfRound(litDoubles(args(1), "vec_half_dot")),
          VectorDistance.Dot.id) }),
    ("vec_half_cos_dist", "vec_half_cos_dist(halfvec, query) - cosine distance over a vec_half column (pgvector halfvec <=>); query must be a literal",
      args => { arity("vec_half_cos_dist", args, 2)
        HalfDistExpr(args.head, halfRound(litDoubles(args(1), "vec_half_cos_dist")),
          VectorDistance.CosineDist.id) }),
    ("vec_half_l1", "vec_half_l1(halfvec, query) - taxicab distance over a vec_half column (pgvector halfvec <+>); query must be a literal",
      args => { arity("vec_half_l1", args, 2)
        HalfDistExpr(args.head, halfRound(litDoubles(args(1), "vec_half_l1")),
          VectorDistance.L1.id) }),
    ("vec_subvector", "vec_subvector(v, start, count) - 1-based slice (pgvector subvector)",
      args => { arity("vec_subvector", args, 3)
        Slice(args.head, args(1), args(2)) }),
    ("vec_dims", "vec_dims(v) - dimension count (pgvector vector_dims); a sparsevec struct reads its DECLARED dims",
      args => { arity("vec_dims", args, 1)
        // one-column sparsevec: the declared dims field, not size()
        // ([[graft.plans.SparseColumnRule]] covers the unresolved case)
        if (scala.util.Try(args.head.dataType).toOption
            .exists(graft.functions.SparseVec.isSparseStructType))
          org.apache.spark.sql.catalyst.expressions.GetStructField(
            args.head, 2, Some("dims"))
        else Size(args.head, legacySizeOfNull = false) }),
    ("sparse_dot", "sparse_dot(indices, values, q_indices, q_values | q_sparsevec) - sparsevec inner product (pgvector <#> is -sparse_dot); query must be literal",
      args => { val (qi, qv) = sparseArgs("sparse_dot", args)
        SparseDistExpr(args.head, args(1), qi, qv, VectorDistance.Dot.id) }),
    ("sparse_cos_sim", "sparse_cos_sim(indices, values, q_indices, q_values | q_sparsevec) - sparsevec cosine similarity; query must be literal",
      args => { val (qi, qv) = sparseArgs("sparse_cos_sim", args)
        SparseDistExpr(args.head, args(1), qi, qv, VectorDistance.CosineSim.id) }),
    ("sparse_cos_dist", "sparse_cos_dist(indices, values, q_indices, q_values | q_sparsevec) - sparsevec cosine distance (pgvector <=>); query must be literal",
      args => { val (qi, qv) = sparseArgs("sparse_cos_dist", args)
        Subtract(Literal(1.0),
          SparseDistExpr(args.head, args(1), qi, qv, VectorDistance.CosineSim.id)) }),
    ("sparse_l2", "sparse_l2(indices, values, q_indices, q_values | q_sparsevec) - sparsevec Euclidean distance over the index union (pgvector <->); query must be literal",
      args => { val (qi, qv) = sparseArgs("sparse_l2", args)
        SparseDistExpr(args.head, args(1), qi, qv, VectorDistance.L2.id) }),
    ("sparse_l1", "sparse_l1(indices, values, q_indices, q_values | q_sparsevec) - sparsevec taxicab distance over the index union (pgvector <+>); query must be literal",
      args => { val (qi, qv) = sparseArgs("sparse_l1", args)
        SparseDistExpr(args.head, args(1), qi, qv, VectorDistance.L1.id) }),
    ("array_max_count", "array_max_count(xs) - max multiplicity of any element, one pass",
      args => { arity("array_max_count", args, 1)
        graft.functions.ArrayMaxCountExpr(args.head) }),
    ("vec_literal", "vec_literal('[x, y, ...]'[, n]) - pgvector text-format vector literal (the ::vector / ::vector(n) cast target)",
      args => {
        require(args.length == 1 || args.length == 2,
          s"vec_literal expects 1 or 2 arguments, got ${args.length}")
        if (args.length == 1) graft.functions.VecLiteralExpr(args.head)
        else {
          // the typmod from `::vector(n)` — pgvector validates the
          // declared dimension range at type-resolution time
          require(args(1).foldable, "vec_literal: typmod must be a literal")
          val n = args(1).eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"vec_literal: typmod must be an integer, got $other")
          }
          require(n >= 1, "dimensions for type vector must be at least 1")
          require(n <= 16000, "dimensions for type vector cannot be greater than 16000")
          graft.functions.VecLiteralExpr(args.head, n)
        }
      }),
    ("vec_sparse_literal", "vec_sparse_literal('{i:v, ...}/dims'[, n]) - pgvector sparsevec text-format literal (the ::sparsevec / ::sparsevec(n) cast target); struct<indices, values, dims>",
      args => {
        require(args.length == 1 || args.length == 2,
          s"vec_sparse_literal expects 1 or 2 arguments, got ${args.length}")
        if (args.length == 1) SparseLiteralExpr(args.head)
        else {
          require(args(1).foldable, "vec_sparse_literal: typmod must be a literal")
          val n = args(1).eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"vec_sparse_literal: typmod must be an integer, got $other")
          }
          require(n >= 1, "dimensions for type sparsevec must be at least 1")
          require(n <= graft.functions.SparseVec.MaxDims,
            s"dimensions for type sparsevec cannot be greater than ${graft.functions.SparseVec.MaxDims}")
          SparseLiteralExpr(args.head, n)
        }
      }),
  )

  /** pgvector's NAMED function surface (r16): the docs' function
    * names resolve to the same builders as the vec_* kernels, so
    * `SELECT l2_distance(embedding, '[...]'::vector)` ports verbatim.
    * `inner_product` is pgvector's POSITIVE dot (the `<#>` operator is
    * the negated one). `binary_quantize` returns the engine's packed
    * int64 words rather than a pg `bit(n)` value (the documented
    * storage deviation); `hamming_distance`/`jaccard_distance` consume
    * those words. halfvec/sparsevec overload dispatch has no Spark
    * analogue — those columns use the vec_half_* / sparse_* names. */
  private val pgAliases: Seq[(String, String)] = Seq(
    "l2_distance" -> "vec_l2",
    "inner_product" -> "vec_dot",
    "cosine_distance" -> "vec_cos_dist",
    "l1_distance" -> "vec_l1",
    "vector_dims" -> "vec_dims",
    "vector_norm" -> "vec_norm",
    "l2_normalize" -> "vec_l2_normalize",
    "binary_quantize" -> "vec_binary_quantize",
    "subvector" -> "vec_subvector",
    "hamming_distance" -> "vec_hamming",
    "jaccard_distance" -> "vec_jaccard")

  /** builders ++ the pgvector-named aliases, sharing usage/builder. */
  private[graft] val allBuilders: Seq[(String, String, Seq[Expression] => Expression)] = {
    val byName = builders.map(t => t._1 -> t).toMap
    builders ++ pgAliases.map { case (alias, target) =>
      val (_, usage, b) = byName(target)
      (alias, s"$alias - pgvector name for $target. $usage", b)
    }
  }

  /** Runtime registration into an existing session (the
    * `withExtensions` path only applies at session construction). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    allBuilders.foreach { case (name, _, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[VectorDistanceExpr].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.allBuilders.foreach { case (name, usage, b) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
    // pgvector operator syntax (`<->`, `<=>`, `<#>`, `<+>`, `<~>`,
    // `<%>`, `'[...]'::vector`) — the reference's literal SQL parses
    // unmodified ([[graft.plans.PgVectorParser]])
    e.injectParser((_, delegate) => new graft.plans.PgVectorParser(delegate))
    // one-column sparsevec dispatch (r17): operands typed as the
    // sparse struct swap the dense kernel for SparseStructDistExpr
    // post-resolution ([[graft.plans.SparseColumnRule]])
    e.injectResolutionRule(_ => new graft.plans.SparseColumnRule)
    // plans the hnsw-served top-k ([[graft.plans.HnswProbeRule]])
    e.injectPlannerStrategy(_ => graft.plans.HnswTopKStrategy)
  }
}
