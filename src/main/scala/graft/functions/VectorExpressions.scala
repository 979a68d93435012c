package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector hot path: a single fused
  * loop over both arrays with whole-stage codegen — no per-element
  * lambda dispatch, no intermediate zipped array allocation, unlike
  * the `zip_with`+`aggregate` composition in [[VectorFunctions]].
  *
  * Semantics are identical to [[VectorFunctions]] (and therefore to
  * the DuckDB oracle): each element cast FLOAT→DOUBLE, accumulated
  * sequentially in element order.
  *
  * `mode` fuses the three pgvector metrics into one operator:
  *  - dot: Σ aᵢbᵢ
  *  - l2:  √Σ (aᵢ-bᵢ)²
  *  - cos: 1 - Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²)   (single pass, three accumulators)
  */
object VectorDistance {
  sealed trait Mode { def id: Int }
  case object Dot extends Mode { val id = 0 }
  case object L2 extends Mode { val id = 1 }
  case object CosineDist extends Mode { val id = 2 }
  case object CosineSim extends Mode { val id = 3 }
  case object L1 extends Mode { val id = 4 }

  import GraftSqlBridge.{toColumn, toExpression}

  def dot(a: Column, b: Column): Column =
    toColumn(VectorDistanceExpr(toExpression(a), toExpression(b), Dot.id))
  def l2(a: Column, b: Column): Column =
    toColumn(VectorDistanceExpr(toExpression(a), toExpression(b), L2.id))
  /** pgvector `<+>` (taxicab / manhattan): Σ|aᵢ−bᵢ|. */
  def l1(a: Column, b: Column): Column =
    toColumn(VectorDistanceExpr(toExpression(a), toExpression(b), L1.id))
  def cosineDistance(a: Column, b: Column): Column =
    toColumn(VectorDistanceExpr(toExpression(a), toExpression(b), CosineDist.id))
  def cosineSimilarity(a: Column, b: Column): Column =
    toColumn(VectorDistanceExpr(toExpression(a), toExpression(b), CosineSim.id))
  def negativeInnerProduct(a: Column, b: Column): Column = -dot(a, b)
}

case class VectorDistanceExpr(left: Expression, right: Expression, mode: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"vector expr needs array<float|double>, got $t")
  }

  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) {
      // pgvector and DuckDB both raise on mismatched dimensions; a
      // silent min-length loop would bias distances small and let a
      // corrupt short vector win top-k
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${a.numElements()} vs ${b.numElements()}")
    }
    val n = a.numElements()
    var dot = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    if (mode == VectorDistance.Dot.id) {
      while (i < n) {
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y
        i += 1
      }
      dot
    } else if (mode == VectorDistance.L2.id) {
      while (i < n) {
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        val d = x - y
        dot += d * d
        i += 1
      }
      math.sqrt(dot)
    } else if (mode == VectorDistance.L1.id) {
      while (i < n) {
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += math.abs(x - y)
        i += 1
      }
      dot
    } else {
      while (i < n) {
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y
        aa += x * x
        bb += y * y
        i += 1
      }
      // clamp to [-1, 1]: rounding can push v·v/|v||v| to 1+2ulp;
      // DuckDB and pgvector both clamp, so the oracle does too
      val sim0 = dot / (math.sqrt(aa) * math.sqrt(bb))
      val sim = math.max(-1.0, math.min(1.0, sim0))
      if (mode == VectorDistance.CosineDist.id) 1.0 - sim else sim
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getL = if (leftFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
               else (v: String, i: String) => s"$v.getDouble($i)"
    val getR = if (rightFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
               else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val body = mode match {
        case 0 =>
          s"""
           double $acc = 0.0;
           for (int $i = 0; $i < $n; $i++) {
             $acc += ${getL(a, i)} * ${getR(b, i)};
           }
           ${ev.value} = $acc;"""
        case 1 =>
          s"""
           double $acc = 0.0;
           for (int $i = 0; $i < $n; $i++) {
             double $d = ${getL(a, i)} - ${getR(b, i)};
             $acc += $d * $d;
           }
           ${ev.value} = java.lang.Math.sqrt($acc);"""
        case 4 =>
          s"""
           double $acc = 0.0;
           for (int $i = 0; $i < $n; $i++) {
             $acc += java.lang.Math.abs(${getL(a, i)} - ${getR(b, i)});
           }
           ${ev.value} = $acc;"""
        case m =>
          val sim = ctx.freshName("sim")
          val out = if (m == 2) s"1.0 - $sim" else sim
          s"""
           double $acc = 0.0; double $aa = 0.0; double $bb = 0.0;
           for (int $i = 0; $i < $n; $i++) {
             double $x = ${getL(a, i)};
             double $y = ${getR(b, i)};
             $acc += $x * $y; $aa += $x * $x; $bb += $y * $y;
           }
           double $sim = $acc / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
           $sim = java.lang.Math.max(-1.0, java.lang.Math.min(1.0, $sim));
           ${ev.value} = $out;"""
      }
      s"""
       if ($a.numElements() != $b.numElements()) {
         throw new IllegalArgumentException(
           "vector dimension mismatch: " + $a.numElements() + " vs " + $b.numElements());
       }
       final int $n = $a.numElements();
       $body"""
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Feature-hash embedding in ONE pass: input = the per-token dim
  * hashes (array<long>, values in [0, dims)), output = the
  * L2-normalized per-dimension count vector (array<double>).
  *
  * The HOF composition this replaces
  * ([[graft.pipeline.Ingest.embedFromHashes]]:
  * `transform(sequence(0, dims-1), i -> size(filter(hashes, h -> h = i)))`)
  * scans the hash array once PER DIMENSION — O(dims·|tokens|) per row
  * (measured 25-34 s to materialize the embedding column for the
  * sf0.1 PDF corpus vs ~2.4 s without it). This expression is the
  * histogram loop any hand-written embedder would run —
  * O(|tokens| + dims) — with whole-stage codegen, and is
  * semantics-identical including the empty-input case: zero counts
  * stay the ZERO vector (division skipped at norm 0), honoring the
  * [[graft.pipeline.Embedder]] zero-safe contract, exactly like the
  * HOF form's zero-safe l2Normalize.
  */
case class FeatureHashEmbedExpr(child: Expression, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"feature_hash_embed needs array<bigint> dim hashes, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Double](dims)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      if (h >= 0 && h < dims) counts(h.toInt) += 1.0
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < dims) { ss += counts(i) * counts(i); i += 1 }
    val norm = math.sqrt(ss)
    if (norm != 0.0) { // zero-safe: empty input embeds to the zero vector
      i = 0
      while (i < dims) { counts(i) /= norm; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val counts = ctx.freshName("counts")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val ss = ctx.freshName("ss")
      val norm = ctx.freshName("norm")
      s"""
       double[] $counts = new double[$dims];
       final int $n = $hs.numElements();
       for (int $i = 0; $i < $n; $i++) {
         long $h = $hs.getLong($i);
         if ($h >= 0 && $h < $dims) $counts[(int) $h] += 1.0;
       }
       double $ss = 0.0;
       for (int $i = 0; $i < $dims; $i++) $ss += $counts[$i] * $counts[$i];
       double $norm = java.lang.Math.sqrt($ss);
       if ($norm != 0.0) for (int $i = 0; $i < $dims; $i++) $counts[$i] /= $norm;
       ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($counts);"""
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Ranked nearest-centroids in ONE bounded-selection pass — the IVF
  * assignment kernel (VERDICT r5 #1 follow-through). The centroid
  * table rides along as a PLAIN FIELD of the expression (driver
  * metadata, like [[graft.plans.IvfCatalog]]'s — nlist rows, KB-MB
  * scale), so per row the eval is O(nlist·dims) flat-array arithmetic
  * plus an O(nlist·spill) insertion — no per-row struct allocation,
  * no O(nlist log nlist) sort, no exchange. Measured at 200k rows ×
  * 128 cells (round 6, commit ff4e2de): 0.34 s vs 2.07 s for the old
  * crossJoin+window exchange (6×, identical assignment checksum) and
  * vs 4.27 s for the interim array-HOF composition
  * (transform → array_sort → slice), which paid boxed struct
  * construction and a full sort per row.
  *
  * Distance semantics match [[VectorDistance]] L2 (sequential
  * accumulation, FLOAT cast to DOUBLE, min-length loop); ties break
  * on ascending centroid id exactly like the ranked-struct sort.
  * Interpreted eval only (CodegenFallback): embedding a megabyte
  * centroid matrix into generated Java source would bloat janino
  * far past its limits, and the eval body is already tight JVM code.
  */
case class NearestCellsExpr(child: Expression,
    centroidIds: Array[Int], centroids: Array[Array[Double]], spill: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(spill >= 1, "spill must be >= 1")
  require(centroidIds.length == centroids.length, "ids/centroids length mismatch")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cells needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val q = if (isFloat) {
      val a = new Array[Double](v.numElements())
      var i = 0
      while (i < a.length) { a(i) = v.getFloat(i).toDouble; i += 1 }
      a
    } else v.toDoubleArray()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NearestCellsExpr.nearest(q, centroidIds, centroids, spill))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCellsExpr {
  /** The kernel: the `spill` nearest `centroids` to `v` (at most
    * nlist), ranked by (L2 distance, centroid id) ascending. The
    * corpus assignment ([[NearestCellsExpr.nullSafeEval]]) and the
    * driver-side query routing ([[graft.operators.Hnsw.Centroids]])
    * both call it, so a vector and a query rank cells alike. */
  def nearest(v: Array[Double], centroidIds: Array[Int],
      centroids: Array[Array[Double]], spill: Int): Array[Int] = {
    val k = math.min(spill, centroidIds.length)
    val bestD = new Array[Double](k)
    val bestI = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(v.length, cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = v(i) - cent(i); s += d * d; i += 1 }
      val dist = math.sqrt(s)
      val id = centroidIds(c)
      // insertion position by (dist, id) ascending; ids are unique
      if (filled < k || dist < bestD(filled - 1) ||
          (dist == bestD(filled - 1) && id < bestI(filled - 1))) {
        var p = if (filled < k) filled else k - 1
        while (p > 0 && (dist < bestD(p - 1) ||
            (dist == bestD(p - 1) && id < bestI(p - 1)))) {
          bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestD(p) = dist; bestI(p) = id
        if (filled < k) filled += 1
      }
      c += 1
    }
    if (filled == k) bestI else java.util.Arrays.copyOf(bestI, filled)
  }
}

/** Sign-bit packing for binary vector quantization (the pgvector
  * `bit(n)` / binary-quantization mode): bit i is set iff vᵢ > 0,
  * packed little-endian into ⌈dims/64⌉ longs — a 32× compression of
  * float vectors, 8× beyond PQ's usual codes, with distance reduced
  * to XOR+popcount. One pass per row, no allocation beyond the
  * output words. */
case class SignPackExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_pack needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val words = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      if (x > 0.0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IEEE 754 binary16 conversion — the pgvector `halfvec` storage
  * precision. Hand-rolled because `Float.floatToFloat16` arrived in
  * Java 20 and this library pins Java 17; the bit algorithm is the
  * textbook one (sign through, exponent rebias 127→15, 10-bit
  * mantissa with round-half-up, subnormal flush via shifted
  * round-add, ±inf saturation past 65504). Deterministic by
  * construction — the SAME rounding on every executor and on the
  * driver (query packing), which is all the gated halfvec contract
  * needs. */
object Half {
  def toHalfBits(f: Float): Short = {
    val fbits = java.lang.Float.floatToIntBits(f)
    val sign = (fbits >>> 16) & 0x8000
    val em = fbits & 0x7fffffff
    if (em >= 0x7f800000) { // inf / NaN propagate
      if (em > 0x7f800000) (sign | 0x7e00).toShort
      else (sign | 0x7c00).toShort
    } else {
      val rounded = em + 0x1000 // round-half-up at the dropped bit 12
      if (rounded >= 0x47800000) (sign | 0x7c00).toShort // overflow → ±inf
      else if (rounded >= 0x38800000) // normal half
        (sign | ((rounded - 0x38000000) >>> 13)).toShort
      else if (em < 0x33000000) sign.toShort // underflow → ±0
      else { // subnormal half: add implicit bit, shift by unbiased exp
        val e = em >>> 23
        val mant = (em & 0x7fffff) | 0x800000
        val shift = 126 - e
        (sign | ((mant + (0x800000 >>> (e - 102))) >>> shift)).toShort
      }
    }
  }

  def fromHalfBits(h: Short): Float = {
    val hbits = h & 0xffff
    var mant = hbits & 0x03ff
    var exp = hbits & 0x7c00
    if (exp == 0x7c00) exp = 0x3fc00 // inf / NaN
    else if (exp != 0) exp += 0x1c000 // normal: rebias 15→127
    else if (mant != 0) { // subnormal: normalize
      exp = 0x1c400
      while ((mant & 0x400) == 0) { mant <<= 1; exp -= 0x400 }
      mant &= 0x3ff
    }
    java.lang.Float.intBitsToFloat(((hbits & 0x8000) << 16) | ((exp | mant) << 13))
  }

  /** Driver-side packing twin of [[HalfPackExpr]] (query vectors). */
  def pack(v: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](v.length * 2)
    var i = 0
    while (i < v.length) {
      val h = toHalfBits(v(i).toFloat)
      out(2 * i) = (h & 0xff).toByte
      out(2 * i + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def unpackToDouble(b: Array[Byte]): Array[Double] = {
    val out = new Array[Double](b.length / 2)
    var i = 0
    while (i < out.length) {
      val h = ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)).toShort
      out(i) = fromHalfBits(h).toDouble
      i += 1
    }
    out
  }
}

/** Float16 packing for halfvec storage (pgvector `halfvec`): each
  * element rounded to IEEE binary16 and packed little-endian into a
  * binary column — HALF the scan bytes of float32 at ~3 decimal
  * digits of precision, the standard memory/recall trade for stored
  * embeddings. One pass per row. */
case class HalfPackExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_pack needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i) else v.getDouble(i).toFloat
      val h = Half.toHalfBits(x)
      out(2 * i) = (h & 0xff).toByte
      out(2 * i + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Inverse of [[HalfPackExpr]]: a packed binary16 column back to
  * array<float> — what lets a half-packed STORE expose the original
  * vector column name through a view (the halfvec-opclass DDL route,
  * r13): the scan reads the 2-byte codes (ReadSchema shows only the
  * packed column), the projection widens, and every downstream
  * distance sees pgvector's halfvec values (float16-rounded). */
case class HalfUnpackExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_unpack needs a binary halfvec column, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val h = ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)).toShort
      out(i) = Half.fromHalfBits(h)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distance between a packed halfvec column ([[HalfPackExpr]] output)
  * and one dequantized query (driver metadata, already half-rounded):
  * elements dequantize binary16→double and accumulate with the SAME
  * sequential-order contract as [[VectorDistanceExpr]]. Supports the
  * L2 / L1 / dot modes and (r16, so every pgvector halfvec operator
  * `<->`/`<#>`/`<=>`/`<+>` has a servable kernel) cosine distance —
  * one pass, three accumulators, the [[VectorDistance.CosineDist]]
  * formula 1 − dot/(√Σx²·√Σq²). */
case class HalfDistExpr(child: Expression, query: Array[Double], mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_dist needs a binary halfvec, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length / 2
    if (n != query.length)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $n vs ${query.length}")
    var acc = 0.0
    var na = 0.0 // Σx² / Σq² accumulators, cosine mode only
    var nb = 0.0
    var i = 0
    while (i < n) {
      val h = ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)).toShort
      val x = Half.fromHalfBits(h).toDouble
      if (mode == VectorDistance.L2.id) { val d = x - query(i); acc += d * d }
      else if (mode == VectorDistance.L1.id) acc += math.abs(x - query(i))
      else if (mode == VectorDistance.CosineDist.id) {
        acc += x * query(i); na += x * x; nb += query(i) * query(i)
      } else acc += x * query(i)
      i += 1
    }
    if (mode == VectorDistance.L2.id) math.sqrt(acc)
    else if (mode == VectorDistance.CosineDist.id) {
      // clamp to [-1, 1] before the 1-x combination: rounding can push
      // dot/(|x||q|) past ±1; DuckDB and pgvector both clamp, matching
      // VectorDistanceExpr's dense kernel and SparseDistExpr
      val sim = math.max(-1.0, math.min(1.0, acc / (math.sqrt(na) * math.sqrt(nb))))
      1.0 - sim
    } else acc
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between a packed sign-bit column
  * ([[SignPackExpr]] output) and one query's packed words (driver
  * metadata): Σ popcount(aᵢ XOR qᵢ) — the binary-quantized search's
  * corpus-pass distance. */
case class HammingDistExpr(child: Expression, query: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hamming_dist needs array<bigint> packed bits, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), query.length)
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ query(i))
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard distance between a packed sign-bit column and one query's
  * packed words (pgvector `<%>` over `bit(n)`, jaccard_distance):
  * 1 − |A∩B| / |A∪B| with A/B the set-bit positions — intersection is
  * popcount(aᵢ AND qᵢ), union popcount(aᵢ OR qᵢ), accumulated as
  * integers so the only float op is the single final division
  * (bit-exact against any oracle that does the same). Both-empty
  * vectors are defined as distance 0 (identical empty sets). */
case class JaccardDistExpr(child: Expression, query: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaccard_dist needs array<bigint> packed bits, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), query.length)
    var inter = 0L
    var union = 0L
    var i = 0
    while (i < n) {
      val w = a.getLong(i)
      inter += java.lang.Long.bitCount(w & query(i))
      union += java.lang.Long.bitCount(w | query(i))
      i += 1
    }
    // words beyond the shorter side contribute their own bits to the union
    while (i < query.length) { union += java.lang.Long.bitCount(query(i)); i += 1 }
    while (i < a.numElements()) { union += java.lang.Long.bitCount(a.getLong(i)); i += 1 }
    if (union == 0L) 0.0 else 1.0 - inter.toDouble / union.toDouble
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Pack a float vector to SQ8 codes (1 byte/dim): per-dimension
  * affine quantization `code = round((x − min_d) / scale_d · 255)`,
  * clamped to [0, 255]. `mins`/`scales` are trained per-dim corpus
  * statistics ([[graft.operators.ScalarQuant.trainParams]]) riding
  * the expression as driver metadata — the NearestCellsExpr
  * discipline: no join against a params table, no shuffle. A
  * zero-range dimension (scale 0) codes to 0 and dequantizes to its
  * constant. 4× smaller than float32, 2× smaller than halfvec, with
  * per-dim adaptive range instead of binary16's global format. */
case class SqPackExpr(child: Expression,
    mins: Array[Double], scales: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_pack needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != mins.length)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $n vs ${mins.length}")
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      val c =
        if (scales(i) == 0.0) 0
        else {
          val r = math.round((x - mins(i)) / scales(i) * 255.0).toInt
          if (r < 0) 0 else if (r > 255) 255 else r
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric SQ8 distance: the stored codes dequantize
  * (`min_d + code/255 · scale_d`) against the UNQUANTIZED query —
  * the standard asymmetric-distance trick (query precision is free,
  * only the corpus is compressed). Same sequential accumulation
  * contract and modes as [[HalfDistExpr]]. */
case class SqDistExpr(child: Expression, query: Array[Double],
    mins: Array[Double], scales: Array[Double], mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_dist needs a binary SQ8 column, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length
    if (n != query.length)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $n vs ${query.length}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = mins(i) + (b(i) & 0xff).toDouble / 255.0 * scales(i)
      if (mode == VectorDistance.L2.id) { val d = x - query(i); acc += d * d }
      else if (mode == VectorDistance.L1.id) acc += math.abs(x - query(i))
      else acc += x * query(i)
      i += 1
    }
    if (mode == VectorDistance.L2.id) math.sqrt(acc) else acc
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unit-normalize a vector in one pass (pgvector `l2_normalize`):
  * norm² accumulates in element order (the §3 sequential contract),
  * then each element divides by the square root. A zero vector (or
  * non-finite norm) passes through unchanged — the pgvector edge
  * behavior callers rely on for all-zero embeddings. Output is
  * array<double> regardless of input width, matching the dense
  * kernel's FLOAT→DOUBLE cast. */
case class L2NormalizeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_normalize needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Double](n)
    var norm2 = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = x
      norm2 += x * x
      i += 1
    }
    val norm = math.sqrt(norm2)
    if (norm > 0.0 && java.lang.Double.isFinite(norm)) {
      i = 0
      while (i < n) { out(i) /= norm; i += 1 }
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The pgvector text-format vector literal — `'[0.1, -2, 3e-1]'` —
  * as an array<double> expression ([[graft.plans.PgVectorParser]]
  * rewrites `'[...]'::vector` to `vec_literal('[...]')` and
  * `'[...]'::vector(n)` to `vec_literal('[...]', n)`). Numeric ARRAY
  * children pass through with the same typmod check (pgvector's
  * `real[]::vector` / `ARRAY[...]::halfvec` casts, r16). Foldable
  * when the child is (a string literal always is), so constant
  * folding collapses it to a Literal array and the IvfProbeRule's
  * literal-query rewrite fires on the reference's verbatim SQL.
  * `expectedDims > 0` is the typmod: pgvector rejects a literal whose
  * dimension count differs ("expected N dimensions, not M"). */
case class VecLiteralExpr(child: Expression, expectedDims: Int = -1)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      // pgvector also casts float arrays (`real[]::vector`,
      // `ARRAY[...]::halfvec`) — pass numeric arrays through with the
      // same typmod check (r16)
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      // pgvector's `sparsevec::vector` cast (r17): the one-column
      // sparse struct expands to a dense vector
      case t if graft.functions.SparseVec.isSparseStructType(t) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_literal needs a '[x, y, ...]' string, a numeric array, " +
          s"or a sparsevec struct, got $t")
    }

  override def nullSafeEval(input: Any): Any = child.dataType match {
    case t if graft.functions.SparseVec.isSparseStructType(t) =>
      // dense expansion: pgvector's vector caps at 16000 dimensions,
      // so a wide sparsevec refuses the cast exactly as pg does
      val row = input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val dims = row.getInt(2)
      if (dims > 16000)
        throw new IllegalArgumentException(
          "vector cannot have more than 16000 dimensions")
      if (expectedDims > 0 && dims != expectedDims)
        throw new IllegalArgumentException(
          s"expected $expectedDims dimensions, not $dims")
      val idx = row.getArray(0)
      val vals = row.getArray(1)
      val out = new Array[Double](dims)
      var i = 0
      while (i < idx.numElements()) {
        out(idx.getLong(i).toInt - 1) = vals.getDouble(i)
        i += 1
      }
      ArrayData.toArrayData(out)
    case ArrayType(et, _) =>
      val a = input.asInstanceOf[ArrayData]
      // toDoubleArray/toLongArray NPE on null elements; pgvector's
      // real[]::vector cast raises a clear error instead — match that
      var ni = 0
      while (ni < a.numElements()) {
        if (a.isNullAt(ni))
          throw new IllegalArgumentException("array must not contain nulls")
        ni += 1
      }
      val out = et match {
        case DoubleType => a.toDoubleArray()
        case org.apache.spark.sql.types.FloatType => a.toFloatArray().map(_.toDouble)
        case org.apache.spark.sql.types.LongType => a.toLongArray().map(_.toDouble)
        case _ => a.toIntArray().map(_.toDouble)
      }
      if (expectedDims > 0 && out.length != expectedDims)
        throw new IllegalArgumentException(
          s"expected $expectedDims dimensions, not ${out.length}")
      ArrayData.toArrayData(out)
    case _ => evalText(input)
  }

  private def evalText(input: Any): Any = {
    val s = input.toString.trim
    require(s.startsWith("[") && s.endsWith("]"),
      s"malformed vector literal (expected '[x, y, ...]'): $s")
    val body = s.substring(1, s.length - 1).trim
    val out =
      if (body.isEmpty) Array.empty[Double]
      else body.split(",").map { tok =>
        try tok.trim.toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"malformed vector literal element '${tok.trim}' in: $s")
        }
      }
    if (expectedDims > 0 && out.length != expectedDims)
      throw new IllegalArgumentException(
        s"expected $expectedDims dimensions, not ${out.length}")
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
