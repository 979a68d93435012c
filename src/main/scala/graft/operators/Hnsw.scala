package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Graph ANN (HNSW-class) — the pgvector index family the IVF/LSH/PQ
  * trio does not cover (pgvector `USING hnsw`; Malkov & Yashunin,
  * arXiv:1603.09320). Graph search does not partition the vector
  * space, so its recall does not degrade on isotropic corpora the way
  * cell probing does — the beam walks TOWARD the query wherever it
  * lives — at the price of a build that is inherently sequential per
  * graph.
  *
  * Spark-native shape: PARTITION-LOCAL graphs + cross-partition merge
  * (the design used by the hnswlib-on-Spark integrations). Build is
  * one `mapPartitions` pass — each task builds an in-memory HNSW over
  * its partition and emits it as ONE (part_id, blob) row; no shuffle,
  * no driver involvement, embarrassingly parallel across partitions.
  * Search fetches the graph blobs it needs to the driver (all P of a
  * flat store, only the probed cells of a routed one), parses each
  * once into the bounded [[WalkCache]], runs the ef-beam walk per
  * graph (O(ef·log n) distance evaluations against n/P vectors) and
  * merges the per-graph top-k exactly — k·P candidates per query,
  * never the corpus. At 100 TB: size partitions so one graph blob
  * (~(dims·8 + M·8) bytes/vector) fits the walker's heap — the
  * standard memory/recall knob of every serving-grade graph index.
  *
  * Determinism: the level draw is a hash of the vector id (not an
  * RNG), and insertion order is the partition iterator order, so a
  * fixed layout yields a fixed graph — the recall gate measures a
  * stable number.
  */
object Hnsw {

  /** Growable UNBOXED int list for adjacency (r18 — VERDICT r17 #4,
    * guide §5 allocation in the build hot loop): `ArrayBuffer[Int]`
    * stores boxed `java.lang.Integer`s (~20 B + a pointer chase per
    * neighbor read), and the insert loop reads/rewrites neighbor lists
    * in `beam`, `greedy` and the bidirectional prune constantly. Same
    * append order, same values: graph structure, blob bytes and every
    * walk are bit-identical to the boxed form (HnswIntBufSpec pins the
    * op-sequence equivalence; HnswSpec re-gates roundtrip + walks).
    * Value equality compares contents, so spec-level `==` on adjacency
    * keeps meaning what it meant for ArrayBuffer. */
  private[graft] final class IntBuf(initialCapacity: Int = 4) {
    private var a = new Array[Int](math.max(1, initialCapacity))
    private var n = 0
    def length: Int = n
    def isEmpty: Boolean = n == 0
    def apply(i: Int): Int = {
      if (i >= n) throw new IndexOutOfBoundsException(s"$i of $n")
      a(i)
    }
    def +=(x: Int): this.type = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = x; n += 1; this
    }
    def clear(): Unit = n = 0
    def toSeq: Seq[Int] = toArray.toSeq
    def toArray: Array[Int] = java.util.Arrays.copyOfRange(a, 0, n)
    override def equals(o: Any): Boolean = o match {
      case b: IntBuf =>
        b.n == n && java.util.Arrays.equals(a, 0, n, b.a, 0, n)
      case _ => false
    }
    override def hashCode(): Int = {
      var h = 1; var i = 0
      while (i < n) { h = 31 * h + a(i); i += 1 }
      h
    }
    override def toString: String = toSeq.mkString("IntBuf(", ", ", ")")
  }

  /** Distance kernels a graph can be built WITH — persisted in the
    * blob (v2), so build and every later walk run the same arithmetic.
    * pgvector's hnsw AM builds and searches with the opclass distance
    * (vector_l2_ops / _cosine_ops / _ip_ops / _l1_ops); a graph built
    * under one metric descends wrong under another (inner product
    * favors large-norm vectors an L2 descent never reaches), so the
    * metric is index STATE, not a search-time argument. */
  object Metric {
    val L2 = 0; val Cosine = 1; val Ip = 2; val L1 = 3
    /** Bit metrics (pgvector `bit_hamming_ops` / `bit_jaccard_ops`,
      * r13): node vectors are 0/1 doubles — one element per BIT of the
      * packed array<bigint> column the index is declared on
      * ([[expandWords]]; LSB-first, the
      * [[graft.operators.BinaryQuant.pack]] order). 0 and 1 are exact
      * in binary16, so bit graphs always use half storage (2 bytes/
      * bit — 16× pgvector's 1 bit/bit, the documented storage
      * deviation; distances are bit-exact either way). Hamming counts
      * disagreements (≡ the integer [[graft.functions
      * .HammingDistExpr]] the SELECT re-ranks with); jaccard is
      * 1 − |A∩B|/|A∪B| with both-empty defined as 0, matching
      * [[graft.functions.JaccardDistExpr]]. */
    val Hamming = 4; val Jaccard = 5
    def of(s: String): Int = s match {
      case "l2" => L2
      case "cosine" => Cosine
      case "ip" => Ip
      case "l1" => L1
      case "hamming" => Hamming
      case "jaccard" => Jaccard
      case other => throw new IllegalArgumentException(
        s"no hnsw distance kernel for metric '$other' " +
          "(have l2/cosine/ip/l1/hamming/jaccard)")
    }
  }

  /** Packed sign-bit words → 0/1 doubles, LSB-first within each word
    * (bit j of word i is element 64·i + j — the exact
    * [[BinaryQuant.pack]] inverse, and Spark SQL's `bit_get` order, so
    * the DDL build's column-side expansion and this query-side
    * expansion see identical layouts). */
  def expandWords(words: Array[Long]): Array[Double] = {
    val out = new Array[Double](words.length * 64)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var j = 0
      while (j < 64) { out(i * 64 + j) = (w >>> j) & 1L; j += 1 }
      i += 1
    }
    out
  }

  // ---------------------------------------------------------- queries
  /** One vector a graph is built from or walked with — the single
    * query type of every entry point, as pgvector's one hnsw access
    * method serves every opclass. [[Dense]] covers vector, halfvec
    * (values already half-rounded) and bit (the 0/1 expansion of the
    * packed words, [[expandWords]]); [[Sparse]] is a sparsevec's
    * sorted-ascending dimension ids with their aligned values. A
    * graph accepts only its own kind ([[Index.qdist]] resolves the
    * kind once per (query, graph)). */
  sealed trait Query
  final case class Dense(values: Array[Double]) extends Query
  final case class Sparse(indices: Array[Long], values: Array[Double]) extends Query

  /** How a DataFrame column holds its vectors, read from the schema
    * (no analysis pass — serving calls this per micro-batch): a
    * top-level struct with `indices` and `values` fields (the
    * one-column sparsevec, or [[sparseColumn]] over a column pair) is
    * [[Sparse]]; anything else casts to array<double> and is
    * [[Dense]]. */
  private def isSparseColumn(df: DataFrame, vecCol: String): Boolean =
    df.schema.find(_.name == vecCol).map(_.dataType) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        st.fieldNames.contains("indices") && st.fieldNames.contains("values")
      case _ => false
    }

  /** The columns to project in place of `vecCol` ([[isSparseColumn]]
    * decides the kind) and the decoder of a projected row's query from
    * column position `at`. */
  private[graft] def queryColumns(df: DataFrame, vecCol: String)
      : (Seq[org.apache.spark.sql.Column], (Row, Int) => Query) =
    if (isSparseColumn(df, vecCol))
      (Seq(col(vecCol).getField("indices").cast("array<bigint>"),
          col(vecCol).getField("values").cast("array<double>")),
        (r, at) => Sparse(r.getSeq[Long](at).toArray, r.getSeq[Double](at + 1).toArray))
    else
      (Seq(col(vecCol).cast("array<double>")),
        (r, at) => Dense(r.getSeq[Double](at).toArray))

  /** A dense query rounded to binary16 — the values a half graph
    * stores and walks (pgvector casts both sides of a halfvec
    * operator); sparse queries pass through. */
  private[graft] def halfRounded(q: Query): Query = q match {
    case Dense(v) => Dense(graft.functions.Half.unpackToDouble(graft.functions.Half.pack(v)))
    case other => other
  }

  /** The sparse vector column over an (indices, values) column pair —
    * what the DataFrame entry points read as [[Sparse]]. */
  def sparseColumn(indices: String, values: String): org.apache.spark.sql.Column =
    struct(col(indices).as("indices"), col(values).as("values"))

  // ---------------------------------------------------------- local index
  /** One in-memory HNSW graph (metric from [[Metric]], default L2).
    * `m` = neighbors per node per layer (2m at layer 0), `efC` =
    * construction beam.
    * Deliberately NOT java-Serializable: blobs go through the explicit
    * binary layout in [[Hnsw.ser]]/[[Hnsw.deser]], which is stable
    * across Scala/JVM/library versions and deserializes data only
    * (ObjectInputStream over a blob column would instantiate arbitrary
    * classes — a stored-data deserialization gadget risk).
    *
    * `half = true` stores vectors as IEEE binary16 in the blob —
    * HALF the index bytes, the pgvector `halfvec_*` opclass storage
    * trade. Vectors must be half-ROUNDED before insert (the build
    * helpers do it), so build-time and serve-time arithmetic see the
    * same values and ser/deser is lossless.
    *
    * `sparse = true` (r14 — pgvector `sparsevec_*_ops` on hnsw):
    * every node carries an (indices, values) pair — `idxs(n)` holds
    * the sorted-ascending int64 dimension ids, `vecs(n)` the aligned
    * values — and distances run the two-pointer merge kernel
    * ([[graft.functions.SparseDistExpr]]'s contract) under the SAME
    * metric ids. Ragged rows need no format tricks: blob v4 writes
    * the idx arrays alongside the (already variable-length) value
    * arrays. half is refused for sparse (pgvector's sparsevec is
    * fp32; a binary16 sparse store has no parity target). */
  final class Index(val m: Int, val efC: Int, val metric: Int = Metric.L2,
      val half: Boolean = false, val sparse: Boolean = false) {
    require(!(half && sparse), "sparse graphs store full-width values (no halfvec sparse)")
    require(!sparse || metric <= Metric.L1,
      "sparse graphs support l2/cosine/ip/l1 (bit metrics are dense 0/1 walks)")
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    /** sparse only: idxs(n) = node n's sorted dimension ids. */
    val idxs = mutable.ArrayBuffer.empty[Array[Long]]
    val nodeLevel = mutable.ArrayBuffer.empty[Int]
    /** links(node)(level) = neighbor node indices (unboxed, r18). */
    val links = mutable.ArrayBuffer.empty[Array[IntBuf]]
    var entry: Int = -1
    var maxLevel: Int = -1

    /** Per-node squared norms for the COSINE kernels (r17, guide
      * §1.2 per-task work): the old kernels re-folded both operands'
      * norms inside every distance call — O(len) redundant work per
      * call in the build/walk hot loop. Each norm is the exact fold
      * the per-call loops used (ascending index order over the full
      * value array), computed once per node; query-side norms fold
      * once per query in [[qdist]]. Distances are therefore
      * BIT-IDENTICAL — same add sequence per accumulator, same
      * sqrt/divide — so graphs, walks, dumps and every oracle replay
      * are unchanged (HnswSpec/RecallGateSpec regate this). Not
      * serialized: [[Hnsw.deser]] rebuilds via [[rebuildNorms]];
      * inserts append. Only maintained for the cosine metric. */
    private val norms2 = mutable.ArrayBuffer.empty[Double]
    private def norm2Of(v: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < v.length) { s += v(k) * v(k); k += 1 }
      s
    }
    private[operators] def rebuildNorms(): Unit =
      if (metric == Metric.Cosine) {
        norms2.clear()
        var i = 0
        while (i < vecs.length) { norms2 += norm2Of(vecs(i)); i += 1 }
      }

    /** The graph's own distance — ip is pgvector's `<#>` ordering
      * score (negative inner product: ascending = most similar),
      * cosine guards the zero-vector with max distance instead of
      * propagating NaN into the heaps. */
    private def dist(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var i = 0
      metric match {
        case Metric.Cosine =>
          var dot = 0.0; var aa = 0.0; var bb = 0.0
          while (i < n) { dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
          val den = math.sqrt(aa) * math.sqrt(bb)
          if (den == 0.0) 1.0 else 1.0 - dot / den
        case Metric.Ip =>
          var dot = 0.0
          while (i < n) { dot += a(i) * b(i); i += 1 }
          -dot
        case Metric.L1 =>
          var s = 0.0
          while (i < n) { s += math.abs(a(i) - b(i)); i += 1 }
          s
        case Metric.Hamming =>
          // vectors are 0/1 doubles; disagreements = the integer
          // hamming distance of the packed words (bit-exact)
          var s = 0.0
          while (i < n) { if (a(i) != b(i)) s += 1.0; i += 1 }
          s
        case Metric.Jaccard =>
          var inter = 0.0
          var uni = 0.0
          while (i < n) {
            val x = a(i) != 0.0; val y = b(i) != 0.0
            if (x && y) inter += 1.0
            if (x || y) uni += 1.0
            i += 1
          }
          if (uni == 0.0) 0.0 else 1.0 - inter / uni
        case _ =>
          var s = 0.0
          while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
          math.sqrt(s)
      }
    }

    /** Two-pointer sparse distance (both index arrays sorted
      * ascending — the [[graft.functions.SparseDistExpr]] layout).
      * Matched products accumulate in ascending index order and the
      * cosine norms fold in array order, the same determinism
      * contract as the scan kernel; with integer-valued weights every
      * accumulator is exact in any engine (the oracle replay lever). */
    private def sparseDist(ai: Array[Long], av: Array[Double],
        bi: Array[Long], bv: Array[Double]): Double = {
      var i = 0; var j = 0
      var dot = 0.0; var l2 = 0.0; var l1 = 0.0
      while (i < ai.length && j < bi.length) {
        val a = ai(i); val b = bi(j)
        if (a == b) {
          dot += av(i) * bv(j)
          val d = av(i) - bv(j); l2 += d * d; l1 += math.abs(d)
          i += 1; j += 1
        } else if (a < b) {
          l2 += av(i) * av(i); l1 += math.abs(av(i)); i += 1
        } else {
          l2 += bv(j) * bv(j); l1 += math.abs(bv(j)); j += 1
        }
      }
      while (i < ai.length) { l2 += av(i) * av(i); l1 += math.abs(av(i)); i += 1 }
      while (j < bi.length) { l2 += bv(j) * bv(j); l1 += math.abs(bv(j)); j += 1 }
      metric match {
        case Metric.Cosine =>
          var aa = 0.0; var k = 0
          while (k < av.length) { aa += av(k) * av(k); k += 1 }
          var bb = 0.0; k = 0
          while (k < bv.length) { bb += bv(k) * bv(k); k += 1 }
          val den = math.sqrt(aa) * math.sqrt(bb)
          if (den == 0.0) 1.0 else 1.0 - dot / den
        case Metric.Ip => -dot
        case Metric.L1 => l1
        case _ => math.sqrt(l2)
      }
    }

    // ---- metric-specialized kernels (r17, guide §1.2): the generic
    // kernels above fold every metric's accumulator on every call
    // (cosine also re-folding both norms); the walk loops below
    // dispatch ONCE per query/edge to a kernel that folds only what
    // its metric needs. Each specialized accumulator keeps the
    // original's add sequence exactly (same branch structure, same
    // ascending order), so every distance is bit-identical to the
    // generic kernel's — the generic forms stay as the ragged-length
    // fallback and the reference for that claim.

    /** Sorted-merge dot product only (the cosine/ip hot loop). */
    private def sparseDotOnly(ai: Array[Long], av: Array[Double],
        bi: Array[Long], bv: Array[Double]): Double = {
      var i = 0; var j = 0; var dot = 0.0
      while (i < ai.length && j < bi.length) {
        val a = ai(i); val b = bi(j)
        if (a == b) { dot += av(i) * bv(j); i += 1; j += 1 }
        else if (a < b) i += 1
        else j += 1
      }
      dot
    }

    /** Sorted-merge squared-L2 only. */
    private def sparseL2Only(ai: Array[Long], av: Array[Double],
        bi: Array[Long], bv: Array[Double]): Double = {
      var i = 0; var j = 0; var l2 = 0.0
      while (i < ai.length && j < bi.length) {
        val a = ai(i); val b = bi(j)
        if (a == b) {
          val d = av(i) - bv(j); l2 += d * d; i += 1; j += 1
        } else if (a < b) { l2 += av(i) * av(i); i += 1 }
        else { l2 += bv(j) * bv(j); j += 1 }
      }
      while (i < ai.length) { l2 += av(i) * av(i); i += 1 }
      while (j < bi.length) { l2 += bv(j) * bv(j); j += 1 }
      l2
    }

    /** Sorted-merge L1 only. */
    private def sparseL1Only(ai: Array[Long], av: Array[Double],
        bi: Array[Long], bv: Array[Double]): Double = {
      var i = 0; var j = 0; var l1 = 0.0
      while (i < ai.length && j < bi.length) {
        val a = ai(i); val b = bi(j)
        if (a == b) { l1 += math.abs(av(i) - bv(j)); i += 1; j += 1 }
        else if (a < b) { l1 += math.abs(av(i)); i += 1 }
        else { l1 += math.abs(bv(j)); j += 1 }
      }
      while (i < ai.length) { l1 += math.abs(av(i)); i += 1 }
      while (j < bi.length) { l1 += math.abs(bv(j)); j += 1 }
      l1
    }

    /** Dense dot with both norms cached (lengths must match — the
      * ragged case falls back to [[dist]], whose min-length norm
      * truncation the cache cannot reproduce). */
    private def denseCosCached(q: Array[Double], qn2: Double, node: Int): Double = {
      val v = vecs(node)
      if (v.length != q.length) return dist(q, v)
      var dot = 0.0; var i = 0
      while (i < q.length) { dot += q(i) * v(i); i += 1 }
      val den = math.sqrt(qn2) * math.sqrt(norms2(node))
      if (den == 0.0) 1.0 else 1.0 - dot / den
    }

    /** Distance-to-node closure for one query — the walk kernels are
      * representation-agnostic through it: the [[Query]] kind is
      * matched HERE, once per (query, graph), never per distance.
      * Cosine closures fold the query norm ONCE here instead of per
      * distance call. A query of the other kind fails with the fix
      * named (its arithmetic family cannot walk this graph). */
    private[Hnsw] def qdist(q: Query): Int => Double = q match {
      case Dense(qv) =>
        require(!sparse, "sparse graph: its vectors are Hnsw.Sparse(indices, values) " +
          "(a sparsevec struct column on the DataFrame paths)")
        if (metric == Metric.Cosine) {
          val qn2 = norm2Of(qv)
          n => denseCosCached(qv, qn2, n)
        } else n => dist(qv, vecs(n))
      case Sparse(qi, qv) =>
        require(sparse, "dense graph: its vectors are Hnsw.Dense(values) " +
          "(an array column on the DataFrame paths)")
        metric match {
          case Metric.Cosine =>
            val qn2 = norm2Of(qv)
            val qn = math.sqrt(qn2)
            n => {
              val den = qn * math.sqrt(norms2(n))
              if (den == 0.0) 1.0
              else 1.0 - sparseDotOnly(qi, qv, idxs(n), vecs(n)) / den
            }
          case Metric.Ip => n => -sparseDotOnly(qi, qv, idxs(n), vecs(n))
          case Metric.L1 => n => sparseL1Only(qi, qv, idxs(n), vecs(n))
          case _ => n => math.sqrt(sparseL2Only(qi, qv, idxs(n), vecs(n)))
        }
    }

    /** Node-to-node distance (edge pruning). */
    private def ndist(a: Int, b: Int): Double =
      if (!sparse) {
        if (metric == Metric.Cosine && vecs(a).length == vecs(b).length) {
          val va = vecs(a); val vb = vecs(b)
          var dot = 0.0; var i = 0
          while (i < va.length) { dot += va(i) * vb(i); i += 1 }
          val den = math.sqrt(norms2(a)) * math.sqrt(norms2(b))
          if (den == 0.0) 1.0 else 1.0 - dot / den
        } else dist(vecs(a), vecs(b))
      } else metric match {
        case Metric.Cosine =>
          val den = math.sqrt(norms2(a)) * math.sqrt(norms2(b))
          if (den == 0.0) 1.0
          else 1.0 - sparseDotOnly(idxs(a), vecs(a), idxs(b), vecs(b)) / den
        case Metric.Ip => -sparseDotOnly(idxs(a), vecs(a), idxs(b), vecs(b))
        case Metric.L1 => sparseL1Only(idxs(a), vecs(a), idxs(b), vecs(b))
        case _ => math.sqrt(sparseL2Only(idxs(a), vecs(a), idxs(b), vecs(b)))
      }

    /** Deterministic geometric level draw from the id hash (p = 1/e,
      * the standard mL = 1/ln(M') choice collapsed to base e). */
    private def levelOf(id: Long): Int = {
      val h = java.lang.Long.rotateLeft(id * -7046029254386353131L, 31) * -4417276706812531889L
      val u = ((h >>> 11).toDouble + 0.5) / 9007199254740992.0 // (0,1)
      math.min(31, (-math.log(u)).toInt)
    }

    /** Greedy 1-best descent at one level. */
    private def greedy(qd: Int => Double, start: Int, level: Int): Int = {
      var cur = start
      var curD = qd(cur)
      var improved = true
      while (improved) {
        improved = false
        val ns = links(cur)(level)
        var i = 0
        while (i < ns.length) {
          val d = qd(ns(i))
          if (d < curD) { curD = d; cur = ns(i); improved = true }
          i += 1
        }
      }
      cur
    }

    /** Explicit (dist, node) comparator — same total order as the old
      * `Ordering.by` tuple form (java.lang.Double.compare semantics on
      * the dist, node ascending as tie-break) without allocating a
      * tuple per heap comparison. */
    private val byDist: Ordering[(Int, Double)] = new Ordering[(Int, Double)] {
      def compare(x: (Int, Double), y: (Int, Double)): Int = {
        val c = java.lang.Double.compare(x._2, y._2)
        if (c != 0) c else Integer.compare(x._1, y._1)
      }
    }
    private val byDistRev = byDist.reverse

    /** Beam search at one level: returns up to `ef` (nodeIdx, dist)
      * sorted ascending by (dist, node).
      *
      * Heaps order by (dist, NODE) — r13, the oracle-replay contract:
      * a dist-only ordering left equal-distance pops, evictions and
      * the take(k) cut to heap internals, so the walk result was not
      * a pure function of (graph, query). With the lexicographic
      * tie-break every step is deterministic, which is what lets the
      * DuckDB oracle replay the walk bit-for-bit. */
    private def beam(qd: Int => Double, start: Int, level: Int, ef: Int): mutable.ArrayBuffer[(Int, Double)] = {
      val marks = visited.get()
      val gen = marks.next(ids.length)
      val stamp = marks.stamp
      stamp(start) = gen
      // candidates: min-heap by (dist, node); results: max-heap
      val cand = mutable.PriorityQueue((start, qd(start)))(byDistRev)
      val res = mutable.PriorityQueue((start, qd(start)))(byDist)
      while (cand.nonEmpty) {
        val (c, cd) = cand.dequeue()
        if (cd > res.head._2 && res.size >= ef) { cand.clear() }
        else {
          val ns = links(c)(level)
          var i = 0
          while (i < ns.length) {
            val nb = ns(i)
            if (stamp(nb) != gen) {
              stamp(nb) = gen
              val d = qd(nb)
              if (res.size < ef || d < res.head._2) {
                cand.enqueue((nb, d))
                res.enqueue((nb, d))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Int, Double)]
      out ++= res.dequeueAll.reverse
      out
    }

    /** Diverse neighbor selection (paper Algorithm 4): keep a
      * candidate only if it is closer to the base than to every
      * already-kept neighbor, then fill leftover capacity from the
      * discarded in distance order. Plain closest-cap pruning orphans
      * nodes (a point's every incoming edge can be pruned away by a
      * tight cluster near its neighbors); the diversity rule keeps
      * spanning edges, which is what makes the graph navigable. */
    private def selectDiverse(cands: Seq[(Int, Double)], cap: Int): Seq[(Int, Double)] = {
      val kept = mutable.ArrayBuffer.empty[(Int, Double)]
      val discarded = mutable.ArrayBuffer.empty[(Int, Double)]
      for ((c, dc) <- cands if kept.length < cap) {
        if (kept.forall { case (o, _) => ndist(c, o) > dc }) kept += ((c, dc))
        else discarded += ((c, dc))
      }
      kept ++= discarded.take(cap - kept.length)
      kept.toSeq
    }

    /** Insert one node: a [[Sparse]] vector's indices are sorted
      * ascending and aligned with its values (the SparseDistExpr
      * layout). The vector's kind must be the graph's. */
    def insert(id: Long, q: Query): Unit = {
      val qd = qdist(q) // the kind check runs before any state changes
      val v = q match {
        case Dense(dv) => dv
        case Sparse(si, sv) =>
          require(si.length == sv.length, "sparse (indices, values) length mismatch")
          idxs += si
          sv
      }
      val node = ids.length
      val lvl = levelOf(id)
      ids += id; vecs += v; nodeLevel += lvl
      if (metric == Metric.Cosine) norms2 += norm2Of(v)
      links += Array.fill(lvl + 1)(new IntBuf)
      if (entry < 0) { entry = node; maxLevel = lvl; return }
      var cur = entry
      // descend levels above lvl greedily
      var l = maxLevel
      while (l > lvl) { cur = greedy(qd, cur, math.min(l, nodeLevel(cur))); l -= 1 }
      // connect at each level ≤ lvl
      l = math.min(lvl, maxLevel)
      while (l >= 0) {
        val cands = beam(qd, cur, l, efC)
        val cap = if (l == 0) 2 * m else m
        val chosen = selectDiverse(cands.toSeq, cap)
        chosen.foreach { case (c, _) => links(node)(l) += c }
        // bidirectional, pruned with the same diversity rule
        for ((nb, _) <- chosen) {
          val nls = links(nb)(l)
          nls += node
          if (nls.length > cap) {
            // same (value, order) sequence the boxed form sorted: an
            // ArrayBuffer built in adjacency order through the same
            // stable sortBy — prune output is bit-identical
            val withD = mutable.ArrayBuffer.tabulate(nls.length)(
              i => (nls(i), ndist(nb, nls(i))))
            val pruned = selectDiverse(withD.sortBy(_._2).toSeq, cap)
            nls.clear(); pruned.foreach { case (x, _) => nls += x }
          }
        }
        cur = cands.head._1
        l -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = node }
    }

    def searchKnn(q: Query, k: Int, ef: Int): Seq[(Long, Double)] =
      searchImpl(qdist(q), k, ef)

    /** A walk reads the graph and writes only its thread's visited
      * marks ([[Visited]]), so any number of threads walk one parsed
      * Index at once — [[WalkCache]] shares it across tasks, concurrent
      * SQL probes, a serving stream and the parallel driver walk
      * ([[walkLocal]]) — with no monitor. Inserts stay single-threaded
      * by construction (each build task owns a private index). */
    private def searchImpl(qd: Int => Double, k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      var cur = entry
      var l = maxLevel
      while (l > 0) { cur = greedy(qd, cur, l); l -= 1 }
      beam(qd, cur, 0, math.max(ef, k)).take(k)
        .map { case (n, d) => (ids(n), d) }.toSeq
    }

    /** Estimated resident heap bytes of this parsed index (array
      * payloads + per-object headers) — the [[WalkCache]] budget
      * currency. An estimate, not an exact footprint: consistent
      * across layouts is what the LRU bound needs. */
    private[operators] def residentBytes: Long = {
      var b = 64L + ids.length * 40L // ids + nodeLevel + buffer headers
      if (metric == Metric.Cosine) b += norms2.length * 8L
      var i = 0
      while (i < vecs.length) { b += 24L + vecs(i).length * 8L; i += 1 }
      if (sparse) {
        i = 0
        while (i < idxs.length) { b += 24L + idxs(i).length * 8L; i += 1 }
      }
      i = 0
      while (i < links.length) {
        val ls = links(i)
        b += 24L + ls.length * 48L
        var l = 0
        while (l < ls.length) { b += ls(l).length * 4L; l += 1 }
        i += 1
      }
      b
    }
  }

  /** Generation-stamped visited marks (r17, guide §1.2): the beam
    * used to allocate a boxed HashSet per call — membership test +
    * box per visited edge in the single hottest loop of build and
    * walk. One int array per THREAD, a fresh generation per beam call:
    * identical set semantics, zero allocation, O(1) unboxed probes.
    * Marks are per walk, not per graph, so walkers on one shared graph
    * never touch each other's state; a mark left by another graph
    * carries an older generation and reads as unvisited. */
  private final class Visited {
    var stamp = new Array[Int](64)
    private var gen = 0
    /** The next generation, with `stamp` covering `nodes` nodes. */
    def next(nodes: Int): Int = {
      if (stamp.length < nodes) stamp = new Array[Int](math.max(nodes, stamp.length * 2))
      if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 0 }
      gen += 1
      gen
    }
  }
  private val visited = ThreadLocal.withInitial[Visited](() => new Visited)

  // ------------------------------------------------------- blob format
  /** Graph blob layout (deflate-compressed, big-endian — the
    * hnswlib discipline: explicit fields, no object serialization):
    * magic, version, m, efC, [v2: metric], n, entry, maxLevel,
    * ids[n], levels[n], vectors (len + doubles each), links (per
    * node: level count, then per level: count + neighbor indices).
    * v1 blobs (pre-metric) read back as L2 — exactly what they were
    * built with. v4 (sparse graphs only — dense stays v3, so every
    * pre-r14 reader keeps working): a sparse flag after `half`, and
    * per-node sorted idx arrays (len + longs each) between the levels
    * and the value vectors. */
  private val BlobMagic = 0x47464e48 // "GFNH"

  /** Hard ceiling on one serialized graph blob: parquet binary cells
    * and JVM arrays cap at 2 GiB — refuse with an actionable message
    * well before an opaque executor failure. */
  val MaxBlobBytes: Long = 1800L * 1024 * 1024

  private[graft] def ser(ix: Index): Array[Byte] = {
    // pre-serialization size estimate: fail fast with the sizing knob
    // named, instead of OOMing inside the deflater on a huge partition.
    // Sparse rows are RAGGED — extrapolating from vecs(0) grossly
    // underestimates total nnz when the first row is short (ADVICE
    // r14), so sum the actual lengths (one O(n) pass over resident
    // arrays); each sparse element carries an idx long + a value
    // double. Dense rows are rectangular: rows × dims.
    val vecBytes =
      if (ix.sparse) ix.vecs.iterator.map(_.length.toLong).sum * 16L
      else ix.ids.length.toLong *
        (if (ix.vecs.isEmpty) 0L else ix.vecs(0).length.toLong) * 8L
    val est = vecBytes + ix.ids.length.toLong * (8L + 4L + 4 * 4L * ix.m)
    require(est < MaxBlobBytes,
      s"partition graph of ${ix.ids.length} vectors (~$est raw bytes) would exceed " +
        s"the $MaxBlobBytes-byte blob ceiling — raise `parts` or set " +
        "`targetVectorsPerGraph` in buildPartitioned")
    val bos = new java.io.ByteArrayOutputStream()
    // buffered between the field writer and the deflater (r15):
    // DataOutputStream.writeLong over a bare DeflaterOutputStream
    // deflates 8 bytes per call — on a 100k-node graph that is
    // millions of deflater crossings; the 64 KB buffer batches them.
    // The byte stream (and so the blob format) is unchanged.
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(
        new java.util.zip.DeflaterOutputStream(bos), 64 * 1024))
    out.writeInt(BlobMagic); out.writeInt(if (ix.sparse) 4 else 3)
    out.writeInt(ix.m); out.writeInt(ix.efC); out.writeInt(ix.metric)
    out.writeBoolean(ix.half)
    if (ix.sparse) out.writeBoolean(true)
    out.writeInt(ix.ids.length); out.writeInt(ix.entry); out.writeInt(ix.maxLevel)
    var i = 0
    while (i < ix.ids.length) { out.writeLong(ix.ids(i)); i += 1 }
    i = 0
    while (i < ix.nodeLevel.length) { out.writeInt(ix.nodeLevel(i)); i += 1 }
    i = 0
    while (ix.sparse && i < ix.idxs.length) {
      val ia = ix.idxs(i)
      out.writeInt(ia.length)
      var j = 0
      while (j < ia.length) { out.writeLong(ia(j)); j += 1 }
      i += 1
    }
    i = 0
    while (i < ix.vecs.length) {
      val v = ix.vecs(i)
      out.writeInt(v.length)
      var j = 0
      if (ix.half)
        while (j < v.length) {
          out.writeShort(graft.functions.Half.toHalfBits(v(j).toFloat)); j += 1
        }
      else
        while (j < v.length) { out.writeDouble(v(j)); j += 1 }
      i += 1
    }
    i = 0
    while (i < ix.links.length) {
      val ls = ix.links(i)
      out.writeInt(ls.length)
      var l = 0
      while (l < ls.length) {
        val ns = ls(l)
        out.writeInt(ns.length)
        var j = 0
        while (j < ns.length) { out.writeInt(ns(j)); j += 1 }
        l += 1
      }
      i += 1
    }
    out.close()
    val bytes = bos.toByteArray
    require(bytes.length.toLong < MaxBlobBytes,
      s"serialized graph blob ${bytes.length} bytes exceeds ceiling $MaxBlobBytes")
    bytes
  }

  // ------------------------------------------------- parsed-graph cache
  /** JVM-wide parsed-graph LRU — the driver's, where every read-only
    * walk runs ([[walkLocal]]) (r18 — VERDICT r17 #1, the
    * round's top item; attempted and reverted in r17, re-landed with
    * the Zipf 500k re-validation): every READ-ONLY walk path used to
    * re-inflate and re-parse each graph blob per micro-batch/query —
    * the serving floor was P deflate-parses per batch, not P walks.
    * pgvector pays this once into shared_buffers; the Spark-native
    * analogue is a JVM-wide cache of parsed [[Index]]es.
    *
    * Correctness envelope:
    *  - CONTENT-keyed (blob length + 128-bit MD5 of the bytes): a
    *    rebuilt/appended store produces new bytes and therefore new
    *    keys — stale entries are unreachable and age out by LRU. No
    *    key ever derives from a path or fixture name, and nothing
    *    persists across JVMs: every run still computes from the
    *    parquet bytes (re-parsing a bit-identical blob is the only
    *    work ever skipped).
    *  - READ-ONLY sharing: only [[walkLocal]] — the one walk of
    *    search, batch and filtered search (flat or routed), the SQL
    *    probe and serving — consumes cached indexes, and walks
    *    mutate nothing of a shared Index — each keeps its own visited
    *    marks ([[Visited]]), so concurrent walkers of ONE graph run in
    *    parallel. The mutating consumer ([[appendBatch]]) and the
    *    oracle dump keep calling [[deser]] for a private copy.
    *  - BOUNDED: `GRAFT_HNSW_CACHE_MB` caps resident bytes (estimated
    *    per index; default heap/8 capped at 4 GiB — sized to the
    *    driver heap via the env, not a local[32] constant); `0`
    *    disables the cache entirely (every call parses fresh).
    * Eviction is LRU on access order under a single monitor — a lookup
    * is a hash probe + an MD5 over bytes already in memory, orders
    * cheaper than inflate + parse + norm rebuild. The driver walks the
    * SAME blob arrays on every probe and batch, so an identity memo
    * answers those without the MD5: it maps a blob object to its
    * content key, holding the blob only weakly (no blob outlives its
    * last user because of it). Blobs are never written after they are
    * made — every producer allocates a fresh array — so a known object
    * always has the bytes it was hashed with. */
  private[graft] object WalkCache {
    private final case class Key(len: Int, h1: Long, h2: Long)
    val maxBytes: Long = sys.env.get("GRAFT_HNSW_CACHE_MB") match {
      case Some(mb) => mb.trim.toLong * 1024L * 1024L
      case None =>
        math.min(4096L * 1024 * 1024, Runtime.getRuntime.maxMemory() / 8)
    }
    private val map = new java.util.LinkedHashMap[Key, (Index, Long)](64, 0.75f, true)
    private var bytes = 0L
    /** blob object (identity: arrays do not override equals) → key */
    private val keyOfBlob = new java.util.WeakHashMap[Array[Byte], Key]()
    // observability (specs + profiling): monotone counters
    @volatile private[graft] var hits = 0L
    @volatile private[graft] var misses = 0L
    @volatile private[graft] var digests = 0L
    private def keyOf(blob: Array[Byte]): Key = {
      val known = this.synchronized(keyOfBlob.get(blob))
      if (known != null) return known
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(blob)
      val bb = java.nio.ByteBuffer.wrap(d)
      val k = Key(blob.length, bb.getLong, bb.getLong)
      this.synchronized { keyOfBlob.put(blob, k); digests += 1 }
      k
    }
    def get(blob: Array[Byte]): Index = {
      if (maxBytes <= 0) return deser(blob)
      val k = keyOf(blob)
      this.synchronized {
        val hit = map.get(k)
        if (hit != null) { hits += 1; return hit._1 }
      }
      // parse OUTSIDE the monitor: concurrent misses on distinct blobs
      // must not serialize the expensive inflate+parse
      val ix = deser(blob)
      val sz = ix.residentBytes
      this.synchronized {
        misses += 1
        if (sz <= maxBytes && !map.containsKey(k)) {
          map.put(k, (ix, sz))
          bytes += sz
          val it = map.entrySet().iterator()
          while (bytes > maxBytes && it.hasNext) {
            val e = it.next()
            if (e.getKey != k) { bytes -= e.getValue._2; it.remove() }
          }
        }
      }
      ix
    }
    private[graft] def clear(): Unit = this.synchronized {
      map.clear(); keyOfBlob.clear(); bytes = 0L
    }
    private[graft] def residentBytes: Long = this.synchronized(bytes)
  }

  /** Cache-backed deser for the read-only walk paths. */
  private[graft] def deserCached(bytes: Array[Byte]): Index = WalkCache.get(bytes)

  private[graft] def deser(bytes: Array[Byte]): Index = {
    // buffered for the same reason ser is: readLong/readInt over a
    // bare InflaterInputStream crosses the inflater per field — the
    // dominant cost of loading large cell graphs (measured on the
    // routed-sparse scale probe)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(
        new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(bytes)),
        64 * 1024))
    require(in.readInt() == BlobMagic, "not a graft HNSW graph blob")
    val ver = in.readInt()
    require(ver >= 1 && ver <= 4, s"unsupported graph blob version $ver")
    val m = in.readInt(); val efC = in.readInt()
    val metric = if (ver >= 2) in.readInt() else Metric.L2
    val half = if (ver >= 3) in.readBoolean() else false
    val sparse = if (ver >= 4) in.readBoolean() else false
    val ix = new Index(m, efC, metric, half, sparse)
    val n = in.readInt()
    ix.entry = in.readInt(); ix.maxLevel = in.readInt()
    var i = 0
    while (i < n) { ix.ids += in.readLong(); i += 1 }
    i = 0
    while (i < n) { ix.nodeLevel += in.readInt(); i += 1 }
    i = 0
    while (sparse && i < n) {
      val len = in.readInt()
      val ia = new Array[Long](len)
      var j = 0
      while (j < len) { ia(j) = in.readLong(); j += 1 }
      ix.idxs += ia
      i += 1
    }
    i = 0
    while (i < n) {
      val len = in.readInt()
      val v = new Array[Double](len)
      var j = 0
      if (half)
        while (j < len) {
          v(j) = graft.functions.Half.fromHalfBits(in.readShort()).toDouble; j += 1
        }
      else
        while (j < len) { v(j) = in.readDouble(); j += 1 }
      ix.vecs += v
      i += 1
    }
    i = 0
    while (i < n) {
      val nl = in.readInt()
      val ls = new Array[IntBuf](nl)
      var l = 0
      while (l < nl) {
        val cnt = in.readInt()
        val b = new IntBuf(math.max(4, cnt)) // exact-size: no regrow on load
        var j = 0
        while (j < cnt) { b += in.readInt(); j += 1 }
        ls(l) = b
        l += 1
      }
      ix.links += ls
      i += 1
    }
    // the norm cache is not part of the blob format (see Index.norms2):
    // one O(total nnz) rebuild per load — the cost of a single distance
    // call per node, amortized over every walk against this graph
    ix.rebuildNorms()
    ix
  }

  // ------------------------------------------------------------ build/search
  /** Build partition-local graphs: one (part_id, graph) row per
    * partition. `parts` bounds graph (= executor memory) size; the
    * repartition is the build's ONLY shuffle.
    *
    * `vecCol` is read by [[queryColumns]]: a dense array column, or a
    * sparse struct column (pgvector `sparsevec_*_ops` on hnsw, r14 —
    * the graph is then built AND walked with the two-pointer sparse
    * kernel under `metric`, l2/cosine/ip/l1, and at 100 TB the sizing
    * knob is Σnnz per partition, not rows × dims). `half` is
    * dense-only.
    *
    * `targetVectorsPerGraph` (VERDICT r5 #4) makes the sizing
    * mechanical instead of a doc-comment promise: when set (> 0), the
    * partition count is derived as ceil(|corpus| / target) — one
    * count() job — so a 100 TB corpus can never funnel into graphs
    * that exceed the blob ceiling ([[MaxBlobBytes]]; [[ser]] enforces
    * it with a sizing-aware error either way). */
  def buildPartitioned(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, efC: Int = 64, parts: Int = 8,
      targetVectorsPerGraph: Long = 0L, metric: String = "l2",
      half: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types._
    val met = Metric.of(metric) // validate driver-side, ship the id
    val sparse = isSparseColumn(corpus, vecCol)
    val (vecCols, decode) = queryColumns(corpus, vecCol)
    val nParts =
      if (targetVectorsPerGraph <= 0) parts
      else math.max(1L, (corpus.count() + targetVectorsPerGraph - 1)
        / targetVectorsPerGraph).toInt
    val rdd = corpus
      .select(col(idCol).cast("long") +: vecCols: _*)
      .repartition(nParts)
      .rdd.mapPartitionsWithIndex { (pid, iter) =>
        val ix = new Index(m, efC, met, half, sparse)
        // half storage: round BEFORE insert so the graph is built with
        // the same float16 values the blob stores (ser is lossless)
        iter.foreach { r =>
          val q = decode(r, 1)
          ix.insert(r.getLong(0), if (half) halfRounded(q) else q)
        }
        if (ix.ids.isEmpty) Iterator.empty
        else Iterator(Row(pid, ser(ix)))
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("graph", BinaryType, nullable = false))))
  }

  /** The one per-graph walk: parse `blob` once (through [[WalkCache]])
    * and return its top-`k` beam walk (beam `ef`) for any number of
    * queries. [[walkLocal]] runs it for every read-only entry point. */
  private[graft] def walk(blob: Array[Byte], k: Int, ef: Int): Query => Seq[(Long, Double)] = {
    val ix = deserCached(blob)
    q => ix.searchKnn(q, k, ef)
  }

  /** The one read-only walk executor, on the driver: search, filtered
    * and batch search, the SQL probe ([[graft.plans.HnswProbeRule]])
    * and serving all walk here. Each driver-held `(part_id, blob)`
    * graph walks the queries routed to it, graphs in parallel on the
    * common fork-join pool (a parsed graph is read-only and each walk
    * keeps its own visited marks). `probes` = None walks every graph
    * for every query (the flat layout); else query `i` walks only the
    * graphs whose part_id is in `probes(i)` (a routed store), and a
    * graph no query probes is never parsed. Returns, per query in
    * `queries` order, each walked graph's top-`k` as
    * (part_id, vec_id, dist) in `blobs` order. */
  private[graft] def walkLocal(blobs: Array[(Int, Array[Byte])], queries: IndexedSeq[Query],
      k: Int, ef: Int, probes: Option[IndexedSeq[Seq[Int]]] = None)
      : IndexedSeq[Array[(Int, Long, Double)]] = {
    // cell → the queries probing it
    val byCell = probes.map(cells =>
      cells.indices.flatMap(q => cells(q).map(_ -> q)).groupMap(_._1)(_._2)
        .map { case (c, qs) => c -> qs.toSet })
    val perGraph = new Array[IndexedSeq[Seq[(Long, Double)]]](blobs.length)
    java.util.stream.IntStream.range(0, blobs.length).parallel().forEach { g =>
      lazy val w = walk(blobs(g)._2, k, ef)
      perGraph(g) = byCell match {
        case None => queries.map(w)
        case Some(m) =>
          val qs = m.getOrElse(blobs(g)._1, Set.empty[Int])
          queries.indices.map(q => if (qs(q)) w(queries(q)) else Nil)
      }
    }
    queries.indices.map { q =>
      blobs.indices.toArray.flatMap { g =>
        val pid = blobs(g)._1
        perGraph(g)(q).map { case (id, d) => (pid, id, d) }
      }
    }
  }

  /** Spark SQL's ascending (dist, vec_id) order — `-0.0` ties `0.0`
    * and NaN sorts last ([[org.apache.spark.sql.catalyst.util
    * .SQLOrderingUtil]]) — the order of `orderBy(dist, vec_id)`. */
  private val bySqlDistId: Ordering[(Long, Double)] = (x, y) => {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x._2, y._2)
    if (c != 0) c else java.lang.Long.compare(x._1, y._1)
  }

  /** One query's top-`k` from its per-graph candidates, sorted by
    * [[bySqlDistId]], one row per tie group, the first `k` groups. A
    * tie group is one vector reached through several graphs: the spill
    * copies of a routed store, or one (id, vector) held by two flat
    * graphs. */
  private[graft] def mergeTopK(cands: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] = {
    val sorted = cands.sorted(bySqlDistId)
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < sorted.length && out.length < k) {
      if (i == 0 || bySqlDistId.compare(sorted(i - 1), sorted(i)) != 0) out += sorted(i)
      i += 1
    }
    out.toSeq
  }

  /** Query ids key the per-query result sets, so a duplicate id would
    * silently merge two queries into one set of k rows: every batch
    * path refuses it. */
  private def requireDistinctQids(queries: Seq[(Long, Query)]): Unit = {
    val qids = queries.map(_._1)
    require(qids.distinct.length == qids.length,
      s"duplicate query ids in batch — ${qids.diff(qids.distinct).distinct.mkString(", ")}")
  }

  /** `rows` of (`idCols`…, dist) tuples as a local frame — every
    * search's result shape: non-null long ids, a non-null double dist. */
  private def localFrame(spark: org.apache.spark.sql.SparkSession, idCols: Seq[String],
      rows: Seq[Product]): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromTuple): _*), StructType(
      idCols.map(StructField(_, LongType, nullable = false)) :+
        StructField("dist", DoubleType, nullable = false)))
  }

  // ------------------------------------------------- driver-held blobs
  /** Driver memo of each store's `(part_id, graph)` blobs: store path →
    * ([[graft.Sidecar.key]] fingerprint at load, blobs). A read
    * re-lists the store and reloads when the (path, length, mtime)
    * fingerprint changed — a rebuilt or overwritten store is never
    * served from stale bytes — and `DROP INDEX` [[forgetStore]]s the
    * entry. Parsed graphs are NOT held here: they live in the bounded
    * [[WalkCache]], keyed by blob content. */
  private val storeMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, Array[(Int, Array[Byte])])]

  /** The store's blobs, from the memo when its fingerprint still
    * matches, else by one collect (explicit schema: no inference job).
    * The fingerprint is taken BEFORE the load, so a store rewritten
    * mid-load mismatches on the next read; a failed load leaves no
    * entry behind. */
  private[graft] def storeBlobs(session: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Byte])] = {
    val fp = graft.Sidecar.key(path)
    storeMemo.get(path) match {
      case Some((`fp`, blobs)) => blobs
      case _ =>
        storeMemo.remove(path)
        import session.implicits._
        val blobs = session.read.schema("part_id INT, graph BINARY").parquet(path)
          .as[(Int, Array[Byte])].collect()
        storeMemo(path) = (fp, blobs)
        blobs
    }
  }

  /** Forget a store's blobs (`DROP INDEX`). */
  private[graft] def forgetStore(path: String): Unit = { storeMemo.remove(path); () }

  /** Test hook: whether `path`'s blobs are memoized. */
  private[graft] def storeMemoized(path: String): Boolean = storeMemo.contains(path)

  /** The blobs of a graph frame, held on the driver for repeated
    * driver-side walks, loaded once and never stale: a plain parquet
    * read of one local store ([[readGraphs]]) reads through
    * [[storeBlobs]] — a directory listing per call, a collect only
    * when the store changed; any other frame (a `localCheckpoint`, an
    * unpersisted build) is collected on the first call and held for
    * the life of the returned function. */
  private[graft] def blobSource(graphs: DataFrame): () => Array[(Int, Array[Byte])] =
    storeRoot(graphs) match {
      case Some(path) => () => storeBlobs(graphs.sparkSession, path)
      case None =>
        lazy val blobs = collectBlobs(graphs)
        () => blobs
    }

  /** One collect of a graph frame's `(part_id, graph)` rows. */
  private def collectBlobs(graphs: DataFrame): Array[(Int, Array[Byte])] = {
    import graphs.sparkSession.implicits._
    graphs.select(col("part_id"), col("graph")).as[(Int, Array[Byte])].collect()
  }

  /** The root of a frame that is exactly a parquet read of one
    * directory on the local file system — where [[graft.Sidecar.key]]
    * can fingerprint it. */
  private def storeRoot(graphs: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graphs.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[org.apache.spark.sql.execution.datasources
              .parquet.ParquetFileFormat] && fs.location.rootPaths.size == 1 &&
              Option(fs.location.rootPaths.head.toUri.getScheme).forall(_ == "file") =>
          Some(fs.location.rootPaths.head.toUri.getPath)
        case _ => None
      }
      case _ => None
    }
  }

  /** The walk of every search entry point: a batch of queries → each
    * query's per-graph top-`k` candidates as (vec_id, dist), through
    * [[walkLocal]] over blobs fetched to the driver. A flat store reads
    * through one [[blobSource]], made on first use and kept for the
    * life of the walker (a serving stream's); a routed store collects
    * only the rows of the batch's probed UNION — one `In` over part_id,
    * pushed to the parquet scan, so un-probed blobs are never read and
    * driver memory grows with the probed cells, not with the store —
    * and each query walks only its own cells (`nprobe <= 0` resolves
    * through [[resolveNprobe]]). `deserCounter` (specs) counts
    * graph-blob LOADS — one per fetched blob, whether the parse ran or
    * [[WalkCache]] answered it (r18) — so the ≤ nprobe routing
    * contract stays a measured number under the cache. */
  private def walker(graphs: DataFrame, route: Option[(Routing, Int)],
      deserCounter: Option[org.apache.spark.util.LongAccumulator])
      : (IndexedSeq[Query], Int, Int) => IndexedSeq[Seq[(Long, Double)]] = {
    lazy val flat = blobSource(graphs)
    (queries, k, ef) => {
      val probes = route.map(r => queries.map(probeCells(r, _)))
      val blobs = probes.fold(flat())(cells => collectBlobs(probed(graphs, cells.flatten.distinct)))
      deserCounter.foreach(_.add(blobs.length))
      walkLocal(blobs, queries, k, ef, probes).map(_.toSeq.map(c => (c._2, c._3)))
    }
  }

  /** Search every partition graph with the ef-beam walk on the driver
    * ([[walker]]) and merge the per-graph top-k exactly
    * ([[mergeTopK]]): k·P candidates, never the corpus. Returns the
    * (vec_id, dist) rows in (dist, vec_id) order as a local frame.
    *
    * `route` = (routing, nprobe) walks a cell-routed store
    * ([[buildCellRouted]]) instead: ONLY the query's nprobe cells'
    * graphs are read and walked. Spill copies — identical (id, dist)
    * candidates from sibling cell graphs — collapse in the merge. */
  def search(graphs: DataFrame, query: Query, k: Int, ef: Int = 64,
      route: Option[(Routing, Int)] = None,
      deserCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    localFrame(graphs.sparkSession, Seq("vec_id"),
      mergeTopK(walker(graphs, route, deserCounter)(IndexedSeq(query), k, ef).head, k))

  /** FILTERED graph search (the pgvector ≥0.8 hnsw iterative-scan
    * analogue, statically bounded like the IVF rule's widening; the
    * sparse form, r15, is lexical/SPLADE retrieval with metadata
    * predicates): the graph stores no metadata, so the driver walk
    * over-fetches `widen`·k per graph, the candidates (k·widen·P rows,
    * a local frame — never the corpus) semi-join the metadata frame's
    * predicate survivors, and the exact top-k of the survivors is
    * returned as in [[search]]. Recall degrades with predicate
    * selectivity exactly as pgvector's ef_search bound does; the gate
    * measures it. */
  def searchFiltered(graphs: DataFrame, meta: DataFrame, metaIdCol: String,
      pred: org.apache.spark.sql.Column, query: Query, k: Int,
      ef: Int = 64, widen: Int = 8): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val cands = walker(graphs, None, None)(IndexedSeq(query), k * widen, math.max(ef, k * widen))
    val survivors = localFrame(spark, Seq("vec_id"), cands.head)
      .join(meta.filter(pred).select(col(metaIdCol).as("__mid")),
        col("vec_id") === col("__mid"), "left_semi")
      .as[(Long, Double)].collect()
    localFrame(spark, Seq("vec_id"), mergeTopK(survivors.toSeq, k))
  }

  /** Batch search: each fetched graph parses once and walks every
    * query routed to it ([[walker]]), then each query's per-graph
    * top-k merge exactly as in [[search]]. Returns (qid, vec_id, dist)
    * rows in (qid, dist, vec_id) order as a local frame; a duplicate
    * query id fails ([[requireDistinctQids]]). A flat batch costs
    * P graph loads + |queries|·P beam walks.
    *
    * With `route` each query's nprobe cells are ranked on the driver,
    * each graph in the batch's probed UNION loads once and walks only
    * for the queries that probed it: ≤ min(nlist, |batch|·nprobe)
    * graph loads and |batch|·nprobe walks, never |batch|·P. */
  def searchBatch(graphs: DataFrame, queries: Seq[(Long, Query)],
      k: Int, ef: Int = 64, route: Option[(Routing, Int)] = None,
      deserCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    batchSearcher(graphs, k, ef, route, deserCounter)(queries)

  /** [[searchBatch]] through one [[walker]]: serving answers every
    * micro-batch of a stream with one searcher, so a flat store's
    * blob source is made once for the stream. */
  private[graft] def batchSearcher(graphs: DataFrame, k: Int, ef: Int,
      route: Option[(Routing, Int)],
      deserCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Seq[(Long, Query)] => DataFrame = {
    val walk = walker(graphs, route, deserCounter)
    queries => {
      requireDistinctQids(queries)
      val perQuery = walk(queries.map(_._2).toIndexedSeq, k, ef)
      localFrame(graphs.sparkSession, Seq("qid", "vec_id"),
        queries.indices.sortBy(queries(_)._1).flatMap { i =>
          mergeTopK(perQuery(i), k).map { case (id, d) => (queries(i)._1, id, d) }
        })
    }
  }

  // ------------------------------------------------- cell-routed graphs
  /** How a cell-routed store ([[buildCellRouted]]) ranks the cells of
    * a vector: the build calls [[cells]] with `spill` (the graphs a
    * vector is inserted into), a probe with `nprobe` (the graphs a
    * query walks). ONE function both ways makes self-findability
    * structural — a vector's top-1 cell is the same list both ways. A
    * query of the other kind fails with the fix named, as
    * [[Index.qdist]] does. */
  sealed trait Routing extends Serializable {
    /** The cell count — the scale of [[resolveNprobe]]. */
    def nlist: Int
    def cells(q: Query, n: Int): Seq[Int]
  }

  /** L2-nearest coarse cells (the IVF k-means centroids,
    * [[IvfIndex.trainCentroids]]), ranked by (distance, centroid id)
    * with the kernel the IVF corpus assignment runs
    * ([[graft.functions.NearestCellsExpr.nearest]]). The nlist rows
    * are KB-scale driver metadata: [[Centroids.of]] collects them
    * once, and one value serves every probe. */
  final case class Centroids(ids: Array[Int], vecs: Array[Array[Double]]) extends Routing {
    def nlist: Int = ids.length
    def cells(q: Query, n: Int): Seq[Int] = q match {
      case Dense(v) => graft.functions.NearestCellsExpr.nearest(v, ids, vecs, n).toSeq
      case _: Sparse => throw new IllegalArgumentException(
        "centroid routing ranks dense vectors: route a sparse store with Hnsw.TermMass(nlist)")
    }
  }

  object Centroids {
    /** The (centroid_id, centroid) frame's nlist rows, collected. */
    def of(centroids: DataFrame): Centroids = {
      val rows = centroids.select(col("centroid_id"), col("centroid").cast("array<double>"))
        .collect().sortBy(_.getInt(0))
      Centroids(rows.map(_.getInt(0)), rows.map(_.getSeq[Double](1).toArray))
    }
  }

  /** Top-mass term cells for sparse vectors (r15 — VERDICT r14 #1,
    * the flat-sparse scale residual): cell(dim) = pmod(dim, nlist),
    * and a vector's ranked cells are its cells ordered by SUMMED
    * weight (mass DESC, cell ASC). This is impact-partitioned
    * inverted-index routing — the natural layout for lexical/SPLADE
    * sparse vectors, where cosine neighbors are exactly the vectors
    * sharing the query's high-weight dimensions: a doc is indexed
    * under its `spill` heaviest term cells, a query probes its
    * `nprobe` heaviest term cells, and they meet wherever they share a
    * dominant term. (A k-means-over-projection routing was measured
    * first and rejected: 4-term queries against many-term docs recall
    * 0.4 vs 0.9 for mass routing on the same store — the projection of
    * a short query barely correlates with doc-cluster centroids.)
    * Everything is integer-exact on tf weights — pmod + integer sums —
    * so the oracle replays query routing with no float-order caveats.
    * An all-empty sparse vector has no cells and is not indexed —
    * consistent with pgvector, whose sparsevec requires at least one
    * element. Skew note for 100 TB: a stopword-dominated corpus
    * concentrates mass in few cells — nlist is the spread knob, and
    * upstream stopword/idf weighting (the hybridSparse BM25 store)
    * flattens it at the source. */
  final case class TermMass(nlist: Int) extends Routing {
    def cells(q: Query, n: Int): Seq[Int] = q match {
      case Sparse(qIdx, qVal) =>
        val mass = mutable.Map.empty[Int, Double]
        var i = 0
        while (i < qIdx.length) {
          val c = (((qIdx(i) % nlist) + nlist) % nlist).toInt
          mass(c) = mass.getOrElse(c, 0.0) + qVal(i)
          i += 1
        }
        mass.toSeq.map { case (c, m) => (-m, c) }.sorted.take(n).map(_._2)
      case _: Dense => throw new IllegalArgumentException(
        "term-mass routing ranks sparse vectors: route a dense store with " +
          "Hnsw.Centroids.of(centroids)")
    }
  }

  /** The cells `route` = (routing, nprobe) probes for `q`. */
  private def probeCells(route: (Routing, Int), q: Query): Seq[Int] = {
    val (r, nprobe) = route
    r.cells(q, resolveNprobe(nprobe, r.nlist))
  }

  /** `graphs` narrowed to the rows of `cells` — an `In` over part_id,
    * pushed to the parquet scan. */
  private def probed(graphs: DataFrame, cells: Iterable[Int]): DataFrame =
    graphs.filter(col("part_id").isin(cells.toSeq.sorted.map(Int.box): _*))

  /** CELL-ROUTED graphs (VERDICT r6 #5 — kills the P-growth of the
    * flat layout): each vector is inserted into the graphs of its
    * `spill` best cells under `routing` — [[Centroids]] for dense
    * vectors, [[TermMass]] for sparse ones, the same function queries
    * route with — one graph per cell built with the graph kernel of
    * the vector's kind under `metric`. A query then walks only its
    * nprobe cells' graphs ([[search]] / [[searchBatch]] with `route`):
    * per-query cost is nprobe graph loads, corpus-size-INDEPENDENT,
    * where the flat layout pays P loads that grow with the corpus.
    * `spill ≥ 2` is the SOAR trade: spill× storage buys boundary
    * recall, and the cross-graph merge collapses the copies. nlist is
    * the √N-ish scale knob exactly as for the IVF store. `vecCol` is
    * read by [[queryColumns]], as in [[buildPartitioned]]: a dense
    * array column or a sparse struct column ([[sparseColumn]]).
    *
    * Build shape (r16 — VERDICT r15 #2, the sf10 build hot-spot):
    * cell assignment is a PURE per-row function, so it runs in a
    * NARROW flatMap and the only exchange is the final
    * repartition-by-cell. Rows are sorted (cell, split, id) within each
    * build partition, so insertion order — and therefore the graph
    * structure the dump records — is deterministic across runs. The
    * store is (part_id, graph), part_id = the cell.
    *
    * `maxCell` (r16 — VERDICT r15 #2): cells are SKEWED (term-mass
    * cells are Zipf-of-Zipf; k-means cells follow the data's density),
    * and one build task per cell makes the build's wall-clock the
    * LARGEST cell's serial insert loop (measured on term-mass cells: a
    * cell holding 3× the median made the whole build 4.8× the flat
    * layout's on identical insert volume). A finite cap splits each
    * over-full cell into ⌈n/maxCell⌉ SUB-GRAPHS — extra rows under
    * the same part_id, each built by its own task (one lightweight
    * ids-only census pass decides the split counts; split membership
    * is pmod(id, splits), deterministic). Every search walks ALL
    * blobs of a probed part_id and merges exactly, so results
    * are the exact union of per-split walks; the deser bound becomes
    * ≤ Σ blobs of the probed cells. Default UNCAPPED: the
    * oracle-replayed inventory entries keep one-graph-per-cell
    * (dumpParsed keys nodes by part_id, so the DuckDB walk replay
    * requires it); the serving/scale paths pass a real cap. */
  def buildCellRouted(corpus: DataFrame, idCol: String, vecCol: String,
      routing: Routing, spill: Int = 2,
      m: Int = 16, efC: Int = 64, metric: String = "l2",
      maxCell: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types._
    val met = Metric.of(metric)
    val sparse = isSparseColumn(corpus, vecCol)
    val (vecCols, decode) = queryColumns(corpus, vecCol)
    val nlist = routing.nlist
    val src = corpus.select(col(idCol).cast("long").as("__id") +:
      vecCols.zipWithIndex.map { case (c, i) => c.as(s"__v$i") }: _*)
    // row layout from here on: (__cell, __id, vector columns…[, __split])
    val assigned = spark.createDataFrame(
      src.rdd.flatMap { r =>
        routing.cells(decode(r, 1), spill).map(c => Row.fromSeq(c +: r.toSeq))
      },
      StructType(StructField("__cell", IntegerType, nullable = false) +: src.schema.fields))
    val (parts, withSplit) =
      if (maxCell == Int.MaxValue) {
        (nlist, assigned.withColumn("__split", lit(0)))
      } else {
        // ids-only census (column pruning keeps the vector payloads
        // out of this exchange): rows per cell → splits per cell
        val splitsOf = assigned.groupBy(col("__cell")).count()
          .collect().map { r =>
            r.getInt(0) -> math.max(1,
              ((r.getLong(1) + maxCell - 1) / maxCell).toInt)
          }.toMap
        val bc = spark.sparkContext.broadcast(splitsOf)
        val totalSplits = math.max(nlist, splitsOf.values.sum)
        val splitUdf = udf { (cell: Int, id: Long) =>
          val s = bc.value.getOrElse(cell, 1)
          (((id % s) + s) % s).toInt
        }
        (totalSplits,
          assigned.withColumn("__split", splitUdf(col("__cell"), col("__id"))))
      }
    val rdd = withSplit
      .repartition(parts, col("__cell"), col("__split"))
      .sortWithinPartitions(col("__cell"), col("__split"), col("__id"))
      .rdd.mapPartitions { iter =>
        // hash collisions can co-locate several (cell, split) groups in
        // one task; one graph per GROUP regardless (the routing
        // contract)
        val byCell = mutable.Map.empty[(Int, Int), Index]
        iter.foreach { r =>
          byCell.getOrElseUpdate((r.getInt(0), r.getInt(r.length - 1)),
              new Index(m, efC, met, sparse = sparse))
            .insert(r.getLong(1), decode(r, 2))
        }
        byCell.iterator.map { case ((cell, _), ix) => Row(cell, ser(ix)) }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("graph", BinaryType, nullable = false))))
  }

  /** nprobe default that SCALES with nlist (r17 — VERDICT r16 #5, the
    * Zipf artifact's operating-point lesson: recall@10 was 0.77 at
    * nprobe=4/nlist=100 but fell to 0.63 at 4/1000, needing 8/1000
    * for 0.81 — a fixed nprobe silently loses recall as the cell
    * count grows). `nprobe <= 0` resolves to ⌈√nlist⌉, pgvector's own
    * probes-vs-lists starting point ("a good place to start is
    * sqrt(lists)"); an explicit positive nprobe is the override knob
    * and passes through untouched. */
  def resolveNprobe(nprobe: Int, nlist: Int): Int =
    if (nprobe > 0) nprobe
    else math.max(1, math.ceil(math.sqrt(math.max(1, nlist).toDouble)).toInt)

  /** Persist / reload the partition graphs (parquet of
    * (part_id, blob)): build once, serve many — the graph analogue of
    * [[IvfIndex.writePartitioned]]. */
  def writeGraphs(graphs: DataFrame, path: String): Unit =
    graphs.write.mode("overwrite").parquet(path)

  /** Cell-CLUSTERED persist for routed stores (r15): a routed build at
    * scale emits one row per cell over MANY cells (nlist grows with
    * the corpus — the fixed-cell-size law), and a plain write leaves
    * one tiny file per cell, so a probe's `part_id IN (...)` pays
    * O(nlist) parquet footer reads before pruning anything (measured:
    * the routed probe's 10×-scale band was 5.1× from footers alone).
    * Range-clustering by part_id into `buckets` sorted files gives
    * each row group a tight part_id [min,max] envelope — the pushed In
    * filter then prunes at ROW-GROUP granularity under a constant
    * footer count. Same discipline as the dedup stores' 256 KB row
    * groups and GraftTable's stats skipping. */
  def writeGraphsClustered(graphs: DataFrame, path: String, buckets: Int = 8): Unit =
    graphs
      .repartitionByRange(buckets, col("part_id"))
      .sortWithinPartitions("part_id")
      .write.mode("overwrite")
      // small row groups (vs the 128 MB default): cell blobs are
      // MB-scale, and pruning happens at row-group granularity — a
      // default-size group holds ~100 cells' blobs, so a 4-cell probe
      // reads them all (measured: the residual 2.3×-per-10× band came
      // from exactly this). ~4 MB groups ≈ a few blobs per group →
      // probed bytes ∝ nprobe, not corpus.
      .option("parquet.block.size", 4L * 1024 * 1024)
      // r18: the block-size knob alone NEVER ENGAGED on blob rows —
      // Parquet checks accumulated row-group size only every
      // `parquet.page.size.row.check.min` records (default 100, and
      // the block-size check shares the page-check cadence), so
      // ~0.8 MB blob rows produced ~78 MB/100-row groups and a pushed
      // 4-cell probe DECODED THE WHOLE STORE (measured on the Zipf
      // 500k store: 2 row groups per 95 MB file, scan 0.445 s for
      // 3.5 MB of probed blobs). Checking from the first record makes
      // the 4 MB target real: ~5 rows/group, probed bytes ∝ nprobe.
      .option("parquet.page.size.row.check.min", "1")
      .parquet(path)

  def readGraphs(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Relational dump of partition graphs — one row per node with the
    * level-indexed adjacency as a nested list — so an EXTERNAL engine
    * can replay the deterministic beam walk over exactly the data the
    * blobs carry (the DuckDB oracle for the vs_hnsw_* entries; r13).
    * Flat and cell-routed stores alike key their rows by part_id. */
  def dumpParsed(graphs: DataFrame): DataFrame = {
    val spark = graphs.sparkSession
    import org.apache.spark.sql.types._
    val rdd = graphs.rdd.flatMap { row =>
      val pid = row.getInt(0)
      val ix = deser(row.getAs[Array[Byte]](1))
      (0 until ix.ids.length).iterator.map { n =>
        // vecidx: the sparse node's dimension ids (empty for dense) —
        // the replay needs (idx, vals) pairs to run the same
        // two-pointer arithmetic
        Row(pid, n, ix.ids(n), ix.vecs(n).toSeq,
          if (ix.sparse) ix.idxs(n).toSeq else Seq.empty[Long],
          ix.links(n).map(_.toSeq).toSeq, ix.entry, ix.maxLevel)
      }
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("node", IntegerType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("vecidx", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("nbrs", ArrayType(ArrayType(IntegerType, containsNull = false),
        containsNull = false), nullable = false),
      StructField("entry", IntegerType, nullable = false),
      StructField("max_level", IntegerType, nullable = false))))
  }

  /** Incremental maintenance (the graph twin of
    * [[IvfIndex.streamAssign]]): route each new vector to a partition
    * by id hash, ship each partition's additions to its graph row as
    * one collected array (broadcast-scale — a micro-batch, not a
    * corpus), and run the SAME insert algorithm the build used —
    * appended nodes get full diverse-prune linking, not a second-class
    * side table. Returns the merged (part_id, graph) frame; the
    * per-graph merge cost is |adds per partition| · efC beam walks.
    *
    * New-node routing is hash-based, not proximity-based, and that is
    * correct here: partition graphs are independent indexes over
    * disjoint subsets (search always merges all of them), so placement
    * only affects balance, never recall. `vecCol` is read as in
    * [[buildPartitioned]] (r14 added the sparse kind); a batch of the
    * other kind than the store fails with the fix named. */
  def appendBatch(graphs: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val spark = graphs.sparkSession
    // route into the EXISTING part ids, not [0, max): buildPartitioned
    // emits no row for an empty partition, so the id space can have
    // holes — hashing into a hole would left_outer-drop those adds
    // silently (vectors never inserted, never searchable)
    val pids = graphs.select(col("part_id")).collect().map(_.getInt(0)).sorted
    require(pids.nonEmpty, "appendBatch needs at least one existing partition graph")
    val (vecCols, decode) = queryColumns(batch, vecCol)
    val addCols = col("__aid") +: vecCols.indices.map(i => col(s"__av$i"))
    val assigned = batch
      .select(col(idCol).cast("long").as("__aid") +:
        vecCols.zipWithIndex.map { case (c, i) => c.as(s"__av$i") }: _*)
      .withColumn("part_id",
        element_at(typedLit(pids.toSeq), (pmod(hash(col("__aid")), lit(pids.length)) + 1).cast("int")))
      .groupBy(col("part_id"))
      .agg(collect_list(struct(addCols: _*)).as("adds"))
    val mergedRdd = graphs.join(assigned, Seq("part_id"), "left_outer")
      .rdd.map { row =>
        val pid = row.getInt(0)
        val blob = row.getAs[Array[Byte]]("graph")
        val adds: scala.collection.Seq[Row] =
          if (row.isNullAt(2)) null else row.getSeq[Row](2)
        if (adds == null) Row(pid, blob)
        else {
          // a vector of the other kind fails its insert with the fix
          // named (Index.qdist) — never a merge under wrong arithmetic
          val ix = deser(blob)
          adds.foreach(r => ix.insert(r.getLong(0), decode(r, 1)))
          Row(pid, ser(ix))
        }
      }
    import org.apache.spark.sql.types._
    spark.createDataFrame(mergedRdd, StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("graph", BinaryType, nullable = false))))
  }

  /** Repair a store left torn by a crash mid-swap (between "rename
    * aside" and "promote"): with `path` missing, a surviving `.old`
    * (the PRE-merge generation) is restored — preferred over the
    * complete `.rewrite`, because the checkpoint never committed, so
    * the batch replays and re-merges exactly once; promoting the
    * post-merge `.rewrite` would double-insert the batch on replay.
    * A complete `.rewrite` (its _SUCCESS marker exists) is the
    * fallback when no `.old` survives. Idempotent no-op on a healthy
    * store. Public so any consumer of a graph store can self-heal
    * before reading, mirroring how VectorStore.rewrite consumers
    * handle a torn swap. */
  def recoverStore(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      val tmp = new org.apache.hadoop.fs.Path(path + ".rewrite")
      val old = new org.apache.hadoop.fs.Path(path + ".old")
      if (fs.exists(old)) {
        require(fs.rename(old, hPath), s"recovery failed: could not restore $old")
        fs.delete(tmp, true)
        ()
      } else if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        require(fs.rename(tmp, hPath), s"recovery failed: could not promote $tmp")
      }
    }
  }

  /** Streaming graph maintenance over a PERSISTED store: per
    * micro-batch, read the graphs, insert the batch, and atomically
    * swap the directory (write → rename aside → promote, the
    * [[graft.sources.VectorStore.rewrite]] discipline). Each batch
    * first runs [[recoverStore]], so a crash INSIDE the two-rename
    * window (no directory at `path`, good data in `.old`/`.rewrite`)
    * self-heals on restart instead of failing readGraphs. At-least-
    * once on replay after a crash between swap and checkpoint commit —
    * the same contract as any non-transactional sink; an ACID table
    * layer would close that window (documented deviation, as for the
    * store itself). */
  def streamAppend(newVectors: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          recoverStore(spark, path)
          val merged = appendBatch(readGraphs(spark, path), batch, idCol, vecCol)
          val hPath = new org.apache.hadoop.fs.Path(path)
          val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val tmp = new org.apache.hadoop.fs.Path(path + ".rewrite")
          val old = new org.apache.hadoop.fs.Path(path + ".old")
          fs.delete(tmp, true)
          merged.write.mode("overwrite").parquet(tmp.toString)
          fs.delete(old, true)
          require(fs.rename(hPath, old), s"swap failed: could not move $path aside")
          require(fs.rename(tmp, hPath), s"swap failed: could not promote $tmp")
          fs.delete(old, true)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
