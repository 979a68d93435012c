package graft

import graft.operators.Hnsw
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** r18 adjacency rework (boxed ArrayBuffer[Int] → unboxed IntBuf) and
  * the parsed-graph WalkCache: the operator-internal changes this
  * round made to the graph hot paths, pinned as focused tests.
  *
  *  - IntBuf must be operation-for-operation equivalent to the
  *    ArrayBuffer[Int] it replaced (append order, reads, clear,
  *    value equality) — randomized op-sequence check against the
  *    reference implementation.
  *  - The graph a build produces must be BIT-IDENTICAL to the boxed
  *    implementation's: the serialized blob of a fixed deterministic
  *    build is pinned by MD5, computed once from the pre-change code
  *    (r17 HEAD fe12da7) on this fixture. A legitimate format change
  *    must update the constant consciously.
  *  - WalkCache: content-keyed hits, bounded eviction, cached walks
  *    bit-equal to fresh walks, and safe under concurrent walkers
  *    (the Index monitor added for shared indexes).
  */
class HnswIntBufSpec extends AnyFunSuite {

  test("IntBuf is op-equivalent to ArrayBuffer[Int] under random append/read/clear") {
    val rnd = new scala.util.Random(0xb0f)
    for (_ <- 1 to 200) {
      val ref = mutable.ArrayBuffer.empty[Int]
      val buf = new Hnsw.IntBuf
      for (_ <- 0 until rnd.nextInt(60)) {
        rnd.nextInt(10) match {
          case 0 => ref.clear(); buf.clear()
          case _ =>
            val x = rnd.nextInt(1000) - 500
            ref += x; buf += x
        }
        assert(buf.length == ref.length)
        if (ref.nonEmpty) {
          val i = rnd.nextInt(ref.length)
          assert(buf(i) == ref(i))
        }
      }
      assert(buf.toSeq == ref.toSeq)
      assert(buf.toArray.toSeq == ref.toSeq)
      // value equality on contents (specs compare adjacency with ==)
      val twin = new Hnsw.IntBuf
      ref.foreach(twin += _)
      assert(buf == twin && buf.hashCode == twin.hashCode)
    }
    // out-of-range read fails loudly (capacity ≥ length is invisible)
    val b = new Hnsw.IntBuf(8)
    b += 1
    intercept[IndexOutOfBoundsException](b(1))
  }

  /** Deterministic builds whose blobs the cross-version pin hashes. */
  private def denseFixture(): Hnsw.Index = {
    val rnd = new scala.util.Random(42)
    val ix = new Hnsw.Index(8, 32, Hnsw.Metric.Cosine)
    for (i <- 0 until 300)
      ix.insert(i.toLong, Hnsw.Dense(Array.fill(8)(rnd.nextGaussian())))
    ix
  }
  private def sparseFixture(): Hnsw.Index = {
    val rnd = new scala.util.Random(43)
    val ix = new Hnsw.Index(8, 32, Hnsw.Metric.Cosine, half = false, sparse = true)
    for (i <- 0 until 300) {
      val nnz = 3 + rnd.nextInt(6)
      val dims = Array.fill(nnz)(rnd.nextInt(500).toLong).distinct.sorted
      val vals = dims.map(_ => (1 + rnd.nextInt(5)).toDouble)
      ix.insert(i.toLong, Hnsw.Sparse(dims, vals))
    }
    ix
  }
  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  test("graph blobs are bit-identical to the pre-rework (boxed-adjacency) build") {
    // constants computed from the SAME fixture at r17 HEAD (fe12da7,
    // boxed ArrayBuffer[Int] adjacency) — see OPTIMIZATION_r18.md.
    // If this fails after an INTENTIONAL graph/format change, update
    // the constants alongside a full oracle re-gate with store wipes.
    assert(md5hex(Hnsw.ser(denseFixture())) ==
      "516c5223651431d57465356eb02a321f",
      "dense blob diverged from the boxed build")
    assert(md5hex(Hnsw.ser(sparseFixture())) ==
      "947c6d50bd900d4978b42bfb38b674f3",
      "sparse blob diverged from the boxed build")
  }

  test("WalkCache: content-keyed hits, identical walks, bounded eviction") {
    val blobA = Hnsw.ser(denseFixture())
    val blobB = Hnsw.ser(sparseFixture())
    Hnsw.WalkCache.clear()
    val a1 = Hnsw.deserCached(blobA)
    val a2 = Hnsw.deserCached(blobA.clone()) // same CONTENT, new array
    assert(a1 eq a2, "content-identical blobs must share one parsed index")
    val b1 = Hnsw.deserCached(blobB)
    assert(!(b1 eq a1))
    // cached walk ≡ fresh walk, bit for bit
    val rnd = new scala.util.Random(7)
    val q = Hnsw.Dense(Array.fill(8)(rnd.nextGaussian()))
    assert(a1.searchKnn(q, 10, 64) == Hnsw.deser(blobA).searchKnn(q, 10, 64))
    assert(Hnsw.WalkCache.residentBytes > 0)
    Hnsw.WalkCache.clear()
    assert(Hnsw.WalkCache.residentBytes == 0)
  }

  test("WalkCache: concurrent walkers on one shared index are serialized, not corrupted") {
    val blob = Hnsw.ser(denseFixture())
    Hnsw.WalkCache.clear()
    val shared = Hnsw.deserCached(blob)
    val rnd = new scala.util.Random(11)
    val queries = Array.fill(16)(Hnsw.Dense(Array.fill(8)(rnd.nextGaussian())))
    val expected = queries.map(q => Hnsw.deser(blob).searchKnn(q, 10, 64))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        var i = 0
        while (i < 50) {
          val qi = (t + i) % queries.length
          val got = shared.searchKnn(queries(qi), 10, 64)
          if (got != expected(qi)) errs.add(s"thread $t query $qi diverged")
          i += 1
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString("; "))
  }

  test("routed batch single-exchange dedup keeps dropDuplicates semantics") {
    val spark = SparkSpec.session
    import spark.implicits._
    // a corpus with guaranteed spill copies: few cells, spill 2
    val docs = graft.tools.ZipfSparse.corpus(spark, 400L).localCheckpoint()
    val nlist = 8
    val graphs = Hnsw.buildCellRouted(
      docs.withColumn("sv", Hnsw.sparseColumn("sidx", "sval")),
      "doc_id", "sv", Hnsw.TermMass(nlist), spill = 2,
      metric = "cosine").localCheckpoint()
    val qs = docs.filter(col("doc_id") < 6).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray))
      .toSeq
    val got = Hnsw.searchBatch(graphs,
      qs.map { case (qid, qi, qv) => (qid, Hnsw.Sparse(qi, qv)) }, k = 5, ef = 64,
      route = Some((Hnsw.TermMass(nlist), 3)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // reference: the dropDuplicates + row_number shape this replaced
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
    val cells = qs.map { case (qid, qi, qv) =>
      qid -> Hnsw.TermMass(nlist).cells(Hnsw.Sparse(qi, qv), 3) }.toMap
    val byCell = cells.toSeq.flatMap { case (qid, cs) => cs.map(_ -> qid) }
      .groupBy(_._1).map { case (c, v) => c -> v.map(_._2) }
    val raw = graphs
      .filter(col("part_id").isin(byCell.keys.toSeq.map(Int.box): _*))
      .select(col("part_id"), col("graph")).as[(Int, Array[Byte])]
      .flatMap { case (cell, blob) =>
        val ix = Hnsw.deser(blob)
        byCell.getOrElse(cell, Seq.empty).iterator.flatMap { qid =>
          val (_, qi, qv) = qs.find(_._1 == qid).get
          ix.searchKnn(Hnsw.Sparse(qi, qv), 5, 64).map { case (id, d) => (qid, id, d) }
        }
      }
      .toDF("qid", "vec_id", "dist")
      .dropDuplicates("qid", "vec_id")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("dist"))
      .orderBy(col("qid"), col("dist"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == raw.toSeq,
      "single-exchange dedup+rank diverged from dropDuplicates + row_number")
    // and at least one true spill duplicate was exercised by the fixture
    val dupProbe = graphs.select(col("graph")).as[Array[Byte]].collect()
      .flatMap(b => Hnsw.deser(b).ids)
    assert(dupProbe.length > dupProbe.distinct.length,
      "fixture produced no spill copies — the dedup path was not exercised")
  }
}
