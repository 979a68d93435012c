package graft

import graft.operators.Hnsw
import org.apache.spark.sql.functions._

/** Unit properties of the partition-local HNSW graphs: structural
  * sanity of the local index, serialization round-trip through the
  * (part_id, graph) frame, and the exact cross-partition merge. */
class HnswSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, Sf)

  test("local index: insert then self-query returns the point itself first") {
    val ix = new Hnsw.Index(8, 32)
    val rnd = new scala.util.Random(3)
    val vs = Array.tabulate(500)(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
    vs.foreach { case (id, v) => ix.insert(id, Hnsw.Dense(v)) }
    for ((id, v) <- vs.take(25)) {
      val hits = ix.searchKnn(Hnsw.Dense(v), 3, 32)
      assert(hits.head._1 == id, s"self-query missed for $id: $hits")
      assert(hits.head._2 == 0.0)
    }
  }

  test("sparse index over a densified cloud is STRUCTURALLY identical to the dense index (r14)") {
    // the strongest sparse-kernel invariant: with indices [0, dims)
    // (a fully dense sparse vector), every two-pointer distance equals
    // the dense kernel's, level draws depend only on ids, and
    // insertion order is identical — so the two graphs must be the
    // SAME graph and every walk must return identical (id, dist) rows
    val rnd = new scala.util.Random(11)
    val dims = 16
    val vs = Array.tabulate(400)(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian())))
    val fullIdx = Array.tabulate(dims)(_.toLong)
    for (metric <- Seq("l2", "cosine", "ip", "l1")) {
      val m = Hnsw.Metric.of(metric)
      val dense = new Hnsw.Index(8, 32, m)
      val sparse = new Hnsw.Index(8, 32, m, half = false, sparse = true)
      vs.foreach { case (id, v) => dense.insert(id, Hnsw.Dense(v)) }
      vs.foreach { case (id, v) => sparse.insert(id, Hnsw.Sparse(fullIdx, v)) }
      assert(dense.entry == sparse.entry && dense.maxLevel == sparse.maxLevel)
      assert(dense.links.map(_.map(_.toSeq).toSeq) ==
        sparse.links.map(_.map(_.toSeq).toSeq),
        s"$metric: sparse/dense adjacency diverged")
      for ((_, v) <- vs.take(10)) {
        val q = Array.fill(dims)(rnd.nextGaussian())
        assert(dense.searchKnn(Hnsw.Dense(q), 5, 32) ==
          sparse.searchKnn(Hnsw.Sparse(fullIdx, q), 5, 32),
          s"$metric: walk results diverged")
        // ragged truly-sparse query against the densified graph: the
        // two-pointer merge treats absent indices as zeros
        val sq = Array(1L, 7L, 13L)
        val sv = Array(q(1), q(7), q(13))
        val padded = Array.tabulate(dims)(i =>
          if (i == 1) q(1) else if (i == 7) q(7) else if (i == 13) q(13) else 0.0)
        if (metric != "cosine") // cosine norms fold in ARRAY order: a
          // padded dense array sums zeros in different positions —
          // equal mathematically, not necessarily bit-equal
          assert(dense.searchKnn(Hnsw.Dense(padded), 5, 32) ==
            sparse.searchKnn(Hnsw.Sparse(sq, sv), 5, 32),
            s"$metric: sparse query != zero-padded dense query")
        ()
      }
      // v4 blob round-trip carries the idx arrays exactly
      val back = Hnsw.deser(Hnsw.ser(sparse))
      assert(back.sparse && back.idxs.map(_.toSeq) == sparse.idxs.map(_.toSeq))
      assert(back.searchKnn(Hnsw.Sparse(fullIdx, vs.head._2), 3, 32) ==
        sparse.searchKnn(Hnsw.Sparse(fullIdx, vs.head._2), 3, 32))
    }
  }

  test("appendBatchSparse inserts sparse rows with full linking; cross-kind appends refused (r14)") {
    import org.apache.spark.sql.functions.col
    val tf = graft.queries.VectorQueries.sparseTf(spark, Sf)
      .withColumn("sv", Hnsw.sparseColumn("sidx", "sval")).localCheckpoint()
    val base = tf.filter(col("doc_id") >= 10)
    val adds = tf.filter(col("doc_id") < 10)
    val graphs = Hnsw.buildPartitioned(base, "doc_id", "sv",
      m = 8, efC = 32, parts = 2, metric = "cosine").localCheckpoint()
    val merged = Hnsw.appendBatch(graphs, adds, "doc_id", "sv")
      .localCheckpoint()
    // every appended doc finds itself at distance 0
    for (r <- adds.collect()) {
      val (id, qi, qv) = (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray)
      val hits = Hnsw.search(merged, Hnsw.Sparse(qi, qv), 1, ef = 64).collect()
      // cosine self-distance carries one ulp of sqrt rounding
      // (1 − aa/(√aa·√aa)); exact zero is an L2-only property
      assert(hits.head.getLong(0) == id && hits.head.getDouble(1) < 1e-12,
        s"appended sparse doc $id not findable: ${hits.toSeq}")
    }
    // dense rows into a sparse store / sparse rows into a dense store
    // both fail with the fix named
    val eD = intercept[org.apache.spark.SparkException] {
      Hnsw.appendBatch(graphs, Tables.embeddings(spark, Sf).limit(2),
        "vec_id", "embedding").collect()
    }
    assert(eD.getMessage.contains("Hnsw.Sparse(indices, values)"))
    val denseGraphs = Hnsw.buildPartitioned(
      Tables.embeddings(spark, Sf).limit(50), "vec_id", "embedding",
      m = 8, efC = 32, parts = 2).localCheckpoint()
    val eS = intercept[org.apache.spark.SparkException] {
      Hnsw.appendBatch(denseGraphs, adds, "doc_id", "sv").collect()
    }
    assert(eS.getMessage.contains("Hnsw.Dense(values)"))
  }

  test("local index recall vs brute force on a gaussian cloud") {
    val ix = new Hnsw.Index(16, 64)
    val rnd = new scala.util.Random(5)
    val vs = Array.tabulate(2000)(i => (i.toLong, Array.fill(32)(rnd.nextGaussian())))
    vs.foreach { case (id, v) => ix.insert(id, Hnsw.Dense(v)) }
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val recalls = for (qi <- 0 until 20) yield {
      val q = Array.fill(32)(rnd.nextGaussian())
      val exact = vs.map { case (id, v) => (id, l2(q, v)) }.sortBy(_._2).take(10).map(_._1).toSet
      val got = ix.searchKnn(Hnsw.Dense(q), 10, 96).map(_._1).toSet
      (exact & got).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"local HNSW mean recall@10 = $mean%.2f over 20 queries")
    assert(mean >= 0.9, s"local graph recall $mean too low")
  }

  test("ef = graph size makes the beam exhaustive: equals brute force per partition graph") {
    // STRUCTURAL gate (VERDICT r9 #8), no recall dependence: with
    // ef >= n the beam never evicts and never terminates early, so it
    // must visit the entry's whole layer-0 component — on a sound
    // build that is the entire graph, and the top-k equals the exact
    // scan over the graph's own stored vectors bit-for-bit. A
    // beam-walk or graph-connectivity regression fails THIS loudly
    // instead of surfacing as a recall drift toward the gate floor.
    import graft.operators.Hnsw
    val graphs = Hnsw.buildPartitioned(
      Tables.embeddings(spark, Sf), "vec_id", "embedding",
      m = 8, efC = 32, parts = 4)
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    graphs.collect().foreach { row =>
      val ix = Hnsw.deser(row.getAs[Array[Byte]]("graph"))
      val n = ix.ids.length
      val got = ix.searchKnn(Hnsw.Dense(q), k = 10, ef = n).map { case (id, d) => (d, id) }
      val want = (0 until n)
        .map { i =>
          var s = 0.0
          val v = ix.vecs(i)
          var j = 0
          while (j < v.length) { val dd = v(j) - q(j); s += dd * dd; j += 1 }
          (math.sqrt(s), ix.ids(i))
        }
        .sorted.take(10)
      assert(got == want,
        s"partition graph ${row.getInt(0)}: exhaustive beam != brute force\n$got\n$want")
    }
  }

  test("batch search equals per-query search; graphs persist through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("hnswstore").toString
    Hnsw.writeGraphs(
      Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), dir)
    val graphs = Hnsw.readGraphs(spark, dir).cache()
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), Hnsw.Dense(r.getSeq[Double](1).toArray))).toSeq
    val batch = Hnsw.searchBatch(graphs, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    for ((qid, qv) <- queries) {
      val single = Hnsw.search(graphs, qv, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"batch/single mismatch for query $qid")
    }
    graphs.unpersist()
  }

  test("explicit blob format round-trips the graph exactly; garbage is rejected") {
    val ix = new Hnsw.Index(8, 32)
    val rnd = new scala.util.Random(7)
    val vs = Array.tabulate(300)(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
    vs.foreach { case (id, v) => ix.insert(id, Hnsw.Dense(v)) }
    val back = Hnsw.deser(Hnsw.ser(ix))
    assert(back.m == ix.m && back.efC == ix.efC)
    assert(back.entry == ix.entry && back.maxLevel == ix.maxLevel)
    assert(back.ids == ix.ids && back.nodeLevel == ix.nodeLevel)
    assert(back.vecs.zip(ix.vecs).forall { case (a, b) => a.sameElements(b) })
    assert(back.links.zip(ix.links).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => x == y } })
    // identical search behavior through the round-trip
    val q = Array.fill(16)(rnd.nextGaussian())
    assert(back.searchKnn(Hnsw.Dense(q), 10, 64) == ix.searchKnn(Hnsw.Dense(q), 10, 64))
    // data-only decode: a non-graph payload fails the magic check
    // instead of instantiating whatever the bytes claim to be
    intercept[IllegalArgumentException] {
      Hnsw.deser {
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.util.zip.DeflaterOutputStream(bos)
        o.write(Array.fill[Byte](64)(42)); o.close(); bos.toByteArray
      }
    }
  }

  test("targetVectorsPerGraph sizes the build mechanically; recall gate unchanged") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val n = corpus.count()
    // force ~8 vectors per graph: far more graphs than natural partitions
    val graphs = Hnsw.buildPartitioned(corpus, "vec_id", "embedding",
      m = 16, efC = 64, targetVectorsPerGraph = 64).cache()
    val expected = (n + 63) / 64
    assert(graphs.count() >= expected / 2 && graphs.count() <= expected,
      s"got ${graphs.count()} graphs for $n vectors at target 64 (expected ~$expected)")
    // the exact k·P merge keeps search correct however many graphs exist
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val got = Hnsw.search(graphs, Hnsw.Dense(query), 10, ef = 96)
      .collect().map(_.getLong(0)).toSeq
    val exact = graft.operators.Knn.topK(corpus, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
        "qvec", graft.functions.VectorFunctions.l2Distance, 10)
      .collect().map(_.getLong(0)).toSeq
    val recall = (got.toSet & exact.toSet).size / 10.0
    info(f"recall@10 with ~64-vector graphs = $recall%.2f")
    assert(recall >= 0.9, s"tiny-graph recall $recall below 0.9")
  }

  test("recoverStore heals a torn swap before the next micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnswrecover").toString
    Hnsw.writeGraphs(
      Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), s"$dir/graphs")
    val before = Hnsw.readGraphs(spark, s"$dir/graphs").count()
    // simulate a crash between "rename aside" and "promote": no store
    // directory, previous generation stranded at .old
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/graphs"),
      new org.apache.hadoop.fs.Path(s"$dir/graphs.old")))
    // next micro-batch self-heals, then appends normally
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = Hnsw.streamAppend(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/graphs", s"$dir/ckpt")
    try {
      input.addData(Seq((777777L, Seq.fill(64)(0.25))))
      q.processAllAvailable()
    } finally q.stop()
    val healed = Hnsw.readGraphs(spark, s"$dir/graphs")
    assert(healed.count() == before)
    val hit = Hnsw.search(healed, Hnsw.Dense(Array.fill(64)(0.25)), 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hit.head == ((777777L, 0.0)), s"appended vector not found: ${hit.toSeq}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/graphs.old")))
  }

  test("streaming HNSW serving answers each micro-batch like the batch search") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val graphs = Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4)
      .localCheckpoint()
    val queries = emb.filter(col("vec_id") < 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = graft.streaming.KnnServing.serveHnsw(
      input.toDF().toDF("qid", "qvec"), graphs, "qid", "qvec", k = 3) { (batch, _) =>
      results ++= batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      input.addData(queries.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(results.size == 9)
    val direct = Hnsw.searchBatch(graphs,
      queries.map { case (id, v) => (id, Hnsw.Dense(v.map(_.toDouble).toArray)) }.toSeq, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(results.sortBy(x => (x._1, x._3, x._2)).toSeq ==
      direct.sortBy(x => (x._1, x._3, x._2)).toSeq)
  }

  test("serveHnsw rejects a micro-batch past maxBatch (driver collect is bounded)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val graphs = Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4)
      .localCheckpoint()
    val queries = emb.filter(col("vec_id") < 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.KnnServing.serveHnsw(
      input.toDF().toDF("qid", "qvec"), graphs, "qid", "qvec",
      k = 3, maxBatch = 3) { (_, _) => () }
    try {
      input.addData(queries.toSeq) // 5 queries > maxBatch 3
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains("maxBatch"), s"unexpected failure:\n$msgs")
    } finally q.stop()
  }

  test("appendBatch inserts new vectors with full linking: they are findable at distance 0") {
    val graphs = Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4)
      .localCheckpoint()
    val newVecs = emb.limit(10)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    val merged = Hnsw.appendBatch(graphs, newVecs, "vec_id", "embedding")
      .localCheckpoint()
    assert(merged.count() == 4) // same partition graphs, larger
    val probe = newVecs.limit(1).select(col("vec_id"),
      col("embedding").cast("array<double>")).collect().head
    val hits = Hnsw.search(merged, Hnsw.Dense(probe.getSeq[Double](1).toArray), 3).collect()
    // the appended vector duplicates an existing one's embedding, so
    // BOTH must surface at distance 0 (the original wins the id tie)
    assert(hits.filter(_.getDouble(1) == 0.0).map(_.getLong(0)).contains(probe.getLong(0)),
      s"appended vector not found: ${hits.mkString(",")}")
    // pre-existing vectors are still findable too
    val oldVec = emb.filter(col("vec_id") === 11)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    assert(Hnsw.search(merged, Hnsw.Dense(oldVec), 1).collect().head.getLong(0) == 11L)
  }

  test("appendBatch routes into EXISTING part ids (hole-y id space loses nothing)") {
    import spark.implicits._
    // 5 vectors into 8 partitions → empty partitions emit no graph
    // row, so part ids have holes; every appended vector must still
    // land in SOME existing graph and be findable
    val tiny = emb.limit(5)
    val graphs = Hnsw.buildPartitioned(tiny, "vec_id", "embedding", parts = 8)
      .localCheckpoint()
    assert(graphs.count() < 8, "fixture must produce a hole-y part-id space")
    val adds = emb.limit(40)
      .select((col("vec_id") + 600000L).as("vec_id"), col("embedding"))
    val merged = Hnsw.appendBatch(graphs, adds, "vec_id", "embedding")
      .localCheckpoint()
    assert(merged.count() == graphs.count()) // no new graph rows, none lost
    // every appended vector is findable at distance 0
    val probes = adds.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
    for (p <- probes.take(10)) {
      val hits = Hnsw.search(merged, Hnsw.Dense(p.getSeq[Double](1).toArray), 5).collect()
      assert(hits.exists(h => h.getLong(0) == p.getLong(0) && h.getDouble(1) == 0.0),
        s"appended vector ${p.getLong(0)} not findable")
    }
  }

  test("streamAppend maintains a persisted graph store through the atomic swap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hnswappend").toString
    Hnsw.writeGraphs(
      Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4), s"$dir/graphs")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = Hnsw.streamAppend(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/graphs", s"$dir/ckpt")
    val fresh = emb.limit(5).collect()
      .map(r => (r.getLong(0) + 800000L, r.getSeq[Float](1)))
    try {
      input.addData(fresh.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val graphs = Hnsw.readGraphs(spark, s"$dir/graphs")
    val qv = fresh.head._2.map(_.toDouble).toArray
    val hits = Hnsw.search(graphs, Hnsw.Dense(qv), 3).collect()
    assert(hits.filter(_.getDouble(1) == 0.0).map(_.getLong(0)).contains(fresh.head._1),
      s"appended vector not found after swap: ${hits.mkString(",")}")
  }

  test("partitioned build emits one graph per non-empty partition; search merges exactly") {
    val graphs = Hnsw.buildPartitioned(emb, "vec_id", "embedding", parts = 4).cache()
    assert(graphs.count() == 4)
    // every corpus vector is in exactly one graph: querying with a
    // stored vector must surface that vector at distance 0
    val someVec = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val hits = Hnsw.search(graphs, Hnsw.Dense(someVec), 5).collect()
    assert(hits.head.getLong(0) == 7L && hits.head.getDouble(1) == 0.0)
    assert(hits.map(_.getLong(0)).distinct.length == 5)
    // ascending by distance
    val ds = hits.map(_.getDouble(1)).toSeq
    assert(ds == ds.sorted)
    graphs.unpersist()
  }
}
