package graft

import graft.operators.{Hnsw, IvfIndex}
import org.apache.spark.sql.functions._

/** The cell-routed graph layout's two contracts (VERDICT r6 #5):
  * (1) a query deserializes AT MOST nprobe graphs — measured by an
  * accumulator around the actual deser call, and the cell filter is
  * pushed into the parquet scan so un-probed blobs are never read;
  * (2) recall survives the routing (the RecallGateSpec floor holds
  * the full-query gate; here a structural check that full probe
  * equals the flat layout's answer). */
class HnswRoutedSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, Sf)
  private lazy val corpus = emb.filter(col("vec_id") =!= 0)
  private lazy val query: Array[Double] = emb.filter(col("vec_id") === 0)
    .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray

  private lazy val store: (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("hnswrouted").toString
    val centroids = IvfIndex.trainCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val graphs = Hnsw.buildCellRouted(corpus, "vec_id", "embedding",
      Hnsw.Centroids.of(centroids), spill = 2)
    Hnsw.writeGraphs(graphs, s"$dir/graphs")
    centroids.write.parquet(s"$dir/cent")
    (s"$dir/graphs", s"$dir/cent")
  }

  test("routed search deserializes ≤ nprobe graphs; cell filter pushes into the scan") {
    val (gp, cp) = store
    val graphs = spark.read.parquet(gp)
    val cents = spark.read.parquet(cp)
    val counter = spark.sparkContext.longAccumulator("graph-deser")
    val result = Hnsw.search(graphs, Hnsw.Dense(query), k = 10,
      ef = 96, route = Some((Hnsw.Centroids.of(cents), 3)), deserCounter = Some(counter))
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(part_id"),
      s"cell routing must prune the blob scan itself:\n$plan")
    val rows = result.collect()
    assert(rows.length == 10)
    assert(counter.value <= 3,
      s"walked ${counter.value} graphs for nprobe=3 — routing is not pruning")
    // spill-2 copies must not surface as duplicate ids
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids.distinct == ids)
  }

  test("ef = graph size is exhaustive per CELL graph (structural, no recall dependence)") {
    // VERDICT r9 #8, routed layout: each cell graph with ef >= its
    // size must return exactly the brute-force ranking of its own
    // stored vectors — a connectivity/beam regression in the
    // cell-local builds fails loudly here rather than leaking into
    // the routed recall floor.
    val (gp, _) = store
    spark.read.parquet(gp).collect().foreach { row =>
      val ix = Hnsw.deser(row.getAs[Array[Byte]]("graph"))
      val n = ix.ids.length
      val got = ix.searchKnn(Hnsw.Dense(query), k = 5, ef = n).map { case (id, d) => (d, id) }
      val want = (0 until n).map { i =>
        var s = 0.0
        val v = ix.vecs(i)
        var j = 0
        while (j < v.length) { val dd = v(j) - query(j); s += dd * dd; j += 1 }
        (math.sqrt(s), ix.ids(i))
      }.sorted.take(5)
      assert(got == want, s"cell graph: exhaustive beam != brute force\n$got\n$want")
    }
  }

  test("full probe (nprobe = nlist) over spilled cell graphs equals the flat layout's answer") {
    val (gp, cp) = store
    val graphs = spark.read.parquet(gp)
    val cents = spark.read.parquet(cp)
    val routedAll = Hnsw.search(graphs, Hnsw.Dense(query), k = 10,
      ef = 512, route = Some((Hnsw.Centroids.of(cents), 8)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flat = Hnsw.search(
      Hnsw.buildPartitioned(corpus, "vec_id", "embedding", parts = 8),
      Hnsw.Dense(query), k = 10, ef = 512)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(routedAll == flat,
      "with every cell probed and a saturating beam, routing must not change the answer")
  }

  test("every vector is findable through its own cell (spill copies dedup to one row)") {
    val (gp, cp) = store
    val graphs = spark.read.parquet(gp)
    val cents = spark.read.parquet(cp)
    val probes = corpus.limit(5)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
    for (r <- probes) {
      val hit = Hnsw.search(graphs, Hnsw.Dense(r.getSeq[Double](1).toArray),
        k = 1, ef = 64, route = Some((Hnsw.Centroids.of(cents), 1))).collect()
      assert(hit.length == 1 && hit.head.getLong(0) == r.getLong(0) &&
        hit.head.getDouble(1) == 0.0,
        s"vector ${r.getLong(0)} not self-findable via nprobe=1: ${hit.toSeq}")
    }
  }

  test("Centroids.cells ranks exactly as NearestCellsExpr (random geometry and distance ties)") {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 20) {
      val dims = 1 + rnd.nextInt(8)
      val nlist = 1 + rnd.nextInt(12)
      val n = 1 + rnd.nextInt(6) // sometimes > nlist
      // low-entropy coordinates and a duplicated centroid force ties
      val cents = Array.tabulate(nlist)(_ => Array.fill(dims)(rnd.nextInt(3).toDouble))
      if (nlist > 1) cents(nlist - 1) = cents(0).clone()
      val ids = Array.tabulate(nlist)(i => (nlist - i) * 5 + 2) // unsorted ids
      val vecs = Seq.fill(40)(Seq.fill(dims)(rnd.nextInt(3).toDouble)) ++
        Seq(Seq.fill(dims)(rnd.nextGaussian()))
      val want = vecs.toDF("v")
        .select(toColumn(graft.functions.NearestCellsExpr(
          toExpression(col("v")), ids, cents, n)).as("cells"))
        .collect().map(_.getSeq[Int](0).toSeq)
      val routing = Hnsw.Centroids(ids, cents)
      for ((v, w) <- vecs.zip(want))
        assert(routing.cells(Hnsw.Dense(v.toArray), n) == w,
          s"trial $trial dims=$dims nlist=$nlist n=$n: ${routing.cells(Hnsw.Dense(v.toArray), n)} vs $w")
    }
    // a query of the other kind fails with the fix named
    val e = intercept[IllegalArgumentException] {
      Hnsw.Centroids(Array(0), Array(Array(0.0))).cells(Hnsw.Sparse(Array(1L), Array(1.0)), 1)
    }
    assert(e.getMessage.contains("Hnsw.TermMass"))
    val e2 = intercept[IllegalArgumentException] {
      Hnsw.TermMass(4).cells(Hnsw.Dense(Array(1.0)), 1)
    }
    assert(e2.getMessage.contains("Hnsw.Centroids"))
  }

  test("one routed path: no sparse twin or rankCells is defined in Hnsw or KnnServing") {
    val files = Seq("src/main/scala/graft/operators/Hnsw.scala",
      "src/main/scala/graft/streaming/KnnServing.scala").map(new java.io.File(_))
    assert(files.forall(_.isFile), files)
    val twin = """def\s+(\w+Sparse|rankCells\w*)\b""".r
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .zipWithIndex
      if twin.findFirstIn(line).isDefined
    } yield s"${f.getName}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, "dense/sparse routing twins are back:\n" + hits.mkString("\n"))
  }
}
