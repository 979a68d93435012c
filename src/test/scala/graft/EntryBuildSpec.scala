package graft

/** What a [[QueryDef.build]] promises, checked on every entry that has
  * one: the build writes its stores (so its `_build` row times a real
  * build, not a hit on a store that is already there), and the entry's
  * `fn` run after it writes none and returns rows (so its `_probe` row
  * times only reads). */
class EntryBuildSpec extends SparkSpec {

  test("every build writes its stores; the fn after it only reads them") {
    val staged = SparkEntry.all.toSeq.sortBy(_._1).collect {
      case (name, q) if q.build.isDefined => (name, q)
    }
    assert(staged.nonEmpty)
    val faults = staged.flatMap { case (name, q) =>
      val t0 = System.currentTimeMillis()
      q.build.get(spark, Sf)
      val built = Sidecar.wroteStores(t0)
      Thread.sleep(20) // the build's last marker is strictly older than t1
      val t1 = System.currentTimeMillis()
      val rows = q.fn(spark, Sf).count()
      Seq(
        if (built) None else Some(s"$name: build wrote no store"),
        if (Sidecar.wroteStores(t1)) Some(s"$name: fn wrote a store after its build") else None,
        if (rows > 0) None else Some(s"$name: fn returned no rows")).flatten
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }
}
