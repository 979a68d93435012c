package graft

import graft.streaming.ServingBench

/** The serving doc store ([[ServingBench.ensureDocStore]]) is a
  * [[Sidecar]] store: a build killed after `GraftTable.create` made
  * `_txlog/` but before its first commit is rebuilt on the next
  * ensure instead of being opened (which throws "no GraftTable log"
  * on every call until the directory is deleted by hand). */
class DocStoreSpec extends SparkSpec {

  test("a doc store left with an empty _txlog by a killed build is rebuilt") {
    val dir = Sidecar.dir(ServingBench.DocStoreTag, Sf)
    Sidecar.drop(dir)
    require(new java.io.File(dir, "_txlog").mkdirs())
    val t = ServingBench.ensureDocStore(spark, Sf)
    assert(t.read().count() == Tables.documents(spark, Sf).count())
    assert(new java.io.File(dir, Sidecar.Done).exists())
  }
}
