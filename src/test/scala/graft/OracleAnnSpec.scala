package graft

import graft.functions.VectorFunctions
import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** Regression pin for the r9 double-probe bug the replay oracle
  * caught: probeCandidates' semi-join probe was not recognized by
  * IvfProbeRule's already-probed guard, so the rule re-injected a
  * WIDER probe whose dedup list disagreed with the narrow scan — a
  * spilled copy could be killed by a better-ranked cell that was
  * never scanned, silently dropping its vector from the result. The
  * probe now injects a literal In filter (guard-visible + statically
  * partition-pruned). */
class OracleAnnSpec extends SparkSpec {

  test("iterative filtered probe over a REGISTERED store loses no probed vector") {
    OracleEnv.sfDir = Sf
    // running the auto entry builds + registers the store and installs
    // the rule on this session — the exact environment of the bug
    SparkEntry.queries("vs_ivf_auto")(spark, Sf).collect()
    val base = Sidecar.dir(graft.queries.VectorQueries.IvfAutoTag, Sf)
    val store = spark.read.parquet(new java.io.File(base, "store").toString)
    val cents = spark.read.parquet(new java.io.File(base, "centroids").toString)
      .select(col("centroid_id"), col("centroid"))
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val pred = col("vec_id") =!= 0 && col("label") === 3
    val (res, p) = IvfIndex.searchFilteredIterative(
      store, "vec_id", "embedding", cents, q, "qvec",
      VectorFunctions.l2Distance, k = 10, pred = pred,
      nprobe0 = 1, maxProbe = 32)
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // reference: ANY copy in the first-p cells qualifies its vector
    // (copies are content-identical, so dropDuplicates is safe), then
    // exact top-k — no dedup subtleties to get wrong
    val qv = q.select(col("qvec").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    val probed = cents.crossJoin(broadcast(q))
      .select(col("centroid_id"),
        VectorFunctions.l2Distance(col("centroid"), col("qvec")).as("cd"))
      .orderBy(col("cd"), col("centroid_id")).limit(p)
      .collect().map(_.getInt(0)).toSeq
    val want = store
      .filter(col("centroid_id").isin(probed.map(c => c: Any): _*))
      .filter(pred)
      .dropDuplicates("vec_id")
      .select(col("vec_id"),
        graft.functions.VectorDistance.l2(col("embedding"), typedLit(qv.toSeq)).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want,
      s"probe dropped vectors (width $p): got ${got.map(_._1)} want ${want.map(_._1)}")
  }
}
