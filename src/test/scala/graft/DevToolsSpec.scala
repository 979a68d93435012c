package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.tools` holds dev mains only: plan audits, the oracle subset
  * runner, the store rewriter and the measurements that specs and
  * ROADMAP cite. Phase timing belongs to [[Bench]] (one entry per
  * fresh JVM with `SPARK_GRAFT_BENCH_ONLY`), so a new profiler is an
  * explicit edit of this list, not a quiet addition to every build. */
class DevToolsSpec extends AnyFunSuite {

  test("graft.tools holds exactly the kept dev mains") {
    val kept = Set(
      // plan audits, the oracle subset runner and the store rewriter
      "ExplainAudit", "RuntimePlanAudit", "IterPlanDump", "RewriteClustered",
      "VerifySubset",
      // the recall measurements RecallGateSpec's comments cite
      "ProfileRecall", "ProfileSemDedup", "ProfileKnnJoin", "ProfileClassifier",
      // the ZipfSparse corpus and the routed-store floor decomposition
      "ZipfSparseBench", "ProfileRoutedFloor")
    val dir = new java.io.File("src/main/scala/graft/tools")
    assert(dir.isDirectory, dir)
    val found = dir.listFiles.map(_.getName.stripSuffix(".scala")).toSet
    assert(found == kept,
      s"added: ${(found -- kept).toSeq.sorted}, missing: ${(kept -- found).toSeq.sorted}")
  }
}
