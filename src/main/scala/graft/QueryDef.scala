package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One inventory entry (SURVEY.md §2): a Spark query over an sfDir plus
  * the equivalent DuckDB oracle SQL (None → rows-only check).
  *
  * Oracle-parity rules (SURVEY.md §3): identical column names via
  * explicit aliases, total ORDER BY, bit-deterministic numerics
  * (decimal-exact sums cast to double; sequential-fold vector math).
  *
  * `build`, where defined, rebuilds from scratch every persisted store
  * `fn` reads: it drops them, then ensures them, so a `fn` run after it
  * only reads. [[Bench]] times it as `<name>_build` and then `fn` as
  * `<name>_probe`, the reference's ingest/probe split; an entry
  * without one is timed as one row. [[Verify]] calls only `fn`, which
  * ensures its stores itself, so the timed probe is the oracled code.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    build: Option[(SparkSession, String) => Unit] = None)

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): QueryDef =
    QueryDef(fn, Some(sql))

  /** A `build` that drops the fixture's stores under `tags`, then runs
    * `ensure`, which builds them again. */
  def rebuild(tags: String*)(
      ensure: (SparkSession, String) => Any): Option[(SparkSession, String) => Unit] =
    Some { (s, d) =>
      tags.foreach(t => Sidecar.drop(Sidecar.dir(t, d)))
      ensure(s, d)
      ()
    }
}
