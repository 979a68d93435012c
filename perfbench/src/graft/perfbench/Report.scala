package graft.perfbench

import scala.collection.mutable

/** What one workload run measured: timed latencies, operation and
  * check counts, set-up repetitions, and the per-layer table. */
final class Outcome {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var expected = 0L
  var found = 0L
  var completed = 0L
  var measuredSeconds = 0.0
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  var storeBytes = 0L
  var heapLiveBytes = 0L
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Sizes, knobs and other facts stamped into the artifact. */
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** Count one operation; it fails if any check in `checks` fails. */
  def operation(checks: Seq[(Boolean, String)]): Unit = {
    attempted += 1
    val bad = checks.filterNot(_._1)
    if (bad.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += bad.map(_._2).mkString("; ")
    }
  }

  def operationFailed(e: Throwable): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += s"${e.getClass.getName}: ${e.getMessage}"
  }

  def recall[T](expectedIds: Set[T], got: Seq[T]): Unit = {
    expected += expectedIds.size
    found += got.count(expectedIds.contains).toLong
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def dirBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
