package graft.plans

import graft.functions.VectorDistanceExpr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The plan matching both probe rules share ([[IvfProbeRule]],
  * [[HnswProbeRule]]): the top-k shape, sort-key resolution through
  * projections, the literal query vector, and pgvector's numeric GUC
  * parse. Each rule keeps only its own sort-key recognition and its
  * index-specific injection. */
private[plans] object ProbeMatch {

  /** GlobalLimit▸LocalLimit▸global Sort — the top-k shape — with any
    * Project nodes between LocalLimit and Sort peeled (a projection
    * after the knn, e.g. a user `.select(...)`, optimizes into that
    * spot) and re-wrapped unchanged around the rewritten Sort. Returns
    * `gl` itself when the shape or `rewrite` does not match. */
  def rewriteTopK(gl: GlobalLimit)(rewrite: Sort => Option[Sort]): LogicalPlan =
    gl.child match {
      case ll: LocalLimit =>
        val (rewrap, core) = peelProjects(ll.child)
        core match {
          case srt: Sort if srt.global =>
            rewrite(srt)
              .map(s => gl.withNewChildren(Seq(ll.withNewChildren(Seq(rewrap(s))))))
              .getOrElse(gl)
          case _ => gl
        }
      case _ => gl
    }

  /** Peel consecutive Project nodes, returning a function that
    * re-wraps a replacement plan in the same projections. */
  private def peelProjects(p: LogicalPlan): (LogicalPlan => LogicalPlan, LogicalPlan) =
    p match {
      case proj: Project =>
        val (inner, core) = peelProjects(proj.child)
        (child => proj.withNewChildren(Seq(inner(child))), core)
      case other => (identity, other)
    }

  /** Follow an attribute through Project aliases down the child chain. */
  def resolveThroughProjects(e: Expression, plan: LogicalPlan): Expression = e match {
    case attr: AttributeReference =>
      plan match {
        case Project(projectList, child) =>
          projectList.collectFirst {
            case a: Alias if a.exprId == attr.exprId => resolveThroughProjects(a.child, child)
          }.getOrElse(attr)
        case Filter(_, child) => resolveThroughProjects(attr, child)
        case _ => attr
      }
    case other => other
  }

  /** Resolve an expression through Project aliases to a bare column
    * attribute; non-column distance operands abort the rewrite. */
  def resolveToAttribute(e: Expression, plan: LogicalPlan): Option[AttributeReference] =
    resolveThroughProjects(e, plan) match {
      case a: AttributeReference => Some(a)
      case _ => None
    }

  /** The literal query vector of a distance, if one operand is one. */
  def literalVector(v: VectorDistanceExpr): Option[Array[Double]] =
    Seq(v.left, v.right).collectFirst {
      case Literal(data: ArrayData, ArrayType(DoubleType, _)) => data.toDoubleArray()
      case Literal(data: ArrayData, ArrayType(FloatType, _)) => data.toFloatArray().map(_.toDouble)
    }

  /** Numeric GUC parse with pgvector's rejection semantics (r15): a
    * malformed or out-of-range value throws at the first probe instead
    * of silently behaving as the default. None when unset. */
  def intKnob(session: SparkSession, key: String, lo: Int, hi: Int): Option[Int] =
    session.conf.getOption(key).map { v =>
      val n = scala.util.Try(v.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"""invalid value for parameter "$key": "$v" (expected an integer)"""))
      if (n < lo || n > hi) throw new IllegalArgumentException(
        s"$n is outside the valid range for parameter " +
          s""""$key" ($lo .. $hi)""")
      n
    }
}
