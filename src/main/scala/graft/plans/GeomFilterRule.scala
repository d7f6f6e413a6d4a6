package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule (SURVEY §4 custom work #2): a filter on the EXACT
  * geometry predicate `st_intersects_bbox(geometryWkt, qx0,qy0,qx1,qy1)`
  * (a black-box ScalaUDF — Catalyst can't push it anywhere) gets a
  * redundant-but-cheap conjunct over the row's precomputed bbox columns:
  *
  *   udf(geom, …) ⇒ xmax≥qx0 && xmin≤qx1 && ymax≥qy0 && ymin≤qy1 && udf(geom, …)
  *
  * The guard is built from STOCK comparison expressions deliberately —
  * DataSource filter translation only understands those, so the
  * conjuncts get pushed through projects/joins INTO the parquet scan
  * where row-group min/max statistics prune I/O (a custom Expression —
  * even BboxIntersectsExpr — would be as opaque to the scan as the UDF).
  * The UDF then only sees rows whose envelope already matched: exact
  * clip semantics while scanning a fraction of 100 TB.
  *
  * Idempotent: skips filters already guarded for the same box.
  */
object GeomFilterRule extends Rule[LogicalPlan] {

  private val UdfName = "st_intersects_bbox"

  private def bboxAttrs(plan: LogicalPlan): Option[(Attribute, Attribute, Attribute, Attribute)] = {
    def find(n: String) = plan.output.find(a => a.name == n && a.dataType == DoubleType)
    for (x0 <- find("xmin"); y0 <- find("ymin"); x1 <- find("xmax"); y1 <- find("ymax"))
      yield (x0, y0, x1, y1)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      bboxAttrs(child) match {
        case None => f
        case Some((x0, y0, x1, y1)) =>
          var changed = false
          val newCond = cond.transformUp {
            case udf: ScalaUDF if udf.udfName.contains(UdfName) =>
              udf.children match {
                case Seq(_, Literal(qx0: Double, _), Literal(qy0: Double, _),
                    Literal(qx1: Double, _), Literal(qy1: Double, _))
                    if !alreadyGuarded(cond, qx0) =>
                  changed = true
                  val guard = And(
                    And(GreaterThanOrEqual(x1, Literal(qx0)), LessThanOrEqual(x0, Literal(qx1))),
                    And(GreaterThanOrEqual(y1, Literal(qy0)), LessThanOrEqual(y0, Literal(qy1))))
                  And(guard, udf)
                case _ => udf
              }
          }
          if (changed) Filter(newCond, child) else f
      }
  }

  private def alreadyGuarded(cond: Expression, qx0: Double): Boolean =
    cond.exists {
      case GreaterThanOrEqual(a: Attribute, Literal(q: Double, _)) =>
        a.name == "xmax" && q == qx0
      case _ => false
    }
}

/** Registration, the one path: `install(spark)` on a live session,
  * called by [[graft.Sessions]] for every root and child session. It is
  * idempotent and adds the optimizer rule to the experimental-methods
  * batch, the as-of join strategy to the planner and `bbox_intersects`
  * to the function registry for SQL.
  */
object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(GeomFilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GeomFilterRule
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    // registered once: a replace logs a warning on every re-install
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("bbox_intersects")))
      registry.createOrReplaceTempFunction(
        "bbox_intersects",
        exprs => exprs match {
          case Seq(x0, y0, x1, y1, Literal(a: Double, _), Literal(b: Double, _),
              Literal(c: Double, _), Literal(d: Double, _)) =>
            BboxIntersectsExpr(x0, y0, x1, y1, a, b, c, d)
          case _ =>
            throw new IllegalArgumentException(
              "bbox_intersects(xmin, ymin, xmax, ymax, qxmin, qymin, qxmax, qymax literals)")
        },
        "built-in")
  }
}
