package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join as a first-class Catalyst operator (SURVEY §4
  * custom work — preference order (c): whole-operator semantics as
  * LogicalPlan + Strategy + SparkPlan).
  *
  * Semantics match [[graft.operators.Relational.asOfJoin]] (the
  * composed variant): for each left row, the LATEST right row with the
  * same key and `right.time <= left.time`; carried right columns
  * surface as nullable `asof_*` outputs, unmatched lefts keep nulls.
  *
  * Why a custom plan beats the composed one at scale: the union+window
  * shape shuffles BOTH streams into one partition-sorted pass plus a
  * whole-partition running `last(ignoreNulls)`; this operator instead
  * declares `ClusteredDistribution`/`SortOrder` requirements and does a
  * single forward MERGE per co-partition — no union row-widening, no
  * window buffering, and Catalyst's EnsureRequirements elides the
  * exchanges entirely when the inputs are already bucketed or
  * pre-shuffled on the key (the 100 TB case: events bucketed by
  * user_id join with zero exchange).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Expression,
    // carried right columns and their pre-built `asof_*` output attrs —
    // plain Attributes, NOT Aliases: the analyzer's CleanupAliases strips
    // Alias from every node that isn't a Project/Aggregate/Window, so an
    // aliased-rename stored here would silently lose its name
    carriedIn: Seq[Attribute],
    carriedOut: Seq[Attribute])
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ carriedOut

  // carriedOut is MADE here, not consumed — exclude it from references
  // or CheckAnalysis reports it missing from the children (the Generate
  // / generatorOutput pattern)
  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.leftTime, j.rightTime,
        j.rightTiebreak, j.carriedIn, j.output) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. Children are required hash-clustered on the
  * keys and sorted by (keys, time[, tiebreak]); each co-partition is
  * then one forward merge with O(1) state — the right cursor never
  * rewinds and only the single current best match is retained, so
  * memory is independent of group size (contrast: a window over the
  * union buffers whole frames).
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Expression,
    carriedIn: Seq[Attribute],
    output: Seq[Attribute])
  extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime :+ rightTiebreak).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def producedAttributes: AttributeSet =
    AttributeSet(output.drop(left.output.size))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs  = leftKeys
    val rKeyExprs  = rightKeys
    val lTimeExpr  = leftTime
    val rTimeExpr  = rightTime
    val carriedEx  = carriedIn
    val keyTypes   = leftKeys.map(_.dataType)
    val timeType   = leftTime.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd   = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd  = TypeUtils.getInterpretedOrdering(timeType)
      val lTimeEval = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeEval = BindReferences.bindReference(rTimeExpr, rOut)
      // final projection: left columns + carried right columns, fed a
      // JoinedRow(left, matchOrNulls). The right schema binds with
      // nullability forced on (outer-join pattern): BindReferences takes
      // nullability from the INPUT schema, and without it the projection
      // skips the null check and reads 0 from the all-null unmatched row.
      val project = UnsafeProjection.create(
        (lOut ++ carriedEx).asInstanceOf[Seq[Expression]],
        lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var curMatch: InternalRow = null
        private var curKey: UnsafeRow = null // copy of the key curMatch belongs to

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lT   = lTimeEval.eval(lRow)
          // SQL equi-join semantics: a NULL key (or NULL time) matches
          // nothing — emit the left row unmatched WITHOUT consulting the
          // merge state (the natural row ordering would otherwise compare
          // NULLs as equal and pair null-key rows across the join).
          // Null-key/time RIGHT rows are filtered out at plan build
          // (AsOfJoin.apply), so the cursor below only sees clean rows.
          if (lKey.anyNull || lT == null)
            return project(joined(lRow, nullRight))
          // stale match from an earlier key group
          if (curKey != null && keyOrd.compare(curKey, lKey) != 0) {
            curMatch = null; curKey = null
          }
          // skip right rows from key groups before ours
          while (rHead != null && keyOrd.compare(rKeyProj(rHead), lKey) < 0)
            rHead = if (rIter.hasNext) rIter.next() else null
          // absorb right rows at our key with time <= left time; the
          // LAST one absorbed is the as-of match (sorted by time,tiebreak)
          while (rHead != null && keyOrd.compare(rKeyProj(rHead), lKey) == 0 &&
              timeOrd.asInstanceOf[Ordering[Any]].compare(rTimeEval.eval(rHead), lT) <= 0) {
            curMatch = rHead.copy()
            if (curKey == null) curKey = lKey.copy()
            rHead = if (rIter.hasNext) rIter.next() else null
          }
          project(joined(lRow, if (curMatch == null) nullRight else curMatch))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry: resolves names against the analyzed inputs
  * and hands Catalyst the logical node (the strategy must be installed:
  * [[GraftExtensions.install]], which every [[graft.Sessions]] session
  * runs).
  */
object AsOfJoin {
  def apply(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      carry: Seq[String],
      tiebreak: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // re-alias the whole right side with fresh exprIds: the analyzer's
    // DeduplicateRelations doesn't descend into custom nodes, so a
    // self-join (left and right off the same scan) would otherwise share
    // attribute ids across children — and the carried columns would bind
    // against the LEFT row
    val rPlan = {
      val base = right.queryExecution.analyzed
      // SQL equi-join semantics: null-key / null-time right rows can
      // never be an as-of match, and letting them reach the merge would
      // pair them via the natural ordering (NULL == NULL) or NPE in the
      // time comparison — drop them at the source (also lets the filter
      // push into the scan).
      val notNullCols = (keys :+ rightTime)
        .map(n => base.output.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$n' in ${base.output.map(_.name).mkString(",")}")))
      val cond = notNullCols.map(IsNotNull(_): Expression).reduce(And)
      val filtered = org.apache.spark.sql.catalyst.plans.logical.Filter(cond, base)
      org.apache.spark.sql.catalyst.plans.logical.Project(
        filtered.output.map(a => Alias(a, a.name)()), filtered)
    }
    def attr(plan: LogicalPlan, n: String): Attribute =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$n' in ${plan.output.map(_.name).mkString(",")}"))
    val carriedIn = carry.map(attr(rPlan, _))
    val carriedOut = carriedIn.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      attr(rPlan, tiebreak), carriedIn, carriedOut)
    GraftColumnBridge.ofRows(spark, node)
  }
}
