package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Native as-of join: a whole-operator extension (custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`) for the one relational operator in this
  * engine's surface that Spark genuinely lacks.
  *
  * Semantics: for each left row, attach the `carried` columns of the latest
  * right row with an equal key and `rightTime <= leftTime` (DuckDB
  * `ASOF JOIN`'s `>=` convention); left rows with no such right row get
  * nulls. The right side must be unique per (key, time) — pre-aggregate if
  * not — and join keys/time must be non-null.
  *
  * Physical execution is a sort-merge pass: both children are hash-
  * partitioned on the key (`ClusteredDistribution`, so EnsureRequirements
  * co-partitions them exactly as it does for SortMergeJoin) and sorted by
  * (key, time); each partition pair is merged with two pointers carrying
  * the last-seen right row per key. Cost: one shuffle of each side + the
  * sorts — same shape as SMJ, but the merge emits exactly |L| rows and
  * holds ONE carried row in memory, never a per-key buffer. This beats the
  * union-and-window formulation ([[graft.ops.TemporalJoin.asOfJoin]]) by
  * skipping the union materialization and the window machinery, and at
  * 100 TB it degrades the same way SMJ does: spillable sorts, per-partition
  * streaming merge, no pair-space blowup.
  *
  * Registration: [[AsOfJoin.register]] adds the strategy to a live session
  * (`spark.experimental.extraStrategies`); [[GraftExtensions]] does the
  * same via `spark.sql.extensions` for externally-configured sessions.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        carried: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ carried.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; a no-op for every other node. */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, carried) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, carried) :: Nil
    case _ => Nil
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` wiring. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new AsOfJoinStrategy)
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        carried: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ carried.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(a => SortOrder(a, Ascending)),
    (rightKeys :+ rightTime).map(a => SortOrder(a, Ascending)))

  // the merge preserves the left child's row order and partitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val lOut = left.output
    val rOut = right.output
    val lKeys: Seq[Expression] = leftKeys
    val rKeys: Seq[Expression] = rightKeys
    val lTime: Expression = leftTime
    val rTime: Expression = rightTime
    val carriedExprs: Seq[Expression] = carried
    val nCarried = carried.length
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext) Iterator.empty
      else new Iterator[InternalRow] {
        private val lKeyProj = UnsafeProjection.create(lKeys, lOut)
        private val rKeyProj = UnsafeProjection.create(rKeys, rOut)
        private val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
        private val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
        private val carriedProj = UnsafeProjection.create(carriedExprs, rOut)
        private val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        private val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
        private val joined = new JoinedRow
        // consumers of a root plan require UnsafeRow output
        private val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        private val nullCarried = new GenericInternalRow(nCarried)
        // pending = next right row not yet folded into the carry state
        // (copies: projection buffers are reused across rows)
        private var pendingKey: UnsafeRow = _
        private var pendingTime: UnsafeRow = _
        private var pendingCarried: UnsafeRow = _
        private var havePending = false
        // carry state: latest right row at or before the merge frontier
        private var lastKey: UnsafeRow = _
        private var lastCarried: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTm = lTimeProj(l)
          var advancing = true
          while (advancing) {
            if (!havePending && rIter.hasNext) {
              val r = rIter.next()
              pendingKey = rKeyProj(r).copy()
              pendingTime = rTimeProj(r).copy()
              pendingCarried = carriedProj(r).copy()
              havePending = true
            }
            if (havePending) {
              val cmp = keyOrd.compare(pendingKey, lKey)
              if (cmp < 0 || (cmp == 0 && timeOrd.compare(pendingTime, lTm) <= 0)) {
                lastKey = pendingKey
                lastCarried = pendingCarried
                havePending = false
              } else advancing = false
            } else advancing = false
          }
          val c =
            if (lastKey != null && keyOrd.compare(lastKey, lKey) == 0) lastCarried
            else nullCarried
          outProj(joined(l, c))
        }
      }
    }
  }
}

/** User-facing API for the native as-of join. */
object AsOfJoin {

  /** Idempotently add [[AsOfJoinStrategy]] to a live session. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[AsOfJoinStrategy]))
      spark.experimental.extraStrategies = cur :+ new AsOfJoinStrategy
  }

  /** As-of join `left` to `right`: latest right row per key with
    * `rightTime <= leftTime`, carrying `carry` columns (null when no match).
    * Key and time columns must be type-aligned; the right side must be
    * unique per (key, time). NULL keys are ordinary values in the merge
    * ordering (they sort first and match each other) — if null-keyed left
    * rows must NOT inherit null-keyed right values, filter nulls upstream.
    * Ambiguous column names (post-join plans can expose duplicates) are
    * rejected rather than silently resolved to the first match.
    */
  def asOf(left: DataFrame, leftKeys: Seq[String], leftTime: String,
           right: DataFrame, rightKeys: Seq[String], rightTime: String,
           carry: Seq[String]): DataFrame = {
    register(left.sparkSession)
    val lPlan = PlanBridge.analyzed(left)
    val rPlan = PlanBridge.analyzed(right)
    def attr(plan: LogicalPlan, n: String, side: String): Attribute =
      plan.output.filter(_.name == n) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"$side column '$n' not in ${plan.output.map(_.name).mkString(", ")}")
        case dups => throw new IllegalArgumentException(
          s"$side column '$n' is ambiguous (${dups.size} attributes match) — " +
            "alias the columns to unique names first")
      }
    val lks = leftKeys.map(attr(lPlan, _, "left"))
    val rks = rightKeys.map(attr(rPlan, _, "right"))
    val lt = attr(lPlan, leftTime, "left")
    val rt = attr(rPlan, rightTime, "right")
    require(lks.map(_.dataType) == rks.map(_.dataType),
      s"key type mismatch: ${lks.map(_.dataType)} vs ${rks.map(_.dataType)}")
    require(lt.dataType == rt.dataType,
      s"time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    val carried = carry.map(attr(rPlan, _, "carry"))
    PlanBridge.ofRows(left.sparkSession,
      AsOfJoinPlan(lPlan, rPlan, lks, rks, lt, rt, carried))
  }
}
