package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** Direction of the as-of match — pandas `merge_asof`'s three modes.
  *
  *  - [[AsOfBackward]]: greatest `rightTs <= leftTs` (at-or-before).
  *  - [[AsOfForward]]: smallest `rightTs >= leftTs` (at-or-after).
  *  - [[AsOfNearest]]: whichever of the two is closer in time; ties at
  *    equal distance resolve to the BACKWARD side (pandas' rule).
  */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection
case object AsOfNearest extends AsOfDirection

/** NATIVE as-of join — the whole-operator Catalyst integration path
  * (SURVEY §7.2 preference (c)): a custom `LogicalPlan` node, a
  * `SparkStrategy` that plans it, and a physical `BinaryExecNode` that
  * DECLARES its distribution + ordering requirements and merges the two
  * sorted streams in one pass per partition. Every as-of in the engine
  * (j9/j13/j15 and their twins, h3) plans through it.
  *
  * The node hands Catalyst the join's true requirements —
  * `ClusteredDistribution(key)` per child and per-child `(key, ts)` sort
  * orders — so EnsureRequirements co-partitions and sorts each side
  * independently (each exchange carries only its own side's columns),
  * and the exec is a textbook streamed merge: advance the right iterator
  * while `(rKey, rTs)` is at-or-behind `(lKey, lTs)`, holding ONE
  * candidate row. O(|L| + |R|) per partition, O(1) memory beyond the
  * held row — exactly what a 100 TB quote/trade alignment needs, and the
  * same physical shape Spark's own SortMergeJoinExec declares.
  *
  * Null keys and null timestamps never match (SQL comparison semantics,
  * as DuckDB's `ASOF` predicate): such a left row null-pads, such a
  * right row is skipped.
  *
  * DIRECTIONS:
  *
  *  - BACKWARD: right sorted `(key, ts, payload)` ascending; among ties
  *    on (key, ts) the greatest payload wins; equal timestamps match
  *    (at-or-before).
  *  - FORWARD is the SAME merge loop with the time axis reversed: both
  *    children sort `(key ASC, ts DESC)` and every ts comparison flips
  *    sign, so "behind in the stream" now means `rightTs >= leftTs` and
  *    the held row converges on the SMALLEST right ts at-or-after —
  *    with the right payload still ascending, ties on (key, ts) still
  *    resolve to the greatest payload (last replacement wins).
  *  - NEAREST runs the backward merge and additionally PEEKS the right
  *    head: after the advance loop the head IS the first right row
  *    strictly after the left ts (same key), i.e. the forward candidate
  *    — no second pass, no reversal. The winner is chosen by integer
  *    time distance (ts must be integral: long/int/timestamp/date —
  *    enforced at construction), ties to the backward side. With
  *    duplicate right rows on (key, ts) the forward arm sees the
  *    smallest payload (stream head) while the backward arm sees the
  *    greatest (last replacement); callers that care collapse the right
  *    side per (key, ts) first — exactly what j15 does.
  *
  * Scale notes: the merge preserves the left child's partitioning and
  * ordering (`outputPartitioning`/`outputOrdering` pass through), so a
  * downstream per-key window or aggregation reuses the exchange. AQE is
  * fully compatible — the node advertises requirements the same way SMJ
  * does, so coalescing/skew rules treat it identically.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightVals: Seq[Expression],
    asofOutput: Seq[Attribute],
    direction: AsOfDirection = AsOfBackward) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ asofOutput
  override def producedAttributes: AttributeSet = AttributeSet(asofOutput)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; injected per-session via
  * `spark.experimental.extraStrategies` (see [[NativeAsOf.joinAsOf]]).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, rv, out, dir) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rv, out, dir) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightVals: Seq[Expression],
    asofOutput: Seq[Attribute],
    direction: AsOfDirection = AsOfBackward) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ asofOutput
  override def producedAttributes: AttributeSet = AttributeSet(asofOutput)

  /** The join's true requirement: co-clustered children (EnsureRequirements
    * aligns partition counts across the two, exactly as for SMJ).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  /** Time sort direction: reversed for FORWARD (the merge walks both
    * streams from latest to earliest), ascending otherwise.
    */
  private def tsDir = if (direction == AsOfForward) Descending else Ascending

  /** Per-child sort: (key, ts-in-stream-direction) both sides; the right
    * side additionally sorts by payload ASCENDING so the held row at equal
    * (key, ts) is the GREATEST payload — a deterministic tiebreak for both
    * stream directions, since the held row is always the LAST behind-row
    * seen.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, tsDir)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, tsDir)) ++
      rightVals.map(SortOrder(_, Ascending)))

  /** Left rows stream through in order — partitioning and ordering survive
    * for downstream reuse.
    */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  /** NEAREST needs subtraction, not just ordering: accept exactly the types
    * whose internal representation is an integral (timestamps are µs longs,
    * dates are day ints).
    */
  private def integralTs(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
  // Construction-time validation (fail at planning, not mid-execution
  // after the shuffle is spent): keyOrd/tsOrd are built from the LEFT
  // types and applied to right-side values, so the sides must agree.
  require(leftTs.dataType == rightTs.dataType,
    s"as-of ts types must match: ${leftTs.dataType} vs ${rightTs.dataType}")
  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types must match: ${leftKey.dataType} vs ${rightKey.dataType}")
  if (direction == AsOfNearest) {
    require(integralTs(leftTs.dataType),
      s"nearest as-of needs an integral/timestamp ts, got ${leftTs.dataType}")
    require(integralTs(rightTs.dataType),
      s"nearest as-of needs an integral/timestamp right ts, got ${rightTs.dataType}")
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKey = leftKey
    val rKey = rightKey
    val lTs = leftTs
    val rTs = rightTs
    val rVals = rightVals
    val dir = direction
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    // FORWARD flips every ts comparison (streams walk time backwards).
    val tsSign = if (dir == AsOfForward) -1 else 1

    val lRdd = left.execute()
    val rRdd = right.execute()
    require(lRdd.getNumPartitions == rRdd.getNumPartitions,
      s"as-of children must be co-partitioned " +
        s"(${lRdd.getNumPartitions} vs ${rRdd.getNumPartitions})")

    lRdd.zipPartitions(rRdd) { (lIter, rIter) =>
      import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference
      val lKeyB = bindReference(lKey, lOut)
      val lTsB = bindReference(lTs, lOut)
      val rKeyB = bindReference(rKey, rOut)
      val rTsB = bindReference(rTs, rOut)
      // Output projection over the joined (left ++ right) schema; the right
      // attributes are re-declared nullable so the null-padded no-match row
      // projects cleanly.
      val rOutNullable = rOut.map(_.withNullability(true))
      val projExprs = lOut ++ (rTs +: rVals).map {
        case a: Attribute => a.withNullability(true)
        case e => e
      }
      val proj = UnsafeProjection.create(projExprs, lOut ++ rOutNullable)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.size)
      // NEAREST's distance arithmetic: timestamps/dates eval to Long/Int.
      def toL(x: Any): Long = x match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other => throw new IllegalStateException(
          s"non-integral ts value under nearest as-of: $other")
      }

      new Iterator[InternalRow] {
        // Key/ts values are cached alongside the rows they came from: the
        // head cache is refreshed on every advance (shuffle iterators
        // reuse row objects, but only a next() call mutates them), and the
        // held cache points into the held row's own COPIED buffer — so the
        // steady-state cost per left row is two interpreted evals plus
        // primitive compares, with the output projection codegen'd.
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTs: Any = _
        advanceRight()
        private var held: InternalRow = null
        private var heldKey: Any = null
        private var heldTs: Any = null

        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyB.eval(rHead)
            rHeadTs = rTsB.eval(rHead)
          } else rHead = null
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyB.eval(l)
          val lt = lTsB.eval(l)
          if (lk != null && lt != null) {
            var continue = rHead != null
            while (continue) {
              // rows with null key/ts sort first and can never match — skip
              val behind =
                if (rHeadKey == null || rHeadTs == null) true
                else {
                  val c = keyOrd.compare(rHeadKey, lk)
                  c < 0 || (c == 0 && tsSign * tsOrd.compare(rHeadTs, lt) <= 0)
                }
              if (behind) {
                if (rHeadKey != null && rHeadTs != null &&
                    keyOrd.compare(rHeadKey, lk) == 0) {
                  held = rHead.copy()
                  heldKey = rKeyB.eval(held)
                  heldTs = rTsB.eval(held)
                }
                advanceRight()
                continue = rHead != null
              } else continue = false
            }
          }
          val matchedHeld = lk != null && lt != null && held != null &&
            heldKey != null && keyOrd.compare(heldKey, lk) == 0 &&
            heldTs != null && tsSign * tsOrd.compare(heldTs, lt) <= 0
          val rightRow =
            if (dir != AsOfNearest) { if (matchedHeld) held else nullRight }
            else {
              // The not-behind head is the forward candidate iff same key
              // (its ts is strictly after lt — equal ts was consumed into
              // `held` and wins as the backward arm at distance 0).
              val matchedHead = lk != null && lt != null && rHead != null &&
                rHeadKey != null && keyOrd.compare(rHeadKey, lk) == 0
              if (matchedHeld && matchedHead) {
                val dPrev = toL(lt) - toL(heldTs)
                val dNext = toL(rHeadTs) - toL(lt)
                if (dPrev <= dNext) held else rHead
              } else if (matchedHeld) held
              else if (matchedHead) rHead
              else nullRight
            }
          proj(joined(l, rightRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point for the native operator. */
object NativeAsOf {

  /** As-of join of `left` against `right` on equal `key`: emits every
    * left row plus `asof_ts` and `asof_<v>` for each of `rightVals` (null
    * when no matching right row in the requested direction). The key and
    * ts columns must have the same types on both sides. The strategy
    * self-registers on the session (`experimental.extraStrategies` —
    * idempotent), so callers need no session-builder configuration.
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightVals: Seq[String],
      direction: AsOfDirection = AsOfBackward): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    val lPlan = left.queryExecution.analyzed
    // Re-alias the right side with fresh exprIds: in the common self-join
    // case (both sides derived from one table) the children would share
    // attribute ids, and the analyzer's DeduplicateRelations cannot tell
    // which side this node's key/ts expressions meant.
    val rAliases = right.queryExecution.analyzed.output
      .map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, right.queryExecution.analyzed)
    val rOut = rAliases.map(_.toAttribute)

    def attrOf(out: Seq[Attribute], name: String): Attribute =
      out.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${out.map(_.name).mkString(", ")}]"))

    val lk = attrOf(lPlan.output, key)
    val rk = attrOf(rOut, key)
    val lts = attrOf(lPlan.output, leftTs)
    val rts = attrOf(rOut, rightTs)
    val rvs = rightVals.map(attrOf(rOut, _))
    val asofOut = AttributeReference("asof_ts", rts.dataType, nullable = true)() +:
      rvs.map(v => AttributeReference(s"asof_${v.name}", v.dataType, nullable = true)())

    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark, AsOfJoin(lPlan, rPlan, lk, rk, lts, rts, rvs, asofOut, direction))
  }
}
