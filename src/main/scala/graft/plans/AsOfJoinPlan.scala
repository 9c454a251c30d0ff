package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The full custom-operator stack for the as-of join — SURVEY.md §4.2's
  * preference rung (c): a `LogicalPlan` node, a `SparkStrategy`, and a
  * physical `SparkPlan` that DECLARES its distribution + ordering needs
  * and lets EnsureRequirements plant the exchanges and sorts.
  *
  * Why a dedicated operator when `rel/AsOf.asOfJoin` already composes
  * one (union + windowed last, rung (a))? Same exchange count — one
  * hash exchange per side vs one over the union — but the composed form
  * pays three real costs the merge join doesn't: the probe side is
  * PADDED with a null column per build value and unioned (wider shuffle
  * rows), the window materializes a running `last(ignoreNulls)` state
  * for every row of BOTH sides, and the post-filter re-scans the union
  * to drop the build rows. The merge exec streams both sorted sides
  * once with O(1) state per key (the latest build row) and emits only
  * matches. Both implementations stay: the spec proves them equal on
  * every input, which is also the correctness argument for the custom
  * code — rung (c) is allowed to exist only while rung (a) re-derives
  * its answers.
  *
  * Semantics (DuckDB `ASOF JOIN` ties): for each probe row, the LATEST
  * build row of the same key with build.ts <= probe.ts. Variants:
  *  - `leftOuter=false` (inner): probes with no prior build are dropped;
  *  - `leftOuter=true`: unmatched probes are kept with a null-padded
  *    build side (DuckDB `ASOF LEFT JOIN`);
  *  - `tolerance=Some(d)`: the match must additionally satisfy
  *    build.ts >= probe.ts - d. Only the LATEST prior build can pass —
  *    every earlier one is further from probe.ts — so the O(1)-state
  *    merge is unchanged: keep the latest, test tolerance at emit.
  * NULL semantics follow SQL joins: a NULL key or ts on either side
  * never matches anything (probe side: dropped under inner, null-padded
  * under left; build side: skipped). Round-7 advisory: the previous exec
  * unboxed NULL to 0L and silently joined on key 0.
  * Keys and timestamps are BIGINT (epoch micros/nanos) — the loaders'
  * `ts_ns`/`unix_micros` convention; integer ordering is total, so
  * results are exact. */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Attribute, leftTs: Attribute,
                        rightKey: Attribute, rightTs: Attribute,
                        leftOuter: Boolean = false,
                        tolerance: Option[Long] = None)
    extends BinaryNode {
  require(Seq(leftKey, leftTs, rightKey, rightTs).forall(_.dataType == LongType),
    "as-of join: key and ts must be BIGINT on both sides")
  require(tolerance.forall(_ >= 0L), "as-of join: tolerance must be >= 0")
  // left-outer widens the build side to nullable (unmatched probes emit
  // a null-padded build side); inner needs no widening
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Injected via GraftExtensions, so a session needs the extension to
  * plan [[AsOfJoinNode]] — planLater keeps child planning with Spark,
  * this strategy claims only its own node. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lts, rk, rts, outer, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lts, rk, rts, outer, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Attribute, leftTs: Attribute,
                        rightKey: Attribute, rightTs: Attribute,
                        leftOuter: Boolean = false,
                        tolerance: Option[Long] = None)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  /** Co-partition both sides on the key: EnsureRequirements resolves two
    * ClusteredDistributions into compatible HashPartitionings (the same
    * contract SortMergeJoinExec uses), so equal keys meet in one task. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  /** (key, ts) sort per side — the merge's only precondition; Spark
    * plants the SortExecs (and reuses an existing order if upstream
    * already provides it, e.g. a sort-clustered layout). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // streaming one-pass merge: partitioning and probe-side order survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    // upcast to Expression before binding: bindReference self-casts its
    // result to the INPUT's static type, and a bound root Attribute IS
    // a BoundReference, not an Attribute
    val lk = BindReferences.bindReference(
      leftKey: org.apache.spark.sql.catalyst.expressions.Expression, left.output)
    val lt = BindReferences.bindReference(
      leftTs: org.apache.spark.sql.catalyst.expressions.Expression, left.output)
    val rk = BindReferences.bindReference(
      rightKey: org.apache.spark.sql.catalyst.expressions.Expression, right.output)
    val rt = BindReferences.bindReference(
      rightTs: org.apache.spark.sql.catalyst.expressions.Expression, right.output)
    left.execute().zipPartitions(right.execute()) { (probeIter, buildIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        // physical-operator contract: downstream consumers (collect's
        // getByteArrayRdd, cache, exchanges) assume UnsafeRow — a raw
        // JoinedRow escaping here is a ClassCastException the moment no
        // ProjectExec happens to sit on top (SortMergeJoinExec carries
        // the same final projection for the same reason)
        private val toUnsafe = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(output, output)
        // single-row lookahead over the build side; rows are reused by
        // the upstream sort, so anything RETAINED must be copied
        private var bHead: InternalRow = _
        private var bHasHead = false
        private def advanceBuild(): Unit =
          if (buildIter.hasNext) { bHead = buildIter.next(); bHasHead = true }
          else { bHead = null; bHasHead = false }
        advanceBuild()
        // latest build row (copied) for the CURRENT probe key — O(1)
        // state regardless of key cardinality or rows per key
        private var lastKey = 0L
        private var lastBuildTs = 0L
        private var lastBuild: InternalRow = _
        // null-padded build side for unmatched probes under left-outer;
        // a GenericInternalRow starts all-null, reused across emissions
        // (toUnsafe copies into its own buffer before the row escapes)
        private val nullRight = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(right.output.size)
        private var nextOut: InternalRow = _
        private var computed = false

        private def computeNext(): Unit = {
          nextOut = null
          while (nextOut == null && probeIter.hasNext) {
            val p = probeIter.next()
            // eval before unboxing: asInstanceOf[Long] on a NULL unboxes
            // to 0L and silently joins on key 0 (round-7 advisory) — a
            // NULL key/ts must behave like SQL: it matches nothing
            val pKeyAny = lk.eval(p)
            val pTsAny = lt.eval(p)
            if (pKeyAny == null || pTsAny == null) {
              if (leftOuter) nextOut = toUnsafe(joined(p, nullRight))
            } else {
              val pKey = pKeyAny.asInstanceOf[Long]
              val pTs = pTsAny.asInstanceOf[Long]
              if (lastBuild != null && lastKey != pKey) lastBuild = null
              // drain build rows at or before (pKey, pTs): keys below pKey
              // are dead (probe is key-ordered), rows of pKey with
              // ts <= pTs improve the as-of candidate; NULL-keyed/ts'd
              // build rows can never match any probe — skip them (they
              // sort first within their group, so skipping keeps order)
              var draining = bHasHead
              while (draining) {
                val bKeyAny = rk.eval(bHead)
                val bTsAny = if (bKeyAny == null) null else rt.eval(bHead)
                if (bKeyAny == null || bTsAny == null) advanceBuild()
                else {
                  val bKey = bKeyAny.asInstanceOf[Long]
                  if (bKey < pKey) advanceBuild()
                  else if (bKey == pKey && bTsAny.asInstanceOf[Long] <= pTs) {
                    lastBuild = bHead.copy()
                    lastKey = pKey
                    lastBuildTs = bTsAny.asInstanceOf[Long]
                    advanceBuild()
                  } else draining = false
                }
                if (!bHasHead) draining = false
              }
              // tolerance tested at emit on the LATEST candidate only:
              // any earlier build row has a smaller ts, hence is farther
              // from pTs — if the latest misses the band, all do
              val matched = lastBuild != null && lastKey == pKey &&
                tolerance.forall(d => lastBuildTs >= pTs - d)
              if (matched) nextOut = toUnsafe(joined(p, lastBuild))
              else if (leftOuter) nextOut = toUnsafe(joined(p, nullRight))
            }
          }
        }
        // LAZY advance: the JoinedRow/UnsafeProjection buffers (and the
        // probe row they wrap) are reused in place, so the next row must
        // not be computed until the consumer is done with the current
        // one — hasNext/next both trigger at most one deferred
        // computeNext()
        override def hasNext: Boolean = {
          if (!computed) { computeNext(); computed = true }
          nextOut != null
        }
        override def next(): InternalRow = {
          if (!computed) computeNext()
          computed = false
          nextOut
        }
      }
    }
  }
}
