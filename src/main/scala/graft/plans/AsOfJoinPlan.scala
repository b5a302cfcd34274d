package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, Descending, EqualTo, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, JoinedRow, LeafExpression, LessThan, LessThanOrEqual, PredicateHelper, RowOrdering, SortOrder, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, PROJECT}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, DataType}
import graft.engine.GatewayException

/** The engine's one ASOF join — SURVEY.md §2.3 J7, tier (c) of the
  * custom-operator preference order: a Catalyst LogicalPlan +
  * SparkStrategy + SparkPlan, registered through
  * SparkSessionExtensions (graft.engine.GraftExtensions). Served SQL
  * reaches it through ResolveAsOfJoin, the DataFrame API through
  * AsOfJoinPlan.asof.
  *
  * Semantics (DuckDB `l ASOF [LEFT] JOIN r ON l.k = r.k AND l.ts >= r.ts`,
  * reached by the reference at /root/reference/main.go:229): every left
  * row joins the LATEST right row with equal keys and right.ts ≤ left.ts
  * (`>` excludes equal ts; `<=`/`<` take the EARLIEST right row at or
  * after left.ts instead); unmatched left rows null-extend, or are
  * dropped when `inner`. A key with any NULL part, and a NULL ts, never
  * match. No keys means one candidate stream for the whole relation.
  *
  * Physical form: both sides hash-clustered on the keys and sorted by
  * (keys, ts) — ts descending for the nearest follower — Spark inserts
  * the exchanges/sorts from requiredChildDistribution/Ordering; then a
  * single streaming merge per partition holds ONE candidate right row.
  * One shuffle per side, O(1) state.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean,
    strict: Boolean,
    inner: Boolean,
    payload: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ (if (inner) payload else payload.map(_.withNullability(true)))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** `graft_asof()`: the conjunct Dialect.rewriteAsOf puts first in an
  * ASOF join's ON condition. It only tags the Join for
  * ResolveAsOfJoin, which removes it; it is never evaluated.
  */
case class AsOfMarker() extends LeafExpression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_asof"
}

/** A resolved `Join(l, r, Inner | LeftOuter, graft_asof() AND cond)`
  * becomes an AsOfJoinNode: the `l = r` equalities are the keys, the one
  * `>=`/`>`/`<=`/`<` between the two sides sets direction and
  * strictness. Every other shape is refused with a typed error naming
  * it — DuckDB 1.0 rejects several of them ("Missing/Multiple ASOF JOIN
  * inequalities") and gives extra predicates semantics of its own.
  */
object ResolveAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  private def refuse(what: String): Nothing =
    throw new GatewayException(s"ASOF JOIN: $what is not supported; " +
      "the condition must be key equalities AND one inequality between the two sides")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(l, r, joinType, Some(cond), _)
          if j.resolved && cond.exists(_.isInstanceOf[AsOfMarker]) =>
        if (joinType != Inner && joinType != LeftOuter) refuse(s"ASOF ${joinType.sql} JOIN")
        val (markers, conjuncts) =
          splitConjunctivePredicates(cond).partition(_.isInstanceOf[AsOfMarker])
        if (markers.isEmpty) refuse("OR")
        // (left-side operand, right-side operand, swapped) of l/r operands
        def sides(a: Expression, b: Expression): Option[(Expression, Expression, Boolean)] = {
          def from(e: Expression, p: LogicalPlan) =
            e.references.nonEmpty && e.references.subsetOf(p.outputSet)
          if (from(a, l) && from(b, r)) Some((a, b, false))
          else if (from(a, r) && from(b, l)) Some((b, a, true))
          else None
        }
        val keys = Seq.newBuilder[(Expression, Expression)]
        var ineq: Option[(Expression, Expression, Expression, Boolean)] = None
        conjuncts.foreach { c =>
          (c, c.children match { case Seq(a, b) => sides(a, b); case _ => None }) match {
            case (_: EqualTo, Some((lk, rk, _))) => keys += (lk -> rk)
            case (_: GreaterThanOrEqual | _: GreaterThan | _: LessThanOrEqual | _: LessThan,
                Some((lts, rts, swapped))) =>
              if (ineq.nonEmpty) refuse("a second inequality")
              ineq = Some((lts, rts, c, swapped))
            case _ => refuse(s"the predicate `${c.sql}`")
          }
        }
        val (lts, rts, cmp, swapped) = ineq.getOrElse(refuse("a condition without an inequality"))
        val greater = cmp.isInstanceOf[GreaterThanOrEqual] || cmp.isInstanceOf[GreaterThan]
        val (lks, rks) = keys.result().unzip
        // `l.ts >= r.ts` looks back (the latest right row at or before
        // l.ts); `l.ts <= r.ts`, or the same written `r.ts >= l.ts`, ahead
        AsOfJoinNode(l, r, lks, rks, lts, rts,
          forward = greater == swapped,
          strict = cmp.isInstanceOf[GreaterThan] || cmp.isInstanceOf[LessThan],
          inner = joinType == Inner, payload = r.output)
    }
}

/** Keeps only the payload columns the projection above an AsOfJoinNode
  * reads, and narrows the right child to them plus the keys and ts, so
  * the right side's exchange carries no unread column. ColumnPruning
  * cannot do this through the node: its payload, ResolveAsOfJoin's
  * whole right side, is among its references.
  */
object PruneAsOfPayload extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(PROJECT)) {
      case p @ Project(_, n: AsOfJoinNode) if !n.payload.forall(p.references.contains) =>
        val payload = n.payload.filter(p.references.contains)
        val read = AttributeSet(payload ++ (n.rightKeys :+ n.rightTs).flatMap(_.references))
        p.copy(child = n.copy(payload = payload,
          right = Project(n.right.output.filter(read.contains), n.right)))
    }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinNode =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKeys, j.rightKeys,
        j.leftTs, j.rightTs, j.forward, j.strict, j.inner, j.payload) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean,
    strict: Boolean,
    inner: Boolean,
    payload: Seq[Attribute]) extends BinaryExecNode {

  // the key and ts orderings below are built from the LEFT side's types;
  // mixed-type sides would compare garbage (or throw ClassCastException
  // mid-merge)
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"ASOF key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTs.dataType == rightTs.dataType,
    s"ASOF ts types differ: ${leftTs.dataType} vs ${rightTs.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ (if (inner) payload else payload.map(_.withNullability(true)))

  // co-partition on the keys, merge-order by (keys, ts): Catalyst
  // inserts the shuffles and sorts to satisfy these
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftKeys -> leftTs, rightKeys -> rightTs).map { case (keys, ts) =>
      keys.map(SortOrder(_, Ascending)) :+
        SortOrder(ts, if (forward) Descending else Ascending)
    }

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    // capture fields and child outputs as plain locals: referencing
    // left.output inside the task closure would serialize the plan node
    // itself, whose output is empty after deserialization
    val (lKeys, rKeys, lTs, rTs, payloadAttrs) = (leftKeys, rightKeys, leftTs, rightTs, payload)
    val (fwd, strictCmp, innerOnly) = (forward, strict, inner)
    val leftOutput = left.output
    val rightOutput = right.output
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // bind expressions to each side's schema, and generate the key
      // ordering (not serializable), inside the task
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lKeyProj = UnsafeProjection.create(lKeys, leftOutput)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOutput)
      val boundLts = BindReferences.bindReference(lTs, leftOutput)
      val boundRts = BindReferences.bindReference(rTs, rightOutput)
      val payloadProj = UnsafeProjection.create(payloadAttrs, rightOutput)
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow
      // bind against the output attrs (payload forced nullable), NOT
      // the raw payload attrs: a non-nullable payload column would bind
      // a non-nullable BoundReference that reads the null-extension
      // row's null slot as 0
      val out = UnsafeProjection.create(outAttrs, outAttrs)
      // a right ts is a candidate for a left ts when it comes no later in
      // merge order (strictly earlier when `strict`)
      def candidate(rts: Any, lts: Any): Boolean = {
        val c = tsOrd.compare(rts, lts)
        val d = if (fwd) -c else c
        d < 0 || (d == 0 && !strictCmp)
      }

      val rBuf = rIter.buffered
      // held = payload of the last candidate right row consumed, for the
      // key `heldKey`; both are copies — the sorter reuses its row
      // buffers (a string key held by reference changes under a spill)
      var heldKey: UnsafeRow = null
      var heldPayload: InternalRow = null

      val rows = lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        val lts = boundLts.eval(lRow)
        // a NULL key part or NULL ts never matches (DuckDB: l.ts >= NULL
        // is never true); don't enter the advance loop — tsOrd.compare
        // would NPE on a null lts
        val matched = !lk.anyNull && lts != null && {
          // advance the right side past every row with (rk < lk) or
          // (rk == lk && candidate(rts, lts))
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = if (rk.anyNull) -1 else keyOrd.compare(rk, lk)
            if (c < 0) rBuf.next() // behind, or never matches: drop
            else if (c == 0) {
              val rts = boundRts.eval(rBuf.head)
              if (rts == null) {
                // NULL ts never matches; it sorts at one end of the key
                // group, so consume — stopping here would stall the
                // merge for the whole key
                rBuf.next()
              } else if (candidate(rts, lts)) {
                heldKey = rk.copy()
                heldPayload = payloadProj(rBuf.next()).copy()
              } else advancing = false
            } else advancing = false
          }
          heldKey != null && keyOrd.compare(heldKey, lk) == 0
        }
        if (matched) out(joined(lRow, heldPayload))
        else if (innerOnly) null
        else out(joined(lRow, nullPayload))
      }
      if (innerOnly) rows.filter(_ != null) else rows
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {
  /** DataFrame API: ASOF join with payload columns (aliased) from the
    * latest `right` row with the same `key` and `right.ts <= left.ts`;
    * unmatched left rows get NULL payload, or are dropped when `inner`.
    * Requires the strategy to be registered (GraftExtensions) — or
    * injects it on the fly.
    */
  def asof(
      spark: SparkSession,
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String,
      ts: String,
      payload: Seq[(String, String)],
      inner: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftPlans
    import org.apache.spark.sql.functions.col
    val lPlan = GraftPlans.analyzed(left)
    // re-alias the right side so its attributes get FRESH exprIds: a
    // self-join (both sides from the same table) would otherwise share
    // exprIds across children, and downstream binding resolves the
    // right key against the wrong side (what DeduplicateRelations does
    // for built-in joins)
    val rPlan = GraftPlans.analyzed(
      right.select(right.columns.map(c => col(c).as(c)).toIndexedSeq: _*))
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    val payloadAttrs = payload.map { case (src, alias) =>
      attr(rPlan, src).withName(alias)
    }
    val node = AsOfJoinNode(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, ts), attr(rPlan, ts),
      forward = false, strict = false, inner = inner, payload = payloadAttrs)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      classic.experimental.extraStrategies =
        AsOfJoinStrategy +: classic.experimental.extraStrategies
    }
    GraftPlans.ofRows(spark, node)
  }
}
