package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  Add, Cast, EqualTo, EvalMode, Expression, Greatest, If, LessThan, Length, Literal,
  RuntimeReplaceable, Size, Slice, Subtract, Substring}
import org.apache.spark.sql.types._

/** DuckDB slice `x[a:b]` — 1-based, stop-inclusive, polymorphic over
  * STRING and LIST (SURVEY.md §2.8; DuckDB's `'abcdef'[2:4]` = 'bcd').
  * NEGATIVE indexes count from the END inclusively (`[1..5][2:-2]` =
  * [2,3,4]; probe-19) and 0 behaves as 1; out-of-range bounds clamp.
  * Spark splits this across `substring` and `slice`, so the dialect's
  * bracket rewrite emits this one expression and the dispatch happens
  * at analysis on the resolved input type — zero runtime overhead.
  */
case class SliceAny(child: Expression, from: Expression, stop: Expression)
    extends RuntimeReplaceable {
  override def prettyName: String = "graft_slice"
  override def children: Seq[Expression] = Seq(child, from, stop)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"slice requires string/array, got ${other.simpleString}")
  }

  private def intCast(e: Expression) = Cast(e, IntegerType)

  override lazy val replacement: Expression = {
    val sz = child.dataType match {
      case StringType => Length(child)
      case _ => Size(child, legacySizeOfNull = false)
    }
    // DuckDB index normalization: negative = size+i+1 (stop-inclusive
    // from the end), 0 = 1; then clamp the start to ≥1 and the length
    // to ≥0 (Slice/Substring clamp the far end themselves)
    def norm(e: Expression): Expression = {
      val i = intCast(e)
      If(LessThan(i, Literal(0)), Add(Add(sz, i), Literal(1)),
        If(EqualTo(i, Literal(0)), Literal(1), i))
    }
    val f = Greatest(Seq(Literal(1), norm(from)))
    val len = Greatest(Seq(Literal(0),
      Add(Subtract(norm(stop), f), Literal(1))))
    child.dataType match {
      case StringType => Substring(child, f, len)
      case _ => Slice(child, f, len)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2))
}

/** DuckDB subscript `x[i]` — polymorphic over STRING (1-based char,
  * negative from the end), LIST, and MAP; the bracket rewrite emits
  * this and the dispatch happens at analysis like [[SliceAny]].
  */
case class SubscriptAny(child: Expression, index: Expression)
    extends RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions.ElementAt
  override def prettyName: String = "graft_subscript"
  override def children: Seq[Expression] = Seq(child, index)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | _: ArrayType | _: MapType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"subscript requires string/array/map, got ${other.simpleString}")
  }

  override lazy val replacement: Expression = child.dataType match {
    case StringType => Substring(child, Cast(index, IntegerType), Literal(1))
    // DuckDB's map subscript yields a LIST — [v] on hit (even [NULL]
    // for a NULL value), [] for a missing key, a NULL key, AND a NULL
    // map (probe-pinned; same contract as map_extract/element_at-on-map
    // in Functions.mapValueList). Closed in r11 — was the documented
    // §5.3 bracket residual.
    case MapType(kt, _, _) =>
      import org.apache.spark.sql.catalyst.expressions.{
        CreateArray, IsNull, MapContainsKey, Not, Or, Slice}
      // hand-built replacement: no analyzer pass inserts implicit
      // casts here, so a NULL-typed (or mismatched) key must be cast
      // to the map's key type explicitly or the tree stays unresolved
      val key = if (index.dataType == kt) index else Cast(index, kt)
      val one = CreateArray(Seq(ElementAt(child, key, None, false)))
      val empty = Slice(one, Literal(1), Literal(0))
      If(Or(IsNull(child),
        Or(IsNull(key), Not(MapContainsKey(child, key)))), empty, one)
    // failOnError=false: DuckDB's out-of-bounds subscript is NULL
    // (`([10,20])[3]` → NULL even under its strict typing; fuzz-found —
    // Spark's ANSI element_at raises INVALID_ARRAY_INDEX instead)
    case _ => ElementAt(child, intIndex, None, false)
  }

  /** The list index as the INT ElementAt needs (no analyzer pass casts
    * inside a replacement). A TRY cast: a BIGINT outside the INT range
    * is NULL, as in DuckDB 1.0 (`(['a'])[5000000000]`), where a non-ANSI
    * cast would wrap it to a valid-looking index and an ANSI one would
    * raise. */
  private def intIndex: Expression = index.dataType match {
    case ByteType | ShortType | LongType =>
      Cast(index, IntegerType, evalMode = EvalMode.TRY)
    case _ => index
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1))
}
