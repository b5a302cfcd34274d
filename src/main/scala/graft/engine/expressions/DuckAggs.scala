package graft.engine.expressions

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._

/** Aggregates DuckDB ships that Spark lacks, registered by
  * [[graft.engine.Functions]] so gateway SQL using them resolves
  * natively (the reference passes arbitrary DuckDB SQL through,
  * main.go:120-160).
  *
  * Scale notes: `product` is constant-size per group and partial-
  * aggregates map-side like any declarative Spark aggregate.
  * `entropy`/`histogram` state is O(distinct values per group) — the
  * same contract DuckDB's own implementations have. `mad` buffers the
  * group's values (an exact two-pass median has no streaming form —
  * DuckDB buffers too); at 100 TB use it on bounded groups or reach
  * for approx_percentile.
  */

/** DuckDB `product(x)`: DOUBLE product of non-null values, NULL for an
  * empty/all-null group (DuckDB-verified). The shim casts the child to
  * DOUBLE. Declarative → map-side partials + codegen.
  */
case class ProductAgg(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "product"

  private lazy val prod = AttributeReference("prod", DoubleType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(prod)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), prod,
      Multiply(Coalesce(Seq(prod, Literal(1.0d))), child)))
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    If(IsNull(prod.right), prod.left,
      Multiply(Coalesce(Seq(prod.left, Literal(1.0d))), prod.right)))
  override lazy val evaluateExpression: Expression = prod

  override protected def withNewChildInternal(newChild: Expression): ProductAgg =
    copy(child = newChild)
}

/** Value-frequency map state shared by entropy/histogram: one
  * (value → count) hash map per group, serialized between partial and
  * final aggregation as length-prefixed UnsafeRow(key, count) chunks —
  * the same wire shape Spark's own Mode aggregate uses.
  */
abstract class ValueCountAgg
    extends TypedImperativeAggregate[mutable.HashMap[Any, Long]]
    with UnaryLike[Expression] {
  def child: Expression

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] =
    mutable.HashMap.empty[Any, Long]

  override def update(
      buf: mutable.HashMap[Any, Long],
      input: InternalRow): mutable.HashMap[Any, Long] = {
    val key = child.eval(input)
    if (key != null) {
      val k = InternalRow.copyValue(key)
      buf.update(k, buf.getOrElse(k, 0L) + 1L)
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[Any, Long],
      other: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
    buf
  }

  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](child.dataType, LongType))

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    val row = new GenericInternalRow(2)
    buf.foreach { case (k, c) =>
      row.update(0, k)
      row.update(1, c)
      val bytes = projection.apply(row).getBytes
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val buf = mutable.HashMap.empty[Any, Long]
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val row = new UnsafeRow(2)
    while (bb.remaining() > 0) {
      val len = bb.getInt
      val chunk = new Array[Byte](len)
      bb.get(chunk)
      row.pointTo(chunk, len)
      val k = InternalRow.copyValue(row.get(0, child.dataType))
      buf.update(k, row.getLong(1))
    }
    buf
  }

  /** Catalyst runtime values of every orderable atomic type implement
    * Comparable (Int/Long/Double/Decimal/UTF8String/…); histogram keys
    * sort through it.
    */
  protected val keyOrdering: Ordering[Any] = new Ordering[Any] {
    override def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}

/** DuckDB `entropy(x)`: log-2 Shannon entropy of the value frequency
  * distribution; nulls skipped; empty group → 0.0 (DuckDB-verified).
  */
case class EntropyAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ValueCountAgg {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "entropy"

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    if (buf.isEmpty) return 0.0d
    var n = 0L
    var sumClogC = 0.0d
    buf.foreach { case (_, c) =>
      n += c
      sumClogC += c * (math.log(c.toDouble) / math.log(2.0))
    }
    // H = log2(n) - (Σ c·log2 c)/n — stabler than per-term p·log p
    math.log(n.toDouble) / math.log(2.0) - sumClogC / n
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EntropyAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EntropyAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): EntropyAgg =
    copy(child = newChild)
}

/** DuckDB `histogram(x)`: MAP(value → count) with keys ascending; nulls
  * skipped; empty group → NULL (DuckDB-verified).
  */
case class HistogramAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ValueCountAgg {
  override def dataType: DataType =
    MapType(child.dataType, LongType, valueContainsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "histogram"

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    if (buf.isEmpty) return null
    val entries = buf.toSeq.sortBy(_._1)(keyOrdering)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(_._1)),
      new GenericArrayData(entries.map(_._2)))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistogramAgg =
    copy(child = newChild)
}

/** DuckDB `mad(x)` for numerics: median(|x − median(x)|), interpolated
  * medians, nulls skipped, empty → NULL. Returns DOUBLE (DuckDB keeps
  * DECIMAL scale for DECIMAL input — documented divergence); the shim
  * casts the child to DOUBLE.
  */
case class MadAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.ArrayBuffer[Double]]
    with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "mad"

  override def createAggregationBuffer(): mutable.ArrayBuffer[Double] =
    mutable.ArrayBuffer.empty[Double]

  override def update(
      buf: mutable.ArrayBuffer[Double],
      input: InternalRow): mutable.ArrayBuffer[Double] = {
    val v = child.eval(input)
    if (v != null) buf += v.asInstanceOf[Double]
    buf
  }

  override def merge(
      buf: mutable.ArrayBuffer[Double],
      other: mutable.ArrayBuffer[Double]): mutable.ArrayBuffer[Double] = {
    buf ++= other
    buf
  }

  private def medianOfSorted(xs: Array[Double]): Double = {
    val n = xs.length
    if (n % 2 == 1) xs(n / 2)
    else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
  }

  override def eval(buf: mutable.ArrayBuffer[Double]): Any = {
    if (buf.isEmpty) return null
    val xs = buf.toArray
    java.util.Arrays.sort(xs)
    val m = medianOfSorted(xs)
    val devs = xs.map(x => math.abs(x - m))
    java.util.Arrays.sort(devs)
    medianOfSorted(devs)
  }

  override def serialize(buf: mutable.ArrayBuffer[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new mutable.ArrayBuffer[Double](n)
    var i = 0
    while (i < n) { buf += bb.getDouble; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MadAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MadAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MadAgg =
    copy(child = newChild)
}

/** DuckDB `json_group_structure(j)`: the unified `json_structure` of
  * every value in the group. Semantics pinned against DuckDB 1.0
  * (dialect probe sweeps): SQL NULL rows contribute the `"NULL"` type (a
  * single-NULL group answers `"NULL"`, not SQL NULL), the NULL type
  * absorbs into anything, numerics widen UBIGINT<BIGINT<DOUBLE, objects
  * merge keys in first-seen order, array elements unify, any other
  * mismatch collapses to `"JSON"`; only a zero-row group evaluates to
  * SQL NULL.
  *
  * Scale: the buffer is ONE structure tree bounded by the union schema
  * (distinct keys × nesting depth), independent of group size — it
  * partial-aggregates map-side and only the merged tree crosses the
  * shuffle (`unify` is commutative/associative on the type lattice, so
  * split/merge order cannot change the TYPES; key ORDER is first-seen
  * like DuckDB's own parallel aggregate, documented there).
  *
  * KNOWN DIVERGENCE CLASS (r12 ADVICE, deliberate): first-seen object
  * key order is merge-order dependent under partial aggregation —
  * groups whose object shapes list shared keys in different relative
  * orders can emit different key orders per run/partitioning, and may
  * differ from the single-threaded oracle. Sorting keys at eval would
  * fix determinism but BREAK oracle equality wherever DuckDB's own
  * first-seen order is unsorted, so the divergence is documented
  * instead: the pinned query and the fuzz lambda restrict themselves
  * to shapes with a consistent key order (nested or disjoint key
  * sets). Fuzz triage: a key-ORDER-only diff on this aggregate is this
  * class, not a bug.
  */
case class JsonGroupStructureAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[com.fasterxml.jackson.databind.JsonNode]]
  with UnaryLike[Expression] {
  import com.fasterxml.jackson.databind.JsonNode
  import graft.engine.expressions.{JsonIntrospect => JI}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_group_structure"

  // length-1 slot; null = no rows seen yet
  override def createAggregationBuffer(): Array[JsonNode] =
    Array[JsonNode](null)

  override def update(buf: Array[JsonNode], input: InternalRow): Array[JsonNode] = {
    val v = child.eval(input)
    val t = if (v == null) JI.nullTree
            else JI.structureTree(v.asInstanceOf[UTF8String])
    buf(0) = if (buf(0) == null) t else JI.unifyTrees(buf(0), t)
    buf
  }

  override def merge(buf: Array[JsonNode], other: Array[JsonNode]): Array[JsonNode] = {
    if (other(0) != null)
      buf(0) = if (buf(0) == null) other(0) else JI.unifyTrees(buf(0), other(0))
    buf
  }

  override def eval(buf: Array[JsonNode]): Any =
    if (buf(0) == null) null else UTF8String.fromString(JI.treeText(buf(0)))

  override def serialize(buf: Array[JsonNode]): Array[Byte] =
    if (buf(0) == null) Array.emptyByteArray
    else JI.treeText(buf(0)).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def deserialize(bytes: Array[Byte]): Array[JsonNode] =
    Array(if (bytes.isEmpty) null
          else JI.parseTreeText(
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))

  override def withNewMutableAggBufferOffset(newOffset: Int): JsonGroupStructureAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): JsonGroupStructureAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): JsonGroupStructureAgg =
    copy(child = newChild)
}
