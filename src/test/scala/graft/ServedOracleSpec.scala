package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Gateway
import scala.util.control.NonFatal

/** The served oracle gate inside the test suite: every
  * `SparkEntry.oracleSql` text goes through `Gateway.sql` at sf0.001 and
  * must give what its declared DataFrame query gives (the DataFrame
  * queries are the ones pinned to DuckDB by tools/diffcheck.py). The
  * comparison follows diffcheck: columns matched by sorted name, column
  * kinds equal (integer widths may differ), rows sorted over all columns,
  * values equal, doubles within the 1e-9 relative difference diffcheck
  * reports as float order.
  *
  * `knownFailures` holds the texts the served path does not answer yet,
  * each with its class from perfbench/BASELINE.md ("Served-path gate").
  * A text that starts passing fails this spec until it leaves the set,
  * so the set can only shrink.
  */
class ServedOracleSpec extends AnyFunSuite {
  import TestSpark._

  private val knownFailures: Set[String] = Set(
    // a generator nested in an expression
    "a17_histogram", "mm_phash_dedup", "pipe_leakage", "t1_date_series", "tx_chunk",
    // POSITIONAL JOIN does not parse
    "j10_positional_join",
    // one each: timestampdiff, a posexplode alias, a lambda's type, a
    // correlated scalar subquery in an aggregate
    "f_time", "t2_posexplode", "tx_quality_score", "tx_source_stats",
    // wrong results: TIMESTAMP vs TIMESTAMP_NTZ, '' for text, 223 vs 224
    "f_datetime", "f_string", "mm_resize")

  /** A column's kind, as pandas sees the parquet dump. */
  private def kind(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType | _: DecimalType => "float"
    case BooleanType => "bool"
    case DateType | TimestampType | TimestampNTZType => "datetime"
    case _ => "object"
  }

  /** A cell in a form that compares across integer widths and
    * timestamp flavours. */
  private def norm(v: Any): Any = v match {
    case null => null
    case n: java.lang.Byte => n.longValue
    case n: java.lang.Short => n.longValue
    case n: java.lang.Integer => n.longValue
    case f: java.lang.Float => f.doubleValue
    case d: java.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.toLocalDateTime
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm).toSeq
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case other => other
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) => x.length == y.length && x.zip(y).forall(p => close(p._1, p._2))
    case _ => a == b
  }

  /** Rows with columns in name order, sorted on a rendering that rounds
    * doubles, so float-order differences do not reorder them. */
  private def rows(df: DataFrame): (Seq[(String, String)], Seq[Seq[Any]]) = {
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    def key(v: Any): String = v match {
      case d: Double => f"$d%.6e"
      case s: Seq[_] => s.map(key).mkString("[", ",", "]")
      case other => String.valueOf(other)
    }
    val data = df.collect().toSeq.map(r => cols.toSeq.map { case (_, i) => norm(r.get(i)) })
    (cols.toSeq.map { case (f, _) => f.name -> kind(f.dataType) }, data.sortBy(_.map(key).mkString("\u0001")))
  }

  /** None when the served result equals the declared one, else why not. */
  private def mismatch(served: DataFrame,
      declared: (Seq[(String, String)], Seq[Seq[Any]])): Option[String] = {
    val (sCols, sRows) = rows(served)
    val (dCols, dRows) = declared
    if (sCols != dCols) Some(s"columns $sCols, declared $dCols")
    else if (sRows.length != dRows.length) Some(s"${sRows.length} rows, declared ${dRows.length}")
    else sRows.zip(dRows).collectFirst {
      case (s, d) if !close(s, d) => s"row $s, declared $d"
    }
  }

  test("every served oracle text answers as its DataFrame query (sf0.001)") {
    val gw = Gateway.open(spark, sf)
    val failing = SparkEntry.allQueries.filter(_.oracleValue.isDefined).map { q =>
      // the DataFrame query first: dd_semantic_ivf's oracle text embeds
      // the centroids that run trains
      val declared = rows(q.fn(spark, sf))
      q.name -> (try mismatch(gw.sql(q.oracleValue.get), declared)
        catch { case NonFatal(e) => Some(String.valueOf(e.getMessage).linesIterator.next()) })
    }.collect { case (n, Some(why)) => n -> why.take(200) }.toMap
    val unexpected = failing.filter { case (n, _) => !knownFailures(n) }
    val nowPassing = knownFailures -- failing.keySet
    assert(unexpected.isEmpty && nowPassing.isEmpty,
      unexpected.toSeq.sorted.map { case (n, why) => s"\n  FAIL $n: $why" }.mkString +
        nowPassing.toSeq.sorted.map(n => s"\n  PASSES (remove from knownFailures) $n").mkString)
  }
}
