package graft.engine.expressions

import java.util.regex.Pattern
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB-semantics regexp_replace: flagless replaces the FIRST match
  * only (Spark's builtin always replaces all — a silent value
  * divergence, probe batch 14); the options string adds 'g' (global), 'i'
  * (case-insensitive), 's' (dot matches newline), 'm'/'n'/'p'
  * (multiline), 'l' (literal pattern), 'c' (explicit case-sensitive,
  * the default). Replacement backreferences use DuckDB/RE2 `\1` syntax
  * — translated to Java's `$1`, with literal `$` escaped.
  *
  * Invoked via StaticInvoke so the call stays inside whole-stage
  * codegen; compiled patterns memoize per (pattern, flags) in a bounded
  * map (cleared when full — correctness never depends on the cache).
  */
/** Marker wrapping the argument of `unnest(x, recursive := true)`:
  * stays unresolved so the analyzer can't finalize the enclosing
  * Explode's output before the DuckUnnest resolution rule dispatches on
  * the element type (array-of-array → flatten+explode, array-of-struct
  * → inline, struct → inline(array)). Always removed by that rule —
  * never evaluated.
  */
case class RecMarker(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override lazy val resolved: Boolean = false
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(newChild)
}

object RegexOps {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Pattern]()
  private val MaxCache = 1024

  private def compile(re: String, flags: String): Pattern = {
    val key = flags + "\u0000" + re
    val hit = cache.get(key)
    if (hit != null) return hit
    var f = 0
    if (flags.indexOf('i') >= 0) f |= Pattern.CASE_INSENSITIVE
    if (flags.indexOf('s') >= 0) f |= Pattern.DOTALL
    if (flags.indexOf('m') >= 0 || flags.indexOf('n') >= 0 ||
      flags.indexOf('p') >= 0) f |= Pattern.MULTILINE
    val body = if (flags.indexOf('l') >= 0) Pattern.quote(re) else re
    val p = Pattern.compile(body, f)
    if (cache.size >= MaxCache) cache.clear()
    cache.putIfAbsent(key, p)
    p
  }

  /** RE2 `\1` backrefs → Java `$1`; literal `$`/stray `\` escaped. */
  private def toJavaReplacement(rep: String): String = {
    val sb = new java.lang.StringBuilder(rep.length + 8)
    var i = 0
    while (i < rep.length) {
      val c = rep.charAt(i)
      if (c == '\\' && i + 1 < rep.length) {
        val n = rep.charAt(i + 1)
        if (n.isDigit) { sb.append('$').append(n); i += 2 }
        else if (n == '\\') { sb.append("\\\\"); i += 2 }
        else { sb.append('\\').append('\\').append(n); i += 2 }
      } else if (c == '$') { sb.append("\\$"); i += 1 }
      else if (c == '\\') { sb.append("\\\\"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def replace(s: UTF8String, re: UTF8String, rep: UTF8String,
      flags: UTF8String): UTF8String = {
    val f = flags.toString
    val m = compile(re.toString, f).matcher(s.toString)
    val j = toJavaReplacement(rep.toString)
    UTF8String.fromString(
      if (f.indexOf('g') >= 0) m.replaceAll(j) else m.replaceFirst(j))
  }
}
