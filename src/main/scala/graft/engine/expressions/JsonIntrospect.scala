package graft.engine.expressions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DuckDB JSON-introspection family (json_type / json_structure /
  * json_merge_patch / json_contains) plus small string/format helpers,
  * as static methods invoked from Catalyst `StaticInvoke` shims in
  * [[graft.engine.Functions]] — codegen-friendly, no UDF registry.
  *
  * Semantics pinned against DuckDB 1.x (see probe batch 7):
  *  - json_type: OBJECT/ARRAY/VARCHAR/BOOLEAN/DOUBLE/NULL, integers
  *    split into UBIGINT (>= 0) vs BIGINT (< 0)
  *  - json_structure: leaves become type-name strings; array elements
  *    unify recursively (numeric widening UBIGINT<BIGINT<DOUBLE, NULL
  *    absorbs into anything, objects merge keys, mismatch => "JSON",
  *    empty array => ["NULL"])
  *  - json_merge_patch: RFC 7386 (null patch values delete keys)
  *  - json_contains: needle matches at ANY subtree; object needles
  *    subset-match, array needles element-wise contain, scalars use
  *    strict node equality (1 does NOT match 1.0 — DuckDB-verified)
  */
object JsonIntrospect {
  private val mapper = new ObjectMapper()

  private def parse(s: UTF8String): JsonNode =
    try mapper.readTree(s.toString)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"Malformed JSON input: ${e.getMessage}")
    }

  private def typeName(n: JsonNode): String =
    if (n.isObject) "OBJECT"
    else if (n.isArray) "ARRAY"
    else if (n.isTextual) "VARCHAR"
    else if (n.isBoolean) "BOOLEAN"
    else if (n.isIntegralNumber) {
      if (n.asLong(0L) < 0L || n.asText().startsWith("-")) "BIGINT"
      else "UBIGINT"
    }
    else if (n.isNumber) "DOUBLE"
    else "NULL"

  /** C-printf rounding for %.Nf: round the EXACT binary value of the
    * double (new BigDecimal(d), not the shortest decimal repr) to N
    * places half-even, like glibc/fmt — Java's Formatter instead
    * HALF-UPs the shortest string, so %.3f of -37.0755 (exactly
    * -37.075499…) printed -37.076 where DuckDB prints -37.075
    * (fuzz-found). Formatting the pre-rounded value is then exact.
    */
  def cRound(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else {
      val r = new java.math.BigDecimal(d)
        .setScale(scale, java.math.RoundingMode.HALF_EVEN).doubleValue
      // BigDecimal has no -0: C prints '-0' for a negative value that
      // rounds to zero (fuzz-found on %.0f of -0.455)
      if (r == 0.0 && (d < 0.0 || 1.0 / d < 0.0)) -0.0 else r
    }

  /** chr(codepoint): the full-Unicode code point as a string — Spark's
    * builtin truncates to latin-1 (chr(8364) should be '€', probe-19).
    */
  def chr(cp: Long): UTF8String =
    UTF8String.fromString(new String(Character.toChars(cp.toInt)))

  /** json(x): canonical (minified) re-serialization, key order kept —
    * DuckDB's JSON constructor/validator (probe-19 pinned:
    * json(' {"b" : 2, "a":1} ') = '{"b":2,"a":1}').
    */
  def canon(s: UTF8String): UTF8String =
    UTF8String.fromString(mapper.writeValueAsString(parse(s)))

  /** json_quote: any SQL string as its JSON TEXT form (quoted/escaped).
    * Numeric/bool/array callers route around this builder-side.
    */
  def quoteString(s: UTF8String): UTF8String =
    UTF8String.fromString(mapper.writeValueAsString(
      TextNode.valueOf(s.toString)))

  /** Minimal JSONPath subset: `$`, `$.key`, `$.key[0].other`, a bare
    * key, or an RFC-6901-ish POINTER (`/a/1`, numeric segments index
    * arrays 0-based — DuckDB accepts all three). Returns null when the
    * path misses.
    */
  private def atPath(root: JsonNode, path0: String): JsonNode = {
    val path =
      if (!path0.startsWith("/")) path0
      else "$" + path0.substring(1).split("/", -1).map { seg =>
        if (seg.nonEmpty && seg.forall(_.isDigit)) s"[$seg]" else s".$seg"
      }.mkString
    atPathDotted(root, path)
  }

  private def atPathDotted(root: JsonNode, path: String): JsonNode = {
    var cur = root
    val p = if (path.startsWith("$")) path.substring(1)
            else "." + path
    var i = 0
    while (i < p.length && cur != null) {
      p.charAt(i) match {
        case '.' =>
          val st = i + 1
          var j = st
          while (j < p.length && p.charAt(j) != '.' && p.charAt(j) != '[') j += 1
          cur = cur.get(p.substring(st, j))
          i = j
        case '[' =>
          val close = p.indexOf(']', i)
          if (close < 0) return null
          val idx = p.substring(i + 1, close).trim.toInt
          cur = cur.get(idx)
          i = close + 1
        case _ => return null
      }
    }
    cur
  }

  /** `x::JSON` of a VARCHAR: validate (malformed errors like DuckDB's
    * cast) and keep the ORIGINAL text — the JSON cast does NOT
    * canonicalize (pinned: `' {"b" : 2} '::JSON` keeps its spacing,
    * unlike `json()`).
    */
  def validateJson(s: UTF8String): UTF8String = { parse(s); s }

  def jsonType(s: UTF8String): UTF8String =
    UTF8String.fromString(typeName(parse(s)))

  def jsonTypePath(s: UTF8String, path: UTF8String): UTF8String = {
    val n = atPath(parse(s), path.toString)
    if (n == null) null else UTF8String.fromString(typeName(n))
  }

  /** json_extract: the node's JSON TEXT (DuckDB's JSON type carries the
    * quoted/structural form — '"x"', '[1,2]' — where Spark's
    * get_json_object unquotes scalars; fuzz-found divergence). Compact
    * Jackson serialization matches DuckDB's canonical output; BOTH a
    * missing path and a JSON null extract as SQL NULL (DuckDB 1.0
    * pinned — see the inline comment below).
    */
  def extractJson(s: UTF8String, path: UTF8String): UTF8String = {
    val n = atPath(parse(s), path.toString)
    // a JSON null extracts as SQL NULL too (DuckDB 1.0 pinned)
    if (n == null || n.isMissingNode || n.isNull) null
    else UTF8String.fromString(mapper.writeValueAsString(n))
  }

  /** json_array_length: DuckDB returns 0 for a present NON-array node
    * and NULL only when the path misses (fuzz-pinned).
    */
  def arrayLength(s: UTF8String): java.lang.Long = {
    val n = parse(s)
    if (n.isArray) n.size().toLong else 0L
  }

  def arrayLengthPath(s: UTF8String, path: UTF8String): java.lang.Long = {
    val n = atPath(parse(s), path.toString)
    if (n == null || n.isMissingNode) null
    else if (n.isArray) n.size().toLong else 0L
  }

  /** json_keys: object field names in INSERTION order; any present
    * non-object is [] (DuckDB 1.0 pinned — Spark's json_object_keys
    * answers NULL there); a missing path is NULL.
    */
  private def keyArray(n: JsonNode): org.apache.spark.sql.catalyst.util.ArrayData = {
    val names = if (n.isObject) {
      val it = n.fieldNames()
      val buf = scala.collection.mutable.ArrayBuffer[AnyRef]()
      while (it.hasNext) buf += UTF8String.fromString(it.next())
      buf.toArray
    } else Array.empty[AnyRef]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(names)
  }

  def keysOf(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    keyArray(parse(s))

  def keysOfPath(s: UTF8String, path: UTF8String):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = atPath(parse(s), path.toString)
    if (n == null || n.isMissingNode) null else keyArray(n)
  }

  // ---- json_structure -------------------------------------------------

  /** Unify two structure trees (type-name leaves). */
  private def unify(a: JsonNode, b: JsonNode): JsonNode = {
    if (a == b) return a
    (a, b) match {
      // the NULL type absorbs into ANY structure, containers included:
      // json_structure('[null,{"a":1}]') = [{"a":"UBIGINT"}] (DuckDB-
      // pinned; the former TextNode-only absorption answered ["JSON"])
      case (at: TextNode, _) if at.asText() == "NULL" => b
      case (_, bt: TextNode) if bt.asText() == "NULL" => a
      case (at: TextNode, bt: TextNode) =>
        val (x, y) = (at.asText(), bt.asText())
        locally {
          val num = Seq("UBIGINT", "BIGINT", "DOUBLE")
          val (xi, yi) = (num.indexOf(x), num.indexOf(y))
          if (xi >= 0 && yi >= 0) new TextNode(num(math.max(xi, yi)))
          else new TextNode("JSON")
        }
      case (ao: ObjectNode, bo: ObjectNode) =>
        val out = mapper.createObjectNode()
        ao.fields().asScala.foreach(e => out.set[JsonNode](e.getKey, e.getValue))
        bo.fields().asScala.foreach { e =>
          val prev = out.get(e.getKey)
          out.set[JsonNode](e.getKey,
            if (prev == null) e.getValue else unify(prev, e.getValue))
        }
        out
      case (aa: ArrayNode, ba: ArrayNode) =>
        val out = mapper.createArrayNode()
        out.add(unify(aa.get(0), ba.get(0)))
        out
      case _ => new TextNode("JSON")
    }
  }

  private def structureOf(n: JsonNode): JsonNode =
    if (n.isObject) {
      val out = mapper.createObjectNode()
      n.fields().asScala.foreach(e =>
        out.set[JsonNode](e.getKey, structureOf(e.getValue)))
      out
    } else if (n.isArray) {
      val elems = n.elements().asScala.map(structureOf).toSeq
      val out = mapper.createArrayNode()
      out.add(if (elems.isEmpty) new TextNode("NULL")
              else elems.reduce(unify))
      out
    } else new TextNode(typeName(n))

  def jsonStructure(s: UTF8String): UTF8String =
    UTF8String.fromString(mapper.writeValueAsString(structureOf(parse(s))))

  // ---- json_group_structure support (DuckAggs.JsonGroupStructureAgg) --
  // The structure TREE is the aggregate's state: one parse per row,
  // `unify` as both update and merge (it is commutative/associative on
  // the type lattice, so partial aggregation is sound).

  def structureTree(s: UTF8String): JsonNode = structureOf(parse(s))
  def unifyTrees(a: JsonNode, b: JsonNode): JsonNode = unify(a, b)
  /** A SQL NULL row contributes the "NULL" type (absorbs into anything
    * — DuckDB-pinned: a single-NULL group answers `"NULL"`, not NULL).
    */
  def nullTree: JsonNode = TextNode.valueOf("NULL")
  /** Structure trees round-trip through their own JSON text (objects,
    * arrays, type-name leaves) — the shuffle serialization format.
    */
  def treeText(n: JsonNode): String = mapper.writeValueAsString(n)
  def parseTreeText(s: String): JsonNode = mapper.readTree(s)

  // ---- json_merge_patch (RFC 7386) ------------------------------------

  private def mergePatch(target: JsonNode, patch: JsonNode): JsonNode =
    if (!patch.isObject) patch
    else {
      val out = mapper.createObjectNode()
      if (target.isObject)
        target.fields().asScala.foreach(e =>
          out.set[JsonNode](e.getKey, e.getValue))
      patch.fields().asScala.foreach { e =>
        if (e.getValue.isNull) out.remove(e.getKey)
        else {
          val prev = out.get(e.getKey)
          out.set[JsonNode](e.getKey,
            if (prev == null) mergePatch(mapper.createObjectNode(), e.getValue)
            else mergePatch(prev, e.getValue))
        }
      }
      out
    }

  def jsonMergePatch(a: UTF8String, b: UTF8String): UTF8String =
    UTF8String.fromString(mapper.writeValueAsString(
      mergePatch(parse(a), parse(b))))

  // ---- json_contains ---------------------------------------------------

  /** Containment at one node: object needle subset-matches, array needle
    * requires every element contained, scalar needle strict-equals (or,
    * when the haystack node is an array, equals some element).
    */
  private def matches(h: JsonNode, n: JsonNode): Boolean =
    if (n.isObject && h.isObject)
      n.fields().asScala.forall { e =>
        val hv = h.get(e.getKey)
        hv != null && matches(hv, e.getValue)
      }
    else if (n.isArray && h.isArray)
      n.elements().asScala.forall(e => matches(h, e))
    else if (h.isArray)
      h.elements().asScala.exists(x => matches(x, n))
    else h == n

  private def containsNode(h: JsonNode, n: JsonNode): Boolean =
    matches(h, n) || h.elements().asScala.exists(c => containsNode(c, n))

  def jsonContains(hay: UTF8String, needle: UTF8String): Boolean =
    containsNode(parse(hay), parse(needle))

  // ---- from_json structure literal ------------------------------------

  /** DuckDB `from_json` second argument: a JSON structure whose leaves
    * are DuckDB type names ('{"a": "BIGINT"}') → Spark [[DataType]].
    */
  def structureToType(txt: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def conv(n: JsonNode): DataType =
      if (n.isObject)
        StructType(n.fields().asScala.map(e =>
          StructField(e.getKey, conv(e.getValue))).toSeq)
      else if (n.isArray) ArrayType(conv(n.get(0)))
      else duckTypeName(n.asText())
    def duckTypeName(raw: String): DataType = {
      val t = raw.trim.toUpperCase
      val dec = """DECIMAL\((\d+)\s*,\s*(\d+)\)""".r
      t match {
        case "BOOLEAN" | "BOOL" => BooleanType
        case "TINYINT" => ByteType
        case "SMALLINT" => ShortType
        case "INTEGER" | "INT" | "INT32" => IntegerType
        case "BIGINT" | "INT64" | "LONG" => LongType
        case "UBIGINT" => DecimalType(20, 0)
        case "HUGEINT" => DecimalType(38, 0)
        case "FLOAT" | "REAL" => FloatType
        case "DOUBLE" => DoubleType
        case dec(p, s) => DecimalType(p.toInt, s.toInt)
        case "DATE" => DateType
        case "TIMESTAMP" | "DATETIME" => TimestampType
        case "BLOB" | "BYTEA" => BinaryType
        case _ => StringType // VARCHAR/TEXT/JSON/UUID/TIME/...
      }
    }
    conv(parse(UTF8String.fromString(txt)))
  }

  // ---- misc helpers ----------------------------------------------------

  def nfcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** DuckDB format_bytes: binary units, ONE decimal TRUNCATED toward
    * zero (1500 => "1.4 KiB", DuckDB-verified), "N bytes"/"1 byte"
    * below 1 KiB, sign preserved.
    */
  def formatBytes(bytes: Long): UTF8String = {
    val neg = bytes < 0
    val abs = math.abs(bytes)
    val units = Seq("KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
    val out =
      if (abs < 1024L) {
        if (abs == 1L) s"$abs byte" else s"$abs bytes"
      } else {
        var v = abs.toDouble
        var u = -1
        while (v >= 1024.0 && u < units.length - 1) { v /= 1024.0; u += 1 }
        val tenths = (v * 10).toLong  // truncate, not round
        s"${tenths / 10}.${tenths % 10} ${units(u)}"
      }
    UTF8String.fromString(if (neg) "-" + out else out)
  }
}
