package graft.engine.expressions

import org.apache.spark.unsafe.types.UTF8String

/** DuckDB's BLOB→VARCHAR rendering (the `from_hex('ff')::VARCHAR` form):
  * printable ASCII bytes pass through literally EXCEPT backslash and
  * single-quote; every other byte — controls, 0x7F+, multi-byte UTF-8 —
  * renders as `\xHH` with uppercase hex. Verified byte-for-byte against
  * DuckDB 1.0 (probe batch 13: `\x5C`/`\x27` escape, space literal, `é` →
  * `\xC3\xA9`). Invoked from the BlobVarcharCast resolution rule via
  * StaticInvoke, so the cast stays inside whole-stage codegen.
  */
object BlobText {
  private val hex = "0123456789ABCDEF".toCharArray

  def escape(bytes: Array[Byte]): UTF8String = {
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 0x20 && b <= 0x7e && b != 0x5c && b != 0x27)
        sb.append(b.toChar)
      else
        sb.append("\\x").append(hex(b >>> 4)).append(hex(b & 0xf))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
