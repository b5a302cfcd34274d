package graft.engine

/** DuckDB-dialect → Spark translation helpers (SURVEY.md §2.8, §7.0).
  * Pure functions, property-tested in DialectSpec.
  */
object Dialect {

  /** True when position `i` starts a fresh word: the previous char is not
    * a letter, digit, `_`, or `.` — so `my_datediff(...)` and
    * `t.date_diff` are user identifiers, never rewritten.
    */
  private[graft] def wordStart(s: String, i: Int): Boolean = {
    if (i == 0) return true
    val c = s.charAt(i - 1)
    !Character.isLetterOrDigit(c) && c != '_' && c != '.'
  }

  /** Full DuckDB-dialect → Spark-SQL text rewrite, applied once per
    * statement by GraftSqlParser (SURVEY.md §3.5). String literals and quoted
    * identifiers are never rewritten. Handles:
    *   - `QUALIFY pred`  →  subquery + WHERE (no Spark QUALIFY)
    *   - `a // b`        →  `a div b` (integer floor division)
    *   - `x GLOB 'pat'`  →  `x RLIKE '<glob-as-regex>'`
    *   - `j ->> 'path'`  →  `get_json_object(j, '$.path')`
    *   - `duckdb_tables()` etc. → the same-named Gateway catalog views
    *     (reference smoke query, /root/reference/main.go:77)
    */
  private val passes: Seq[String => String] = Seq(
    foldLiterals, // FIRST: later scanners assume '…' string syntax
    normalizeWs, rewriteBlob, rewriteBitCasts, rewriteArrayTypeSuffix,
    rewriteTrailingCommas, rewriteEmptyGroupBy,
    rewriteBraceLiterals, rewriteArrayCtor, rewriteBrackets,
    rewriteNamedArgCalls, rewriteIgnoreNulls,
    rewriteTimestampTz, rewriteAtTimeZone, rewriteMixedInterval,
    rewriteIntervalExpr, rewriteAtAbs,
    rewritePowOp, rewriteFactorial,
    rewriteOperators, rewriteFromTvf, rewriteSample, rewriteQuantified,
    rewriteEmptyOver, rewriteNamedWindows,
    rewriteBareFilter, rewriteWindowFilter, rewriteAggOrderBy,
    rewritePercentileDisc, rewriteStarModifiers,
    rewriteDistinctOn, rewriteAsOf, rewriteExcludeFrames, rewriteGroupsFrame,
    rewriteQualify, rewriteCatalogFns,
    rewriteDateDiff, rewriteJsonCastType, rewriteCastTypes, rewriteFetchFirst,
    rewriteQueryTable, rewriteFillWindow, rewriteIcuCollate)

  def rewrite(sql: String): String =
    passes.foldLeft(sql)((s, pass) => pass(s))

  /** DuckDB string literals are RAW (standard SQL): '\d' is
    * backslash+d, never an escape — Spark's default lexer would
    * silently eat the backslash from every client regex (GapProbe14
    * found regexp_extract matching nothing where DuckDB matches).
    * Doubling each backslash inside plain '…' literals makes Spark's
    * unescaping restore the raw content, while `''` doubling keeps its
    * native meaning (the alternative — the escapedStringLiterals
    * parser mode — breaks `''`, which that mode keeps as TWO quotes).
    * Escape PROCESSING exists only in e'…' strings, which
    * rewriteEscapeStrings has already decoded by now.
    *
    * NOT idempotent, so it is not a `passes` member (`rewrite` output
    * keeps DuckDB's raw literals): it runs exactly once, in
    * GraftSqlParser, after `rewrite` and immediately before Spark's lexer.
    */
  private[graft] def rawifyLiterals(sql: String): String = {
    if (sql.indexOf('\\') < 0) return sql
    val sb = new StringBuilder(sql.length + 8)
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      c match {
        case '\'' =>
          sb.append(c); i += 1
          var closed = false
          while (i < sql.length && !closed) {
            val ch = sql.charAt(i)
            if (ch == '\'') {
              if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
                sb.append("''"); i += 2
              } else { sb.append('\''); i += 1; closed = true }
            } else if (ch == '\\') { sb.append("\\\\"); i += 1 }
            else { sb.append(ch); i += 1 }
          }
        case '"' | '`' =>
          // identifiers: opaque (no backslash processing either side)
          sb.append(c); i += 1
          var closed = false
          while (i < sql.length && !closed) {
            val ch = sql.charAt(i)
            sb.append(ch); i += 1
            if (ch == c) {
              if (i < sql.length && sql.charAt(i) == c) { sb.append(c); i += 1 }
              else closed = true
            }
          }
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          val nl = sql.indexOf('\n', i)
          val end = if (nl < 0) sql.length else nl + 1
          sb.append(sql.substring(i, end)); i = end
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          val close = sql.indexOf("*/", i + 2)
          val end = if (close < 0) sql.length else close + 2
          sb.append(sql.substring(i, end)); i = end
        case _ => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Dollar-quoted (`$$…$$`) and escape (`e'…'`) strings folded to
    * plain '…' literals, while the text is still raw: the first rewrite
    * step. The gateway runs it too before its own scans and the
    * placeholder binder, since consumeOpaque knows only '…' syntax.
    */
  private[engine] def foldLiterals(sql: String): String =
    rewriteEscapeStrings(rewriteDollarQuotes(sql))

  /** DuckDB/Postgres escape strings `e'a\nb'`: ONLY this literal form
    * processes backslash escapes — ordinary '…' literals are RAW in
    * DuckDB (standard SQL), which rawifyLiterals preserves against
    * Spark's unescaping lexer. This pass decodes the e-string's escapes
    * itself (\n \t \r \b \f \0 \\ \' \xHH \uXXXX; unknown escapes drop
    * the backslash, the Postgres rule) and emits a plain literal whose
    * remaining backslashes are literal characters (rawifyLiterals will
    * protect them). Runs right after dollar-quote folding, before any
    * scanner that assumes plain '…' syntax.
    */
  private def rewriteEscapeStrings(sql: String): String = {
    if (!sql.contains("'")) return sql
    val sb = new StringBuilder
    var i = 0
    var changed = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      val isEPrefix = (c == 'e' || c == 'E') && i + 1 < sql.length &&
        sql.charAt(i + 1) == '\'' &&
        (i == 0 || { val p = sql.charAt(i - 1)
          !p.isLetterOrDigit && p != '_' && p != '\'' && p != '"' && p != '`' })
      if (isEPrefix) {
        // decode the e-string body: both '' and \' continue the literal
        val body = new StringBuilder
        var j = i + 2
        var closed = false
        while (j < sql.length && !closed) {
          val ch = sql.charAt(j)
          if (ch == '\'') {
            if (j + 1 < sql.length && sql.charAt(j + 1) == '\'') {
              body.append('\''); j += 2
            } else { closed = true; j += 1 }
          } else if (ch == '\\' && j + 1 < sql.length) {
            sql.charAt(j + 1) match {
              case 'n' => body.append('\n'); j += 2
              case 't' => body.append('\t'); j += 2
              case 'r' => body.append('\r'); j += 2
              case 'b' => body.append('\b'); j += 2
              case 'f' => body.append('\f'); j += 2
              case '0' => body.append('\u0000'); j += 2
              case '\\' => body.append('\\'); j += 2
              case '\'' => body.append('\''); j += 2
              case 'x' if j + 3 < sql.length &&
                  sql.substring(j + 2, j + 4).forall(isHexDigit) =>
                body.append(Integer.parseInt(sql.substring(j + 2, j + 4), 16).toChar)
                j += 4
              case 'u' if j + 5 < sql.length &&
                  sql.substring(j + 2, j + 6).forall(isHexDigit) =>
                body.append(Integer.parseInt(sql.substring(j + 2, j + 6), 16).toChar)
                j += 6
              case other => body.append(other); j += 2 // drop the backslash
            }
          } else { body.append(ch); j += 1 }
        }
        if (closed) {
          sb.append('\'').append(body.toString.replace("'", "''")).append('\'')
          i = j
          changed = true
        } else { sb.append(c); i += 1 } // unterminated: leave as-is
      } else {
        val opaque = consumeOpaque(sql, i, sb)
        if (opaque > i) i = opaque
        else { sb.append(c); i += 1 }
      }
    }
    if (changed) sb.toString else sql
  }

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** DuckDB/Postgres dollar-quoted strings: `$$…$$` / `$tag$…$tag$` →
    * standard quoted literals with '' doubling. Runs FIRST — every
    * other pass's opacity scanner only understands '…' syntax, so a
    * dollar-quoted body containing quotes or keywords would otherwise
    * desynchronize them. `$1`/`$name` prepared-statement params don't
    * match (no closing `$`).
    */
  private val dollarOpenRe = """\$([A-Za-z_][A-Za-z_0-9]*)?\$""".r
  private def rewriteDollarQuotes(sql: String): String = {
    if (!sql.contains("$")) return sql
    val sb = new StringBuilder
    var i = 0
    var changed = false
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, sb)
      if (opaque > i) i = opaque
      else if (sql.charAt(i) == '$') {
        val m = dollarOpenRe.pattern.matcher(sql).region(i, sql.length)
        if (m.lookingAt()) {
          val open = m.group(0)
          val close = sql.indexOf(open, i + open.length)
          if (close >= 0) {
            val body = sql.substring(i + open.length, close)
            sb.append('\'').append(body.replace("'", "''")).append('\'')
            i = close + open.length
            changed = true
          } else { sb.append('$'); i += 1 }
        } else { sb.append('$'); i += 1 }
      } else { sb.append(sql.charAt(i)); i += 1 }
    }
    if (changed) sb.toString else sql
  }

  /** DuckDB tolerates trailing commas in SELECT lists and collection
    * literals; Spark rejects them. Drop any comma whose next
    * non-whitespace/non-comment token is a clause keyword, a closer
    * (`)`/`]`/`}`), `;`, or end of statement — a position where the
    * comma can never separate real list elements.
    */
  private val trailingCommaStops = Set(
    "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "WINDOW", "QUALIFY", "UNION", "EXCEPT", "INTERSECT")
  private def rewriteTrailingCommas(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    var changed = false
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, sb)
      if (opaque > i) i = opaque
      else if (sql.charAt(i) == ',') {
        // peek past whitespace and comments only (a string literal
        // after a comma is a REAL next element)
        var j = i + 1
        var moved = true
        while (moved) {
          moved = false
          while (j < sql.length && sql.charAt(j).isWhitespace) { j += 1; moved = true }
          if (j < sql.length &&
              (sql.startsWith("--", j) || sql.startsWith("/*", j))) {
            val o = consumeOpaque(sql, j, null)
            if (o > j) { j = o; moved = true }
          }
        }
        val atStop =
          j >= sql.length || ")]};".contains(sql.charAt(j)) || {
            val w = new StringBuilder
            var k = j
            while (k < sql.length &&
                (sql.charAt(k).isLetter || sql.charAt(k) == '_')) {
              w.append(sql.charAt(k)); k += 1
            }
            trailingCommaStops.contains(w.toString.toUpperCase)
          }
        if (atStop) { changed = true; i += 1 } // drop the comma
        else { sb.append(','); i += 1 }
      } else { sb.append(sql.charAt(i)); i += 1 }
    }
    if (changed) sb.toString else sql
  }

  /** DuckDB `GROUP BY ()` (the empty grouping set → one global group)
    * → Spark's `GROUP BY GROUPING SETS (())`.
    */
  private val emptyGroupByRe = """(?i)(GROUP\s+BY)\s*\(\s*\)""".r
  private def rewriteEmptyGroupBy(sql: String): String = {
    if (!sql.toUpperCase.contains("GROUP")) return sql
    scanOutsideLiterals(sql) { (i, sb) =>
      val m = emptyGroupByRe.pattern.matcher(sql).region(i, sql.length)
      if (wordStart(sql, i) && m.lookingAt()) {
        sb.append(m.group(1)).append(" GROUPING SETS (())")
        m.end
      } else i
    }
  }

  /** DuckDB star modifiers:
    *  - `* EXCLUDE (cols)` → Spark's `* EXCEPT (cols)` (same semantics)
    *  - `* REPLACE (expr AS col, …)` → `* EXCEPT (cols), expr AS col, …`
    *    (Spark has no REPLACE; the replaced columns move to the END of
    *    the star expansion — a documented position divergence)
    * Only fires straight after a `*`, so the replace() function and
    * window EXCLUDE frames are untouched.
    */
  private def rewriteStarModifiers(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val afterStar = {
          var k = i - 1
          while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
          k >= 0 && sql.charAt(k) == '*'
        }
        if (afterStar && wordStart(sql, i) && up.startsWith("EXCLUDE", i)) {
          return rewriteStarModifiers(
            sql.substring(0, i) + "EXCEPT" + sql.substring(i + 7))
        } else if (afterStar && wordStart(sql, i) && up.startsWith("REPLACE", i)) {
          splitCallArgs(sql, i + 7) match {
            case Some((args, end)) =>
              val parts = args.map { a =>
                val asAt = a.toUpperCase.lastIndexOf(" AS ")
                require(asAt >= 0, s"* REPLACE entry needs AS: $a")
                (a.substring(asAt + 4).trim, a.trim)
              }
              val except = parts.map(_._1).mkString("EXCEPT (", ", ", ")")
              val appended = parts.map(_._2).mkString(", ")
              return rewriteStarModifiers(
                sql.substring(0, i) + except + ", " + appended + sql.substring(end))
            case None => i += 7
          }
        } else i += 1
      }
    }
    sql
  }

  /** PostgreSQL/DuckDB `SELECT DISTINCT ON (keys) list … [ORDER BY o]`:
    * first row per key group in the query's order →
    *
    *   SELECT * EXCEPT (__don) FROM (
    *     SELECT list, row_number() OVER (PARTITION BY keys
    *                                     ORDER BY o | keys) AS __don
    *     FROM …) WHERE __don = 1 [ORDER BY o …tail]
    *
    * The ORDER BY must use raw input columns (not select aliases) for
    * the inner window to resolve — the common form. Applied at any
    * nesting depth, innermost scope first (same discipline as QUALIFY).
    */
  private def rewriteDistinctOn(sql: String): String = {
    val at = indexOfAnyDepth(sql, "DISTINCT ON")
    if (at < 0) return sql
    val (s0, e0) = scopeBounds(sql, at)
    val scope = sql.substring(s0, e0)
    val rel = at - s0
    // keys
    var i = rel + "DISTINCT ON".length
    while (i < scope.length && scope.charAt(i).isWhitespace) i += 1
    require(i < scope.length && scope.charAt(i) == '(',
      "DISTINCT ON requires a parenthesized key list")
    splitCallArgs(scope, i) match {
      case Some((keys, afterKeys)) =>
        // strip "DISTINCT ON (...)" from the scope
        val base = scope.substring(0, rel) + scope.substring(afterKeys)
        // split off the trailing ORDER BY / LIMIT tail (top level)
        val obAt = indexOfTopLevel(base, " ORDER BY ")
        val limAt = indexOfTopLevel(base, " LIMIT ")
        val tailAt = Seq(obAt, limAt).filter(_ >= 0).sorted.headOption.getOrElse(base.length)
        val head = base.substring(0, tailAt)
        val tail = base.substring(tailAt)
        val orderList =
          if (obAt >= 0) {
            val afterOb = base.substring(obAt + " ORDER BY ".length)
            val stop = indexOfTopLevel(afterOb, " LIMIT ")
            (if (stop >= 0) afterOb.substring(0, stop) else afterOb).trim
          } else keys.mkString(", ")
        val fromAt = indexOfTopLevel(head, " FROM ")
        require(fromAt >= 0, "DISTINCT ON: no FROM clause in scope")
        val inner = head.substring(0, fromAt) +
          s", row_number() OVER (PARTITION BY ${keys.mkString(", ")} " +
          s"ORDER BY $orderList) AS __don" + head.substring(fromAt)
        val newScope =
          s"SELECT * EXCEPT (__don) FROM ($inner) WHERE __don = 1$tail"
        rewriteDistinctOn(sql.substring(0, s0) + newScope + sql.substring(e0))
      case None => sql
    }
  }

  /** DuckDB in-aggregate ORDER BY → deterministic Spark composition:
    *
    *   array_agg(v ORDER BY k [DESC])
    *     → transform(array_sort(collect_list(struct(k, v)) [rev]), s -> s.v)
    *   string_agg(v, sep ORDER BY k [DESC])
    *     → array_join(<as above>, sep)
    *
    * (when k and v are textually identical the struct detour is skipped:
    * sort_array(collect_list(v), asc)). Spark has no ORDER BY clause
    * inside aggregate calls, and collect_list order is otherwise
    * partition-dependent — this rewrite is what makes order-sensitive
    * aggregates deterministic on a parallel engine. NULLS FIRST/LAST or
    * multi-key orderings fall through untouched (parser reports them).
    */
  /** DuckDB struct literals `{'k': v, …}` → `named_struct('k', v, …)`
    * and map literals `MAP {'k': v}` → `map('k', v, …)`. Rewrites
    * innermost-first so nesting (`{'a': {'b': 1}}`) folds naturally;
    * braces inside string literals are opaque. Keys may be quoted
    * strings (DuckDB's form) or bare identifiers.
    */
  private def rewriteBraceLiterals(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 64) {
      guard += 1
      var open = -1
      var close = -1
      var i = 0
      while (i < cur.length && close < 0) {
        val opq = consumeOpaque(cur, i, null)
        if (opq > i) i = opq
        else {
          cur.charAt(i) match {
            case '{' => open = i
            case '}' if open >= 0 => close = i
            case _ =>
          }
          i += 1
        }
      }
      if (close < 0) return cur
      val inner = cur.substring(open + 1, close)
      var p = open - 1
      while (p >= 0 && cur.charAt(p).isWhitespace) p -= 1
      val isMap = p >= 2 && cur.regionMatches(true, p - 2, "MAP", 0, 3) &&
        wordStart(cur, p - 2) && !cur.charAt(p - 2).isDigit
      val start = if (isMap) p - 2 else open
      val pairs = splitTopLevel(inner, ',').filter(_.trim.nonEmpty).map { pair =>
        val ci = indexOfTopLevelChar(pair, ':')
        require(ci > 0, s"brace literal: missing ':' in '$pair'")
        val k = pair.substring(0, ci).trim
        val v = pair.substring(ci + 1).trim
        val key = if (k.startsWith("'")) k else "'" + k + "'"
        s"$key, $v"
      }
      if (pairs.isEmpty) return cur // `{}` — no Spark form, leave as-is
      val fn = if (isMap) "map" else "named_struct"
      cur = cur.substring(0, start) + fn + "(" + pairs.mkString(", ") +
        ")" + cur.substring(close + 1)
    }
    cur
  }

  /** Split on `sep` at depth 0 (parens/brackets; quotes opaque). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < s.length) {
      val opq = consumeOpaque(s, i, null)
      if (opq > i) i = opq
      else {
        s.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case c if c == sep && depth == 0 =>
            out += s.substring(last, i); last = i + 1
          case _ =>
        }
        i += 1
      }
    }
    out += s.substring(last)
    out.result()
  }

  /** First depth-0 occurrence of `c` (skipping `::` when c == ':'). */
  private def indexOfTopLevelChar(s: String, c: Char): Int = {
    var depth = 0
    var i = 0
    while (i < s.length) {
      val opq = consumeOpaque(s, i, null)
      if (opq > i) i = opq
      else {
        val ch = s.charAt(i)
        if (ch == '(' || ch == '[' || ch == '{') depth += 1
        else if (ch == ')' || ch == ']' || ch == '}') depth -= 1
        else if (ch == c && depth == 0) {
          if (c == ':' && i + 1 < s.length && s.charAt(i + 1) == ':') i += 1
          else return i
        }
        i += 1
      }
    }
    -1
  }

  /** DuckDB sampling → Spark TABLESAMPLE:
    *  - `USING SAMPLE 10 ROWS` / `10%` / `5 PERCENT` / bare `10` (= rows)
    *  - method forms `USING SAMPLE reservoir(100)` /
    *    `… 10% (bernoulli[, seed])` — the method/seed is dropped (Spark
    *    chooses the sampling strategy; REPEATABLE is not plumbed)
    *  - unparenthesized `TABLESAMPLE 5%` → `TABLESAMPLE (5 PERCENT)`
    * Documented divergence: DuckDB's USING SAMPLE applies after WHERE,
    * Spark's TABLESAMPLE at the scan — same rows only for plain scans.
    */
  private val sampleRe =
    ("""(?i)^(USING\s+SAMPLE|TABLESAMPLE)\s+(?:(?:bernoulli|reservoir|system)\s*\(\s*(\d+(?:\.\d+)?)\s*(%|PERCENT|ROWS)?\s*\)""" +
      """|(\d+(?:\.\d+)?)\s*(%|PERCENT|ROWS)?)\s*(\(\s*(?:bernoulli|reservoir|system)(?:\s*,\s*\d+)?\s*\))?""").r

  private def rewriteSample(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i) &&
          (sql.regionMatches(true, i, "USING", 0, 5) ||
            sql.regionMatches(true, i, "TABLESAMPLE", 0, 11))) {
        sampleRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            val amt = Option(m.group(2)).getOrElse(m.group(4))
            val unit = Option(m.group(3)).orElse(Option(m.group(5))) match {
              case Some(u) if u == "%" || u.equalsIgnoreCase("PERCENT") =>
                "PERCENT"
              case _ => "ROWS"
            }
            sb.append(s"TABLESAMPLE ($amt $unit)")
            i + m.end
          case None => i
        }
      } else i
    }

  /** Quantified comparisons. Exact rewrites: `= ANY (q)` → `IN (q)`,
    * `<> ALL (q)` → `NOT IN (q)`. Ordering ops go through min/max
    * scalar subqueries (`> ALL (q)` → `> (SELECT max …)`), which
    * matches DuckDB except on an EMPTY subquery (DuckDB: ALL→true,
    * ANY→false; here: NULL) — documented divergence.
    */
  private def rewriteQuantified(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      val kw = Seq("ANY", "SOME", "ALL").find(k =>
        wordStart(sql, i) && sql.regionMatches(true, i, k, 0, k.length) &&
          (i + k.length >= sql.length ||
            !sql.charAt(i + k.length).isLetterOrDigit))
      kw match {
        case Some(k) =>
          // operator must directly precede (in emitted text)
          var j = sb.length
          while (j > 0 && sb.charAt(j - 1).isWhitespace) j -= 1
          var opStart = j
          while (opStart > 0 && "=<>!".indexOf(sb.charAt(opStart - 1)) >= 0)
            opStart -= 1
          val op = sb.substring(opStart, j)
          val valid = Set("=", ">", ">=", "<", "<=", "<>", "!=")
          // subquery must follow
          var m = i + k.length
          while (m < sql.length && sql.charAt(m).isWhitespace) m += 1
          val isSub = m < sql.length && sql.charAt(m) == '(' && {
            var n = m + 1
            while (n < sql.length && sql.charAt(n).isWhitespace) n += 1
            Seq("SELECT", "FROM", "WITH", "VALUES").exists(w =>
              sql.regionMatches(true, n, w, 0, w.length))
          }
          if (!valid(op) || !isSub) i
          else {
            // matching close paren
            var depth = 0
            var e = m
            var end = -1
            while (e < sql.length && end < 0) {
              val opq = consumeOpaque(sql, e, null)
              if (opq > e) e = opq
              else {
                sql.charAt(e) match {
                  case '(' => depth += 1
                  case ')' => depth -= 1; if (depth == 0) end = e
                  case _ =>
                }
                e += 1
              }
            }
            if (end < 0) i
            else {
              val sub = sql.substring(m + 1, end)
              val isAll = k.equalsIgnoreCase("ALL")
              val repl: Option[String] = (op, isAll) match {
                case ("=", false) => Some(s" IN ($sub)")
                case ("<>", true) | ("!=", true) => Some(s" NOT IN ($sub)")
                case (">", _) | (">=", _) =>
                  val agg = if (isAll) "max" else "min"
                  Some(s"$op (SELECT $agg(__qc) FROM ($sub) AS __q(__qc))")
                case ("<", _) | ("<=", _) =>
                  val agg = if (isAll) "min" else "max"
                  Some(s"$op (SELECT $agg(__qc) FROM ($sub) AS __q(__qc))")
                case _ => None
              }
              repl match {
                case Some(r) =>
                  sb.delete(opStart, sb.length)
                  sb.append(r)
                  end + 1
                case None => i
              }
            }
          }
        case None => i
      }
    }

  /** DuckDB permits `row_number() OVER ()` etc. — ranking/offset window
    * functions with no ORDER BY (arbitrary order). Spark requires an
    * order; `ORDER BY 1` (a constant) reproduces the arbitrary-order
    * semantics. AGGREGATE windows are NOT rewritten: adding an ORDER BY
    * would silently shrink their default frame to running-total.
    */
  private val rankingFnRe =
    """(?i)^(row_number|dense_rank|percent_rank|cume_dist|rank|ntile|lag|lead)\s*\(""".r
  private val emptyOverRe = """(?i)^\s+OVER\s*\(\s*\)""".r

  private def rewriteEmptyOver(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i)) {
        rankingFnRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            splitCallArgs(sql, i + m.end - 1) match {
              case Some((_, argsEnd)) =>
                emptyOverRe.findPrefixMatchOf(sql.substring(argsEnd)) match {
                  case Some(o) =>
                    sb.append(sql.substring(i, argsEnd))
                      .append(" OVER (ORDER BY 1)")
                    argsEnd + o.end
                  case None => i
                }
              case None => i
            }
          case None => i
        }
      } else i
    }

  /** BLOB → BINARY. `'…'::BLOB` literals fold to `unhex('…')` with
    * DuckDB's `\xHH` escapes decoded (Spark strings don't interpret
    * them); other `::BLOB` / `AS BLOB)` casts map to the BINARY type.
    */
  private val blobLitRe = """(?i)'((?:[^']|'')*)'\s*::\s*BLOB\b""".r
  private val blobLitCastRe =
    """(?i)CAST\s*\(\s*'((?:[^']|'')*)'\s+AS\s+BLOB\s*\)""".r
  // typed-literal form BLOB '…' (probe-19: Spark has no BLOB literal)
  private val blobTypedLitRe = """(?i)BLOB\s+'((?:[^']|'')*)'""".r
  private val hexEscRe = """(?i)\\x([0-9a-f]{2})""".r

  private def literalToHex(lit: String): String = {
    val sb = new StringBuilder
    var i = 0
    val s = lit.replace("''", "'")
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 3 < s.length + 1 &&
          i + 4 <= s.length &&
          (s.charAt(i + 1) == 'x' || s.charAt(i + 1) == 'X') &&
          s.substring(i + 2, i + 4).forall(c =>
            Character.digit(c, 16) >= 0)) {
        sb.append(s.substring(i + 2, i + 4).toUpperCase)
        i += 4
      } else {
        s.charAt(i).toString.getBytes("UTF-8").foreach(b =>
          sb.append(f"${b & 0xff}%02X"))
        i += 1
      }
    }
    sb.toString
  }

  private def rewriteBlob(sql: String): String = {
    // hand scan, NOT whole-string replaceAll: a `'…'::BLOB` shape inside
    // a quoted identifier or comment must survive verbatim (the
    // literal-safety property pins this). A string literal directly
    // followed by ::BLOB IS the rewrite target, so the quote position
    // tries the blob-literal match BEFORE consuming the literal opaquely.
    val sb = new StringBuilder
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        blobLitRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            sb.append(s"unhex('${literalToHex(m.group(1))}')"); i += m.end
          case None => i = consumeOpaque(sql, i, sb)
        }
      } else if (c == '"' || sql.startsWith("--", i) || sql.startsWith("/*", i)) {
        i = consumeOpaque(sql, i, sb)
      } else if (up.startsWith("CAST", i) && wordStart(sql, i)) {
        blobLitCastRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            sb.append(s"unhex('${literalToHex(m.group(1))}')"); i += m.end
          case None => sb.append(c); i += 1
        }
      } else if (up.startsWith("BLOB", i) && wordStart(sql, i)) {
        blobTypedLitRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            sb.append(s"unhex('${literalToHex(m.group(1))}')"); i += m.end
          case None => sb.append(c); i += 1
        }
      } else if (sql.startsWith("::", i)) {
        """(?i)^::\s*BLOB\b""".r.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append("::BINARY"); i += m.end
          case None => sb.append(c); i += 1
        }
      } else if (up.startsWith("AS", i) && wordStart(sql, i)) {
        """(?i)^AS\s+BLOB\s*\)""".r.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append("AS BINARY)"); i += m.end
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** DuckDB BIT (bitstring) casts — `e::BIT` and `CAST(e AS BIT)` →
    * `graft_bit(e)` (Functions kernel; the engine's BIT representation
    * is a '0'/'1' STRING, SURVEY §1.4). Spark has no BIT type name, so
    * the cast must become a call; the `::` operand is recovered by a
    * bounded left scan over the primary expression (literal, number,
    * dotted identifier, or balanced group with a call-name prefix) —
    * an unrecognized shape is left for the parser to diagnose.
    */
  private def rewriteBitCasts(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opq = consumeOpaque(sql, i, null)
      if (opq > i) i = opq
      else if (sql.startsWith("::", i)) {
        var k = i + 2
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        var j = k
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_')) j += 1
        if (sql.substring(k, j).equalsIgnoreCase("BIT") &&
            (j >= sql.length || sql.charAt(j) != '(')) {
          val start = operandStart(sql, i)
          if (start >= 0)
            return rewriteBitCasts(sql.substring(0, start) + "graft_bit(" +
              sql.substring(start, i) + ")" + sql.substring(j))
          else i = j
        } else i = j.max(i + 2)
      } else if ((up.startsWith("TRY_CAST", i) || up.startsWith("CAST", i)) &&
          wordStart(sql, i)) {
        val nameLen = if (up.startsWith("TRY_CAST", i)) 8 else 4
        var k = i + nameLen
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '(') {
          splitCallArgs(sql, k) match {
            case Some((_, end)) =>
              val body = sql.substring(k + 1, end - 1)
              """(?is)^(.*)\bAS\s+BIT\s*$""".r.findFirstMatchIn(body) match {
                case Some(m) =>
                  return rewriteBitCasts(sql.substring(0, i) +
                    s"graft_bit(${m.group(1).trim})" + sql.substring(end))
                case None => i = k + 1 // scan inside for nested casts
              }
            case None => i += nameLen
          }
        } else i += nameLen
      } else i += 1
    }
    sql
  }

  // Backward jump over a block comment: `closeSlash` sits on the '/' of
  // a star-slash terminator — returns the index of the '/' opening the
  // matching slash-star, or -1 when unterminated. Keeps backward operand
  // scans from counting brackets/quotes INSIDE comments: a bracket-
  // bearing comment in a call argument list, followed by ::BIT, must
  // still recover the full call as the cast operand.
  private def blockCommentOpener(sql: String, closeSlash: Int): Int = {
    var j = closeSlash - 2
    while (j > 0) {
      if (sql.charAt(j) == '*' && sql.charAt(j - 1) == '/') return j - 1
      j -= 1
    }
    -1
  }

  /** Start of the primary expression ending just before `pos` (the
    * operand of a postfix `::` cast); -1 when the shape isn't one the
    * scan recognizes.
    */
  private def operandStart(sql: String, pos: Int): Int = {
    var k = pos - 1
    while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
    if (k < 0) return -1
    sql.charAt(k) match {
      case q @ ('\'' | '"') =>
        var j = k - 1
        var open = -1
        while (open < 0 && j >= 0) {
          if (sql.charAt(j) == q) {
            if (j - 1 >= 0 && sql.charAt(j - 1) == q) j -= 2 // '' = escaped
            else open = j
          } else j -= 1
        }
        open
      case ')' | ']' =>
        var depth = 0
        var j = k
        var inQ: Char = 0
        while (j >= 0) {
          val c = sql.charAt(j)
          if (inQ != 0) { if (c == inQ) inQ = 0 }
          else if (c == '/' && j > 0 && sql.charAt(j - 1) == '*') {
            // end of a block comment: its content is opaque
            val opener = blockCommentOpener(sql, j)
            if (opener < 0) return -1
            j = opener
          }
          else c match {
            case ')' | ']' => depth += 1
            case '(' | '[' =>
              depth -= 1
              if (depth == 0) {
                var h = j - 1
                while (h >= 0 && (sql.charAt(h).isLetterOrDigit ||
                  sql.charAt(h) == '_' || sql.charAt(h) == '.')) h -= 1
                return h + 1
              }
            case '\'' | '"' => inQ = c
            case _ =>
          }
          j -= 1
        }
        -1
      case c if c.isLetterOrDigit || c == '_' =>
        var j = k
        while (j >= 0 && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_' || sql.charAt(j) == '.')) j -= 1
        j + 1
      case _ => -1
    }
  }

  /** DuckDB FROM-position table functions Spark lacks:
    * `FROM generate_series(…)` and `FROM unnest(list)` become inline
    * explode subqueries with DuckDB's output column name (the TVF's own
    * name), so `SELECT unnest FROM unnest([…])` resolves. Trailing
    * aliases (`AS t(x)`) survive — they attach to the subquery.
    * `FROM range(…)` stays on Spark's native TVF (column `id` vs
    * DuckDB's `range` — documented divergence; empty-range semantics
    * are exact there, which the sequence() form can't give).
    */
  private val fromTvfRe = """(?i)^(FROM|JOIN)\s+(generate_series|unnest|range)\s*\(""".r

  private def rewriteFromTvf(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!wordStart(sql, i)) i
      else fromTvfRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          val fn = m.group(2).toLowerCase
          splitCallArgs(sql, i + m.end - 1) match {
            case Some((args, end)) =>
              // integer FROM range(...) stays on Spark's NATIVE range TVF
              // (a real distributed relation); only the temporal form —
              // which Spark's range can't produce — goes through the
              // scalar shim (stop-exclusive sequence) + explode
              if (fn == "range" && !args.exists(
                  _.toUpperCase.matches("(?s).*\\b(TIMESTAMP|INTERVAL)\\b.*"))) {
                // keep the NATIVE distributed range TVF but rename its
                // output column: Spark names it `id`, DuckDB `range`.
                // The /**/ between name and paren keeps this pass
                // idempotent (macro expansion re-runs the pipeline): the
                // emitted inner call no longer matches `range\s*\(`.
                sb.append(s"${m.group(1)} (SELECT id AS range FROM " +
                  s"range/**/(${args.mkString(", ")}))")
                end
              } else {
                val inner = fn match {
                  case "unnest" => s"explode(${args.mkString(", ")})"
                  case "range" => s"explode(range(${args.mkString(", ")}))"
                  // the scalar generate_series shim (stop-inclusive
                  // sequence) resolves inside the subquery
                  case _ => s"explode(generate_series(${args.mkString(", ")}))"
                }
                sb.append(s"${m.group(1)} (SELECT $inner AS $fn)")
                end
              }
            case None => i
          }
        case None => i
      }
    }

  /** DuckDB `name := value` named call arguments, normalized per
    * function (Spark's parser has no `:=`):
    *  - `struct_pack(a := 1, b := 'x')` → `named_struct('a', 1, 'b', 'x')`
    *  - `struct_insert(s, b := 2)` → `struct_insert(s, 'b', 2)` (the
    *    shim builds UpdateFields/WithField)
    *  - `unnest(x, recursive := true)` → `unnest(flatten(x))` — one
    *    nesting level, the documented list-of-list case; struct
    *    unnesting and deeper nests stay unsupported.
    */
  private val namedArgFns =
    Seq("STRUCT_PACK", "STRUCT_INSERT", "UNNEST", "UNION_VALUE")
  private def rewriteNamedArgCalls(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val hit = namedArgFns.find(n => up.startsWith(n, i) && wordStart(sql, i) && {
          var k = i + n.length
          while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
          k < sql.length && sql.charAt(k) == '('
        })
        hit match {
          case Some(n) =>
            val open = sql.indexOf('(', i + n.length)
            splitCallArgs(sql, open) match {
              case Some((args, end))
                  if args.exists(_.matches("(?s)\\s*\\w+\\s*:=.*")) =>
                def pair(a: String): String = a.split(":=", 2) match {
                  case Array(k, v) if k.trim.matches("[A-Za-z_][A-Za-z0-9_]*") =>
                    s"'${k.trim}', ${v.trim}"
                  case _ => throw new GatewayException(
                    s"${n.toLowerCase}: argument `${a.trim}` is not of the " +
                      "form name := value")
                }
                val call = n match {
                  case "STRUCT_PACK" =>
                    s"named_struct(${args.map(_.trim).map(pair).mkString(", ")})"
                  case "STRUCT_INSERT" =>
                    s"struct_insert(${args.head.trim}, " +
                      s"${args.tail.map(_.trim).map(pair).mkString(", ")})"
                  case "UNION_VALUE" =>
                    s"union_value(${args.map(_.trim).map(pair).mkString(", ")})"
                  case "UNNEST" =>
                    val (rec, rest) = args.map(_.trim)
                      .partition(_.matches("(?is)recursive\\s*:=\\s*true\\s*"))
                    if (rec.isEmpty) null
                    // graft_rec defers the flatten-vs-inline choice to
                    // the DuckUnnest resolution rule (type-dependent:
                    // list-of-list flattens, list-of-struct inlines)
                    else s"unnest(graft_rec(${rest.mkString(", ")}))"
                }
                if (call == null) i = end
                else return rewriteNamedArgCalls(
                  sql.substring(0, i) + call + sql.substring(end))
              case _ => i += n.length
            }
          case None => i += 1
        }
      }
    }
    sql
  }

  /** DuckDB accepts `lag(x IGNORE NULLS)` with the null treatment
    * INSIDE the parens; Spark wants it after: `lag(x) IGNORE NULLS`.
    */
  private val ignoreNullsFns =
    Seq("FIRST_VALUE", "LAST_VALUE", "NTH_VALUE", "ANY_VALUE",
      "FIRST", "LAST", "LAG", "LEAD")
  private val nullTreatTailRe =
    """(?is)^(.*?)\s+(IGNORE|RESPECT)\s+NULLS\s*$""".r
  private def rewriteIgnoreNulls(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val hit = ignoreNullsFns.find(n => up.startsWith(n, i) && wordStart(sql, i) && {
          var k = i + n.length
          while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
          k < sql.length && sql.charAt(k) == '('
        })
        hit match {
          case Some(n) =>
            val open = sql.indexOf('(', i + n.length)
            splitCallArgs(sql, open) match {
              case Some((args, end)) if args.nonEmpty &&
                  nullTreatTailRe.findFirstMatchIn(args.last).isDefined =>
                val m = nullTreatTailRe.findFirstMatchIn(args.last).get
                val newArgs = (args.init :+ m.group(1)).mkString(", ")
                return rewriteIgnoreNulls(
                  sql.substring(0, i) + s"$n($newArgs) ${m.group(2).toUpperCase} NULLS" +
                    sql.substring(end))
              case _ => i += n.length
            }
          case None => i += 1
        }
      }
    }
    sql
  }

  /** The primary expression starting at i0 (ws-skipped): signed number,
    * string literal, parenthesized expression, or identifier chain with
    * an optional call — returns the end index (exclusive).
    */
  private def forwardPrimary(sql: String, i0: Int): Int = {
    var i = i0
    // leading whitespace AND block comments are operand prelude
    // (`2 ** /* c */ 3` — the comment is opaque, like the backward scans)
    var skipped = true
    while (skipped) {
      skipped = false
      while (i < sql.length && sql.charAt(i).isWhitespace) { i += 1; skipped = true }
      if (sql.startsWith("/*", i)) {
        val close = sql.indexOf("*/", i + 2)
        if (close >= 0) { i = close + 2; skipped = true }
      }
    }
    if (i >= sql.length) return i0
    if (sql.charAt(i) == '-' || sql.charAt(i) == '+') i += 1
    if (i >= sql.length) return i0
    def balanced(from: Int): Int = {
      var j = from
      var depth = 0
      while (j < sql.length) {
        sql.charAt(j) match {
          case '\'' =>
            j += 1
            while (j < sql.length && sql.charAt(j) != '\'') j += 1
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) return j + 1
          case _ =>
        }
        j += 1
      }
      from
    }
    sql.charAt(i) match {
      case '(' => balanced(i)
      case '\'' =>
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '\'') j += 1
        j + 1
      case c if c.isDigit =>
        var j = i
        while (j < sql.length && (sql.charAt(j).isDigit || sql.charAt(j) == '.')) j += 1
        j
      case c if c.isLetter || c == '_' =>
        var j = i
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_' || sql.charAt(j) == '.')) j += 1
        var k = j
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '(') balanced(k) else j
      case _ => i0
    }
  }

  /** DuckDB power operators: `a ** b` and `a ^ b` → `power(a, b)`.
    * Spark would PARSE `^` fine — as bitwise xor — so leaving it alone
    * is a silent value divergence, not an error. Left-associative like
    * the `//` div rewrite.
    */
  private def rewritePowOp(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      val w = if (sql.startsWith("**", i)) 2
        else if (sql.charAt(i) == '^') 1 else 0
      if (w == 0) i
      else backtrackPrimary(sb) match {
        case Some(start) =>
          val rEnd = forwardPrimary(sql, i + w)
          if (rEnd <= i + w) i
          else {
            val left = sb.substring(start)
            val right = sql.substring(i + w, rEnd).trim
            sb.setLength(start)
            sb.append(s"power($left, $right)")
            rEnd
          }
        case None => i
      }
    }

  /** DuckDB parameterized interval literals — `INTERVAL (expr) UNIT` →
    * `((expr) * INTERVAL '1' UNIT)`: Spark's INTERVAL literal takes only
    * a constant, but interval-times-integral multiplication expresses
    * the same value for any expression.
    */
  private val intervalUnitRe =
    """(?i)^\s*(DAY|HOUR|MINUTE|SECOND|MILLISECOND|MICROSECOND|WEEK|MONTH|YEAR)S?\b""".r
  private def rewriteIntervalExpr(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(sql.regionMatches(true, i, "INTERVAL", 0, 8) && wordStart(sql, i))) i
      else {
        var k = i + 8
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k >= sql.length || sql.charAt(k) != '(') i
        else splitCallArgs(sql, k) match {
          case Some((args, end)) if args.length == 1 =>
            intervalUnitRe.findPrefixMatchOf(sql.substring(end)) match {
              case Some(u) =>
                sb.append(s"((${args.head.trim}) * INTERVAL '1' ${u.group(1).toUpperCase})")
                end + u.end
              case None => i
            }
          case _ => i
        }
      }
    }

  /** DuckDB accepts MIXED-unit interval strings — `INTERVAL '1 month 2
    * days 3 hours'` — where Spark's literal grammar forbids mixing
    * year-month with day-time fields. Those become `make_interval(...)`
    * (CalendarIntervalType carries months+days+micros together; its
    * text rendering already matches via IntervalText). Single-class
    * strings keep Spark's native typed literal, which has the more
    * specific interval type.
    */
  private val mixedIntervalRe = """(?is)^INTERVAL\s+'([^']*)'""".r
  private val intervalItemRe =
    ("""(?i)(-?\d+(?:\.\d+)?)\s*(years?|yrs?|months?|mons?|weeks?|days?|""" +
      """hours?|hrs?|minutes?|mins?|seconds?|secs?|milliseconds?|""" +
      """microseconds?|ms|us)(?![a-z])""").r
  private def rewriteMixedInterval(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) && sql.regionMatches(true, i, "INTERVAL", 0, 8))) i
      else mixedIntervalRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          val content = m.group(1)
          val items = intervalItemRe.findAllMatchIn(content).toSeq
          // the rewrite must understand the WHOLE string (no residual
          // like a trailing '03:00:00' clock form) or it stays native
          val covered = items.foldLeft(content) { (s, it) =>
            s.replace(it.matched, " ")
          }.trim.isEmpty
          def unitClass(u: String): Char = {
            val n = u.toLowerCase.stripSuffix("s")
            if (n == "year" || n == "yr" || n == "month" || n == "mon") 'y'
            else 'd'
          }
          val classes = items.map(it => unitClass(it.group(2))).toSet
          if (!covered || items.isEmpty || classes.size < 2 ||
              items.exists(it => it.group(1).contains(".") &&
                !it.group(2).toLowerCase.startsWith("sec"))) i
          else {
            def total(pred: String => Boolean): String = {
              val xs = items.filter(it => pred(
                it.group(2).toLowerCase.stripSuffix("s")))
              if (xs.isEmpty) "0" else xs.map(_.group(1)).mkString("(", " + ", ")")
            }
            val secs = {
              val parts =
                items.filter(_.group(2).toLowerCase.startsWith("sec"))
                  .map(_.group(1)) ++
                items.filter(it => { val u = it.group(2).toLowerCase
                  u.startsWith("milli") || u == "ms" })
                  .map(it => s"(${it.group(1)} / 1000.0)") ++
                items.filter(it => { val u = it.group(2).toLowerCase
                  u.startsWith("micro") || u == "us" })
                  .map(it => s"(${it.group(1)} / 1000000.0)")
              if (parts.isEmpty) "0" else parts.mkString("(", " + ", ")")
            }
            sb.append("make_interval(" +
              total(u => u == "year" || u == "yr") + ", " +
              total(u => u == "month" || u == "mon") + ", " +
              total(_ == "week") + ", " +
              total(_ == "day") + ", " +
              total(u => u == "hour" || u == "hr") + ", " +
              total(u => u == "minute" || u == "min") + ", " +
              secs + ")")
            i + m.end
          }
        case None => i
      }
    }

  /** `percentile_disc(q) WITHIN GROUP (ORDER BY x)` → `quantile_disc(x,
    * q)`: Spark's native percentile_disc answers DOUBLE, but the
    * discrete quantile is an actual ELEMENT — DuckDB keeps the element
    * type (probe-18). Ascending order only; a DESC spec keeps the
    * native path (its rank rule isn't a simple 1−q flip under the
    * floor((n−1)q) convention).
    */
  private val withinGroupRe =
    """(?is)^\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+([^()]+?)(\s+ASC)?\s*\)""".r
  private def rewritePercentileDisc(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) &&
          sql.regionMatches(true, i, "PERCENTILE_DISC", 0, 15))) i
      else {
        var k = i + 15
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k >= sql.length || sql.charAt(k) != '(') i
        else splitCallArgs(sql, k) match {
          case Some((args, end)) if args.length == 1 =>
            withinGroupRe.findPrefixMatchOf(sql.substring(end)) match {
              case Some(m) if !m.group(1).toUpperCase.endsWith(" DESC") &&
                  !m.group(1).toUpperCase.contains(" NULLS ") =>
                sb.append(s"quantile_disc(${m.group(1).trim}, ${args.head.trim})")
                end + m.end
              case _ => i
            }
          case _ => i
        }
      }
    }

  /** Aggregate FILTER over a WINDOW — `fn(x) FILTER (WHERE p) OVER …` —
    * which Spark rejects ("filter predicate is not supported yet" for
    * window aggregates): fold the predicate into the argument,
    * `fn(CASE WHEN p THEN x END) OVER …` (aggregates skip NULLs, so the
    * filtered rows vanish exactly); `count(*)` counts a CASE-guarded 1.
    * Only single-argument, non-DISTINCT aggregates with well-known
    * NULL-skipping semantics rewrite via the CASE fold; FIRST/LAST/
    * ANY_VALUE/ARRAY_AGG (which the fold would silently corrupt — the
    * CASE-nullified first row is not the first row PASSING the filter,
    * and collect_list drops genuine NULLs) instead take a collect-over-
    * frame path (r11, same machinery as the general EXCLUDE fallback):
    * collect (predicate, value) structs over the identical frame —
    * struct elements are never NULL, so genuine NULL values survive —
    * drop the failing elements by value, then take the positional
    * element (first/last), the first non-NULL (any_value, DuckDB's
    * semantics), or the value array (array_agg; empty → NULL like the
    * native aggregate). O(frame) per row, the same bound as Spark's own
    * windowed aggregation. Anything else keeps the native path (loud
    * error, like Spark).
    */
  private val windowFilterFns = Set("COUNT", "SUM", "MIN", "MAX", "AVG",
    "BOOL_AND", "BOOL_OR", "STDDEV", "STDDEV_SAMP", "VAR_SAMP", "VAR_POP",
    "MEDIAN", "STRING_AGG")

  /** The bare ORDER BY keys of a window spec (frame and sort-direction
    * text stripped) — the peer-group identity EXCLUDE GROUP/TIES need.
    * None when the spec has no ORDER BY (EXCLUDE is degenerate there;
    * callers leave the loud parser error).
    */
  private def windowOrderKeysOf(specClean: String): Option[Seq[String]] = {
    val obIdx = indexOfTopLevel(specClean, " ORDER BY ") match {
      case -1 =>
        if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfTopLevel(afterOb, k)).filter(_ >= 0)
      .sorted.headOption.getOrElse(afterOb.length)
    val keys = splitTopLevel(afterOb.substring(0, frameIdx), ',')
      .map(_.trim)
      .map(_.replaceAll("""(?is)\s+NULLS\s+(FIRST|LAST)\s*$""", "")
        .replaceAll("""(?is)\s+(ASC|DESC)\s*$""", "").trim)
      .filter(_.nonEmpty)
    if (keys.isEmpty) None else Some(keys)
  }
  private val windowFilterCollectFns =
    Set("FIRST", "LAST", "ANY_VALUE", "ARRAY_AGG", "LIST", "ARBITRARY")
  private def rewriteWindowFilter(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) && sql.regionMatches(true, i, "FILTER", 0, 6) &&
          (i + 6 >= sql.length ||
            !(sql.charAt(i + 6).isLetterOrDigit || sql.charAt(i + 6) == '_')))) i
      else {
        var k = i + 6
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k >= sql.length || sql.charAt(k) != '(') i
        else splitCallArgs(sql, k) match {
          case Some((fargs, end)) if fargs.length == 1 &&
              fargs.head.trim.toUpperCase.startsWith("WHERE ") =>
            var m = end
            while (m < sql.length && sql.charAt(m).isWhitespace) m += 1
            if (!(sql.regionMatches(true, m, "OVER", 0, 4) &&
                (m + 4 >= sql.length ||
                  !(sql.charAt(m + 4).isLetterOrDigit ||
                    sql.charAt(m + 4) == '_')))) i
            else backtrackPrimary(sb) match {
              case Some(start) =>
                val callText = sb.substring(start).trim
                val open = callText.indexOf('(')
                val fn = if (open > 0) callText.substring(0, open).trim else ""
                val inner = if (open > 0 && callText.endsWith(")"))
                  callText.substring(open + 1, callText.length - 1).trim
                else null
                val pred = fargs.head.trim.substring(5).trim
                val fnU = fn.toUpperCase
                if (inner == null || inner.toUpperCase.startsWith("DISTINCT") ||
                    (inner != "*" && splitTopLevel(inner, ',').lengthIs > 1)) i
                else if (windowFilterFns(fnU)) {
                  val arg = if (inner == "*") "1" else inner
                  sb.setLength(start)
                  sb.append(s"$fn(CASE WHEN $pred THEN $arg END) ")
                  end // resume at OVER (FILTER clause consumed)
                } else if (windowFilterCollectFns(fnU) && inner != "*") {
                  // collect-over-frame: consume the OVER ref too (the
                  // window must bind to the inner collect_list)
                  var j = m + 4
                  while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
                  val overRef: Option[(String, Int)] =
                    if (j < sql.length && sql.charAt(j) == '(')
                      splitCallArgs(sql, j).map { case (_, e) =>
                        (sql.substring(j, e), e) }
                    else {
                      var e = j
                      while (e < sql.length &&
                          (sql.charAt(e).isLetterOrDigit ||
                            sql.charAt(e) == '_')) e += 1
                      if (e > j) Some((sql.substring(j, e), e)) else None
                    }
                  overRef match {
                    case Some((over, resume)) =>
                      // r12: EXCLUDE frames compose with this fold —
                      // strip the EXCLUDE from the inline spec and drop
                      // the excluded elements from the collected array
                      // ORDER-PRESERVINGLY (the general subtraction
                      // machinery would reorder: its TIES arm
                      // re-appends the row's own element at the END,
                      // which the positional consumers below —
                      // first/last/element_at — would see).
                      val innerSpec =
                        if (over.startsWith("(") && over.endsWith(")"))
                          Some(over.substring(1, over.length - 1))
                        else None
                      val exIdx = innerSpec
                        .map(s => indexOfTopLevel(s, " EXCLUDE ")).getOrElse(-1)
                      val exParsed: Option[(String, String, Seq[String])] =
                        if (exIdx < 0) None
                        else innerSpec.flatMap { spec =>
                          excludeModeRe
                            .findFirstMatchIn(spec.substring(exIdx))
                            .flatMap { mm =>
                              val specClean = spec.substring(0, exIdx).trim
                              windowOrderKeysOf(specClean).map(ks =>
                                (specClean,
                                  mm.group(1).toUpperCase
                                    .replaceAll("\\s+", " "), ks))
                            }
                        }
                      if (exIdx >= 0 && exParsed.isEmpty) i
                      // ^ an EXCLUDE this fold can't place (no ORDER BY,
                      //   or not a frame EXCLUDE) — leave the loud
                      //   error. GROUPS frames are NOT refused anymore
                      //   (r14): the specs this arm emits are
                      //   EXCLUDE-stripped, and rewriteGroupsFrame runs
                      //   AFTER this pass in the pipeline — its r13
                      //   scope-walk/FROM-locator fixes rewrite every
                      //   duplicated `OVER (… GROUPS …)` occurrence to
                      //   the rank-keyed RANGE spelling, sharing ONE
                      //   injected rank per spec (GroupsExcludeSpec's
                      //   FILTER×GROUPS×EXCLUDE sweep pins the
                      //   composition end-to-end).
                      else {
                        val arr = exParsed match {
                          case None =>
                            s"collect_list(struct(($pred) AS gxp, " +
                              s"($inner) AS gxv)) OVER $over"
                          case Some((specClean, mode, orderKeys)) =>
                            val k = s"struct(${orderKeys.mkString(", ")})"
                            val c = s"collect_list(struct($k AS gxk, " +
                              s"($pred) AS gxp, ($inner) AS gxv)) " +
                              s"OVER ($specClean)"
                            val curT = s"struct($k AS gxk, ($pred) AS gxp, " +
                              s"($inner) AS gxv)"
                            val pos = s"array_position($c, $curT)"
                            mode match {
                              case "NO OTHERS" => c
                              case "CURRENT ROW" =>
                                // remove ONE instance of the row's own
                                // element by position (identical tuples
                                // are interchangeable)
                                s"(CASE WHEN $pos IS NULL OR $pos = 0 " +
                                  s"THEN $c ELSE concat(" +
                                  s"slice($c, 1, CAST($pos AS INT) - 1), " +
                                  s"slice($c, CAST($pos AS INT) + 1, " +
                                  s"greatest(0, size($c) - CAST($pos AS INT)))) END)"
                              case "GROUP" =>
                                s"filter($c, gx_s -> gx_s.gxk IS DISTINCT FROM $k)"
                              case _ => // TIES: drop peers, keep one
                                // instance of the row's own element AT
                                // ITS POSITION (index-aware filter)
                                s"(CASE WHEN $pos IS NULL OR $pos = 0 " +
                                  s"THEN filter($c, gx_s -> gx_s.gxk IS DISTINCT FROM $k) " +
                                  s"ELSE filter($c, (gx_s, gx_i) -> " +
                                  s"gx_s.gxk IS DISTINCT FROM $k OR " +
                                  s"gx_i = CAST($pos AS INT) - 1) END)"
                            }
                        }
                        val kept = s"filter($arr, gx_s -> gx_s.gxp)"
                        val repl = fnU match {
                          case "FIRST" | "ARBITRARY" =>
                            s"try_element_at($kept, 1).gxv"
                          case "LAST" => s"try_element_at($kept, -1).gxv"
                          case "ANY_VALUE" => // DuckDB: first NON-NULL value
                            s"try_element_at(filter($arr, gx_s -> gx_s.gxp" +
                              s" AND gx_s.gxv IS NOT NULL), 1).gxv"
                          case _ => // ARRAY_AGG / LIST: empty → NULL
                            s"(CASE WHEN size($kept) = 0 THEN NULL " +
                              s"ELSE transform($kept, gx_s -> gx_s.gxv) END)"
                        }
                        sb.setLength(start)
                        sb.append(repl)
                        resume
                      }
                    case None => i
                  }
                } else i
              case None => i
            }
          case _ => i
        }
      }
    }

  /** SQL-standard `FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY` → `LIMIT n`
    * (n defaults to 1) — DuckDB accepts the standard spelling, Spark's
    * grammar only has LIMIT (probe-20).
    */
  private val fetchFirstRe =
    """(?is)^FETCH\s+(?:FIRST|NEXT)\s+(\d+\s+)?ROWS?\s+ONLY""".r
  private def rewriteFetchFirst(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) && sql.regionMatches(true, i, "FETCH", 0, 5))) i
      else fetchFirstRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          sb.append("LIMIT " + Option(m.group(1)).map(_.trim).getOrElse("1"))
          i + m.end
        case None => i
      }
    }

  /** DuckDB prefix-`@` absolute value: `@x` → `abs(x)`. */
  private def rewriteAtAbs(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.charAt(i) != '@') i
      else {
        val end = forwardPrimary(sql, i + 1)
        if (end <= i + 1) i
        else { sb.append(s"abs(${sql.substring(i + 1, end).trim})"); end }
      }
    }

  /** DuckDB postfix factorial: `n!` → `factorial(n)` (the Functions
    * override with HUGEINT semantics). `!=` stays not-equals — the
    * lexer-level distinction DuckDB itself makes: `5 ! = 3` parses as
    * `factorial(5) = 3` there, so only `!` IMMEDIATELY followed by `=`
    * is the comparison. `!` with no preceding primary (prefix-NOT
    * position) and `!!`/`!~` forms are left for the parser to diagnose,
    * as DuckDB does.
    */
  private def rewriteFactorial(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.charAt(i) != '!' ||
          (i + 1 < sql.length && "=!~".indexOf(sql.charAt(i + 1)) >= 0)) i
      else backtrackPrimary(sb) match {
        case Some(start) =>
          val operand = sb.substring(start)
          sb.setLength(start)
          sb.append(s"factorial($operand)")
          i + 1
        case None => i
      }
    }

  /** DuckDB fixed/list array type suffixes in cast positions — `x::T[3]`
    * (fixed-size array), `x::T[]` (list), `CAST(x AS T[3])` — become
    * `ARRAY<T>` with castTypeMap applied to the element type (the plain
    * array is the dialect's carrier for both; fixed length is not a
    * Spark type property). MUST run before rewriteBrackets, which would
    * otherwise read `T[3]` as a subscript of an identifier `T`.
    */
  private def rewriteArrayTypeSuffix(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      // (ARRAY<elem>, index past the closing ']') when a type-with-
      // bracket-suffix starts at `start`
      def tryAt(start: Int): Option[(String, Int)] = {
        var k = start
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        var j = k
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_')) j += 1
        if (j == k) return None
        val word = sql.substring(k, j)
        """^\s*\[\s*\d*\s*\]""".r.findPrefixMatchOf(sql.substring(j)).map { br =>
          (s"ARRAY<${castTypeMap.getOrElse(word.toUpperCase, word)}>", j + br.end)
        }
      }
      if (sql.startsWith("::", i)) {
        tryAt(i + 2) match {
          case Some((t, end)) => sb.append("::").append(t); end
          case None => i
        }
      } else if (wordStart(sql, i) && sql.regionMatches(true, i, "AS", 0, 2) &&
          i + 2 < sql.length && sql.charAt(i + 2).isWhitespace) {
        // `AS T[n]` — only a cast-body type position can be followed by
        // a bracket suffix, so the match is unambiguous
        tryAt(i + 3) match {
          case Some((t, end)) => sb.append("AS ").append(t); end
          case None => i
        }
      } else i
    }

  /** DuckDB type names inside CAST/TRY_CAST that Spark spells
    * differently: bare VARCHAR/TEXT (Spark's VARCHAR needs a length),
    * BLOB/BYTEA, unsigned ints (widened to the next signed type that
    * holds the range; HUGEINT → DECIMAL(38,0)). Applied ONLY to the
    * trailing type of a cast body — never to identifiers, so a column
    * named `text` is untouched. Runs LAST so `x::VARCHAR` (already
    * rewritten to CAST form) is covered too.
    */
  private val castTypeMap = Map(
    "VARCHAR" -> "STRING", "TEXT" -> "STRING",
    "BYTEA" -> "BINARY", "BLOB" -> "BINARY",
    "HUGEINT" -> "DECIMAL(38,0)", "UHUGEINT" -> "DECIMAL(38,0)",
    "UBIGINT" -> "DECIMAL(20,0)", "UINTEGER" -> "BIGINT",
    "USMALLINT" -> "INT", "UTINYINT" -> "SMALLINT",
    "LOGICAL" -> "BOOLEAN")
  private val castBodyTypeRe = """(?is)^(.*\bAS\s+)(\w+)\s*$""".r

  /** The CAST body with string literals, quoted identifiers, and SQL
    * comments blanked to spaces — LENGTH-PRESERVING, so a regex match
    * on the mask yields positions valid in the original text. The
    * cast-body regexes run on this mask, never the raw body: a body
    * ending in a line comment (`CAST(x AS INT -- AS JSON`) would
    * otherwise match `AS\s+JSON\s*$` inside the comment and rewrite
    * valid SQL into a parse error.
    */
  private def maskOpaque(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val o = consumeOpaque(s, i, null)
      if (o > i) { var j = i; while (j < o) { sb.append(' '); j += 1 }; i = o }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def rewriteCastTypes(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else if (sql.startsWith("::", i)) {
        // `x::type` is native Spark syntax — only the TYPE NAME after
        // `::` needs mapping (always a type position, never a column)
        var k = i + 2
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        var j = k
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_')) j += 1
        val word = sql.substring(k, j).toUpperCase
        castTypeMap.get(word) match {
          case Some(t) if j >= sql.length || sql.charAt(j) != '(' =>
            return rewriteCastTypes(
              sql.substring(0, k) + t + sql.substring(j))
          case _ => i = j.max(i + 2)
        }
      } else if ((up.startsWith("TRY_CAST", i) || up.startsWith("CAST", i)) &&
          wordStart(sql, i)) {
        val nameLen = if (up.startsWith("TRY_CAST", i)) 8 else 4
        var k = i + nameLen
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '(') {
          splitCallArgs(sql, k) match {
            case Some((_, end)) =>
              val body = sql.substring(k + 1, end - 1)
              // match on the opaque-blanked mask (same length), rebuild
              // from the ORIGINAL body by position — the regex must
              // never see comment/literal text
              castBodyTypeRe.findFirstMatchIn(maskOpaque(body)).flatMap(m =>
                castTypeMap.get(m.group(2).toUpperCase)
                  .map(t => body.substring(0, m.end(1)) + t)) match {
                case Some(nb) =>
                  return rewriteCastTypes(
                    sql.substring(0, k + 1) + nb + sql.substring(end - 1))
                case None => i = k + 1 // scan inside for nested casts
              }
            case None => i += nameLen
          }
        } else i += nameLen
      } else i += 1
    }
    sql
  }

  /** DuckDB JSON type casts: `x::JSON` and `[TRY_]CAST(x AS JSON)` →
    * `graft_json_cast(x)` — a VARCHAR validates (malformed input errors
    * like DuckDB's cast) and keeps its ORIGINAL text (`::JSON` does NOT
    * canonicalize — pinned: `' {"b" : 2} '::JSON` keeps its spacing,
    * unlike `json()`); non-string types serialize through the `json()`
    * builder. TRY_CAST wraps in `try()` for its NULL-on-malformed
    * contract. The `::`-form LHS backtrack covers identifier chains,
    * string literals, and balanced `()`/`[]` groups (with any call-name
    * prefix) — a group containing a quote bails to the loud native
    * unsupported-type error rather than risk mis-scanning a literal.
    */
  private val castBodyJsonRe = """(?is)^(.*)\bAS\s+JSON\s*$""".r
  private def rewriteJsonCastType(sql: String): String = {
    val up = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else if ((up.startsWith("TRY_CAST", i) || up.startsWith("CAST", i)) &&
          wordStart(sql, i)) {
        val isTry = up.startsWith("TRY_CAST", i)
        val nameLen = if (isTry) 8 else 4
        var k = i + nameLen
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '(') {
          splitCallArgs(sql, k) match {
            case Some((_, end)) =>
              val body = sql.substring(k + 1, end - 1)
              // mask-matched for the same reason as castBodyTypeRe: an
              // `AS JSON` inside a trailing line comment must not
              // trigger the rewrite (ADVICE r12)
              castBodyJsonRe.findFirstMatchIn(maskOpaque(body)) match {
                case Some(m) =>
                  val inner = body.substring(0, m.end(1))
                  val repl =
                    if (isTry) s"try(graft_json_cast($inner))"
                    else s"graft_json_cast($inner)"
                  return rewriteJsonCastType(
                    sql.substring(0, i) + repl + sql.substring(end))
                case None => i = k + 1 // scan inside for nested casts
              }
            case None => i += nameLen
          }
        } else i += nameLen
      } else if (sql.startsWith("::", i)) {
        var k = i + 2
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        var j = k
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          sql.charAt(j) == '_')) j += 1
        val isJson = sql.substring(k, j).equalsIgnoreCase("JSON") &&
          (j >= sql.length || (sql.charAt(j) != '(' && sql.charAt(j) != '['))
        val lhsStart = if (isJson) jsonCastLhsStart(sql, i) else -1
        if (lhsStart >= 0) {
          return rewriteJsonCastType(
            sql.substring(0, lhsStart) + "graft_json_cast(" +
              sql.substring(lhsStart, i) + ")" + sql.substring(j))
        } else i = j.max(i + 2)
      } else i += 1
    }
    sql
  }

  /** Start index of the primary expression ending just before `end`
    * (the `::` position), or -1 when unrecognized: trailing balanced
    * `()`/`[]` groups (matched by a FORWARD scan from 0 with
    * consumeOpaque, so literals/comments inside a group never
    * mis-balance), then an identifier/dotted chain or a string literal.
    */
  private def jsonCastLhsStart(sql: String, end: Int): Int = {
    var k = end
    while (k > 0 && sql.charAt(k - 1).isWhitespace) k -= 1
    // balanced trailing groups: f(x)::, (a + 'b')::, arr[i]::
    var sawGroup = false
    while (k > 0 && (sql.charAt(k - 1) == ')' || sql.charAt(k - 1) == ']')) {
      val start = groupOpenPos(sql, k - 1)
      if (start < 0) return -1
      k = start
      sawGroup = true
    }
    if (k > 0 && sql.charAt(k - 1) == '\'' && !sawGroup) {
      // string literal LHS (only when not preceded by a group)
      var q = k - 2
      while (q >= 0) {
        if (sql.charAt(q) == '\'') {
          if (q > 0 && sql.charAt(q - 1) == '\'') q -= 2 // '' escape
          else return q
        } else q -= 1
      }
      -1
    } else {
      var q = k
      while (q > 0 && (Character.isLetterOrDigit(sql.charAt(q - 1)) ||
        sql.charAt(q - 1) == '_' || sql.charAt(q - 1) == '.')) q -= 1
      // an expression-TERMINATING keyword is not a primary: `CASE …
      // END::JSON` must not wrap only `END` (parenthesize instead)
      if (q < k && sql.substring(q, k).equalsIgnoreCase("END")) -1
      else if (q < k) q
      else if (sawGroup) k // bare (expr) group with no name prefix
      else -1
    }
  }

  /** Open position of the `()`/`[]` group whose CLOSER sits at
    * `closeIdx`, found by a forward scan (consumeOpaque skips
    * literals/comments, so brackets inside them never count); -1 when
    * `closeIdx` is not a tracked closer (e.g. inside an unterminated
    * construct).
    */
  private def groupOpenPos(sql: String, closeIdx: Int): Int = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i <= closeIdx) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') stack += i
        else if (c == ')' || c == ']') {
          if (stack.isEmpty) return -1
          val open = stack.remove(stack.length - 1)
          val matches = (c == ')' && sql.charAt(open) == '(') ||
            (c == ']' && sql.charAt(open) == '[')
          if (!matches) return -1
          if (i == closeIdx) return open
        }
        i += 1
      }
    }
    -1
  }

  /** `TIMESTAMPTZ` type name → Spark's `TIMESTAMP_LTZ` (literals and
    * `::` casts both).
    */
  private def rewriteTimestampTz(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i) &&
          sql.regionMatches(true, i, "TIMESTAMPTZ", 0, 11) &&
          (i + 11 >= sql.length ||
            !(sql.charAt(i + 11).isLetterOrDigit || sql.charAt(i + 11) == '_'))) {
        sb.append("TIMESTAMP_LTZ")
        i + 11
      } else i
    }

  /** `expr AT TIME ZONE 'z'` → `to_utc_timestamp(expr, 'z')`: interpret
    * the naive timestamp in zone z (an instant from then on) — DuckDB's
    * TIMESTAMP→TIMESTAMPTZ direction, the common client shape. The
    * TIMESTAMPTZ→naive direction (from_utc_timestamp) is not separable
    * textually; documented divergence. A typed-literal keyword before
    * the primary (TIMESTAMP '…') is included in the wrapped operand.
    */
  private val atTzRe = """(?is)^AT\s+TIME\s+ZONE\s+('(?:[^']|'')*')""".r
  private def rewriteAtTimeZone(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!wordStart(sql, i)) i
      else atTzRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          backtrackPrimary(sb) match {
            case Some(s0) =>
              var start = s0
              var k = start
              while (k > 0 && sb.charAt(k - 1).isWhitespace) k -= 1
              var w = k
              while (w > 0 && (sb.charAt(w - 1).isLetterOrDigit ||
                sb.charAt(w - 1) == '_')) w -= 1
              if (Seq("TIMESTAMP_LTZ", "TIMESTAMP_NTZ", "TIMESTAMP", "DATE")
                  .contains(sb.substring(w, k).toUpperCase)) start = w
              val prim = sb.substring(start)
              sb.setLength(start)
              sb.append(s"to_utc_timestamp($prim, ${m.group(1)})")
              i + m.end
            case None => i
          }
        case None => i
      }
    }

  /** DuckDB allows `agg(...) FILTER (cond)` — the WHERE keyword is
    * optional; Spark's parser requires it. Fires only when the
    * preceding non-space char is `)` (an aggregate call), so the
    * `filter(arr, x -> …)` higher-order function is never touched.
    */
  private def rewriteBareFilter(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i) && sql.regionMatches(true, i, "FILTER", 0, 6) &&
          (i + 6 >= sql.length || !sql.charAt(i + 6).isLetterOrDigit &&
            sql.charAt(i + 6) != '_')) {
        var p = i - 1
        while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
        var k = i + 6
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (p >= 0 && sql.charAt(p) == ')' &&
            k < sql.length && sql.charAt(k) == '(') {
          var m = k + 1
          while (m < sql.length && sql.charAt(m).isWhitespace) m += 1
          val hasWhere = sql.regionMatches(true, m, "WHERE", 0, 5) &&
            (m + 5 >= sql.length || !sql.charAt(m + 5).isLetterOrDigit)
          if (!hasWhere) {
            sb.append(sql.substring(i, k + 1)).append("WHERE ")
            k + 1
          } else i
        } else i
      } else i
    }

  private def rewriteAggOrderBy(sql: String): String = {
    val up = sql.toUpperCase
    val names =
      Seq("ARRAY_AGG", "STRING_AGG", "LIST_AGG", "LISTAGG", "GROUP_CONCAT",
        // order-INSENSITIVE aggregates: DuckDB tolerates (and ignores)
        // an ORDER BY clause on these — the clause is dropped
        "COUNT", "SUM", "AVG", "MIN", "MAX", "BOOL_AND", "BOOL_OR",
        "BIT_AND", "BIT_OR", "BIT_XOR",
        "FIRST", "LAST",
        // DuckDB any_value(x ORDER BY y) = first in that order
        "ANY_VALUE",
        // DuckDB list(x ORDER BY y) — the paren check keeps LIST from
        // capturing LIST_AGG(, and plain list(x) stays on the
        // list→collect_list shim
        "LIST")
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val hit = names.find(n => up.startsWith(n, i) && wordStart(sql, i) &&
          i + n.length < sql.length && {
            var k = i + n.length
            while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
            k < sql.length && sql.charAt(k) == '('
          })
        hit match {
          case Some(n) =>
            splitCallArgs(sql, i + n.length) match {
              // a multi-key ORDER BY splits across the comma-separated
              // args (fuzz-found: string_agg(v, sep ORDER BY k1, k2)
              // arrived as args [v, "sep ORDER BY k1", "k2"]) — locate
              // the FIRST arg carrying the clause; everything after it
              // belongs to the key list
              case Some((args, end)) if args.exists(a =>
                  indexOfTopLevel(a, " ORDER BY ") >= 0) =>
                val obIdx = args.indexWhere(a =>
                  indexOfTopLevel(a, " ORDER BY ") >= 0)
                val obArg = args(obIdx)
                val ob = indexOfTopLevel(obArg, " ORDER BY ")
                val valueHead = obArg.substring(0, ob).trim
                val key = (obArg.substring(ob + " ORDER BY ".length)
                  +: args.drop(obIdx + 1)).mkString(",").trim
                val isString =
                  Set("STRING_AGG", "LIST_AGG", "LISTAGG", "GROUP_CONCAT")(n)
                val isFirstLast =
                  n == "FIRST" || n == "LAST" || n == "ANY_VALUE"
                val value = if (obIdx > 0) args.head.trim else valueHead
                val sep =
                  if (isString && obIdx > 0) valueHead
                  else "','" // DuckDB string_agg default separator
                // each key carries its own ASC/DESC
                val keyParts = splitTopLevel(key, ',').map(_.trim)
                val parsed = keyParts.map { k =>
                  val up = k.toUpperCase
                  if (up.endsWith(" DESC")) (k.dropRight(5).trim, true)
                  else if (up.endsWith(" ASC")) (k.dropRight(4).trim, false)
                  else (k, false)
                }
                val hasNulls = key.toUpperCase.endsWith(" FIRST") ||
                  key.toUpperCase.endsWith(" LAST")
                val orderInsensitive = Set("COUNT", "SUM", "AVG", "MIN",
                  "MAX", "BOOL_AND", "BOOL_OR", "BIT_AND", "BIT_OR",
                  "BIT_XOR")(n)
                if (orderInsensitive) {
                  // drop the clause (and any trailing key args): the
                  // result is order-independent, DuckDB just accepts it
                  val keptArgs = (args.take(obIdx) :+ valueHead)
                    .mkString(", ")
                  return rewriteAggOrderBy(
                    sql.substring(0, i) + s"$n($keptArgs)" +
                      sql.substring(end))
                } else if (hasNulls || parsed.isEmpty) {
                  i += n.length // NULLS spec: leave for the native parser
                } else if (isFirstLast) {
                  // first(x ORDER BY keys) = value at the min composite
                  // key (struct natural ordering is lexicographic);
                  // last / DESC flips — mixed directions have no
                  // min_by/max_by form, leave those
                  if (parsed.map(_._2).distinct.sizeIs > 1) i += n.length
                  else {
                    val allDesc = parsed.head._2
                    val fn = if ((n == "LAST") != allDesc) "max_by" else "min_by"
                    val k0 =
                      if (parsed.sizeIs == 1) parsed.head._1
                      else parsed.map(_._1).mkString("struct(", ", ", ")")
                    // DuckDB any_value(x ORDER BY y) SKIPS NULL x (first
                    // non-NULL in order), unlike first/last which keep
                    // the value at the extreme key even when NULL —
                    // null out the KEY for NULL values so min_by/max_by
                    // (which ignore NULL keys) skip those rows
                    val k =
                      if (n == "ANY_VALUE")
                        s"(CASE WHEN ($value) IS NULL THEN NULL ELSE $k0 END)"
                      else k0
                    return rewriteAggOrderBy(
                      sql.substring(0, i) + s"$fn($value, $k)" +
                        sql.substring(end))
                  }
                } else {
                  val allAsc = parsed.forall(!_._2)
                  val singleDesc = parsed.sizeIs == 1 && parsed.head._2
                  val sorted =
                    if (parsed.sizeIs == 1 && parsed.head._1 == value) {
                      val rev = if (singleDesc) ", false" else ""
                      s"sort_array(collect_list($value)$rev)"
                    } else {
                      val fields = parsed.zipWithIndex
                        .map { case ((k, _), j) => s"$k AS k$j" }
                        .mkString(", ")
                      val cmp =
                        if (allAsc) "" // struct natural order = lexicographic
                        else {
                          // comparator chain: per-key direction (DESC
                          // returns 1 on l<r so smaller sorts later)
                          val arms = parsed.zipWithIndex.flatMap {
                            case ((_, d), j) =>
                              val (lt, gt) = if (d) (1, -1) else (-1, 1)
                              Seq(s"WHEN l.k$j < r.k$j THEN $lt",
                                s"WHEN l.k$j > r.k$j THEN $gt")
                          }.mkString(" ")
                          s", (l, r) -> CASE $arms ELSE 0 END"
                        }
                      s"transform(array_sort(collect_list(struct($fields, $value AS v))$cmp), s -> s.v)"
                    }
                  val call =
                    if (isString) s"array_join($sorted, $sep)" else sorted
                  return rewriteAggOrderBy(
                    sql.substring(0, i) + call + sql.substring(end))
                }
              case _ => i += n.length
            }
          case None => i += 1
        }
      }
    }
    sql
  }

  /** `expr FOR var IN list [IF cond]` (already bracket-rewritten) →
    * the transform/filter HOF composition, or None when the content is
    * a plain list literal. DuckDB-verified: `[x+1 FOR x IN [1,2,3] IF
    * x>1]` = [3,4].
    */
  private def comprehension(content: String): Option[String] = {
    val forAt = indexOfTopLevel(content, " FOR ")
    if (forAt < 0) return None
    val head = content.substring(0, forAt).trim
    val rest = content.substring(forAt + 5)
    val inAt = indexOfTopLevel(rest, " IN ")
    if (inAt < 0) return None
    val v = rest.substring(0, inAt).trim
    if (!v.matches("\\w+")) return None
    val tail = rest.substring(inAt + 4)
    val ifAt = indexOfTopLevel(tail, " IF ")
    val (listPart, cond) =
      if (ifAt < 0) (tail.trim, None)
      else (tail.substring(0, ifAt).trim, Some(tail.substring(ifAt + 4).trim))
    val src = cond match {
      case Some(c) => s"filter($listPart, $v -> $c)"
      case None => listPart
    }
    Some(s"transform($src, $v -> $head)")
  }

  /** Keywords a `[` can directly follow in literal (not subscript)
    * position. An identifier/')'/']' before `[` means subscript
    * (`arr[1]` — valid Spark, untouched); these words, operators,
    * commas, and open-parens mean a DuckDB list literal `[1,2]`, which
    * Spark's parser lacks → rewritten to `array(1,2)`.
    */
  private val bracketLiteralKeywords = Set(
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "WHEN", "THEN",
    "ELSE", "CASE", "END", "AS", "BY", "HAVING", "RETURN", "VALUES",
    "SET", "IS", "BETWEEN", "LIKE", "ILIKE", "UNION", "ALL", "DISTINCT",
    "LIMIT", "OFFSET", "FROM")

  /** DuckDB bracket syntax → Spark:
    *  - list literals `[1,2]` → `array(1,2)`
    *  - subscripts `arr[i]` → `element_at(arr, i)` (DuckDB is 1-BASED,
    *    Spark's native `arr[i]` is 0-based — silently off-by-one for a
    *    DuckDB client if passed through)
    *  - slices `arr[a:b]` (1-based, stop-inclusive) → `slice(...)`;
    *    open bounds default to 1 / size(arr)
    * Known divergence: DuckDB map subscript returns a single-element
    * LIST; element_at returns the value directly.
    */
  private def rewriteBrackets(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, out)
      if (opaque > i) i = opaque
      else {
        val c = sql.charAt(i)
        if (c == '[') {
          // find the matching ']' (quote/nesting aware)
          var depth = 0
          var j = i
          var end = -1
          while (end < 0 && j < sql.length) {
            val op2 = consumeOpaque(sql, j, null)
            if (op2 > j) j = op2
            else {
              sql.charAt(j) match {
                case '[' => depth += 1
                case ']' => depth -= 1; if (depth == 0) end = j
                case _ =>
              }
              j += 1
            }
          }
          if (end < 0) { out.append(c); i += 1 } // unbalanced: pass through
          else {
            val content = rewriteBrackets(sql.substring(i + 1, end))
            if (bracketIsLiteral(out)) {
              // DuckDB list comprehension `[expr FOR v IN list [IF cond]]`
              // → transform(filter(list, v -> cond), v -> expr)
              comprehension(content) match {
                case Some(c) => out.append(c)
                case None => out.append("array(").append(content).append(')')
              }
            } else {
              backtrackPrimary(out) match {
                case Some(st) =>
                  val lhs = out.substring(st)
                  out.setLength(st)
                  val colonAt = topLevelColon(content)
                  if (colonAt < 0) {
                    // graft_subscript: polymorphic over string/list/map
                    // (expressions/SubscriptAny — element_at semantics
                    // for collections, 1-based char pick for strings)
                    out.append(s"graft_subscript($lhs, ${content.trim})")
                  } else {
                    val a0 = content.substring(0, colonAt).trim
                    val rest = content.substring(colonAt + 1)
                    val colon2 = topLevelColon(rest)
                    val a = if (a0.isEmpty) "1" else a0
                    if (colon2 >= 0) {
                      // stepped slice `l[a:b:s]` (negative steps walk
                      // backward) → the 4-arg list_slice shim
                      val b0 = rest.substring(0, colon2).trim
                      val s0 = rest.substring(colon2 + 1).trim
                      val b = if (b0.isEmpty) s"len($lhs)" else b0
                      out.append(s"list_slice($lhs, $a, $b, $s0)")
                    } else {
                      val b0 = rest.trim
                      // graft_slice: 1-based stop-inclusive, polymorphic
                      // over string/list (expressions/SliceAny)
                      if (b0.isEmpty)
                        out.append(s"graft_slice($lhs, $a, len($lhs))")
                      else out.append(s"graft_slice($lhs, $a, $b0)")
                    }
                  }
                case None => // unrecognized primary: pass through
                  out.append('[').append(content).append(']')
              }
            }
            i = end + 1
          }
        } else {
          out.append(c)
          i += 1
        }
      }
    }
    out.toString
  }

  /** Index of the first top-level ':' in a subscript body; -1 if none. */
  private def topLevelColon(s: String): Int = {
    var depth = 0
    var i = 0
    while (i < s.length) {
      val opaque = consumeOpaque(s, i, null)
      if (opaque > i) i = opaque
      else {
        s.charAt(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case ':' if depth == 0 => return i
          case _ =>
        }
        i += 1
      }
    }
    -1
  }

  /** In already-emitted (well-formed) text, find the start of the
    * trailing primary expression a subscript binds to: an identifier
    * chain, a string literal, or a ')'-terminated call/paren group
    * (with its function name). None when the tail isn't recognizable.
    */
  private def backtrackPrimary(out: StringBuilder): Option[Int] = {
    var k = out.length
    while (k > 0 && out.charAt(k - 1).isWhitespace) k -= 1
    if (k == 0) return None
    def quoteOpener(close: Int): Int = {
      var q = close - 1
      while (q >= 0) {
        if (out.charAt(q) == '\'') {
          if (q > 0 && out.charAt(q - 1) == '\'') q -= 2 else return q
        } else q -= 1
      }
      -1
    }
    out.charAt(k - 1) match {
      case '\'' =>
        val open = quoteOpener(k - 1)
        if (open >= 0) Some(open) else None
      case ')' =>
        var depth = 0
        var p = k - 1
        var start = -1
        while (start < 0 && p >= 0) {
          out.charAt(p) match {
            case '\'' => p = quoteOpener(p) // jump over the literal
            case '/' if p > 0 && out.charAt(p - 1) == '*' =>
              // block comment end: jump to its opener (comment content
              // is opaque — brackets inside must not count)
              p = blockCommentOpener(out.toString, p)
              if (p < 0) return None
            case ')' => depth += 1
            case '(' => depth -= 1; if (depth == 0) start = p
            case _ =>
          }
          p -= 1
        }
        if (start < 0) None
        else {
          // include the call's function name / qualifier chain
          var q = start
          while (q > 0 && (Character.isLetterOrDigit(out.charAt(q - 1)) ||
            out.charAt(q - 1) == '_' || out.charAt(q - 1) == '.')) q -= 1
          Some(q)
        }
      case c if Character.isLetterOrDigit(c) || c == '_' =>
        var q = k
        while (q > 0 && (Character.isLetterOrDigit(out.charAt(q - 1)) ||
          out.charAt(q - 1) == '_' || out.charAt(q - 1) == '.')) q -= 1
        Some(q)
      case _ => None
    }
  }

  /** Literal-vs-subscript judgment from the text already emitted: look
    * back over the previous token.
    */
  private def bracketIsLiteral(out: StringBuilder): Boolean = {
    var k = out.length - 1
    while (k >= 0 && out.charAt(k).isWhitespace) k -= 1
    if (k < 0) return true // statement start
    val c = out.charAt(k)
    if (c == ')' || c == ']' || c == '\'' || c == '"') return false // subscript/slice
    if (!Character.isLetterOrDigit(c) && c != '_') return true // operator/comma/paren
    // identifier or keyword: read the word back
    val wEnd = k
    while (k >= 0 && (Character.isLetterOrDigit(out.charAt(k)) || out.charAt(k) == '_'))
      k -= 1
    // a qualified name (x.y[) is always a subscript
    if (k >= 0 && out.charAt(k) == '.') return false
    val word = out.substring(k + 1, wEnd + 1).toUpperCase
    bracketLiteralKeywords.contains(word)
  }

  /** DuckDB `ASOF [LEFT] JOIN rel alias ON cond` (reached by the
    * reference at /root/reference/main.go:229) → a correlated lateral
    * join Spark's parser accepts:
    *
    *   [LEFT] JOIN LATERAL (SELECT alias.* FROM rel alias
    *                        WHERE cond ORDER BY <right-ts> DESC|ASC
    *                        LIMIT 1) alias ON true
    *
    * The ts inequality conjunct decides the direction: the right-side
    * operand on the SMALLER side of the comparison means
    * nearest-predecessor (ORDER BY … DESC), on the larger side
    * nearest-follower (ASC). Catalyst decorrelates the LIMIT-1 ordered
    * subquery into a window over an equi-join — the same shape as
    * engine.AsOfJoin's rewrite; the custom one-shuffle-per-side
    * streaming-merge plan (plans.AsOfJoinPlan) remains the scale path
    * for the DataFrame API. Statements that don't match the shape
    * (missing alias, no ON) are left unchanged for the native parser's
    * real error message.
    */
  private def rewriteAsOf(sql: String): String = {
    val up = sql.toUpperCase
    // locate the keyword outside literals/comments, word-bounded
    var at = -1
    var scan = 0
    while (at < 0 && scan < sql.length) {
      val opaque = consumeOpaque(sql, scan, null)
      if (opaque > scan) scan = opaque
      else {
        if (up.startsWith("ASOF", scan) && wordStart(sql, scan) &&
            (scan + 4 >= sql.length || { val c = sql.charAt(scan + 4)
              !Character.isLetterOrDigit(c) && c != '_' }))
          at = scan
        scan += 1
      }
    }
    if (at < 0) return sql
    var i = at + 4
    def skipWs(): Unit = { while (i < sql.length && sql.charAt(i).isWhitespace) i += 1 }
    def word(w: String): Boolean =
      up.startsWith(w, i) && (i + w.length >= sql.length || {
        val c = sql.charAt(i + w.length)
        !Character.isLetterOrDigit(c) && c != '_'
      })
    skipWs()
    val isLeft = word("LEFT")
    if (isLeft) { i += 4; skipWs() }
    if (!word("JOIN")) return sql
    i += 4; skipWs()
    // right relation: balanced paren block or dotted identifier
    val relStart = i
    if (i < sql.length && sql.charAt(i) == '(') {
      var depth = 0
      var done = false
      while (!done && i < sql.length) {
        val opaque = consumeOpaque(sql, i, null)
        if (opaque > i) i = opaque
        else {
          sql.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) done = true
            case _ =>
          }
          i += 1
        }
      }
    } else {
      while (i < sql.length && (sql.charAt(i).isLetterOrDigit ||
        sql.charAt(i) == '_' || sql.charAt(i) == '.')) i += 1
    }
    val rel = sql.substring(relStart, i).trim
    if (rel.isEmpty) return sql
    skipWs()
    if (word("AS")) { i += 2; skipWs() }
    val aliasStart = i
    while (i < sql.length && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
    val alias = sql.substring(aliasStart, i)
    if (alias.isEmpty || alias.equalsIgnoreCase("ON")) return sql
    skipWs()
    if (!word("ON")) return sql
    i += 2
    // condition runs to the next top-level clause keyword / ')' / ';'
    val condStart = i
    val stops = Seq("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW",
      "UNION", "INTERSECT", "EXCEPT", "QUALIFY", "JOIN", "LEFT", "RIGHT",
      "FULL", "INNER", "CROSS", "NATURAL", "ASOF", "SEMI", "ANTI", "OFFSET")
    var depth = 0
    var condEnd = -1
    while (condEnd < 0 && i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val c = sql.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') {
          if (depth == 0) condEnd = i else { depth -= 1; i += 1 }
        } else if (c == ';' && depth == 0) condEnd = i
        else if (depth == 0 && wordStart(sql, i) && stops.exists { w =>
          word(w) && {
            // `left(x, 1)` the function and `right.col` the qualifier
            // are NOT clause boundaries — require the keyword to stand
            // alone (next non-space char is not '(' or '.')
            var k = i + w.length
            while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
            k >= sql.length || (sql.charAt(k) != '(' && sql.charAt(k) != '.')
          }
        }) condEnd = i
        else i += 1
      }
    }
    if (condEnd < 0) condEnd = sql.length
    val cond = sql.substring(condStart, condEnd).trim
    if (cond.isEmpty) return sql
    // the ts inequality conjunct → ORDER BY expr + direction
    val ord = asofOrder(cond, alias).getOrElse(return sql)
    val joinKw = if (isLeft) "LEFT JOIN" else "JOIN"
    val lateral = s"$joinKw LATERAL (SELECT $alias.* FROM $rel $alias " +
      s"WHERE $cond ORDER BY $ord LIMIT 1) $alias ON true "
    // recurse for further ASOF joins in the remainder
    rewriteAsOf(sql.substring(0, at) + lateral + sql.substring(condEnd))
  }

  /** Find the inequality conjunct of an ASOF condition and derive
    * `<expr> DESC|ASC` for the lateral's ORDER BY. None when no
    * top-level inequality references the right alias.
    */
  private def asofOrder(cond: String, alias: String): Option[String] = {
    // split top-level AND conjuncts, outside literals
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val up = cond.toUpperCase
    var depth = 0
    var i = 0
    var last = 0
    while (i < cond.length) {
      val opaque = consumeOpaque(cond, i, null)
      if (opaque > i) i = opaque
      else {
        val c = cond.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') { depth -= 1; i += 1 }
        else if (depth == 0 && up.startsWith("AND", i) && wordStart(cond, i) &&
          (i + 3 >= cond.length || { val c = cond.charAt(i + 3)
            !Character.isLetterOrDigit(c) && c != '_' })) {
          parts += cond.substring(last, i)
          i += 3
          last = i
        } else i += 1
      }
    }
    parts += cond.substring(last)
    val refRe = ("""(?i)(?<![\w"])""" + java.util.regex.Pattern.quote(alias) + """\.""").r
    parts.iterator.map(_.trim).flatMap { p =>
      // first top-level comparison operator that is not (in)equality
      var depth = 0
      var j = 0
      var found: Option[(String, Int)] = None
      while (found.isEmpty && j < p.length) {
        val opaque = consumeOpaque(p, j, null)
        if (opaque > j) j = opaque
        else {
          val c = p.charAt(j)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (depth == 0 && (c == '<' || c == '>')) {
            val two = p.substring(j, math.min(j + 2, p.length))
            if (two != "<>") found = Some(
              (if (two == ">=" || two == "<=") two else c.toString, j))
          }
          j += 1
        }
      }
      found.flatMap { case (op, pos) =>
        val lhs = p.substring(0, pos).trim
        val rhs = p.substring(pos + op.length).trim
        val rightIsSmaller = op.startsWith(">") // A > B: B is smaller
        val (smaller, larger) = if (rightIsSmaller) (rhs, lhs) else (lhs, rhs)
        if (refRe.findFirstIn(smaller).isDefined) Some(s"$smaller DESC")
        else if (refRe.findFirstIn(larger).isDefined) Some(s"$larger ASC")
        else None
      }
    }.nextOption()
  }

  /** DuckDB `date_diff('part', a, b)` counts part-BOUNDARY CROSSINGS.
    * Spark intercepts `date_diff`/`datediff` in the PARSER (timestampdiff
    * alias, unquoted unit, elapsed-unit semantics), so no registry shim
    * can apply — the call must be rewritten textually to
    * `timestampdiff(PART, date_trunc('part', a), date_trunc('part', b))`.
    */
  private def rewriteDateDiff(sql: String): String = {
    val out = scanOutsideLiterals(sql) { (i, sb) =>
      val isDD = sql.regionMatches(true, i, "date_diff", 0, 9)
      val isD2 = sql.regionMatches(true, i, "datediff", 0, 8)
      val nameLen = if (isDD) 9 else if (isD2) 8 else 0
      if (nameLen > 0 && wordStart(sql, i)) {
        splitCallArgs(sql, i + nameLen) match {
          case Some((args, end)) if args.length == 3 &&
            args.head.trim.matches("(?i)'\\w+'") =>
            val part = args.head.trim
            val unit = part.substring(1, part.length - 1).toUpperCase
            sb.append(
              s"timestampdiff($unit, date_trunc($part, ${args(1).trim}), " +
                s"date_trunc($part, ${args(2).trim}))")
            end
          case _ => i
        }
      } else i
    }
    // nested date_diff calls in the rewritten args: fixpoint (bounded)
    if (out != sql) rewriteDateDiff(out) else out
  }

  /** If position `open` points at the whitespace/`(` of a call, return
    * (top-level comma-split args, index just past the closing paren).
    * Literal- and paren-aware.
    */
  /** Engine-internal access for Gateway's macro expansion. */
  private[engine] def splitCallArgsPublic(
      sql: String, open: Int): Option[(Seq[String], Int)] =
    splitCallArgs(sql, open)

  /** Engine-internal access for Gateway's COLUMNS() expansion. */
  private[engine] def splitTopLevelPublic(s: String, sep: Char): Seq[String] =
    splitTopLevel(s, sep)

  private def splitCallArgs(sql: String, open: Int): Option[(Seq[String], Int)] = {
    var i = open
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    if (i >= sql.length || sql.charAt(i) != '(') return None
    i += 1
    val args = scala.collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, cur)
      if (opaque > i) i = opaque
      else {
        sql.charAt(i) match {
          case '(' => depth += 1; cur.append('(')
          case ')' =>
            if (depth == 0) { args += cur.toString; return Some((args.toSeq, i + 1)) }
            depth -= 1; cur.append(')')
          case ',' if depth == 0 => args += cur.toString; cur.clear()
          case c => cur.append(c)
        }
        i += 1
      }
    }
    None
  }

  private val catalogFnRe =
    ("""(?i)^(duckdb_(?:extensions|tables|functions|views|settings|columns""" +
      """|keywords|types|schemas|databases|constraints|indexes|sequences""" +
      """|dependencies|temporary_files|memory|optimizers|secrets)""" +
      """|pg_timezone_names|icu_calendar_names|checkpoint|force_checkpoint""" +
      """|pragma_(?:platform|user_agent|collations|metadata_info))\s*\(\s*\)""").r

  /** `duckdb_tables()` → `duckdb_tables`, outside string literals only
    * (a literal '…duckdb_tables()…' must survive verbatim).
    */
  private def rewriteCatalogFns(sql: String): String = {
    val noFns = scanOutsideLiterals(sql) { (i, sb) =>
      val head = Seq("duckdb_", "pg_timezone_names", "icu_calendar_names",
        "checkpoint", "force_checkpoint", "pragma_")
        .exists(p => sql.regionMatches(true, i, p, 0, p.length))
      if (head && wordStart(sql, i)) {
        catalogFnRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append(m.group(1).toLowerCase); i + m.end
          case None => i
        }
      } else i
    }
    // ANSI information_schema.{tables,columns,schemata} → the live
    // graft_is_* views (Spark temp views cannot be schema-qualified)
    scanOutsideLiterals(noFns) { (i, sb) =>
      if (noFns.regionMatches(true, i, "information_schema", 0, 18) &&
          wordStart(noFns, i)) {
        infoSchemaRe.findPrefixMatchOf(noFns.substring(i)) match {
          case Some(m) =>
            val v = m.group(1).toLowerCase
            sb.append(if (v == "schemata") "graft_schemata" else s"graft_is_$v")
            i + m.end
          case None => i
        }
      } else i
    }
  }

  private val infoSchemaRe =
    """(?i)^information_schema\s*\.\s*(tables|columns|schemata)\b""".r

  /** Postgres-style `ARRAY[1, 2, 3]` constructor (DuckDB accepts it) →
    * `array(1, 2, 3)`. Must run BEFORE the bracket rewrite, which would
    * otherwise read it as a subscript of an identifier named ARRAY.
    * Nested constructors handled by recursing on the bracket body.
    */
  private def rewriteArrayCtor(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, sb)
      if (opaque > i) i = opaque
      else if (wordStart(sql, i) &&
          sql.regionMatches(true, i, "ARRAY", 0, 5) && {
            var k = i + 5
            while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
            k < sql.length && sql.charAt(k) == '['
          }) {
        var k = i + 5
        while (sql.charAt(k) != '[') k += 1
        // matching close bracket, literal- and nesting-aware
        var depth = 0
        var j = k
        var close = -1
        while (j < sql.length && close < 0) {
          val op = consumeOpaque(sql, j, null)
          if (op > j) j = op
          else {
            sql.charAt(j) match {
              case '[' | '(' => depth += 1
              case ']' | ')' =>
                depth -= 1
                if (depth == 0) close = j
              case _ =>
            }
            j += 1
          }
        }
        if (close < 0) { sb.append(sql.charAt(i)); i += 1 }
        else {
          sb.append("array(")
            .append(rewriteArrayCtor(sql.substring(k + 1, close)))
            .append(")")
          i = close + 1
        }
      } else { sb.append(sql.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Collapse whitespace runs to single spaces outside literals so the
    * keyword scanners below see a canonical form (newlines before
    * QUALIFY etc.).
    */
  private def normalizeWs(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.charAt(i).isWhitespace) {
        var j = i
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        sb.append(' '); j
      } else i
    }

  /** If an opaque region starts at `i0` — a single-quoted string or
    * double-quoted identifier (with SQL `''`/`""` escape doubling), a
    * `--` line comment (including its terminating newline, so collapsing
    * whitespace can never splice following text INTO the comment), or a
    * `/* */` block comment — copy it verbatim to `sb` (if non-null) and
    * return the index just past it; otherwise return `i0`.
    */
  private def consumeOpaque(sql: String, i0: Int, sb: StringBuilder): Int = {
    val c = sql.charAt(i0)
    val end =
      if (c == '\'' || c == '"') {
        var i = i0 + 1
        var done = false
        while (!done && i < sql.length) {
          if (sql.charAt(i) == c) {
            // doubled quote = escaped quote, literal continues ('it''s')
            if (i + 1 < sql.length && sql.charAt(i + 1) == c) i += 2
            else { i += 1; done = true }
          } else i += 1
        }
        i
      } else if (sql.startsWith("--", i0)) {
        val nl = sql.indexOf('\n', i0)
        if (nl < 0) sql.length else nl + 1
      } else if (sql.startsWith("/*", i0)) {
        val close = sql.indexOf("*/", i0 + 2)
        if (close < 0) sql.length else close + 2
      } else i0
    if (end > i0 && sb != null) sb.append(sql.substring(i0, end))
    end
  }

  /** The front end's one forward scanner: walk `sql` from `from`,
    * skipping string literals, quoted identifiers and comments
    * (consumeOpaque), and call `f(i, depth)` at every other position,
    * `depth` being the number of `(` opened since `from` and not yet
    * closed before `i`. `f` returns `i` to step one char, a larger index
    * to skip what it consumed, or a negative value to stop. Returns the
    * index `f` stopped at, or -1 at the end of the text. `$$…$$` and
    * `e'…'` strings must be folded first (foldLiterals).
    */
  private[graft] def scanCode(sql: String, from: Int = 0)(f: (Int, Int) => Int): Int = {
    var i = from
    var depth = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        val next = f(i, depth)
        if (next < 0) return i
        if (next > i) i = next
        else {
          val c = sql.charAt(i)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          i += 1
        }
      }
    }
    -1
  }

  /** scanCode's copying form: rebuild `sql`, copying literals, quoted
    * identifiers and comments verbatim. `f(i, sb)` either returns an
    * index past `i` after appending its replacement for the text it
    * consumed to `sb`, or any other value to copy the char at `i`.
    */
  private[graft] def scanOutsideLiterals(sql: String)(
      f: (Int, StringBuilder) => Int): String = {
    val sb = new StringBuilder
    var last = 0 // sql[last, i) is not yet copied
    scanCode(sql) { (i, _) =>
      sb.underlying.append(sql, last, i)
      val next = f(i, sb)
      last = if (next > i) next else i
      last
    }
    if (last < sql.length) sb.underlying.append(sql, last, sql.length)
    sb.toString
  }

  /** True when keyword `kw` (case-insensitive) stands as a whole word at
    * `i` — not part of an identifier, a qualified name or a longer word.
    */
  private[graft] def keywordAt(sql: String, i: Int, kw: String): Boolean = {
    val end = i + kw.length
    sql.regionMatches(true, i, kw, 0, kw.length) && wordStart(sql, i) &&
      (end >= sql.length ||
        !(Character.isLetterOrDigit(sql.charAt(end)) || sql.charAt(end) == '_'))
  }

  /** End of the identifier-like word (letters, digits, `_`) at `i`. */
  private[graft] def wordEnd(sql: String, i: Int): Int = {
    var j = i
    while (j < sql.length &&
      (Character.isLetterOrDigit(sql.charAt(j)) || sql.charAt(j) == '_')) j += 1
    j
  }

  /** DuckDB 1.1 `query_table('name')` → the named relation (SURVEY
    * §5.3). Literal arguments only, and only identifier-shaped names —
    * a non-literal or non-identifier argument keeps the loud native
    * error (dynamic SQL stays outside the read-only surface).
    */
  private val queryTableRe =
    """(?is)^QUERY_TABLE\s*\(\s*'([A-Za-z_][\w.]*)'\s*\)""".r
  private def rewriteQueryTable(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i) &&
          sql.regionMatches(true, i, "QUERY_TABLE", 0, 11))
        queryTableRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append(m.group(1)); i + m.end
          case None => i
        }
      else i
    }

  /** DuckDB 1.4 `FILL(x) OVER ([PARTITION BY p] ORDER BY k)` — gap
    * interpolation (SURVEY §5.3): non-NULL values pass through; a NULL
    * gets LINEAR interpolation between the nearest non-NULL neighbors
    * by the (single, numeric) order key; at the edges the nearest
    * neighbor's value carries (no extrapolation — pinned by spec, no
    * 1.4 oracle exists locally). Composed from three windows over the
    * same spec: the original plus last_value/first_value IGNORE NULLS
    * of (key, value) pairs over the preceding/following halves — the
    * formula is symmetric in the two anchor points, so ASC and DESC
    * specs both interpolate correctly. Result type is DOUBLE (the
    * interpolated branch is inherently fractional). Frames, multiple
    * order keys, and non-castable (non-numeric) keys keep the loud
    * native error.
    */
  private def rewriteFillWindow(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) && sql.regionMatches(true, i, "FILL", 0, 4))) i
      else splitCallArgs(sql, i + 4) match {
        case Some((args, end)) if args.length == 1 =>
          var m = end
          while (m < sql.length && sql.charAt(m).isWhitespace) m += 1
          if (!(sql.regionMatches(true, m, "OVER", 0, 4) &&
              (m + 4 >= sql.length ||
                !(sql.charAt(m + 4).isLetterOrDigit || sql.charAt(m + 4) == '_')))) i
          else splitCallArgs(sql, m + 4) match {
            case Some((specParts, specEnd)) =>
              val spec = specParts.mkString(",")
              val obIdx = indexOfTopLevel(spec, " ORDER BY ") match {
                case -1 =>
                  if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(spec)) 0 else -1
                case x => x
              }
              val hasFrame = Seq(" ROWS ", " RANGE ", " GROUPS ")
                .exists(f => indexOfTopLevel(spec, f) >= 0)
              if (obIdx < 0 || hasFrame) i
              else {
                val afterOb = spec.substring(obIdx)
                  .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
                if (splitTopLevel(afterOb, ',').lengthIs != 1) i
                else {
                  val k = afterOb.trim
                    .replaceAll("""(?is)\s+NULLS\s+(FIRST|LAST)\s*$""", "")
                    .replaceAll("""(?is)\s+(ASC|DESC)\s*$""", "").trim
                  val x = args.head.trim
                  val pw = s"($spec ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
                  val nw = s"($spec ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
                  val pair = s"(CASE WHEN ($x) IS NOT NULL THEN " +
                    s"struct(CAST(($k) AS DOUBLE) AS gx_k, CAST(($x) AS DOUBLE) AS gx_v) END)"
                  val p = s"(last_value($pair) IGNORE NULLS OVER $pw)"
                  val n = s"(first_value($pair) IGNORE NULLS OVER $nw)"
                  val interp = s"(CASE WHEN $p IS NULL THEN $n.gx_v " +
                    s"WHEN $n IS NULL THEN $p.gx_v " +
                    s"WHEN $n.gx_k = $p.gx_k THEN $p.gx_v " +
                    s"ELSE $p.gx_v + ($n.gx_v - $p.gx_v) * " +
                    s"(CAST(($k) AS DOUBLE) - $p.gx_k) / ($n.gx_k - $p.gx_k) END)"
                  sb.append(s"(CASE WHEN ($x) IS NOT NULL THEN " +
                    s"CAST(($x) AS DOUBLE) ELSE $interp END)")
                  specEnd
                }
              }
            case None => i
          }
        case _ => i
      }
    }

  /** The ICU extension's ~150 per-locale collation functions —
    * `icu_collate_<loc>(x)` → `icu_sort_key(x, '<loc>')` (one kernel,
    * TextKernels.icuSortKey). Sort keys are ordering-compatible with
    * DuckDB's; key BYTES are collation-library-specific (SURVEY §5.3
    * audit note). Locale tags pass through verbatim ('de', 'ar_sa').
    */
  private val icuCollateRe = """(?is)^ICU_COLLATE_([a-z_]+)\s*\(""".r
  private def rewriteIcuCollate(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) &&
          sql.regionMatches(true, i, "ICU_COLLATE_", 0, 12))) i
      else icuCollateRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          splitCallArgs(sql, i + m.end - 1) match {
            case Some((args, end)) if args.length == 1 =>
              sb.append(s"icu_sort_key(${args.head.trim}, '${m.group(1).toLowerCase}')")
              end
            case _ => i
          }
        case None => i
      }
    }

  /** `current_query()` — substituted by the GATEWAY with the statement
    * text as a literal (the registry cannot see the statement). Single
    * pass; the substituted literal is opaque to later scans. */
  private val currentQueryRe = """(?is)^CURRENT_QUERY\s*\(\s*\)""".r
  def substituteCurrentQuery(sql: String): String =
    substituteCurrentQuery(sql, sql)

  /** `original` is the statement text to REPORT — DuckDB returns the
    * text as the user typed it, so the gateway passes the pre-
    * getvariable-substitution form while scanning the expanded form. */
  def substituteCurrentQuery(sql: String, original: String): String = {
    lazy val lit = "'" + original.replace("'", "''") + "'"
    scanOutsideLiterals(sql) { (i, sb) =>
      if (!(wordStart(sql, i) &&
          sql.regionMatches(true, i, "CURRENT_QUERY", 0, 13))) i
      else currentQueryRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) => sb.append(lit); i + m.end
        case None => i
      }
    }
  }

  /** DuckDB 1.1 `getvariable('name')` — resolved by the GATEWAY (the
    * variable store is per-session state), substituting the stored SQL
    * literal text, or NULL when unset (DuckDB's behavior). Literal
    * argument only; runs before every other rewrite so the substituted
    * literal flows through raw-string doubling like user text.
    */
  private val getVarRe =
    """(?is)^GETVARIABLE\s*\(\s*'([^']*)'\s*\)""".r
  def substituteGetVariable(sql: String,
      resolve: String => Option[String]): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (wordStart(sql, i) &&
          sql.regionMatches(true, i, "GETVARIABLE", 0, 11))
        getVarRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            sb.append(resolve(m.group(1)).getOrElse("NULL")); i + m.end
          case None => i
        }
      else i
    }

  private val globRe =
    """(?i)^GLOB\s+'([^']*)'""".r

  /** All operator rewrites are applied by position-scanning OUTSIDE
    * string literals (a literal containing "GLOB '...'" or "->>" must
    * survive verbatim). The quoted operand following the operator is
    * part of the matched syntax, consumed wholesale.
    */
  private def rewriteOperators(sql: String): String = {
    // `//` → ` div ` (outside literals)
    val noIntDiv = scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.startsWith("//", i)) { sb.append(" div "); i + 2 } else i
    }
    // GLOB 'pat' → RLIKE '<regex>' (pattern is a literal, so the regex
    // can be precomputed)
    val noGlob = scanOutsideLiterals(noIntDiv) { (i, sb) =>
      if (wordStart(noIntDiv, i) &&
        noIntDiv.regionMatches(true, i, "GLOB", 0, 4)) {
        globRe.findPrefixMatchOf(noIntDiv.substring(i)) match {
          case Some(m) =>
            sb.append("RLIKE '" + globToRegex(m.group(1)).replace("'", "''") + "'")
            i + m.end
          case None => i
        }
      } else i
    }
    // postgres-style operators DuckDB ships: `~~`→LIKE, `!~~`→NOT LIKE
    // (any RHS); `~ 'p'`→RLIKE anchored (DuckDB `~` is a FULL match),
    // `!~` negated. Only infix occurrences rewrite — prefix `~` is
    // bitwise NOT in both dialects. A non-literal regex RHS is left
    // alone (would need full left-operand capture).
    val noTilde = scanOutsideLiterals(noGlob) { (i, sb) =>
      def prevIsOperand: Boolean = {
        var j = sb.length - 1
        while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
        j >= 0 && {
          val c = sb.charAt(j)
          c.isLetterOrDigit || c == '_' || c == '\'' || c == '"' ||
            c == ')' || c == ']' || c == '`'
        }
      }
      if (noGlob.startsWith("!~~*", i)) { sb.append(" NOT ILIKE "); i + 4 }
      else if (noGlob.startsWith("!~~", i)) { sb.append(" NOT LIKE "); i + 3 }
      else if (noGlob.startsWith("~~*", i)) { sb.append(" ILIKE "); i + 3 }
      else if (noGlob.startsWith("~~~", i)) {
        // `~~~` is DuckDB's GLOB operator spelling — literal RHS folds to
        // the same anchored regex as the GLOB keyword path; a non-literal
        // RHS passes through raw (same policy as keyword GLOB)
        tildeLitRe.findPrefixMatchOf(noGlob.substring(i + 3)) match {
          case Some(m) =>
            sb.append(" RLIKE '")
              .append(globToRegex(m.group(1)).replace("'", "''")).append("'")
            i + 3 + m.end
          case None => sb.append("~~~"); i + 3
        }
      }
      else if (noGlob.startsWith("~~", i)) { sb.append(" LIKE "); i + 2 }
      else if ((noGlob.startsWith("!~", i) || noGlob.charAt(i) == '~') &&
          prevIsOperand) {
        val neg = noGlob.startsWith("!~", i)
        val after = i + (if (neg) 2 else 1)
        tildeLitRe.findPrefixMatchOf(noGlob.substring(after)) match {
          case Some(m) =>
            sb.append(if (neg) " NOT RLIKE '" else " RLIKE '")
              .append("^(?:").append(m.group(1)).append(")$'")
            after + m.end
          case None => i
        }
      } else i
    }
    // `x SIMILAR TO 'p'` — anchored regex match (NOT prefix survives
    // as Spark's `NOT RLIKE`)
    val noSimilar = scanOutsideLiterals(noTilde) { (i, sb) =>
      if (wordStart(noTilde, i) &&
          noTilde.regionMatches(true, i, "SIMILAR", 0, 7)) {
        similarToRe.findPrefixMatchOf(noTilde.substring(i)) match {
          case Some(m) =>
            sb.append("RLIKE '^(?:").append(m.group(1)).append(")$'")
            i + m.end
          case None => i
        }
      } else i
    }
    // DuckDB's case-insensitive collation spelling → Spark 4's UTF8_LCASE
    // (both compare case-insensitively; accent-sensitive either way)
    val noCollate = scanOutsideLiterals(noSimilar) { (i, sb) =>
      if (wordStart(noSimilar, i) &&
          noSimilar.regionMatches(true, i, "COLLATE", 0, 7)) {
        collateNocaseRe.findPrefixMatchOf(noSimilar.substring(i)) match {
          case Some(m) => sb.append("COLLATE UTF8_LCASE"); i + m.end
          case None => i
        }
      } else i
    }
    rewriteJsonArrows(noCollate)
  }

  private val collateNocaseRe = """(?i)^COLLATE\s+NOCASE\b""".r
  private val tildeLitRe = """^\s*'((?:[^']|'')*)'""".r
  private val similarToRe = """(?i)^SIMILAR\s+TO\s*'((?:[^']|'')*)'""".r

  private val arrowStepRe = """^\s*(->>|->)\s*'((?:[^']|'')*)'""".r

  /** DuckDB JSON arrows → get_json_object chains.
    *
    * `j ->> 'k'`, `j -> 'a' ->> 'b'`, `'{"a":1}' -> 'a'` all fold
    * left-associatively into nested get_json_object calls (Spark
    * returns JSON text either way, which matches `->>` exactly and is
    * the string form of `->`'s JSON value).
    *
    * Lambda-arrow safety: `->` is ALSO the lambda arrow (x -> x + 1,
    * in both dialects), so a single `->` with an identifier LHS is only
    * rewritten when the chain terminates in `->>` — `x -> 'const'`
    * (a constant-string lambda body) stays a lambda. A string-literal
    * LHS can never be a lambda parameter, so those chains always
    * rewrite.
    */
  private def rewriteJsonArrows(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, out)
      if (opaque > i) i = opaque
      else if (sql.startsWith("->", i)) {
        // backtrack the emitted text for the LHS (identifier or the
        // string literal consumeOpaque already copied)
        var k = out.length
        while (k > 0 && out.charAt(k - 1).isWhitespace) k -= 1
        var lhsStart = -1
        if (k > 0 && out.charAt(k - 1) == '\'') {
          var q = k - 2
          var open = -1
          while (open < 0 && q >= 0) {
            if (out.charAt(q) == '\'') {
              if (q > 0 && out.charAt(q - 1) == '\'') q -= 2 // '' escape
              else open = q
            } else q -= 1
          }
          if (open >= 0) lhsStart = open
        } else {
          var q = k
          while (q > 0 && (Character.isLetterOrDigit(out.charAt(q - 1)) ||
            out.charAt(q - 1) == '_' || out.charAt(q - 1) == '.')) q -= 1
          if (q < k) lhsStart = q
        }
        // forward-parse the arrow steps
        val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var j = i
        var more = lhsStart >= 0
        while (more) {
          arrowStepRe.findPrefixMatchOf(sql.substring(j)) match {
            case Some(m) => steps += ((m.group(1), m.group(2))); j += m.end
            case None => more = false
          }
        }
        val literalLhs = lhsStart >= 0 && out.charAt(lhsStart) == '\''
        val rewritable = steps.nonEmpty && (literalLhs || steps.last._1 == "->>")
        if (rewritable) {
          var expr = out.substring(lhsStart, k)
          out.setLength(lhsStart)
          steps.foreach { case (op, seg) =>
            val path = if (seg.startsWith("$")) seg else "$." + seg
            // `->` keeps the JSON-text form (DuckDB JSON type: '"x"',
            // '[1,2]'); only `->>` unquotes to VARCHAR
            val fn = if (op == "->>") "get_json_object" else "json_extract"
            expr = s"$fn($expr, '$path')"
          }
          out.append(expr)
          i = j
        } else { out.append(sql.charAt(i)); i += 1 }
      } else {
        out.append(sql.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  /** `SELECT <list> FROM … QUALIFY pred [tail]` →
    * `SELECT * EXCEPT (__q) FROM (SELECT <list>, (pred) AS __q FROM …)
    *  WHERE __q [tail]`, applied at ANY nesting depth: each pass finds a
    * QUALIFY, rewrites its innermost enclosing parenthesized scope, and
    * repeats until none remain (subqueries, CTB bodies, etc.).
    */
  /** Conditional named-WINDOW inlining. Spark executes `WINDOW w AS
    * (spec)` natively, but the engine's STRUCTURAL window rewrites —
    * EXCLUDE frames, GROUPS frames, the window-FILTER collect fold —
    * operate on inline `OVER (spec)` text and cannot see a spec hidden
    * behind a name (the EXCLUDE pass matches `OVER (`, the GROUPS pass
    * bails on scopes with WINDOW clauses, and the collect fold must
    * rebind the window onto its inner collect_list). The r12 dedicated
    * fuzz sweep measured exactly those compositions failing to parse.
    *
    * When a scope's WINDOW clause needs one of those rewrites — a def
    * contains a top-level EXCLUDE or a GROUPS frame, or the scope has
    * an aggregate `FILTER` near an `OVER <name>` reference — every
    * `OVER <name>` in the scope is replaced with `OVER (spec)` and the
    * clause is dropped (semantically identical by SQL:2003 §7.11;
    * windows are per-SELECT). Otherwise the clause is left for Spark.
    * Nested subqueries are separate scopes and resolve their own
    * WINDOW clauses on later loop iterations; a nested scope redefining
    * an OUTER scope's window name is not special-cased (names do not
    * scope across SELECTs in either engine, so the reference would be
    * invalid anyway).
    */
  private val windowDefRe =
    """(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\((.*)\)$""".r
  private def rewriteNamedWindows(sql: String): String = {
    var cur = sql
    var guard = 0
    var searchFrom = 0
    while (guard < 512) {
      guard += 1
      val rel = indexOfAnyDepth(cur.substring(searchFrom), " WINDOW ")
      if (rel < 0) return cur
      val wi = searchFrom + rel
      val (s0, e0) = scopeBounds(cur, wi)
      val scope = cur.substring(s0, e0)
      val wiS = wi - s0
      if (indexOfTopLevel(scope, " WINDOW ") != wiS) { searchFrom = wi + 1 }
      else {
        val rest = scope.substring(wiS + " WINDOW ".length)
        val tailIdx = Seq(" ORDER BY ", " LIMIT ", " OFFSET ",
          " UNION ", " INTERSECT ", " EXCEPT ")
          .map(k => indexOfTopLevel(rest, k)).filter(_ >= 0)
          .sorted.headOption.getOrElse(rest.length)
        val defs = splitTopLevel(rest.substring(0, tailIdx), ',')
          .map(p => windowDefRe.findFirstMatchIn(p.trim)
            .map(m => (m.group(1), m.group(2).trim)))
        if (defs.isEmpty || defs.exists(_.isEmpty)) { searchFrom = wi + 1 }
        else {
          val ds = defs.flatten
          val head = scope.substring(0, wiS)
          val tail = rest.substring(tailIdx)
          def refRegex(n: String) =
            ("""(?is)\bOVER\s+""" + java.util.regex.Pattern.quote(n) +
              """\b""").r
          val needsInline =
            ds.exists { case (_, spec) =>
              indexOfTopLevel(spec, " EXCLUDE ") >= 0 ||
                """(?is).*\bGROUPS\s+(BETWEEN|UNBOUNDED|CURRENT|\d).*"""
                  .r.matches(spec)
            } || (("""(?is).*\bFILTER\s*\(.*""".r.matches(head)) &&
              ds.exists { case (n, _) => refRegex(n).findFirstIn(head).isDefined })
          if (!needsInline) { searchFrom = wi + 1 }
          else {
            def inline(text: String): String =
              scanOutsideLiterals(text) { (i, sb) =>
                if (!(wordStart(text, i) &&
                    text.regionMatches(true, i, "OVER", 0, 4))) i
                else {
                  var j = i + 4
                  while (j < text.length && text.charAt(j).isWhitespace) j += 1
                  var e = j
                  while (e < text.length && (text.charAt(e).isLetterOrDigit ||
                      text.charAt(e) == '_')) e += 1
                  val name = text.substring(j, e)
                  ds.find(_._1.equalsIgnoreCase(name)) match {
                    case Some((_, spec)) if e > j =>
                      sb.append(s"OVER ($spec)"); e
                    case _ => i
                  }
                }
              }
            cur = cur.substring(0, s0) + inline(head) + inline(tail) +
              cur.substring(e0)
            searchFrom = s0
          }
        }
      }
    }
    cur
  }

  private def rewriteQualify(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 512) {
      val qi = indexOfAnyDepth(cur, " QUALIFY ")
      if (qi < 0) return cur
      val (s0, e0) = scopeBounds(cur, qi)
      cur = cur.substring(0, s0) +
        rewriteQualifyScope(cur.substring(s0, e0)) +
        cur.substring(e0)
      guard += 1
    }
    cur
  }

  /** Bounds of the innermost parenthesized scope containing `pos`:
    * (start-after-'(', index-of-matching-')') — or the whole string when
    * `pos` sits at depth 0. Literal-aware.
    */
  private def scopeBounds(sql: String, pos: Int): (Int, Int) = {
    var stack = List.empty[Int]
    var i = 0
    var start = 0
    while (i < pos) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        sql.charAt(i) match {
          case '(' => stack = i :: stack
          case ')' => if (stack.nonEmpty) stack = stack.tail
          case _ =>
        }
        i += 1
      }
    }
    start = stack.headOption.map(_ + 1).getOrElse(0)
    if (stack.isEmpty) return (0, sql.length)
    // find the ')' matching the open paren at stack.head
    var depth = 0
    i = pos
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' =>
            if (depth == 0) return (start, i)
            depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    (start, sql.length)
  }

  /** Single-scope QUALIFY rewrite; `sql` is one SELECT scope (QUALIFY at
    * its depth 0).
    */
  private def rewriteQualifyScope(sql: String): String = {
    val qi = indexOfTopLevel(sql, " QUALIFY ")
    if (qi < 0) return sql
    // head = everything before QUALIFY; find tail start (ORDER BY/LIMIT/
    // set-op at top level after the predicate)
    val head = sql.substring(0, qi)
    val rest = sql.substring(qi + " QUALIFY ".length)
    val tailIdx = Seq(" ORDER BY ", " LIMIT ", " OFFSET ",
      " UNION ", " INTERSECT ", " EXCEPT ")
      .map(k => indexOfTopLevel(rest, k)).filter(_ >= 0)
      .sorted.headOption.getOrElse(rest.length)
    val pred = rest.substring(0, tailIdx).trim
    val tail = rest.substring(tailIdx)
    // inject `, (pred) AS __q` at the end of the head's select list =
    // just before its top-level FROM
    val fi = indexOfTopLevel(head, " FROM ")
    require(fi >= 0, "QUALIFY rewrite: no FROM clause found")
    val withQ = head.substring(0, fi) + s", ($pred) AS __q" + head.substring(fi)
    s"SELECT * EXCEPT (__q) FROM ($withQ) WHERE __q$tail"
  }

  /** Window frame EXCLUDE clauses (SQL:2011; DuckDB has them, Spark's
    * grammar does not): rewritten to the same subtraction algebra the
    * engine's w6_exclude DataFrame emulation uses, generalized to text —
    * for F ∈ {SUM, COUNT, AVG} over expression e:
    *
    *  - `EXCLUDE NO OTHERS` — drop the clause (it is the default);
    *  - `EXCLUDE CURRENT ROW` — F(frame) minus the current row's
    *    contribution, with a non-null-count guard so an empty
    *    post-exclusion frame yields NULL (SUM/AVG) or 0 (COUNT);
    *  - `EXCLUDE GROUP` / `EXCLUDE TIES` — subtract the peer-group
    *    aggregate, computed over a PARTITION BY (partition keys, order
    *    keys) window; TIES adds the current row back.
    *
    * Soundness constraints (checked; violating shapes are left for the
    * parser to diagnose): GROUP/TIES need peer-aligned frames — RANGE
    * (or the default frame), never ROWS, whose frame may cut a peer
    * group; CURRENT ROW/GROUP/TIES need the frame to span CURRENT ROW
    * (otherwise exclusion is a no-op the subtraction would get wrong);
    * the aggregate must be SUM/COUNT/AVG (MIN/MAX etc. are not
    * subtractable). Runs BEFORE the GROUPS-frame pass so a GROUPS
    * frame with EXCLUDE decomposes into plain GROUPS windows.
    */
  private def rewriteExcludeFrames(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 512) {
      rewriteOneExclude(cur) match {
        case Some(next) => cur = next
        case None => return cur
      }
      guard += 1
    }
    cur
  }

  private val excludeModeRe =
    """(?is)^\s*EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*$""".r
  private val aggCallRe = """(?is)^(\w+)\s*\((.*)\)$""".r

  /** Does the frame text (empty = default frame) span CURRENT ROW? */
  private def frameSpansCurrent(frame: String): Boolean = {
    val f = frame.trim.toUpperCase.replaceAll("\\s+", " ")
    if (f.isEmpty) return true // default: RANGE UNBOUNDED PRECEDING..CURRENT ROW
    val body = f.replaceFirst("^(ROWS|RANGE|GROUPS)\\s+", "")
    if (!body.startsWith("BETWEEN")) {
      // single-bound form: <lo> AND CURRENT ROW implied upper
      return body.endsWith("PRECEDING") || body == "CURRENT ROW"
    }
    """^BETWEEN (UNBOUNDED PRECEDING|\d+ PRECEDING|CURRENT ROW) AND (UNBOUNDED FOLLOWING|\d+ FOLLOWING|CURRENT ROW)$"""
      .r.matches(body)
  }

  private def rewriteOneExclude(sql: String): Option[String] = {
    var searchFrom = 0
    while (searchFrom < sql.length) {
      val ei = {
        val idx = indexOfAnyDepth(sql.substring(searchFrom), " EXCLUDE ")
        if (idx < 0) return None else searchFrom + idx
      }
      searchFrom = ei + 1
      val (sb0, se0) = scopeBounds(sql, ei)
      if (sb0 > 0 && se0 > sb0) {
        val beforeParen = sql.substring(0, sb0 - 1)
        val spec = sql.substring(sb0, se0)
        val overM = """(?is)^(.*?)\bOVER\s*$""".r.findFirstMatchIn(beforeParen)
        val exIdx = indexOfTopLevel(spec, " EXCLUDE ")
        if (overM.isDefined && exIdx >= 0) {
          excludeModeRe.findFirstMatchIn(spec.substring(exIdx)) match {
            case None => // not a frame EXCLUDE (e.g. inside a subexpr) — skip
            case Some(m) =>
              val mode = m.group(1).toUpperCase.replaceAll("\\s+", " ")
              val specClean = spec.substring(0, exIdx).trim
              if (mode == "NO OTHERS") {
                return Some(sql.substring(0, sb0) + specClean + sql.substring(se0))
              }
              rewriteExcludeAgg(sql, sb0, se0, specClean, mode)
                .orElse(generalExcludeAgg(sql, sb0, se0, specClean, mode))
                .foreach { out => return Some(out) }
          }
        }
      }
    }
    None
  }

  /** Build the subtraction expression for one `agg OVER (spec EXCLUDE
    * mode)` site; None when the shape is outside the supported algebra.
    */
  private def rewriteExcludeAgg(sql: String, sb0: Int, se0: Int,
      specClean: String, mode: String): Option[String] = {
    // the aggregate call preceding OVER
    val overStart = {
      var k = sb0 - 2 // before '('
      while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
      k - 3 // start of the OVER word ("OVER" is 4 chars ending at k)
    }
    val aggStart = operandStart(sql, overStart)
    if (aggStart < 0) return None
    val aggText = sql.substring(aggStart, overStart).trim
    val (fn, arg) = aggCallRe.findFirstMatchIn(aggText) match {
      case Some(m) => (m.group(1).toUpperCase, m.group(2).trim)
      case None => return None
    }
    if (!Set("SUM", "COUNT", "AVG").contains(fn)) return None
    if (arg.toUpperCase.startsWith("DISTINCT")) return None
    // spec anatomy
    val obIdx = indexOfTopLevel(specClean, " ORDER BY ") match {
      case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None // EXCLUDE without ORDER BY: leave for parser
    val partPart = specClean.substring(0, obIdx).trim
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfTopLevel(afterOb, k)).filter(_ >= 0)
      .sorted.headOption.getOrElse(afterOb.length)
    val orderPart = afterOb.substring(0, frameIdx).trim
    val frame = afterOb.substring(frameIdx).trim
    val rowsMode = """(?is)^ROWS\b.*""".r.matches(frame)
    if ((mode == "GROUP" || mode == "TIES") && rowsMode) return None
    if (!frameSpansCurrent(frame)) return None
    // peer window: partition by (partition keys, bare order exprs)
    val orderKeys = splitTopLevel(orderPart, ',').map(_.trim)
      .map(_.replaceAll("""(?is)\s+(ASC|DESC)\s*$""", "")
        .replaceAll("""(?is)\s+NULLS\s+(FIRST|LAST)\s*$""", "")
        .replaceAll("""(?is)\s+(ASC|DESC)\s*$""", "").trim)
    val peers = "(" + (if (partPart.isEmpty) "PARTITION BY "
      else partPart + ", ") + orderKeys.mkString(", ") + ")"
    val w = s"($specClean)"
    val isStar = arg == "*"
    val nz = if (isStar) "1" else s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)"
    def cnt(over: String) = s"COUNT($arg) OVER $over"
    def sm(over: String) = s"SUM($arg) OVER $over"
    // post-exclusion non-null count and sum, per mode
    val (cntExcl, sumExcl) = mode match {
      case "CURRENT ROW" =>
        (s"(${cnt(w)} - $nz)",
          s"(${sm(w)} - COALESCE(${if (isStar) "1" else s"($arg)"}, 0))")
      case "GROUP" =>
        (s"(${cnt(w)} - ${cnt(peers)})",
          s"(${sm(w)} - COALESCE(${sm(peers)}, 0))")
      case _ => // TIES
        (s"(${cnt(w)} - ${cnt(peers)} + $nz)",
          s"(${sm(w)} - COALESCE(${sm(peers)}, 0) + COALESCE(${if (isStar) "1" else s"($arg)"}, 0))")
    }
    val repl = fn match {
      case "COUNT" => cntExcl
      case "SUM" => s"(CASE WHEN $cntExcl > 0 THEN $sumExcl END)"
      case _ => // AVG
        s"(CASE WHEN $cntExcl > 0 THEN $sumExcl END) / NULLIF($cntExcl, 0)"
    }
    Some(sql.substring(0, aggStart) + repl + sql.substring(se0 + 1))
  }

  /** General EXCLUDE fallback (fuzz-found: min/max, and GROUP/TIES
    * under bounded ROWS frames, fell through the subtraction algebra to
    * a parse error). Collects the frame as (order-key, value) structs —
    * any frame mode, any bounds — then drops the excluded elements by
    * value:
    *   CURRENT ROW — remove one instance of the row's own (k, v) pair
    *     (identical pairs are interchangeable, so "which one" cannot
    *     change any aggregate);
    *   GROUP — keep only elements whose key differs (null-safe);
    *   TIES — GROUP's filter plus the row's own pair added back.
    * A row outside its own frame (possible with shifted bounds) is
    * guarded by the array_position null checks. Aggregation then runs
    * over the array: size/array_min/array_max, and a first-element-
    * seeded fold for SUM (type-preserving — no synthetic zero literal
    * to mistype DECIMAL sums). O(frame) per row, same bound as Spark's
    * own windowed aggregation.
    */
  private def generalExcludeAgg(sql: String, sb0: Int, se0: Int,
      specClean: String, mode: String): Option[String] = {
    val overStart = {
      var k = sb0 - 2
      while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
      k - 3
    }
    val aggStart = operandStart(sql, overStart)
    if (aggStart < 0) return None
    val aggText = sql.substring(aggStart, overStart).trim
    val (fn, arg0) = aggCallRe.findFirstMatchIn(aggText) match {
      case Some(m) => (m.group(1).toUpperCase, m.group(2).trim)
      case None => return None
    }
    // the collect family is ORDER-SENSITIVE: its TIES arm must keep the
    // row's own element at its position (index-aware filter) instead of
    // the append-at-the-end the subtractable aggregates tolerate
    val orderSensitive = Set("ARRAY_AGG", "LIST", "COLLECT_LIST",
      "FIRST", "ARBITRARY", "LAST", "ANY_VALUE", "STRING_AGG")
    if (!(Set("SUM", "COUNT", "AVG", "MIN", "MAX",
        "BOOL_AND", "BOOL_OR").contains(fn) || orderSensitive(fn)))
      return None
    if (arg0.toUpperCase.startsWith("DISTINCT")) return None
    // string_agg(x, sep): two args — the separator stays a literal tail
    val (arg, sepArg) =
      if (fn == "STRING_AGG") splitTopLevel(arg0, ',').map(_.trim) match {
        case Seq(a, s) => (a, Some(s))
        case Seq(a) => (a, Some("','")) // DuckDB's 1-arg default separator
        case _ => return None
      } else (arg0, None)
    if (fn != "STRING_AGG" && splitTopLevel(arg, ',').lengthIs > 1)
      return None
    val isStar = arg == "*"
    if (isStar && fn != "COUNT") return None
    val obIdx = indexOfTopLevel(specClean, " ORDER BY ") match {
      case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfTopLevel(afterOb, k)).filter(_ >= 0)
      .sorted.headOption.getOrElse(afterOb.length)
    val orderKeys = splitTopLevel(afterOb.substring(0, frameIdx), ',')
      .map(_.trim)
      .map(_.replaceAll("""(?is)\s+NULLS\s+(FIRST|LAST)\s*$""", "")
        .replaceAll("""(?is)\s+(ASC|DESC)\s*$""", "").trim)
    if (orderKeys.isEmpty) return None
    val k = s"struct(${orderKeys.mkString(", ")})"
    val v = if (isStar) "1" else s"($arg)"
    val cur = s"struct($k AS k, $v AS v)"
    val arr = s"collect_list(struct($k AS k, $v AS v)) OVER ($specClean)"
    val vals = mode match {
      case "CURRENT ROW" =>
        // remove one instance of the row's own pair by position
        s"""(CASE WHEN array_position($arr, $cur) IS NULL
           | OR array_position($arr, $cur) = 0 THEN $arr
           |ELSE concat(
           |  slice($arr, 1, CAST(array_position($arr, $cur) AS INT) - 1),
           |  slice($arr, CAST(array_position($arr, $cur) AS INT) + 1,
           |    greatest(0, size($arr) - CAST(array_position($arr, $cur) AS INT))))
           |END)""".stripMargin.replaceAll("\\s+", " ")
      case "GROUP" =>
        s"filter($arr, gx_s -> gx_s.k IS DISTINCT FROM $k)"
      case _ if orderSensitive(fn) => // TIES, order-preserving: drop
        // peers but keep one instance of the row's own element AT ITS
        // POSITION (identical (k, v) pairs are interchangeable, so the
        // first instance stands in exactly)
        s"""(CASE WHEN array_position($arr, $cur) IS NULL
           | OR array_position($arr, $cur) = 0
           |THEN filter($arr, gx_s -> gx_s.k IS DISTINCT FROM $k)
           |ELSE filter($arr, (gx_s, gx_i) -> gx_s.k IS DISTINCT FROM $k
           | OR gx_i = CAST(array_position($arr, $cur) AS INT) - 1)
           |END)""".stripMargin.replaceAll("\\s+", " ")
      case _ => // TIES (order-insensitive aggregates): peers out, the
        // row's own pair back — position immaterial under sum/min/etc.
        s"""(CASE WHEN array_position($arr, $cur) IS NULL
           | OR array_position($arr, $cur) = 0
           |THEN filter($arr, gx_s -> gx_s.k IS DISTINCT FROM $k)
           |ELSE concat(filter($arr, gx_s -> gx_s.k IS DISTINCT FROM $k),
           |  array($cur)) END)""".stripMargin.replaceAll("\\s+", " ")
    }
    def vlist = s"transform($vals, gx_s -> gx_s.v)"
    def nn = s"filter($vlist, gx_x -> gx_x IS NOT NULL)"
    def sumOf(a: String) =
      s"""(CASE WHEN size($a) = 0 THEN NULL ELSE aggregate(
         |slice($a, 2, size($a) - 1), element_at($a, 1),
         |(gx_a, gx_x) -> gx_a + gx_x) END)""".stripMargin
        .replaceAll("\\s+", " ")
    val repl = fn match {
      // size() is INT; COUNT is BIGINT in both engines — keep the
      // result KIND identical to the native aggregate it replaces
      case "COUNT" =>
        if (isStar) s"CAST(size($vals) AS BIGINT)"
        else s"CAST(size($nn) AS BIGINT)"
      case "MIN" => s"array_min($vlist)"
      case "MAX" => s"array_max($vlist)"
      // booleans are orderable (false < true): bool_and is min over the
      // non-excluded booleans, bool_or is max — NULL elements skipped by
      // array_min/max like the native aggregates (fuzz r10: bool FILTER
      // folds composed with EXCLUDE fell to a parse error)
      case "BOOL_AND" => s"array_min($vlist)"
      case "BOOL_OR" => s"array_max($vlist)"
      case "SUM" => sumOf(nn)
      // collect family (r12, DuckDB 1.0-pinned): list/array_agg KEEP
      // NULL elements and answer NULL (not []) on an emptied frame;
      // first/last are positional INCLUDING NULLs; any_value is the
      // first NON-NULL; string_agg skips NULLs, casts to text, and
      // answers NULL on empty — all in frame order, which the
      // order-preserving arms above maintain
      case "ARRAY_AGG" | "LIST" | "COLLECT_LIST" =>
        s"(CASE WHEN size($vlist) = 0 THEN NULL ELSE $vlist END)"
      case "FIRST" | "ARBITRARY" => s"try_element_at($vlist, 1)"
      case "LAST" => s"try_element_at($vlist, -1)"
      case "ANY_VALUE" => s"try_element_at($nn, 1)"
      case "STRING_AGG" =>
        s"(CASE WHEN size($nn) = 0 THEN NULL ELSE array_join(" +
          s"transform($nn, gx_x -> CAST(gx_x AS STRING)), ${sepArg.get}) END)"
      case _ => // AVG — DuckDB returns DOUBLE
        s"(CAST(${sumOf(nn)} AS DOUBLE) / NULLIF(size($nn), 0))"
    }
    Some(sql.substring(0, aggStart) + repl + sql.substring(se0 + 1))
  }

  /** GROUPS window frames (SQL:2011 frame mode DuckDB has and Spark's
    * grammar lacks): over a dense_rank key, peer-group DISTANCE equals
    * rank-value distance, so
    *   `agg OVER ([PARTITION BY p] ORDER BY o GROUPS <frame>)`
    * is exactly
    *   `agg OVER ([PARTITION BY p] ORDER BY __gdr RANGE <frame>)`
    * with `__gdr = dense_rank() OVER ([PARTITION BY p] ORDER BY o)`
    * computed in an injected subquery around the scope's FROM…WHERE (the
    * same rows a window sees — windows evaluate after WHERE). The frame
    * bound TEXT carries over verbatim, CURRENT ROW included: RANGE's
    * tie-inclusive CURRENT ROW over the rank key IS the peer group.
    * Scopes with top-level GROUP BY/HAVING/WINDOW and frames with
    * EXCLUDE are left untouched (Spark's parser diagnoses them), same
    * bail discipline as the other structural rewrites. Applied at any
    * nesting depth, innermost scope first (QUALIFY discipline).
    */
  private def rewriteGroupsFrame(sql: String): String = {
    var cur = sql
    var guard = 0
    while (guard < 512) {
      rewriteOneGroupsFrame(cur) match {
        case Some(next) => cur = next
        case None => return cur
      }
      guard += 1
    }
    cur
  }

  private def rewriteOneGroupsFrame(sql: String): Option[String] = {
    var searchFrom = 0
    while (searchFrom < sql.length) {
      val gi = {
        val idx = indexOfAnyDepth(sql.substring(searchFrom), " GROUPS ")
        if (idx < 0) return None else searchFrom + idx
      }
      searchFrom = gi + 1
      // the innermost paren scope holding GROUPS must be an OVER spec:
      // `... OVER ( [PARTITION BY p] ORDER BY o GROUPS <frame> )`
      val (sb0, se0) = scopeBounds(sql, gi)
      if (sb0 > 0 && se0 > sb0) {
        val beforeParen = sql.substring(0, sb0 - 1)
        val spec = sql.substring(sb0, se0)
        val overOk = """(?is).*\bOVER\s*$""".r.matches(beforeParen)
        val obIdx = indexOfTopLevel(spec, " ORDER BY ") match {
          case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(spec)) 0 else -1
          case i => i
        }
        val gIdx = indexOfTopLevel(spec, " GROUPS ")
        if (overOk && obIdx >= 0 && gIdx > obIdx) {
          val frame = spec.substring(gIdx + " GROUPS ".length).trim
          val frameOk = """(?is)^(BETWEEN|UNBOUNDED|CURRENT|\d).*""".r.matches(frame) &&
            !"""(?is).*\bEXCLUDE\b.*""".r.matches(frame)
          if (frameOk) {
            val partSpec = spec.substring(0, obIdx).trim // may be empty
            val orderPart = spec.substring(obIdx, gIdx)
              .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "").trim
            // the SELECT scope enclosing this OVER clause — walk OUT
            // through expression parens until a scope with a top-level
            // FROM: the EXCLUDE subtraction pass (which runs first and
            // feeds this one on GROUPS×EXCLUDE shapes) wraps its
            // windows in arithmetic/CASE parens, so the IMMEDIATELY
            // enclosing scope is an expression, not the SELECT
            var (ss, se) = scopeBounds(sql, sb0 - 1)
            while (ss > 0 &&
                fromClauseIdx(sql.substring(ss, se)) < 0) {
              val outer = scopeBounds(sql, ss - 1)
              ss = outer._1; se = outer._2
            }
            val scope = sql.substring(ss, se)
            rewriteGroupsScope(scope, partSpec, orderPart, frame,
              sb0 - ss, se0 - ss).foreach { out =>
              return Some(sql.substring(0, ss) + out + sql.substring(se))
            }
          }
        }
      }
    }
    None
  }

  /** One SELECT scope holding a GROUPS window at spec offsets
    * [specStart, specEnd) (gi = the GROUPS keyword inside it). Returns
    * None when the scope's shape can't take the subquery injection.
    */
  private def rewriteGroupsScope(scope: String, partSpec: String,
      orderPart: String, frame: String,
      specStart: Int, specEnd: Int): Option[String] = {
    // bail: aggregation scopes (windows run post-GROUP BY there) and
    // named-window scopes
    if (Seq(" GROUP BY ", " HAVING ", " WINDOW ")
        .exists(k => indexOfTopLevel(scope, k) >= 0)) return None
    // the OVER clause must sit in the select list, before the FROM —
    // the RELATION-clause FROM, not the one inside IS DISTINCT FROM
    // (the EXCLUDE general fold emits those in the select list)
    val fi = fromClauseIdx(scope)
    if (fi < 0 || fi < specEnd) return None
    // source+WHERE segment = FROM … up to the first top-level tail
    // keyword (ORDER BY/LIMIT/…): exactly the rows the window sees
    val afterFrom = fi + " FROM ".length
    val tailIdx = Seq(" ORDER BY ", " LIMIT ", " OFFSET ",
      " UNION ", " INTERSECT ", " EXCEPT ")
      .map(k => indexOfTopLevel(scope, k)).filter(_ >= afterFrom)
      .sorted.headOption.getOrElse(scope.length)
    // REUSE an already-injected rank for the same (partition, order):
    // a select list can hold dozens of GROUPS windows over one spec
    // (the EXCLUDE folds multiply them), and one wrapper per window
    // nests subqueries past the parser's complexity limit — one rank
    // column serves them all. Reuse is restricted to ranks THIS pass
    // injected in the scope's own `( … ) __graft_groupsN` wrapper
    // chain (r14, ADVICE r13): a bare text scan over everything after
    // the FROM could hit an `AS __gdr*` inside an UNRELATED nested
    // subquery (a user FROM-subquery whose own GROUPS window was
    // rewritten earlier with the same partition/order text, or a
    // WHERE-clause subquery) — the outer window would then reference a
    // rank keyed to the INNER pre-join/pre-filter rowset, which has
    // gaps and no longer equals the GROUPS frame. The walk descends
    // through consecutive wrappers (aliases only this pass emits) and
    // matches the signature only in each wrapper's own select list,
    // where SELECT * provably propagates the column up to this scope.
    val rankSig = ("""dense_rank\(\) OVER \(""" +
      java.util.regex.Pattern.quote(
        (if (partSpec.nonEmpty) partSpec + " " else "") +
          s"ORDER BY $orderPart") +
      """\) AS (__gdr\d*)""").r
    def wrapperChainRank(): Option[String] = {
      var body = scope
      var from = fi
      var out: Option[String] = None
      var walking = true
      while (walking) {
        walking = false
        var j = from + " FROM ".length
        while (j < body.length && body.charAt(j).isWhitespace) j += 1
        if (j < body.length && body.charAt(j) == '(') {
          splitCallArgs(body, j).foreach { case (_, end) =>
            var a = end
            while (a < body.length && body.charAt(a).isWhitespace) a += 1
            if (body.startsWith("__graft_groups", a)) {
              val sub = body.substring(j + 1, end - 1)
              val subFrom = fromClauseIdx(sub)
              if (subFrom >= 0) {
                rankSig.findFirstMatchIn(sub.substring(0, subFrom)) match {
                  case Some(m) => out = Some(m.group(1))
                  case None => body = sub; from = subFrom; walking = true
                }
              }
            }
          }
        }
      }
      out
    }
    wrapperChainRank().foreach { rank =>
      val newSpec = (if (partSpec.nonEmpty) partSpec + " " else "") +
        s"ORDER BY $rank RANGE $frame"
      return Some(
        scope.substring(0, specStart) + newSpec + scope.substring(specEnd))
    }
    // fresh rank-column name (distinct specs still stack wrappers)
    var rank = "__gdr"
    var n = 0
    while (scope.contains(rank)) { n += 1; rank = s"__gdr$n" }
    val sourceWhere = scope.substring(afterFrom, tailIdx).trim
    val inner = s"(SELECT *, dense_rank() OVER " +
      s"(${if (partSpec.nonEmpty) partSpec + " " else ""}ORDER BY $orderPart) " +
      s"AS $rank FROM $sourceWhere) __graft_groups$n"
    // new OVER spec: same partition, rank-key RANGE frame
    val newSpec = (if (partSpec.nonEmpty) partSpec + " " else "") +
      s"ORDER BY $rank RANGE $frame"
    val head = scope.substring(0, specStart) + newSpec + scope.substring(specEnd, fi)
    val tail = scope.substring(tailIdx)
    Some(s"$head FROM $inner$tail")
  }

  /** First top-level ` FROM ` that starts the RELATION clause — skips
    * the FROM token of `IS [NOT] DISTINCT FROM`, which EXCLUDE's
    * general collect-fold emits inside the select list. -1 if absent.
    */
  private def fromClauseIdx(scope: String): Int = {
    var from = 0
    while (from < scope.length) {
      val rel = indexOfTopLevel(scope.substring(from), " FROM ")
      if (rel < 0) return -1
      val i = from + rel
      val before = scope.substring(0, i).trim.toUpperCase
      if (!before.endsWith(" DISTINCT")) return i
      from = i + 1
    }
    -1
  }

  /** First index of `needle` (case-insensitive) outside literals at any
    * paren depth; -1 if absent.
    */
  private def indexOfAnyDepth(sql: String, needle: String): Int = {
    val up = sql.toUpperCase
    val n = needle.toUpperCase
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        if (up.startsWith(n, i)) return i
        i += 1
      }
    }
    -1
  }

  /** First index of `needle` (case-insensitive) at paren depth 0 and
    * outside literals; -1 if absent.
    */
  private def indexOfTopLevel(sql: String, needle: String): Int = {
    val up = sql.toUpperCase
    val n = needle.toUpperCase
    var depth = 0
    var i = 0
    while (i < sql.length) {
      val opaque = consumeOpaque(sql, i, null)
      if (opaque > i) i = opaque
      else {
        sql.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && up.startsWith(n, i)) return i
        }
        i += 1
      }
    }
    -1
  }

  /** Translate a DuckDB/SQLite GLOB pattern to a Java regex accepted by
    * Spark's `rlike` (SURVEY.md §2.2 P6). GLOB: `*` = any run, `?` = one
    * char, `[...]` = char class (passed through), everything else literal.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      val c = glob.charAt(i)
      c match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          // char class: copy until closing ], honoring leading ! -> ^
          val close = glob.indexOf(']', i + 1)
          if (close < 0) { sb.append("\\["); }
          else {
            val body0 = glob.substring(i + 1, close)
            val body = if (body0.startsWith("!")) "^" + body0.substring(1) else body0
            sb.append('[').append(body).append(']')
            i = close
          }
        case ch if "\\.[]{}()<>+-=!#$^|".indexOf(ch) >= 0 =>
          sb.append('\\').append(ch)
        case ch => sb.append(ch)
      }
      i += 1
    }
    sb.append('$').toString
  }

  /** Translate a C/DuckDB strftime/strptime format string to a JDK
    * DateTimeFormatter pattern for Spark's `date_format`/`to_timestamp`
    * (SURVEY.md §2.8 date/time, §7.4 item 3).
    */
  def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    // only letter-bearing literals need quoting (letters are JDK pattern
    // chars); punctuation like '-' / ':' passes through unquoted
    def lit(s: String): Unit = if (s.nonEmpty) {
      if (s.exists(c => c.isLetter || c == '\''))
        sb.append('\'').append(s.replace("'", "''")).append('\'')
      else sb.append(s)
    }
    val plain = new StringBuilder
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        lit(plain.toString); plain.clear()
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'I' => sb.append("hh")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS") // microseconds
          case 'g' => sb.append("SSS")    // milliseconds (duckdb ext)
          case 'p' => sb.append("a")
          case 'j' => sb.append("DDD")
          case 'a' => sb.append("EEE")
          case 'A' => sb.append("EEEE")
          case 'b' => sb.append("MMM")
          case 'B' => sb.append("MMMM")
          case 'Z' => sb.append("zzz")
          case 'z' => sb.append("xxx")
          case '%' => sb.append("'%'")
          case other => sb.append(other) // unknown: pass through
        }
        i += 2
      } else { plain.append(c); i += 1 }
    }
    lit(plain.toString)
    sb.toString
  }
}
