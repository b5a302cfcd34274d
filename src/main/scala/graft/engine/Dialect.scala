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
    *   - `FROM 'x.csv'` and `read_csv('x.csv', header=true)` → the
    *     table-function calls TableFunctions serves
    */
  private val passes: Seq[String => String] = Seq(
    foldLiterals, // FIRST: later scanners assume '…' string syntax
    normalizeWs, rewriteStatements, rewriteFileScans, rewriteBlob, rewriteArrayTypeSuffix,
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
    rewriteQualify, rewriteInformationSchema,
    rewriteDateDiff, rewriteCastCalls, rewriteCastTypes, rewriteFetchFirst,
    rewriteFillWindow, rewriteIcuCollate)

  def rewrite(sql: String): String =
    passes.foldLeft(sql)((s, pass) => pass(s))

  /** DuckDB string literals are RAW (standard SQL): '\d' is
    * backslash+d, never an escape — Spark's default lexer would
    * silently eat the backslash from every client regex (probe batch 14
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
  private def rewriteTrailingCommas(sql: String): String =
    scanOutsideLiterals(sql) { (i, _) =>
      if (sql.charAt(i) != ',') i
      else {
        // peek past whitespace and comments only (a string literal
        // after a comma is a REAL next element)
        val j = skipBlank(sql, i + 1)
        val atStop = j >= sql.length || ")]};".contains(sql.charAt(j)) ||
          trailingCommaStops.contains(sql.substring(j, wordEnd(sql, j)).toUpperCase)
        if (atStop) i + 1 else i // i + 1 with nothing appended drops the comma
      }
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
  private def rewriteStarModifiers(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      def afterStar = {
        var k = i - 1
        while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
        k >= 0 && sql.charAt(k) == '*'
      }
      if (keywordAt(sql, i, "EXCLUDE") && afterStar) { sb.append("EXCEPT"); i + 7 }
      else if (keywordAt(sql, i, "REPLACE") && afterStar) splitCallArgs(sql, i + 7) match {
        case Some((args, end)) =>
          val parts = args.map { a =>
            val asAt = a.toUpperCase.lastIndexOf(" AS ")
            require(asAt >= 0, s"* REPLACE entry needs AS: $a")
            (a.substring(asAt + 4).trim, a.trim)
          }
          sb.append(parts.map(_._1).mkString("EXCEPT (", ", ", "), "))
            .append(rewriteStarModifiers(parts.map(_._2).mkString(", ")))
          end
        case None => i
      }
      else i
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
    val at = indexOfCode(sql, "DISTINCT ON", anyDepth = true)
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
        val obAt = indexOfCode(base, " ORDER BY ")
        val limAt = indexOfCode(base, " LIMIT ")
        val tailAt = Seq(obAt, limAt).filter(_ >= 0).sorted.headOption.getOrElse(base.length)
        val head = base.substring(0, tailAt)
        val tail = base.substring(tailAt)
        val orderList =
          if (obAt >= 0) {
            val afterOb = base.substring(obAt + " ORDER BY ".length)
            val stop = indexOfCode(afterOb, " LIMIT ")
            (if (stop >= 0) afterOb.substring(0, stop) else afterOb).trim
          } else keys.mkString(", ")
        val fromAt = indexOfCode(head, " FROM ")
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
      var open = -1 // the innermost `{` before the first `}`
      val close = scanCode(cur) { (i, _) =>
        cur.charAt(i) match {
          case '{' => open = i; i
          case '}' if open >= 0 => -1
          case _ => i
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
        val ci = indexOfCode(pair, ":")
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
            val end = closerOf(sql, m)
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
  private val blobLitRe = """'((?:[^']|'')*)'\s*""".r
  private val blobCastRe = """(?i)^::\s*BLOB\b""".r
  private val blobLitCastRe =
    """(?i)CAST\s*\(\s*'((?:[^']|'')*)'\s+AS\s+BLOB\s*\)""".r
  // typed-literal form BLOB '…' (probe-19: Spark has no BLOB literal)
  private val blobTypedLitRe = """(?i)BLOB\s+'((?:[^']|'')*)'""".r

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

  private def rewriteBlob(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      def unhexAt(re: scala.util.matching.Regex): Int =
        re.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append(s"unhex('${literalToHex(m.group(1))}')"); i + m.end
          case None => i
        }
      if (sql.startsWith("::", i)) blobCastRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          // a string literal operand folds to its bytes
          val emitted = sb.toString
          val start = operandBefore(emitted, emitted.length)
          blobLitRe.unapplySeq(if (start < 0) "" else emitted.substring(start)) match {
            case Some(Seq(lit)) =>
              sb.setLength(start); sb.append(s"unhex('${literalToHex(lit)}')")
            case _ => sb.append("::BINARY")
          }
          i + m.end
        case None => i
      }
      else if (keywordAt(sql, i, "CAST")) unhexAt(blobLitCastRe)
      else if (keywordAt(sql, i, "BLOB")) unhexAt(blobTypedLitRe)
      else if (keywordAt(sql, i, "AS"))
        """(?i)^AS\s+BLOB\s*\)""".r.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) => sb.append("AS BINARY)"); i + m.end
          case None => i
        }
      else i
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

  /** DuckDB file scans, as the table functions TableFunctions serves:
    *  - `FROM 'dir/x.parquet'` (DuckDB's replacement scan) →
    *    `FROM graft_read_file('dir/x.parquet')`, which names the relation
    *    by the file stem `x`; a user alias still wins;
    *  - `name=value` reader options → `name => value`, the named-argument
    *    form Spark's parser takes.
    */
  private val fileFromRe = java.util.regex.Pattern.compile(
    """(?i)(FROM|JOIN)\s+('[^']+\.(?:parquet|pq|csv|tsv|json|jsonl|ndjson)(?:\.gz)?')""")
  private val readerFns = Seq("READ_PARQUET", "PARQUET_SCAN", "READ_CSV",
    "READ_CSV_AUTO", "READ_JSON", "READ_JSON_AUTO", "READ_NDJSON",
    "READ_NDJSON_AUTO", "READ_TEXT", "READ_BLOB")
  private val readerOptRe = """(?s)^(\s*[A-Za-z_]\w*\s*)=(?![=>])(.*)$""".r

  private def rewriteFileScans(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      Character.toLowerCase(sql.charAt(i)) match {
        case 'f' | 'j' if wordStart(sql, i) =>
          val m = fileFromRe.matcher(sql).region(i, sql.length)
          if (!m.lookingAt()) i
          else { sb.append(s"${m.group(1)} graft_read_file(${m.group(2)})"); m.end }
        case 'r' | 'p' => keywordIn(sql, i, readerFns).flatMap { fn =>
          splitCallArgs(sql, i + fn.length).map { case (args, end) =>
            sb.append(sql.substring(i, i + fn.length)).append(args.map {
              case readerOptRe(k, v) => s"$k=>$v"
              case a => a
            }.mkString("(", ",", ")"))
            end
          }
        }.getOrElse(i)
        case _ => i
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
  private def rewriteNamedArgCalls(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      val call = keywordIn(sql, i, namedArgFns).flatMap { n =>
        val withNamedArgs = splitCallArgs(sql, i + n.length)
          .filter(_._1.exists(_.matches("(?s)\\s*\\w+\\s*:=.*")))
        withNamedArgs.flatMap { case (args0, end) =>
          val args = args0.map(a => rewriteNamedArgCalls(a).trim)
          def pair(a: String): String = a.split(":=", 2) match {
            case Array(k, v) if k.trim.matches("[A-Za-z_][A-Za-z0-9_]*") =>
              s"'${k.trim}', ${v.trim}"
            case _ => throw new GatewayException(
              s"${n.toLowerCase}: argument `$a` is not of the form name := value")
          }
          (n match {
            case "STRUCT_PACK" => Some(s"named_struct(${args.map(pair).mkString(", ")})")
            case "STRUCT_INSERT" =>
              Some(s"struct_insert(${args.head}, ${args.tail.map(pair).mkString(", ")})")
            case "UNION_VALUE" => Some(s"union_value(${args.map(pair).mkString(", ")})")
            case _ => // UNNEST
              val (rec, rest) =
                args.partition(_.matches("(?is)recursive\\s*:=\\s*true\\s*"))
              // graft_rec defers the flatten-vs-inline choice to the
              // DuckUnnest resolution rule (type-dependent: list-of-list
              // flattens, list-of-struct inlines)
              if (rec.isEmpty) None
              else Some(s"unnest(graft_rec(${rest.mkString(", ")}))")
          }).map(c => (c, end))
        }
      }
      call match {
        case Some((c, end)) => sb.append(c); end
        case None => i
      }
    }

  /** DuckDB accepts `lag(x IGNORE NULLS)` with the null treatment
    * INSIDE the parens; Spark wants it after: `lag(x) IGNORE NULLS`.
    */
  private val ignoreNullsFns =
    Seq("FIRST_VALUE", "LAST_VALUE", "NTH_VALUE", "ANY_VALUE",
      "FIRST", "LAST", "LAG", "LEAD")
  private val nullTreatTailRe =
    """(?is)^(.*?)\s+(IGNORE|RESPECT)\s+NULLS\s*$""".r
  private def rewriteIgnoreNulls(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      val call = keywordIn(sql, i, ignoreNullsFns).flatMap { n =>
        splitCallArgs(sql, i + n.length).flatMap { case (args, end) =>
          nullTreatTailRe.findFirstMatchIn(args.last).map { m =>
            val newArgs = rewriteIgnoreNulls((args.init :+ m.group(1)).mkString(", "))
            (s"$n($newArgs) ${m.group(2).toUpperCase} NULLS", end)
          }
        }
      }
      call match {
        case Some((c, end)) => sb.append(c); end
        case None => i
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
      val rEnd = if (w == 0) -1 else operandAfter(sql, i + w)
      val start = if (rEnd < 0) -1 else operandBefore(sb)
      if (start < 0) i
      else {
        val left = sb.substring(start)
        sb.setLength(start)
        sb.append(s"power($left, ${sql.substring(i + w, rEnd).trim})")
        rEnd
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
    val obIdx = indexOfCode(specClean, " ORDER BY ") match {
      case -1 =>
        if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfCode(afterOb, k)).filter(_ >= 0)
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
            else operandBefore(sb) match {
              case start if start >= 0 =>
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
                        .map(s => indexOfCode(s, " EXCLUDE ")).getOrElse(-1)
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
              case _ => i
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
        val end = operandAfter(sql, i + 1)
        if (end < 0) i
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
      else if (wrapOperandBefore(sb, "factorial")) i + 1
      else i
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
  private val castBodyRe = """(?is)^(.*)\b(AS\s+)(\w+)\s*$""".r

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
    scanCode(s) { (i, _) =>
      while (sb.length < i) sb.append(' ')
      sb.append(s.charAt(i))
      i
    }
    while (sb.length < s.length) sb.append(' ')
    sb.toString
  }

  /** (start, end) of the type name after the `::` at `i`. */
  private def castTypeAt(sql: String, i: Int): (Int, Int) = {
    var k = i + 2
    while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
    (k, wordEnd(sql, k))
  }

  /** A `CAST(` / `TRY_CAST(` call at `i`: (is TRY_CAST, index of its
    * `(`, the body between the parens, index past the `)`).
    */
  private def castCallAt(sql: String, i: Int): Option[(Boolean, Int, String, Int)] = {
    val isTry = keywordAt(sql, i, "TRY_CAST")
    if (!isTry && !keywordAt(sql, i, "CAST")) None
    else {
      var k = i + (if (isTry) 8 else 4)
      while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
      splitCallArgs(sql, k).map { case (_, end) =>
        (isTry, k, sql.substring(k + 1, end - 1), end)
      }
    }
  }

  private def rewriteCastTypes(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.startsWith("::", i)) {
        // `x::type` is native Spark syntax — only the TYPE NAME after
        // `::` needs mapping (always a type position, never a column)
        val (k, j) = castTypeAt(sql, i)
        castTypeMap.get(sql.substring(k, j).toUpperCase) match {
          case Some(t) if j >= sql.length || sql.charAt(j) != '(' =>
            sb.append(sql.substring(i, k)).append(t); j
          case _ => i
        }
      } else castCallAt(sql, i) match {
        case Some((_, open, body, end)) =>
          // match on the opaque-blanked mask (same length), rebuild
          // from the ORIGINAL body by position — the regex must never
          // see comment/literal text
          castBodyRe.findFirstMatchIn(maskOpaque(body)).flatMap(m =>
            castTypeMap.get(m.group(3).toUpperCase)
              .map(t => body.substring(0, m.end(2)) + t)) match {
            case Some(nb) =>
              sb.append(sql.substring(i, open + 1)).append(rewriteCastTypes(nb)).append(')')
              end
            case None => i // scan inside for nested casts
          }
        case None => i
      }
    }

  /** DuckDB casts to types Spark lacks become calls, one per type:
    *  - BIT → `graft_bit` (Functions kernel; the engine's BIT
    *    representation is a '0'/'1' STRING, SURVEY §1.4);
    *  - JSON → `graft_json_cast`: a VARCHAR validates (malformed input
    *    errors like DuckDB's cast) and keeps its ORIGINAL text (`::JSON`
    *    does NOT canonicalize — pinned: `' {"b" : 2} '::JSON` keeps its
    *    spacing, unlike `json()`); other types serialize through `json()`.
    * `x::T` wraps the operand before `::` (operandBefore; a shape it
    * does not know is left for the parser to diagnose) and
    * `[TRY_]CAST(x AS T)` its body, matched on maskOpaque. TRY_CAST
    * wraps the call in `try()` for its NULL-on-bad-input contract.
    */
  private val castCalls = Map("BIT" -> "graft_bit", "JSON" -> "graft_json_cast")
  private def rewriteCastCalls(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.startsWith("::", i)) {
        val (k, j) = castTypeAt(sql, i)
        castCalls.get(sql.substring(k, j).toUpperCase) match {
          case Some(fn) if (j >= sql.length || "([".indexOf(sql.charAt(j)) < 0) &&
              wrapOperandBefore(sb, fn) => j
          case _ => i
        }
      } else castCallAt(sql, i) match {
        case Some((isTry, _, body, end)) =>
          castBodyRe.findFirstMatchIn(maskOpaque(body)).flatMap(m =>
            castCalls.get(m.group(3).toUpperCase).map { fn =>
              val call = s"$fn(${rewriteCastCalls(body.substring(0, m.end(1)))})"
              if (isTry) s"try($call)" else call
            }) match {
            case Some(call) => sb.append(call); end
            case None => i // scan inside for nested casts
          }
        case None => i
      }
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
          operandBefore(sb) match {
            case s0 if s0 >= 0 =>
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
            case _ => i
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

  private val orderedAggFns =
    Seq("ARRAY_AGG", "STRING_AGG", "LIST_AGG", "LISTAGG", "GROUP_CONCAT",
      // order-INSENSITIVE aggregates: DuckDB tolerates (and ignores)
      // an ORDER BY clause on these — the clause is dropped
      "COUNT", "SUM", "AVG", "MIN", "MAX", "BOOL_AND", "BOOL_OR",
      "BIT_AND", "BIT_OR", "BIT_XOR",
      "FIRST", "LAST",
      // DuckDB any_value(x ORDER BY y) = first in that order
      "ANY_VALUE",
      // DuckDB list(x ORDER BY y) — plain list(x) stays on the
      // list→collect_list shim
      "LIST")

  private def rewriteAggOrderBy(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      keywordIn(sql, i, orderedAggFns).flatMap { n =>
        splitCallArgs(sql, i + n.length).flatMap { case (args, end) =>
          orderedAggCall(n, args).map(c => (c, end))
        }
      } match {
        case Some((call, end)) => sb.append(rewriteAggOrderBy(call)); end
        case None => i
      }
    }

  /** The Spark form of aggregate `n` called with `args` when they carry
    * an ORDER BY clause; None to leave the call to the native parser.
    */
  private def orderedAggCall(n: String, args: Seq[String]): Option[String] = {
    // a multi-key ORDER BY splits across the comma-separated args
    // (fuzz-found: string_agg(v, sep ORDER BY k1, k2) arrived as args
    // [v, "sep ORDER BY k1", "k2"]) — locate the FIRST arg carrying the
    // clause; everything after it belongs to the key list
    val obIdx = args.indexWhere(a => indexOfCode(a, " ORDER BY ") >= 0)
    if (obIdx < 0) return None
    val obArg = args(obIdx)
    val ob = indexOfCode(obArg, " ORDER BY ")
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
      // drop the clause (and any trailing key args): the result is
      // order-independent, DuckDB just accepts it
      Some(s"$n(${(args.take(obIdx) :+ valueHead).mkString(", ")})")
    } else if (hasNulls || parsed.isEmpty) {
      None // NULLS spec: leave for the native parser
    } else if (isFirstLast) {
      // first(x ORDER BY keys) = value at the min composite key (struct
      // natural ordering is lexicographic); last / DESC flips — mixed
      // directions have no min_by/max_by form, leave those
      if (parsed.map(_._2).distinct.sizeIs > 1) None
      else {
        val allDesc = parsed.head._2
        val fn = if ((n == "LAST") != allDesc) "max_by" else "min_by"
        val k0 =
          if (parsed.sizeIs == 1) parsed.head._1
          else parsed.map(_._1).mkString("struct(", ", ", ")")
        // DuckDB any_value(x ORDER BY y) SKIPS NULL x (first non-NULL in
        // order), unlike first/last which keep the value at the extreme
        // key even when NULL — null out the KEY for NULL values so
        // min_by/max_by (which ignore NULL keys) skip those rows
        val k =
          if (n == "ANY_VALUE")
            s"(CASE WHEN ($value) IS NULL THEN NULL ELSE $k0 END)"
          else k0
        Some(s"$fn($value, $k)")
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
              // comparator chain: per-key direction (DESC returns 1 on
              // l<r so smaller sorts later)
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
      Some(if (isString) s"array_join($sorted, $sep)" else sorted)
    }
  }

  /** `expr FOR var IN list [IF cond]` (already bracket-rewritten) →
    * the transform/filter HOF composition, or None when the content is
    * a plain list literal. DuckDB-verified: `[x+1 FOR x IN [1,2,3] IF
    * x>1]` = [3,4].
    */
  private def comprehension(content: String): Option[String] = {
    val forAt = indexOfCode(content, " FOR ")
    if (forAt < 0) return None
    val head = content.substring(0, forAt).trim
    val rest = content.substring(forAt + 5)
    val inAt = indexOfCode(rest, " IN ")
    if (inAt < 0) return None
    val v = rest.substring(0, inAt).trim
    if (!v.matches("\\w+")) return None
    val tail = rest.substring(inAt + 4)
    val ifAt = indexOfCode(tail, " IF ")
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
    * position. An operand before `[` means subscript (`arr[1]`); these
    * words, operators, commas, and open-parens mean a DuckDB list
    * literal `[1,2]`, which Spark's parser lacks → `array(1,2)`.
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
  private def rewriteBrackets(sql: String): String =
    scanOutsideLiterals(sql) { (i, out) =>
      val end = if (sql.charAt(i) == '[') closerOf(sql, i) else -1
      if (end < 0) i // not a bracket, or unbalanced: pass through
      else {
        val content = rewriteBrackets(sql.substring(i + 1, end))
        val emitted = out.toString
        val st = operandBefore(emitted, emitted.length)
        val keywordBefore = st >= 0 && {
          val w = wordEnd(emitted, st)
          skipBlank(emitted, w) == emitted.length &&
            bracketLiteralKeywords(emitted.substring(st, w).toUpperCase)
        }
        if (st < 0 || keywordBefore) {
          // DuckDB list comprehension `[expr FOR v IN list [IF cond]]`
          // → transform(filter(list, v -> cond), v -> expr)
          comprehension(content) match {
            case Some(c) => out.append(c)
            case None => out.append("array(").append(content).append(')')
          }
        } else {
          val lhs = emitted.substring(st)
          out.setLength(st)
          val colonAt = indexOfCode(content, ":")
          if (colonAt < 0) {
            // graft_subscript: polymorphic over string/list/map
            // (expressions/SubscriptAny — element_at semantics for
            // collections, 1-based char pick for strings)
            out.append(s"graft_subscript($lhs, ${content.trim})")
          } else {
            val a0 = content.substring(0, colonAt).trim
            val rest = content.substring(colonAt + 1)
            val colon2 = indexOfCode(rest, ":")
            val a = if (a0.isEmpty) "1" else a0
            if (colon2 >= 0) {
              // stepped slice `l[a:b:s]` (negative steps walk backward)
              // → the 4-arg list_slice shim
              val b0 = rest.substring(0, colon2).trim
              val s0 = rest.substring(colon2 + 1).trim
              val b = if (b0.isEmpty) s"len($lhs)" else b0
              out.append(s"list_slice($lhs, $a, $b, $s0)")
            } else {
              val b0 = rest.trim
              // graft_slice: 1-based stop-inclusive, polymorphic over
              // string/list (expressions/SliceAny)
              if (b0.isEmpty) out.append(s"graft_slice($lhs, $a, len($lhs))")
              else out.append(s"graft_slice($lhs, $a, $b0)")
            }
          }
        }
        end + 1
      }
    }

  /** DuckDB `a ASOF [LEFT] JOIN b ON cond` → `a [LEFT] JOIN b ON
    * graft_asof() AND cond`: the marker conjunct tags the join, and
    * plans.ResolveAsOfJoin turns the resolved Join into the engine's
    * ASOF operator (or refuses its shape with a typed error). Only the
    * join's own ON is marked: the search stops at USING or at the next
    * JOIN, and a word `asof` not followed by `[kind] JOIN` (a column) is
    * left alone.
    */
  private def rewriteAsOf(sql: String): String = {
    val markedOn = new java.util.BitSet // the ON of each ASOF join seen
    scanOutsideLiterals(sql) { (i, sb) =>
      if (markedOn.get(i)) { sb.append("ON graft_asof() AND"); i + 2 }
      else if (!keywordAt(sql, i, "ASOF")) i
      else {
        var j = skipBlank(sql, i + 4)
        Seq("LEFT", "RIGHT", "FULL", "INNER").find(keywordAt(sql, j, _)).foreach { k =>
          j = skipBlank(sql, j + k.length)
          if (keywordAt(sql, j, "OUTER")) j = skipBlank(sql, j + 5)
        }
        if (!keywordAt(sql, j, "JOIN")) i
        else {
          val on = scanCode(sql, j + 4) { (k, depth) =>
            if (depth == 0 && (sql.charAt(k) == ')' || sql.charAt(k) == ';' ||
              Seq("ON", "USING", "JOIN").exists(keywordAt(sql, k, _)))) -1
            else k
          }
          if (on < 0 || !keywordAt(sql, on, "ON"))
            throw new GatewayException(
              "ASOF JOIN: only `ON <condition>` is supported (USING is not)")
          markedOn.set(on)
          skipBlank(sql, i + 4) // drop ASOF
        }
      }
    }
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

  /** ANSI `information_schema.{tables,columns,schemata}` → the
    * `information_schema_tables()` … table functions (a table-function
    * name cannot be schema-qualified).
    */
  private def rewriteInformationSchema(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      if (sql.regionMatches(true, i, "information_schema", 0, 18) &&
          wordStart(sql, i)) {
        infoSchemaRe.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            sb.append(s"information_schema_${m.group(1).toLowerCase}()")
            i + m.end
          case None => i
        }
      } else i
    }

  private val infoSchemaRe =
    """(?i)^information_schema\s*\.\s*(tables|columns|schemata)\b""".r

  /** DuckDB's stateless statements as the queries DuckDB binds them as
    * (SIGMOD 2019), where they start the statement or open a subquery:
    *  - `PRAGMA x[(arg)]` → `SELECT * FROM pragma_x('arg')`; `SHOW
    *    TABLES` and `PRAGMA show_tables` → DuckDB's one `name` column;
    *  - `SHOW ALL TABLES` → DuckDB's six columns over `duckdb_columns()`;
    *  - `DESCRIBE t`, `DESC t`, `SHOW t` → `SELECT * FROM pragma_show('t')`;
    *  - `SUMMARIZE t` → `SELECT * FROM summarize('t')`;
    *  - `UNPIVOT rel ON c [AS l], … INTO NAME n VALUE v` → Spark's clause
    *    `SELECT * FROM rel UNPIVOT (v FOR n IN (c [AS l], …))`, which
    *    drops NULL cells as DuckDB does; a tail (ORDER BY …) stays;
    *  - BEGIN/COMMIT/ROLLBACK/ABORT/ANALYZE/VACUUM/[FORCE] CHECKPOINT,
    *    which clients send reflexively (database/sql wraps work in
    *    BEGIN/COMMIT) → the empty `Success BOOLEAN` relation DuckDB 1.0
    *    answers on a read-only database; at statement start only
    *    (DuckDB reads `(begin)` as a column).
    * Spark's own forms (`SHOW TABLES IN x`, `SHOW FUNCTIONS`, `DESCRIBE
    * FUNCTION f`, `DESCRIBE SELECT …`) stay as they are.
    */
  private def rewriteStatements(sql: String): String = {
    var prev = '(' // the last code char before i; the text start counts as `(`
    var atStart = true // no code yet before i
    scanOutsideLiterals(sql) { (i, sb) =>
      val c = sql.charAt(i)
      val lowered =
        if (prev != '(' || keywordIn(sql, i, statementWords).isEmpty) None
        else {
          // the statement runs to the `)` closing its subquery, or to the end
          val close = scanCode(sql, i) { (k, depth) =>
            if (depth == 0 && sql.charAt(k) == ')') -1 else k
          }
          val end = if (close < 0) sql.length else close
          lowerStatement(sql.substring(i, end), atStart).map { case (text, used) =>
            sb.append(text); i + used
          }
        }
      if (!c.isWhitespace) { prev = c; atStart = false }
      lowered.getOrElse(i)
    }
  }

  private val statementWords = Seq("PRAGMA", "SHOW", "DESCRIBE", "DESC",
    "SUMMARIZE", "UNPIVOT", "BEGIN", "COMMIT", "ROLLBACK", "ABORT",
    "ANALYZE", "VACUUM", "CHECKPOINT", "FORCE")
  /** Words after SHOW/DESCRIBE that name Spark's own statements. */
  private val showKeywords = Set(
    "TABLES", "DATABASES", "SCHEMAS", "VIEWS", "FUNCTIONS", "CATALOGS",
    "NAMESPACES", "COLUMNS", "PARTITIONS", "TBLPROPERTIES", "ALL")
  private val stmtEnd = """\s*;?\s*$"""
  private val pragmaRe = ("""(?is)^PRAGMA\s+(\w+)\s*(?:\(\s*'?([\w./]+)'?\s*\))?""" + stmtEnd).r
  private val showTablesRe = ("""(?is)^(?:SHOW\s+TABLES|PRAGMA\s+show_tables)""" + stmtEnd).r
  private val showAllTablesRe = ("""(?is)^SHOW\s+ALL\s+TABLES""" + stmtEnd).r
  private val describeTableRe = ("""(?is)^(?:DESC(?:RIBE)?|SHOW)\s+([\w.]+)""" + stmtEnd).r
  private val summarizeRe = ("""(?is)^SUMMARIZE\s+([\w.]+)""" + stmtEnd).r
  private val noOpRe = ("""(?is)^(?:BEGIN(?:\s+TRANSACTION)?|COMMIT|ROLLBACK|ABORT|""" +
    """ANALYZE|VACUUM(?:\s+ANALYZE)?|(?:FORCE\s+)?CHECKPOINT(?:\s+\w+)?)""" + stmtEnd).r
  private val unpivotTailRe =
    """(?is)^\s+ON\s+(.+?)\s+INTO\s+NAME\s+(\w+)\s+VALUE\s+(\w+)\b""".r
  private val unpivotEntryRe = """(?is)^[\w.]+(?:\s+AS\s+\w+)?$""".r

  /** DuckDB 1.0's `SHOW ALL TABLES`: one row per relation with its
    * columns' names and types in column order; the engine's relations
    * are not temporary in DuckDB's sense (the fixture tables are views).
    */
  private val showAllTables =
    "SELECT database_name AS database, schema_name AS schema, table_name AS name, " +
      "array_sort(collect_list(struct(column_index, column_name))).column_name AS column_names, " +
      "array_sort(collect_list(struct(column_index, data_type))).data_type AS column_types, " +
      "false AS temporary FROM duckdb_columns() " +
      "GROUP BY database_name, schema_name, table_name ORDER BY database, schema, name"

  /** The query `stmt` lowers to and the length of `stmt` it replaces. */
  private def lowerStatement(stmt: String, atStart: Boolean): Option[(String, Int)] = {
    def all(q: String) = Some((q, stmt.length))
    stmt match {
      case showTablesRe() => all("SELECT table_name AS name FROM duckdb_tables() ORDER BY name")
      case pragmaRe(name, arg) =>
        all(s"SELECT * FROM pragma_${name.toLowerCase}(${Option(arg).fold("")(a => s"'$a'")})")
      case showAllTablesRe() => all(showAllTables)
      case describeTableRe(t) if !showKeywords(t.toUpperCase) =>
        all(s"SELECT * FROM pragma_show('$t')")
      case summarizeRe(t) => all(s"SELECT * FROM summarize('$t')")
      case noOpRe() if atStart => all("SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0")
      case _ if keywordAt(stmt, 0, "UNPIVOT") =>
        val relAt = skipBlank(stmt, 7)
        var relEnd = relAt // a parenthesized query or a (qualified) name
        if (relAt < stmt.length && stmt.charAt(relAt) == '(') relEnd = closerOf(stmt, relAt) + 1
        else while (relEnd < stmt.length &&
            (isWordChar(stmt.charAt(relEnd)) || stmt.charAt(relEnd) == '.')) relEnd += 1
        if (relEnd <= relAt) None
        else unpivotTailRe.findPrefixMatchOf(stmt.substring(relEnd)).collect {
          case m if splitTopLevel(m.group(1), ',').forall(e =>
              unpivotEntryRe.matches(e.trim)) =>
            (s"SELECT * FROM ${stmt.substring(relAt, relEnd)} UNPIVOT " +
              s"(${m.group(3)} FOR ${m.group(2)} IN (${m.group(1)}))", relEnd + m.end)
        }
      case _ => None
    }
  }

  /** Postgres-style `ARRAY[1, 2, 3]` constructor (DuckDB accepts it) →
    * `array(1, 2, 3)`. Must run BEFORE the bracket rewrite, which would
    * otherwise read it as a subscript of an identifier named ARRAY.
    * Nested constructors handled by recursing on the bracket body.
    */
  private def rewriteArrayCtor(sql: String): String =
    scanOutsideLiterals(sql) { (i, sb) =>
      var k = i + 5
      while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
      val close =
        if (keywordAt(sql, i, "ARRAY") && k < sql.length && sql.charAt(k) == '[')
          closerOf(sql, k)
        else -1
      if (close < 0) i
      else {
        sb.append("array(").append(rewriteArrayCtor(sql.substring(k + 1, close))).append(")")
        close + 1
      }
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
    * `depth` being the number of brackets — `(`, `[` and `{` alike —
    * opened since `from` and not yet closed before `i`. `f` returns `i`
    * to step one char, a larger index to skip what it consumed, or a
    * negative value to stop. Returns the index `f` stopped at, or -1 at
    * the end of the text. `$$…$$` and `e'…'` strings must be folded
    * first (foldLiterals).
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
          sql.charAt(i) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case _ =>
          }
          i += 1
        }
      }
    }
    -1
  }

  /** The first index at or after `i` that is neither whitespace nor
    * inside a comment.
    */
  private def skipBlank(sql: String, i0: Int): Int = {
    var i = i0
    while (i < sql.length && (sql.charAt(i).isWhitespace ||
        sql.startsWith("--", i) || sql.startsWith("/*", i)))
      i = if (sql.charAt(i).isWhitespace) i + 1 else consumeOpaque(sql, i, null)
    i
  }

  /** `sql` without its leading whitespace and comments (a leading
    * literal or quoted identifier stays: only comments are dropped).
    */
  private[graft] def dropLeadingComments(sql: String): String =
    sql.substring(skipBlank(sql, 0))

  /** Index of the bracket closing the one opened at `open`, or -1. */
  private def closerOf(sql: String, open: Int): Int =
    scanCode(sql, open) { (i, depth) =>
      if (depth == 1 && ")]}".indexOf(sql.charAt(i)) >= 0) -1 else i
    }

  /** First index of `needle` (case-insensitive) in code — outside
    * literals, quoted identifiers and comments — at bracket depth 0, or
    * at any depth when `anyDepth`; -1 if absent. A `::` cast is one
    * token, so the needle ":" never matches half of it.
    */
  private def indexOfCode(sql: String, needle: String,
      anyDepth: Boolean = false): Int =
    scanCode(sql) { (i, depth) =>
      if (sql.startsWith("::", i)) i + 2
      else if ((anyDepth || depth == 0) &&
          sql.regionMatches(true, i, needle, 0, needle.length)) -1
      else i
    }

  /** Split on `sep` at bracket depth 0. */
  private[engine] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var last = 0
    scanCode(s) { (i, depth) =>
      if (depth == 0 && s.charAt(i) == sep) {
        out += s.substring(last, i); last = i + 1
      }
      i
    }
    out += s.substring(last)
    out.result()
  }

  /** If position `open` points at the whitespace/`(` of a call, return
    * (its arguments split at depth-0 commas, index just past the
    * closing paren).
    */
  private[engine] def splitCallArgs(sql: String, open: Int): Option[(Seq[String], Int)] = {
    var o = open
    while (o < sql.length && sql.charAt(o).isWhitespace) o += 1
    if (o >= sql.length || sql.charAt(o) != '(') return None
    val args = Seq.newBuilder[String]
    var last = o + 1
    val close = scanCode(sql, o) { (i, depth) =>
      if (depth != 1) i
      else sql.charAt(i) match {
        case ',' => args += sql.substring(last, i); last = i + 1; i
        case ')' | ']' | '}' => -1
        case _ => i
      }
    }
    if (close < 0) None
    else {
      args += sql.substring(last, close)
      Some((args.result(), close + 1))
    }
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Start of the operand that ends just before `end`, whitespace and
    * comments between the two skipped; -1 when none ends there. An
    * operand is a run of directly adjacent pieces — words (names,
    * numbers), `.`, string literals, quoted identifiers and bracket
    * groups — so `t."a"`, `'it''s'`, `1.5`, `(a + b)` and `f(x)[2]` are
    * each one operand. A lone `END` is not one (it closes a CASE). One
    * forward scanCode pass from 0 finds it, so brackets inside literals
    * and comments never count.
    */
  private def operandBefore(text: String, end: Int): Int = {
    var start = -1 // the current level's trailing run of pieces…
    var last = -1  // …and the index just past its last piece
    var outer = List.empty[(Int, Int, Int)] // per open bracket: (start, last, open)
    def piece(s: Int, e: Int): Unit = {
      if (s != last) start = s
      last = e
    }
    var next = 0 // text[next, i) was skipped by scanCode: a literal or comment
    def skipped(i: Int): Unit = {
      if (i > next && (text.charAt(next) == '\'' || text.charAt(next) == '"'))
        piece(next, i)
      next = i
    }
    scanCode(text) { (i, _) =>
      if (i > end) -1
      else {
        skipped(i)
        if (i == end) -1
        else {
          text.charAt(i) match {
            case c if isWordChar(c) || c == '.' => piece(i, i + 1)
            case '(' | '[' | '{' =>
              outer = (start, last, i) :: outer; start = -1; last = -1
            case ')' | ']' | '}' if outer.nonEmpty =>
              val (s, l, open) = outer.head
              outer = outer.tail; start = s; last = l
              piece(open, i + 1)
            case c if c.isWhitespace =>
            case _ => start = -1; last = -1
          }
          next = i + 1
          i
        }
      }
    }
    if (next < end) skipped(end)
    if (start >= 0 && last - start == 3 &&
        text.regionMatches(true, start, "END", 0, 3)) -1
    else start
  }

  /** operandBefore at the end of the text emitted so far. */
  private def operandBefore(out: StringBuilder): Int = operandBefore(out.toString, out.length)

  /** Wrap the operand at the end of `out` as `fn(operand)`; false when
    * none ends there.
    */
  private def wrapOperandBefore(out: StringBuilder, fn: String): Boolean = {
    val start = operandBefore(out)
    if (start >= 0) {
      val operand = out.substring(start)
      out.setLength(start)
      out.append(s"$fn($operand)")
    }
    start >= 0
  }

  /** End (exclusive) of the operand that starts at `from` past
    * whitespace, comments and an optional sign; -1 when none starts
    * there. The same operand shapes as operandBefore.
    */
  private def operandAfter(text: String, from: Int): Int = {
    var s = skipBlank(text, from)
    if (s < text.length && (text.charAt(s) == '-' || text.charAt(s) == '+')) s += 1
    var last = s // the operand so far is text[s, last)
    var next = s // text[next, i) was skipped by scanCode: a literal or comment
    def skipped(i: Int): Unit =
      if (i > next && next == last &&
          (text.charAt(next) == '\'' || text.charAt(next) == '"')) last = i
    val stop = scanCode(text, s) { (i, depth) =>
      if (depth > 0) {
        if (depth == 1 && ")]}".indexOf(text.charAt(i)) >= 0) {
          last = i + 1; next = i + 1
        }
        i
      } else {
        skipped(i)
        val c = text.charAt(i)
        if (i != last) -1
        else if (isWordChar(c) || c == '.') { last = i + 1; next = i + 1; i }
        else if ("([{".indexOf(c) >= 0) i // a group: `last` moves at its closer
        else -1
      }
    }
    if (stop < 0) skipped(text.length)
    if (last > s) last else -1
  }

  /** scanOutsideLiterals's callback. A plain `(Int, StringBuilder) =>
    * Int` would box the index on every character of every pass.
    */
  private[graft] trait CodeStep { def apply(i: Int, sb: StringBuilder): Int }

  /** scanCode's copying form: rebuild `sql`, copying literals, quoted
    * identifiers and comments verbatim. `f(i, sb)` either returns an
    * index past `i` after appending its replacement for the text it
    * consumed to `sb`, or any other value to copy the char at `i`.
    */
  private[graft] def scanOutsideLiterals(sql: String)(f: CodeStep): String = {
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
    wordStart(sql, i) && sql.regionMatches(true, i, kw, 0, kw.length) &&
      (end >= sql.length ||
        !(Character.isLetterOrDigit(sql.charAt(end)) || sql.charAt(end) == '_'))
  }

  /** The first of `kws` that stands as a whole word at `i`. */
  private def keywordIn(sql: String, i: Int, kws: Seq[String]): Option[String] =
    if (!wordStart(sql, i) || !sql.charAt(i).isLetter) None
    else kws.find(keywordAt(sql, i, _))

  /** End of the identifier-like word (letters, digits, `_`) at `i`. */
  private[graft] def wordEnd(sql: String, i: Int): Int = {
    var j = i
    while (j < sql.length &&
      (Character.isLetterOrDigit(sql.charAt(j)) || sql.charAt(j) == '_')) j += 1
    j
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
              val obIdx = indexOfCode(spec, " ORDER BY ") match {
                case -1 =>
                  if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(spec)) 0 else -1
                case x => x
              }
              val hasFrame = Seq(" ROWS ", " RANGE ", " GROUPS ")
                .exists(f => indexOfCode(spec, f) >= 0)
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
  private def rewriteJsonArrows(sql: String): String =
    scanOutsideLiterals(sql) { (i, out) =>
      // forward-parse the arrow steps
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var j = i
      var more = sql.startsWith("->", i)
      while (more) {
        arrowStepRe.findPrefixMatchOf(sql.substring(j)) match {
          case Some(m) => steps += ((m.group(1), m.group(2))); j += m.end
          case None => more = false
        }
      }
      val lhsStart = if (steps.isEmpty) -1 else operandBefore(out)
      val literalLhs = lhsStart >= 0 && out.charAt(lhsStart) == '\''
      if (lhsStart < 0 || !(literalLhs || steps.last._1 == "->>")) i
      else {
        var expr = out.substring(lhsStart)
        out.setLength(lhsStart)
        steps.foreach { case (op, seg) =>
          val path = if (seg.startsWith("$")) seg else "$." + seg
          // `->` keeps the JSON-text form (DuckDB JSON type: '"x"',
          // '[1,2]'); only `->>` unquotes to VARCHAR
          val fn = if (op == "->>") "get_json_object" else "json_extract"
          expr = s"$fn($expr, '$path')"
        }
        out.append(expr)
        j
      }
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
      val rel = indexOfCode(cur.substring(searchFrom), " WINDOW ", anyDepth = true)
      if (rel < 0) return cur
      val wi = searchFrom + rel
      val (s0, e0) = scopeBounds(cur, wi)
      val scope = cur.substring(s0, e0)
      val wiS = wi - s0
      if (indexOfCode(scope, " WINDOW ") != wiS) { searchFrom = wi + 1 }
      else {
        val rest = scope.substring(wiS + " WINDOW ".length)
        val tailIdx = Seq(" ORDER BY ", " LIMIT ", " OFFSET ",
          " UNION ", " INTERSECT ", " EXCEPT ")
          .map(k => indexOfCode(rest, k)).filter(_ >= 0)
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
              indexOfCode(spec, " EXCLUDE ") >= 0 ||
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
      val qi = indexOfCode(cur, " QUALIFY ", anyDepth = true)
      if (qi < 0) return cur
      val (s0, e0) = scopeBounds(cur, qi)
      cur = cur.substring(0, s0) +
        rewriteQualifyScope(cur.substring(s0, e0)) +
        cur.substring(e0)
      guard += 1
    }
    cur
  }

  /** Bounds of the innermost bracketed scope containing `pos`:
    * (start-after-the-opener, index-of-its-closer) — or the whole string
    * when `pos` sits at depth 0.
    */
  private def scopeBounds(sql: String, pos: Int): (Int, Int) = {
    var opens = List.empty[Int] // open brackets before `pos`, innermost first
    scanCode(sql) { (i, _) =>
      if (i >= pos) -1
      else {
        sql.charAt(i) match {
          case '(' | '[' | '{' => opens = i :: opens
          case ')' | ']' | '}' => if (opens.nonEmpty) opens = opens.tail
          case _ =>
        }
        i
      }
    }
    opens.headOption match {
      case None => (0, sql.length)
      case Some(open) =>
        val close = closerOf(sql, open)
        (open + 1, if (close < 0) sql.length else close)
    }
  }

  /** Single-scope QUALIFY rewrite; `sql` is one SELECT scope (QUALIFY at
    * its depth 0).
    */
  private def rewriteQualifyScope(sql: String): String = {
    val qi = indexOfCode(sql, " QUALIFY ")
    if (qi < 0) return sql
    // head = everything before QUALIFY; find tail start (ORDER BY/LIMIT/
    // set-op at top level after the predicate)
    val head = sql.substring(0, qi)
    val rest = sql.substring(qi + " QUALIFY ".length)
    val tailIdx = Seq(" ORDER BY ", " LIMIT ", " OFFSET ",
      " UNION ", " INTERSECT ", " EXCEPT ")
      .map(k => indexOfCode(rest, k)).filter(_ >= 0)
      .sorted.headOption.getOrElse(rest.length)
    val pred = rest.substring(0, tailIdx).trim
    val tail = rest.substring(tailIdx)
    // inject `, (pred) AS __q` at the end of the head's select list =
    // just before its top-level FROM
    val fi = indexOfCode(head, " FROM ")
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
        val idx = indexOfCode(sql.substring(searchFrom), " EXCLUDE ", anyDepth = true)
        if (idx < 0) return None else searchFrom + idx
      }
      searchFrom = ei + 1
      val (sb0, se0) = scopeBounds(sql, ei)
      if (sb0 > 0 && se0 > sb0) {
        val beforeParen = sql.substring(0, sb0 - 1)
        val spec = sql.substring(sb0, se0)
        val overM = """(?is)^(.*?)\bOVER\s*$""".r.findFirstMatchIn(beforeParen)
        val exIdx = indexOfCode(spec, " EXCLUDE ")
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
    val aggStart = operandBefore(sql, overStart)
    if (aggStart < 0) return None
    val aggText = sql.substring(aggStart, overStart).trim
    val (fn, arg) = aggCallRe.findFirstMatchIn(aggText) match {
      case Some(m) => (m.group(1).toUpperCase, m.group(2).trim)
      case None => return None
    }
    if (!Set("SUM", "COUNT", "AVG").contains(fn)) return None
    if (arg.toUpperCase.startsWith("DISTINCT")) return None
    // spec anatomy
    val obIdx = indexOfCode(specClean, " ORDER BY ") match {
      case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None // EXCLUDE without ORDER BY: leave for parser
    val partPart = specClean.substring(0, obIdx).trim
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfCode(afterOb, k)).filter(_ >= 0)
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
    val aggStart = operandBefore(sql, overStart)
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
    val obIdx = indexOfCode(specClean, " ORDER BY ") match {
      case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(specClean)) 0 else -1
      case i => i
    }
    if (obIdx < 0) return None
    val afterOb = specClean.substring(obIdx)
      .replaceAll("""(?is)^\s*ORDER\s+BY\s+""", "")
    val frameIdx = Seq(" ROWS ", " RANGE ", " GROUPS ")
      .map(k => indexOfCode(afterOb, k)).filter(_ >= 0)
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
        val idx = indexOfCode(sql.substring(searchFrom), " GROUPS ", anyDepth = true)
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
        val obIdx = indexOfCode(spec, " ORDER BY ") match {
          case -1 => if ("""(?is)^\s*ORDER\s+BY\s.*""".r.matches(spec)) 0 else -1
          case i => i
        }
        val gIdx = indexOfCode(spec, " GROUPS ")
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
        .exists(k => indexOfCode(scope, k) >= 0)) return None
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
      .map(k => indexOfCode(scope, k)).filter(_ >= afterFrom)
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
      val rel = indexOfCode(scope.substring(from), " FROM ")
      if (rel < 0) return -1
      val i = from + rel
      val before = scope.substring(0, i).trim.toUpperCase
      if (!before.endsWith(" DISTINCT")) return i
      from = i + 1
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
