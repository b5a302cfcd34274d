package graft.engine

import org.apache.spark.sql.{DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal

/** The serving surface: SQL-string in → DataFrame / Arrow batches out,
  * mirroring the reference's DoGet contract
  * (/root/reference/main.go:196-250) with the server-level anti-patterns
  * fixed (SURVEY.md §4.4):
  *
  *  - schema comes from the ANALYZED plan, not a throwaway full
  *    execution (the reference runs every GetFlightInfo query twice,
  *    main.go:142-151 + 227-233);
  *  - statements are validated/classified BEFORE execution — write
  *    statements are rejected with a structured error instead of being
  *    handed to the engine raw (main.go:199-229);
  *  - each Gateway owns a cloned `newSession()` so SET state is
  *    per-client, not shared process-wide (main.go:41,113-116).
  *
  * DuckDB-dialect compatibility: the session's parser (GraftExtensions)
  * applies the Dialect.rewrite text shims (QUALIFY, `//`, GLOB, `->>`)
  * once per statement, Functions.register installs the scalar name
  * shims, and TableFunctions.register the table functions (file
  * readers, `duckdb_*()`, the pragma and parquet families), which the
  * analyzer resolves wherever a relation may stand, so DuckDB SQL in the
  * reference's test surface runs unchanged on every entry point of the
  * session. The parser also lowers DuckDB's stateless statements (PRAGMA,
  * SHOW, DESCRIBE t, SUMMARIZE, UNPIVOT, the transaction and maintenance
  * no-ops) to queries, and session variables and PREPARE/EXECUTE to
  * Spark's session variables and EXECUTE IMMEDIATE. This class handles
  * only what needs other session state or a second pass, on the
  * pre-parse text: secrets, extensions, macros, ATTACH, dynamic PIVOT,
  * UNION BY NAME, `LIMIT n%`, bare-UNION recursion, `DESCRIBE <query>`
  * and EXPLAIN ANALYZE. Values bind through Spark (`sql(text, params)`),
  * never as text.
  */
final class Gateway private (val session: SparkSession, readOnly: Boolean) {

  /** True only while Gateway.open runs the operator's init script —
    * the one window where ATTACH is accepted unconditionally, mirroring
    * the reference, which confines ATTACH to the server-side `-init`
    * hook (main.go:108): it is never part of the client-reachable
    * surface there, and an untrusted client must not be able to make
    * this server open gRPC connections to arbitrary host:port (SSRF).
    */
  @volatile private[engine] var initializing = false

  /** Statements allowed in read-only mode (reference serves its DB with
    * access_mode=read_only, main.go:61; D6/D3 of SURVEY §2.12 stay
    * allowed like the reference's init surface). The DuckDB statements
    * the parser lowers to queries (Dialect.rewriteStatements) pass this
    * gate on their first word; ReadOnlyGuard still classifies what they
    * parse to, so `ANALYZE TABLE t COMPUTE STATISTICS` stays refused.
    */
  private val readOnlyAllowed =
    Seq("SELECT", "WITH", "VALUES", "SET", "RESET", "SHOW", "DESCRIBE",
      "DESC", "EXPLAIN", "CREATE VIEW", "CREATE OR REPLACE VIEW",
      "CREATE TEMP VIEW", "CREATE TEMPORARY VIEW",
      "CREATE OR REPLACE TEMP VIEW", "CREATE OR REPLACE TEMPORARY VIEW",
      "DROP VIEW", "TABLE", "FROM", "ATTACH", "PRAGMA", "SUMMARIZE",
      "UNPIVOT", "BEGIN", "COMMIT", "ROLLBACK", "ABORT", "ANALYZE", "VACUUM",
      "CHECKPOINT", "FORCE CHECKPOINT", "PREPARE", "EXECUTE", "DEALLOCATE")

  // quote marks must MATCH (backreference): INSTALL 'airport" falls
  // through to the parser's error instead of silently succeeding
  private val installRe =
    """(?is)(FORCE\s+)?INSTALL\s+(['"])?(\w+)(?:\2)?(?:\s+FROM\s+\S+)?\s*;?\s*""".r
  private val loadRe = """(?is)LOAD\s+(['"])?(\w+)(?:\1)?\s*;?\s*""".r

  /** Session extension state: name → (loaded, installed). Seeded from
    * Gateway.extensionRegistry; INSTALL/LOAD statements transition it
    * and re-publish the duckdb_extensions view (D2/D4 of SURVEY §2.12).
    * The function surface is statically linked — INSTALL moves no bytes
    * — but the *lifecycle* is real: the reference's own init script
    * (`INSTALL airport FROM community; LOAD airport`, k8s/main.yaml:
    * 110-114) runs verbatim, and the smoke client's
    * `duckdb_extensions() WHERE installed` probe (client/main.go:27)
    * reflects what this session did.
    */
  private val extState = scala.collection.mutable.LinkedHashMap(
    Gateway.extensionRegistry.map { case (n, l, i) => n -> ((l, i)) }: _*)

  // extState mutation + view publish under one lock: a Gateway session
  // serving concurrent statements (Flight) must not lose updates or
  // publish a half-written duckdb_extensions view
  private def installExtension(name: String): DataFrame = extState.synchronized {
    val key = name.toLowerCase
    if (!extState.contains(key))
      throw new GatewayException(
        s"""Extension "$name" not found: this build links a closed extension set (${extState.keys.mkString(", ")})""")
    val (loaded, _) = extState(key)
    extState(key) = (loaded, true)
    Gateway.publishExtensionsView(session, extState.toSeq.map {
      case (n, (l, i)) => (n, l, i) })
    success
  }

  private def loadExtension(name: String): DataFrame = extState.synchronized {
    val key = name.toLowerCase
    val (_, installed) = extState.getOrElse(key,
      throw new GatewayException(
        s"""Extension "$name" not found: this build links a closed extension set (${extState.keys.mkString(", ")})"""))
    if (!installed)
      throw new GatewayException(
        s"""Extension "$name" is not installed: run INSTALL $name first (DuckDB LOAD semantics)""")
    extState(key) = (true, true)
    Gateway.publishExtensionsView(session, extState.toSeq.map {
      case (n, (l, i)) => (n, l, i) })
    success
  }
  private val pivotRe =
    ("""(?is)^PIVOT\s+([\w.]+)\s+ON\s+([\w.]+)\s+USING\s+(.+?)""" +
      """\s+GROUP\s+BY\s+([\w.\s,]+?)\s*(ORDER\s+BY[\w.\s,]+?)?\s*(LIMIT\s+\d+)?\s*;?\s*$""").r
  private val pivotNoGroupRe =
    ("""(?is)^PIVOT\s+([\w.]+)\s+ON\s+([\w.]+)\s+USING\s+(.+?)""" +
      """\s*(ORDER\s+BY[\w.\s,]+?)?\s*(LIMIT\s+\d+)?\s*;?\s*$""").r
  private val attachRe =
    """(?is)ATTACH\s+'(\w+)'\s*\(\s*TYPE\s+AIRPORT\s*,\s*location\s+'([^']+)'\s*\)\s*;?\s*""".r

  /** DuckDB's empty `Success BOOLEAN` result of a statement that
    * returns no rows. */
  private def success: DataFrame = session.sql("SELECT true AS Success").limit(0)

  /** `SELECT * FROM <df> tail`: the statement tail runs over a DataFrame
    * result, whose plan stands in for the placeholder relation (no temp
    * view, no lock).
    */
  private def queryOver(df: DataFrame, tail: String,
      params: Seq[(String, Literal)]): DataFrame =
    GraftPlans.ofRows(session, RecursiveSql.substitute(
      GraftPlans.parsePlan(session, s"SELECT * FROM __graft_over $tail", params),
      Map("__graft_over" -> GraftPlans.analyzed(df))))

  /** The read-only gateway's first gate, on the statement's leading
    * keyword (past comments and any opening parentheses, as in
    * `(SELECT …) UNION ALL (SELECT …)`); ReadOnlyGuard still checks the
    * parsed plan.
    */
  private def requireReadOnly(stmt: String): Unit = if (readOnly) {
    val up = Dialect.dropLeadingComments(stmt)
      .dropWhile(c => c == '(' || c.isWhitespace).toUpperCase
    if (!readOnlyAllowed.exists(up.startsWith))
      throw new GatewayException(
        s"read-only gateway: statement rejected (${up.takeWhile(_ != ' ')})")
  }

  def sql(text: String): DataFrame = sql(text, Nil)

  /** `text` with `params` bound by Spark: the values bind to `?` by
    * position and to `:name` markers by name — DuckDB's `$1` and `$name`
    * are `:_1` and `:name` (Dialect.rewriteMarkers), so the i-th of a
    * positional value list is named `_i`.
    */
  def sql(text: String, params: Seq[(String, Literal)]): DataFrame = {
    // fold `$$…$$` and `e'…'` strings first: every scan below
    // (Dialect.scanCode) knows only plain '…' literals. current_query()
    // reports the statement as sent. With values to bind, each `?` takes
    // its number (`:_k`), so a statement split below keeps it. Then drop
    // leading comments, so the anchored routes below see the statement's
    // first word
    val stated = Dialect.substituteCurrentQuery(Dialect.foldLiterals(text.trim))
    val trimmed = Dialect.dropLeadingComments(
      if (params.isEmpty) stated else Dialect.namedMarkers(stated)._1)
    secretStatement(trimmed) match {
      case Some(props) => return applySecret(props)
      case None =>
    }
    // extension lifecycle — session-scoped state over the closed
    // statically-linked registry (no bytes move; see extState)
    trimmed match {
      case installRe(_, _, name) => return installExtension(name)
      case loadRe(_, name) => return loadExtension(name)
      case _ =>
    }
    trimmed match {
      // DESCRIBE <query>: DuckDB's six-column layout (column_name,
      // column_type, null, key, default, extra) of the query's schema;
      // `DESCRIBE t` lowers in the parser (Dialect.rewriteStatements)
      case describeSelectRe(body) =>
        return TableFunctions.describe(session, this.sql(body, params).schema)
      case explainAnalyzeRe(body) =>
        // DuckDB EXPLAIN ANALYZE runs the query; report the EXECUTED
        // physical plan (AQE-final) in DuckDB's two-column shape
        val df = this.sql(body, params)
        df.write.format("noop").mode("overwrite").save()
        import session.implicits._
        return Seq(("analyzed_plan", df.queryExecution.executedPlan.toString))
          .toDF("explain_key", "explain_value")
      case _ =>
    }
    // CREATE/DROP MACRO — session-scoped like CREATE VIEW (D6), so the
    // read-only gateway accepts it; calls expand textually below.
    trimmed match {
      case createMacroRe(name, params, table, body) =>
        defineMacro(name, params, table != null, body)
        return success
      case dropMacroRe(name) =>
        if (macros.remove(name.toLowerCase).isEmpty)
          throw new GatewayException(s"macro not found: $name")
        return success
      case _ =>
    }
    val expanded = expandColumnsExpr(expandMacros(trimmed))
    // PREPARE keeps its body as text for EXECUTE (the parser lowers both
    // onto a session variable): the two-pass forms below do not apply
    if (Dialect.keywordAt(expanded, 0, "PREPARE")) return query(expanded, params)
    // `a UNION [ALL] BY NAME b [ORDER BY … LIMIT …]`: Spark has
    // unionByName only in the DataFrame API — split at the top level,
    // run each side through the full gateway path, and re-apply any
    // trailing ORDER BY/LIMIT over the combined result.
    splitUnionByName(expanded) match {
      case Some((left, right, keepAll)) =>
        val (rightBody, tail) = splitTopLevelTail(right)
        var df = this.sql(left, params).unionByName(
          this.sql(rightBody, params), allowMissingColumns = true)
        if (!keepAll) df = df.distinct()
        return if (tail.isEmpty) df else queryOver(df, tail, params)
      case None =>
    }
    // DuckDB `PIVOT t ON c USING agg [GROUP BY g] [ORDER BY …] [LIMIT n]`
    // (the dynamic-pivot statement, T4): two passes — collect the pivot
    // column's domain (cardinality-capped by pivotDomain), then the
    // relational pivot. The no-GROUP-BY form groups by every column the
    // statement doesn't otherwise reference (DuckDB's implicit
    // group-by-rest, pinned in GatewaySpec).
    def runPivot(tbl: String, onCol: String, using: String,
        groupBy: Option[String], orderBy: String, limit: String): DataFrame = {
      import org.apache.spark.sql.functions.{col, expr}
      val base = session.table(tbl)
      val groupCols = groupBy match {
        case Some(g) => g.split(",").map(_.trim)
        case None =>
          // implicit group-by-rest: every base column not the pivot
          // key and not referenced by the USING aggregate
          val usingWords = """[A-Za-z_][A-Za-z_0-9]*""".r
            .findAllIn(using.toLowerCase).toSet
          base.columns.filterNot(c =>
            c.equalsIgnoreCase(onCol) || usingWords.contains(c.toLowerCase))
      }
      val domain = graft.operators.GeneratorQueries.pivotDomain(base, onCol)
      var df = base
        .groupBy(groupCols.map(col): _*)
        .pivot(onCol, domain)
        .agg(expr(using.trim))
      // DuckDB's count-pivot reports 0 for absent cells, not NULL
      if (using.trim.toLowerCase.startsWith("count")) df = df.na.fill(0L)
      val tailText = Seq(Option(orderBy), Option(limit)).flatten
        .map(_.trim).mkString(" ")
      if (tailText.isEmpty) df else queryOver(df, tailText, params)
    }
    expanded match {
      case pivotRe(tbl, onCol, using, groupBy, orderBy, limit) =>
        return runPivot(tbl, onCol, using, Some(groupBy), orderBy, limit)
      case pivotNoGroupRe(tbl, onCol, using, orderBy, limit)
          // a USING tail that still contains GROUP BY means the greedy
          // no-group regex mis-split an explicit-group statement that
          // the stricter pattern rejected — let the parser error speak
          if !using.toUpperCase.contains("GROUP BY") =>
        return runPivot(tbl, onCol, using, None, orderBy, limit)
      case _ =>
    }
    // `ATTACH 'name' (TYPE AIRPORT, location 'grpc://host:port')` — the
    // reference's remote-Flight-catalog attach (k8s/main.yaml:155, run
    // through the init hook main.go:108). Binds a V2 CatalogPlugin
    // (sources.FlightCatalog) on THIS session, so `name.main.<table>`
    // resolves through Catalyst; read-only-safe (adds a read path).
    expanded match {
      case attachRe(name, location) =>
        val uri = java.net.URI.create(location)
        if (uri.getScheme != "grpc" || uri.getHost == null || uri.getPort <= 0)
          throw new GatewayException(
            s"ATTACH AIRPORT location must be grpc://host:port, got '$location'")
        // Operator-gated: accepted from the init script, or when the
        // endpoint is on the operator-set allowlist. Clients cannot
        // widen the allowlist themselves — ReadOnlyGuard rejects SET of
        // spark.graft.* (and of spark.sql.catalog.*, the conf this
        // handler writes, closing the direct-SET bypass too).
        // hostnames are case-insensitive (RFC 4343): normalize both the
        // allowlist entries and the parsed location to lowercase so an
        // operator's "Host:1234" still matches — fail-closed stays, the
        // brittleness goes. IPv6 literals are compared bracket-stripped
        // (URI.getHost keeps the brackets; operators write either form).
        def hostKey(h: String): String =
          h.toLowerCase.stripPrefix("[").stripSuffix("]")
        val allowed = initializing ||
          session.conf.getOption(Gateway.attachAllowKey).exists(
            _.split(",").map(_.trim.toLowerCase).map { e =>
              val i = e.lastIndexOf(':')
              if (i < 0) e else hostKey(e.substring(0, i)) + ":" + e.substring(i + 1)
            }.contains(s"${hostKey(uri.getHost)}:${uri.getPort}"))
        if (!allowed)
          throw new GatewayException(
            s"ATTACH is operator-gated: '${uri.getHost}:${uri.getPort}' is " +
              s"not in ${Gateway.attachAllowKey} and this statement is not " +
              "from the server init script")
        // never shadow the session catalog (FlightCatalog is not a
        // CatalogExtension — binding it there would break every query)
        if (name.equalsIgnoreCase("spark_catalog"))
          throw new GatewayException("cannot ATTACH over 'spark_catalog'")
        // Spark's CatalogManager caches loaded catalog instances, so a
        // re-ATTACH under the same name with a different endpoint would
        // silently keep serving the OLD endpoint — reject it instead
        val key = s"spark.sql.catalog.$name"
        val already = session.conf.getOption(key).isDefined
        val sameLoc =
          session.conf.getOption(s"$key.host").contains(uri.getHost) &&
            session.conf.getOption(s"$key.port").contains(uri.getPort.toString)
        if (already && !sameLoc)
          throw new GatewayException(
            s"catalog '$name' is already attached to a different location; " +
              "detaching requires a new session")
        session.conf.set(key, "graft.sources.FlightCatalog")
        session.conf.set(s"$key.host", uri.getHost)
        session.conf.set(s"$key.port", uri.getPort.toString)
        import session.implicits._
        return Seq((name, location)).toDF("attached", "location")
      case _ =>
    }
    // DuckDB percentage LIMIT — `LIMIT n%` keeps floor(n% of the result
    // rows). Inherently two-pass (DuckDB materializes and counts
    // internally too): run the body, count, limit. The count is one
    // aggregate job, not a collect.
    pctLimit(expanded) match {
      case Some((body, pct)) =>
        val base = query(body, params)
        val k = math.floor(base.count() * pct / 100.0).toLong
        base.limit(math.min(math.max(0L, k), Int.MaxValue.toLong).toInt)
      case None => query(expanded, params)
    }
  }

  /** The statement as the session parses it (GraftSqlParser applies
    * Dialect.rewrite and ReadOnlyGuard), `params` bound by Spark, past
    * the read-only gateway's first gate. WITH RECURSIVE … UNION (bare):
    * DuckDB-dialect dedup recursion. Spark 4.1's native recursive CTE
    * covers only UNION ALL, so RecursiveSql runs the bare-UNION shape
    * through the engine's semi-naive fixpoint (Recursive.fixpoint —
    * identical semantics: each round's working table is the new distinct
    * rows) and hands every other shape to Spark as parsed.
    */
  private def query(text: String, params: Seq[(String, Literal)]): DataFrame = {
    requireReadOnly(text)
    if (RecursiveSql.isRecursive(text)) RecursiveSql.sql(session, text, params)
    else {
      val df = GraftPlans.sql(session, text, params)
      df.queryExecution.assertAnalyzed() // structured failure before execution
      df
    }
  }

  /** `… LIMIT n%` at statement end: the body before the last LIMIT
    * that stands in code at depth 0, and n ('%' is unambiguous there: a
    * modulo expression cannot terminate a LIMIT clause followed by
    * nothing). */
  private def pctLimit(sql: String): Option[(String, Double)] = {
    var at = -1
    if (sql.contains('%')) Dialect.scanCode(sql) { (i, depth) =>
      if (depth == 0 && Dialect.keywordAt(sql, i, "LIMIT")) at = i
      i
    }
    def blank(s: String) = Dialect.dropLeadingComments(s).isEmpty
    if (at < 0) None
    else pctClauseRe.findPrefixMatchOf(sql.substring(at)).collect {
      // only comments and one ';' may follow the clause
      case m if blank(Dialect.dropLeadingComments(m.after.toString).stripPrefix(";")) =>
        (sql.substring(0, at).trim, m.group(1).toDouble)
    }
  }
  private val pctClauseRe = """(?i)^LIMIT\s+(\d+(?:\.\d+)?)\s*%""".r
  private val describeSelectRe =
    """(?is)^DESC(?:RIBE)?\s+((?:SELECT|WITH|VALUES|FROM|TABLE)\b.+)$""".r
  private val explainAnalyzeRe = """(?is)^EXPLAIN\s+ANALYZE\s+(.+)$""".r

  // ---- CREATE MACRO (scalar + table) ---------------------------------
  // DuckDB macros are session-scoped SQL templates; the engine expands
  // calls TEXTUALLY before parsing (DuckDB binds at call time too, so
  // divergences are limited to error wording). Positional params bind
  // positionally; `name := default` params bind only by name
  // (DuckDB-verified). Table macros expand to parenthesized subqueries
  // in FROM position.

  private case class SqlMacro(
      positional: Seq[String],
      defaults: Seq[(String, String)],
      body: String,
      table: Boolean)

  private val macros =
    scala.collection.mutable.HashMap.empty[String, SqlMacro]

  private val createMacroRe =
    """(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MACRO|FUNCTION)\s+(\w+)\s*\(([^)]*)\)\s*AS\s+(TABLE\s+)?(.+?);?\s*$""".r
  private val dropMacroRe =
    """(?is)^DROP\s+(?:MACRO|FUNCTION)\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r

  private def defineMacro(
      name: String, paramList: String, table: Boolean, body: String): Unit = {
    val raw = paramList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val (defaulted, positional) = raw.partition(_.contains(":="))
    val defaults = defaulted.map { d =>
      val Array(k, v) = d.split(":=", 2)
      (k.trim, v.trim)
    }
    positional.foreach(p => require(p.matches("\\w+"),
      s"macro parameter must be an identifier: '$p'"))
    macros.put(name.toLowerCase,
      SqlMacro(positional, defaults, body.trim, table))
  }

  /** Substitute `args` for `params` in `body` at identifier boundaries,
    * outside literals and comments; each value is parenthesized (textual
    * macro hygiene, same effect as DuckDB's expression binding).
    */
  private def substituteParams(
      body: String, bind: Map[String, String]): String = {
    Dialect.scanOutsideLiterals(body) { (i, sb) =>
      val c = body.charAt(i)
      if (!(c.isLetter || c == '_')) i
      else {
        val j = Dialect.wordEnd(body, i)
        val word = body.substring(i, j)
        sb.append(bind.get(word.toLowerCase).map(v => s"($v)").getOrElse(word))
        j
      }
    }
  }

  /** Expand macro calls outside literals and comments: one call per
    * pass, each pass rescanning the result, at most 16 passes.
    */
  private def expandMacros(sql: String): String = {
    if (macros.isEmpty) return sql
    var cur = sql
    var depth = 0
    var changed = true
    while (changed && depth < 16) {
      changed = false
      depth += 1
      val text = cur
      Dialect.scanCode(text) { (i, _) =>
        val c = text.charAt(i)
        if (!((c.isLetter || c == '_') && Dialect.wordStart(text, i))) i
        else {
          val j = Dialect.wordEnd(text, i)
          val word = text.substring(i, j).toLowerCase
          val call = macros.get(word).flatMap { m =>
            var k = j
            while (k < text.length && text.charAt(k).isWhitespace) k += 1
            if (k < text.length && text.charAt(k) == '(')
              Dialect.splitCallArgs(text, k).map(m -> _)
            else None
          }
          call match {
            case Some((m, (args, end))) =>
              cur = text.substring(0, i) + "(" + expandCall(word, m, args) +
                ")" + text.substring(end)
              changed = true
              -1
            case None => j
          }
        }
      }
    }
    cur
  }

  /** One macro call's body with its arguments bound. */
  private def expandCall(word: String, m: SqlMacro, args: Seq[String]): String = {
    val (named, pos) = args.map(_.trim).filter(_.nonEmpty)
      .partition(_.matches("(?s)\\w+\\s*:=.*"))
    require(pos.length == m.positional.length,
      s"macro $word expects ${m.positional.length} positional " +
        s"argument(s), got ${pos.length}")
    val namedBind = named.map { a =>
      val Array(k0, v0) = a.split(":=", 2)
      (k0.trim.toLowerCase, v0.trim)
    }.toMap
    val bind =
      m.positional.map(_.toLowerCase).zip(pos).toMap ++
        m.defaults.map { case (k0, dflt) =>
          k0.toLowerCase -> namedBind.getOrElse(k0.toLowerCase, dflt)
        }.toMap
    substituteParams(m.body, bind)
  }

  // ---- COLUMNS() star expression -------------------------------------
  // DuckDB `COLUMNS('regex')` / `COLUMNS(*)` / `COLUMNS(* EXCLUDE (…))`
  // replicates the ENCLOSING select item once per matched column, named
  // after the column (`SELECT max(COLUMNS('a.*')) FROM t` → one max per
  // matching column, DuckDB-verified: regex is a SEARCH match).
  // Expansion needs the FROM relation's schema, so it lives here rather
  // than in the stateless Dialect: supported when the first top-level
  // FROM names a catalog relation; other shapes pass through (and fail
  // with the parser's unresolved-COLUMNS error).
  private val columnsCallRe = """(?i)\bCOLUMNS\s*\(""".r
  private val fromIdentRe = """(?i)\bFROM\s+([\w.]+)""".r

  private def expandColumnsExpr(sql: String): String = {
    if (!sql.toUpperCase.contains("COLUMNS")) return sql
    val selAt = sql.toUpperCase.indexOf("SELECT")
    if (selAt < 0) return sql
    val fromAt = topLevelKeywordIndex(sql, "FROM")
    if (fromAt < 0) return sql
    val table = fromIdentRe.findPrefixMatchOf(sql.substring(fromAt)) match {
      case Some(m) => m.group(1)
      case None => return sql
    }
    val schema =
      try session.table(table).schema
      catch { case _: Exception => return sql }
    val listStart = selAt + "SELECT".length
    val selectList = sql.substring(listStart, fromAt)
    if (!columnsCallRe.findFirstIn(selectList).isDefined) return sql
    val items = Dialect.splitTopLevel(selectList, ',').map { item =>
      columnsCallRe.findFirstMatchIn(item) match {
        case Some(m) =>
          Dialect.splitCallArgs(item, m.end - 1) match {
            case Some((args, end)) if args.length == 1 =>
              val arg = args.head.trim
              val names: Seq[String] =
                if (arg == "*") schema.fieldNames.toSeq
                else if (arg.toUpperCase.startsWith("*")) {
                  val ex = """(?i)\*\s*EXCLUDE\s*\(([^)]*)\)""".r
                  ex.findFirstMatchIn(arg) match {
                    case Some(e) =>
                      val drop = e.group(1).split(",")
                        .map(_.trim.toLowerCase).toSet
                      schema.fieldNames.toSeq
                        .filterNot(n => drop(n.toLowerCase))
                    case None => return sql
                  }
                } else if (arg.startsWith("'") && arg.endsWith("'")) {
                  val re = java.util.regex.Pattern.compile(
                    arg.substring(1, arg.length - 1).replace("''", "'"))
                  schema.fieldNames.toSeq.filter(n => re.matcher(n).find())
                } else return sql
              if (names.isEmpty)
                throw new GatewayException(
                  s"COLUMNS: no columns match $arg in $table")
              names.map { n =>
                item.substring(0, m.start) + n + item.substring(end) +
                  s" AS $n"
              }.mkString(", ")
            case _ => item
          }
        case None => item
      }
    }
    sql.substring(0, listStart) + " " + items.mkString(", ").trim + " " +
      sql.substring(fromAt)
  }

  /** First depth-0 occurrence of any of `kws` outside literals and
    * comments, or -1. */
  private def topLevelKeywordIndex(sql: String, kws: String*): Int =
    Dialect.scanCode(sql) { (i, depth) =>
      if (depth == 0 && kws.exists(Dialect.keywordAt(sql, i, _))) -1 else i
    }

  // ---- UNION [ALL] BY NAME -------------------------------------------
  /** Split at the FIRST top-level `UNION [ALL] BY NAME`; the right side
    * recurses through gateway sql, so chains fold left-associatively.
    */
  private val unionByNameRe = """(?i)^UNION\s+(ALL\s+)?BY\s+NAME\b""".r

  private def splitUnionByName(sql: String): Option[(String, String, Boolean)] = {
    var out: Option[(String, String, Boolean)] = None
    Dialect.scanCode(sql) { (i, depth) =>
      if (depth != 0 || !Dialect.keywordAt(sql, i, "UNION")) i
      else unionByNameRe.findPrefixMatchOf(sql.substring(i)) match {
        case Some(m) =>
          out = Some((sql.substring(0, i).trim,
            sql.substring(i + m.end).trim, m.group(1) != null))
          -1
        case None => i
      }
    }
    out
  }

  /** Split a trailing top-level `ORDER BY …` / `LIMIT …` off a query
    * body (so it can re-apply over a combined DataFrame).
    */
  private def splitTopLevelTail(sql: String): (String, String) = {
    val cut = topLevelKeywordIndex(sql, "ORDER", "LIMIT")
    if (cut < 0) (sql, "") else (sql.substring(0, cut).trim, sql.substring(cut).trim)
  }

  private val secretRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?(?:PERSISTENT\s+)?SECRET\s*(?:\w+\s*)?\(\s*(.*)\)\s*;?\s*""".r
  private val secretPropRe =
    """(?i)(\w+)\s+(?:'([^']*)'|([^\s,]+))""".r

  private def secretStatement(sql: String): Option[Map[String, String]] =
    sql match {
      case secretRe(body) =>
        // group(2) = quoted value, taken verbatim; group(3) = bare token,
        // which the char class already keeps comma-free
        Some(secretPropRe.findAllMatchIn(body).map { m =>
          m.group(1).toLowerCase -> Option(m.group(2)).getOrElse(m.group(3))
        }.toMap)
      case _ => None
    }

  /** `CREATE SECRET (TYPE s3, KEY_ID …, SECRET …, ENDPOINT …, …)` — the
    * reference's credential objects (D5 of SURVEY §2.12,
    * /root/reference/k8s/main.yaml:116-131) — map onto SESSION-scoped
    * conf overrides (copied into `sessionState.newHadoopConf()` for
    * every read), NOT the context-global hadoopConfiguration: one
    * client's credentials must never mutate another session's S3
    * access. Credentials are
    * session-state like DuckDB's, orthogonal to database read-only-ness
    * (the reference provisions secrets while serving read_only). Unknown
    * secret types are accepted and ignored (the reference tolerates
    * unloadable extensions the same way). Returns an empty OK result
    * like DuckDB's.
    */
  private def applySecret(props: Map[String, String]): DataFrame = {
    if (props.get("type").exists(_.equalsIgnoreCase("s3"))) {
      // unprefixed keys: SessionState.newHadoopConf() copies session
      // SQLConf entries into the effective Hadoop conf verbatim (the
      // spark.hadoop. prefix is only stripped at context creation)
      def set(k: String, v: String): Unit = session.conf.set(k, v)
      props.get("key_id").foreach(set("fs.s3a.access.key", _))
      props.get("secret").foreach(set("fs.s3a.secret.key", _))
      props.get("region").foreach(set("fs.s3a.endpoint.region", _))
      props.get("endpoint").foreach(set("fs.s3a.endpoint", _))
      props.get("use_ssl").foreach(v =>
        set("fs.s3a.connection.ssl.enabled", v.toLowerCase))
      props.get("url_style").foreach(v =>
        set("fs.s3a.path.style.access", (v.toLowerCase == "path").toString))
    }
    success
  }

  /** Result schema without executing — the fix for the reference's
    * double-execution probe (SURVEY §4.4 item 1).
    */
  def schemaOf(text: String): org.apache.spark.sql.types.StructType =
    sql(text).schema

  /** Arrow IPC stream of the result — the DoGet tail
    * (main.go:235-243): one serialized schema message, then record
    * batches, streamed incrementally per partition.
    */
  def arrowStream(text: String, maxRecordsPerBatch: Int = 10000): Iterator[Array[Byte]] =
    org.apache.spark.sql.GraftArrow.stream(sql(text), maxRecordsPerBatch)

  /** Server metadata — the CommandGetSqlInfo analog (main.go:352-366). */
  def sqlInfo: DataFrame = {
    import session.implicits._
    Seq(
      ("server_name", "graft"),
      ("server_version", "spark-" + session.version),
      ("arrow_version", "ipc"),
      ("read_only", readOnly.toString),
      ("identifier_quote_char", "`"))
      .toDF("info_name", "value")
  }
}

final class GatewayException(msg: String) extends RuntimeException(msg)

object Gateway {

  /** The closed statically-linked extension registry: (name, loaded,
    * installed) defaults. core entries ship loaded; httpfs (CREATE
    * SECRET → S3A) and airport (ATTACH → FlightCatalog) are PRESENT in
    * the binary but follow DuckDB's install-then-load lifecycle so the
    * reference's init script and smoke probe behave identically here
    * (SURVEY §2.12 D2/D4).
    */
  private[engine] val extensionRegistry: Seq[(String, Boolean, Boolean)] =
    Seq(
      ("core_functions", true, true), ("parquet", true, true),
      ("json", true, true), ("csv", true, true),
      ("dialect_shims", true, true), ("vector_math", true, true),
      ("httpfs", false, false), ("airport", false, false))

  private[engine] def publishExtensionsView(
      sess: SparkSession, state: Seq[(String, Boolean, Boolean)]): Unit = {
    import sess.implicits._
    state.toDF("extension_name", "loaded", "installed")
      .createOrReplaceTempView("duckdb_extensions")
  }

  /** Conf listing remote Flight endpoints (`host:port`, comma-separated)
    * a CLIENT is allowed to ATTACH. Operator-set only: ReadOnlyGuard
    * rejects SET/RESET of spark.graft.* keys in read-only sessions.
    */
  val attachAllowKey = "spark.graft.attach.allow"

  /** Open a gateway over a cloned session (isolated SET/temp-view state),
    * register the fixture tables + dialect shims, then run the optional
    * init script — the reference's `-init` hook (main.go:32,107-111),
    * with per-statement error capture instead of silent prints.
    *
    * `spark` must be built with `spark.sql.extensions=
    * graft.engine.GraftExtensions`: its parser (GraftSqlParser) is the
    * only place the DuckDB dialect (Dialect.rewrite) is applied, so on a
    * plain session dialect statements reach Spark's parser untranslated.
    */
  def open(
      spark: SparkSession,
      dataDir: String,
      readOnly: Boolean = true,
      initScript: Option[String] = None,
      attachAllow: Seq[String] = Nil): Gateway = {
    val sess = spark.newSession()
    // Spark 4.1 ships TIME behind a feature flag — DuckDB clients use
    // TIME literals/casts freely, so the dialect session turns it on
    // (closes the round-6 "TIME round-trips as VARCHAR" divergence)
    sess.conf.set("spark.sql.timeType.enabled", "true")
    // DuckDB reads "…" as an identifier, never a string; Spark does so
    // only with this flag, which takes effect under ANSI mode
    // (spark.sql.ansi.enabled, the default)
    sess.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    // parser-level enforcement flag (ReadOnlyGuard): Thrift/JDBC clients
    // execute on this session directly, never through Gateway.sql
    if (readOnly) sess.conf.set("spark.graft.readOnly", "true")
    if (attachAllow.nonEmpty)
      sess.conf.set(attachAllowKey, attachAllow.mkString(","))
    Tables.register(sess, dataDir)
    Functions.register(sess)
    TableFunctions.register(sess)
    val gw = new Gateway(sess, readOnly)
    initScript.foreach { script =>
      gw.initializing = true // ATTACH allowed only here (operator surface)
      try {
        script.split(";").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
          try gw.sql(stmt).collect()
          catch {
            case e: Exception =>
              // init failures are logged, not fatal (main.go:109-111)
              System.err.println(s"[gateway-init] failed: ${e.getMessage}")
          }
        }
      } finally gw.initializing = false
    }
    gw
  }
}
