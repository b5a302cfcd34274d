package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * once per statement, + Functions.register name shims, so DuckDB SQL
  * in the reference's test surface runs unchanged. This class handles
  * only the statements Spark cannot parse at all, on the pre-parse text.
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
    * allowed like the reference's init surface).
    */
  private val readOnlyAllowed =
    Seq("SELECT", "WITH", "VALUES", "SET", "RESET", "SHOW", "DESCRIBE",
      "DESC", "EXPLAIN", "CREATE VIEW", "CREATE OR REPLACE VIEW",
      "CREATE TEMP VIEW", "CREATE TEMPORARY VIEW",
      "CREATE OR REPLACE TEMP VIEW", "CREATE OR REPLACE TEMPORARY VIEW",
      "DROP VIEW", "TABLE", "FROM", "ATTACH")

  private val summarizeRe = """(?is)SUMMARIZE\s+([\w.]+)\s*;?\s*""".r
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
  private val unpivotRe =
    ("""(?is)^UNPIVOT\s+([\w.]+)\s+ON\s+(.+?)\s+INTO\s+NAME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s*(ORDER\s+BY[\w.\s,]+?)?\s*(LIMIT\s+\d+)?\s*;?\s*$""").r
  private val attachRe =
    """(?is)ATTACH\s+'(\w+)'\s*\(\s*TYPE\s+AIRPORT\s*,\s*location\s+'([^']+)'\s*\)\s*;?\s*""".r

  /** DuckDB's empty `Success BOOLEAN` result of a statement that
    * returns no rows. */
  private def success: DataFrame = session.sql("SELECT true AS Success").limit(0)

  /** Register `df` as a temp view under the session lock, analyze
    * `head <view> tail` (which inlines the view's plan) and drop the
    * view again: the statement tail runs over a DataFrame result.
    */
  private def queryOver(df: DataFrame, tail: String,
      head: String = "SELECT * FROM"): DataFrame = session.synchronized {
    val tmp = s"__graft_view_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    df.createOrReplaceTempView(tmp)
    try {
      val out = session.sql(s"$head $tmp $tail")
      out.queryExecution.assertAnalyzed()
      out
    } finally session.catalog.dropTempView(tmp)
  }

  def sql(text: String): DataFrame = {
    // fold `$$…$$` and `e'…'` strings first: every scan below
    // (Dialect.scanCode) knows only plain '…' literals
    val preVar = Dialect.foldLiterals(text.trim)
    // DuckDB 1.1 session variables (SURVEY §5.3): SET VARIABLE
    // evaluates its expression EAGERLY through the full pipeline and
    // stores the result as SQL literal text; getvariable('x') is then
    // substituted before any other processing, so the literal flows
    // through raw-string doubling exactly like user-typed text.
    preVar match {
      case Gateway.setVarRe(name, ex) =>
        val df = this.sql(s"SELECT (${ex.trim.stripSuffix(";").trim}) AS v")
        val rows = df.limit(2).collect()
        if (rows.length != 1)
          throw new GatewayException(
            s"SET VARIABLE: expression must yield exactly one row, got ${rows.length}")
        sessionVars.put(name.toLowerCase, Gateway.varLiteral(rows.head.get(0)))
        return success
      case Gateway.resetVarRe(name) =>
        sessionVars.remove(name.toLowerCase)
        return success
      case _ =>
    }
    // current_query() reports the ORIGINAL text (pre variable
    // expansion), matching DuckDB's statement-text semantics
    val trimmed = Dialect.substituteCurrentQuery(
      Dialect.substituteGetVariable(preVar,
        n => Option(sessionVars.get(n.toLowerCase))), text.trim)
    secretStatement(trimmed) match {
      case Some(props) => return applySecret(props)
      case None =>
    }
    // DuckDB PRAGMA surface (read-only introspection pragmas only)
    trimmed match {
      case pragmaRe(name, arg) =>
        return pragma(name.toLowerCase, Option(arg))
      case _ =>
    }
    // extension lifecycle — session-scoped state over the closed
    // statically-linked registry (no bytes move; see extState)
    trimmed match {
      case installRe(_, _, name) => return installExtension(name)
      case loadRe(_, name) => return loadExtension(name)
      case _ =>
    }
    // transaction + maintenance statements clients emit reflexively
    // (database/sql wraps work in BEGIN/COMMIT): read-path no-ops here,
    // like DuckDB read-only sessions. CHECKPOINT included: DuckDB 1.0
    // runs it successfully on a read-only database (nothing to flush,
    // empty `Success BOOLEAN` relation — verified against the oracle),
    // so rejecting it was a needless divergence (GapProbe5 residual).
    trimmed match {
      case txnRe(_*) | maintRe(_*) =>
        return success
      case showAllTablesRe() =>
        return this.sql("SELECT * FROM duckdb_tables")
      // DuckDB SHOW TABLES is a single 'name' column (Spark's native
      // three-column layout is a client-visible shape divergence)
      case showTablesRe() =>
        return pragma("show_tables", None)
      // DESCRIBE <query> / DESCRIBE <table>: DuckDB's six-column layout
      // (column_name, column_type, null, key, default, extra) with
      // DuckDB type spellings — Spark's native DESCRIBE differs in both
      case describeSelectRe(body) =>
        return describeSchema(this.sql(body).schema)
      case describeTableRe(ident)
          if !showKeywords.contains(ident.toUpperCase) =>
        return describeTable(ident)
      case explainAnalyzeRe(body) =>
        // DuckDB EXPLAIN ANALYZE runs the query; report the EXECUTED
        // physical plan (AQE-final) in DuckDB's two-column shape
        val df = this.sql(body)
        df.write.format("noop").mode("overwrite").save()
        import session.implicits._
        return Seq(("analyzed_plan", df.queryExecution.executedPlan.toString))
          .toDF("explain_key", "explain_value")
      case _ =>
    }
    // PREPARE / EXECUTE / DEALLOCATE — session-scoped prepared
    // statements ($1/$name/? placeholders). Every flightsql/ADBC client
    // that parameterizes queries prepares under the hood (the
    // reference's Go client path, client/main.go:21-27, via
    // database/sql). EXECUTE re-enters the full gateway pipeline, so
    // read-only classification applies to the BOUND statement.
    trimmed match {
      case prepareRe(name, body) =>
        prepared.put(name.toLowerCase, body.trim)
        return success
      case executeRe(name, argText) =>
        return this.sql(bindPrepared(name, Option(argText)))
      case deallocRe(name) =>
        if (prepared.remove(name.toLowerCase) == null)
          throw new GatewayException(s"prepared statement not found: $name")
        return success
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
    // DuckDB `SHOW <table>` = describe-table (column_name/column_type/…)
    expanded match {
      case showTableRe(ident)
          if !showKeywords.contains(ident.toUpperCase) =>
        return describeTable(ident)
      case _ =>
    }
    // `a UNION [ALL] BY NAME b [ORDER BY … LIMIT …]`: Spark has
    // unionByName only in the DataFrame API — split at the top level,
    // run each side through the full gateway path, and re-apply any
    // trailing ORDER BY/LIMIT over the combined result.
    splitUnionByName(expanded) match {
      case Some((left, right, keepAll)) =>
        val (rightBody, tail) = splitTopLevelTail(right)
        var df = this.sql(left).unionByName(
          this.sql(rightBody), allowMissingColumns = true)
        if (!keepAll) df = df.distinct()
        return if (tail.isEmpty) df else queryOver(df, tail)
      case None =>
    }
    // DuckDB `SUMMARIZE t` (T7 of SURVEY §2.9) → per-column stats in
    // DuckDB's exact column layout (one ROW per column; pre-r9 this
    // answered Spark's transposed .summary() table, a different shape)
    expanded match {
      case summarizeRe(table) => return summarize(table)
      case _ =>
    }
    // table-function forms of the argumentful PRAGMAs and the parquet
    // footer introspection family (r10 audit): materialize the
    // relation, then run the statement tail (ORDER BY / WHERE /
    // projection) over it
    locally {
      val tvfRe =
        ("""(?is)^(SELECT\s+.*?\s+FROM)\s+(pragma_table_info|pragma_show""" +
          """|pragma_storage_info|pragma_database_size|parquet_schema""" +
          """|parquet_metadata|parquet_file_metadata|parquet_kv_metadata)""" +
          """\s*\(\s*(?:'([^']*)')?\s*\)(.*)""").r
      expanded match {
        case tvfRe(head, fn, argOrNull, tail) =>
          val arg = Option(argOrNull)
          def need = arg.getOrElse(throw new GatewayException(
            s"$fn requires a literal argument"))
          val df = fn.toLowerCase match {
            case "pragma_table_info" => pragma("table_info", Some(need))
            case "pragma_show" => describeTable(need)
            case "pragma_database_size" => pragma("database_size", None)
            case "pragma_storage_info" =>
              // parquet-backed views have no DuckDB storage blocks —
              // typed empty, like a fresh in-memory DuckDB
              session.sql(
                """SELECT CAST(NULL AS BIGINT) AS row_group_id,
                  |  CAST(NULL AS BIGINT) AS row_group_start,
                  |  CAST(NULL AS BIGINT) AS row_group_count,
                  |  CAST(NULL AS STRING) AS column_name,
                  |  CAST(NULL AS BIGINT) AS column_id,
                  |  CAST(NULL AS STRING) AS column_path,
                  |  CAST(NULL AS STRING) AS segment_type,
                  |  CAST(NULL AS BIGINT) AS start,
                  |  CAST(NULL AS BIGINT) AS count,
                  |  CAST(NULL AS STRING) AS compression,
                  |  CAST(NULL AS STRING) AS stats,
                  |  CAST(NULL AS BOOLEAN) AS has_updates,
                  |  CAST(NULL AS BOOLEAN) AS persistent,
                  |  CAST(NULL AS BIGINT) AS block_id,
                  |  CAST(NULL AS BIGINT) AS block_offset
                  |LIMIT 0""".stripMargin)
            case "parquet_schema" => parquetSchemaDf(need)
            case "parquet_file_metadata" => parquetFileMetaDf(need)
            case "parquet_kv_metadata" => parquetKvMetaDf(need)
            case _ => parquetMetadataDf(need)
          }
          return queryOver(df, tail, head)
        case _ =>
      }
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
      if (tailText.isEmpty) df else queryOver(df, tailText)
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
    // DuckDB `UNPIVOT t ON c1 [AS l1], … INTO NAME n VALUE v` — wide →
    // long. Pinned semantics (GatewaySpec, DuckDB 1.0): NULL cells are
    // dropped; output columns are the kept (non-ON) columns in table
    // order, then NAME, then VALUE; an AS alias relabels the NAME cell.
    expanded match {
      case unpivotRe(tbl, onList, nameCol, valueCol, orderBy, limit) =>
        import org.apache.spark.sql.functions.col
        val base = session.table(tbl)
        val entries = onList.split(",").map(_.trim).filter(_.nonEmpty).map { e =>
          val m = """(?is)^([\w.]+)(?:\s+AS\s+(\w+))?$""".r
          e match {
            case m(c, alias) => (c, Option(alias).getOrElse(c))
            case _ => throw new GatewayException(
              s"UNPIVOT: cannot parse ON entry '$e'")
          }
        }
        val onCols = entries.map(_._1.toLowerCase).toSet
        val ids = base.columns.filterNot(c => onCols.contains(c.toLowerCase))
        val df = base
          .unpivot(
            ids.map(col),
            entries.map { case (c, alias) => col(c).as(alias) },
            nameCol, valueCol)
          .filter(col(valueCol).isNotNull)
        val tailText = Seq(Option(orderBy), Option(limit)).flatten
          .map(_.trim).mkString(" ")
        return if (tailText.isEmpty) df else queryOver(df, tailText)
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
    if (readOnly) {
      val up = expanded.toUpperCase
      if (!readOnlyAllowed.exists(up.startsWith)) {
        throw new GatewayException(
          s"read-only gateway: statement rejected (${up.takeWhile(_ != ' ')})")
      }
    }
    // the session's parser (GraftSqlParser) applies Dialect.rewrite; the
    // routing below reads the pre-parse text
    val stmt = rewriteFileReads(expanded)
    // WITH RECURSIVE … UNION (bare): DuckDB-dialect dedup recursion.
    // Spark 4.1's native recursive CTE covers only UNION ALL, so the
    // bare-UNION shape routes through the engine's semi-naive fixpoint
    // (Recursive.fixpoint — identical semantics: each round's working
    // table is the new distinct rows). UNION ALL recursion falls
    // through to the native path untouched.
    if (RecursiveSql.isRecursive(stmt)) {
      val parsed =
        try RecursiveSql.parse(stmt)
        catch { case _: IllegalArgumentException => None }
      parsed match {
        case Some(p) if RecursiveSql.needsFixpoint(p) =>
          if (readOnly) {
            val up = p.outer.toUpperCase
            if (!readOnlyAllowed.exists(up.startsWith))
              throw new GatewayException(
                s"read-only gateway: statement rejected (${up.takeWhile(_ != ' ')})")
          }
          return RecursiveSql.run(session, p)
        case _ => // native parser handles it (or reports the real error)
      }
    }
    // DuckDB percentage LIMIT — `LIMIT n%` keeps floor(n% of the result
    // rows). Inherently two-pass (DuckDB materializes and counts
    // internally too): run the body, count, limit. The count is one
    // aggregate job, not a collect.
    pctLimitRe.findFirstMatchIn(stmt) match {
      case Some(m) =>
        val base = session.sql(m.group(1).trim)
        base.queryExecution.assertAnalyzed()
        val k = math.floor(base.count() * m.group(2).toDouble / 100.0).toLong
        return base.limit(math.min(math.max(0L, k), Int.MaxValue.toLong).toInt)
      case None =>
    }
    val df = session.sql(stmt)
    df.queryExecution.assertAnalyzed() // structured failure before execution
    df
  }

  // `… LIMIT n%` at statement end ('%' is unambiguous there: a modulo
  // expression cannot terminate a LIMIT clause followed by nothing)
  private val pctLimitRe =
    """(?is)^(.*\s)LIMIT\s+(\d+(?:\.\d+)?)\s*%\s*;?\s*$""".r

  // ---- DuckDB direct-file queries ------------------------------------
  // `FROM 'path.parquet'` / `FROM read_parquet('path')` /
  // read_csv[_auto] / read_json[_auto] (main.go passes these through to
  // DuckDB's filesystem scanners). Each distinct path registers a lazy
  // temp view named after the file's basename (DuckDB's naming, so
  // `SELECT nation.n_name FROM 'nation.parquet'` resolves), falling
  // back to a hashed name on collision. Glob paths work — Spark's
  // readers accept them natively.
  private val fileFromRe =
    """(?i)\b(FROM|JOIN)\s+'([^']+\.(?:parquet|pq|csv|tsv|json|jsonl|ndjson)(?:\.gz)?)'""".r
  private val readFnHeadRe =
    ("""(?i)\b(FROM|JOIN)\s+(?:read_(parquet|csv_auto|csv|json_auto|json""" +
      """|ndjson_auto|ndjson|text|blob)|(parquet_scan))\s*(?=\()""").r

  private val fileViews = scala.collection.mutable.HashMap.empty[String, String]

  /** DuckDB's common scanner options, honored on the Spark reader.
    * DuckDB option spellings → behavior (verified against DuckDB 1.0):
    * header/delim/sep/quote/escape/nullstr/all_varchar/columns/names/
    * dateformat/timestampformat/ignore_errors (csv); format='array'
    * (json); filename=true adds the source path column;
    * union_by_name=true merges schemas across files. Auto-detection
    * knobs that don't change RESULTS (auto_detect, sample_size,
    * compression, hive_partitioning — Spark partition-discovers
    * natively, normalize_names=false, binary_as_string=false) are
    * accepted and ignored; anything else raises a diagnostic instead of
    * silently dropping semantics.
    */
  private val ignorableOpts = Set("auto_detect", "sample_size",
    "compression", "hive_partitioning", "normalize_names",
    "binary_as_string", "maximum_object_size", "records", "parallel")

  private def duckTypeDdl(t: String): String = t.trim.toUpperCase match {
    case "VARCHAR" | "TEXT" | "STRING" => "STRING"
    case "HUGEINT" => "DECIMAL(38,0)"
    case "INT8" | "LONG" => "BIGINT"
    case "INT4" | "INT" | "SIGNED" => "INT"
    case "INT2" => "SMALLINT"
    case "INT1" => "TINYINT"
    case "FLOAT8" | "REAL" => "DOUBLE"
    case "FLOAT4" => "FLOAT"
    case "BOOL" | "LOGICAL" => "BOOLEAN"
    case other => other // BIGINT, DOUBLE, DATE, TIMESTAMP, DECIMAL(p,s), …
  }

  private def fileView(paths: Seq[String], kindHint: Option[String],
      opts: Seq[(String, String)]): String =
    session.synchronized {
      val key = (paths, kindHint, opts).toString
      fileViews.getOrElseUpdate(key, {
        val kind = kindHint.getOrElse {
          val p = paths.head.toLowerCase.stripSuffix(".gz")
          if (p.endsWith(".csv") || p.endsWith(".tsv")) "csv"
          else if (p.endsWith(".json") || p.endsWith(".jsonl") ||
            p.endsWith(".ndjson")) "json"
          else "parquet"
        }
        val om = opts.toMap
        def str(v: String): String = {
          val t = v.trim
          if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
            t.substring(1, t.length - 1).replace("''", "'")
          else t
        }
        def bool(v: String): Boolean = str(v).equalsIgnoreCase("true")
        def unknown = om.keys.filterNot(k =>
          ignorableOpts(k) || Set("header", "delim", "sep", "quote",
            "escape", "nullstr", "all_varchar", "columns", "names",
            "dateformat", "timestampformat", "ignore_errors", "format",
            "filename", "union_by_name")(k))
        if (unknown.nonEmpty) throw new GatewayException(
          s"read_$kind: unsupported option(s) ${unknown.mkString(", ")}")
        // columns={'n':'TYPE',…} → explicit schema (no inference pass)
        val colRe = """'((?:[^']|'')*)'\s*:\s*'((?:[^']|'')*)'""".r
        val schemaDdl = om.get("columns").map { c =>
          colRe.findAllMatchIn(c)
            .map(m => s"`${m.group(1)}` ${duckTypeDdl(m.group(2))}")
            .mkString(", ")
        }
        val df0 = kind match {
          case "csv" =>
            // header default mirrors DuckDB's auto-detect outcome for
            // the common cases: headered files unless names= says the
            // file is headerless
            var r = session.read
              .option("header", om.get("header").map(bool)
                .getOrElse(!om.contains("names")).toString)
            schemaDdl match {
              case Some(ddl) if !om.get("all_varchar").exists(bool) =>
                r = r.schema(ddl)
              case _ => r = r.option("inferSchema",
                (!om.get("all_varchar").exists(bool)).toString)
            }
            om.get("delim").orElse(om.get("sep"))
              .foreach(v => r = r.option("sep", str(v)))
            om.get("quote").foreach(v => r = r.option("quote", str(v)))
            om.get("escape").foreach(v => r = r.option("escape", str(v)))
            om.get("nullstr").foreach(v => r = r.option("nullValue", str(v)))
            om.get("dateformat").foreach(v => r = r.option("dateFormat", str(v)))
            om.get("timestampformat")
              .foreach(v => r = r.option("timestampFormat", str(v)))
            if (om.get("ignore_errors").exists(bool))
              r = r.option("mode", "DROPMALFORMED")
            if (om.get("union_by_name").exists(bool))
              r = r.option("mergeSchema", "true")
            val read = r.csv(paths: _*)
            om.get("names").map { n =>
              val names = """'((?:[^']|'')*)'""".r
                .findAllMatchIn(n).map(_.group(1)).toSeq
              read.toDF((names ++ read.columns.drop(names.length)): _*)
            }.getOrElse(read)
          case "json" =>
            var r = session.read
            schemaDdl.foreach(ddl => r = r.schema(ddl))
            // DuckDB format='array': one top-level JSON array per file
            if (om.get("format").map(str).exists(_.equalsIgnoreCase("array")))
              r = r.option("multiLine", "true")
            r.json(paths: _*)
          case "text" | "blob" =>
            // read_text/read_blob (r10 audit): DuckDB's whole-file
            // readers — (filename, content, size, last_modified) —
            // via Spark's binaryFile source; text decodes UTF-8
            import org.apache.spark.sql.functions.{col, regexp_replace}
            val raw = session.read.format("binaryFile").load(paths: _*)
            val content =
              if (kind == "text") col("content").cast("string")
              else col("content")
            raw.select(
              regexp_replace(col("path"), "^file:", "").as("filename"),
              content.as("content"),
              col("length").as("size"),
              col("modificationTime").cast("timestamp_ntz")
                .as("last_modified"))
          case _ =>
            var r = session.read
            if (om.get("union_by_name").exists(bool))
              r = r.option("mergeSchema", "true")
            r.parquet(paths: _*)
        }
        // filename=true: DuckDB appends the source path; strip Spark's
        // file: URI scheme so local paths match DuckDB's spelling
        val df = if (om.get("filename").exists(bool))
          df0.withColumn("filename", org.apache.spark.sql.functions
            .regexp_replace(org.apache.spark.sql.functions.input_file_name(),
              "^file:(//)?", ""))
        else df0
        val base = paths.head.reverse.takeWhile(c => c != '/' && c != '\\')
          .reverse.takeWhile(_ != '.').replaceAll("[^A-Za-z0-9_]", "_")
        val name =
          if (base.nonEmpty && base.head.isLetter && opts.isEmpty &&
              paths.sizeIs == 1 && !session.catalog.tableExists(base)) base
          else "gf_" + java.util.UUID.nameUUIDFromBytes(
            key.getBytes("UTF-8")).toString.replace("-", "").take(12)
        df.createOrReplaceTempView(name)
        name
      })
    }

  private def rewriteFileReads(sql: String): String = {
    // read_xxx(…) calls: full argument split (options carry nested
    // ['lists'] and {'structs'} a [^)]* regex mis-scans)
    val viaFn = {
      val out = new StringBuilder
      var last = 0
      val ms = readFnHeadRe.findAllMatchIn(sql).toSeq
      for (m <- ms) {
        if (m.start >= last) {
          Dialect.splitCallArgsPublic(sql, m.end) match {
            case Some((args, end)) if args.nonEmpty =>
              val kind = Option(m.group(2)).getOrElse("parquet")
                .toLowerCase match {
                case "csv_auto" | "csv" => "csv"
                case "json_auto" | "json" | "ndjson_auto" | "ndjson" => "json"
                case "text" => "text"
                case "blob" => "blob"
                case _ => "parquet" // read_parquet and the parquet_scan alias
              }
              val litRe = """'((?:[^']|'')*)'""".r
              // splitCallArgs tracks parens but not {}/[]: re-merge args
              // the columns={'a':'T','b':'U'} struct and ['p1','p2']
              // list forms split at their inner commas (balance count
              // outside literals)
              def braceBalance(s: String): Int = {
                var d = 0
                Dialect.scanCode(s) { (i, _) =>
                  s.charAt(i) match {
                    case '{' | '[' => d += 1
                    case '}' | ']' => d -= 1
                    case _ =>
                  }
                  i
                }
                d
              }
              val merged = args.foldLeft(List.empty[String]) { (acc, a) =>
                acc match {
                  case h :: t if braceBalance(h) > 0 => (h + "," + a) :: t
                  case _ => a :: acc
                }
              }.reverse
              val paths = {
                val a0 = merged.head.trim
                if (a0.startsWith("["))
                  litRe.findAllMatchIn(a0).map(_.group(1)).toSeq
                else litRe.findPrefixMatchOf(a0).map(_.group(1)).toSeq
              }
              val optRe = """(?s)^\s*([A-Za-z_]+)\s*=\s*(.*)$""".r
              val opts = merged.tail.flatMap {
                case optRe(k, v) => Some(k.toLowerCase -> v.trim)
                case _ => None
              }
              if (paths.isEmpty || opts.length != merged.tail.length) {
                // non-literal path or unrecognized arg shape: leave the
                // call text as-is (it will surface a resolution error
                // naming the function, not silently mis-read)
                out.append(sql.substring(last, end)); last = end
              } else {
                out.append(sql.substring(last, m.start))
                out.append(s"${m.group(1)} ${fileView(paths, Some(kind), opts)}")
                last = end
              }
            case _ => // not a call — leave untouched
          }
        }
      }
      out.append(sql.substring(last)).toString
    }
    // glob('pattern') table function: one `file` column, driver-side
    // Hadoop FS listing (works for local paths and any configured
    // remote FS), memoized per pattern like the file views
    val viaGlob = globFnRe.replaceAllIn(viaFn, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} ${globView(m.group(2))}"))
    // FROM pragma_version() → the registered one-row view
    val viaPragma = pragmaVersionFnRe.replaceAllIn(viaGlob,
      m => s"${m.group(1)} graft_pragma_version")
    // FROM repeat('s', n): n rows of 's', column named by the value
    // (DuckDB's repeat table function — r10 audit)
    val viaRepeat = repeatFnRe.replaceAllIn(viaPragma, m => {
      val s = m.group(2)
      val colName = s.replace("''", "'").replace("`", "")
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} (SELECT '$s' AS `$colName` FROM range(${m.group(3)}))")
    })
    fileFromRe.replaceAllIn(viaRepeat, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} ${fileView(Seq(m.group(2)), None, Nil)}"))
  }

  /** Parquet footer introspection (DuckDB's parquet_schema/metadata
    * family, r10 audit): a bounded driver-side footer read of the NAMED
    * file — the same work DuckDB does; never a distributed job. Columns
    * mirror DuckDB 1.0. */
  private def parquetFooter(path: String) = {
    val conf = session.sessionState.newHadoopConf()
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
  }

  private def parquetSchemaDf(path: String): DataFrame = {
    import session.implicits._
    val r = parquetFooter(path)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val root = (path, schema.getName, "GROUP", Option.empty[Long],
        "REQUIRED", Option(schema.getFieldCount.toLong),
        Option.empty[Long], Option.empty[Long], Option.empty[String])
      val cols = scala.jdk.CollectionConverters
        .ListHasAsScala(schema.getFields).asScala.toSeq.map { f =>
          if (f.isPrimitive) {
            val p = f.asPrimitiveType()
            val dec = Option(p.getLogicalTypeAnnotation).collect {
              case d: org.apache.parquet.schema
                  .LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => d
            }
            (path, f.getName, p.getPrimitiveTypeName.toString,
              Some(p.getTypeLength.toLong), f.getRepetition.toString,
              Option.empty[Long], dec.map(_.getScale.toLong),
              dec.map(_.getPrecision.toLong),
              Option(p.getLogicalTypeAnnotation).map(_.toString))
          } else
            (path, f.getName, "GROUP", Option.empty[Long],
              f.getRepetition.toString,
              Some(f.asGroupType().getFieldCount.toLong),
              Option.empty[Long], Option.empty[Long],
              Option(f.asGroupType().getLogicalTypeAnnotation)
                .map(_.toString))
        }
      (root +: cols)
        .toDF("file_name", "name", "type", "type_length",
          "repetition_type", "num_children", "scale", "precision",
          "logical_type")
    } finally r.close()
  }

  private def parquetFileMetaDf(path: String): DataFrame = {
    import session.implicits._
    val r = parquetFooter(path)
    try {
      val fm = r.getFooter.getFileMetaData
      Seq((path, fm.getCreatedBy, r.getRecordCount,
        r.getFooter.getBlocks.size.toLong, "1.0",
        null.asInstanceOf[String], null.asInstanceOf[String]))
        .toDF("file_name", "created_by", "num_rows", "num_row_groups",
          "format_version", "encryption_algorithm",
          "footer_signing_key_metadata")
    } finally r.close()
  }

  private def parquetKvMetaDf(path: String): DataFrame = {
    import session.implicits._
    val r = parquetFooter(path)
    try {
      scala.jdk.CollectionConverters.MapHasAsScala(
        r.getFooter.getFileMetaData.getKeyValueMetaData).asScala.toSeq
        .map { case (k, v) =>
          (path, k.getBytes("UTF-8"),
            Option(v).map(_.getBytes("UTF-8")).orNull)
        }.toDF("file_name", "key", "value")
    } finally r.close()
  }

  private def parquetMetadataDf(path: String): DataFrame = {
    import session.implicits._
    val r = parquetFooter(path)
    try {
      val rows = scala.jdk.CollectionConverters
        .ListHasAsScala(r.getFooter.getBlocks).asScala.toSeq.zipWithIndex
        .flatMap { case (blk, gi) =>
          scala.jdk.CollectionConverters.ListHasAsScala(blk.getColumns)
            .asScala.toSeq.zipWithIndex.map { case (c, ci) =>
              val st = c.getStatistics
              (path, gi.toLong, blk.getRowCount,
                blk.getColumns.size.toLong, blk.getTotalByteSize,
                ci.toLong, c.getFirstDataPageOffset, c.getValueCount,
                c.getPath.toDotString, c.getPrimitiveType.toString,
                // flatMap: a Statistics object with no min/max (all-null
                // chunk) must surface SQL NULL, not the string "null"
                Option(st).flatMap(s => Option(s.minAsString)).orNull,
                Option(st).flatMap(s => Option(s.maxAsString)).orNull,
                Option(st).filter(_.isNumNullsSet)
                  .map(_.getNumNulls).getOrElse(-1L),
                c.getCodec.toString,
                c.getEncodings.toString,
                c.getDictionaryPageOffset, c.getFirstDataPageOffset,
                c.getTotalSize, c.getTotalUncompressedSize)
            }
        }
      rows.toDF("file_name", "row_group_id", "row_group_num_rows",
        "row_group_num_columns", "row_group_bytes", "column_id",
        "file_offset", "num_values", "path_in_schema", "type",
        "stats_min", "stats_max", "stats_null_count", "compression",
        "encodings", "dictionary_page_offset", "data_page_offset",
        "total_compressed_size", "total_uncompressed_size")
    } finally r.close()
  }

  private val globFnRe =
    """(?i)\b(FROM|JOIN)\s+glob\s*\(\s*'([^']+)'\s*\)""".r
  private val pragmaVersionFnRe =
    """(?i)\b(FROM|JOIN)\s+pragma_version\s*\(\s*\)""".r
  private val repeatFnRe =
    """(?i)\b(FROM|JOIN)\s+repeat\s*\(\s*'((?:[^']|'')*)'\s*,\s*(\d+)\s*\)""".r

  private def globView(pattern: String): String = session.synchronized {
    fileViews.getOrElseUpdate("glob::" + pattern, {
      val p = new org.apache.hadoop.fs.Path(pattern)
      val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
      val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
        .map(_.getPath.toUri.getPath).sorted
      import session.implicits._
      val name = "gf_glob_" + java.util.UUID.nameUUIDFromBytes(
        pattern.getBytes("UTF-8")).toString.replace("-", "").take(12)
      files.toDF("file").createOrReplaceTempView(name)
      name
    })
  }

  // ---- CREATE MACRO (scalar + table) ---------------------------------
  // DuckDB macros are session-scoped SQL templates; the engine expands
  // calls TEXTUALLY before parsing (DuckDB binds at call time too, so
  // divergences are limited to error wording). Positional params bind
  // positionally; `name := default` params bind only by name
  // (DuckDB-verified). Table macros expand to parenthesized subqueries
  // in FROM position.
  private val txnRe =
    """(?is)^(?:BEGIN(?:\s+TRANSACTION)?|COMMIT|ROLLBACK|ABORT)\s*;?\s*$""".r
  private val maintRe =
    """(?is)^(?:ANALYZE|VACUUM(?:\s+ANALYZE)?|(?:FORCE\s+)?CHECKPOINT(?:\s+\w+)?)\s*;?\s*$""".r
  private val showAllTablesRe = """(?is)^SHOW\s+ALL\s+TABLES\s*;?\s*$""".r
  private val showTablesRe = """(?is)^SHOW\s+TABLES\s*;?\s*$""".r
  private val describeSelectRe =
    """(?is)^DESC(?:RIBE)?\s+((?:SELECT|WITH|VALUES|FROM|TABLE)\b.+)$""".r
  private val describeTableRe = """(?is)^DESC(?:RIBE)?\s+([\w.]+)\s*;?\s*$""".r
  private val explainAnalyzeRe = """(?is)^EXPLAIN\s+ANALYZE\s+(.+)$""".r

  // ---- session variables (SET VARIABLE / getvariable, DuckDB 1.1) ----
  // name → SQL literal text of the eagerly-evaluated value
  private val sessionVars =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // ---- prepared statements (PREPARE / EXECUTE / DEALLOCATE) ----------
  private val prepared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val prepareRe = """(?is)^PREPARE\s+(\w+)\s+AS\s+(.+?);?\s*$""".r
  private val executeRe =
    """(?is)^EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$""".r
  private val deallocRe =
    """(?is)^DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$""".r

  /** The stored statement with EXECUTE's arguments bound (textually, at
    * identifier/placeholder boundaries outside string literals — the
    * same hygiene as macro expansion).
    */
  private def bindPrepared(name: String, argList: Option[String]): String = {
    val body = Option(prepared.get(name.toLowerCase)).getOrElse(
      throw new GatewayException(s"prepared statement not found: $name"))
    val args: Seq[String] = argList.map { at =>
      Dialect.splitCallArgsPublic("(" + at + ")", 0) match {
        case Some((as, _)) => as.map(_.trim).filter(_.nonEmpty)
        case None =>
          throw new GatewayException(s"EXECUTE $name: malformed argument list")
      }
    }.getOrElse(Seq.empty)
    val (named, positional) = args.partition(_.matches("(?s)\\w+\\s*:=.*"))
    val namedBind = named.map { a =>
      val Array(k, v) = a.split(":=", 2)
      (k.trim.toLowerCase, v.trim)
    }.toMap
    Gateway.bindPlaceholders(body, positional, namedBind)
  }

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
              Dialect.splitCallArgsPublic(text, k).map(m -> _)
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
    val items = Dialect.splitTopLevelPublic(selectList, ',').map { item =>
      columnsCallRe.findFirstMatchIn(item) match {
        case Some(m) =>
          Dialect.splitCallArgsPublic(item, m.end - 1) match {
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

  // ---- PRAGMA / SHOW <table> -----------------------------------------
  private val pragmaRe =
    """(?is)^PRAGMA\s+(\w+)\s*(?:\(\s*'?([\w./]+)'?\s*\))?\s*;?\s*$""".r
  private val showTableRe = """(?is)^SHOW\s+([\w.]+)\s*;?\s*$""".r
  private val showKeywords = Set(
    "TABLES", "DATABASES", "SCHEMAS", "VIEWS", "FUNCTIONS", "CATALOGS",
    "NAMESPACES", "COLUMNS", "PARTITIONS", "TBLPROPERTIES", "ALL")

  private def pragma(name: String, arg: Option[String]): DataFrame = {
    import session.implicits._
    import org.apache.spark.sql.functions.col
    name match {
      case "show_tables" =>
        session.sql("SHOW TABLES").select(col("tableName").as("name"))
          .orderBy("name")
      case "table_info" =>
        val t = arg.getOrElse(
          throw new GatewayException("PRAGMA table_info requires a table"))
        val fields = session.table(t).schema.fields.zipWithIndex.map {
          case (f, i) =>
            (i, f.name, graft.sources.LiveCatalog.duckTypeName(f.dataType),
              !f.nullable, null.asInstanceOf[String], false)
        }.toSeq
        fields.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
      case "database_size" =>
        val dir = Tables.dirOf(session)
        val bytes = dir.map { d =>
          val f = new java.io.File(d)
          Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
            .getOrElse(0L)
        }.getOrElse(0L)
        def human(b: Long): String =
          if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.1f GiB"
          else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
          else if (b >= (1L << 10)) f"${b / (1L << 10).toDouble}%.1f KiB"
          else s"$b bytes"
        val rt = Runtime.getRuntime
        Seq((dir.getOrElse("memory"), human(bytes), 262144L, 0L, 0L, 0L,
          "0 bytes", human(rt.totalMemory - rt.freeMemory),
          human(rt.maxMemory)))
          .toDF("database_name", "database_size", "block_size",
            "total_blocks", "used_blocks", "free_blocks", "wal_size",
            "memory_usage", "memory_limit")
      case "version" =>
        Seq(("v0.5.0-graft", s"spark-${session.version}"))
          .toDF("library_version", "source_id")
      case "database_list" =>
        Seq((0L, session.catalog.currentCatalog(),
          Tables.dirOf(session).getOrElse("memory")))
          .toDF("seq", "name", "file")
      case other =>
        throw new GatewayException(s"unsupported PRAGMA: $other")
    }
  }

  /** DuckDB `SUMMARIZE t`: one row per column — (column_name,
    * column_type, min, max, approx_unique, avg, std, q25, q50, q75,
    * count, null_percentage), the stat cells as VARCHAR like DuckDB.
    * ONE aggregate job over the table (all per-column stats in a single
    * agg row, partial/final combined), then a driver-side reshape
    * bounded by the COLUMN count — scale-safe by construction.
    */
  private def summarize(table: String): DataFrame = {
    import session.implicits._
    import org.apache.spark.sql.functions._
    val df = session.table(table)
    val fields = df.schema.fields
    def strNull = lit(null).cast(org.apache.spark.sql.types.StringType)
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__total") +: fields.toSeq.flatMap { f =>
        val c = col(f.name)
        val isNum = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        val orderable = !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
        def q(p: Double) =
          if (isNum) percentile_approx(c.cast("double"), lit(p), lit(10000))
            .cast(f.dataType).cast("string")
          else strNull
        Seq(
          (if (orderable) min(c).cast("string") else strNull).as(s"${f.name}!min"),
          (if (orderable) max(c).cast("string") else strNull).as(s"${f.name}!max"),
          approx_count_distinct(c).as(s"${f.name}!uniq"),
          (if (isNum) avg(c.cast("double")).cast("string") else strNull).as(s"${f.name}!avg"),
          (if (isNum) stddev_samp(c.cast("double")).cast("string") else strNull).as(s"${f.name}!std"),
          q(0.25).as(s"${f.name}!q25"), q(0.5).as(s"${f.name}!q50"),
          q(0.75).as(s"${f.name}!q75"),
          count(c).as(s"${f.name}!cnt"))
      }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total")
    def s(n: String): String = Option(row.getAs[Any](n)).map(_.toString).orNull
    val out = fields.toSeq.map { f =>
      val cnt = row.getAs[Long](s"${f.name}!cnt")
      val nullPct = if (total == 0) java.math.BigDecimal.ZERO
        else new java.math.BigDecimal(100.0 * (total - cnt) / total)
          .setScale(2, java.math.RoundingMode.HALF_UP)
      (f.name, graft.sources.LiveCatalog.duckTypeName(f.dataType),
        s(s"${f.name}!min"), s(s"${f.name}!max"),
        row.getAs[Long](s"${f.name}!uniq"),
        s(s"${f.name}!avg"), s(s"${f.name}!std"),
        s(s"${f.name}!q25"), s(s"${f.name}!q50"), s(s"${f.name}!q75"),
        total, nullPct)
    }
    out.toDF("column_name", "column_type", "min", "max", "approx_unique",
      "avg", "std", "q25", "q50", "q75", "count", "null_percentage")
      // pin DuckDB's DECIMAL(9,2) — toDF's inferred (38,18) renders 0
      // as 0E-18 to clients
      .withColumn("null_percentage", org.apache.spark.sql.functions
        .col("null_percentage")
        .cast(org.apache.spark.sql.types.DecimalType(9, 2)))
  }

  /** DuckDB `SHOW t` / `DESCRIBE t` column layout. */
  private def describeTable(ident: String): DataFrame =
    describeSchema(session.table(ident).schema)

  private def describeSchema(
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import session.implicits._
    val fields = schema.fields.map { f =>
      (f.name, graft.sources.LiveCatalog.duckTypeName(f.dataType),
        if (f.nullable) "YES" else "NO",
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String])
    }.toSeq
    fields.toDF("column_name", "column_type", "null", "key", "default",
      "extra")
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

  private[engine] val setVarRe =
    """(?is)^SET\s+VARIABLE\s+(\w+)\s*=\s*(.+)$""".r
  private[engine] val resetVarRe =
    """(?is)^RESET\s+VARIABLE\s+(\w+)\s*;?\s*$""".r

  /** Render an evaluated variable value as SQL literal text for
    * substitution into later statements. Strings use standard ''
    * doubling ONLY — substitution happens before the raw-literal
    * backslash pass, so backslashes get doubled downstream like any
    * user-typed literal. Complex types are refused loudly (DuckDB
    * stores them; this engine's variable surface is scalar). */
  private[engine] def varLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "true" else "false"
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double =>
      if (d.isNaN) "CAST('NaN' AS DOUBLE)"
      else if (d == Double.PositiveInfinity) "CAST('Infinity' AS DOUBLE)"
      else if (d == Double.NegativeInfinity) "CAST('-Infinity' AS DOUBLE)"
      else s"CAST($d AS DOUBLE)"
    case f: Float => varLiteral(f.toDouble)
    case bd: java.math.BigDecimal => bd.toPlainString
    case bd: BigDecimal => bd.underlying.toPlainString
    case d: java.sql.Date => s"DATE '$d'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case t: java.sql.Timestamp =>
      s"TIMESTAMP '${t.toString.stripSuffix(".0")}'"
    case t: java.time.LocalDateTime =>
      s"TIMESTAMP '${t.toString.replace('T', ' ')}'"
    case other => throw new GatewayException(
      s"SET VARIABLE: unsupported value type ${other.getClass.getSimpleName}" +
        " (scalar variables only)")
  }

  /** Substitute prepared-statement placeholders with argument SQL text,
    * outside literals and comments: `$1`-style positionals, `$name`
    * named parameters, and `?` in left-to-right order. Each value is
    * parenthesized (textual binding hygiene, like macro expansion).
    * Shared by EXECUTE and the Flight prepared-statement path.
    */
  private[graft] def bindPlaceholders(
      text: String,
      positional: Seq[String],
      named: Map[String, String]): String =
    bindWith(text, named) { (n, what) =>
      if (n > positional.length)
        throw new GatewayException(
          s"prepared statement expects parameter $what but EXECUTE " +
            s"supplied ${positional.length} argument(s)")
      positional(n - 1)
    }

  /** The Flight pre-bind schema probe: every positional placeholder
    * bound to NULL.
    */
  private[graft] def bindNulls(text: String): String =
    bindWith(text, Map.empty)((_, _) => "NULL")

  /** bindPlaceholders' scan: `positional(n, what)` gives the value of
    * positional placeholder n >= 1 (`what` is its text, `$n` or `?`).
    */
  private def bindWith(text: String, named: Map[String, String])(
      positional: (Int, String) => String): String = {
    val body = Dialect.foldLiterals(text)
    var qmark = 0
    def positionalAt(n: Int, what: String): String = {
      if (n < 1)
        throw new GatewayException(s"invalid prepared statement parameter $what")
      positional(n, what)
    }
    Dialect.scanOutsideLiterals(body) { (i, sb) =>
      val c = body.charAt(i)
      val next = if (i + 1 < body.length) body.charAt(i + 1) else ' '
      val (end, value) =
        if (c == '?') { qmark += 1; (i + 1, positionalAt(qmark, "?")) }
        else if (c == '$' && next.isDigit) {
          var j = i + 1
          while (j < body.length && body.charAt(j).isDigit) j += 1
          val what = body.substring(i, j)
          (j, positionalAt(what.tail.toIntOption.getOrElse(0), what))
        } else if (c == '$' && (next.isLetter || next == '_')) {
          val j = Dialect.wordEnd(body, i + 1)
          val name = body.substring(i + 1, j).toLowerCase
          (j, named.getOrElse(name, throw new GatewayException(
            s"prepared statement parameter $$$name was not supplied")))
        } else (i, "")
      if (end > i) sb.append(s"($value)")
      end
    }
  }

  /** Catalog introspection views named after DuckDB's table functions
    * (S7 of SURVEY §2.1; the reference's smoke client runs
    * `SELECT extension_name FROM duckdb_extensions() WHERE installed`,
    * /root/reference/main.go:77 and client/main.go:27 — Dialect.rewrite
    * turns the `()` call into these view names). duckdb_tables/views/
    * functions/settings are LIVE, DuckDB-style: backed by
    * sources.LiveCatalogSource, a DataSource V2 table whose scan
    * re-reads the session catalog at planning time, so DDL issued after
    * open() is visible to the next query. Only duckdb_extensions is a
    * static local relation — the capability surface it reports IS
    * static. The introspection views never list themselves.
    */
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

  private def registerCatalogViews(sess: SparkSession): Unit = {
    // extension lifecycle state starts at the registry defaults; the
    // Gateway's INSTALL/LOAD statements re-publish this view
    publishExtensionsView(sess, extensionRegistry)
    // the rest are LIVE (DuckDB semantics): each query re-reads the
    // session catalog at scan-planning time via the V2 source, so DDL
    // after open() — CREATE VIEW, SET — is visible immediately
    val key = graft.sources.LiveCatalog.registerSession(sess)
    Seq("tables", "views", "functions", "settings", "columns").foreach { v =>
      sess.read.format("graft.sources.LiveCatalogSource")
        .option("view", v).option("session", key)
        .load().createOrReplaceTempView(s"duckdb_$v")
    }
    // information_schema.{tables,columns,schemata} — Dialect rewrites the
    // qualified names onto these (Spark temp views cannot be schema-
    // qualified); same live-catalog backing
    Seq("is_tables", "is_columns", "schemata").foreach { v =>
      sess.read.format("graft.sources.LiveCatalogSource")
        .option("view", v).option("session", key)
        .load().createOrReplaceTempView(s"graft_$v")
    }
    // FROM pragma_version() (table-function form of PRAGMA version)
    locally {
      import sess.implicits._
      Seq(("v0.5.0-graft", s"spark-${sess.version}"))
        .toDF("library_version", "source_id")
        .createOrReplaceTempView("graft_pragma_version")
    }
    // ---- round-10: the REST of DuckDB's zero-arg catalog table
    // functions (tools iterate these; tools/audit swept them). Columns
    // mirror DuckDB 1.0 exactly; relations that catalog objects this
    // engine doesn't HAVE (indexes, sequences, …) are typed EMPTY —
    // the same answer a fresh DuckDB gives.
    def view(name: String, q: String): Unit =
      sess.sql(q).createOrReplaceTempView(name)
    val mapT = "CAST(map() AS MAP<STRING,STRING>)"
    // reserved/keyword list: the served dialect's reserved words
    view("duckdb_keywords",
      """SELECT col1 AS keyword_name, 'reserved' AS keyword_category
        |FROM VALUES ('all'),('and'),('any'),('as'),('asc'),('between'),
        |('by'),('case'),('cast'),('create'),('cross'),('cube'),('current'),
        |('default'),('delete'),('desc'),('distinct'),('drop'),('else'),
        |('end'),('except'),('exists'),('false'),('filter'),('from'),('full'),
        |('group'),('grouping'),('having'),('in'),('inner'),('insert'),
        |('intersect'),('interval'),('into'),('is'),('join'),('lateral'),
        |('left'),('like'),('limit'),('natural'),('not'),('null'),('offset'),
        |('on'),('or'),('order'),('outer'),('over'),('partition'),('pivot'),
        |('qualify'),('right'),('rollup'),('select'),('semi'),('set'),
        |('table'),('then'),('true'),('union'),('unique'),('unpivot'),
        |('update'),('using'),('values'),('when'),('where'),('window'),
        |('with')""".stripMargin)
    // the engine's served logical types (SURVEY §1.4 mapping)
    view("duckdb_types",
      s"""SELECT 'memory' AS database_name, CAST(0 AS BIGINT) AS database_oid,
         |  'main' AS schema_name, CAST(0 AS BIGINT) AS schema_oid,
         |  CAST(row_number() OVER (ORDER BY col1) AS BIGINT) AS type_oid,
         |  col1 AS type_name, CAST(col2 AS BIGINT) AS type_size,
         |  col1 AS logical_type, col3 AS type_category,
         |  CAST(NULL AS STRING) AS comment, $mapT AS tags,
         |  true AS internal
         |FROM VALUES ('BOOLEAN',1,'BOOLEAN'),('TINYINT',1,'NUMERIC'),
         |('SMALLINT',2,'NUMERIC'),('INTEGER',4,'NUMERIC'),
         |('BIGINT',8,'NUMERIC'),('HUGEINT',16,'NUMERIC'),
         |('FLOAT',4,'NUMERIC'),('DOUBLE',8,'NUMERIC'),
         |('DECIMAL',16,'NUMERIC'),('VARCHAR',NULL,'STRING'),
         |('BLOB',NULL,'STRING'),('BIT',NULL,'STRING'),
         |('DATE',4,'DATETIME'),('TIME',8,'DATETIME'),
         |('TIMESTAMP',8,'DATETIME'),('INTERVAL',16,'DATETIME'),
         |('UUID',16,'STRING'),('JSON',NULL,'STRING'),
         |('LIST',NULL,'COMPOSITE'),('STRUCT',NULL,'COMPOSITE'),
         |('MAP',NULL,'COMPOSITE')""".stripMargin)
    view("duckdb_schemas",
      s"""SELECT CAST(col1 AS BIGINT) AS oid, col2 AS database_name,
         |  CAST(col3 AS BIGINT) AS database_oid, col4 AS schema_name,
         |  CAST(NULL AS STRING) AS comment, $mapT AS tags,
         |  col5 AS internal, CAST(NULL AS STRING) AS sql
         |FROM VALUES (0,'memory',0,'main',false),
         |  (1,'system',1,'main',true),(2,'temp',2,'main',true)""".stripMargin)
    view("duckdb_databases",
      s"""SELECT col1 AS database_name, CAST(col2 AS BIGINT) AS database_oid,
         |  CAST(NULL AS STRING) AS path, CAST(NULL AS STRING) AS comment,
         |  $mapT AS tags, col3 AS internal, 'duckdb' AS type,
         |  true AS readonly
         |FROM VALUES ('memory',0,false),('system',1,true),
         |  ('temp',2,true)""".stripMargin)
    view("duckdb_constraints",
      """SELECT CAST(NULL AS STRING) AS database_name,
        |  CAST(NULL AS BIGINT) AS database_oid,
        |  CAST(NULL AS STRING) AS schema_name,
        |  CAST(NULL AS BIGINT) AS schema_oid,
        |  CAST(NULL AS STRING) AS table_name,
        |  CAST(NULL AS BIGINT) AS table_oid,
        |  CAST(NULL AS BIGINT) AS constraint_index,
        |  CAST(NULL AS STRING) AS constraint_type,
        |  CAST(NULL AS STRING) AS constraint_text,
        |  CAST(NULL AS STRING) AS expression,
        |  CAST(array() AS ARRAY<BIGINT>) AS constraint_column_indexes,
        |  CAST(array() AS ARRAY<STRING>) AS constraint_column_names
        |LIMIT 0""".stripMargin)
    view("duckdb_indexes",
      s"""SELECT CAST(NULL AS STRING) AS database_name,
         |  CAST(NULL AS BIGINT) AS database_oid,
         |  CAST(NULL AS STRING) AS schema_name,
         |  CAST(NULL AS BIGINT) AS schema_oid,
         |  CAST(NULL AS STRING) AS index_name,
         |  CAST(NULL AS BIGINT) AS index_oid,
         |  CAST(NULL AS STRING) AS table_name,
         |  CAST(NULL AS BIGINT) AS table_oid,
         |  CAST(NULL AS STRING) AS comment, $mapT AS tags,
         |  CAST(NULL AS BOOLEAN) AS is_unique,
         |  CAST(NULL AS BOOLEAN) AS is_primary
         |LIMIT 0""".stripMargin)
    view("duckdb_sequences",
      s"""SELECT CAST(NULL AS STRING) AS database_name,
         |  CAST(NULL AS BIGINT) AS database_oid,
         |  CAST(NULL AS STRING) AS schema_name,
         |  CAST(NULL AS BIGINT) AS schema_oid,
         |  CAST(NULL AS STRING) AS sequence_name,
         |  CAST(NULL AS BIGINT) AS sequence_oid,
         |  CAST(NULL AS STRING) AS comment, $mapT AS tags,
         |  CAST(NULL AS BOOLEAN) AS temporary,
         |  CAST(NULL AS BIGINT) AS start_value,
         |  CAST(NULL AS BIGINT) AS min_value,
         |  CAST(NULL AS BIGINT) AS max_value
         |LIMIT 0""".stripMargin)
    view("duckdb_dependencies",
      """SELECT CAST(NULL AS BIGINT) AS classid,
        |  CAST(NULL AS BIGINT) AS objid, CAST(NULL AS INT) AS objsubid,
        |  CAST(NULL AS BIGINT) AS refclassid,
        |  CAST(NULL AS BIGINT) AS refobjid,
        |  CAST(NULL AS INT) AS refobjsubid,
        |  CAST(NULL AS STRING) AS deptype LIMIT 0""".stripMargin)
    view("duckdb_temporary_files",
      """SELECT CAST(NULL AS STRING) AS path,
        |  CAST(NULL AS BIGINT) AS size LIMIT 0""".stripMargin)
    view("duckdb_memory",
      """SELECT col1 AS tag, CAST(0 AS BIGINT) AS memory_usage_bytes,
        |  CAST(0 AS BIGINT) AS temporary_storage_bytes
        |FROM VALUES ('BASE_TABLE'),('HASH_TABLE'),('PARQUET_READER'),
        |('CSV_READER'),('ORDER_BY'),('ART_INDEX'),('COLUMN_DATA'),
        |('METADATA'),('OVERFLOW_STRINGS'),('IN_MEMORY_TABLE'),
        |('ALLOCATOR'),('EXTENSION')""".stripMargin)
    // the optimizers THIS engine actually runs (Catalyst batches) —
    // honest introspection, not a copy of DuckDB's list
    view("duckdb_optimizers",
      """SELECT col1 AS name FROM VALUES ('PushDownPredicates'),
        |('ColumnPruning'),('CollapseProject'),('ConstantFolding'),
        |('NullPropagation'),('BooleanSimplification'),
        |('SimplifyCasts'),('ReorderJoin'),('EliminateOuterJoin'),
        |('InferFiltersFromConstraints'),('PruneFilters'),
        |('RewritePredicateSubquery'),('DecorrelateInnerQuery'),
        |('CombineFilters'),('LimitPushDown'),('CollapseWindow'),
        |('OptimizeSkewedJoin'),('CoalesceShufflePartitions')""".stripMargin)
    view("duckdb_secrets",
      """SELECT CAST(NULL AS STRING) AS name, CAST(NULL AS STRING) AS type,
        |  CAST(NULL AS STRING) AS provider,
        |  CAST(NULL AS BOOLEAN) AS persistent,
        |  CAST(NULL AS STRING) AS storage,
        |  CAST(array() AS ARRAY<STRING>) AS scope,
        |  CAST(NULL AS STRING) AS secret_string LIMIT 0""".stripMargin)
    view("checkpoint",
      "SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0")
    view("force_checkpoint",
      "SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0")
    view("icu_calendar_names",
      """SELECT col1 AS name FROM VALUES ('gregorian'),('japanese'),
        |('buddhist'),('roc'),('persian'),('islamic'),('islamic-civil'),
        |('islamic-umalqura'),('islamic-tbla'),('islamic-rgsa'),('hebrew'),
        |('chinese'),('indian'),('coptic'),('ethiopic'),
        |('ethiopic-amete-alem'),('iso8601'),('dangi')""".stripMargin)
    view("pragma_platform", "SELECT 'linux_amd64' AS platform")
    view("pragma_user_agent",
      s"SELECT 'graft/0.5.0(spark-${sess.version})' AS user_agent")
    view("pragma_collations",
      """SELECT col1 AS collname FROM VALUES ('default'),('c'),('posix'),
        |('nocase'),('noaccent'),('nfc')""".stripMargin)
    view("pragma_metadata_info",
      """SELECT CAST(NULL AS BIGINT) AS block_id,
        |  CAST(NULL AS BIGINT) AS total_blocks,
        |  CAST(NULL AS BIGINT) AS free_blocks,
        |  CAST(array() AS ARRAY<BIGINT>) AS free_list LIMIT 0""".stripMargin)
    // live zone list from the JVM (offsets as day-time intervals)
    locally {
      import sess.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      val now = java.time.Instant.now()
      scala.jdk.CollectionConverters
        .SetHasAsScala(java.time.ZoneId.getAvailableZoneIds).asScala.toSeq
        .sorted.map { z =>
          val zone = java.time.ZoneId.of(z)
          val off = zone.getRules.getOffset(now)
          (z, zone.getRules.getStandardOffset(now).getId,
            off.getTotalSeconds.toLong,
            zone.getRules.isDaylightSavings(now))
        }.toDF("name", "abbrev", "off_s", "is_dst")
        .select(col("name"), col("abbrev"),
          expr("make_dt_interval(0, 0, 0, off_s)").as("utc_offset"),
          col("is_dst"))
        .createOrReplaceTempView("pg_timezone_names")
    }
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
    // parser-level enforcement flag (ReadOnlyGuard): Thrift/JDBC clients
    // execute on this session directly, never through Gateway.sql
    if (readOnly) sess.conf.set("spark.graft.readOnly", "true")
    if (attachAllow.nonEmpty)
      sess.conf.set(attachAllowKey, attachAllow.mkString(","))
    Tables.register(sess, dataDir)
    Functions.register(sess)
    registerCatalogViews(sess)
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
