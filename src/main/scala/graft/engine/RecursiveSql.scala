package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text path for `WITH RECURSIVE … UNION …` statements.
  *
  * Spark 4.1 ships native recursive CTEs but only for UNION ALL
  * recursion ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]); the reference's
  * dialect (DuckDB, /root/reference/main.go:229) also accepts bare
  * UNION, whose semantics — the working table is each round's NEW
  * distinct rows, recursion stops when a round adds nothing — are
  * exactly the semi-naive fixpoint `Recursive.fixpoint` already runs
  * for the DataFrame form. This object parses the statement just enough
  * to drive that fixpoint from SQL text:
  *
  *   WITH RECURSIVE a AS (…), r(cols) AS (seed UNION step), b AS (…)
  *   outer-select
  *
  * One self-referencing CTE is supported (the common linear-recursion
  * shape); statements whose recursion is UNION ALL, or with no
  * self-reference at all, are NOT handled here — the caller passes them
  * to Spark's native path. The split runs on Dialect.scanCode, which
  * skips literals, quoted identifiers and comments and tracks paren
  * depth, so none of those can derail it on `UNION` or a paren.
  */
object RecursiveSql {

  final case class Cte(name: String, cols: Seq[String], body: String) {
    def selfRefs: Boolean = RecursiveSql.refs(body, name)
  }
  final case class Parsed(ctes: Seq[Cte], outer: String)

  private val prefixRe = """(?is)^\s*WITH\s+RECURSIVE\s""".r

  def isRecursive(sql: String): Boolean = prefixRe.findFirstIn(sql).isDefined

  /** Whole-word, quote-unaware reference check — CTE names are plain
    * identifiers and a false positive inside a string literal only
    * costs routing a statement down the (still correct) fixpoint path.
    */
  private def refs(sql: String, name: String): Boolean =
    ("""(?i)(?<![\w"])""" + java.util.regex.Pattern.quote(name) + """(?![\w"])""").r
      .findFirstIn(sql).isDefined

  /** Parse the CTE list and outer query. Returns None when the text
    * doesn't scan as a WITH RECURSIVE statement (caller falls back to
    * the native parser, which will produce the real error message).
    */
  def parse(sql: String): Option[Parsed] = prefixRe.findFirstIn(sql).map { m =>
    var i = m.length
    val n = sql.length
    def skipWs(): Unit = { while (i < n && sql(i).isWhitespace) i += 1 }
    def ident(): String = {
      skipWs()
      val start = i
      if (i < n && sql(i) == '"') { // quoted identifier
        i += 1; while (i < n && sql(i) != '"') i += 1; i += 1
        sql.substring(start + 1, i - 1)
      } else {
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
        sql.substring(start, i)
      }
    }
    // scan from an opening paren to its match
    def parenBlock(): String = {
      skipWs()
      require(i < n && sql(i) == '(', s"expected '(' at $i")
      val close = Dialect.scanCode(sql, i) { (j, depth) =>
        if (depth == 1 && sql(j) == ')') -1 else j
      }
      require(close > i, "unbalanced parens in WITH RECURSIVE")
      val body = sql.substring(i + 1, close)
      i = close + 1
      body
    }
    val ctes = scala.collection.mutable.ArrayBuffer.empty[Cte]
    var more = true
    while (more) {
      val name = ident()
      require(name.nonEmpty, "expected CTE name")
      skipWs()
      val cols =
        if (i < n && sql(i) == '(')
          parenBlock().split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
        else Seq.empty
      skipWs()
      require(sql.regionMatches(true, i, "AS", 0, 2), s"expected AS after CTE $name")
      i += 2
      val body = parenBlock()
      ctes += Cte(name, cols, body)
      skipWs()
      if (i < n && sql(i) == ',') { i += 1 } else more = false
    }
    Parsed(ctes.toSeq, sql.substring(i).trim)
  }

  /** Split a CTE body at top-level bare `UNION` boundaries (UNION ALL
    * stays inside a branch — it's plain set union within seed or step).
    */
  private[engine] def unionBranches(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var last = 0
    Dialect.scanCode(body) { (i, depth) =>
      if (depth != 0 || !Dialect.keywordAt(body, i, "UNION")) i
      else {
        // peek past whitespace for ALL — that's a branch-internal union
        var j = i + 5
        while (j < body.length && body(j).isWhitespace) j += 1
        if (Dialect.keywordAt(body, j, "ALL")) j + 3
        else {
          out += body.substring(last, i)
          last = i + 5
          last
        }
      }
    }
    out += body.substring(last)
    out.map(_.trim).toSeq
  }

  /** True when this statement needs the fixpoint path: exactly one
    * self-referencing CTE whose body splits on a top-level bare UNION.
    */
  def needsFixpoint(p: Parsed): Boolean = {
    val rec = p.ctes.filter(_.selfRefs)
    rec.length == 1 && unionBranches(rec.head.body).length > 1
  }

  /** Execute via Recursive.fixpoint on the given session. Non-recursive
    * CTEs and the accumulated recursive relation are registered as temp
    * views for the duration of ANALYSIS only — plans are inlined at
    * analysis time, so views are dropped (and any shadowed temp views
    * restored) before the result is returned. Synchronized per session:
    * two concurrent statements defining the same CTE name must not race
    * on the shared temp-view namespace.
    */
  def run(session: SparkSession, p: Parsed, maxIter: Int = 200): DataFrame =
    session.synchronized {
      val rec = p.ctes.filter(_.selfRefs) match {
        case Seq(one) => one
        case many => throw new GatewayException(
          s"WITH RECURSIVE: expected exactly one self-referencing CTE, " +
            s"found ${many.map(_.name).mkString("[", ", ", "]")}")
      }
      val branches = unionBranches(rec.body)
      val (stepSqls, seedSqls) = branches.partition(refs(_, rec.name))
      if (seedSqls.isEmpty)
        throw new GatewayException(
          s"WITH RECURSIVE ${rec.name}: no non-recursive seed branch")
      val names = p.ctes.map(_.name)
      val shadowed = names.flatMap { nm =>
        if (session.catalog.tableExists(nm) &&
            session.catalog.getTable(nm).isTemporary)
          Some(nm -> session.table(nm))
        else None
      }
      try {
        // non-recursive CTEs first, in order (later ones may read earlier)
        p.ctes.filterNot(_.selfRefs).foreach { c =>
          val df0 = session.sql(c.body)
          val df = if (c.cols.nonEmpty) df0.toDF(c.cols: _*) else df0
          df.createOrReplaceTempView(c.name)
        }
        def named(df: DataFrame): DataFrame =
          if (rec.cols.nonEmpty) df.toDF(rec.cols: _*) else df
        val seed = named(seedSqls.map(session.sql).reduce(_ union _))
        val result = Recursive.fixpoint(seed, maxIter = maxIter) { frontier =>
          // analysis inlines the frontier's plan into each step — the
          // view is re-pointed per application, never read lazily
          frontier.createOrReplaceTempView(rec.name)
          named(stepSqls.map(session.sql).reduce(_ union _))
        }
        result.createOrReplaceTempView(rec.name)
        val out = session.sql(p.outer)
        out.queryExecution.assertAnalyzed()
        out
      } finally {
        names.foreach(session.catalog.dropTempView)
        shadowed.foreach { case (nm, df) => df.createOrReplaceTempView(nm) }
      }
    }
}
