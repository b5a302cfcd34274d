package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.engine.Dialect

class DialectSpec extends AnyFunSuite {

  import TestProps.forAll

  test("globToRegex basics") {
    assert("abc".matches(Dialect.globToRegex("a*")))
    assert("abc".matches(Dialect.globToRegex("a?c")))
    assert(!"abc".matches(Dialect.globToRegex("b*")))
    assert("a.c".matches(Dialect.globToRegex("a.c")))
    assert(!"axc".matches(Dialect.globToRegex("a.c"))) // dot is literal
    assert("file1".matches(Dialect.globToRegex("file[0-9]")))
    assert(!"filex".matches(Dialect.globToRegex("file[0-9]")))
    assert("filex".matches(Dialect.globToRegex("file[!0-9]")))
  }

  test("globToRegex: literal-only patterns match exactly themselves") {
    val literal = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    forAll(literal) { s =>
      assert(s.matches(Dialect.globToRegex(s)))
      assert(!(s + "x").matches(Dialect.globToRegex(s)))
    }
  }

  test("globToRegex: star prefix/suffix") {
    val literal = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    forAll(literal, literal) { (a, b) =>
      assert((a + b).matches(Dialect.globToRegex(a + "*")))
      assert((a + b).matches(Dialect.globToRegex("*" + b)))
      assert((a + "||" + b).matches(Dialect.globToRegex(a + "*" + b)))
    }
  }

  test("strftimeToJava core patterns") {
    assert(Dialect.strftimeToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Dialect.strftimeToJava("%H:%M:%S") == "HH:mm:ss")
    assert(Dialect.strftimeToJava("%Y-%m-%d %H:%M") == "yyyy-MM-dd HH:mm")
    // literal text is quoted so JDK pattern letters in it stay inert
    assert(Dialect.strftimeToJava("at %H") == "'at 'HH")
    assert(Dialect.strftimeToJava("%d%%") == "dd'%'")
  }

  test("strftimeToJava round-trips a formatted timestamp") {
    import java.time.LocalDateTime
    import java.time.format.DateTimeFormatter
    val ldt = LocalDateTime.of(2024, 3, 7, 15, 4, 5)
    val pairs = Seq(
      "%Y-%m-%d %H:%M:%S" -> "2024-03-07 15:04:05",
      "%d/%m/%y" -> "07/03/24",
      "%H:%M" -> "15:04")
    pairs.foreach { case (strf, expected) =>
      val fmt = DateTimeFormatter.ofPattern(Dialect.strftimeToJava(strf))
      assert(ldt.format(fmt) == expected, s"for $strf")
    }
  }

  test("rewrite is comment-aware: operators inside -- and /* */ survive") {
    val r1 = Dialect.rewrite("SELECT a // b FROM t -- also a // b here\n")
    assert(r1.contains("div"), r1)
    assert(r1.contains("-- also a // b here"), r1)
    val r2 = Dialect.rewrite("SELECT 1 /* x GLOB 'a*' QUALIFY rn = 1 */ FROM t")
    assert(r2.contains("/* x GLOB 'a*' QUALIFY rn = 1 */"), r2)
    // QUALIFY only in a comment → no rewrite triggered at all
    val r3 = Dialect.rewrite("SELECT a FROM t -- QUALIFY rn = 1\n")
    assert(!r3.contains("__q"), r3)
    // a -- comment swallows its newline: following line stays live code
    val r4 = Dialect.rewrite("SELECT a -- c\n// 2 AS h FROM t")
    assert(r4.contains("div"), r4)
  }

  test("cast-body rewrites are comment/literal-aware (r12 ADVICE)") {
    // an `AS JSON` inside a trailing line comment must not turn a valid
    // CAST into graft_json_cast(x AS INT --) — a parse error
    val r1 = Dialect.rewrite("SELECT CAST(x AS INT -- AS JSON\n) FROM t")
    assert(!r1.contains("graft_json_cast"), r1)
    assert(r1.toUpperCase.contains("AS INT"), r1)
    // same class for the type-map pass: HUGEINT in a comment stays text
    val r2 = Dialect.rewrite("SELECT CAST(x AS INT -- AS HUGEINT\n) FROM t")
    assert(!r2.contains("DECIMAL(38,0)"), r2)
    // and a REAL cast whose body merely CONTAINS a literal still maps
    val r3 = Dialect.rewrite("SELECT CAST('7' AS HUGEINT) FROM t")
    assert(r3.contains("DECIMAL(38,0)") && r3.contains("'7'"), r3)
    val r4 = Dialect.rewrite("SELECT CAST(' {\"a\":1} ' AS JSON) FROM t")
    // inner text (incl. the literal) must come from the ORIGINAL body,
    // never the blanked mask; whitespace tail is cosmetic
    assert(r4.contains("graft_json_cast(' {\"a\":1} '"), r4)
  }

  test("rewrite boundary: '_'/'.'-joined identifiers are not rewritten") {
    val r1 = Dialect.rewrite("SELECT my_datediff('day', a, b) FROM t")
    assert(r1.contains("my_datediff("), r1)
    val r2 = Dialect.rewrite("SELECT archive_date_diff('day', x, y) FROM t")
    assert(r2.contains("archive_date_diff("), r2)
    val r3 = Dialect.rewrite("SELECT s.datediff('day', a, b) FROM t")
    assert(r3.contains("s.datediff("), r3)
    // the real call still rewrites
    val r4 = Dialect.rewrite("SELECT date_diff('day', a, b) FROM t")
    assert(r4.contains("timestampdiff(DAY"), r4)
    val r5 = Dialect.rewrite("SELECT my_duckdb_tables() FROM t")
    assert(r5.contains("my_duckdb_tables()"), r5)
  }

  test("rewrite honors SQL-escaped quotes ('' stays one literal)") {
    val r1 = Dialect.rewrite("SELECT 'it''s // fine' AS s FROM t")
    assert(r1.contains("'it''s // fine'"), r1)
    assert(!r1.contains("div"), r1)
    val r2 = Dialect.rewrite("SELECT 'a''b GLOB ''x''' AS s FROM t")
    assert(r2.contains("'a''b GLOB ''x'''"), r2)
    assert(!r2.toUpperCase.contains("RLIKE"), r2)
    // and an escaped literal BEFORE a real operator doesn't desync the scan
    val r3 = Dialect.rewrite("SELECT 'it''s', a // b FROM t")
    assert(r3.contains("'it''s'") && r3.contains("div"), r3)
  }

  test("rewriteAsOf edge cases: literals, identifiers, functions, fall-through") {
    import graft.engine.{Dialect, GatewayException}
    // ASOF inside a string literal, or a column named asof: untouched
    val lit = Dialect.rewrite("SELECT 'ASOF JOIN' AS s FROM t")
    assert(lit.contains("'ASOF JOIN'") && !lit.contains("graft_asof"), lit)
    assert(!Dialect.rewrite("SELECT asof, t.asof, asof_col FROM t").contains("graft_asof"))
    // ASOF is dropped and the marker leads this join's ON; left()/right()
    // functions inside the condition survive
    val f = Dialect.rewrite(
      "SELECT * FROM a ASOF JOIN b r ON left(a.k, 2) = left(r.k, 2) AND a.ts >= r.ts")
    assert(f.contains("FROM a JOIN b r ON graft_asof() AND left(a.k, 2) = left(r.k, 2)") &&
      !f.contains("ASOF"), f)
    val fwd = Dialect.rewrite(
      "SELECT * FROM a ASOF LEFT JOIN b r ON a.k = r.k AND r.ts >= a.ts")
    assert(fwd.contains("LEFT JOIN b r ON graft_asof() AND a.k = r.k AND r.ts >= a.ts"), fwd)
    // no alias on a subquery right side: DuckDB accepts it, so it rewrites
    val noAlias = Dialect.rewrite(
      "SELECT * FROM a ASOF JOIN (SELECT * FROM b) ON a.k = b.k AND a.ts >= b.ts")
    assert(noAlias.contains("JOIN (SELECT * FROM b) ON graft_asof() AND a.k = b.k"), noAlias)
    // two ASOF joins in one statement both get a marker, each on its own
    // ON; a plain join between them gets none
    val two = Dialect.rewrite(
      "SELECT * FROM a ASOF JOIN b r ON a.k = r.k AND a.ts >= r.ts " +
        "JOIN d ON d.k = a.k ASOF JOIN c s ON a.k = s.k AND a.ts >= s.ts")
    assert("graft_asof".r.findAllIn(two).size == 2 &&
      two.contains("JOIN d ON d.k = a.k JOIN c s ON graft_asof() AND a.k = s.k"), two)
    // an ASOF join inside the right side's subquery is marked too
    val nested = Dialect.rewrite(
      "SELECT * FROM a ASOF JOIN (SELECT * FROM b ASOF JOIN c ON b.ts >= c.ts) x " +
        "ON a.ts >= x.ts")
    assert(nested.contains("JOIN c ON graft_asof() AND b.ts >= c.ts) x ON graft_asof() AND a.ts"),
      nested)
    // USING (or no ON at all) is refused, never marked onto a later join
    intercept[GatewayException](Dialect.rewrite("SELECT * FROM a ASOF JOIN b USING (k, ts)"))
    intercept[GatewayException](
      Dialect.rewrite("SELECT * FROM a ASOF JOIN b JOIN c ON a.k = c.k"))
  }

  test("property: every rewrite trigger embedded in a literal or quoted identifier survives verbatim") {
    // one trigger per Dialect pass (the pipeline's 24 passes all claim
    // "string literals and quoted identifiers are never rewritten" —
    // this pins the invariant for all of them at once)
    val triggers = Seq(
      "'ab'::BLOB", "CAST('x' AS BLOB)",          // rewriteBlob
      "7::BIT", "CAST(x AS BIT)",                 // rewriteBitCasts
      "{'a': 1}", "MAP {'k': 2}",                 // rewriteBraceLiterals
      "[1,2,3]", "l[2]", "l[2:4]",                // rewriteBrackets
      "struct_pack(a := 1)", "union_value(n := 2)", // rewriteNamedArgCalls
      "lag(x IGNORE NULLS)",                      // rewriteIgnoreNulls
      "TIMESTAMPTZ '2024-01-01'",                 // rewriteTimestampTz
      "x AT TIME ZONE 'UTC'",                     // rewriteAtTimeZone
      "2 ^ 3",                                    // rewritePowOp
      "a // b", "x GLOB 'p*'", "j ->> 'a'",       // rewriteOperators
      "FROM range(5)", "FROM unnest([1])",        // rewriteFromTvf
      "FROM generate_series(1, 3)",
      "USING SAMPLE 10%",                         // rewriteSample
      "> ALL (SELECT 1)", "= ANY (SELECT 1)",     // rewriteQuantified
      "count(*) OVER ()",                         // rewriteEmptyOver
      "count(*) FILTER (WHERE x > 1)",            // rewriteBareFilter
      "list(x ORDER BY y)",                       // rewriteAggOrderBy
      "* EXCLUDE (a)", "* REPLACE (b AS a)",      // rewriteStarModifiers
      "SELECT DISTINCT ON (a) b",                 // rewriteDistinctOn
      "ASOF JOIN t ON a.ts >= t.ts",              // rewriteAsOf
      "QUALIFY rn = 1",                           // rewriteQualify
      "duckdb_tables()", "duckdb_columns()",      // table functions
      "FROM 'a.csv'", "read_csv('a', header=true)", // rewriteFileScans
      "datediff('day', a, b)",                    // rewriteDateDiff
      "x::VARCHAR", "CAST(x AS HUGEINT)",         // rewriteCastTypes
      "5!", "n ! = 120",                          // rewriteFactorial
      "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING", // rewriteGroupsFrame
      "EXCLUDE CURRENT ROW", "EXCLUDE TIES",      // rewriteExcludeFrames
      "x::INT[3]", "CAST(x AS BIGINT[])",         // rewriteArrayTypeSuffix
      "e'a\\nb'",                                 // rewriteEscapeStrings
      "x ~~* 'p%'", "x !~~* 'p%'", "x ~~~ 'g*'",  // tilde operators
      "COLLATE NOCASE",                           // collation mapping
      "information_schema.tables",                // info-schema views
      "(SHOW TABLES)", "(DESCRIBE t)", "(SUMMARIZE t)", // rewriteStatements
      "any_value(x ORDER BY y)")                  // ordered any_value
    val noise = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))))
    val embed = Gen.oneOf(0, 1) // 0 = string literal, 1 = quoted identifier
    val cases = for {
      t <- Gen.oneOf(triggers); pre <- noise; post <- noise; e <- embed
    } yield (t, pre, post, e)
    TestProps.forAll(cases) { case (t, pre, post, e) =>
      val payload = pre + t + post
      val (sql, embedded) =
        if (e == 0) {
          val lit = "'" + payload.replace("'", "''") + "'"
          (s"SELECT $lit AS c FROM t", lit)
        } else {
          val id = "\"" + payload.replace("\"", "\"\"") + "\""
          (s"SELECT x AS $id FROM t", id)
        }
      val out = Dialect.rewrite(sql)
      assert(out.contains(embedded),
        s"embedded ${if (e == 0) "literal" else "identifier"} was rewritten:" +
          s"\n  in:  $sql\n  out: $out")
    }
  }

  test("rewriteStatements: DuckDB statements lower, Spark's own forms stay") {
    // Spark's statements, columns named like the keywords, literals, and
    // the no-op words in subquery position (DuckDB reads `(begin)` as a
    // column) come out as they went in
    Seq("SHOW TABLES IN remote.main", "SHOW FUNCTIONS", "DESCRIBE FUNCTION f",
      "DESCRIBE SELECT a FROM t", "SELECT pragma, summarize FROM t",
      "SELECT (begin), (analyze) FROM t", "SELECT 'SHOW TABLES' AS s, \"DESC t\" FROM t",
      "SELECT a FROM t ORDER BY (a) DESC", "SELECT * FROM (BEGIN)").foreach { s =>
      assert(Dialect.rewrite(s) == s, s)
    }
    val show = "SELECT * FROM pragma_show('t')"
    val lowered = Seq(
      "DESC t" -> show,
      "SHOW s.t;" -> "SELECT * FROM pragma_show('s.t')",
      "/* lead */ DESCRIBE t" -> s"/* lead */ $show",
      "-- lead\nSUMMARIZE t ;" -> "-- lead\nSELECT * FROM summarize('t')",
      "PRAGMA table_info('t')" -> "SELECT * FROM pragma_table_info('t')",
      "PRAGMA Version" -> "SELECT * FROM pragma_version()",
      "PRAGMA show_tables" -> "SELECT table_name AS name FROM duckdb_tables() ORDER BY name",
      "SHOW TABLES" -> "SELECT table_name AS name FROM duckdb_tables() ORDER BY name",
      "SHOW ALL TABLES" -> ("SELECT database_name AS database, schema_name AS schema, " +
        "table_name AS name, array_sort(collect_list(struct(column_index, column_name)))" +
        ".column_name AS column_names, array_sort(collect_list(struct(column_index, " +
        "data_type))).data_type AS column_types, false AS temporary FROM duckdb_columns() " +
        "GROUP BY database_name, schema_name, table_name ORDER BY database, schema, name"),
      "FORCE CHECKPOINT;" -> "SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0",
      "SELECT * FROM (DESC t) d JOIN (SUMMARIZE u) s ON true" ->
        s"SELECT * FROM ($show) d JOIN (SELECT * FROM summarize('u')) s ON true",
      "UNPIVOT t ON a AS x, b INTO NAME k VALUE v ORDER BY v LIMIT 2" ->
        "SELECT * FROM t UNPIVOT (v FOR k IN (a AS x, b)) ORDER BY v LIMIT 2",
      "SELECT * FROM (UNPIVOT (SELECT 1 AS a) ON a INTO NAME k VALUE v) u" ->
        "SELECT * FROM (SELECT * FROM (SELECT 1 AS a) UNPIVOT (v FOR k IN (a))) u")
    lowered.foreach { case (in, out) => assert(Dialect.rewrite(in) == out, in) }
  }

  test("property: operand-recovery scanners round-trip nested brackets/quotes/comments") {
    // The backward operand scans (operandStart for `::BIT`,
    // backtrackPrimary for `**`/`^`/postfix `!`) and the named-arg
    // splitter (`:=` via splitCallArgs) walk bracket/quote/comment
    // structure by hand — the likeliest residual-bug site (round-7
    // VERDICT). Generate adversarial operands: nested calls, parens,
    // literals stuffed with bracket/comment tokens, block comments
    // INSIDE argument lists — and assert the full rewrite output still
    // PARSES under Spark's parser with every literal intact verbatim.
    val ident = for {
      n <- Gen.chooseNum(1, 6)
      s <- Gen.stringOfN(n, Gen.alphaLowerChar)
    } yield "c" + s // prefix dodges keyword collisions
    val nastyChar = Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('(', ')', '[', ']', '*', '/', ':', '=',
        '!', ',', ' ', '-', '\''))
    val literal = for {
      n <- Gen.chooseNum(0, 10)
      s <- Gen.stringOfN(n, nastyChar)
    } yield "'" + s.replace("'", "''") + "'"
    val comment = for {
      n <- Gen.chooseNum(0, 6)
      s <- Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('(', ')', '[', ']', ' ')))
    } yield s"/* $s */"
    def operand(depth: Int): Gen[String] =
      if (depth == 0) Gen.oneOf(ident, Gen.chooseNum(0, 999).map(_.toString), literal)
      else Gen.frequency(
        2 -> operand(0),
        2 -> (for { f <- ident; a <- operand(depth - 1); b <- operand(depth - 1) }
          yield s"$f($a, $b)"),
        1 -> (for { f <- ident; a <- operand(depth - 1); c <- comment }
          yield s"$f($a $c)"), // comment inside the argument list
        1 -> operand(depth - 1).map(o => s"($o)"))
    val shapes = for {
      op <- operand(3)
      k <- Gen.oneOf(0, 1, 2, 3)
    } yield (op, k)
    val parser = TestSpark.spark.sessionState.sqlParser
    TestProps.forAll(shapes) { case (op, k) =>
      val sql = k match {
        case 0 => s"SELECT $op::BIT AS b FROM t"
        case 1 => s"SELECT struct_pack(ka := $op, kb := 1) AS s FROM t"
        case 2 => s"SELECT $op ** 2 AS p FROM t"
        case _ => s"SELECT $op! AS f FROM t"
      }
      val out = Dialect.rewrite(sql)
      // every generated string literal survives verbatim
      val lits = """'(?:[^']|'')*'""".r.findAllIn(sql.stripPrefix("SELECT ")).toSeq
      lits.foreach { l =>
        assert(out.contains(l), s"literal $l lost:\n  in:  $sql\n  out: $out")
      }
      // the rewrite landed (operand recovered, cast/op/args became calls)
      val expect = k match {
        case 0 => "graft_bit("
        case 1 => "named_struct("
        case 2 => "power("
        case _ => "factorial("
      }
      assert(out.contains(expect), s"expected $expect:\n  in:  $sql\n  out: $out")
      // and the result is still parseable SQL
      try parser.parsePlan(out)
      catch { case e: Exception =>
        fail(s"rewrite output does not re-parse: ${e.getMessage}\n  in:  $sql\n  out: $out")
      }
    }
    // deterministic pins of the exact shapes that defeated the pre-fix
    // scanners: a bracket-bearing block comment inside the operand's
    // argument list (backward scans must treat comment content as
    // opaque, like the forward scans always did)
    def squash(s: String): String = s.replaceAll("\\s+", "")
    val bitOut = Dialect.rewrite("SELECT f(x /* ) */)::BIT AS b FROM t")
    assert(squash(bitOut).contains(squash("graft_bit(f(x /* ) */))")), bitOut)
    val powOut = Dialect.rewrite("SELECT f(x /* ( */) ** 2 AS p FROM t")
    assert(squash(powOut).contains(squash("power(f(x /* ( */), 2)")), powOut)
    val factOut = Dialect.rewrite("SELECT g(y /* )) */)! AS f FROM t")
    assert(squash(factOut).contains(squash("factorial(g(y /* )) */))")), factOut)
    // forward scan: a comment between the operator and its RIGHT operand
    // rides along inside the call (Spark parses it; pre-fix the scan
    // stopped AT the comment and left `** ` unrewritten)
    val powFwd = Dialect.rewrite("SELECT 2 ** /* c */ 3 AS p FROM t")
    assert(squash(powFwd).contains(squash("power(2, /* c */ 3)")), powFwd)
  }

  test("property: postfix operators and casts wrap exactly the operand before them") {
    // one operand finder serves `::JSON`, `::BIT`, `**`, `!`, `[i]` and
    // `->>`: whatever the operand's shape — a name chain, a quoted
    // identifier, a literal with '' inside, a call or group whose
    // comment holds brackets — the rewrite wraps that operand and
    // nothing before it
    def word(prefix: String) =
      Gen.chooseNum(1, 5).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
        .map(prefix + _)
    val bracketText = Gen.chooseNum(0, 6).flatMap(n => Gen.stringOfN(n,
      Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('(', ')', '[', ']', '{', '}', ' ', ',', '\'', '"'))))
    val quotedId = bracketText.map(t => "\"" + t.replace("\"", "\"\"") + "\"")
    val literal = bracketText.map(t => "'" + t.replace("'", "''") + "'")
    val comment = bracketText.map(t => s"/* $t */")
    val number = Gen.oneOf(Gen.chooseNum(0, 99).map(_.toString), Gen.const("1.5"))
    val chain = for {
      head <- word("t_")
      tail <- Gen.oneOf(word("col_"), quotedId)
    } yield s"$head.$tail"
    def operand(depth: Int): Gen[String] =
      if (depth == 0) Gen.oneOf(word("col_"), quotedId, literal, number, chain)
      else Gen.frequency(
        3 -> operand(0),
        1 -> (for { f <- word("fn_"); a <- operand(depth - 1); c <- comment }
          yield s"$f($a $c)"),
        1 -> (for { a <- operand(depth - 1); b <- operand(depth - 1); c <- comment }
          yield s"($a + $b $c)"),
        1 -> (for { a <- chain; c <- comment } yield s"$a[2 $c]"))
    val postfix = Seq(
      "::JSON" -> ((o: String) => s"graft_json_cast($o)"),
      "::BIT" -> ((o: String) => s"graft_bit($o)"),
      " ** 2" -> ((o: String) => s"power($o, 2)"),
      "!" -> ((o: String) => s"factorial($o)"),
      "[1]" -> ((o: String) => s"graft_subscript($o, 1)"),
      " ->> 'k'" -> ((o: String) => s"get_json_object($o, '$$.k')"))
    val before = Seq("1 + " -> "", "(" -> ")", "col_p, " -> "")
    val cases = for {
      op <- operand(2); p <- Gen.oneOf(postfix); b <- Gen.oneOf(before)
    } yield (op, p, b)
    def squash(s: String): String = s.replaceAll("\\s+", "")
    TestProps.forAll(cases) { case (op, (post, wrap), (open, close)) =>
      val sql = s"SELECT $open$op$post$close AS v FROM t"
      // the operand as the rest of the pipeline renders it on its own
      val opOut = Dialect.rewrite(s"SELECT $op").stripPrefix("SELECT ")
      val out = Dialect.rewrite(sql)
      assert(squash(out).contains(squash(s"$open${wrap(opOut)}$close AS v")),
        s"\n  in:  $sql\n  out: $out\n  operand: $opOut")
    }
  }

  test("property: jaro/jaro-winkler bounds, identity, symmetry") {
    import graft.engine.expressions.StringSim
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val word = Gen.chooseNum(0, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaChar))
    forAll(word, word) { (a, b) =>
      val j = StringSim.jaro(u(a), u(b))
      val jw = StringSim.jaroWinkler(u(a), u(b))
      assert(j >= 0.0 && j <= 1.0, s"jaro($a,$b)=$j")
      assert(jw >= j && jw <= 1.0, s"jw($a,$b)=$jw < jaro $j")
      assert(StringSim.jaro(u(b), u(a)) == j, s"asymmetric on ($a,$b)")
      if (a.nonEmpty) assert(StringSim.jaro(u(a), u(a)) == 1.0)
    }
  }

  test("property: rawifyLiterals doubles literal backslashes, nothing else") {
    // content alphabet stresses the scanner's edges: backslashes, quote
    // doubling, comment-lookalikes, bracket/operator text
    val piece = Gen.oneOf("\\", "\\\\", "d", "''", "--x", "/*y*/", " ",
      "~", "[1]", "a")
    val content = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    val cases = for { c <- content; tail <- content } yield (c, tail)
    TestProps.forAll(cases) { case (c, tail) =>
      val lit = "'" + c + "'"
      // literal body: every backslash doubled, quote structure kept
      val sql = s"SELECT $lit AS x -- note: $tail\\d\nFROM t \"id\\q\""
      val out = Dialect.rawifyLiterals(sql)
      val expectLit = "'" + c.replace("\\", "\\\\") + "'"
      assert(out.contains(expectLit), s"in: $sql\nout: $out")
      // the comment and the quoted identifier keep their single backslash
      assert(out.contains(s"-- note: $tail\\d"), out)
      assert(out.contains("\"id\\q\""), out)
      // idempotent on backslash-free input
      val clean = sql.replace("\\", "")
      assert(Dialect.rawifyLiterals(clean) == clean)
    }
  }

  test("e-strings decode escapes; plain literals stay raw end-to-end") {
    // dialect-level: e'…' decodes, '…' passes through for rawify
    assert(Dialect.rewrite("SELECT e'a\\nb' AS s").contains("'a\nb'"))
    assert(Dialect.rewrite("SELECT e'\\x41\\u0042' AS s").contains("'AB'"))
    assert(Dialect.rewrite("SELECT e'it''s' AS s").contains("'it''s'"))
    // an e-string INSIDE a plain literal is content, not syntax
    val inLit = "SELECT 'prefix e''x\\n'' suffix' AS s"
    assert(Dialect.rewrite(inLit) == inLit)
  }
}
