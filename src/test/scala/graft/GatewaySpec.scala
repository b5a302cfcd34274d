package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Dialect, Gateway, GatewayException}

/** End-to-end gateway tests: DuckDB-dialect SQL strings in → results
  * out, mirroring the reference's own smoke procedure
  * (client/main.py:11 `SELECT 1 AS a`, client/main.go:27 catalog query).
  */
class GatewaySpec extends AnyFunSuite {
  import TestSpark._

  lazy val gw: Gateway = Gateway.open(spark, sf)

  test("reference smoke: SELECT 1 AS a") {
    val rows = gw.sql("SELECT 1 AS a").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1))
  }

  test("WITH RECURSIVE runs through the gateway, differential vs fixpoint") {
    // the t6 oracle SQL VERBATIM (Spark 4.1 ships native recursive
    // CTEs, so the client text path needs no rewrite) vs the engine's
    // Recursive.fixpoint DataFrame form — independent implementations
    // of the same BFS fixpoint must agree row-for-row
    val viaSql = gw.sql(SparkEntry.oracleSql("t6_recursive_cte")).collect()
    val viaFixpoint = SparkEntry.queries("t6_recursive_cte")(spark, sf).collect()
    assert(viaSql.length == viaFixpoint.length)
    viaSql.zip(viaFixpoint).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getInt(1) == b.getInt(1))
    }
  }

  test("WITH RECURSIVE: UNION terminates on a cyclic graph; UNION ALL passes to native") {
    // 3-cycle 0→1→2→0: bare-UNION recursion must converge (each round's
    // working table is the NEW distinct rows — after one lap there are
    // none), where UNION ALL enumeration would spin forever
    val cyc = gw.sql(
      """WITH RECURSIVE e(a, b) AS (
        |  SELECT 0, 1 UNION ALL SELECT 1, 2 UNION ALL SELECT 2, 0),
        |r(node) AS (
        |  SELECT 0
        |  UNION
        |  SELECT e.b FROM r JOIN e ON e.a = r.node)
        |SELECT node FROM r ORDER BY node""".stripMargin).collect()
    assert(cyc.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    // UNION ALL recursion (acyclic) goes through Spark's native
    // recursive CTE — counts every PATH, not every node
    val paths = gw.sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5)
        |SELECT count(*) AS c, sum(n) AS s FROM t""".stripMargin).collect()(0)
    assert(paths.getLong(0) == 5L && paths.getLong(1) == 15L)
  }

  test("ASOF JOIN SQL runs through the gateway, differential vs custom plan") {
    // the j7/j7b oracle texts VERBATIM — the DuckDB-dialect statements a
    // reference client would send — vs the engine's DataFrame queries
    for (name <- Seq("j7_asof_join", "j7_asof_inner")) {
      val viaSql = gw.sql(SparkEntry.oracleSql(name)).collect().toSeq
      val viaPlan = SparkEntry.queries(name)(spark, sf).collect().toSeq
      withClue(s"$name: ") { assert(viaSql == viaPlan) }
    }
    // forward ASOF (right ts on the LARGER side → nearest follower):
    // next purchase at-or-after each click, vs a window-computed oracle
    val fwd = gw.sql(
      """SELECT l.event_id, r.event_id AS next_purchase
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        |ORDER BY l.event_id ASC NULLS LAST""".stripMargin).collect().toSeq
    val oracle = spark.sql(
      """SELECT l.event_id,
        |  (SELECT MIN_BY(r.event_id, r.ts) FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |     AND r.ts >= l.ts) AS next_purchase
        |FROM events l WHERE l.event_type = 'click'
        |ORDER BY l.event_id ASC NULLS LAST""".stripMargin).collect().toSeq
    assert(fwd == oracle)
  }

  test("served ev_attribution (alias-less ASOF right side) equals its DataFrame query") {
    val viaSql = gw.sql(SparkEntry.oracleSql("ev_attribution")).collect().toSeq
    val viaPlan = SparkEntry.queries("ev_attribution")(spark, sf).collect().toSeq
    assert(viaSql.nonEmpty && viaSql == viaPlan)
    // the Thrift/JDBC path: statements run on the gateway session directly
    assert(gw.session.sql(SparkEntry.oracleSql("ev_attribution")).collect().toSeq == viaPlan)
  }

  test("served ASOF matches DuckDB 1.0 on sf0.01 events: direction, inner, no key") {
    // the sibling sf0.01 fixture: (count, matched, sum of matched
    // event_id) of clicks ASOF purchases, each triple read from DuckDB 1.0
    val gw01 = Gateway.open(spark,
      new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath)
    def stats(join: String, cond: String): (Long, Long, Long) = {
      val r = gw01.sql(
        s"""SELECT count(*), count(r.event_id), sum(r.event_id)
           |FROM (SELECT * FROM events WHERE event_type = 'click') l
           |$join (SELECT * FROM events WHERE event_type = 'purchase') r
           |  ON $cond""".stripMargin).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(stats("ASOF LEFT JOIN", "l.user_id = r.user_id AND l.ts >= r.ts") ==
      ((2006L, 1865L, 8661770L)))
    assert(stats("ASOF JOIN", "l.user_id = r.user_id AND l.ts >= r.ts") ==
      ((1865L, 1865L, 8661770L)))
    assert(stats("ASOF LEFT JOIN", "l.user_id = r.user_id AND r.ts >= l.ts") ==
      ((2006L, 1858L, 10014121L)))
    assert(stats("ASOF LEFT JOIN", "l.ts >= r.ts") == ((2006L, 2004L, 9991265L)))
  }

  test("served ASOF: strict vs inclusive both ways, two keys, no key (DuckDB 1.0 pinned)") {
    // left and right timestamps tie (L1/R1 at 10, L6/R4 at 12), which
    // the sf data never does; right timestamps are unique, so every
    // answer is engine-independent. Expected strings read from DuckDB 1.0.
    val l = "(VALUES (1, 'a', 10, 'L1'), (1, 'a', 20, 'L2'), (1, 'b', 20, 'L3'), " +
      "(2, 'a', 5, 'L4'), (NULL, 'a', 20, 'L5'), (1, 'b', 12, 'L6')) l(k, g, ts, id)"
    val r = "(VALUES (1, 'a', 10, 'R1'), (1, 'a', 15, 'R2'), (1, 'a', 20, 'R3'), " +
      "(1, 'b', 12, 'R4'), (1, 'b', 25, 'R5'), (2, 'a', 5, 'R6'), (NULL, 'a', 1, 'R7')) r(k, g, ts, v)"
    def asof(join: String, cond: String): String =
      gw.sql(s"SELECT l.id, r.v FROM $l $join $r ON $cond ORDER BY l.id").collect()
        .map(x => s"${x.getString(0)}:${Option(x.getString(1)).getOrElse("-")}").mkString(" ")
    assert(asof("ASOF LEFT JOIN", "l.k = r.k AND l.ts >= r.ts") ==
      "L1:R1 L2:R3 L3:R3 L4:R6 L5:- L6:R4")
    assert(asof("ASOF LEFT JOIN", "l.k = r.k AND l.ts > r.ts") ==
      "L1:- L2:R2 L3:R2 L4:- L5:- L6:R1")
    assert(asof("ASOF LEFT JOIN", "l.k = r.k AND l.ts <= r.ts") ==
      "L1:R1 L2:R3 L3:R3 L4:R6 L5:- L6:R4")
    assert(asof("ASOF LEFT JOIN", "l.k = r.k AND r.ts > l.ts") ==
      "L1:R4 L2:R5 L3:R5 L4:- L5:- L6:R2")
    assert(asof("ASOF LEFT JOIN", "l.k = r.k AND l.g = r.g AND l.ts >= r.ts") ==
      "L1:R1 L2:R3 L3:R4 L4:R6 L5:- L6:R4")
    assert(asof("ASOF JOIN", "r.g = l.g AND r.k = l.k AND r.ts < l.ts") == "L2:R2 L3:R4")
    assert(asof("ASOF LEFT JOIN", "l.ts >= r.ts") == "L1:R1 L2:R3 L3:R3 L4:R6 L5:R3 L6:R4")
    assert(asof("ASOF JOIN", "l.ts < r.ts") == "L1:R4 L2:R5 L3:R5 L4:R1 L5:R5 L6:R2")
  }

  test("served ASOF: unsupported shapes raise a typed error naming the shape") {
    val from = "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
      "%s (SELECT * FROM events WHERE event_type = 'purchase') r %s"
    def err(join: String, tail: String): String =
      intercept[GatewayException](
        gw.sql("SELECT count(*) " + from.format(join, tail)).collect()).getMessage
    val on = "ON l.user_id = r.user_id AND l.ts >= r.ts"
    assert(err("ASOF RIGHT JOIN", on).contains("RIGHT"))
    assert(err("ASOF FULL JOIN", on).contains("FULL"))
    assert(err("ASOF JOIN", "USING (user_id, ts)").contains("USING"))
    assert(err("ASOF JOIN", "ON l.user_id = r.user_id").contains("without an inequality"))
    assert(err("ASOF JOIN", "ON l.user_id = r.user_id AND l.ts >= r.ts OR l.event_id > 3")
      .contains("OR"))
    assert(err("ASOF JOIN", on + " AND l.event_id >= r.event_id").contains("second inequality"))
    assert(err("ASOF LEFT JOIN", on + " AND r.props LIKE '%a%'").contains("LIKE"))
  }

  test("round-5 dialect batch: brackets, json arrows, agg ORDER BY, shims") {
    // values cross-checked against DuckDB 1.0 (gap-probe session)
    def one(sql: String) = gw.sql(sql).collect()(0)

    // bracket list literals → array(...); subscripts untouched
    val br = one("SELECT [1, 2, 3] AS l, [[1], [2]] AS n, ([1,2,3])[2] AS s")
    assert(br.getAs[scala.collection.Seq[Int]]("l").toSeq == Seq(1, 2, 3))
    assert(br.getAs[scala.collection.Seq[scala.collection.Seq[Int]]]("n").map(_.toSeq).toSeq
      == Seq(Seq(1), Seq(2)))
    assert(br.getAs[Int]("s") == 2)
    // a list index of any integral type; a BIGINT outside INT is NULL
    // (duckdb 1.0.0, where generate_series yields BIGINT)
    def v(sql: String) = one(sql).get(0)
    assert(v("SELECT (['a','b','c'])[CAST(2 AS BIGINT)]") == "b")
    assert(v("SELECT (['a','b','c'])[CAST(2 AS SMALLINT)]") == "b")
    assert(v("SELECT (['a','b','c'])[CAST(-2 AS TINYINT)]") == "b")
    assert(v("SELECT (['a','b','c'])[5000000000]") == null)
    assert(v("SELECT (['a','b','c'])[CAST(-5000000000 AS BIGINT)]") == null)
    assert(v("SELECT (['a','b','c'])[-1]") == "c")
    assert(v("SELECT list_transform(generate_series(1, 3), i -> (['a','b','c'])[i])")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", "c"))

    // json arrow chains, literal and identifier LHS; lambda arrows survive
    val js = one("""SELECT '{"a": {"b": 7}}' -> 'a' ->> 'b' AS v,
      | list_transform([1,2], x -> x + 1) AS lam""".stripMargin)
    assert(js.getAs[String]("v") == "7")
    assert(js.getAs[scala.collection.Seq[Int]]("lam").toSeq == Seq(2, 3))

    // in-aggregate ORDER BY: same-key, struct-detour, and string_agg
    val agg = one(
      """SELECT string_agg(x, '|' ORDER BY y DESC) AS s,
        |  array_agg(x ORDER BY y) AS a,
        |  array_agg(x ORDER BY x DESC) AS d
        |FROM (VALUES ('a', 1), ('b', 2)) t(x, y)""".stripMargin)
    assert(agg.getAs[String]("s") == "b|a")
    assert(agg.getAs[scala.collection.Seq[String]]("a").toSeq == Seq("a", "b"))
    assert(agg.getAs[scala.collection.Seq[String]]("d").toSeq == Seq("b", "a"))

    // range/generate_series DuckDB semantics (stop-exclusive/-inclusive)
    val rg = one(
      "SELECT range(1, 4) AS r, range(5, 5) AS e, range(5, 1, -2) AS neg, generate_series(1, 3) AS g")
    assert(rg.getAs[scala.collection.Seq[Int]]("r").toSeq == Seq(1, 2, 3))
    assert(rg.getAs[scala.collection.Seq[Int]]("e").isEmpty)
    assert(rg.getAs[scala.collection.Seq[Int]]("neg").toSeq == Seq(5, 3))
    assert(rg.getAs[scala.collection.Seq[Int]]("g").toSeq == Seq(1, 2, 3))

    // math/string shims, DuckDB-checked values
    val m = one(
      """SELECT even(2.5) AS e1, even(-2.5) AS e2, gcd(12, 18) AS g,
        |  lcm(4, 6) AS l, gamma(5) AS gm, signbit(-1.0) AS sb,
        |  isfinite(1.0) AS fin, isinf(CAST('inf' AS DOUBLE)) AS inf,
        |  damerau_levenshtein('ca', 'abc') AS dl1,
        |  damerau_levenshtein('abc', 'acb') AS dl2,
        |  format('{}-{}', 7, 'x') AS f,
        |  regexp_extract_all('a1b2', '[0-9]') AS re,
        |  list_reduce([1, 2, 3], (a, b) -> a + b) AS lr,
        |  strlen('abc') AS sl, starts_with('hello', 'he') AS sw""".stripMargin)
    assert(m.getAs[Double]("e1") == 4.0 && m.getAs[Double]("e2") == -4.0)
    assert(m.getAs[Long]("g") == 6L && m.getAs[Long]("l") == 12L)
    assert(math.abs(m.getAs[Double]("gm") - 24.0) < 1e-9)
    assert(m.getAs[Boolean]("sb") && m.getAs[Boolean]("fin") && m.getAs[Boolean]("inf"))
    assert(m.getAs[Int]("dl1") == 2 && m.getAs[Int]("dl2") == 1)
    assert(m.getAs[String]("f") == "7-x")
    assert(m.getAs[scala.collection.Seq[String]]("re").toSeq == Seq("1", "2"))
    assert(m.getAs[Int]("lr") == 6)
    assert(m.getAs[Long]("sl") == 3L && m.getAs[Boolean]("sw")) // length = BIGINT (r9)

    // unnest in SELECT position is a generator
    val un = gw.sql("SELECT unnest(generate_series(1, 3)) AS g").collect()
    assert(un.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("PIVOT statement, DISTINCT ON, star EXCLUDE/REPLACE") {
    // the t4_pivot_dynamic oracle text VERBATIM through the gateway,
    // differential vs the DataFrame two-pass pivot
    val viaSql = gw.sql(SparkEntry.oracleSql("t4_pivot_dynamic")).collect().toSeq
    val viaDf = SparkEntry.queries("t4_pivot_dynamic")(spark, sf).collect().toSeq
    assert(viaSql == viaDf && viaSql.nonEmpty)

    // DISTINCT ON: first row per key in query order = min_by oracle
    val don = gw.sql(
      """SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey
        |FROM orders ORDER BY o_orderstatus, o_orderkey""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val oracle = spark.sql(
      """SELECT o_orderstatus, MIN(o_orderkey) AS o_orderkey FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus, o_orderkey""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(don == oracle && don.nonEmpty)

    // * EXCLUDE drops the column; * REPLACE rewrites it (moves to end)
    val ex = gw.sql("SELECT * EXCLUDE (r_name) FROM region LIMIT 1")
    assert(!ex.columns.contains("r_name") && ex.columns.contains("r_regionkey"))
    val rep = gw.sql(
      "SELECT * REPLACE (r_regionkey * 10 AS r_regionkey) FROM region ORDER BY r_regionkey")
      .collect()
    assert(rep.map(_.getAs[Number]("r_regionkey").longValue).toSeq ==
      Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("indexed lambdas are 1-based like DuckDB (batch 12 pinned)") {
    // DuckDB: (x, i) sees i=1 for the first element — Spark's 0-based
    // HOF index is shifted inside the shim
    assert(gw.sql("SELECT list_filter([10,20,30], (x, i) -> i % 2 = 1) AS l")
      .collect()(0).getSeq[Int](0) == Seq(10, 30))
    assert(gw.sql("SELECT list_transform([7,8], (x, i) -> i) AS l")
      .collect()(0).getSeq[Int](0) == Seq(1, 2))
    // one-param lambdas untouched
    assert(gw.sql("SELECT list_transform([7,8], x -> x + 1) AS l")
      .collect()(0).getSeq[Int](0) == Seq(8, 9))
  }

  test("dollar quotes, trailing commas, empty GROUP BY (DuckDB 1.0 pinned)") {
    // $$…$$ / $tag$…$tag$ → quoted literal, '' doubling
    assert(gw.sql("SELECT $$it's$$ AS s").collect()(0).getString(0) == "it's")
    assert(gw.sql("SELECT $q$a 'b' -- c$q$ AS s").collect()(0)
      .getString(0) == "a 'b' -- c")
    // $1 params must survive (no closing $) — PREPARE still binds
    gw.sql("PREPARE dq AS SELECT $$v:$$ || $1 AS s").collect()
    assert(gw.sql("EXECUTE dq('x')").collect()(0).getString(0) == "v:x")
    gw.sql("DEALLOCATE dq").collect()

    // trailing commas: SELECT list, list literal; a string literal
    // after a comma is a real element, not a trailing comma
    assert(gw.sql("SELECT 1 AS a, 2 AS b, FROM region LIMIT 1")
      .columns.toSeq == Seq("a", "b"))
    assert(gw.sql("SELECT [1, 2,] AS l").collect()(0)
      .getSeq[Int](0) == Seq(1, 2))
    assert(gw.sql("SELECT 'a', 'b' AS x").collect()(0).getString(1) == "b")

    // GROUP BY () = one global group (DuckDB: 25 nation rows → 1)
    val g = gw.sql("SELECT count(*) AS n FROM nation GROUP BY ()").collect()
    assert(g.length == 1 && g(0).getLong(0) == 25L)
  }

  test("UNPIVOT statement and implicit-group PIVOT (DuckDB 1.0 pinned)") {
    // fixtures pinned against DuckDB 1.0:
    //   UNPIVOT t ON jan, feb, mar INTO NAME month VALUE sales
    //   → NULL cells DROPPED; columns = kept cols, NAME, VALUE
    gw.sql("CREATE OR REPLACE TEMP VIEW up_t AS SELECT * FROM VALUES " +
      "(1, 10, CAST(NULL AS INT), 30), (2, 40, 50, CAST(NULL AS INT)) " +
      "AS t(id, jan, feb, mar)").collect()
    val up = gw.sql(
      "UNPIVOT up_t ON jan, feb, mar INTO NAME month VALUE sales")
    assert(up.columns.toSeq == Seq("id", "month", "sales"))
    assert(up.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet ==
      Set((1, "jan", 10), (1, "mar", 30), (2, "jan", 40), (2, "feb", 50)))
    // ORDER BY / LIMIT tail + AS alias relabels the NAME cell
    val top = gw.sql(
      "UNPIVOT up_t ON jan AS j, feb INTO NAME month VALUE sales " +
        "ORDER BY sales DESC LIMIT 2").collect()
    assert(top.map(r => (r.getString(top.head.fieldIndex("month")),
      r.getInt(top.head.fieldIndex("sales")))).toSeq ==
      Seq(("feb", 50), ("j", 40)))

    // PIVOT without GROUP BY: implicit group-by-rest (DuckDB pinned:
    // PIVOT cs ON year USING sum(amount) groups by city)
    gw.sql("CREATE OR REPLACE TEMP VIEW up_cs AS SELECT * FROM VALUES " +
      "('NY', 2020, 10), ('NY', 2021, 20), ('LA', 2020, 5) " +
      "AS t(city, year, amount)").collect()
    val pv = gw.sql("PIVOT up_cs ON year USING sum(amount) ORDER BY city")
    assert(pv.columns.toSeq == Seq("city", "2020", "2021"))
    assert(pv.collect().map(r =>
      (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq ==
      Seq(("LA", Some(5), None), ("NY", Some(10), Some(20))))
  }

  test("duckdb-dialect functions run unchanged") {
    val r = gw.sql(
      """SELECT string_split('a,b,c', ',') AS sp,
        |  list_transform(list_value(1, 2, 3), x -> x + 1) AS lt,
        |  list_aggregate(list_value(1, 2, 3), 'sum') AS ls,
        |  list_slice(list_value(1, 2, 3, 4), 2, 3) AS sl,
        |  len('hello') AS l,
        |  regexp_matches('abc', 'b') AS rm,
        |  sha256('x') AS sh,
        |  json_extract_string('{"k": 87}', '$.k') AS jk,
        |  epoch(TIMESTAMP '2024-01-01 00:00:05') AS ep,
        |  strftime(TIMESTAMP '2024-01-02 03:04:05', '%Y-%m-%d %H:%M') AS sf,
        |  isodow(DATE '2024-01-07') AS dow""".stripMargin).collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("sp").toSeq == Seq("a", "b", "c"))
    assert(r.getAs[scala.collection.Seq[Int]]("lt").toSeq == Seq(2, 3, 4))
    assert(r.getAs[Int]("ls") == 6)
    assert(r.getAs[scala.collection.Seq[Int]]("sl").toSeq == Seq(2, 3))
    assert(r.getAs[Long]("l") == 5L)
    assert(r.getAs[Boolean]("rm"))
    assert(r.getAs[String]("sh").startsWith("2d711642"))
    assert(r.getAs[String]("jk") == "87")
    assert(r.getAs[Double]("ep") == 1.704067205e9)
    assert(r.getAs[String]("sf") == "2024-01-02 03:04")
    assert(r.getAs[Int]("dow") == 7)
  }

  test("gap-probe batch 2: aggregate shims match DuckDB-verified values") {
    // expected values pinned by running the same SQL in DuckDB 1.0
    val r = gw.sql(
      """SELECT product(x) AS pr,
        |  CAST(round(entropy(s), 9) AS DECIMAL(12,9)) AS ent,
        |  histogram(s) AS hist,
        |  mad(x) AS md,
        |  quantile_cont(x, 0.5) AS qc,
        |  CAST(quantile_disc(x, 0.5) AS DOUBLE) AS qd,
        |  arg_min(x, y) AS amn, arg_max(x, y) AS amx,
        |  favg(x) AS fa, fsum(x) AS fs,
        |  count(*) FILTER (x > 1) AS cf,
        |  last(x ORDER BY y) AS lst, first(x ORDER BY y) AS fst
        |FROM (VALUES (1.0, 9, 'a'), (2.0, 1, 'a'), (4.0, 5, 'b'),
        |             (CAST(NULL AS DOUBLE), 7, NULL)) t(x, y, s)"""
        .stripMargin).collect()(0)
    assert(r.getAs[Double]("pr") == 8.0)
    assert(r.getAs[java.math.BigDecimal]("ent").doubleValue() == 0.918295834)
    assert(r.getAs[Map[String, Long]]("hist") == Map("a" -> 2L, "b" -> 1L))
    assert(r.getAs[Double]("md") == 1.0)
    assert(r.getAs[Double]("qc") == 2.0)
    assert(r.getAs[Double]("qd") == 2.0)
    assert(r.getAs[Double]("amn") == 2.0)
    assert(r.getAs[Double]("amx") == 1.0)
    assert(r.getAs[Double]("fa") == 7.0 / 3)
    assert(r.getAs[Double]("fs") == 7.0)
    assert(r.getAs[Long]("cf") == 2L)
    assert(r.getAs[Double]("lst") == 1.0)
    assert(r.getAs[Double]("fst") == 2.0)
  }

  test("gap-probe batch 2: empty-group semantics match DuckDB") {
    val r = gw.sql(
      """SELECT product(x) AS pr, entropy(x) AS ent,
        |  histogram(x) AS hist, mad(x) AS md
        |FROM (SELECT CAST(NULL AS DOUBLE) AS x WHERE 1 = 0) t"""
        .stripMargin).collect()(0)
    assert(r.isNullAt(r.fieldIndex("pr")))
    assert(r.getAs[Double]("ent") == 0.0)
    assert(r.isNullAt(r.fieldIndex("hist")))
    assert(r.isNullAt(r.fieldIndex("md")))
  }

  test("gap-probe batch 2: datetime/misc shims match DuckDB-verified values") {
    val r = gw.sql(
      """SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:01') AS ens,
        |  CAST(timezone('Asia/Tokyo', TIMESTAMP '2024-01-01') AS STRING) AS tz,
        |  to_days(3) = INTERVAL 3 DAY AS td,
        |  to_hours(5) = INTERVAL 5 HOUR AS th,
        |  xor(5, 3) AS x, nextafter(1.0, 2.0) AS na,
        |  datetrunc('month', DATE '2024-02-15') AS dt,
        |  current_setting('TimeZone') AS cs,
        |  quantile_cont(c, [0.25, 0.5]) AS qcl
        |FROM (VALUES (1), (2), (3), (4)) t(c)""".stripMargin).collect()(0)
    assert(r.getAs[Long]("ens") == 1704067201000000000L)
    assert(r.getAs[String]("tz") == "2023-12-31 15:00:00")
    assert(r.getAs[Boolean]("td") && r.getAs[Boolean]("th"))
    assert(r.getAs[Int]("x") == 6)
    assert(r.getAs[Double]("na") == 1.0000000000000002)
    // date_trunc on a DATE input keeps DATE (DuckDB semantics — the
    // earlier TIMESTAMP-widening divergence is fixed)
    assert(r.getAs[java.sql.Date]("dt").toString == "2024-02-01")
    assert(r.getAs[String]("cs") == spark.conf.get("spark.sql.session.timeZone"))
    assert(r.getAs[scala.collection.Seq[Double]]("qcl").toSeq == Seq(1.75, 2.5))
  }

  test("gap-probe batch 3: direct file queries and FROM-position TVFs") {
    val n = gw.sql(s"SELECT count(*) AS c FROM '${TestSpark.sf}/nation.parquet'")
      .collect()(0).getLong(0)
    assert(n == 25L)
    // basename view naming: the file registers as `nation`-style view,
    // qualified column references resolve (DuckDB behavior)
    val rp = gw.sql(
      s"SELECT count(*) AS c FROM read_parquet('${TestSpark.sf}/region.parquet')")
      .collect()(0).getLong(0)
    assert(rp == 5L)
    val gs = gw.sql("SELECT * FROM generate_series(1, 3)")
      .collect().map(_.getAs[Number](0).longValue).toSeq
    assert(gs == Seq(1L, 2L, 3L))
    val un = gw.sql("SELECT unnest FROM unnest([10, 20])")
      .collect().map(_.getInt(0)).toSeq
    assert(un == Seq(10, 20))
    val ua = gw.sql("SELECT u.x FROM unnest([1, 2, 3]) AS u(x)")
      .collect().map(_.getInt(0)).toSeq
    assert(ua == Seq(1, 2, 3))
    val sampled = gw.sql("SELECT count(*) AS c FROM orders USING SAMPLE 10 ROWS")
      .collect()(0).getLong(0)
    assert(sampled == 10L)
    assert(gw.sql("SELECT count(*) AS c FROM orders USING SAMPLE 50%")
      .collect()(0).getLong(0) > 0L)
  }

  test("gap-probe batch 3: struct/map literals, slices, regex operators") {
    val r = gw.sql(
      """SELECT {'a': 1, 'b': 'x'} AS s, {'a': 41}.a + 1 AS sa,
        |  MAP {'k': 1, 'j': 2} AS m,
        |  'abcdef'[2:4] AS sl, 'abcdef'[3:] AS so,
        |  [10, 20, 30][1:2] AS al,
        |  'abc' ~ 'a.c' AS t1, 'xabcx' ~ 'a.c' AS t2,
        |  'abc' !~ 'z' AS t3, 'Hans' ~~ 'H%' AS t4,
        |  'abc' SIMILAR TO 'a.c' AS t5, 'xabcx' SIMILAR TO 'a.c' AS t6"""
        .stripMargin).collect()(0)
    val s = r.getStruct(r.fieldIndex("s"))
    assert(s.getInt(0) == 1 && s.getString(1) == "x")
    assert(r.getAs[Int]("sa") == 42)
    assert(r.getAs[Map[String, Int]]("m") == Map("k" -> 1, "j" -> 2))
    assert(r.getAs[String]("sl") == "bcd") // DuckDB-verified
    assert(r.getAs[String]("so") == "cdef")
    assert(r.getAs[scala.collection.Seq[Int]]("al").toSeq == Seq(10, 20))
    assert(r.getAs[Boolean]("t1")) // ~ is a FULL match in DuckDB
    assert(!r.getAs[Boolean]("t2"))
    assert(r.getAs[Boolean]("t3") && r.getAs[Boolean]("t4"))
    assert(r.getAs[Boolean]("t5") && !r.getAs[Boolean]("t6"))
  }

  test("gap-probe batch 3: quantified comparisons and blob casts") {
    val r = gw.sql(
      """SELECT 5 > ALL (SELECT * FROM range(5)) AS a1,
        |  5 > ANY (SELECT * FROM range(100)) AS a2,
        |  3 = ANY (SELECT * FROM range(5)) AS a3,
        |  99 <> ALL (SELECT * FROM range(5)) AS a4,
        |  '\xAA'::BLOB AS b1, 'ab'::BLOB AS b2""".stripMargin).collect()(0)
    assert(r.getAs[Boolean]("a1") && r.getAs[Boolean]("a2"))
    assert(r.getAs[Boolean]("a3") && r.getAs[Boolean]("a4"))
    assert(r.getAs[Array[Byte]]("b1").toSeq == Seq(0xAA.toByte))
    assert(r.getAs[Array[Byte]]("b2").toSeq == "ab".getBytes("UTF-8").toSeq)
    // HOF filter() and aggregate OVER () must be untouched by the
    // FILTER/empty-over rewrites
    val g = gw.sql(
      """SELECT filter([1, 2, 3], x -> x > 1) AS f,
        |  sum(c) OVER () AS s, row_number() OVER () AS rn
        |FROM (VALUES (1), (2)) t(c)""".stripMargin).collect()
    assert(g(0).getAs[scala.collection.Seq[Int]]("f").toSeq == Seq(2, 3))
    assert(g.map(_.getAs[Long]("s")).toSeq == Seq(3L, 3L))
    assert(g.map(_.getAs[Int]("rn")).sorted.toSeq == Seq(1, 2))
  }

  test("gap-probe batch 3: PRAGMA family, SHOW <table>, UNION BY NAME") {
    val tables = gw.sql("PRAGMA show_tables").collect().map(_.getString(0))
    assert(tables.contains("nation") && tables.contains("lineitem"))
    val ti = gw.sql("PRAGMA table_info('nation')").collect()
    assert(ti.map(_.getString(1)).toSeq ==
      gw.session.table("nation").schema.fieldNames.toSeq)
    assert(gw.sql("PRAGMA version").collect().length == 1)
    assert(gw.sql("PRAGMA database_size").collect()(0)
      .schema.fieldNames.contains("database_size"))
    val sh = gw.sql("SHOW nation").collect()
    assert(sh.map(_.getString(0)).toSeq.contains("n_name"))
    // SHOW TABLES answers from the live listing, like PRAGMA show_tables
    assert(gw.sql("SHOW TABLES").collect().nonEmpty)
    val ubn = gw.sql(
      "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 4 AS b, 3 AS a ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(ubn == Seq((1, 2), (3, 4)))
    val dedup = gw.sql(
      "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    assert(dedup == Seq(1, 2))
  }

  test("CREATE MACRO: scalar, defaults, table macros, drop (DuckDB-verified)") {
    gw.sql("CREATE MACRO addx(a, b := 5) AS a + b")
    val r = gw.sql("SELECT addx(1) AS d, addx(1, b := 10) AS n").collect()(0)
    assert(r.getInt(0) == 6 && r.getInt(1) == 11)
    // macros compose and nest
    gw.sql("CREATE MACRO twice(x) AS addx(x, b := x)")
    assert(gw.sql("SELECT twice(21) AS t").collect()(0).getInt(0) == 42)
    // textual hygiene: argument expressions parenthesize
    gw.sql("CREATE OR REPLACE MACRO sq(x) AS x * x")
    assert(gw.sql("SELECT sq(1 + 2) AS s").collect()(0).getInt(0) == 9)
    // table macro in FROM position, param inside the subquery
    gw.sql("CREATE MACRO topn(n) AS TABLE SELECT * FROM range(n)")
    assert(gw.sql("SELECT count(*) AS c FROM topn(3)").collect()(0).getLong(0) == 3L)
    // macro over fixture tables with DuckDB-dialect body
    gw.sql("CREATE MACRO big_orders(lim) AS TABLE " +
      "SELECT o_orderkey FROM orders WHERE o_totalprice > lim")
    assert(gw.sql("SELECT count(*) AS c FROM big_orders(0)").collect()(0)
      .getLong(0) == gw.sql("SELECT count(*) AS c FROM orders").collect()(0)
      .getLong(0))
    // arity mismatch is a structured error
    intercept[Exception](gw.sql("SELECT sq(1, 2)").collect())
    // drop removes resolution
    gw.sql("DROP MACRO twice")
    intercept[Exception](gw.sql("SELECT twice(1)").collect())
    gw.sql("DROP MACRO addx")
    gw.sql("DROP MACRO sq")
    gw.sql("DROP MACRO topn")
    gw.sql("DROP MACRO big_orders")
  }

  test("list comprehensions and COLUMNS() expansion (DuckDB-verified)") {
    val r = gw.sql(
      """SELECT [x + 1 FOR x IN [1, 2, 3] IF x > 1] AS a,
        |  [x * 2 FOR x IN [1, 2, 3]] AS b,
        |  [u FOR u IN ['a', 'bb'] IF len(u) > 1] AS c""".stripMargin)
      .collect()(0)
    assert(r.getAs[scala.collection.Seq[Int]]("a").toSeq == Seq(3, 4))
    assert(r.getAs[scala.collection.Seq[Int]]("b").toSeq == Seq(2, 4, 6))
    assert(r.getAs[scala.collection.Seq[String]]("c").toSeq == Seq("bb"))
    // COLUMNS: regex is a SEARCH match; output keeps the column names
    val c1 = gw.sql("SELECT COLUMNS('n_nation.*') FROM nation LIMIT 1")
    assert(c1.columns.toSeq == Seq("n_nationkey"))
    val c2 = gw.sql("SELECT max(COLUMNS('^n_(nation|region)key$')) FROM nation")
    assert(c2.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    assert(c2.collect()(0).getAs[Number](0).longValue == 24L)
    val c3 = gw.sql("SELECT COLUMNS(* EXCLUDE (n_name)) FROM nation LIMIT 1")
    assert(!c3.columns.contains("n_name") &&
      c3.columns.contains("n_nationkey"))
    intercept[Exception](
      gw.sql("SELECT COLUMNS('zzz') FROM nation").collect())
  }

  test("dialect rewrites: QUALIFY, //, GLOB, ->>") {
    assert(Dialect.rewrite("SELECT 7 // 2").contains(" div "))
    val q = gw.sql(
      """SELECT o_custkey, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
        |ORDER BY o_custkey LIMIT 5""".stripMargin).collect()
    assert(q.length == 5)
    val g = gw.sql("SELECT p_name FROM part WHERE p_name GLOB '*bolt' LIMIT 3").collect()
    assert(g.forall(_.getString(0).endsWith("bolt")))
    val j = gw.sql("SELECT props ->> 'k' AS v FROM events ORDER BY event_id LIMIT 1").collect()
    assert(j(0).getString(0) == "87")
    assert(gw.sql("SELECT 7 // 2 AS d").collect()(0).getLong(0) == 3L)
  }

  test("catalog introspection (reference client/main.go:27 analog)") {
    // DuckDB SHOW TABLES is a single 'name' column (r9 shape fix)
    val tables = gw.sql("SHOW TABLES").collect().map(_.getString(0)).toSet
    assert(tables.contains("lineitem") && tables.contains("documents"))
  }

  test("extension lifecycle: the reference's init script runs verbatim") {
    // k8s/main.yaml:110-114 — INSTALL airport FROM community; LOAD airport
    val gwe = Gateway.open(spark, sf)
    def state(name: String) = gwe.sql(
      s"SELECT loaded, installed FROM duckdb_extensions() WHERE extension_name = '$name'")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1))).head
    assert(state("airport") == ((false, false)))
    // DuckDB LOAD semantics: not installed yet → error
    val e = intercept[GatewayException](gwe.sql("LOAD airport"))
    assert(e.getMessage.contains("not installed"))
    gwe.sql("INSTALL airport FROM community").collect()
    assert(state("airport") == ((false, true)))
    gwe.sql("LOAD airport;").collect()
    assert(state("airport") == ((true, true)))
    // unknown extension → closed-registry error, not a silent no-op
    val e2 = intercept[GatewayException](gwe.sql("INSTALL spatial"))
    assert(e2.getMessage.contains("not found"))
    // per-session isolation: the shared gateway's view is untouched
    assert(gw.sql(
      "SELECT loaded FROM duckdb_extensions() WHERE extension_name = 'airport'")
      .collect().head.getBoolean(0) == false)
  }

  test("read-only gateway rejects writes before execution") {
    val e = intercept[GatewayException] {
      gw.sql("DROP TABLE lineitem")
    }
    assert(e.getMessage.contains("read-only"))
    intercept[GatewayException](gw.sql("INSERT INTO orders VALUES (1)"))
    // views and SET remain allowed (reference init surface, k8s/main.yaml:107-133)
    gw.sql("CREATE OR REPLACE TEMP VIEW hello_world AS (SELECT 'hello' AS world)")
    assert(gw.sql("SELECT world FROM hello_world").collect()(0).getString(0) == "hello")
  }

  test("read-only holds on the RAW session too (the Thrift/JDBC path)") {
    // Thrift clients execute on gw.session directly, never through
    // gw.sql — the injected parser (ReadOnlyGuard, spark.graft.readOnly
    // set by Gateway.open) must reject writes there as well
    val e = intercept[GatewayException] {
      gw.session.sql("CREATE TABLE sneaky_t(a INT) USING parquet")
    }
    assert(e.getMessage.contains("read-only"))
    intercept[GatewayException](
      gw.session.sql("INSERT OVERWRITE DIRECTORY '/tmp/x' USING parquet SELECT 1"))
    // the flag itself cannot be flipped over SQL — neither SET nor RESET
    intercept[GatewayException](
      gw.session.sql("SET spark.graft.readOnly=false"))
    intercept[GatewayException](
      gw.session.sql("RESET spark.graft.readOnly"))
    intercept[GatewayException](gw.session.sql("RESET"))
    // the whole enforcement namespace is protected, not just the flag:
    // the ATTACH allowlist and the catalog bindings ATTACH writes (a
    // client SET of spark.sql.catalog.* would point the server's gRPC
    // client at an arbitrary endpoint — the SSRF the gate closes)
    intercept[GatewayException](
      gw.session.sql("SET spark.graft.attach.allow=evil:1"))
    intercept[GatewayException](
      gw.session.sql("SET spark.sql.catalog.evil=graft.sources.FlightCatalog"))
    intercept[GatewayException](gw.session.sql("RESET spark.sql.catalog.evil"))
    // RESET of an unrelated key stays allowed
    gw.session.sql("RESET spark.sql.ansi.enabled")
    // queries, SET of other keys, views, and metadata stay allowed
    assert(gw.session.sql("SELECT 1 AS a").collect()(0).getInt(0) == 1)
    gw.session.sql("SET spark.sql.ansi.enabled=false")
    gw.session.sql("CREATE OR REPLACE TEMP VIEW ro_ok AS SELECT 2 AS b")
    assert(gw.session.sql("EXPLAIN SELECT 1").collect().nonEmpty)
    assert(gw.session.sql("SHOW TABLES").collect().nonEmpty)
  }

  test("schemaOf analyzes without executing") {
    val sch = gw.schemaOf("SELECT l_orderkey, l_quantity FROM lineitem")
    assert(sch.fieldNames.toSeq == Seq("l_orderkey", "l_quantity"))
  }

  test("structured analysis errors, not raw engine spew") {
    intercept[Exception](gw.sql("SELECT nonexistent_col FROM lineitem"))
    intercept[Exception](gw.sql("SELEC 1"))
  }

  test("arrow stream round-trips: schema + batches parse back to the rows") {
    val chunks = gw.arrowStream("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey").toSeq
    assert(chunks.nonEmpty)
    val all = chunks.reduce(_ ++ _)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(all), alloc)
    var n = 0
    while (rdr.loadNextBatch()) n += rdr.getVectorSchemaRoot.getRowCount
    rdr.close()
    assert(n == 5)
  }

  test("init script runs with per-statement error tolerance") {
    val gw2 = Gateway.open(spark, sf, initScript = Some(
      """SET spark.sql.shuffle.partitions=8;
        |CREATE OR REPLACE TEMP VIEW init_view AS SELECT 42 AS answer;
        |THIS IS NOT SQL""".stripMargin))
    assert(gw2.sql("SELECT answer FROM init_view").collect()(0).getInt(0) == 42)
  }

  test("per-gateway session isolation (fix for shared-conn state, main.go:41)") {
    val a = Gateway.open(spark, sf)
    val b = Gateway.open(spark, sf)
    a.sql("CREATE OR REPLACE TEMP VIEW only_in_a AS SELECT 1 AS x")
    assert(a.sql("SELECT * FROM only_in_a").collect().length == 1)
    intercept[Exception](b.sql("SELECT * FROM only_in_a").collect())
  }

  test("sqlInfo metadata endpoint") {
    val info = gw.sqlInfo.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(info("server_name") == "graft")
    assert(info("read_only") == "true")
  }

  test("reference smoke: duckdb_extensions() table function (client/main.go:27)") {
    val rows = gw.sql(
      "SELECT extension_name FROM duckdb_extensions() WHERE installed")
      .collect().map(_.getString(0))
    assert(rows.contains("parquet") && rows.contains("json"))
    assert(!rows.contains("httpfs"))
  }

  test("duckdb_tables() lists the fixture relations") {
    val names = gw.sql("SELECT table_name FROM duckdb_tables()")
      .collect().map(_.getString(0)).toSet
    assert(Set("lineitem", "orders", "documents").subsetOf(names))
  }

  test("duckdb_tables() is LIVE: a view created after open() is listed") {
    gw.sql("CREATE TEMP VIEW __live_probe AS SELECT 1 AS x").collect()
    try {
      val names = gw.sql("SELECT table_name FROM duckdb_tables()")
        .collect().map(_.getString(0)).toSet
      assert(names.contains("__live_probe"),
        s"live catalog must list post-open DDL; got $names")
      // and the introspection views never list themselves
      assert(!names.exists(_.startsWith("duckdb_")))
    } finally gw.session.catalog.dropTempView("__live_probe")
  }

  test("round-9: one catalog listing per scan planning; listing equals the Catalog API") {
    // the live listing is direct SessionCatalog access (no Spark job) —
    // pin that a duckdb_columns query, which enumerates every relation
    // AND its schema, still performs exactly ONE listing per planning
    val before = graft.sources.LiveCatalog.listingCount.get()
    val cols = gw.sql(
      """SELECT table_name, column_name FROM duckdb_columns()
        |WHERE table_name = 'nation' ORDER BY column_index""".stripMargin)
      .collect()
    assert(graft.sources.LiveCatalog.listingCount.get() == before + 1)
    assert(cols.map(_.getString(1)).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // the fast path lists the same objects as the Catalog API Dataset
    val viaApi = gw.session.catalog.listTables().collect()
      .map(t => (t.name, t.tableType)).toSet
    val viaLive = graft.sources.LiveCatalog.listLive(gw.session)
      .filterNot(_._1.startsWith("graft_")).toSet
    assert(viaLive == viaApi.filterNot(_._1.startsWith("duckdb_"))
      .filterNot(_._1.startsWith("graft_")), s"live=$viaLive api=$viaApi")
  }

  test("round-9 probe batch 20: FETCH FIRST, day numbering, strlen, epoch constructors") {
    def one(q: String) = gw.sql(q).collect().head
    // SQL-standard FETCH FIRST spelling → LIMIT
    assert(gw.sql("SELECT r_name FROM region ORDER BY r_regionkey FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.getString(0)).toSeq == Seq("AFRICA", "AMERICA"))
    assert(gw.sql("SELECT r_name FROM region ORDER BY r_regionkey FETCH FIRST ROW ONLY")
      .collect().map(_.getString(0)).toSeq == Seq("AFRICA"))
    // DuckDB numbers Sunday = 0 for dayofweek/weekday (probe-pinned:
    // Tuesday 2024-03-05 is 2, Sunday 2024-03-03 is 0); isodow stays
    // Monday = 1 (Sunday 7)
    assert(one("SELECT dayofweek(DATE '2024-03-05') AS v").getInt(0) == 2)
    assert(one("SELECT weekday(DATE '2024-03-03') AS v").getInt(0) == 0)
    assert(one("SELECT isodow(DATE '2024-03-03') AS v").getInt(0) == 7)
    // VARCHAR arg takes DuckDB's implicit cast-to-DATE, keeping the
    // Sunday-0 numbering (ADVICE r9: strings fell through to Spark's
    // Sunday-1/Monday-0 builtins — a silent off-by-one)
    assert(one("SELECT dayofweek('2024-03-05') AS v").getInt(0) == 2)
    assert(one("SELECT weekday('2024-03-03') AS v").getInt(0) == 0)
    // strlen = BYTES; length = characters (both BIGINT)
    assert(one("SELECT strlen('🤦') AS v").getLong(0) == 4L)
    assert(one("SELECT length('🤦') AS v").getLong(0) == 1L)
    // 1-arg make_timestamp takes epoch MICROS; 6-arg stays native
    assert(one("SELECT CAST(make_timestamp(1700000000000000) AS VARCHAR) AS v")
      .getString(0) == "2023-11-14 22:13:20")
    assert(one("SELECT CAST(make_timestamp(2024, 2, 29, 1, 2, 3.5) AS VARCHAR) AS v")
      .getString(0).startsWith("2024-02-29 01:02:03"))
    // session-zone scalars exist; naive-timestamp tz components are 0
    assert(one("SELECT current_localtime() IS NOT NULL AS v").getBoolean(0))
    assert(one("SELECT timezone_hour(TIMESTAMP '2024-01-01 00:00:00') AS v")
      .getLong(0) == 0L)
    // ... but NULL propagates (ADVICE r9: the UTC-pinned constant 0
    // ignored the argument entirely)
    assert(one("SELECT timezone_hour(CAST(NULL AS TIMESTAMP)) IS NULL AS v")
      .getBoolean(0))
    assert(one("SELECT timezone_minute(CAST(NULL AS TIMESTAMP)) IS NULL AS v")
      .getBoolean(0))
  }

  test("round-10: DuckDB 1.1-1.4 dialect tail (SURVEY §5.3 implemented rows)") {
    def one(q: String) = gw.sql(q).collect().head
    // SET VARIABLE evaluates eagerly; getvariable substitutes, NULL when unset
    gw.sql("SET VARIABLE who = 'ann''s'")
    assert(one("SELECT getvariable('who') AS v").getString(0) == "ann's")
    gw.sql("SET VARIABLE answer = 6 * 7")
    assert(one("SELECT getvariable('answer') + 0 AS v").getInt(0) == 42)
    gw.sql("SET VARIABLE frac = 1.5 + 0.25")
    assert(one("SELECT getvariable('frac') AS v").getDecimal(0)
      .compareTo(new java.math.BigDecimal("1.75")) == 0)
    assert(one("SELECT getvariable('never_set') IS NULL AS v").getBoolean(0))
    gw.sql("RESET VARIABLE who")
    assert(one("SELECT getvariable('who') IS NULL AS v").getBoolean(0))
    // query_table('name') resolves the named relation; only literal
    // identifier-shaped args rewrite (others keep the native error)
    assert(gw.sql("SELECT count(*) AS c FROM query_table('region')")
      .collect().head.getLong(0) == 5L)
    intercept[Exception](
      gw.sql("SELECT * FROM query_table(r_name)").collect())
    // TRY(expr): NULL on runtime error, value otherwise (ANSI mode on)
    assert(one("SELECT TRY(1/0) IS NULL AS v").getBoolean(0))
    assert(one("SELECT TRY(CAST('x' AS INT)) IS NULL AS v").getBoolean(0))
    assert(one("SELECT TRY(2 + 2) AS v").getInt(0) == 4)
    // MERGE INTO is a WRITE: typed read-only refusal, not a parse
    // error. Pins the DOCUMENTED 1.4 surface, not just one spelling:
    // DuckDB 1.4.0 added `MERGE INTO <target> USING <source> ON <cond>`
    // with WHEN MATCHED / WHEN NOT MATCHED [BY SOURCE] arms carrying
    // UPDATE / INSERT / DELETE actions (duckdb.org docs, "MERGE INTO"
    // statement page, v1.4+) — every arm mutates the target, so the
    // reference's read-only serving posture refuses the STATEMENT
    // class, whichever arms it carries.
    for (merge <- Seq(
        "MERGE INTO region USING region r2 ON false WHEN MATCHED THEN UPDATE SET r_name = 'x'",
        "MERGE INTO region USING (SELECT 1 AS k) s ON r_regionkey = s.k " +
          "WHEN NOT MATCHED THEN INSERT (r_regionkey) VALUES (s.k)",
        // WHEN NOT MATCHED BY SOURCE is the 1.4-documented arm that
        // deletes target rows absent from the source
        "MERGE INTO region USING (SELECT 1 AS k) s ON r_regionkey = s.k " +
          "WHEN NOT MATCHED BY SOURCE THEN DELETE")) {
      val e = intercept[graft.engine.GatewayException](gw.sql(merge))
      assert(e.getMessage.contains("read-only"), s"$merge → ${e.getMessage}")
    }
    // uuidv7 is a REAL RFC 9562 v7 since r12: version nibble 7, variant
    // 10, and a 48-bit Unix-ms prefix the extraction pair reads back
    val u7 = one("SELECT uuidv7() AS v").getString(0)
    assert(u7.length == 36 && u7.charAt(14) == '7')
    assert(Set('8', '9', 'a', 'b').contains(u7.charAt(19)))
    assert(one("SELECT uuid_extract_version(uuidv7()) AS v").getInt(0) == 7)
    assert(one(
      "SELECT abs(datediff('millisecond', uuid_extract_timestamp(uuidv7()), now())) < 60000 AS ok")
      .getBoolean(0))
    // time-ordering across DISTINCT milliseconds: ms prefix is the
    // string prefix, so lexicographic order follows time
    val ts = java.util.UUID.fromString(u7).getMostSignificantBits >>> 16
    assert(math.abs(ts - System.currentTimeMillis()) < 600000L)
    assert(one("SELECT uuid_extract_version(uuidv4()) AS v").getInt(0) == 4)
    // v1 extraction goes through the Gregorian 100ns counter
    assert(one(
      "SELECT CAST(uuid_extract_timestamp('c232ab00-9414-11ec-b3c8-9f68deced846') AS DATE) AS d")
      .getDate(0).toString == "2022-02-22")
    // FILL window fn (1.4): pins the DOCUMENTED semantics (duckdb.org
    // docs, window functions page, v1.4+ `fill(expr)`): missing (NULL)
    // values are filled by LINEAR INTERPOLATION over the window's sort
    // key — the fill "x-axis" is the ORDER BY expression, which must be
    // a SINGLE interpolatable (numeric/temporal) key; values missing at
    // the partition edges take the nearest non-missing value (no
    // extrapolation). No 1.4 binary exists locally, so the pins below
    // are hand-computed from that documented formula, not copied from a
    // run.
    val filled = gw.sql(
      """SELECT x, fill(v) OVER (ORDER BY x) AS f
        |FROM (VALUES (0, CAST(NULL AS DOUBLE)), (1, 10.0), (2, NULL),
        |             (3, 30.0), (5, NULL), (6, 60.0)) t(x, v)
        |ORDER BY x""".stripMargin).collect()
    assert(filled.map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq(
      (0, 10.0),  // leading edge: nearest non-null carries
      (1, 10.0), (2, 20.0),  // midpoint of (1,10)-(3,30)
      (3, 30.0), (5, 50.0),  // 30 + (60-30) * (5-3)/(6-3)
      (6, 60.0)))
    // partitions interpolate independently; DESC order works (the
    // two-anchor formula is direction-symmetric)
    val fp = gw.sql(
      """SELECT g, x, fill(v) OVER (PARTITION BY g ORDER BY x DESC) AS f
        |FROM (VALUES ('a', 1, 2.0), ('a', 2, NULL), ('a', 3, 4.0),
        |             ('b', 1, NULL), ('b', 2, 8.0)) t(g, x, v)
        |ORDER BY g, x""".stripMargin).collect()
    assert(fp.map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq ==
      Seq(("a", 1, 2.0), ("a", 2, 3.0), ("a", 3, 4.0),
        ("b", 1, 8.0), ("b", 2, 8.0)))
    // documented requirement: exactly ONE order key — a two-key spec is
    // not an interpolation axis; the rewrite declines and the native
    // parser errors loudly (same class as DuckDB's Binder error)
    intercept[Exception](gw.sql(
      """SELECT fill(v) OVER (ORDER BY x, v) AS f
        |FROM (VALUES (1, 10.0), (2, CAST(NULL AS DOUBLE))) t(x, v)"""
        .stripMargin).collect())
    // an all-NULL partition has no anchors on either side: the
    // documented nearest-value rule has nothing to carry → stays NULL
    val fnull = gw.sql(
      """SELECT x, fill(v) OVER (ORDER BY x) AS f
        |FROM (VALUES (1, CAST(NULL AS DOUBLE)), (2, NULL)) t(x, v)
        |ORDER BY x""".stripMargin).collect()
    assert(fnull.forall(_.isNullAt(1)))
  }

  test("round-10 function-surface audit batch: values pinned against DuckDB 1.0") {
    def one(q: String) = gw.sql(q).collect().head
    // strptime defaults absent fields to 1900 (C struct tm), not 1970
    assert(one("SELECT CAST(strptime('05/03', '%d/%m') AS VARCHAR) AS v")
      .getString(0) == "1900-03-05 00:00:00")
    assert(one("SELECT try_strptime('zz', '%Y') IS NULL AS v").getBoolean(0))
    intercept[Exception](one("SELECT strptime('zz', '%Y') AS v"))
    // grapheme clusters: the DECOMPOSED e + combining acute (U+0301)
    // is one cluster but two code points
    val s = "he\u0301llo"
    assert(one(s"SELECT length_grapheme('$s') AS v").getLong(0) == 5L)
    assert(one(s"SELECT length('$s') AS v").getLong(0) == 6L)
    assert(one(s"SELECT substring_grapheme('$s', 2, 3) AS v")
      .getString(0) == "éll")
    assert(one(s"SELECT left_grapheme('$s', 2) AS v").getString(0) == "hé")
    assert(one(s"SELECT right_grapheme('$s', 2) AS v").getString(0) == "lo")
    // grade_up: NULL elements grade LAST in original order
    assert(one("SELECT grade_up([2, NULL, 1]) AS v")
      .getSeq[Int](0) == Seq(3, 1, 2))
    assert(one("SELECT array_grade_up([30, 10, 20]) AS v")
      .getSeq[Int](0) == Seq(2, 3, 1))
    // operator-function forms; integral divide; single-arg greatest
    assert(one("SELECT add(3) + subtract(3) + multiply(2, 3) + divide(7, 2) AS v")
      .getLong(0) == 9L) // 3 - 3 + 6 + 3
    assert(one("SELECT greatest(7) AS v").getInt(0) == 7)
    assert(one("SELECT least(7) AS v").getInt(0) == 7)
    assert(one("SELECT greatest_common_divisor(12, 8) AS v").getLong(0) == 4L)
    // isoyear crosses the year boundary with the ISO week
    assert(one("SELECT isoyear(DATE '2021-01-01') AS v").getLong(0) == 2020L)
    // bin/to_binary of VARCHAR = bits of the UTF-8 bytes
    assert(one("SELECT bin('abc') AS v")
      .getString(0) == "011000010110001001100011")
    assert(one("SELECT to_binary('ab') AS v")
      .getString(0) == "0110000101100010")
    // bar — DuckDB's full rendering since r11 (307-case differential
    // sweep 0-diff): eighth-block partials by FLOOR, space-padding to
    // trunc(width) BYTES (blocks are 3 UTF-8 bytes), IEEE division
    // degenerates (x = min = max → NaN → empty-padded; x > min = max →
    // +Inf → full), NULL propagation, width < 1 errors
    assert(one("SELECT bar(1.5, 1.5, 1.5, 10) AS v").getString(0) == " " * 10)
    assert(one("SELECT bar(2.5, 1.5, 1.5, 4) AS v").getString(0) == "████")
    assert(one("SELECT bar(5.5, 0, 10, 16) AS v").getString(0) == "████████▊")
    assert(one("SELECT bar(9.99, 0, 10, 10) AS v").getString(0) == "█████████▉")
    assert(one("SELECT bar(0.063, 0, 10, 10) AS v").getString(0) == " " * 10)
    assert(one("SELECT bar(3, 0, 10, 10) AS v").getString(0) == "███ ")
    assert(one("SELECT bar(23, -5, 128, 10.7) AS v").getString(0) == "██▎ ")
    assert(one("SELECT bar(CAST(NULL AS DOUBLE), 1.0, 3.0, 4) IS NULL AS v")
      .getBoolean(0))
    assert(intercept[Exception](one("SELECT bar(0.5, 0, 10, 0.5) AS v"))
      .getMessage.contains("width must be >= 1"))
    // time_bucket preserves DATE; parse_path keeps the root component
    assert(one("SELECT CAST(time_bucket(INTERVAL 3 DAY, DATE '2024-03-05') AS VARCHAR) AS v")
      .getString(0) == "2024-03-03")
    assert(one("SELECT parse_path('/a/b/c.txt') AS v")
      .getSeq[String](0) == Seq("/", "a", "b", "c.txt"))
    // arg_max_null KEEPS the null argument at the extreme value
    assert(one("SELECT arg_max_null(CAST(NULL AS INT), 3) IS NULL AS v")
      .getBoolean(0))
    assert(one("SELECT constant_or_null(7, NULL) IS NULL AS v").getBoolean(0))
    assert(one("SELECT constant_or_null(7, 3) AS v").getInt(0) == 7)
    // regexp_extract 2-arg returns the whole match (group 0)
    assert(one("SELECT regexp_extract('abcd', 'b.') AS v").getString(0) == "bc")
    // icu_collate_<loc> sugar resolves through the sort-key kernel
    assert(one("SELECT icu_collate_de('abc') = icu_sort_key('abc', 'de') AS v")
      .getBoolean(0))
    assert(one("SELECT length(icu_collate_de('abc')) > 0 AS v").getBoolean(0))
    // array_* spellings of the list handlers; current_query substitutes
    assert(one("SELECT array_resize([1, 2], 4, 9) AS v")
      .getSeq[Int](0) == Seq(1, 2, 9, 9))
    assert(one("SELECT array_where([10, 20, 30], [true, false, true]) AS v")
      .getSeq[Int](0) == Seq(10, 30))
    assert(one("SELECT current_query() AS v").getString(0)
      .contains("current_query()"))
    // ---- batch 2 (lambda/exotic-typed names), duck-pinned ----
    // map built FROM lists (Spark's builtin would key by the arrays);
    // the BRACKET subscript is DuckDB's list-wrapped form since r11
    // ([v] on hit, [] on miss/NULL key — the §5.3 residual, closed)
    assert(one("SELECT map(['a'], [1])['a'] AS v").getSeq[Int](0) == Seq(1))
    assert(one("SELECT map(['a'], [1])['z'] AS v").getSeq[Int](0) == Seq())
    assert(one("SELECT map(['a'], [1])[NULL] AS v").getSeq[Int](0) == Seq())
    assert(one("SELECT map(['a'], [CAST(NULL AS INT)])['a'] AS v")
      .getSeq[Any](0) == Seq(null))
    // element_at on a MAP is the LIST form ([] when absent)
    assert(one("SELECT element_at(map(['a'], [1]), 'a') AS v")
      .getSeq[Int](0) == Seq(1))
    assert(one("SELECT element_at(map(['a'], [1]), 'z') AS v")
      .getSeq[Int](0) == Seq())
    // aggregate sugar + reduce/filter/transform aliases
    assert(one("SELECT aggregate([1, 2, 3], 'sum') AS v").getInt(0) == 6)
    assert(one("SELECT array_reduce([1, 2, 3], (a, b) -> a * b) AS v")
      .getInt(0) == 6)
    assert(one("SELECT array_filter([1, 2, 3], x -> x > 1) AS v")
      .getSeq[Int](0) == Seq(2, 3))
    // datesub/date_sub = COMPLETE elapsed units (clamped month math,
    // signed antisymmetric) — distinct from date_diff's crossings
    assert(one("SELECT date_sub('month', DATE '2024-01-31', DATE '2024-02-28') AS v")
      .getLong(0) == 0L)
    assert(one("SELECT date_sub('month', DATE '2024-01-31', DATE '2024-02-29') AS v")
      .getLong(0) == 1L)
    assert(one("SELECT date_sub('month', DATE '2024-02-29', DATE '2024-01-31') AS v")
      .getLong(0) == -1L)
    assert(one("SELECT datesub('hour', TIMESTAMP '2024-01-01 23:30:00', TIMESTAMP '2024-01-01 22:00:00') AS v")
      .getLong(0) == -1L)
    assert(one("SELECT date_sub('quarter', DATE '2024-01-15', DATE '2024-08-20') AS v")
      .getLong(0) == 2L)
    // ... and Spark's own 2-arg date_sub keeps the fallthrough
    assert(one("SELECT CAST(date_sub(DATE '2024-03-05', 4) AS VARCHAR) AS v")
      .getString(0) == "2024-03-01")
    // LIKE-with-escape function forms
    assert(one("SELECT like_escape('a%c', 'a$%c', '$') AS v").getBoolean(0))
    assert(!one("SELECT like_escape('abc', 'a$%c', '$') AS v").getBoolean(0))
    assert(one("SELECT ilike_escape('A%C', 'a$%c', '$') AS v").getBoolean(0))
    // json_transform casts by shape and drops unlisted keys
    assert(one("""SELECT json_transform('{"a": 1, "b": 2}', '{"a": "VARCHAR"}') AS v""")
      .getString(0) == """{"a":"1"}""")
    // bit tails: position + unbin round-trip
    assert(one("SELECT bit_position('010'::BIT, '11010'::BIT) AS v")
      .getInt(0) == 3)
    assert(one("SELECT CAST(unbin('0110000101100010') AS VARCHAR) AS v")
      .getString(0) == "ab")
    // 3-vector cross product
    assert(one("SELECT array_cross_product([1.0, 0.0, 0.0], [0.0, 1.0, 0.0]) AS v")
      .getSeq[Double](0) == Seq(0.0, 0.0, 1.0))
    // ---- stage 3 (macro surface), duck-pinned ----
    assert(one("SELECT list_median([3, 1]) AS v").getDouble(0) == 2.0)
    assert(math.abs(one("SELECT list_sem([1, 2, 4]) AS v").getDouble(0)
      - 0.7200822998230956) < 1e-12)
    assert(math.abs(one("SELECT list_stddev_samp([1, 2, 4]) AS v")
      .getDouble(0) - 1.5275252316519465) < 1e-12)
    assert(one("SELECT list_entropy([1, 1, 2, 3]) AS v").getDouble(0) == 1.5)
    assert(one("SELECT list_mad([1.0, 2.0, 4.0]) AS v").getDouble(0) == 1.0)
    assert(one("SELECT list_count([1, NULL, 3]) AS v").getLong(0) == 2L)
    assert(one("SELECT list_first([NULL, 2]) IS NULL AS v").getBoolean(0))
    assert(one("SELECT list_any_value([NULL, 2]) AS v").getInt(0) == 2)
    assert(one("SELECT list_mode([1, 2, 2, 3]) AS v").getInt(0) == 2)
    assert(one("SELECT list_bit_xor([5, 3]) AS v").getInt(0) == 6)
    assert(one("SELECT list_string_agg([1, 2, 3]) AS v").getString(0) == "1,2,3")
    assert(one("SELECT CAST(list_histogram([1, 2, 2]) AS VARCHAR) AS v")
      .getString(0) == "{1 -> 1, 2 -> 2}")
    // pg-catalog compat stubs (tools issue these reflexively)
    assert(one("SELECT pg_typeof(3) AS v").getString(0) == "integer")
    assert(one("SELECT pg_size_pretty(1048576) AS v").getString(0) == "1.0 MiB")
    assert(one("SELECT pg_size_pretty(3) AS v").getString(0) == "3 bytes")
    assert(one("SELECT has_table_privilege(3, 3) AS v").getBoolean(0))
    assert(one("SELECT pg_table_is_visible(3) AS v").getBoolean(0))
    assert(one("SELECT col_description(3, 3) IS NULL AS v").getBoolean(0))
    assert(one("SELECT session_user() AS v").getString(0) == "duckdb")
    assert(one("SELECT current_role() AS v").getString(0) == "duckdb")
    // string-polymorphic pops; macro date_add; truthy count_if
    assert(one("SELECT array_pop_back('abc') AS v").getString(0) == "ab")
    assert(one("SELECT array_pop_front('abc') AS v").getString(0) == "bc")
    assert(one("SELECT date_add(3, 3) AS v").getInt(0) == 6)
    assert(one("SELECT count_if(3) AS v").getLong(0) == 1L)
    assert(one("SELECT CAST(roundbankers(2.5, 0) AS DOUBLE) AS v")
      .getDouble(0) == 2.0)
    // duck arg order array_prepend(elem, list); json of a list
    assert(one("SELECT array_prepend(9, [1, 2]) AS v")
      .getSeq[Int](0) == Seq(9, 1, 2))
    assert(one("SELECT json([1, 2, 3]) AS v").getString(0) == "[1,2,3]")
    assert(one("SELECT geomean(8.0) AS v").getDouble(0) > 7.99)
  }

  test("round-10: table-function surface (catalog TVFs, file readers, parquet footers)") {
    def rows(q: String) = gw.sql(q).collect()
    // zero-arg catalog TVFs resolve with DuckDB's column layout
    assert(rows("SELECT * FROM duckdb_keywords() WHERE keyword_name = 'select'")
      .length == 1)
    assert(rows("SELECT * FROM duckdb_types() WHERE type_name = 'HUGEINT'")
      .length == 1)
    assert(rows("SELECT * FROM duckdb_databases()").length == 3)
    assert(rows("SELECT * FROM duckdb_schemas()").length == 3)
    // object kinds this engine doesn't have answer typed-EMPTY, like a
    // fresh DuckDB — not an error
    assert(rows("SELECT * FROM duckdb_indexes()").isEmpty)
    assert(rows("SELECT * FROM duckdb_sequences()").isEmpty)
    assert(rows("SELECT * FROM duckdb_temporary_files()").isEmpty)
    assert(rows("SELECT * FROM checkpoint()").isEmpty)
    assert(rows("SELECT tag FROM duckdb_memory()").length == 12)
    assert(rows("SELECT name FROM duckdb_optimizers()").nonEmpty)
    assert(rows("SELECT * FROM pg_timezone_names() WHERE name = 'UTC'")
      .length == 1)
    assert(rows("SELECT * FROM icu_calendar_names()").length == 18)
    assert(rows("SELECT * FROM pragma_platform()").head.getString(0)
      == "linux_amd64")
    assert(rows("SELECT * FROM pragma_database_size()").length == 1)
    assert(rows("SELECT * FROM pragma_show('nation')").length == 3)
    // repeat table function: n rows of the value, column named by it
    val rep = gw.sql("SELECT * FROM repeat('x', 3)")
    assert(rep.columns.toSeq == Seq("x"))
    assert(rep.collect().map(_.getString(0)).toSeq == Seq("x", "x", "x"))
    // whole-file readers (binaryFile-backed, DuckDB's schema)
    val txt = gw.sql("SELECT * FROM read_text('/root/repo/build.sbt')")
    assert(txt.columns.toSeq ==
      Seq("filename", "content", "size", "last_modified"))
    assert(txt.collect().head.getString(1).contains("scalaVersion"))
    assert(rows("SELECT * FROM read_blob('/root/repo/build.sbt')")
      .head.get(1).isInstanceOf[Array[Byte]])
    // parquet footer introspection (driver-side bounded read)
    val sfp = TestSpark.sf
    assert(rows(s"SELECT * FROM parquet_schema('$sfp/nation.parquet') " +
      "WHERE name = 'n_name'").length == 1)
    val fm = rows(s"SELECT num_rows, num_row_groups FROM " +
      s"parquet_file_metadata('$sfp/nation.parquet')").head
    assert(fm.getLong(0) == 25L && fm.getLong(1) >= 1L)
    assert(rows(s"SELECT * FROM parquet_metadata('$sfp/nation.parquet') " +
      "WHERE path_in_schema = 'n_nationkey'").nonEmpty)
    // parquet_scan alias of read_parquet
    assert(rows(s"SELECT count(*) AS c FROM parquet_scan('$sfp/nation.parquet')")
      .head.getLong(0) == 25L)
  }

  test("round-9 probe batch 19: JSON constructors, slices, blob/chr tails match DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // JSON constructors / canonicalization / quoting (all value-pinned)
    assert(one("SELECT json('[1,  2]') AS v").getString(0) == "[1,2]")
    assert(one("SELECT json(' {\"b\" : 2, \"a\":1} ') AS v")
      .getString(0) == "{\"b\":2,\"a\":1}") // key order KEPT
    assert(one("SELECT json_quote('he\"llo') AS v").getString(0) == "\"he\\\"llo\"")
    assert(one("SELECT json_quote(1) AS v").getString(0) == "1")
    assert(one("SELECT json_array(1, 'a', NULL) AS v")
      .getString(0) == "[1,\"a\",null]")
    assert(one("SELECT json_object('k', 1, 'l', 'x') AS v")
      .getString(0) == "{\"k\":1,\"l\":\"x\"}")
    assert(one("SELECT json_group_array(x) AS v FROM (VALUES (1),(2)) t(x)")
      .getString(0) == "[1,2]")
    assert(one("SELECT json_group_object(k, v) AS v FROM (VALUES ('a',1),('b',2)) t(k,v)")
      .getString(0) == "{\"a\":1,\"b\":2}")
    // JSON-POINTER paths: numeric segments index arrays 0-based
    assert(one("SELECT json_extract('{\"a\":[1,2]}', '/a/1') AS v")
      .getString(0) == "2")
    // NEGATIVE slice ends count from the back, stop-inclusive; 0 = 1
    assert(one("SELECT CAST(to_json(list_slice([1,2,3,4,5], 2, -2)) AS VARCHAR) AS v")
      .getString(0) == "[2,3,4]")
    assert(one("SELECT ('abcdef')[2:-2] AS v").getString(0) == "bcde")
    assert(one("SELECT CAST(to_json(list_slice([1,2,3], 0, 9)) AS VARCHAR) AS v")
      .getString(0) == "[1,2,3]")
    // list concat skips NULL operands; all-NULL answers NULL
    assert(one("SELECT CAST(to_json(list_cat([1], NULL)) AS VARCHAR) AS v")
      .getString(0) == "[1]")
    assert(one("SELECT list_cat(NULL, NULL) IS NULL AS v").getBoolean(0))
    // list_unique counts distinct NON-NULL; 2-arg array_length dim=1
    assert(one("SELECT list_unique([1,1,2,NULL]) AS v").getLong(0) == 2L)
    assert(one("SELECT array_length([1,2,3], 1) AS v").getLong(0) == 3L)
    // regexp_escape = RE2 QuoteMeta; BLOB typed literal; Unicode chr
    assert(one("SELECT regexp_escape('a.b*c') AS v").getString(0) == "a\\.b\\*c")
    assert(one("SELECT base64(BLOB 'ab') AS v").getString(0) == "YWI=")
    assert(one("SELECT chr(8364) AS v").getString(0) == "€")
  }

  test("round-9 probe batch 18: statements and aggregate tails match DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // SUMMARIZE answers DuckDB's per-column layout (value-pinned on the
    // region fixture vs DuckDB 1.0: q25/q50/q75 of 0..4 are 1/2/3)
    val sm = gw.sql("SUMMARIZE region")
    assert(sm.columns.toSeq == Seq("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage"))
    val r0 = sm.collect().head
    assert(r0.getString(0) == "r_regionkey" && r0.getString(1) == "INTEGER")
    assert(r0.getString(2) == "0" && r0.getString(3) == "4")
    assert(r0.getString(7) == "1" && r0.getString(8) == "2" &&
      r0.getString(9) == "3")
    assert(r0.getLong(10) == 5L && r0.getDecimal(11).toPlainString == "0.00")
    // SHOW TABLES = single 'name' column; DESCRIBE = DuckDB's 6 columns
    // with DuckDB type spellings — both were Spark-native layouts
    val st = gw.sql("SHOW TABLES")
    assert(st.columns.toSeq == Seq("name"))
    assert(st.collect().map(_.getString(0)).contains("region"))
    val de = gw.sql("DESCRIBE region")
    assert(de.columns.toSeq == Seq("column_name", "column_type", "null",
      "key", "default", "extra"))
    assert(de.collect().head.getString(1) == "INTEGER")
    assert(gw.sql("DESCRIBE SELECT r_name FROM region")
      .collect().head.getString(1) == "VARCHAR")
    // PRAGMA table_info (both statement and table-function form) uses
    // DuckDB type spellings
    assert(gw.sql("PRAGMA table_info('region')")
      .collect().head.getString(2) == "INTEGER")
    assert(gw.sql("SELECT name FROM pragma_table_info('region') ORDER BY cid")
      .collect().map(_.getString(0)).toSeq == Seq("r_regionkey", "r_name"))
    // sample statistics: DuckDB skewness/kurtosis are bias-corrected
    // (probe-found: Spark's population forms silently diverged)
    assert(math.abs(one(
      "SELECT skewness(x) AS v FROM (VALUES (1.0),(2.0),(4.0)) t(x)")
      .getDouble(0) - 0.935219529582821) < 1e-12)
    assert(math.abs(one(
      "SELECT kurtosis(x) AS v FROM (VALUES (1.0),(2.0),(4.0),(8.0)) t(x)")
      .getDouble(0) - 0.7576559546313808) < 1e-12)
    assert(math.abs(one(
      "SELECT kurtosis_pop(x) AS v FROM (VALUES (1.0),(2.0),(4.0),(8.0)) t(x)")
      .getDouble(0) - (-1.0989792060491494)) < 1e-12)
    // below the sample-statistic domain (and zero variance): NULL
    assert(one("SELECT skewness(x) IS NULL AS v FROM (VALUES (1.0),(2.0)) t(x)")
      .getBoolean(0))
    assert(one("SELECT kurtosis(x) IS NULL AS v FROM (VALUES (1.0),(2.0),(3.0)) t(x)")
      .getBoolean(0))
    assert(one("SELECT skewness(x) IS NULL AS v FROM (VALUES (2.0),(2.0),(2.0)) t(x)")
      .getBoolean(0))
    // sem = stddev_POP/sqrt(n) (probe-pinned); compensated-sum aliases
    assert(math.abs(one(
      "SELECT sem(x) AS v FROM (VALUES (1.0),(2.0),(4.0)) t(x)")
      .getDouble(0) - 0.7200822998230956) < 1e-12)
    assert(one("SELECT fsum(x) AS v FROM (VALUES (1.5),(2.5)) t(x)")
      .getDouble(0) == 4.0)
    assert(one("SELECT arbitrary(x) AS v FROM (VALUES (7)) t(x)").getInt(0) == 7)
    // aggregate FILTER over a WINDOW (Spark rejects natively)
    assert(one("SELECT count(*) FILTER (x > 1) OVER () AS v FROM (VALUES (1),(2)) t(x) LIMIT 1")
      .getLong(0) == 1L)
    val wf = gw.sql(
      """SELECT sum(x) FILTER (WHERE x % 2 = 0) OVER (ORDER BY x) AS v
        |FROM (VALUES (1),(2),(3),(4)) t(x) ORDER BY x""".stripMargin)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(wf == Seq(-1L, 2L, 2L, 6L), wf)
    // FIRST/LAST/ANY_VALUE/ARRAY_AGG under window FILTER take the
    // collect-over-frame path (r11; the CASE fold would corrupt them —
    // the nullified frame-first row is not the first row PASSING the
    // filter, and collect_list drops NULLs array_agg keeps).
    // any_value/array_agg/list/arbitrary values below are pinned from a
    // DuckDB 1.0 run of this exact statement; DuckDB 1.0's PARSER
    // rejects the spellings first/last over a window ("FILTER is not
    // implemented for non-aggregate window functions") while answering
    // arbitrary (its aggregate alias of first) — 1.4, the reference's
    // pin, answers all of them. first/last are pinned to the aggregate
    // semantics DuckDB itself exhibits (first INCLUDING NULLs).
    val wfc = gw.sql(
      """SELECT i,
        |  first(v) FILTER (WHERE p) OVER w AS f,
        |  last(v) FILTER (WHERE p) OVER w AS l,
        |  arbitrary(v) FILTER (WHERE p) OVER w AS r,
        |  any_value(v) FILTER (WHERE p) OVER w AS a,
        |  array_agg(v) FILTER (WHERE p) OVER w AS g,
        |  list(v) FILTER (WHERE p) OVER w AS g2
        |FROM (VALUES (1, NULL, true), (2, 'b', false), (3, 'c', true),
        |  (4, NULL, true), (5, 'e', true)) t(i, v, p)
        |WINDOW w AS (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY i""".stripMargin).collect()
    def s(r: org.apache.spark.sql.Row, j: Int): String =
      if (r.isNullAt(j)) null else r.getString(j)
    assert(wfc.map(s(_, 1)).toSeq == Seq(null, null, "c", "c", null)) // first
    assert(wfc.map(s(_, 2)).toSeq == Seq(null, "c", null, "e", "e"))  // last
    assert(wfc.map(s(_, 3)).toSeq == Seq(null, null, "c", "c", null)) // arbitrary = first
    assert(wfc.map(s(_, 4)).toSeq == Seq(null, "c", "c", "c", "e"))   // any_value: first NON-NULL
    val ag = wfc.map(r => if (r.isNullAt(5)) null else r.getSeq[String](5)).toSeq
    assert(ag == Seq(Seq(null), Seq(null, "c"), Seq("c", null),
      Seq("c", null, "e"), Seq(null, "e")), ag) // array_agg keeps NULL elements
    assert(wfc.map(r => r.getSeq[String](6)).toSeq ==
      wfc.map(r => r.getSeq[String](5)).toSeq) // list = array_agg
    // all rows filtered out → NULL (not empty array), DuckDB-pinned
    val wfe = gw.sql(
      """SELECT array_agg(v) FILTER (WHERE v > 100) OVER w AS g,
        |  any_value(v) FILTER (WHERE v > 100) OVER w AS a
        |FROM (VALUES (1, 5), (2, 12)) t(i, v)
        |WINDOW w AS (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY i""".stripMargin).collect()
    assert(wfe.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // percentile_disc WITHIN GROUP keeps the ELEMENT type
    val pd = gw.sql(
      "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS v FROM (VALUES (1),(2),(3),(4)) t(x)")
    assert(pd.schema.head.dataType == org.apache.spark.sql.types.IntegerType)
    assert(pd.collect().head.getInt(0) == 2)
    // ORDER BY on order-insensitive aggregates is accepted and ignored
    assert(one("SELECT count(DISTINCT x ORDER BY x) AS v FROM (VALUES (1),(1),(2)) t(x)")
      .getLong(0) == 2L)
    assert(one("SELECT sum(x ORDER BY x DESC) AS v FROM (VALUES (1),(2)) t(x)")
      .getLong(0) == 3L)
  }

  test("round-9 probe batch 17: string/path/format/interval tails match DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // left/right with NEGATIVE n drop |n| from the other end
    assert(one("SELECT left('hello', -2) AS v").getString(0) == "hel")
    assert(one("SELECT right('hello', -2) AS v").getString(0) == "llo")
    assert(one("SELECT left('hello', -7) AS v").getString(0) == "")
    assert(one("SELECT right('hello', 2) AS v").getString(0) == "lo")
    assert(one("SELECT right('hello', 0) AS v").getString(0) == "")
    // concat() skips NULLs; the || operator keeps NULL propagation
    assert(one("SELECT concat('abc', NULL) AS v").getString(0) == "abc")
    assert(one("SELECT ('abc' || NULL) IS NULL AS v").getBoolean(0))
    // parse_* family (probe-pinned: dirname is the FIRST component)
    assert(one("SELECT parse_dirname('/a/b/c.txt') AS v").getString(0) == "/")
    assert(one("SELECT parse_dirname('a/b/c.txt') AS v").getString(0) == "a")
    assert(one("SELECT parse_dirname('c.txt') AS v").getString(0) == "")
    assert(one("SELECT parse_dirpath('a/b/c.txt') AS v").getString(0) == "a/b")
    assert(one("SELECT parse_filename('a/b/c.tar.gz', true) AS v")
      .getString(0) == "c.tar")
    assert(one("SELECT parse_filename('noext', true) AS v").getString(0) == "noext")
    // md5_number halves are LITTLE-ENDIAN u64 (DuckDB loads verbatim)
    assert(one("SELECT CAST(md5_number_lower('abc') AS VARCHAR) AS v")
      .getString(0) == "8250560606382298838")
    assert(one("SELECT CAST(md5_number_upper('abc') AS VARCHAR) AS v")
      .getString(0) == "12704604231530709392")
    // typeof answers DuckDB spellings, matching the catalog view
    assert(one("SELECT typeof('x') AS v").getString(0) == "VARCHAR")
    assert(one("SELECT typeof(1::BIGINT) AS v").getString(0) == "BIGINT")
    assert(one("SELECT typeof([1, 2]) AS v").getString(0) == "INTEGER[]")
    // printf/format accept floats with width.precision; fmt spec subset
    assert(one("SELECT printf('%5.2f|%-4d|', 3.14159, 7) AS v")
      .getString(0) == " 3.14|7   |")
    // %f rounds the EXACT binary value like C (fuzz-found: Java's
    // Formatter half-ups the shortest decimal repr instead)
    assert(one("SELECT printf('%4.3f', -37.0755) AS v").getString(0) == "-37.075")
    assert(one("SELECT printf('%.2f', 2.675) AS v").getString(0) == "2.67")
    assert(one("SELECT format('{:.2f}|{:>6}|{:06.2f}|{:,}', 3.14159, 'ab', 3.14159, 1234567) AS v")
      .getString(0) == "3.14|    ab|003.14|1,234,567")
    // list tails
    assert(one("SELECT CAST(to_json(list_resize([1,2], 4, 0)) AS VARCHAR) AS v")
      .getString(0) == "[1,2,0,0]")
    assert(one("SELECT CAST(to_json(list_resize([1,2,3], 2)) AS VARCHAR) AS v")
      .getString(0) == "[1,2]")
    assert(one("SELECT CAST(to_json(array_reverse([1,2,3])) AS VARCHAR) AS v")
      .getString(0) == "[3,2,1]")
    assert(one("SELECT CAST(to_json(list_apply([1,2], x -> x + 1)) AS VARCHAR) AS v")
      .getString(0) == "[2,3]")
    assert(one("SELECT reduce([1,2,3], (a, b) -> a + b) AS v").getInt(0) == 6)
    // epoch of an interval: total seconds, a month counting 30 days
    assert(one("SELECT extract(epoch FROM INTERVAL 3 HOUR) AS v")
      .getDouble(0) == 10800.0)
    assert(one("SELECT extract(epoch FROM INTERVAL '1 month') AS v")
      .getDouble(0) == 2592000.0)
    assert(one("SELECT extract(epoch FROM INTERVAL '1.5 seconds') AS v")
      .getDouble(0) == 1.5)
    assert(one("SELECT date_part('epoch', INTERVAL '2 days 3 hours') AS v")
      .getDouble(0) == 183600.0)
    // months normalize first: full years count 365.25 days (fuzz-found)
    assert(one("SELECT extract(epoch FROM INTERVAL 85 MONTH) AS v")
      .getDouble(0) == 223495200.0)
    assert(one("SELECT extract(epoch FROM -INTERVAL '13 months') AS v")
      .getDouble(0) == -34149600.0)
    // MIXED-unit interval strings (Spark's literal grammar refuses)
    assert(one("SELECT CAST(INTERVAL '1 month 2 days 3 hours' AS VARCHAR) AS v")
      .getString(0) == "1 month 2 days 03:00:00")
    // strptime format LIST: first parse wins; all-fail errors like DuckDB
    assert(one("SELECT CAST(strptime('03/07/2024', ['%Y-%m-%d', '%d/%m/%Y']) AS VARCHAR) AS v")
      .getString(0).startsWith("2024-07-03"))
    intercept[Exception](one("SELECT strptime('xx', ['%Y-%m-%d']) AS v"))
    // group_concat alias (default ',' separator; ordered form rewrites)
    assert(one("SELECT group_concat(x) AS v FROM (VALUES (1),(2)) t(x)")
      .getString(0) == "1,2")
    assert(one("SELECT group_concat(r_name, '|' ORDER BY r_name) AS v FROM region")
      .getString(0) == "AFRICA|AMERICA|ASIA|EUROPE|MIDDLE EAST")
  }

  test("round-9: negating a UBIGINT counter is a typed refusal, not a silent -n") {
    // DuckDB 1.0: -json_array_length('[1,2]') WRAPS to 2^64-2 (UBIGINT);
    // the engine has no unsigned arithmetic and refuses loudly instead
    // of silently answering -2
    val e = intercept[Exception](
      gw.sql("SELECT -json_array_length('[1,2]') AS v").collect())
    assert(e.getMessage.contains("UBIGINT"), e.getMessage)
    // the documented opt-out: explicit CAST = signed arithmetic, and
    // BOTH engines answer -n for it
    assert(gw.sql("SELECT -CAST(json_array_length('[1,2]') AS BIGINT) AS v")
      .collect()(0).getLong(0) == -2L)
    // un-negated use is untouched
    assert(gw.sql("SELECT json_array_length('[1,2,3]') AS v")
      .collect()(0).getLong(0) == 3L)
  }

  test("duckdb_settings() is LIVE: SET is visible on the next query") {
    // not under spark.graft.* — that namespace is SET-protected
    gw.sql("SET graft.test.live_probe=42").collect()
    val v = gw.sql(
      "SELECT value FROM duckdb_settings() WHERE name = 'graft.test.live_probe'")
      .collect()
    assert(v.length == 1 && v(0).getString(0) == "42")
  }

  test("GraftSqlParser applies dialect rewrites at the parser level") {
    val parser = new graft.engine.GraftSqlParser(
      spark.sessionState.sqlParser)
    // QUALIFY is not Spark SQL: parsing succeeds only if the rewrite fired
    val plan = parser.parsePlan(
      "SELECT o_custkey FROM orders QUALIFY row_number() OVER (ORDER BY o_custkey) = 1")
    assert(plan != null)
    assert(parser.parsePlan("SELECT 7 // 2 AS d").toString.contains("7 div 2"))
    // fragment parsing stays untouched
    assert(parser.parseExpression("a + 1") != null)
  }

  test("CREATE SECRET maps onto Hadoop S3A configuration (D5, k8s/main.yaml:116)") {
    val g = Gateway.open(spark, sf)
    g.sql("""CREATE PERSISTENT SECRET (
            |    TYPE s3,
            |    PROVIDER config,
            |    KEY_ID 'access',
            |    SECRET 'secret',
            |    REGION 'us-east-1',
            |    ENDPOINT '0.0.0.0:7070',
            |    USE_SSL false,
            |    URL_STYLE 'path'
            |)""".stripMargin).collect()
    // SESSION-scoped spark.hadoop.* overrides (one client's credentials
    // must not leak into other sessions' hadoopConfiguration)
    val c = g.session.conf
    assert(c.get("fs.s3a.access.key") == "access")
    assert(c.get("fs.s3a.endpoint") == "0.0.0.0:7070")
    assert(c.get("fs.s3a.connection.ssl.enabled") == "false")
    assert(c.get("fs.s3a.path.style.access") == "true")
    // honored by the session's effective Hadoop conf for reads
    val classic = g.session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(classic.sessionState.newHadoopConf().get("fs.s3a.access.key") == "access")
    // and absent from the context-global configuration
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.access.key") == null)
    // unknown secret types are tolerated, like the reference's init
    g.sql("CREATE PERSISTENT SECRET (type AIRPORT, auth_token 'x', scope 'grpc://h')").collect()
  }

  test("dialect shim semantics match DuckDB on boundary cases") {
    val g = Gateway.open(spark, sf)
    def one(q: String) = g.sql(q).collect()(0)
    // date_diff counts boundary crossings, not elapsed units
    assert(one("SELECT date_diff('day', TIMESTAMP '2024-01-01 23:00:00', TIMESTAMP '2024-01-02 01:00:00') AS d").getLong(0) == 1L)
    assert(one("SELECT datediff('year', DATE '2024-12-31', DATE '2025-01-01') AS d").getLong(0) == 1L)
    // Spark's native 2-arg datediff is preserved through the override
    assert(one("SELECT datediff(DATE '2024-01-11', DATE '2024-01-01') AS d").getInt(0) == 10)
    // yearweek uses the ISO year, not the calendar year
    assert(one("SELECT yearweek(DATE '2024-12-30') AS yw").getInt(0) == 202501)
    assert(one("SELECT yearweek(DATE '2027-01-01') AS yw").getInt(0) == 202653)
    // len works on lists AND strings (DuckDB's primary use is lists)
    assert(one("SELECT len(string_split('a b c', ' ')) AS n").getLong(0) == 3L)
    assert(one("SELECT len('abc') AS n").getLong(0) == 3L)
    // weekly time_bucket aligns to DuckDB's Monday origin (2000-01-03)
    assert(one("SELECT CAST(time_bucket(INTERVAL '7' DAY, TIMESTAMP '2024-01-10 05:00:00') AS DATE) AS b")
      .getDate(0).toString == "2024-01-08")
    // encode(string) -> blob, 1-arg DuckDB form
    assert(one("SELECT octet_length(encode('abc')) AS n").getInt(0) == 3)
  }

  test("dialect rewrites are literal-safe and reach subqueries") {
    val g = Gateway.open(spark, sf)
    // QUALIFY inside a subquery
    val sub = g.sql(
      """SELECT cnt FROM (
        |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, o_custkey ASC) = 1) t""".stripMargin)
      .collect()
    assert(sub.length == 1)
    // a string literal containing operator-looking text survives verbatim
    assert(g.sql("SELECT 'matched via GLOB ''*.csv''' AS note").collect()(0)
      .getString(0) == "matched via GLOB '*.csv'")
    assert(g.sql("SELECT 'duckdb_tables() is a fn' AS s").collect()(0)
      .getString(0) == "duckdb_tables() is a fn")
  }

  test("DuckDB list/string alias shims") {
    val g = Gateway.open(spark, sf)
    def one(q: String) = g.sql(q).collect()(0)
    assert(one("SELECT list_has_any(array(1,2), array(2,3)) AS b").getBoolean(0))
    assert(one("SELECT list_has_all(array(1,2,3), array(2,3)) AS b").getBoolean(0))
    assert(!one("SELECT list_has_all(array(1,2), array(2,9)) AS b").getBoolean(0))
    assert(one("SELECT strpos('hello', 'll') AS p").getInt(0) == 3)
    assert(one("SELECT list_position(array(10,20,30), 20) AS p").getLong(0) == 2L)
    assert(one("SELECT list_append(array(1,2), 3) AS l").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT list_prepend(0, array(1,2)) AS l").getSeq[Int](0) == Seq(0, 1, 2))
    assert(one("SELECT list_reverse(array(1,2,3)) AS l").getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT to_hex(255) AS h").getString(0) == "FF")
    assert(math.abs(one(
      "SELECT array_cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .getDouble(0) - 1.0) < 1e-12)
  }

  test("SUMMARIZE statement (DuckDB T7 form)") {
    // one ROW per column in DuckDB's layout (r9 shape fix — previously
    // Spark's transposed .summary() table)
    val out = gw.sql("SUMMARIZE nation").collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(out.head.getString(1) == "INTEGER")
  }

  test("round-6 dialect batch: values match DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // list_sort string flags (DuckDB defaults: ASC, NULLS LAST)
    assert(one("SELECT list_sort([2,1,3], 'DESC') AS s")
      .getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT list_sort([2,NULL,1], 'ASC', 'NULLS FIRST') AS s")
      .getSeq[Any](0) == Seq(null, 1, 2))
    // lag(x IGNORE NULLS) inside-parens form
    val lagRows = gw.sql(
      "SELECT x, lag(y IGNORE NULLS) OVER (ORDER BY x) AS l FROM (VALUES (1,10),(2,NULL),(3,30)) t(x,y) ORDER BY x").collect()
    assert(lagRows.map(r => Option(r.get(1)).orNull).toSeq == Seq(null, 10, 10))
    // struct_pack := / struct_insert
    val sp = one("SELECT struct_pack(a := 1, b := 'x') AS s").getStruct(0)
    assert(sp.getInt(0) == 1 && sp.getString(1) == "x")
    val si = one("SELECT struct_insert({'a': 1}, b := 2) AS s").getStruct(0)
    assert(si.getInt(0) == 1 && si.getInt(1) == 2)
    // ordered list aggregate
    assert(one("SELECT list(x ORDER BY y DESC) AS l FROM (VALUES (1,1),(2,2)) t(x,y)")
      .getSeq[Int](0) == Seq(2, 1))
    // timestamp range() is stop-exclusive
    assert(gw.sql(
      "SELECT * FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03', INTERVAL 1 DAY)")
      .count() == 2)
    // date_part list form returns a struct named by the parts
    val dp = one("SELECT date_part(['year','month'], DATE '2024-02-01') AS p").getStruct(0)
    assert(dp.getAs[Number]("year").intValue == 2024 &&
      dp.getAs[Number]("month").intValue == 2)
    // list_* aggregate sugar + arg_min top-n
    assert(one("SELECT list_avg([1.0,2.0,3.0]) AS a").getDouble(0) == 2.0)
    assert(one("SELECT list_sum([1,2,3]) AS s").getDouble(0) == 6.0)
    assert(one("SELECT arg_min(s, v, 2) AS a FROM (VALUES ('a',3),('b',1),('c',2)) t(s,v)")
      .getSeq[String](0) == Seq("b", "c"))
    // to_base / ord / bar
    assert(one("SELECT to_base(255, 16) AS h").getString(0) == "FF")
    assert(one("SELECT ord('A') AS o").getInt(0) == 65)
    assert(one("SELECT bar(3, 0, 5, 5) AS b").getString(0) == "███")
    // TIMESTAMPTZ + AT TIME ZONE (UTC session: same instant)
    assert(one("SELECT epoch(TIMESTAMPTZ '2024-01-01 00:00:00+00') AS e")
      .getDouble(0) == 1704067200.0)
    assert(one("SELECT TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'UTC' AS t")
      .getTimestamp(0).toInstant.getEpochSecond == 1704110400L)
    // batch-6 value-divergence fixes: log is log10, ^ is power,
    // bare VARCHAR/TEXT/unsigned cast type names resolve
    assert(one("SELECT log(100) AS l").getDouble(0) == 2.0)
    assert(one("SELECT log(2, 8) AS l").getDouble(0) == 3.0)
    assert(one("SELECT 2 ^ 10 AS p").getDouble(0) == 1024.0)
    assert(one("SELECT 2 ** 10 AS p").getDouble(0) == 1024.0)
    assert(one("SELECT 7::VARCHAR AS v").getString(0) == "7")
    assert(one("SELECT CAST(255 AS UBIGINT) AS u").getDecimal(0).intValue == 255)
    assert(one("SELECT date_add(DATE '2024-01-01', INTERVAL 3 DAY) AS d")
      .getDate(0).toString == "2024-01-04")
    // DuckDB pins midnight to N.0, not the astronomical N-0.5 (the
    // round-6 pin trusted the textbook JD formula; batch 13 re-verified
    // against DuckDB 1.0 itself: 2024-01-01 → 2460311.0)
    assert(one("SELECT julian(DATE '2024-01-01') AS j").getDouble(0) == 2460311.0)
    assert(one("SELECT list_grade_up([30,10,20]) AS g")
      .getSeq[Int](0) == Seq(2, 3, 1))
    assert(one("SELECT list_distance([0.0,0.0], [3.0,4.0]) AS d").getDouble(0) == 5.0)
    // a column NAMED text must never be touched by the cast-type map
    assert(gw.sql("SELECT text FROM documents WHERE doc_id = 0").count() == 1)
    // txn/maintenance no-ops and EXPLAIN ANALYZE
    assert(gw.sql("BEGIN TRANSACTION").collect().isEmpty)
    assert(gw.sql("COMMIT").collect().isEmpty)
    assert(gw.sql("VACUUM").collect().isEmpty)
    val ea = one("EXPLAIN ANALYZE SELECT 1 AS x")
    assert(ea.getString(0) == "analyzed_plan" && ea.getString(1).contains("LocalTableScan"))
    val sat = gw.sql("SHOW ALL TABLES").collect()
    assert(sat.exists(_.toSeq.exists(v => v != null && v.toString == "orders")))
  }

  test("round-6 batch 8: JSON introspection matches DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // json_type: integer sign split, path form, missing path → NULL
    assert(one("SELECT json_type('1') AS t").getString(0) == "UBIGINT")
    assert(one("SELECT json_type('-1') AS t").getString(0) == "BIGINT")
    assert(one("SELECT json_type('1.5') AS t").getString(0) == "DOUBLE")
    assert(one("""SELECT json_type('{"a":[1]}', '$.a') AS t""").getString(0) == "ARRAY")
    assert(one("""SELECT json_type('{"a":1}', '$.b') AS t""").isNullAt(0))
    // json_structure: numeric widening, null absorption, object
    // key-merge, mismatch => "JSON", empty array => ["NULL"]
    assert(one("SELECT json_structure('[1,1.5]') AS s").getString(0) == """["DOUBLE"]""")
    assert(one("SELECT json_structure('[null,1]') AS s").getString(0) == """["UBIGINT"]""")
    assert(one("""SELECT json_structure('[{"a":1},{"b":2}]') AS s""")
      .getString(0) == """[{"a":"UBIGINT","b":"UBIGINT"}]""")
    assert(one("""SELECT json_structure('[1,"a"]') AS s""").getString(0) == """["JSON"]""")
    assert(one("SELECT json_structure('[]') AS s").getString(0) == """["NULL"]""")
    // json_merge_patch: RFC 7386 — null patch values DELETE keys
    assert(one("""SELECT json_merge_patch('{"a":1,"c":{"d":2}}','{"b":2,"c":null}') AS m""")
      .getString(0) == """{"a":1,"b":2}""")
    assert(one("""SELECT json_merge_patch('{"a":1}','3') AS m""").getString(0) == "3")
    // json_contains: subtree subset containment, strict scalar equality
    assert(one("""SELECT json_contains('{"a":{"b":2,"c":3}}','{"b":2}') AS c""").getBoolean(0))
    assert(one("SELECT json_contains('[1,2,3]','[2,1]') AS c").getBoolean(0))
    assert(!one("SELECT json_contains('[1.0]','1') AS c").getBoolean(0))
    // from_json structure-literal form
    val fj = one("""SELECT from_json('{"a": 1}', '{"a": "BIGINT"}') AS s""").getStruct(0)
    assert(fj.getLong(0) == 1L)
    // format_bytes TRUNCATES to one decimal (1500/1024 = 1.46 → 1.4)
    assert(one("SELECT format_bytes(1500) AS f").getString(0) == "1.4 KiB")
    assert(one("SELECT format_bytes(1) AS f").getString(0) == "1 byte")
    assert(one("SELECT format_bytes(-2048) AS f").getString(0) == "-2.0 KiB")
    assert(one("SELECT nfc_normalize('café') AS n").getString(0) == "café")
  }

  test("PREPARE / EXECUTE / DEALLOCATE ($N, ?, named params)") {
    gw.sql("PREPARE padd AS SELECT $1 + $2 AS v")
    assert(gw.sql("EXECUTE padd(3, 4)").collect().head.get(0).toString == "7")
    // repeated + out-of-order positional references
    gw.sql("PREPARE prep2 AS SELECT $2 || '-' || $1 || '-' || $2 AS v")
    assert(gw.sql("EXECUTE prep2('a', 'b')").collect()
      .head.getString(0) == "b-a-b")
    // ? placeholders bind left to right
    gw.sql("PREPARE pq AS SELECT ? * 10 + ? AS v")
    assert(gw.sql("EXECUTE pq(4, 2)").collect().head.get(0).toString == "42")
    // named $param with name := value
    gw.sql("PREPARE pn AS SELECT r_name FROM region WHERE r_regionkey = $k")
    assert(gw.sql("EXECUTE pn(k := 2)").collect().head.getString(0) == "ASIA")
    // a real fixture predicate through the full pipeline
    gw.sql("PREPARE porders AS SELECT count(*) AS c FROM orders WHERE o_totalprice > $1")
    assert(gw.sql("EXECUTE porders(1e9)").collect().head.getLong(0) == 0L)
    // placeholders inside string literals are data, not parameters
    gw.sql("PREPARE plit AS SELECT '$1?' AS v, $1 AS w")
    val r = gw.sql("EXECUTE plit(9)").collect().head
    assert(r.getString(0) == "$1?" && r.get(1).toString == "9")
    // arity errors
    intercept[Exception](gw.sql("EXECUTE padd(1)").collect())
    intercept[Exception](gw.sql("EXECUTE nosuch(1)"))
    // DEALLOCATE removes the statement
    gw.sql("DEALLOCATE padd")
    intercept[Exception](gw.sql("EXECUTE padd(1, 2)"))
    // read-only classification applies to the BOUND statement at
    // EXECUTE time: preparing a write succeeds, executing it does not
    gw.sql("PREPARE pwrite AS CREATE TABLE hack AS SELECT $1 AS x")
    val e = intercept[Exception](gw.sql("EXECUTE pwrite(1)"))
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("round-7: native TIME type (literals, casts, extraction, arithmetic) matches DuckDB") {
    import org.apache.spark.sql.types.TimeType
    // values pinned against DuckDB 1.x on the same statements
    val df = gw.sql(
      """SELECT TIME '12:34:56.789123' AS t,
        |  CAST('07:08:09' AS TIME) AS c,
        |  CAST(TIMESTAMP '2024-01-01 10:20:30.123456' AS TIME) AS tod,
        |  CAST(hour(TIME '12:34:56.789123') AS INT) AS h,
        |  CAST(extract(minute FROM TIME '12:34:56.789123') AS INT) AS mi,
        |  TIME '12:00:00' + INTERVAL 90 MINUTE AS plus,
        |  TIME '12:00:00' < TIME '13:00:00' AS lt,
        |  get_current_time() IS NOT NULL AS now_ok""".stripMargin)
    // typed, not VARCHAR: the round-6 documented divergence is closed
    for (c <- Seq("t", "c", "tod", "plus"))
      assert(df.schema(c).dataType.isInstanceOf[TimeType],
        s"$c: ${df.schema(c).dataType}")
    val r = df.collect().head
    assert(r.get(0).toString == "12:34:56.789123")
    assert(r.get(1).toString == "07:08:09")
    assert(r.get(2).toString == "10:20:30.123456") // ts::TIME rewrite rule
    assert(r.getInt(3) == 12 && r.getInt(4) == 34)
    assert(r.get(5).toString == "13:30")
    assert(r.getBoolean(6) && r.getBoolean(7))
    // the Arrow serving path (Flight DoGet) must carry TIME too
    val ipc = gw.arrowStream("SELECT TIME '12:34:56.789123' AS t").toSeq
    assert(ipc.nonEmpty && ipc.map(_.length).sum > 0)
  }

  test("round-7: BIT bitstrings and UNION values match DuckDB") {
    // expected values pinned against DuckDB 1.x on identical statements
    val bit = gw.sql(
      """SELECT CAST(7::BIT AS VARCHAR) AS b32,
        |  bit_count(7::BIT) AS c7,
        |  '0101'::BIT AS b, bit_count('0101'::BIT) AS c,
        |  bitstring('0101', 8) AS bs,
        |  get_bit('0110'::BIT, 1) AS g,
        |  set_bit('0110'::BIT, 0, 1) AS s,
        |  bit_count(5) AS native_int""".stripMargin).collect().head
    assert(bit.getString(0) == "00000000000000000000000000000111")
    assert(bit.getLong(1) == 3L)
    assert(bit.getString(2) == "0101" && bit.getLong(3) == 2L)
    assert(bit.getString(4) == "00000101")
    assert(bit.getInt(5) == 1)
    assert(bit.getString(6) == "1110")
    assert(bit.getInt(7) == 2) // integral arg fell through to the builtin
    val agg = gw.sql(
      """SELECT bitstring_agg(x, 0, 7) AS b
        |FROM (VALUES (1), (3), (5)) t(x)""".stripMargin).collect().head
    assert(agg.getString(0) == "01010100") // pinned vs DuckDB
    // invalid bitstring text is a runtime conversion error, like DuckDB
    intercept[Exception](gw.sql("SELECT 'x2'::BIT AS b").collect())
    val u = gw.sql(
      """SELECT union_tag(union_value(num := 2)) AS t,
        |  union_extract(union_value(num := 2), 'num') AS v,
        |  union_value(s := 'hi') AS uv""".stripMargin).collect().head
    assert(u.getString(0) == "num")
    assert(u.getInt(1) == 2)
    assert(u.getStruct(2).getString(0) == "s" && u.getStruct(2).getString(1) == "hi")
  }

  test("round-7 hardening: range column name, override fallbacks, named-arg diagnostics") {
    // FROM range(...) keeps the native distributed TVF but the output
    // column is DuckDB's `range`, not Spark's `id` (r6 ADVICE)
    val r = gw.sql("SELECT range FROM range(3) ORDER BY range").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // idempotent under the macro path (pipeline re-runs on expanded text)
    gw.sql("CREATE MACRO r7_rng(n) AS TABLE SELECT range AS v FROM range(n)")
    assert(gw.sql("SELECT count(*) AS c FROM r7_rng(4)").collect().head.getLong(0) == 4L)
    gw.sql("DROP MACRO r7_rng")
    // user alias still attaches to the rewritten relation
    assert(gw.sql("SELECT t.range FROM range(2) t").collect().length == 2)
    // override shims fall through to Spark builtins for unclaimed
    // argument shapes: 3-arg from_json and schema_of_json second arg
    val fj = gw.sql(
      """SELECT from_json('{"a": 7}', 'a INT', map('mode', 'PERMISSIVE')).a AS x,
        |  from_json('[1, 2]', schema_of_json('[9]')) AS y""".stripMargin).collect().head
    assert(fj.getInt(0) == 7 && fj.getSeq[Long](1) == Seq(1L, 2L))
    // a shim given an argument shape the dialect can't dispatch reports
    // a diagnostic naming the function, not an opaque MatchError
    val e1 = intercept[Exception](
      gw.sql("SELECT list_sort([3,1], CASE WHEN rand() < 2 THEN 'ASC' END)").collect())
    assert(e1.getMessage.contains("list_sort"), e1.getMessage)
    // struct_pack argument without := is a dialect diagnostic
    val e2 = intercept[GatewayException](
      gw.sql("SELECT struct_pack(a := 1, b)").collect())
    assert(e2.getMessage.contains("name := value"), e2.getMessage)
  }

  test("round-8: factorial — HUGEINT domain, postfix !, != untouched") {
    // DuckDB 1.0 pinned: factorial(25) is a value (HUGEINT), not the
    // NULL Spark's BIGINT builtin degrades to above 20!; factorial(-1)
    // is the empty product 1
    val f = gw.sql(
      """SELECT factorial(5) AS f, factorial(25) AS big,
        |  factorial(-1) AS neg, factorial(NULL::INT) AS nul""".stripMargin)
      .collect().head
    assert(f.getDecimal(0).longValueExact == 120L)
    assert(f.getDecimal(1).toBigInteger.toString ==
      "15511210043330985984000000") // DuckDB 1.0: SELECT 25!
    assert(f.getDecimal(2).longValueExact == 1L)
    assert(f.isNullAt(3))
    // 34! overflows HUGEINT — errors (DuckDB: Out of Range), never wraps
    intercept[Exception](gw.sql("SELECT factorial(34) AS x").collect())
    // postfix `!`: literal, parenthesized expr, and DuckDB's own
    // lexer split — `5 ! = 120` is factorial-then-compare, `!=` is
    // not-equals (both pinned against DuckDB 1.0)
    val p = gw.sql(
      "SELECT 5! AS f, (2+3)! AS g, 5 ! = 120 AS cmp, 5 != 3 AS ne, 'a!' AS lit")
      .collect().head
    assert(p.getDecimal(0).longValueExact == 120L)
    assert(p.getDecimal(1).longValueExact == 120L)
    assert(p.getBoolean(2) && p.getBoolean(3))
    assert(p.getString(4) == "a!") // literals stay opaque
  }

  test("round-8: GROUPS window frames run as RANGE over an injected dense_rank") {
    // beyond-reference: DuckDB 1.0 itself rejects GROUPS mode ("not
    // implemented yet"), so expected values are hand-computed from the
    // SQL:2011 definition (frame = peer groups within rank distance)
    val basic = gw.sql(
      """SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s
        |FROM (VALUES (1),(2),(3)) t(x) ORDER BY s""".stripMargin).collect()
    assert(basic.map(_.getLong(0)).toSeq == Seq(3L, 5L, 6L))
    // ties: duplicate ORDER BY keys form ONE group — both x=1 rows see
    // the same frame {1,1,2}; a ROWS-mode emulation would diverge here
    val ties = gw.sql(
      """SELECT x, sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s
        |FROM (VALUES (1),(1),(2),(3)) t(x) ORDER BY x, s""".stripMargin).collect()
    assert(ties.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 4L), (1, 4L), (2, 7L), (3, 5L)))
    // PARTITION BY carries into both the rank and the frame window
    val part = gw.sql(
      """SELECT p, x, sum(x) OVER (PARTITION BY p ORDER BY x
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM (VALUES ('a',1),('a',2),('b',5)) t(p,x) ORDER BY p, x""".stripMargin)
      .collect()
    assert(part.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq(("a", 1, 1L), ("a", 2, 3L), ("b", 5, 5L)))
    // WHERE belongs to the window's input: the injected subquery must
    // absorb it (x=9 filtered BEFORE ranking)
    val filt = gw.sql(
      """SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |FROM (VALUES (1),(2),(3),(9)) t(x) WHERE x < 5 ORDER BY s""".stripMargin)
      .collect()
    assert(filt.map(_.getLong(0)).toSeq == Seq(1L, 3L, 6L))
    // short form GROUPS n PRECEDING = BETWEEN n PRECEDING AND CURRENT ROW
    val short = gw.sql(
      """SELECT sum(x) OVER (ORDER BY x GROUPS 1 PRECEDING) AS s
        |FROM (VALUES (1),(1),(2),(3)) t(x) ORDER BY s""".stripMargin).collect()
    assert(short.map(_.getLong(0)).toSeq == Seq(2L, 2L, 4L, 5L))
  }

  test("round-8: window EXCLUDE frames match DuckDB (subtraction algebra)") {
    // all expected values pinned against DuckDB 1.0 on these literals
    // r10 fuzz find: bool aggregates composed with FILTER + EXCLUDE fell
    // through both rewrite paths to a parse error — bool_and/bool_or now
    // ride the general fallback as min/max over orderable booleans
    val bx = gw.sql(
      """SELECT x, bool_and(x < 4) FILTER (WHERE x % 2 = 0) OVER (
        |  ORDER BY x ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
        |  EXCLUDE CURRENT ROW) AS w
        |FROM (VALUES (1),(2),(3),(4),(5)) t(x) ORDER BY x""".stripMargin)
      .collect()
    assert(bx.map(r => (r.getInt(0), r.getBoolean(1))).toSeq ==
      Seq((1, true), (2, false), (3, false), (4, true), (5, false)))
    val cur = gw.sql(
      """SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        |  EXCLUDE CURRENT ROW) AS s FROM (VALUES (1),(2),(3)) t(x) ORDER BY s""".stripMargin)
      .collect()
    assert(cur.map(_.getLong(0)).toSeq == Seq(2L, 2L, 4L))
    // EXCLUDE GROUP: both x=1 rows lose their whole peer group → NULL
    val grp = gw.sql(
      """SELECT x, sum(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |  EXCLUDE GROUP) AS s FROM (VALUES (1),(1),(2)) t(x) ORDER BY x, s""".stripMargin)
      .collect()
    assert(grp.map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((1, -1L), (1, -1L), (2, 2L)))
    // EXCLUDE TIES keeps the current row
    val ties = gw.sql(
      """SELECT x, sum(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |  EXCLUDE TIES) AS s FROM (VALUES (1),(1),(2)) t(x) ORDER BY x, s""".stripMargin)
      .collect()
    assert(ties.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 1L), (1, 1L), (2, 4L)))
    // COUNT(*) and AVG route through the same algebra
    val cnt = gw.sql(
      """SELECT count(*) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        |  EXCLUDE CURRENT ROW) AS c FROM (VALUES (1),(2),(3)) t(x) ORDER BY c""".stripMargin)
      .collect()
    assert(cnt.map(_.getLong(0)).toSeq == Seq(1L, 1L, 2L))
    val avg = gw.sql(
      """SELECT CAST(round(avg(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        |  EXCLUDE CURRENT ROW), 3) AS DOUBLE) AS a
        |FROM (VALUES (1.0),(2.0),(4.0)) t(x) ORDER BY a""".stripMargin)
      .collect()
    assert(avg.map(_.getDouble(0)).toSeq == Seq(2.0, 2.0, 2.5))
    // NULL discipline: empty post-exclusion frame (or all-NULL) is NULL,
    // not 0 — the guard DuckDB's native EXCLUDE applies
    val nul = gw.sql(
      """SELECT sum(x) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        |  EXCLUDE CURRENT ROW) AS s
        |FROM (VALUES (1, 5), (2, NULL), (3, NULL)) t(i, x) ORDER BY i""".stripMargin)
      .collect()
    assert(nul.map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq ==
      Seq(-1L, 5L, -1L))
    // EXCLUDE NO OTHERS is the default — clause dropped, values unchanged
    val none = gw.sql(
      """SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        |  EXCLUDE NO OTHERS) AS s FROM (VALUES (1),(2),(3)) t(x) ORDER BY s""".stripMargin)
      .collect()
    assert(none.map(_.getLong(0)).toSeq == Seq(3L, 5L, 6L))
  }

  test("round-8: batch-8 shims — array types, list aliases, length on lists") {
    val arr = gw.sql("SELECT [1,2,3]::INT[3] AS a, [1,2]::BIGINT[] AS b").collect().head
    assert(arr.getSeq[Int](0) == Seq(1, 2, 3))
    assert(arr.getSeq[Long](1) == Seq(1L, 2L))
    val fns = gw.sql(
      """SELECT array_concat([1], [2, 3]) AS c, array_length([7,8]) AS n,
        |  length([1,2,3]) AS l, length(MAP {'k': 1}) AS m""".stripMargin)
      .collect().head
    assert(fns.getSeq[Int](0) == Seq(1, 2, 3))
    assert(fns.getLong(1) == 2L && fns.getLong(2) == 3L && fns.getLong(3) == 1L)
    val gs = gw.sql("SELECT generate_subscripts([9,8,7], 1) AS g").collect()
    assert(gs.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("round-8: batch-9 sugar — LIMIT n%, INTERVAL (expr), @abs, round_even, trunc") {
    // LIMIT n% keeps floor(n% of rows) — DuckDB 1.0 pinned (20% of 25 = 5;
    // 10% of 25 = 2)
    assert(gw.sql("SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 20%")
      .collect().length == 5)
    assert(gw.sql("SELECT n_nationkey FROM nation LIMIT 10%").collect().length == 2)
    // parameterized interval literal
    val iv = gw.sql(
      "SELECT DATE '2024-01-01' + INTERVAL (2 + 1) DAY AS d").collect().head
    assert(iv.get(0).toString.startsWith("2024-01-04"))
    // prefix-@ absolute value (DuckDB: @(-7) = 7, INTEGER)
    val at = gw.sql("SELECT @(-7) AS a, @7.5 AS b").collect().head
    assert(at.getInt(0) == 7)
    assert(at.getDecimal(1).doubleValue == 7.5)
    // banker's rounding + carrier-typed numeric trunc (DuckDB pinned:
    // round_even(2.5,0)=2, (3.5,0)=4; trunc keeps DOUBLE as DOUBLE)
    val r = gw.sql(
      """SELECT CAST(round_even(2.5, 0) AS DOUBLE) AS a,
        |  CAST(round_even(3.5, 0) AS DOUBLE) AS b,
        |  trunc(CAST(2.7 AS DOUBLE)) AS c, trunc(CAST(-2.7 AS DOUBLE)) AS d""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 4.0)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == -2.0)
    // native 2-arg date trunc still resolves through the fallthrough
    assert(gw.sql("SELECT trunc(DATE '2024-02-15', 'MM') AS t").collect()
      .head.get(0).toString == "2024-02-01")
    // row() constructs a struct
    assert(gw.sql("SELECT row(1, 'x') AS s").collect().head.getStruct(0).getInt(0) == 1)
  }

  test("round-8: batch-10 — stepped slices, top-n min/max, pop/push, map_extract") {
    // stepped slice incl. negative step — DuckDB 1.0 pinned:
    // [1:5:2] = [1,3,5]; [6:1:-2] = [6,4,2]; list_slice(l,2,6,2) = [2,4,6]
    val sl = gw.sql(
      """SELECT ([1,2,3,4,5,6])[1:5:2] AS a, ([1,2,3,4,5,6])[6:1:-2] AS b,
        |  list_slice([1,2,3,4,5,6], 2, 6, 2) AS c,
        |  ([1,2,3])[3:1:1] AS empty""".stripMargin).collect().head
    assert(sl.getSeq[Int](0) == Seq(1, 3, 5))
    assert(sl.getSeq[Int](1) == Seq(6, 4, 2))
    assert(sl.getSeq[Int](2) == Seq(2, 4, 6))
    assert(sl.getSeq[Int](3).isEmpty)
    // top-n min/max (DuckDB >= 1.1 surface, hand-pinned): lists of the
    // n extremes, NULLs dropped like plain min/max
    val mn = gw.sql(
      """SELECT min(x, 2) AS lo, max(x, 2) AS hi
        |FROM (VALUES (3),(NULL),(1),(2)) t(x)""".stripMargin).collect().head
    assert(mn.getSeq[Int](0) == Seq(1, 2))
    assert(mn.getSeq[Int](1) == Seq(3, 2))
    // pop/push family — DuckDB 1.0 pinned
    val pp = gw.sql(
      """SELECT array_pop_back([1,2,3]) AS a, array_pop_front([1,2,3]) AS b,
        |  array_pop_back(([1])[1:0]) AS empty,
        |  array_push_back([1,2], 3) AS c, array_push_front([1,2], 0) AS d""".stripMargin)
      .collect().head
    assert(pp.getSeq[Int](0) == Seq(1, 2) && pp.getSeq[Int](1) == Seq(2, 3))
    assert(pp.getSeq[Int](2).isEmpty)
    assert(pp.getSeq[Int](3) == Seq(1, 2, 3) && pp.getSeq[Int](4) == Seq(0, 1, 2))
    // map_extract returns a value LIST, [] when absent (no ANSI
    // element_at error on the missing-key path) — DuckDB 1.0 pinned
    val me = gw.sql(
      "SELECT map_extract(MAP {'k': 7}, 'k') AS hit, map_extract(MAP {'k': 7}, 'z') AS miss")
      .collect().head
    assert(me.getSeq[Int](0) == Seq(7))
    assert(me.getSeq[Int](1).isEmpty)
    // contains() dispatches on lists and maps, string form stays native
    val ct = gw.sql(
      "SELECT contains([1,2], 2) AS l, contains(MAP {'k': 1}, 'k') AS m, contains('abc', 'b') AS s")
      .collect().head
    assert(ct.getBoolean(0) && ct.getBoolean(1) && ct.getBoolean(2))
  }

  test("round-8: CHECKPOINT succeeds as a read-only no-op, like DuckDB") {
    // DuckDB 1.0 on a read_only database RUNS CHECKPOINT (empty
    // `Success BOOLEAN` relation — nothing to flush); rejecting it was
    // a divergence (probe batch 5 residual)
    for (stmt <- Seq("CHECKPOINT", "FORCE CHECKPOINT", "CHECKPOINT;")) {
      val df = gw.sql(stmt)
      assert(df.columns.toSeq == Seq("Success"))
      assert(df.collect().isEmpty)
    }
  }

  test("round-8: batch-13 — tilde operators, NOCASE, zero divisors, blob text") {
    def one(q: String) = gw.sql(q).collect().head
    // postgres-operator spellings DuckDB ships: ~~* ILIKE, ~~~ GLOB
    assert(one("SELECT 'Apple' ~~* '%app%' AS ok").getBoolean(0))
    assert(one("SELECT 'Apple' !~~* '%zzz%' AS ok").getBoolean(0))
    assert(one("SELECT 'abc' ~~~ 'a*' AS ok").getBoolean(0))
    // COLLATE NOCASE → Spark UTF8_LCASE (both case-insensitive)
    assert(one("SELECT 'Apple' COLLATE NOCASE = 'apple' AS ok").getBoolean(0))
    // DuckDB zero-divisor NULL (even under strict/ANSI semantics):
    // /, //, % all NULL — never DIVIDE_BY_ZERO
    assert(one("SELECT 1.0/0.0 IS NULL AS ok").getBoolean(0))
    assert(one("SELECT 7//0 IS NULL AS ok").getBoolean(0))
    assert(one("SELECT 7%0 IS NULL AS ok").getBoolean(0))
    assert(one("SELECT 7//2 AS q").getLong(0) == 3L)
    // BLOB→VARCHAR escape rendering (DuckDB: printable literal except
    // \ and ', others \xHH uppercase)
    assert(one("SELECT CAST(from_hex('616263ff') AS VARCHAR) AS s")
      .getString(0) == "abc\\xFF")
    assert(one("SELECT CAST(from_hex('5C27200A') AS VARCHAR) AS s")
      .getString(0) == "\\x5C\\x27 \\x0A")
    // full day/month names (Spark builtins abbreviate — value divergence)
    assert(one("SELECT dayname(DATE '2024-06-01') AS d").getString(0) == "Saturday")
    assert(one("SELECT monthname(DATE '2024-06-01') AS m").getString(0) == "June")
    // julian: DuckDB pins midnight to N.0 and carries time-of-day
    assert(one("SELECT julian(DATE '2000-01-01') AS j").getDouble(0) == 2451545.0)
    assert(one("SELECT julian(TIMESTAMP '2024-01-01 18:00:00') AS j")
      .getDouble(0) == 2460311.75)
    // string-polymorphic slices + the to_* interval tail
    assert(one("SELECT array_slice('hello', 2, 4) AS s").getString(0) == "ell")
    assert(one("SELECT list_slice('hello', 2, 4) AS s").getString(0) == "ell")
    assert(one("SELECT CAST(to_centuries(2) AS VARCHAR) AS i")
      .getString(0).contains("200 years"))
  }

  test("round-8: batch-14 — regex semantics, raw literals, ordered aggs, strftime tail") {
    def one(q: String) = gw.sql(q).collect().head
    // RAW string literals (standard SQL / DuckDB): '\d' keeps its
    // backslash — before this, every client regex with \d silently
    // degraded (regexp_extract matched nothing)
    assert(one("SELECT regexp_extract('ab12', '([a-z]+)(\\d+)', 2) AS g")
      .getString(0) == "12")
    assert(one("SELECT length('\\n') AS n").getLong(0) == 2L)
    // e'…' strings are where escapes live (dialect-decoded)
    assert(one("SELECT length(e'\\n') AS n").getLong(0) == 1L)
    assert(one("SELECT e'a\\x41' AS s").getString(0) == "aA")
    // regexp_replace: DuckDB replaces FIRST match unless 'g'
    assert(one("SELECT regexp_replace('aaa', 'a', 'b') AS s").getString(0) == "baa")
    assert(one("SELECT regexp_replace('aaa', 'a', 'b', 'g') AS s").getString(0) == "bbb")
    // RE2 \1 backrefs in the replacement (Java spells them $1)
    assert(one("SELECT regexp_replace('ab', '(a)(b)', '\\2\\1') AS s")
      .getString(0) == "ba")
    assert(one("SELECT regexp_matches('ABC', 'abc', 'i') AS ok").getBoolean(0))
    // named-group extract returns a struct keyed by the name list
    val ns = one("SELECT regexp_extract('2024-06', '(?P<y>\\d+)-(?P<m>\\d+)', ['y','m']) AS s")
      .getStruct(0)
    assert(ns.getString(0) == "2024" && ns.getString(1) == "06")
    // ordered aggregate forms
    assert(one("SELECT any_value(x ORDER BY x) AS a FROM (VALUES (3),(1)) t(x)")
      .getInt(0) == 1)
    // format positional {n} (0-based) placeholders
    assert(one("SELECT format('{1}{0}', 'a', 'b') AS s").getString(0) == "ba")
    // strftime week-based tail — C semantics, verified against DuckDB
    assert(one(
      "SELECT strftime(TIMESTAMP '2024-06-01 10:20:30', '%j|%W|%U|%u|%w|%y|%G|%V|%-d') AS s")
      .getString(0) == "153|22|21|6|6|24|2024|22|1")
    // polymorphic unnest: struct → one column per field, alias ignored
    val us = gw.sql("SELECT unnest({'a': 1, 'b': 2})").collect().head
    assert(us.getInt(0) == 1 && us.getInt(1) == 2)
    assert(one("SELECT unnest([{'a':7}], recursive := true) AS u").getInt(0) == 7)
    // range over DATE bounds: stop-exclusive timestamps
    assert(one("SELECT size(range(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY)) AS n")
      .getInt(0) == 3)
  }

  test("round-8: interval/date arithmetic forms match DuckDB") {
    def one(q: String) = gw.sql(q).collect().head
    // interval→VARCHAR renders DuckDB's wording
    assert(one("SELECT CAST(INTERVAL 90 MINUTE AS VARCHAR) AS i")
      .getString(0) == "01:30:00")
    assert(one("SELECT CAST((INTERVAL 1 YEAR + INTERVAL 2 MONTH) AS VARCHAR) AS i")
      .getString(0) == "1 year 2 months")
    assert(one("SELECT CAST((TIMESTAMP '2024-01-03 00:00:00' - TIMESTAMP '2024-01-01 12:30:00') AS VARCHAR) AS i")
      .getString(0) == "1 day 11:30:00")
    assert(one("SELECT CAST(-INTERVAL 90 MINUTE AS VARCHAR) AS i")
      .getString(0) == "-01:30:00")
    // DATE − DATE is BIGINT days; DATE + INTERVAL widens to TIMESTAMP
    assert(one("SELECT (DATE '2024-03-05' - DATE '2000-02-29') AS d")
      .getLong(0) == 8771L)
    assert(one("SELECT CAST((DATE '2024-01-31' + INTERVAL '1 month') AS VARCHAR) AS t")
      .getString(0) == "2024-02-29 00:00:00")
    // postgres-style constructors DuckDB accepts
    assert(one("SELECT ARRAY[1, 2, 3] AS a").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT ARRAY[ARRAY[1], ARRAY[2, 3]] AS a")
      .getSeq[scala.collection.Seq[Int]](0).map(_.toSeq) == Seq(Seq(1), Seq(2, 3)))
    // quantile_disc keeps the element type (probe batch 16)
    assert(one("SELECT quantile_disc(x, 0.5) AS q FROM (VALUES (1),(2),(3)) t(x)")
      .getInt(0) == 2)
  }

  test("round-9: advice fixes — coarse date_trunc, null-skipping any_value, EXCLUDE COUNT type") {
    def one(q: String) = gw.sql(q).collect().head
    // date_trunc decade/century/millennium: DuckDB 1.0 floors the year
    // by simple modulo (century of 2000-06 is 2000-01-01, NOT the
    // Postgres year-1 convention) and answers DATE; pre-r9 these parts
    // routed through TruncTimestamp and silently returned NULL
    assert(one("SELECT CAST(date_trunc('decade', DATE '1999-12-31') AS VARCHAR) AS d")
      .getString(0) == "1990-01-01")
    assert(one("SELECT CAST(date_trunc('century', TIMESTAMP '2020-06-15 10:11:12') AS VARCHAR) AS d")
      .getString(0) == "2000-01-01")
    assert(one("SELECT CAST(date_trunc('millennium', DATE '1850-03-04') AS VARCHAR) AS d")
      .getString(0) == "1000-01-01")
    assert(one("SELECT CAST(date_trunc('decade', TIMESTAMP '2001-01-01 00:00:01') AS VARCHAR) AS d")
      .getString(0) == "2000-01-01")
    // any_value(x ORDER BY y) skips NULL values (first NON-NULL in
    // order, DuckDB-pinned) — min_by alone would return the NULL at the
    // extreme key
    assert(one("SELECT any_value(x ORDER BY y) AS a FROM (VALUES (NULL,1),(5,2)) t(x,y)")
      .getInt(0) == 5)
    assert(one("SELECT any_value(x ORDER BY y DESC) AS a FROM (VALUES (7,1),(NULL,2)) t(x,y)")
      .getInt(0) == 7)
    // EXCLUDE-frame COUNT answers BIGINT like the native aggregate
    val cr = gw.sql(
      """SELECT count(x) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING
        |AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS c
        |FROM (VALUES (1,1),(2,NULL),(3,3)) t(k,x) ORDER BY k""".stripMargin)
    assert(cr.schema.head.dataType == org.apache.spark.sql.types.LongType)
    assert(cr.collect().map(_.getLong(0)).toSeq == Seq(0L, 2L, 0L))
  }

  test("round-11 ADVICE batch: strptime struct-tm semantics, millisecond, json scalars, current_query") {
    def one(q: String) = gw.sql(q).collect().head
    def v(q: String) = one(s"SELECT CAST(($q) AS VARCHAR) AS v").getString(0)
    // strptime am/pm + fractions no longer hit JDK "Conflict found"
    // (ADVICE r10 high; every value below pinned from DuckDB 1.0)
    assert(v("strptime('03:15 PM', '%I:%M %p')") == "1900-01-01 15:15:00")
    assert(v("strptime('2024-01-02 03:04:05.123456', '%Y-%m-%d %H:%M:%S.%f')")
      == "2024-01-02 03:04:05.123456")
    assert(v("try_strptime('11:30 AM', '%I:%M %p')") == "1900-01-01 11:30:00")
    // C struct-tm: %j and weekday parse but are IGNORED
    assert(v("strptime('2023-100', '%Y-%j')") == "2023-01-01 00:00:00")
    assert(v("strptime('Mon 2023-01-03', '%a %Y-%m-%d')") == "2023-01-03 00:00:00")
    // %y pivots at 69; 12 AM/PM; bare %p; %z shifts to UTC
    assert(v("strptime('99', '%y')") == "1999-01-01 00:00:00")
    assert(v("strptime('68', '%y')") == "2068-01-01 00:00:00")
    assert(v("strptime('69', '%y')") == "1969-01-01 00:00:00")
    assert(v("strptime('12:05 AM', '%I:%M %p')") == "1900-01-01 00:05:00")
    assert(v("strptime('12:05 PM', '%I:%M %p')") == "1900-01-01 12:05:00")
    assert(v("strptime('PM', '%p')") == "1900-01-01 12:00:00")
    assert(v("strptime('2023-01-01 05:00:00+0230', '%Y-%m-%d %H:%M:%S%z')")
      == "2023-01-01 02:30:00")
    // range errors stay loud, try_ form NULLs
    intercept[Exception](one("SELECT strptime('13', '%m') AS v"))
    assert(one("SELECT try_strptime('13', '%m') IS NULL AS v").getBoolean(0))
    // millisecond(): truncated BIGINT, not a fractional DOUBLE (ADVICE medium)
    val ms = gw.sql(
      "SELECT millisecond(TIMESTAMP '2024-01-01 00:00:44.123456') AS v")
    assert(ms.schema.head.dataType == org.apache.spark.sql.types.LongType)
    assert(ms.collect().head.getLong(0) == 44123L)
    // json(scalar) keeps the canon path (to_json rejects scalars)
    assert(one("SELECT json(3) AS v").getString(0) == "3")
    assert(one("SELECT json(1.5) AS v").getString(0) == "1.5")
    assert(one("SELECT json('[1, 2]') AS v").getString(0) == "[1,2]")
    // current_query() reports the ORIGINAL text, pre variable expansion
    gw.sql("SET VARIABLE r11q = 42")
    assert(one("SELECT getvariable('r11q') AS a, current_query() AS v")
      .getString(1) == "SELECT getvariable('r11q') AS a, current_query() AS v")
    gw.sql("RESET VARIABLE r11q")
  }

  test("round-12: window FILTER collect path × EXCLUDE frames × named windows (fuzz holes pinned)") {
    // the r12 dedicated 500-case sweep found two parse-error classes:
    // (a) a named WINDOW whose def carries EXCLUDE/GROUPS (the
    // structural rewrites couldn't see the spec behind the name — now
    // inlined by rewriteNamedWindows), and (b) EXCLUDE composed with
    // the collect-over-frame FILTER fold (now stripped and applied
    // order-preservingly inside the fold). Values pinned against
    // DuckDB 1.0 on a 5-row fixture:
    //   rows (g=1, v=1..5, s='a'..'e'), ORDER BY v,
    //   frame ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW
    //   pred: v % 2 = 0 (b, d pass)
    val r = gw.sql(
      """SELECT v,
        |  array_agg(s) FILTER (WHERE v % 2 = 0) OVER w AS aa,
        |  any_value(s) FILTER (WHERE v % 2 = 0) OVER w AS av,
        |  count(*) FILTER (WHERE v % 2 = 0) OVER w AS c
        |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')) t(v, s)
        |WINDOW w AS (ORDER BY v ASC
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
        |ORDER BY v""".stripMargin).collect()
    def aa(i: Int) = Option(r(i).getSeq[String](1)).getOrElse(Seq())
    // frames minus current row: v=1 sees {b} pass; v=2 sees {} (b is
    // excluded as the current row); v=3 sees {b,d}; v=4 sees {}; v=5 sees {d}
    assert(aa(0) == Seq("b") && aa(1) == Seq() && aa(2) == Seq("b", "d") &&
      aa(3) == Seq() && aa(4) == Seq("d"))
    assert(r(2).getString(2) == "b") // any_value: FIRST passing non-null, order preserved
    assert(r.map(_.getLong(3)).toSeq == Seq(1L, 0L, 2L, 0L, 1L))
    // EXCLUDE TIES keeps the current row but drops its peers; tied key
    // (v % 2) makes peer groups real (RANGE UNBOUNDED..CURRENT ROW is
    // peer-aligned, so this is the GROUPS-equivalent shape DuckDB 1.0
    // can pin — 1.0 has no GROUPS mode): [3,1,3,1,2]
    val t = gw.sql(
      """SELECT v,
        |  coalesce(len(list(s) FILTER (WHERE v < 5) OVER w), -1) AS c
        |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')) t(v, s)
        |WINDOW w AS (ORDER BY (v % 2) ASC
        |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES)
        |ORDER BY v""".stripMargin).collect()
    // peer groups: evens {2,4} first, odds {1,3,5} second. For v=2:
    // frame = its own group minus peers + itself = {2} → 1 passing;
    // v=4 same → 1. For odd v: frame = evens + own group minus peers +
    // self = {2,4,v} → v=5 fails pred → c=2; v=1,3 → 3.
    assert(t.map(_.getLong(1)).toSeq == Seq(3L, 1L, 3L, 1L, 2L))
    // r14: FILTER × GROUPS × EXCLUDE now ANSWERS (was the last
    // loud-error window composition; GroupsExcludeSpec sweeps it) —
    // groups k=0 {v=2}, k=1 {v=1}; UNBOUNDED PRECEDING..CURRENT ROW in
    // group units; TIES keeps the own row: v=2 → ['b'], v=1 → ['b','a']
    val tg = gw.sql(
      """SELECT v, list(s) FILTER (WHERE v < 5) OVER (ORDER BY (v % 2)
        |  GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS c
        |FROM (VALUES (1, 'a'), (2, 'b')) t(v, s)
        |ORDER BY v""".stripMargin).collect()
    assert(tg.map(_.getSeq[String](1).toList).toSeq ==
      Seq(List("b", "a"), List("b")))
  }

  test("round-12: arg_min/arg_max(a, v, n) OVER w — window hoisted onto the top-n aggregate") {
    // DuckDB >= 1.1 window form (no 1.0 oracle — spec-pinned like the
    // non-window top-n family): the registry expands the call to
    // transform(BoundedTopNAgg(...), λ), and WindowedTopNArg hoists the
    // OVER onto the aggregate root (the r11 residual error shape)
    val r = gw.sql(
      """SELECT g, v,
        |  arg_min(s, v, 2) OVER (PARTITION BY g) AS am,
        |  arg_max(s, v, 2) OVER (PARTITION BY g) AS ax,
        |  min(v, 2) OVER (PARTITION BY g) AS mn
        |FROM (VALUES (1, 3, 'c'), (1, 1, 'a'), (1, 2, 'b'), (2, 9, 'z')) t(g, v, s)
        |ORDER BY g, v""".stripMargin).collect()
    assert(r(0).getSeq[String](2) == Seq("a", "b")) // g=1: s at the 2 smallest v
    assert(r(0).getSeq[String](3) == Seq("c", "b")) // g=1: s at the 2 largest v
    assert(r(0).getSeq[Int](4) == Seq(1, 2))
    assert(r(3).getSeq[String](2) == Seq("z"))
    // differential vs the collect+sort spelling of the SAME named
    // window (v unique, so ordering ties cannot differ)
    val d = gw.sql(
      """SELECT
        |  arg_min(s, v, 3) OVER w AS got,
        |  list_transform(list_slice(list_sort(list(struct_pack(k := v, x := s)) OVER w), 1, 3),
        |    e -> e.x) AS want
        |FROM (SELECT o_orderkey AS v, o_orderkey % 7 AS g, o_orderpriority AS s
        |      FROM orders LIMIT 200)
        |WINDOW w AS (PARTITION BY g)""".stripMargin).collect()
    assert(d.nonEmpty)
    d.foreach(row => assert(row.getSeq[String](0) == row.getSeq[String](1)))
    // moving frame: the per-frame aggregate evaluation path
    val f = gw.sql(
      """SELECT arg_max(s, v, 2) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS am
        |FROM (VALUES (1, 1, 'a'), (1, 2, 'b'), (1, 3, 'c')) t(g, v, s)
        |ORDER BY v""".stripMargin).collect()
    assert(f.map(_.getSeq[String](0)).toSeq ==
      Seq(Seq("a"), Seq("b", "a"), Seq("c", "b")))
  }

  test("json_group_structure: merged structure aggregate, DuckDB 1.0 pinned") {
    def one(q: String): Any = gw.sql(q).collect()(0).get(0)
    // key union in first-seen order, numeric widening, mismatch => JSON
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('{"a":1}'),('{"b":"x"}')) t(j)""") == """{"a":"UBIGINT","b":"VARCHAR"}""")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('{"a":1}'),('{"a":"x"}')) t(j)""") == """{"a":"JSON"}""")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('-1'),('18446744073709551615')) t(j)""") == "\"BIGINT\"")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('1'),('1.5')) t(j)""") == "\"DOUBLE\"")
    // the NULL type (json null AND sql NULL rows) absorbs into anything,
    // containers included; a single-NULL group answers "NULL", only a
    // ZERO-row group answers SQL NULL
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('null'),('{"a":1}')) t(j)""") == """{"a":"UBIGINT"}""")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES (NULL),('[1]')) t(j)""") == """["UBIGINT"]""")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES (CAST(NULL AS VARCHAR))) t(j)""") == "\"NULL\"")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('1')) t(j) WHERE FALSE""") == null)
    // object vs array => JSON; empty array carries the NULL element type
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('{"a":1}'),('[1]')) t(j)""") == "\"JSON\"")
    assert(one("""SELECT json_group_structure(j::JSON)
      FROM (VALUES ('[]'),('[1]')) t(j)""") == """["UBIGINT"]""")
    // json_structure shares the fixed unify: null absorbs into containers
    assert(one("""SELECT json_structure('[null,{"a":1}]')""") == """[{"a":"UBIGINT"}]""")
  }

  test("::JSON and CAST(AS JSON): validating identity, original text kept") {
    def one(q: String): Any = gw.sql(q).collect()(0).get(0)
    // no canonicalization (json() minifies; the CAST does not)
    assert(one("SELECT ' {\"b\" : 2, \"a\":1} '::JSON") == """ {"b" : 2, "a":1} """)
    // malformed: loud error for the cast, NULL for TRY_CAST
    assertThrows[Exception] { gw.sql("SELECT 'nope'::JSON").collect() }
    assert(one("SELECT TRY_CAST('nope' AS JSON)") == null)
    // LHS classes: call group, parenthesized expr w/ literal inside,
    // dotted column, non-string via the json() route
    assert(one("SELECT upper('{\"a\":1}')::JSON") == """{"A":1}""")
    assert(one("SELECT ('{\"a\":' || '1}')::JSON") == """{"a":1}""")
    assert(one("SELECT CAST(1.5 AS JSON)") == "1.5")
    assert(one("SELECT e.props::JSON FROM events e WHERE e.event_id = 1") ==
      one("SELECT props FROM events WHERE event_id = 1"))
    // CASE … END::JSON is ambiguous for the backtracker: stays a loud
    // native error (parenthesize instead) rather than wrapping END
    assertThrows[Exception] {
      gw.sql("SELECT CASE WHEN 1=1 THEN '1' END::JSON").collect() }
    assert(one("SELECT (CASE WHEN 1=1 THEN '1' END)::JSON") == "1")
  }

  test("row_to_json of anonymous ROW: empty field names, nested too") {
    def one(q: String): Any = gw.sql(q).collect()(0).get(0)
    assert(one("SELECT row_to_json(ROW(1,'x'))") == """{"":1,"":"x"}""")
    assert(one("SELECT json(ROW(1,ROW(2,'y')))") == """{"":1,"":{"":2,"":"y"}}""")
  }

  // ---- comments, $$ and e'…' strings in the pre-parse text ---------
  // The gateway's own scans (placeholders, UNION BY NAME, recursive
  // CTEs) skip comments like literals; answers pinned against DuckDB 1.0.

  test("PREPARE: a ? inside a -- comment is not a placeholder") {
    gw.sql("PREPARE pcomment AS SELECT ? AS a -- why?").collect()
    try assert(gw.sql("EXECUTE pcomment(7)").collect().map(_.get(0).toString)
      .toSeq == Seq("7"))
    finally gw.sql("DEALLOCATE pcomment").collect()
  }

  test("WITH RECURSIVE … UNION: an apostrophe in a comment keeps the fixpoint path") {
    val rows = gw.sql(
      """WITH RECURSIVE r(n) AS (
        |  SELECT 1 -- don't stop at the seed
        |  UNION
        |  SELECT n + 1 FROM r WHERE n < 3)
        |SELECT n FROM r ORDER BY n""".stripMargin).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("UNION BY NAME: an apostrophe in a comment does not hide the split") {
    val rows = gw.sql(
      "SELECT 1 AS a -- it's\nUNION BY NAME SELECT 2 AS a ORDER BY a").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("WITH RECURSIVE … UNION: $$…$$ strings are folded before the CTE split") {
    // the $$ body holds a quote and a paren, and the comment an
    // unbalanced paren: the split needs both folding and comment skipping
    val rows = gw.sql(
      """WITH RECURSIVE r(n, s) AS (
        |  SELECT 1, $$it's (x)$$ -- seed row (n = 1
        |  UNION
        |  SELECT n + 1, s || '!' FROM r WHERE n < 3)
        |SELECT n, s FROM r ORDER BY n""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "it's (x)"), (2, "it's (x)!"), (3, "it's (x)!!")))
  }

  test("WITH RECURSIVE … UNION: e'…' strings are folded before the CTE split") {
    // \' ends no literal inside an e-string; its unbalanced paren must
    // not reach the split
    val rows = gw.sql(
      """WITH RECURSIVE r(n, s) AS (
        |  SELECT 1, e'it\'s (x'
        |  UNION
        |  SELECT n + 1, s FROM r WHERE n < 3)
        |SELECT n, s FROM r ORDER BY n""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "it's (x"), (2, "it's (x"), (3, "it's (x")))
  }

  // ---- WITH RECURSIVE from the parse tree (answers from DuckDB 1.0) ----

  test("WITH RECURSIVE … UNION: a column named like its CTE does not hide the recursion") {
    val rows = gw.sql(
      """WITH RECURSIVE s AS (SELECT 1 AS s),
        |r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3)
        |SELECT n FROM r ORDER BY n""".stripMargin).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("WITH RECURSIVE … UNION: CTE names stay inside the statement") {
    // the recursive CTE shadows the fixture table `region` (5 rows) for
    // its own statement only: a concurrent statement on the same
    // gateway reads the table throughout
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val polls = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val poller = new Thread(() =>
      do {
        polls.add(try gw.sql("SELECT count(*) FROM region").collect()(0).getLong(0)
          catch { case e: Exception => e })
      } while (!done.get))
    poller.start()
    val n =
      try gw.sql(
        """WITH RECURSIVE region(k) AS (
          |  SELECT 0 UNION SELECT k + 1 FROM region WHERE k < 150)
          |SELECT count(*) FROM region""".stripMargin).collect()(0).getLong(0)
      finally { done.set(true); poller.join() }
    assert(n == 151L)
    import scala.jdk.CollectionConverters._
    val seen = polls.asScala.toSeq
    assert(seen.nonEmpty && seen.forall(_ == 5L), seen.distinct)
  }

  test("WITH RECURSIVE … UNION: the step reads each new row once, whatever its fan-out") {
    // closure of a 20-node clique: 400 pairs, and each step multiplies
    // its input by 20. One step per round reads the 20 seed rows, then
    // the 380 new ones; four unrolled steps would read 168,420 rows in
    // the first round alone (dd_components read billions that way)
    val read = spark.sparkContext.longAccumulator("step input rows")
    gw.session.udf.register("graft_test_counted",
      org.apache.spark.sql.functions.udf { (b: Long) => read.add(1); b }
        .asNondeterministic())
    val n = gw.sql(
      """WITH RECURSIVE n(v) AS (SELECT unnest(generate_series(0, 19))),
        |e(src, dst) AS (SELECT a.v, b.v FROM n a, n b),
        |r(a, b) AS (
        |  SELECT v, v FROM n
        |  UNION
        |  SELECT r.a, e.dst
        |  FROM (SELECT a, graft_test_counted(b) AS b FROM r) r
        |  JOIN e ON r.b = e.src)
        |SELECT count(*) FROM r""".stripMargin).collect()(0).getLong(0)
    assert(n == 400L)
    assert(read.value <= 800L, s"the step read ${read.value} rows")
  }

  test("read-only: a write behind a WITH clause is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ro")
    val out = dir.resolve("out")
    try {
      for (stmt <- Seq(
          s"WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '$out' " +
            "USING parquet SELECT * FROM x",
          "WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3) " +
            s"INSERT OVERWRITE DIRECTORY '$out' USING parquet SELECT * FROM r");
          run <- Seq[String => Any](gw.sql(_).collect(), gw.session.sql(_).collect())) {
        val e = intercept[GatewayException](run(stmt))
        assert(e.getMessage.contains("read-only"), e.getMessage)
        assert(!java.nio.file.Files.exists(out), stmt)
      }
    } finally dir.toFile.delete()
  }

  test("LIMIT n%: only a LIMIT in code is a percentage") {
    assert(gw.sql("SELECT * FROM range(10) -- LIMIT 50%").collect().length == 10)
    assert(gw.sql("SELECT * FROM range(10) LIMIT 50%").collect().length == 5)
    assert(gw.sql("SELECT * FROM range(10) LIMIT 50% -- note").collect().length == 5)
    // over a recursive body, native (UNION ALL) or fixpoint (UNION)
    def ints(q: String) = gw.sql(q).collect().map(_.getInt(0)).toSeq
    assert(ints("WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t " +
      "WHERE n < 10) SELECT n FROM t ORDER BY n LIMIT 50%") == Seq(1, 2, 3, 4, 5))
    assert(ints("WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n + 1 FROM t " +
      "WHERE n < 10) SELECT n FROM t ORDER BY n LIMIT 30%") == Seq(1, 2, 3))
  }

  test("a leading comment or parenthesis does not hide the statement's first word") {
    def ints(q: String) = gw.sql(q).collect().map(_.getInt(0)).toSeq
    assert(ints("/* tag */ SELECT 1 AS a") == Seq(1))
    assert(ints("-- lead\nSELECT 1 AS a") == Seq(1))
    assert(ints("(SELECT 1 AS a) UNION ALL (SELECT 2 AS a)").sorted == Seq(1, 2))
    // the engine reports its own version: only that it runs is pinned
    assert(gw.sql("/* c */ PRAGMA version").collect().length == 1)
    // and the read-only gate still sees a write behind a comment
    assertThrows[GatewayException](gw.sql("/* c */ DROP TABLE nation"))
  }

  test("file-read routes skip FROM and JOIN inside comments") {
    def ints(q: String) = gw.sql(q).collect().map(_.getInt(0)).toSeq
    assert(ints("SELECT 1 AS a -- FROM 'missing.parquet'") == Seq(1))
    assert(ints("SELECT 1 AS a /* JOIN read_csv('missing.csv') */") == Seq(1))
  }

  test("operands and bracket depth follow one scanner (DuckDB 1.0 pinned)") {
    def one(q: String) = gw.sql(q).collect().head
    // a bracket inside a comment is not part of the operand's depth
    assert(one("SELECT 2 ** (1 /* ) */ + 1) AS v").getDouble(0) == 4.0)
    assert(one("SELECT @(-3 /* ) */) AS v").getInt(0) == 3)
    assert(one("SELECT 3 /* ( */ ! AS v").get(0).toString == "6")
    // a macro argument holding a list literal is one argument
    gw.sql("CREATE MACRO scan_f(a, b) AS len(a) + b")
    assert(one("SELECT scan_f([1,2], 3) AS v").get(0).toString == "5")
    // a call or a parenthesized group is a JSON-arrow operand
    assert(one("SELECT json_object('k', 'x') ->> 'k' AS v").getString(0) == "x")
    assert(one("""SELECT ('{"k": 1}') ->> 'k' AS v""").getString(0) == "1")
    // `AS BIT` inside a comment is not the cast's type; TRY_CAST to BIT
    // answers NULL on bad input
    assert(one("SELECT CAST(3 AS INT -- AS BIT\n) AS v").getInt(0) == 3)
    assert(one("SELECT TRY_CAST('2' AS BIT) AS v").isNullAt(0))
  }

  test("double-quoted names are identifiers, not strings (DuckDB 1.0 pinned)") {
    // a fresh gateway: the flag needs ANSI mode, which an earlier test
    // turns off on the shared one
    val g = Gateway.open(spark, sf)
    def one(q: String) = g.sql(q).collect().head
    val a3 = "(SELECT 3 AS a) t"
    assert(one(s"SELECT \"a\" FROM $a3").getInt(0) == 3)
    assert(one("SELECT n_name FROM nation WHERE \"n_nationkey\" = 3")
      .getString(0) == "NATION_3")
    intercept[Exception](g.sql("SELECT \"hello\"").collect())
    // a quoted name is an operand like any other: 1-based subscript,
    // power (not xor), factorial, JSON cast, JSON arrow
    assert(one("SELECT \"l\"[1] FROM (SELECT [5,6] AS l) t").getInt(0) == 5)
    assert(one(s"SELECT \"a\" ^ 2 FROM $a3").getDouble(0) == 9.0)
    assert(one(s"SELECT \"a\" ** 2 FROM $a3").getDouble(0) == 9.0)
    assert(one(s"SELECT t.\"a\" ** 2 FROM $a3").getDouble(0) == 9.0)
    assert(one(s"SELECT \"a\"! FROM $a3").get(0).toString == "6")
    assert(one(s"SELECT \"a\"::JSON FROM $a3").get(0).toString == "3")
    assert(one("""SELECT "j" ->> 'k' FROM (SELECT '{"k": "x"}' AS j) t""")
      .getString(0) == "x")
    assert(one("SELECT \"x\"\"y\" FROM (SELECT 1 AS \"x\"\"y\") t").getInt(0) == 1)
  }

  // ---- table functions resolve in Catalyst (DuckDB 1.0 pinned) -------

  /** A fresh directory holding the given files. */
  private def fileDir(files: (String, String)*): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tvf")
    files.foreach { case (n, body) =>
      java.nio.file.Files.writeString(dir.resolve(n), body)
    }
    dir
  }

  test("catalog listings name only the user's relations, also after file reads") {
    val g = Gateway.open(spark, sf)
    val server = graft.flight.FlightServer.start(g, 0)
    val client = new graft.flight.FlightClientLite("localhost", server.boundPort)
    try {
      def names(q: String) = g.sql(q).collect().map(_.getString(0)).toSeq.sorted
      // an unfiltered Flight SQL CommandGetTables
      val getTables = graft.flight.FlightProto.AnyMsg(
        "type.googleapis.com/arrow.flight.protocol.sql.CommandGetTables",
        Array.emptyByteArray).toBytes
      def listings = Seq(
        names("SELECT table_name FROM duckdb_tables()"),
        names("SELECT table_name FROM information_schema.tables"),
        names("SHOW TABLES"),
        client.doGet(getTables).rows.map(_(2).toString).sorted)
      val user = graft.engine.Tables.names.sorted
      assert(listings.forall(_ == user), listings)
      val dir = fileDir("a.csv" -> "x\n1\n")
      g.sql(s"SELECT count(*) FROM read_parquet('$sf/nation.parquet')").collect()
      g.sql(s"SELECT count(*) FROM '$sf/region.parquet'").collect()
      g.sql(s"SELECT count(*) FROM glob('$dir/*.csv')").collect()
      assert(listings.forall(_ == user), listings)
    } finally { client.close(); server.stop() }
  }

  test("file reads see the files as they are now (DuckDB 1.0: 3, 5, 2)") {
    val dir = fileDir("a.csv" -> "x\n1\n")
    def count(q: String) = gw.sql(q).collect().head.getLong(0)
    val reads = Seq(s"SELECT count(*) FROM '$dir/a.csv'",
      s"SELECT count(*) FROM read_csv('$dir/*.csv')",
      s"SELECT count(*) FROM glob('$dir/*.csv')")
    assert(reads.map(count) == Seq(1L, 1L, 1L))
    java.nio.file.Files.writeString(dir.resolve("a.csv"), "x\n1\n2\n3\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"), "x\n4\n5\n")
    assert(reads.map(count) == Seq(3L, 5L, 2L))
  }

  test("table functions stand wherever a relation can (DuckDB 1.0)") {
    def strs(q: String) = gw.sql(q).collect().map(_.get(0).toString).toSeq
    assert(strs("SELECT t.name FROM region JOIN pragma_table_info('nation') t " +
      "ON t.cid = r_regionkey ORDER BY 1") == Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(strs("WITH c AS (SELECT * FROM pragma_table_info('region')) " +
      "SELECT count(*) FROM c") == Seq("2"))
    assert(strs("SELECT (SELECT count(*) FROM duckdb_types() WHERE type_name = 'DATE')") ==
      Seq("1"))
    // the default relation name: the file stem for a bare path, the
    // function's name for a reader call; a user alias wins over both
    val dir = fileDir("a.csv" -> "x\n1\n")
    val path = s"'$dir/a.csv'"
    assert(strs(s"SELECT a.x FROM $path") == Seq("1"))
    assert(strs(s"SELECT read_csv.x FROM read_csv($path, header=true)") == Seq("1"))
    intercept[Exception](gw.sql(s"SELECT a.x FROM read_csv($path, header=true)").collect())
    assert(strs(s"SELECT t.x FROM $path t") == Seq("1"))
    assert(strs(s"SELECT t.x FROM read_csv($path) AS t") == Seq("1"))
    intercept[Exception](gw.sql(s"SELECT a.x FROM $path t").collect())
    intercept[Exception](gw.sql(s"SELECT read_csv.x FROM read_csv($path) t").collect())
    intercept[Exception](gw.sql("SELECT * FROM query_table(r_name)").collect())
  }

  test("the Thrift path (statements on gw.session) resolves the same table functions") {
    def count(q: String) = gw.session.sql(q).collect().head.getLong(0)
    assert(count(s"SELECT count(*) FROM read_parquet('$sf/nation.parquet')") == 25L)
    assert(count("SELECT count(*) FROM pragma_table_info('nation')") == 3L)
    assert(count(s"SELECT count(*) FROM glob('$sf/nation.parquet')") == 1L)
    assert(count("SELECT count(*) FROM repeat('x', 4)") == 4L)
    assert(count(s"SELECT count(*) FROM '$sf/region.parquet'") == 5L)
  }

  // ---- DuckDB statements lower in the parser (DuckDB 1.0 pinned) -----

  /** Statements that lower to a relation: they also stand as subqueries. */
  private val relationStatements = Seq("SHOW region", "DESCRIBE region",
    "DESC region", "SUMMARIZE region", "PRAGMA table_info('region')",
    "PRAGMA version", "PRAGMA show_tables", "PRAGMA database_list",
    "SHOW TABLES", "SHOW ALL TABLES",
    "UNPIVOT (SELECT r_regionkey, r_name, 'x' AS c FROM region) " +
      "ON r_name AS nm, c INTO NAME k VALUE v")
  /** The transaction and maintenance no-ops: statement start only. */
  private val noOpStatements = Seq("BEGIN TRANSACTION", "COMMIT", "ROLLBACK",
    "ABORT", "ANALYZE", "VACUUM", "CHECKPOINT", "FORCE CHECKPOINT;")

  test("lowered DuckDB statements answer the same on Flight, gw.sql, Thrift and as subqueries") {
    val g = Gateway.open(spark, sf)
    val server = graft.flight.FlightServer.start(g, 0)
    val client = new graft.flight.FlightClientLite("localhost", server.boundPort)
    // a list cell is a java.util.List from Arrow, a Seq from Spark
    def cell(v: Any): String = v match {
      case l: java.util.List[_] => cell(scala.jdk.CollectionConverters.ListHasAsScala(l).asScala)
      case l: scala.collection.Seq[_] => l.map(cell).mkString("[", ", ", "]")
      case v => String.valueOf(v)
    }
    def answer(columns: Seq[String], rows: Seq[Seq[Any]]) =
      (columns, rows.map(_.map(cell)).sortBy(_.mkString("|")))
    def local(df: org.apache.spark.sql.DataFrame) =
      answer(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
    try {
      (relationStatements ++ noOpStatements).foreach { q =>
        val expected = local(g.sql(q))
        val flight = client.doGetSql(q)
        withClue(q) {
          assert(local(g.session.sql(q)) == expected)
          assert(answer(flight.columns, flight.rows) == expected)
          if (relationStatements.contains(q))
            assert(local(g.session.sql(s"SELECT * FROM ($q)")) == expected)
          else assert(expected == ((Seq("Success"), Nil)))
        }
      }
    } finally { client.close(); server.stop() }
  }

  test("FROM (DESCRIBE | SUMMARIZE | SHOW TABLES | UNPIVOT …) answer DuckDB 1.0's layouts") {
    for (run <- Seq[String => org.apache.spark.sql.DataFrame](gw.sql, gw.session.sql)) {
      def rows(q: String) = run(q).collect().toSeq.map(_.toSeq.map(String.valueOf))
      assert(run("SELECT * FROM (DESCRIBE region)").columns.toSeq ==
        Seq("column_name", "column_type", "null", "key", "default", "extra"))
      assert(rows("SELECT * FROM (DESCRIBE region)") == Seq(
        Seq("r_regionkey", "INTEGER", "YES", "null", "null", "null"),
        Seq("r_name", "VARCHAR", "YES", "null", "null", "null")))
      assert(run("SELECT * FROM (SUMMARIZE region)").columns.toSeq == Seq("column_name",
        "column_type", "min", "max", "approx_unique", "avg", "std", "q25", "q50",
        "q75", "count", "null_percentage"))
      assert(rows("SELECT * FROM (SUMMARIZE region)") == Seq(
        Seq("r_regionkey", "INTEGER", "0", "4", "5", "2.0", "1.5811388300841898",
          "1", "2", "3", "5", "0.00"),
        Seq("r_name", "VARCHAR", "AFRICA", "MIDDLE EAST", "5", "null", "null",
          "null", "null", "null", "5", "0.00")))
      assert(run("SELECT * FROM (SHOW TABLES)").columns.toSeq == Seq("name"))
      assert(rows("SELECT name FROM (SHOW TABLES) WHERE name LIKE 'n%'") == Seq(Seq("nation")))
      // NULL cells dropped; kept columns, then NAME, then VALUE
      val up = run("SELECT * FROM (UNPIVOT (SELECT * FROM (VALUES (1, 10, NULL), " +
        "(2, NULL, 50)) t(id, jan, feb)) ON jan, feb INTO NAME m VALUE s) ORDER BY id, m")
      assert(up.columns.toSeq == Seq("id", "m", "s"))
      assert(up.collect().toSeq.map(_.toSeq.map(String.valueOf)) ==
        Seq(Seq("1", "jan", "10"), Seq("2", "feb", "50")))
      // an AS label, and an ORDER BY/LIMIT tail inside the subquery
      assert(rows("SELECT * FROM (UNPIVOT (SELECT r_regionkey, r_name, 'x' AS c " +
        "FROM region) ON r_name AS nm, c INTO NAME k VALUE v " +
        "ORDER BY r_regionkey DESC, k LIMIT 3)") == Seq(
        Seq("4", "c", "x"), Seq("4", "nm", "MIDDLE EAST"), Seq("3", "c", "x")))
    }
  }

  test("read-only: a lowered statement's first word admits no write") {
    // ANALYZE is a no-op; ANALYZE TABLE … COMPUTE STATISTICS writes
    // catalog statistics and stays refused on both paths
    for (run <- Seq[String => Any](gw.sql, gw.session.sql)) {
      val e = intercept[GatewayException](run("ANALYZE TABLE region COMPUTE STATISTICS"))
      assert(e.getMessage.contains("read-only"))
    }
  }

  // ---- per-statement fixed cost ---------------------------------------

  /** `f`'s result and the Spark jobs it started, counted by a listener. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftPlans.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.sql.GraftPlans.flushListenerBus(spark)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (columns, rows as strings, batch count) of an Arrow IPC stream,
    * decoded by Spark's own Arrow reader so each cell renders as in
    * `collect()`. */
  private def decode(chunks: Iterator[Array[Byte]]): (Seq[String], Seq[Seq[String]], Int) = {
    import org.apache.spark.sql.GraftArrow
    val all = chunks.toSeq
    val schema = GraftArrow.sparkSchemaFromIpc(all.head)
    val batches = all.tail.filterNot(java.util.Arrays.equals(_, GraftArrow.EOS))
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rows = GraftArrow.rowsFromBatches(batches.iterator, schema,
      gw.session.sessionState.conf.sessionLocalTimeZone).map { r =>
      toRow(r).asInstanceOf[org.apache.spark.sql.Row].toSeq.map(String.valueOf)
    }.toSeq
    (schema.fieldNames.toSeq, rows, batches.length)
  }

  private def strings(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))

  test("constant and catalog statements run no Spark job, with the same rows") {
    val extensions = "SELECT extension_name FROM duckdb_extensions() WHERE installed"
    // the point lookup and the LIMIT scan read one partition with no
    // shuffle, so GraftArrow runs that partition on the calling thread
    for (q <- Seq("SELECT 1 AS a", extensions, "PRAGMA version",
        "SELECT * FROM orders WHERE o_orderkey = 7",
        "SELECT * FROM part WHERE p_partkey >= 3 ORDER BY p_partkey LIMIT 5")) {
      val expected = (gw.sql(q).columns.toSeq, strings(gw.sql(q)))
      val ((columns, rows, _), jobs) = jobsOf(decode(gw.arrowStream(q)))
      withClue(q) { assert(((columns, rows), jobs) == ((expected, 0)) && rows.nonEmpty) }
    }
    // micro's nation⋈region aggregate shuffles: it keeps Spark's jobs
    val agg = "SELECT r_name, count(*) AS nations, max(n_nationkey) AS max_key " +
      "FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "WHERE n_nationkey >= 3 GROUP BY r_name ORDER BY r_name"
    val ((_, aggRows, _), aggJobs) = jobsOf(decode(gw.arrowStream(agg)))
    assert(aggRows == strings(gw.sql(agg)) && aggJobs >= 1)
    assert(strings(gw.sql("SELECT 1 AS a")) == Seq(Seq("1")))
    assert(strings(gw.sql(extensions)).nonEmpty)
    val server = graft.flight.FlightServer.start(gw, 0)
    val client = new graft.flight.FlightClientLite("localhost", server.boundPort)
    try {
      val (info, jobs) = jobsOf(client.doGet("CommandGetSqlInfo".getBytes("UTF-8")))
      assert(jobs == 0)
      assert(info.rows.map(_.map(String.valueOf)) == strings(gw.sqlInfo))
    } finally { client.close(); server.stop() }
  }

  test("arrowStream sizes batches from its argument and leaves the session conf alone") {
    val key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    gw.session.conf.set(key, "777")
    try {
      // a plan that runs inline (one partition, no shuffle), one that
      // runs as Spark jobs (GROUP BY shuffles) and a driver-resident one
      for ((q, jobs) <- Seq("SELECT r_regionkey FROM region" -> 0,
          "SELECT r_regionkey FROM region GROUP BY r_regionkey" -> 1,
          "SELECT * FROM VALUES (0), (1), (2), (3), (4) AS t(r_regionkey)" -> 0)) {
        val ((columns, rows, batches), ran) = jobsOf(decode(gw.arrowStream(q, 2)))
        withClue(q) {
          assert(gw.session.conf.get(key) == "777")
          assert(columns == Seq("r_regionkey") && rows.map(_.head.toInt).sorted == (0 to 4))
          assert(batches == 3 && (ran > 0) == (jobs > 0))
        }
      }
    } finally gw.session.conf.unset(key)
  }

  test("an inline run leaves no task context or Arrow memory behind, however it ends") {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.ArrowAllocation
    /** `end` leaves this thread without a TaskContext and the Arrow
      * allocator where it was. */
    def settled(end: => Unit): Unit = {
      val before = ArrowAllocation.bytes
      end
      assert(TaskContext.get() == null)
      assert(ArrowAllocation.bytes == before)
    }
    // drained
    val point = "SELECT * FROM orders WHERE o_orderkey = 7"
    gw.sql(point) // opens the gateway outside the count
    settled {
      val (_, jobs) = jobsOf(gw.arrowStream(point).foreach(_ => ()))
      assert(jobs == 0)
    }
    // closed after its first batch: the encoder's allocator is open then
    settled {
      val it = gw.arrowStream("SELECT * FROM orders", 2)
      it.next() // the schema
      it.next()
      assert(TaskContext.get() == null && ArrowAllocation.bytes > 0)
      it.asInstanceOf[AutoCloseable].close()
      // the rest of the partition is dropped; only the end marker is left
      assert(it.toSeq.map(_.toSeq) == Seq(org.apache.spark.sql.GraftArrow.EOS.toSeq))
    }
    // failed: ANSI casts 'F' to INT with an error (set here: an earlier
    // test may leave the shared session non-ANSI)
    val ansi = "spark.sql.ansi.enabled"
    val wasAnsi = gw.session.conf.getOption(ansi)
    gw.session.conf.set(ansi, "true")
    try settled {
      val e = intercept[Exception](
        gw.arrowStream("SELECT CAST(o_orderstatus AS INT) FROM orders").foreach(_ => ()))
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    } finally wasAnsi.fold(gw.session.conf.unset(ansi))(gw.session.conf.set(ansi, _))
  }

  test("SHOW ALL TABLES answers DuckDB 1.0's layout") {
    // read from duckdb 1.0.0 over the same parquet (CREATE VIEW per table)
    for (run <- Seq[String => org.apache.spark.sql.DataFrame](gw.sql, gw.session.sql)) {
      val df = run("SHOW ALL TABLES")
      assert(df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql) == Seq(
        "database" -> "STRING", "schema" -> "STRING", "name" -> "STRING",
        "column_names" -> "ARRAY<STRING>", "column_types" -> "ARRAY<STRING>",
        "temporary" -> "BOOLEAN"))
      val orders = df.collect().filter(_.getString(2) == "orders").map(_.toSeq)
      assert(orders.toSeq == Seq(Seq("memory", "main", "orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority"),
        Seq("BIGINT", "BIGINT", "VARCHAR", "DOUBLE", "TIMESTAMP", "VARCHAR"), false)))
      val names = df.collect().map(_.getString(2)).toSeq
      assert(names == names.sorted && names.contains("region"))
    }
  }
}
