package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Det, Q}

/** Aggregation operators — SURVEY.md §2.4 (A1–A15). The reference reaches
  * these by delegating SQL text to DuckDB (/root/reference/main.go:229);
  * here each is a declarative DataFrame plan so Catalyst plans
  * partial/final HashAggregate with map-side combine — the shape that
  * scales to 100 TB (shuffle carries only group states, not rows).
  */
object AggQueries {

  /** A1+A3: TPC-H Q1 pricing summary — the flagship end-to-end slice
    * (SURVEY.md §7.1). Exercises scan, filter pushdown, grouped agg with
    * partial aggregation, exact decimal sums, ordered output.
    */
  val q1Pricing: Q = Q(
    "q1_pricing",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.dsumSql("l_quantity")} AS sum_qty,
       |  ${Det.dsumSql("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       |  ${Det.davgSql("l_quantity")} AS avg_qty,
       |  ${Det.davgSql("l_extendedprice")} AS avg_price,
       |  ${Det.davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin
  ) { s =>
    val d = (c: String) => col(c).cast(DecimalType(18, 2))
    s.table("lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampNTZType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(d("l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - d("l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
  }

  /** A2: ungrouped (global) aggregates, mixed types. */
  val a2 = Q(
    "a2_global_agg",
    s"""SELECT COUNT(*) AS n,
       |  ${Det.dsumSql("l_extendedprice")} AS total_price,
       |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
       |  MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag,
       |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_line
       |FROM lineitem""".stripMargin
  ) { s =>
    s.table("lineitem").agg(
      count(lit(1)).as("n"),
      Det.dsum(col("l_extendedprice")).as("total_price"),
      min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"),
      min(col("l_returnflag")).as("min_flag"), max(col("l_returnflag")).as("max_flag"),
      sum(col("l_linenumber")).cast(LongType).as("sum_line"))
  }

  /** A4: DISTINCT aggregates. */
  val a4 = Q(
    "a4_distinct_agg",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_suppkey) AS n_supp,
      |  COUNT(DISTINCT l_partkey) AS n_part,
      |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_dq
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("lineitem").groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        sum_distinct(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_dq"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  /** A5: FILTER (WHERE …) clause on aggregates. */
  val a5 = Q(
    "a5_agg_filter_clause",
    s"""SELECT o_orderstatus,
       |  COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
       |  ${Det.dsumSql("o_totalprice")} AS total,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total
       |FROM orders GROUP BY o_orderstatus
       |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin
  ) { s =>
    s.sql(
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin)
  }

  /** A6: ROLLUP + CUBE + GROUPING() markers. */
  val a6 = Q(
    "a6_rollup",
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_rf ASC NULLS LAST, g_ls ASC NULLS LAST,
      |         l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"),
        count(lit(1)).as("n"))
      .orderBy(col("g_rf").asc_nulls_last, col("g_ls").asc_nulls_last,
        col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
  }

  val a6b = Q(
    "a6_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |  GROUPING(o_orderstatus) AS g_s, GROUPING(o_orderpriority) AS g_p,
      |  COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_s ASC NULLS LAST, g_p ASC NULLS LAST,
      |         o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).as("g_s"),
        grouping(col("o_orderpriority")).as("g_p"),
        count(lit(1)).as("n"))
      .orderBy(col("g_s").asc_nulls_last, col("g_p").asc_nulls_last,
        col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)
  }

  /** A6: explicit GROUPING SETS + grouping_id bitmask. */
  val a6c = Q(
    "a6_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  GROUPING(o_orderstatus) AS g_s, GROUPING(o_orderpriority) AS g_p,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_s ASC NULLS LAST, g_p ASC NULLS LAST,
      |         o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin
  ) { s =>
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus) AS g_s, GROUPING(o_orderpriority) AS g_p,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_s ASC NULLS LAST, g_p ASC NULLS LAST,
        |         o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin)
  }

  /** A9: mode — Spark's native deterministic mode (lowest value wins ties)
    * vs an explicit count-rank formulation in the oracle (DuckDB `mode`
    * tie-breaks arbitrarily, so the oracle spells the rule out).
    */
  val a9c = Q(
    "a9_mode",
    """SELECT o_orderstatus, o_orderpriority AS mode_prio FROM (
      |  SELECT o_orderstatus, o_orderpriority,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("orders").groupBy(col("o_orderstatus"))
      .agg(mode(col("o_orderpriority"), deterministic = true).as("mode_prio"))
      // preSort (r18; keys widened r19): no range-sampling re-exec of
      // the mode merge — mode_prio joins the key to defeat the elision
      // against the aggregate's hash(o_orderstatus) partitioning
      .transform(graft.engine.Par.preSort(_,
        col("o_orderstatus"), col("mode_prio")))
      .orderBy(col("o_orderstatus").asc_nulls_last)
  }

  /** A7: HAVING (post-aggregation filter). */
  val a7 = Q(
    "a7_having",
    """SELECT o_custkey, COUNT(*) AS n
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
      |ORDER BY o_custkey ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 12)
      .orderBy(col("o_custkey").asc_nulls_last)
  }

  /** A8: statistical aggregates (rounded — float accumulation order). */
  val a8 = Q(
    "a8_stats_agg",
    """SELECT l_returnflag,
      |  ROUND(stddev_samp(l_quantity), 6) AS sd_q,
      |  ROUND(var_pop(l_quantity), 6) AS vp_q,
      |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("lineitem").groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
        round(var_pop(col("l_quantity")), 6).as("vp_q"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  /** A9: ordered-set aggregates — Spark `percentile` (exact interpolated)
    * matches DuckDB median/quantile_cont; discrete quantile via
    * sorted-array indexing (same floor((n-1)·q) rank rule).
    */
  val a9b = Q(
    "a9_quantiles_exact",
    """SELECT l_returnflag,
      |  ROUND(median(l_quantity), 6) AS med_q,
      |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
      |  quantile_disc(l_quantity, 0.75) AS q75d
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    // Aggregate-before-shuffle (guide §2.3): l_quantity has ~50 distinct
    // values, so fold the 600k rows to (flag, qty, cnt) first — the
    // percentile buffers then hold ≤50 weighted entries instead of a
    // 200k-value multiset per group, and the collect_list+array_sort
    // q75d (a 200k-element sort per group, single-threaded) becomes a
    // 50-element weighted selection. percentile(col, p, freq) is the
    // SAME exact interpolation over the expanded multiset (Spark
    // evaluates frequencies natively), and q75d = element_at(sorted
    // multiset, floor(0.75*(n-1))+1) expands each value cnt times
    // before indexing — bit-identical to the raw-row formulation.
    s.sql(
      """SELECT l_returnflag,
        |  ROUND(percentile(l_quantity, 0.5, cnt), 6) AS med_q,
        |  ROUND(percentile(l_quantity, 0.25, cnt), 6) AS q25,
        |  element_at(
        |    flatten(transform(
        |      array_sort(collect_list(struct(l_quantity AS q, cnt))),
        |      x -> array_repeat(x.q, CAST(x.cnt AS INT)))),
        |    CAST(floor(0.75 * (SUM(cnt) - 1)) AS INT) + 1) AS q75d
        |FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |      FROM lineitem GROUP BY l_returnflag, l_quantity)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)
  }

  /** A9d: sketch-based approximate quantiles, bounded in-query — the
    * a10 pattern applied to percentiles: each engine's own sketch
    * (Spark percentile_approx / DuckDB approx_quantile) is compared to
    * the EXACT quantile inside the query and only the comparable
    * outcome (exact values + within-1%-bool) crosses the differential
    * gate — sketch internals never do. Exact quantile parity itself is
    * a9_quantiles_exact's job; this row proves the SCALE path (a
    * mergeable fixed-size sketch per group, no sorted materialization)
    * stays inside its error envelope.
    */
  val a9d = Q(
    "a9_quantiles_sketch",
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
      |  (abs(approx_quantile(l_extendedprice, 0.5)
      |     - quantile_cont(l_extendedprice, 0.5))
      |     <= 0.01 * quantile_cont(l_extendedprice, 0.5)) AND
      |  (abs(approx_quantile(l_extendedprice, 0.95)
      |     - quantile_cont(l_extendedprice, 0.95))
      |     <= 0.01 * quantile_cont(l_extendedprice, 0.95)) AS approx_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    val out = quantileSketch(s).select(col("l_returnflag"),
      round(element_at(col("ex"), 1), 6).as("p50"),
      round(element_at(col("ex"), 2), 6).as("p95"),
      ((abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <=
        lit(0.01) * element_at(col("ex"), 1)) &&
        (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <=
          lit(0.01) * element_at(col("ex"), 2))).as("approx_ok"))
    // preSort (r18; keys widened r19): the final ORDER BY's range
    // sampling otherwise re-runs the percentile buffer merge a second
    // time. With the key = the grouping key alone, Catalyst elided the
    // planted exchange as redundant against the aggregate's
    // hash(l_returnflag) partitioning and the double-merge stayed
    // (r18's documented caveat); p50 joins the key purely to defeat
    // that elision — row order is pinned by the final sort either way.
    graft.engine.Par.preSort(out, col("l_returnflag"), col("p50"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  /** a9_quantiles_sketch's grouped aggregate: per l_returnflag, the
    * exact `ex` and sketched `ap` percentile arrays at (0.5, 0.95).
    */
  private[graft] def quantileSketch(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    // ONE exact-percentile buffer and ONE sketch per group (array-arg
    // forms), not four: the four-buffer formulation ran 3.0 s at sf0.1
    // — slowest in the suite — vs ~1 s for this shape.
    //
    // Sketch accuracy 2000 (r19, was 10000): the declared outputs are
    // the EXACT percentiles plus the within-1% bool — the sketch value
    // never crosses the gate. ε = 1/accuracy = 0.05% rank error; the
    // measured value density around p50/p95 on this distribution is
    // ~1% of value per 0.5% of rank at every supported SF (see
    // OPTIMIZATION_r19.md), so the bound keeps a ~10× margin under the
    // 1% envelope while the merge stage's buffers shrink 5×
    // (isolated merge stage 1.07 → 0.75 s cumulative).
    //
    // Conditional partial spread (r19): the fixture scan is 3 parquet
    // row groups, so the exact-percentile partial maps built over 600k
    // rows ran on 3 tasks (0.94 s of a 1.4 s isolated steady). Hash-
    // spread the (flag, price) rows to dp/4 ahead of the partials —
    // SKIPPED whenever the scan already has that many partitions, so a
    // production-scale scan (which splits naturally) never pays the
    // extra fact-table shuffle; this is the LookupIndex.prepped
    // discipline, and it differs from the r18 reverted experiment
    // (unconditional, full 32-wide) in both width and the guard.
    // percentile's buffer is an order-insensitive value→count map, so
    // the exact outputs are bit-identical under any partitioning.
    val src = s.table("lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val w = math.max(2, s.sparkContext.defaultParallelism / 4)
    val spread = if (graft.engine.Par.scanWidth(src) >= w) src
      else src.repartition(w, col("l_extendedprice"))
    spread.groupBy(col("l_returnflag")).agg(
      expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ex"),
      expr("percentile_approx(l_extendedprice, array(0.5D, 0.95D), 2000)")
        .as("ap"))
  }

  /** A11: arg_min/arg_max ≡ min_by/max_by (unique ordering col ⇒ deterministic). */
  val a11 = Q(
    "a11_min_max_by",
    """SELECT o_orderstatus,
      |  arg_max(o_custkey, o_orderkey) AS cust_of_max_key,
      |  arg_min(o_custkey, o_orderkey) AS cust_of_min_key
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("orders").groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_custkey"), col("o_orderkey")).as("cust_of_max_key"),
        min_by(col("o_custkey"), col("o_orderkey")).as("cust_of_min_key"))
      .orderBy(col("o_orderstatus").asc_nulls_last)
  }

  /** A12: order-sensitive list/string aggregation (explicitly sorted). */
  val a12 = Q(
    "a12_list_string_agg",
    """SELECT n_regionkey,
      |  string_agg(n_name, ',' ORDER BY n_name) AS names_csv,
      |  CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS names_list
      |FROM nation GROUP BY n_regionkey
      |ORDER BY n_regionkey ASC NULLS LAST""".stripMargin
  ) { s =>
    // names_list JSON-serialized on both sides: the verify gate row-sorts
    // with pandas, which cannot sort raw array cells
    s.table("nation").groupBy(col("n_regionkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("names_csv"),
        to_json(sort_array(collect_list(col("n_name")))).as("names_list"))
      .orderBy(col("n_regionkey").asc_nulls_last)
  }

  /** A13: bool_and/bool_or + bitwise aggregates. */
  val a13 = Q(
    "a13_bool_bit_agg",
    """SELECT l_returnflag,
      |  bool_and(l_quantity > 0.0) AS all_pos,
      |  bool_or(l_quantity > 49.0) AS any_huge,
      |  bit_and(l_linenumber) AS band,
      |  bit_or(l_linenumber) AS bor,
      |  bit_xor(l_linenumber) AS bxor
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("lineitem").groupBy(col("l_returnflag"))
      .agg(
        bool_and(col("l_quantity") > 0.0).as("all_pos"),
        bool_or(col("l_quantity") > 49.0).as("any_huge"),
        bit_and(col("l_linenumber")).as("band"),
        bit_or(col("l_linenumber")).as("bor"),
        bit_xor(col("l_linenumber")).as("bxor"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  /** A14: any_value — deterministic because the value is functionally
    * determined by the group key.
    */
  val a14 = Q(
    "a14_any_value",
    """SELECT c_mktsegment, any_value(UPPER(c_mktsegment)) AS seg_upper, COUNT(*) AS n
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("customer").groupBy(col("c_mktsegment"))
      .agg(any_value(upper(col("c_mktsegment"))).as("seg_upper"), count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment").asc_nulls_last)
  }

  /** A15: GROUP BY ALL (dialect sugar, native in both engines). */
  val a15 = Q(
    "a15_group_by_all",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY ALL
      |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin
  ) { s =>
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin)
  }

  /** A10: approx_count_distinct — HLL sketch VALUES differ across
    * engines by design, so the sketch never crosses the comparator:
    * the oracle-checked columns are the exact distinct count plus a
    * BOOLEAN asserting each engine's own sketch lands within 10% of its
    * own exact count (DuckDB's HLL is ~0.4% error; Spark's runs at its
    * default rsd=5%, the precision the declared SQL's bare
    * approx_count_distinct specifies — both sides deterministically
    * true on every supported SF, and a broken sketch on either side
    * flips its bool and fails the hash). The spec additionally bounds
    * a 1%-rsd sketch estimate (OperatorSpec).
    */
  val a10 = Q(
    "a10_approx_distinct",
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
      |    <= 0.1 * count(DISTINCT l_partkey) AS approx_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin
  ) { s =>
    // HLL is duplicate-insensitive, so both the exact count AND the
    // sketch run over the pre-deduplicated (flag, partkey) relation:
    // one partial-agg distinct shuffle + one tiny group-agg, instead of
    // the Expand-doubled distinct-aggregate rewrite over raw rows
    // (measured 3.3s → sub-1s in-suite at sf0.1). count() and
    // count(DISTINCT) both skip NULLs, so semantics are unchanged.
    val dedup = s.table("lineitem")
      .select(col("l_returnflag"), col("l_partkey")).distinct()
    // preSort (r18; keys widened r19): the final ORDER BY's range
    // sampling otherwise re-runs the HLL + exact-count final aggregate
    // a second time. exact_parts joins the key to defeat the r18-
    // documented elision of the planted exchange against the
    // aggregate's hash(l_returnflag) partitioning.
    graft.engine.Par.preSort(
      dedup.groupBy(col("l_returnflag"))
        .agg(count(col("l_partkey")).as("exact_parts"),
          // rsd 0.05 (Spark's default; r18): the declared columns are
          // the exact count and the within-10% bool — the sketch VALUE
          // never crosses the gate, and the default sketch (2-3%
          // typical error) clears the 10% envelope with margin while
          // its 16× smaller register file halves this query's final
          // aggregate (measured below). The spec separately bounds a
          // 1%-rsd sketch, so the tight-precision path stays exercised.
          (abs(approx_count_distinct(col("l_partkey"), 0.05) -
            count(col("l_partkey"))) <=
            lit(0.1) * count(col("l_partkey"))).as("approx_ok")),
      col("l_returnflag"), col("exact_parts"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  /** A16: DuckDB-only statistical aggregates (product, entropy, mad,
    * quantile_cont/disc, arg_min/arg_max) through the engine's custom
    * aggregate expressions + registry shims (expressions/DuckAggs.scala).
    * Float-order noise is rounded off per the determinism contract;
    * arg_min/arg_max order by the UNIQUE o_orderkey so the pick is
    * deterministic in both engines. Outputs are DOUBLE, not DECIMAL:
    * the driver's comparator materializes DuckDB DECIMAL as float64
    * but Spark parquet decimal128 as Decimal objects — a dtype-kind
    * hash mismatch even when every value is identical (§5.2 contract,
    * cf. q1_pricing: DECIMAL internally, DOUBLE at the output edge).
    */
  val a16 = {
    // product() folds floats in partition order, so its raw value
    // drifts by an ulp once the corpus spans multiple partitions (the
    // 10x gate caught exactly one last-ulp mismatch at 6.9e58). The
    // output edge takes ln(product) rounded: a relative 1e-16 drift
    // becomes a 1e-16 ABSOLUTE difference in the log, which round(.,6)
    // absorbs at any corpus size — while product() itself stays the
    // aggregate under test.
    // inner SQL built WITHOUT the ORDER BY and the oracle string derived
    // by appending it (r19, ADVICE: the previous exact-string replace of
    // the clause would silently no-op on any whitespace drift, leaving a
    // wasted sort + the double-execution under the preSort exchange)
    val innerSql =
      """SELECT o_orderstatus,
        |  CAST(round(entropy(o_orderpriority), 9) AS DOUBLE) AS ent,
        |  CAST(round(mad(o_totalprice), 4) AS DOUBLE) AS md,
        |  CAST(round(quantile_cont(o_totalprice, 0.5), 4) AS DOUBLE) AS qc,
        |  CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS qd,
        |  arg_min(o_orderpriority, o_orderkey) AS amn,
        |  arg_max(o_orderpriority, o_orderkey) AS amx,
        |  CAST(round(ln(product(1.0 + o_totalprice / 1e9)), 6) AS DOUBLE) AS lpr
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin
    val sqlText = innerSql + "\nORDER BY o_orderstatus ASC NULLS LAST"
    // isolated child session: dialect shims never touch the shared
    // session's registry (the r8 f_math lesson — see Functions.freeze)
    // preSort (r18; keys widened r19): the mad/quantile/product merge is
    // the heaviest final aggregate in the suite — don't let range
    // sampling run it twice. ent joins the key to defeat the elision of
    // the planted exchange against the aggregate's hash(o_orderstatus)
    // partitioning (the r18 caveat).
    graft.engine.Q("a16_duck_stats", (s, dir) =>
      graft.engine.Par.preSort(
        graft.engine.Functions.isolated(s, dir, "orders").sql(innerSql),
        col("o_orderstatus"), col("ent"))
        .orderBy(col("o_orderstatus").asc_nulls_last),
      Some(sqlText))
  }

  /** A17: histogram(x) → MAP(value → count), flattened to entry rows so
    * the differential gate compares scalar columns (map key order is
    * ascending in both engines, pinned by the ORDER BY anyway).
    */
  val a17 = graft.engine.Q(
    "a17_histogram",
    // histogram is a registry shim → isolated child session, so the
    // shared session's registry stays untouched (r8 f_math lesson)
    (s, dir) => graft.engine.Functions.isolated(s, dir, "orders").sql(
      """SELECT o_orderstatus, entry_key AS pri,
        |  CAST(entry_value AS BIGINT) AS cnt
        |FROM (SELECT o_orderstatus, histogram(o_orderpriority) AS h
        |      FROM orders GROUP BY o_orderstatus) t
        |LATERAL VIEW explode(h) e AS entry_key, entry_value
        |ORDER BY o_orderstatus ASC NULLS LAST, pri ASC NULLS LAST""".stripMargin),
    Some(
      """SELECT o_orderstatus, unnest(map_keys(h)) AS pri,
        |  CAST(unnest(map_values(h)) AS BIGINT) AS cnt
        |FROM (SELECT o_orderstatus, histogram(o_orderpriority) AS h
        |      FROM orders GROUP BY o_orderstatus) t
        |ORDER BY o_orderstatus ASC NULLS LAST, pri ASC NULLS LAST""".stripMargin))

  val all: Seq[Q] = Seq(
    q1Pricing, a2, a4, a5, a6, a6b, a6c, a7, a8, a9b, a9c, a9d, a11, a12, a13, a14, a15, a10,
    a16, a17)
}
