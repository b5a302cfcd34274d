package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Gateway
import scala.util.control.NonFatal

/** DuckDB-dialect statements a client may send, grouped in the batches
  * they were first probed in, and all sent through ONE gateway. Every
  * statement must execute: a batch's test fails naming each row that
  * throws, with the first line of its error. Values that matter are
  * pinned in GatewaySpec; this table guards acceptance of the surface.
  *
  * The only rows that change session state are `SET threads = 4` /
  * `RESET threads` (batch 5) and one `PREPARE` (batch 4).
  *
  * Deliberate residuals, kept out of the table: POSITIONAL JOIN in client
  * SQL (DuckDB's operator depends on input row order, which Spark's
  * optimizer does not keep through subqueries; j10 serves it with an
  * explicit order key), substring_grapheme (the JDK's BreakIterator
  * splits ZWJ emoji differently from utf8proc), json_group_structure
  * and json_transform.
  */
class DialectProbeSpec extends AnyFunSuite {
  import TestSpark._

  lazy val gw: Gateway = Gateway.open(spark, sf)

  /** Rows without a name are named by their statement. */
  private def unnamed(stmts: String*): Seq[(String, String)] = stmts.map(q => q -> q)

  // aggregate, datetime and ordered-set tails
  private val batch2 = unnamed(
    "SELECT product(l_linenumber) FROM lineitem WHERE l_orderkey < 10",
    "SELECT entropy(o_orderstatus) FROM orders",
    "SELECT histogram(o_orderstatus) FROM orders",
    "SELECT quantile_cont(o_totalprice, 0.5) FROM orders",
    "SELECT quantile_disc(o_totalprice, 0.5) FROM orders",
    "SELECT quantile_cont(o_totalprice, [0.25, 0.5]) FROM orders",
    "SELECT mad(o_totalprice) FROM orders",
    "SELECT arg_min(o_orderkey, o_totalprice), arg_max(o_orderkey, o_totalprice) FROM orders",
    "SELECT bit_xor(o_orderkey) FROM orders",
    "SELECT bool_and(o_totalprice > 0), bool_or(o_totalprice > 1e9) FROM orders",
    "SELECT favg(o_totalprice), fsum(o_totalprice) FROM orders",
    "SELECT skewness(o_totalprice), kurtosis(o_totalprice) FROM orders",
    "SELECT regr_slope(o_totalprice, o_orderkey), regr_r2(o_totalprice, o_orderkey) FROM orders",
    "SELECT corr(o_totalprice, o_orderkey), covar_samp(o_totalprice, o_orderkey) FROM orders",
    "SELECT median(o_totalprice) FROM orders",
    "SELECT approx_quantile(o_totalprice, 0.5) FROM orders",
    "SELECT string_agg(DISTINCT o_orderstatus, ',') FROM orders",
    "SELECT count(*) FILTER (o_totalprice > 1000) FROM orders",
    "SELECT last(o_orderkey ORDER BY o_totalprice) FROM orders",
    "SELECT date_trunc('week', TIMESTAMP '2024-01-10 01:02:03')",
    "SELECT epoch_ns(TIMESTAMP '2024-01-01')",
    "SELECT timezone('UTC', TIMESTAMP '2024-01-01')",
    "SELECT to_days(30), to_hours(5)",
    "SELECT current_setting('TimeZone')",
    "SELECT dayofweek(DATE '2024-01-07'), dayofyear(DATE '2024-02-01')",
    "SELECT datetrunc('month', DATE '2024-02-15')",
    "SELECT timestamp '2024-01-01' + INTERVAL 3 DAY",
    "SELECT INTERVAL '3 days'",
    "SELECT nextafter(1.0, 2.0)",
    "SELECT xor(5, 3)",
    "SELECT ntile(4) OVER (ORDER BY o_orderkey), cume_dist() OVER (ORDER BY o_orderkey) FROM orders LIMIT 3",
    "SELECT mode() WITHIN GROUP (ORDER BY o_orderstatus) FROM orders",
    "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) FROM orders",
    "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) FROM orders")

  // statement forms, table functions, literals and operator idioms
  private val batch3 = unnamed(
    // FROM-first syntax
    "FROM nation SELECT n_name LIMIT 2",
    "FROM nation LIMIT 2",
    "FROM nation",
    // direct file / table functions in FROM
    s"SELECT count(*) FROM '$sf/nation.parquet'",
    s"SELECT count(*) FROM read_parquet('$sf/nation.parquet')",
    "SELECT * FROM range(3)",
    "SELECT * FROM range(1, 4)",
    "SELECT * FROM generate_series(1, 3)",
    "SELECT * FROM unnest([1, 2, 3])",
    "SELECT u.x FROM unnest([1,2,3]) AS u(x)",
    // sampling
    "SELECT count(*) FROM orders USING SAMPLE 10 ROWS",
    "SELECT count(*) FROM orders USING SAMPLE 5%",
    "SELECT count(*) FROM orders TABLESAMPLE 5%",
    // ORDER BY ALL
    "SELECT n_regionkey, n_name FROM nation ORDER BY ALL LIMIT 3",
    // struct/map literals
    "SELECT {'a': 1, 'b': 'x'} AS s",
    "SELECT {'a': 1}.a AS v",
    "SELECT MAP {'k': 1, 'j': 2} AS m",
    "SELECT map_from_entries([('a', 1), ('b', 2)]) AS m",
    // casts / typeof
    "SELECT 1::DOUBLE, '2024-01-01'::DATE",
    "SELECT TRY_CAST('zzz' AS INTEGER) AS t",
    "SELECT typeof(1), typeof('x'), typeof(1.5)",
    // string ops
    "SELECT 'abcdef'[2:4]",
    "SELECT 'a' || 'b' AS c",
    "SELECT repeat('ab', 3)",
    "SELECT 'Hello' ILIKE 'h%' AS i",
    "SELECT 'abc' SIMILAR TO 'a.c' AS s",
    "SELECT regexp_extract('a1b2', '([a-z])(\\d)', 2) AS g",
    "SELECT 'abc' ~ 'a.c' AS m1, 'abc' !~ 'z' AS m2",
    // comparisons
    "SELECT 2 BETWEEN 1 AND 3, 1 IN (1, 2)",
    "SELECT o_orderkey FROM orders WHERE o_totalprice > ALL (SELECT 0.0) LIMIT 1",
    "SELECT o_orderkey FROM orders WHERE o_totalprice > ANY (SELECT 1e12) LIMIT 1",
    "SELECT EXISTS (SELECT 1 FROM nation) AS e",
    // PRAGMA surface
    "PRAGMA show_tables",
    "PRAGMA table_info('nation')",
    "PRAGMA database_size",
    "PRAGMA version",
    // misc statements
    "DESCRIBE nation",
    "SHOW nation",
    "EXPLAIN SELECT 1",
    "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) v(id, tag)",
    "VALUES (1, 'a'), (2, 'b')",
    // distinct / grouping
    "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name FROM nation ORDER BY n_regionkey, n_name LIMIT 3",
    "SELECT count(DISTINCT n_regionkey) FROM nation",
    // null handling sugar
    "SELECT ifnull(NULL, 5), nvl(NULL, 6), nullif(1, 1)",
    "SELECT coalesce(NULL, NULL, 7)",
    // bit / blob
    "SELECT encode('abc'), decode(encode('abc'))",
    "SELECT '\\xAA'::BLOB",
    "SELECT to_base64('abc'::BLOB) AS b64",
    "SELECT hex(255), unhex('FF')",
    "SELECT bit_count(7)",
    // window sugar
    "SELECT n_name, row_number() OVER () AS rn FROM nation LIMIT 3",
    "SELECT n_name, lead(n_name, 1) OVER (ORDER BY n_name) FROM nation LIMIT 3",
    // union by name
    "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 4 AS b, 3 AS a",
    // grouping sets shorthand
    "SELECT n_regionkey, count(*) FROM nation GROUP BY GROUPING SETS ((n_regionkey), ()) ORDER BY 1 NULLS LAST")

  // ORDER BY ALL, series, SEMI/ANTI joins, list and struct functions
  private val batch4 = Seq(
    "order_by_all" -> "SELECT 2 AS a, 'x' AS b UNION ALL SELECT 1, 'y' ORDER BY ALL",
    "gen_series_date" -> "SELECT * FROM generate_series(DATE '2024-01-01', DATE '2024-01-05', INTERVAL 2 DAY)",
    "range_ts" -> "SELECT * FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03', INTERVAL 1 DAY)",
    "semi_join" -> "SELECT 1 AS x FROM (SELECT 1 AS k) a SEMI JOIN (SELECT 1 AS k) b USING (k)",
    "anti_join" -> "SELECT count(*) AS c FROM (SELECT 1 AS k) a ANTI JOIN (SELECT 1 AS k) b USING (k)",
    "median" -> "SELECT median(o_totalprice) AS m FROM orders",
    "position_in" -> "SELECT position('ll' IN 'hello') AS p",
    "list_reduce" -> "SELECT list_reduce([1,2,3], (a,b) -> a+b) AS r",
    "list_zip" -> "SELECT list_zip([1,2],['a','b']) AS z",
    "list_reverse" -> "SELECT list_reverse([1,2,3]) AS r",
    "list_unique" -> "SELECT list_unique([1,1,2]) AS u",
    "flatten" -> "SELECT flatten([[1,2],[3]]) AS f",
    "list_sort_desc" -> "SELECT list_sort([2,1,3], 'DESC') AS s",
    "lag_ignore_nulls" -> "SELECT x, lag(y IGNORE NULLS) OVER (ORDER BY x) AS l FROM (VALUES (1,10),(2,NULL),(3,30)) t(x,y)",
    "date_part_dow" -> "SELECT date_part('dow', DATE '2024-01-07') AS d",
    "date_part_list" -> "SELECT date_part(['year','month'], DATE '2024-02-01') AS p",
    "struct_pack" -> "SELECT struct_pack(a := 1, b := 'x') AS s",
    "struct_insert" -> "SELECT struct_insert({'a': 1}, b := 2) AS s",
    "map_keys" -> "SELECT map_keys(MAP {'k': 1, 'j': 2}) AS k, map_values(MAP {'k': 1}) AS v",
    "map_bracket" -> "SELECT (MAP {'k': 7})['k'] AS v",
    "unnest_recursive" -> "SELECT unnest([[1,2],[3]], recursive := true) AS u",
    "filter_where" -> "SELECT count(*) FILTER (WHERE o_totalprice > 1000) AS c FROM orders",
    "age_fn" -> "SELECT age(TIMESTAMP '2024-03-15', TIMESTAMP '2024-01-01') AS a",
    "list_ordered_agg" -> "SELECT list(x ORDER BY y DESC) AS l FROM (VALUES (1,1),(2,2)) t(x,y)",
    "neg_index" -> "SELECT ([1,2,3])[-1] AS lastel",
    "prepare_exec" -> "PREPARE q1 AS SELECT $1 + 1 AS v")

  // slices, list aggregates, datetime helpers, session statements
  private val batch5 = Seq(
    "string_slice" -> "SELECT 'abcdef'[2:4] AS s",
    "list_slice_br" -> "SELECT ([1,2,3,4,5])[2:4] AS l",
    "list_neg_slice" -> "SELECT ([1,2,3,4,5])[-2:-1] AS l",
    "struct_star" -> "SELECT s.* FROM (SELECT {'a': 1, 'b': 2} AS s) t",
    "list_aggregate" -> "SELECT list_aggregate([1,2,3], 'sum') AS s",
    "list_avg" -> "SELECT list_avg([1.0,2.0,3.0]) AS a, list_sum([1,2,3]) AS s, list_min([3,1,2]) AS mn, list_max([3,1,2]) AS mx",
    "arg_min_n" -> "SELECT arg_min(o_orderpriority, o_totalprice, 2) AS a FROM orders",
    "strftime" -> "SELECT strftime(DATE '2024-02-01', '%Y/%m/%d') AS s",
    "strptime" -> "SELECT strptime('2024-02-01', '%Y-%m-%d') AS t",
    "epoch_fns" -> "SELECT epoch(TIMESTAMP '2024-01-01 00:00:00') AS e, epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS ms",
    "week_iso" -> "SELECT week(DATE '2024-01-07') AS w, isodow(DATE '2024-01-07') AS d, dayofyear(DATE '2024-02-01') AS doy",
    "last_day" -> "SELECT last_day(DATE '2024-02-10') AS d, date_trunc('month', DATE '2024-02-10') AS m",
    "time_bucket2" -> "SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 00:22:00') AS b",
    "make_date" -> "SELECT make_date(2024, 2, 1) AS d, make_timestamp(2024, 2, 1, 12, 30, 0) AS t",
    "regexp_matches" -> "SELECT regexp_matches('hello', 'l+') AS m",
    "printf" -> "SELECT printf('%d-%s', 7, 'x') AS s",
    "md5_hash" -> "SELECT md5('abc') AS h, hash('abc') AS n",
    "bitstring_agg" -> "SELECT bit_count(7::BIT) IS NOT NULL AS ok",
    "to_base" -> "SELECT to_base(255, 16) AS h",
    "bar_chart" -> "SELECT bar(3, 0, 5, 5) AS b",
    "repeat_str" -> "SELECT repeat('ab', 3) AS s, reverse('abc') AS r",
    "chr_ord" -> "SELECT chr(65) AS c, ord('A') AS o, unicode('A') AS u",
    "translate_fn" -> "SELECT translate('abc', 'ab', 'xy') AS s",
    "greatest_mixed" -> "SELECT greatest(1, 2.5) AS g, least('b', 'a') AS l",
    "map_entries" -> "SELECT map_entries(MAP {'k': 1}) AS e, cardinality(MAP {'k': 1}) AS c",
    "map_from" -> "SELECT map_from_entries([{'k': 'a', 'v': 1}]) AS m",
    "element_at_map" -> "SELECT element_at(MAP {'k': 7}, 'k') AS v",
    "union_type" -> "SELECT union_value(num := 2) AS u",
    "enum_like" -> "SELECT 'small' IN ('small','medium','large') AS ok",
    "interval_mul" -> "SELECT DATE '2024-01-01' + 3 * INTERVAL 1 DAY AS d",
    "timestamptz" -> "SELECT TIMESTAMPTZ '2024-01-01 00:00:00+00' AS t",
    "at_time_zone" -> "SELECT TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'UTC' AS t",
    "current_fns" -> "SELECT current_date IS NOT NULL AS a, now() IS NOT NULL AS b, current_schema() AS s",
    "txn_stmts" -> "BEGIN TRANSACTION",
    "checkpoint_stmt" -> "CHECKPOINT",
    "analyze_stmt" -> "ANALYZE",
    "vacuum_stmt" -> "VACUUM",
    "explain_analyze" -> "EXPLAIN ANALYZE SELECT 1 AS x",
    "show_all_tables" -> "SHOW ALL TABLES",
    "pragma_version" -> "PRAGMA version",
    "set_stmt" -> "SET threads = 4",
    "reset_stmt" -> "RESET threads",
    "comment_syntax" -> "SELECT 1 AS x -- trailing comment",
    "grouping_id" -> "SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus) AS g FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) ORDER BY 1,2 LIMIT 3",
    "count_if" -> "SELECT count_if(o_totalprice > 1000) AS c FROM orders",
    "suffix_fns" -> "SELECT suffix('hello', 'llo') AS s, prefix('hello', 'he') AS p",
    "string_agg_distinct" -> "SELECT string_agg(DISTINCT o_orderstatus, ',') AS s FROM orders",
    "quantile_multi" -> "SELECT quantile_cont(o_totalprice, [0.25, 0.75]) AS q FROM orders",
    "corr_fn" -> "SELECT round(corr(o_totalprice, o_custkey), 6) IS NOT NULL AS ok FROM orders",
    "regr_fns" -> "SELECT regr_slope(o_totalprice, o_custkey) IS NOT NULL AS ok FROM orders",
    "distinct_on2" -> "SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey FROM orders ORDER BY o_orderstatus, o_orderkey",
    "exists_subq" -> "SELECT count(*) AS c FROM region r WHERE EXISTS (SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey)",
    "values_order" -> "VALUES (2, 'b'), (1, 'a') ORDER BY 1",
    "table_stmt" -> "TABLE region",
    "from_first" -> "FROM region SELECT r_name ORDER BY r_regionkey LIMIT 2",
    "bare_from" -> "FROM region")

  // string, statistics and datetime functions
  private val batch6 = Seq(
    "split_part" -> "SELECT split_part('a,b,c', ',', 2) AS s",
    "left_right" -> "SELECT left('hello', 2) AS l, right('hello', 2) AS r",
    "lpad_rpad" -> "SELECT lpad('7', 3, '0') AS l, rpad('7', 3, '0') AS r",
    "trim_chars" -> "SELECT trim('xxhixx', 'x') AS t, ltrim('xxhi', 'x') AS l, rtrim('hixx', 'x') AS r",
    "levenshtein" -> "SELECT levenshtein('kitten', 'sitting') AS d",
    "hamming" -> "SELECT hamming('abc', 'abd') AS h, mismatches('abc', 'abd') AS m",
    "jaccard_str" -> "SELECT round(jaccard('duck', 'luck'), 3) AS j",
    "nfc_normalize" -> "SELECT nfc_normalize('café') AS s",
    "strip_accents" -> "SELECT strip_accents('café') AS s",
    "format_bytes" -> "SELECT format_bytes(1048576) AS s",
    "to_binary_hex" -> "SELECT bin(5) AS b, hex(255) AS h, unhex('ff') IS NOT NULL AS u",
    "skew_kurt" -> "SELECT round(skewness(o_totalprice), 6) IS NOT NULL AS s, round(kurtosis(o_totalprice), 6) IS NOT NULL AS k FROM orders",
    "covar" -> "SELECT covar_pop(o_totalprice, o_custkey) IS NOT NULL AS c, covar_samp(o_totalprice, o_custkey) IS NOT NULL AS s FROM orders",
    "bool_aggs" -> "SELECT bool_and(o_totalprice > 0) AS a, bool_or(o_totalprice > 500000) AS o FROM orders",
    "bit_aggs" -> "SELECT bit_and(o_custkey) IS NOT NULL AS a, bit_or(o_custkey) IS NOT NULL AS o, bit_xor(o_custkey) IS NOT NULL AS x FROM orders",
    "gsum_prod" -> "SELECT fsum(x) AS s FROM (VALUES (1.5),(2.5)) t(x)",
    "lcm_gcd" -> "SELECT lcm(4, 6) AS l, gcd(12, 18) AS g",
    "factorial" -> "SELECT factorial(5) AS f, 5! AS f2",
    "pow_variants" -> "SELECT pow(2, 10) AS p, power(2, 10) AS p2, 2 ** 10 AS p3",
    "xor_op" -> "SELECT xor(5, 3) AS x",
    "shift_ops" -> "SELECT 1 << 4 AS l, 256 >> 4 AS r",
    "bitwise_ops" -> "SELECT 5 & 3 AS a, 5 | 3 AS o, ~5 AS n",
    "date_add_fn" -> "SELECT date_add(DATE '2024-01-01', INTERVAL 3 DAY) AS d",
    "dayname" -> "SELECT dayname(DATE '2024-01-07') AS d, monthname(DATE '2024-02-01') AS m",
    "timezone_fns" -> "SELECT timezone('UTC', TIMESTAMP '2024-01-01 00:00:00') IS NOT NULL AS ok",
    "julian" -> "SELECT julian(DATE '2024-01-01') AS j",
    "to_ts_variants" -> "SELECT to_timestamp(1704067200) AS t, make_timestamptz(2024,1,1,0,0,0) IS NOT NULL AS z",
    "century_decade" -> "SELECT century(DATE '2024-01-01') AS c, decade(DATE '2024-01-01') AS d, era(DATE '2024-01-01') IS NOT NULL AS e",
    "quarter_fn" -> "SELECT quarter(DATE '2024-05-01') AS q, weekofyear(DATE '2024-01-07') AS w",
    "list_grade_up" -> "SELECT list_grade_up([30,10,20]) AS g",
    "list_dot" -> "SELECT list_dot_product([1.0,2.0], [3.0,4.0]) AS d, list_cosine_similarity([1.0,0.0], [1.0,0.0]) AS c",
    "list_distance" -> "SELECT round(list_distance([0.0,0.0], [3.0,4.0]), 3) AS d",
    "setseed_rand" -> "SELECT setseed(0.5) IS NULL OR true AS ok",
    "uuid_fn" -> "SELECT length(CAST(uuid() AS VARCHAR)) AS n, length(CAST(gen_random_uuid() AS VARCHAR)) AS m",
    "txid" -> "SELECT txid_current() >= 0 AS ok",
    "current_setting" -> "SELECT current_setting('threads') IS NOT NULL AS ok",
    "typeof_fns" -> "SELECT typeof(1) AS a, typeof('x') AS b, typeof([1]) AS c",
    "can_cast" -> "SELECT TRY_CAST('x' AS INT) IS NULL AS bad, TRY_CAST('7' AS INT) AS ok",
    "constant_pi" -> "SELECT round(pi(), 6) AS p, round(exp(1), 6) AS e",
    "cot_fn" -> "SELECT round(cot(1), 6) AS c, round(atan2(1, 1), 6) AS a",
    "log_variants" -> "SELECT log(100) AS l10, ln(2.718281828) IS NOT NULL AS ln2, log2(8) AS l2, log(2, 8) AS lb",
    "divide_ops" -> "SELECT fdiv(7, 2) AS f, fmod(7, 2) AS m, 7 % 3 AS pct",
    "string_split_regex" -> "SELECT string_split_regex('a1b2c', '[0-9]') AS l",
    "like_escape" -> "SELECT 'a_b' LIKE 'a!_b' ESCAPE '!' AS ok",
    "ilike_op" -> "SELECT 'ABC' ILIKE '%b%' AS ok",
    "similar_to" -> "SELECT 'abc' SIMILAR TO 'a.c' AS ok",
    "between_sym" -> "SELECT 5 BETWEEN 1 AND 10 AS ok",
    "is_distinct" -> "SELECT 1 IS DISTINCT FROM NULL AS a, NULL IS NOT DISTINCT FROM NULL AS b",
    "window_exclude_tie" -> "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s FROM (VALUES (1),(2),(3)) t(x)",
    "ntile_fn" -> "SELECT ntile(2) OVER (ORDER BY o_orderkey) AS n FROM orders LIMIT 3",
    "cume_dist" -> "SELECT round(cume_dist() OVER (ORDER BY o_orderkey), 6) AS c, round(percent_rank() OVER (ORDER BY o_orderkey), 6) AS p FROM orders LIMIT 3")

  // JSON, list set operations and misc scalars
  private val batch7 = Seq(
    "json_extract" -> "SELECT json_extract('{\"a\": {\"b\": 7}}', '$.a.b') AS v",
    "json_extract_string" -> "SELECT json_extract_string('{\"a\": \"x\"}', '$.a') AS v",
    "json_arrow_deep" -> "SELECT '{\"a\": {\"b\": 7}}' -> 'a' ->> 'b' AS v",
    "json_array_length" -> "SELECT json_array_length('[1,2,3]') AS n",
    "json_valid" -> "SELECT json_valid('{\"a\":1}') AS ok, json_valid('nope{') AS bad",
    "json_structure" -> "SELECT json_structure('{\"a\":1}') IS NOT NULL AS ok",
    "json_merge" -> "SELECT json_merge_patch('{\"a\":1}', '{\"b\":2}') AS m",
    "to_json_row" -> "SELECT to_json({'a': 1, 'b': 'x'}) AS j",
    "from_json" -> "SELECT from_json('{\"a\": 1}', '{\"a\": \"BIGINT\"}') IS NOT NULL AS ok",
    "json_type" -> "SELECT json_type('[1,2]') AS t",
    "json_contains" -> "SELECT json_contains('{\"a\":1}', '1') AS c",
    "list_intersect" -> "SELECT list_intersect([1,2,3], [2,3,4]) AS l",
    "list_union_like" -> "SELECT list_distinct(list_concat([1,2], [2,3])) AS l",
    "list_except_like" -> "SELECT list_filter([1,2,3], x -> NOT list_contains([2], x)) AS l",
    "array_overlap" -> "SELECT array_has_any([1,2], [2,9]) AS a",
    "list_pack" -> "SELECT list_pack(1, 2, 3) AS l",
    "list_where" -> "SELECT list_where([10,20,30], [true,false,true]) AS l",
    "list_select" -> "SELECT list_select([10,20,30], [3,1]) AS l",
    "repeat_list" -> "SELECT repeat([7], 2) AS l",
    "range_neg_step" -> "SELECT range(5, 1, -2) AS r",
    "string_bytes" -> "SELECT octet_length('héllo') AS n, bit_length('a') AS b",
    "ascii_fn" -> "SELECT ascii('A') AS a",
    "instr_fn" -> "SELECT instr('hello', 'll') AS i, strpos('hello', 'll') AS p",
    "substring_neg" -> "SELECT substring('hello', -3) AS s",
    "char_index" -> "SELECT 'hello'[2] AS c",
    "md5_number_half" -> "SELECT md5_number_lower('abc') IS NOT NULL AS ok",
    "regexp_replace_g" -> "SELECT regexp_replace('aaa', 'a', 'b', 'g') AS s",
    "regexp_extract_grp" -> "SELECT regexp_extract('ab12', '([a-z]+)([0-9]+)', 2) AS g",
    "parse_path" -> "SELECT parse_filename('/x/y/z.txt') AS f, parse_dirname('/x/y/z.txt') IS NOT NULL AS d",
    "url_encode" -> "SELECT url_encode('a b') AS e, url_decode('a%20b') AS d",
    "base64_fns" -> "SELECT base64(CAST('hi' AS BLOB)) AS b, from_base64('aGk=') IS NOT NULL AS f",
    "interval_parts" -> "SELECT EXTRACT(DAY FROM INTERVAL 3 DAY) IS NOT NULL AS ok",
    "age_one_arg" -> "SELECT age(TIMESTAMP '2024-01-01') IS NOT NULL AS ok",
    "generate_uuid_v7" -> "SELECT uuidv7() IS NOT NULL AS ok",
    "current_ts_alias" -> "SELECT get_current_timestamp() IS NOT NULL AS a, transaction_timestamp() IS NOT NULL AS b",
    "today_fn" -> "SELECT today() IS NOT NULL AS t, get_current_time() IS NOT NULL AS n")

  // window EXCLUDE, aggregate and list-lambda tails, SUMMARIZE
  private val batch8 = Seq(
    // --- window EXCLUDE in raw client SQL ---
    "win_excl_current" -> "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM (VALUES (1),(2),(3)) t(x)",
    "win_excl_group" -> "SELECT sum(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s FROM (VALUES (1),(1),(2)) t(x)",
    "win_excl_ties" -> "SELECT sum(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s FROM (VALUES (1),(1),(2)) t(x)",
    "win_excl_none" -> "SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s FROM (VALUES (1),(2),(3)) t(x)",
    // --- window function tail ---
    "nth_value" -> "SELECT nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS n FROM orders LIMIT 3",
    "first_ignore_nulls" -> "SELECT first_value(x IGNORE NULLS) OVER (ORDER BY i) AS f FROM (VALUES (1, NULL), (2, 7), (3, 8)) t(i, x)",
    "lead_default" -> "SELECT lead(o_orderkey, 1, -1) OVER (ORDER BY o_orderkey) AS l FROM orders LIMIT 3",
    // --- aggregate tail ---
    "product_agg" -> "SELECT product(x) AS p FROM (VALUES (2.0),(3.0),(4.0)) t(x)",
    "entropy_agg" -> "SELECT ROUND(entropy(x), 6) AS e FROM (VALUES (1),(1),(2),(3)) t(x)",
    "mad_agg" -> "SELECT mad(x) AS m FROM (VALUES (1.0),(2.0),(9.0)) t(x)",
    "approx_quantile" -> "SELECT approx_quantile(o_totalprice, 0.5) IS NOT NULL AS ok FROM orders",
    "quantile_cont" -> "SELECT quantile_cont(x, 0.5) AS q FROM (VALUES (1.0),(2.0),(4.0)) t(x)",
    "quantile_cont_list" -> "SELECT quantile_cont(x, [0.25, 0.75]) AS q FROM (VALUES (1.0),(2.0),(4.0)) t(x)",
    "quantile_disc" -> "SELECT quantile_disc(x, 0.5) AS q FROM (VALUES (1),(2),(4)) t(x)",
    "first_order_by" -> "SELECT first(x ORDER BY y DESC) AS f, last(x ORDER BY y DESC) AS l FROM (VALUES (1, 10),(2, 20),(3, 5)) t(x, y)",
    "arg_min_max" -> "SELECT arg_min(o_orderpriority, o_totalprice) AS a, arg_max(o_orderpriority, o_totalprice) AS b FROM orders",
    "bool_xor_variants" -> "SELECT bit_xor(x) AS x FROM (VALUES (5),(3)) t(x)",
    "favg_agg" -> "SELECT favg(x) AS a FROM (VALUES (1.5),(2.5)) t(x)",
    // --- list HOF tail ---
    "list_filter" -> "SELECT list_filter([1,2,3,4], x -> x % 2 = 0) AS l",
    "list_reduce" -> "SELECT list_reduce([1,2,3,4], (a, b) -> a + b) AS s",
    "list_has_any" -> "SELECT list_has_any([1,2], [2,3]) AS a, list_has_all([1,2,3], [1,3]) AS b",
    "list_position" -> "SELECT list_position([7,8,9], 8) AS p, list_contains([7,8], 7) AS c",
    "list_unique" -> "SELECT list_unique([1,1,2,3,3]) AS u",
    "list_transform_idx" -> "SELECT list_transform([10,20], (x, i) -> x + i) AS l",
    "list_concat_fn" -> "SELECT list_concat([1,2], [3]) AS l, array_concat([1], [2]) AS a",
    "list_reverse" -> "SELECT list_reverse([1,2,3]) AS l",
    "list_intersect_fn" -> "SELECT list_sort(list_intersect([1,2,3], [2,3,4])) AS l",
    // --- statements ---
    "summarize_stmt" -> "SUMMARIZE nation",
    "describe_select" -> "DESCRIBE SELECT n_nationkey, n_name FROM nation",
    // --- scalar tail ---
    "ts_minus_ts" -> "SELECT (TIMESTAMP '2024-01-02 00:00:00' - TIMESTAMP '2024-01-01 12:00:00') IS NOT NULL AS ok",
    "concat_ws_fn" -> "SELECT concat_ws('-', 'a', 'b', 'c') AS s",
    "format_fn" -> "SELECT format('{} and {}', 1, 'x') AS s",
    "fixed_array_cast" -> "SELECT [1,2,3]::INT[3] AS a",
    "map_from_lists" -> "SELECT map(['a','b'], [1,2]) AS m",
    "generate_subscripts" -> "SELECT generate_subscripts([9,8,7], 1) AS g",
    "to_hex_from_hex" -> "SELECT to_hex(255) AS h, from_hex('ff') IS NOT NULL AS f",
    "string_agg_sep" -> "SELECT string_agg(n_name, '; ' ORDER BY n_nationkey) AS s FROM nation WHERE n_nationkey < 3",
    "len_vs_length" -> "SELECT len('abc') AS a, length([1,2]) AS b, array_length([1,2,3]) AS c",
    "least_greatest_null" -> "SELECT least(1, NULL) AS l, greatest(2, NULL) AS g")

  // WITHIN GROUP, LIMIT n%, interval constructors, math and struct tails
  private val batch9 = Seq(
    // ordered-set aggregates
    "within_group_cont" -> "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) IS NOT NULL AS ok FROM orders",
    "within_group_disc" -> "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) IS NOT NULL AS ok FROM orders",
    "mode_within" -> "SELECT mode() WITHIN GROUP (ORDER BY o_orderstatus) AS m FROM orders",
    // LIMIT sugar
    "limit_percent" -> "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 20%",
    "limit_expr" -> "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2+3",
    // interval constructors
    "to_days_fn" -> "SELECT DATE '2024-01-01' + to_days(3) AS d",
    "to_hours_fn" -> "SELECT TIMESTAMP '2024-01-01 00:00:00' + to_hours(5) AS t",
    "to_years_months" -> "SELECT DATE '2024-01-01' + to_years(1) AS y, DATE '2024-01-01' + to_months(2) AS m",
    "interval_literal_n" -> "SELECT INTERVAL (n_nationkey) DAY IS NOT NULL AS ok FROM nation LIMIT 1",
    "make_time_fn" -> "SELECT make_time(12, 30, 15.5) IS NOT NULL AS ok",
    // math tail
    "abs_at_op" -> "SELECT @(-7) AS a",
    "isfinite_nan" -> "SELECT isfinite(1.0) AS f, isnan('nan'::DOUBLE) AS n, isinf('inf'::DOUBLE) AS i",
    "hyperbolic_inv" -> "SELECT round(asinh(1), 6) AS a, round(acosh(2), 6) AS b, round(atanh(0.5), 6) AS c",
    "nextafter_fn" -> "SELECT nextafter(1.0, 2.0) > 1.0 AS ok",
    // 2-arg like DuckDB's own round_even macro
    "round_even_fn" -> "SELECT round_even(2.5, 0) AS a, round_even(3.5, 0) AS b",
    "trunc_fn" -> "SELECT trunc(2.7) AS a, trunc(-2.7) AS b",
    "bit_length_fn" -> "SELECT bit_length('ab') AS b, octet_length('ab') AS o",
    // string tail
    "damerau_fn" -> "SELECT damerau_levenshtein('ca', 'abc') AS d",
    "editdist3_fn" -> "SELECT editdist3('kitten', 'sitting') AS d",
    "regexp_extract_all" -> "SELECT regexp_extract_all('a1b2', '[0-9]') AS l",
    "string_to_array_fn" -> "SELECT string_to_array('a,b,c', ',') AS l",
    "str_concat_null" -> "SELECT 'a' || NULL IS NULL AS ok",
    "char_fn" -> "SELECT concat('a', chr(10), 'b') LIKE 'a%b' AS ok",
    // struct/row ops
    "row_constructor" -> "SELECT ROW(1, 'x') IS NOT NULL AS ok",
    "struct_compare" -> "SELECT {'a': 1} = {'a': 1} AS eq, [1,2] < [1,3] AS lt",
    "struct_dot_paren" -> "SELECT ({'a': 7}).a AS v",
    "struct_update" -> "SELECT struct_insert({'a': 1}, b := 2) AS s",
    // misc operators / predicates
    "in_list_fn" -> "SELECT 2 IN (1, 2, 3) AS a, 5 NOT IN (1, 2) AS b",
    "between_not" -> "SELECT 5 NOT BETWEEN 1 AND 3 AS ok",
    "is_true_false" -> "SELECT (1 = 1) IS TRUE AS t, (1 = 2) IS NOT FALSE AS f",
    "nullif_ifnull" -> "SELECT nullif(1, 1) IS NULL AS a, ifnull(NULL, 7) AS b, coalesce(NULL, NULL, 3) AS c",
    "distinct_count_star" -> "SELECT count(DISTINCT (o_orderstatus, o_orderpriority)) AS c FROM orders",
    "grouping_fn" -> "SELECT o_orderstatus, GROUPING(o_orderstatus) AS g FROM orders GROUP BY ROLLUP (o_orderstatus) ORDER BY 1 NULLS LAST, 2 LIMIT 3",
    "having_without_group" -> "SELECT count(*) AS c FROM orders HAVING count(*) > 0",
    "select_no_from_math" -> "SELECT 1 + 2 AS x, 'a' AS y")

  // top-n aggregates, stepped slices, list and string predicate edges
  private val batch10 = Seq(
    // top-n aggregate variants (list results)
    "min_n" -> "SELECT min(n_nationkey, 3) AS l FROM nation",
    "max_n" -> "SELECT max(n_nationkey, 3) AS l FROM nation",
    "arg_max_n" -> "SELECT arg_max(n_name, n_nationkey, 2) AS l FROM nation",
    "first_n" -> "SELECT min(x, 2) AS l FROM (VALUES (3),(1),(2)) t(x)",
    // stepped list slicing
    "list_slice_step" -> "SELECT ([1,2,3,4,5,6])[1:5:2] AS l",
    "list_slice_fn3" -> "SELECT list_slice([1,2,3,4,5,6], 1, 5, 2) AS l",
    // list membership / extraction edges
    "list_extract_neg" -> "SELECT list_extract([1,2,3], -1) AS a, ([1,2,3])[-1] AS b",
    "element_at_neg" -> "SELECT element_at([1,2,3], -1) AS a",
    "array_pop" -> "SELECT array_pop_back([1,2,3]) AS a, array_pop_front([1,2,3]) AS b",
    "list_append_prepend" -> "SELECT list_append([1,2], 3) AS a, list_prepend(0, [1,2]) AS b",
    "array_push" -> "SELECT array_push_back([1,2], 3) AS a, array_push_front([1,2], 0) AS b",
    "contains_list" -> "SELECT contains([1,2], 2) AS a, contains('abc', 'b') AS s",
    "map_extract_fn" -> "SELECT map_extract(MAP {'k': 7}, 'k') AS v",
    // string predicate tail
    "ends_with_fn" -> "SELECT ends_with('hello', 'llo') AS a, startswith('hello', 'he') AS b",
    "like_any" -> "SELECT 'abc' LIKE ANY ('a%', 'x%') AS ok",
    "not_ilike" -> "SELECT 'ABC' NOT ILIKE '%z%' AS ok",
    "regexp_fn_forms" -> "SELECT regexp_full_match('abc', 'a.c') AS f",
    "substr_forms" -> "SELECT substr('hello', 2) AS a, substring('hello' FROM 2 FOR 3) AS b",
    // misc
    "list_sort_flags" -> "SELECT list_sort([3,1,2], 'DESC') AS d, list_sort([3,NULL,1], 'ASC', 'NULLS FIRST') AS nf",
    "list_cum" -> "SELECT list_transform([1,2,3], x -> x * 2) AS l",
    "array_agg_fn" -> "SELECT array_agg(n_nationkey ORDER BY n_nationkey) AS l FROM nation WHERE n_nationkey < 3",
    "histogram_named" -> "SELECT histogram(n_regionkey) IS NOT NULL AS ok FROM nation")

  // FROM-first, GROUP/ORDER BY ALL, $$ strings, trailing commas
  private val batch11 = Seq(
    "from_first" -> "FROM nation SELECT n_name WHERE n_nationkey < 3",
    "from_bare" -> "FROM nation",
    "group_by_all" -> "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY ALL ORDER BY ALL",
    "order_by_all" -> "SELECT n_nationkey, n_name FROM nation ORDER BY ALL LIMIT 3",
    "semi_join" -> "SELECT n_name FROM nation SEMI JOIN region ON n_regionkey = r_regionkey ORDER BY n_name LIMIT 2",
    "anti_join" -> "SELECT n_name FROM nation ANTI JOIN region ON n_regionkey = r_regionkey + 10 ORDER BY n_name LIMIT 2",
    "try_cast" -> "SELECT TRY_CAST('x' AS INT) AS a",
    "unnest_select" -> "SELECT unnest([1,2,3]) AS u",
    "list_reduce" -> "SELECT list_reduce([1,2,3], (a,b) -> a+b) AS r",
    "list_zip" -> "SELECT list_zip([1,2],[30,40]) AS z",
    "struct_dot" -> "SELECT ({'a': 1, 'b': 2}).a AS a",
    "filter_no_where" -> "SELECT count(*) FILTER (n_nationkey > 5) AS c FROM nation",
    "dollar_quote" -> "SELECT $$it's$$ AS s",
    "eqeq" -> "SELECT 1 == 1 AS ok",
    "trailing_comma" -> "SELECT 1 AS a, 2 AS b, FROM nation LIMIT 1",
    "between_sym" -> "SELECT 5 BETWEEN 10 AND 1 AS ok",
    "grouping_sets_empty" -> "SELECT count(*) AS n FROM nation GROUP BY ()",
    "values_alias_cols" -> "SELECT t.a FROM (VALUES (1, 'x')) t(a, b)",
    "is_distinct" -> "SELECT 1 IS NOT DISTINCT FROM NULL AS ok")

  // USING SAMPLE, quantified subqueries, row values, 1-based lambda index
  private val batch12 = Seq(
    "using_sample" -> "SELECT count(*) > 0 AS ok FROM nation USING SAMPLE 50%",
    "using_sample_rows" -> "SELECT count(*) AS n FROM nation USING SAMPLE 5 ROWS",
    "offset_only" -> "SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 23",
    "any_subq" -> "SELECT 3 > ANY (SELECT n_nationkey FROM nation) AS ok",
    "all_subq" -> "SELECT 100 > ALL (SELECT n_nationkey FROM nation) AS ok",
    "count_multi_distinct" -> "SELECT COUNT(DISTINCT (n_regionkey, n_nationkey % 2)) AS n FROM nation",
    "str_subscript" -> "SELECT ('abcdef')[2:4] AS s",
    "date_int_add" -> "SELECT DATE '2024-01-01' + 5 AS d",
    "interval_mult" -> "SELECT CAST(3 * INTERVAL 2 DAY AS VARCHAR) AS i",
    "in_tuple" -> "SELECT (1, 2) IN ((1, 2), (3, 4)) AS ok",
    "row_compare" -> "SELECT (1, 2) < (1, 3) AS ok",
    "exists_agg" -> "SELECT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = 3) AS ok",
    // DuckDB lambda index is 1-based: keeps elements 1 and 3
    "lambda_filter_idx" -> "SELECT list_filter([10,20,30], (x, i) -> i % 2 = 1) AS l",
    "struct_insert_named" -> "SELECT struct_insert({'a': 1}, b := 2) AS s",
    "union_byname_sql" -> "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a",
    "grouping_fn" -> "SELECT n_regionkey, GROUPING(n_regionkey) AS g FROM nation GROUP BY ROLLUP(n_regionkey) ORDER BY 1 NULLS LAST LIMIT 2",
    "distinct_order_expr" -> "SELECT DISTINCT n_regionkey + 0 AS r FROM nation ORDER BY r",
    "case_no_else" -> "SELECT CASE WHEN 1=2 THEN 'x' END AS c",
    "nested_cte" -> "WITH a AS (WITH b AS (SELECT 1 AS x) SELECT x FROM b) SELECT x FROM a")

  // pattern operators, list comprehensions, zero-divisor NULLs
  private val batch13 = Seq(
    "ilike_op" -> "SELECT 'Apple' ~~* '%app%' AS ok",
    "not_ilike_op" -> "SELECT 'Apple' !~~* '%zzz%' AS ok",
    "glob_op" -> "SELECT 'abc' ~~~ 'a*' AS ok",
    "regex_op" -> "SELECT 'abc' ~ 'a.c' AS ok",
    "not_regex_op" -> "SELECT 'abc' !~ 'x' AS ok",
    "collate_nocase" -> "SELECT 'Apple' COLLATE NOCASE = 'apple' AS ok",
    "list_compr_if" -> "SELECT [x*2 FOR x IN [1,2,3] IF x > 1] AS l",
    "nested_compr" -> "SELECT [[y+1 FOR y IN x] FOR x IN [[1],[2,3]]] AS l",
    "div_zero_null" -> "SELECT 1.0/0.0 IS NULL AS ok",
    "int_div_zero_null" -> "SELECT 7//0 IS NULL AS ok",
    "mod_zero_null" -> "SELECT 7%0 IS NULL AS ok",
    "mismatches" -> "SELECT mismatches('hello','heLLo') AS n",
    "hamming" -> "SELECT hamming('duck','luck') AS h",
    "damerau" -> "SELECT damerau_levenshtein('duck','ducks') AS d",
    "jaccard_str" -> "SELECT round(jaccard('duck','luck'), 3) AS j",
    "map_from_entries" -> "SELECT CAST(map_from_entries([{'k':'a','v':1}]) AS VARCHAR) AS m",
    "list_intersect" -> "SELECT list_sort(list_intersect([1,2,3],[2,3,4])) AS l",
    "array_slice_str" -> "SELECT array_slice('hello', 2, 4) AS s",
    "instr_alias" -> "SELECT instr('hello','ll') AS i",
    "str_neg_idx" -> "SELECT ('abc')[-1] AS c",
    "concat_num_str" -> "SELECT 1 || 'a' AS s",
    "week_fn" -> "SELECT week(DATE '2024-06-01') AS w",
    "yearweek_fn" -> "SELECT yearweek(DATE '2024-06-01') AS yw",
    "dayname_fn" -> "SELECT dayname(DATE '2024-06-01') AS d",
    "monthname_fn" -> "SELECT monthname(DATE '2024-06-01') AS m",
    "century_fn" -> "SELECT century(DATE '2024-06-01') AS c",
    "julian_fn" -> "SELECT julian(DATE '2024-01-01') AS j",
    "epoch_ns_fn" -> "SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:00') AS n",
    "timezone_fn" -> "SELECT CAST(timezone('UTC', TIMESTAMP '2024-01-01 00:00:00') AS VARCHAR) AS t",
    "make_time_fn" -> "SELECT CAST(make_time(12, 30, 1.5) AS VARCHAR) AS t",
    "to_centuries_fn" -> "SELECT CAST(to_centuries(2) AS VARCHAR) AS i",
    "bit_count_fn" -> "SELECT bit_count(7) AS n",
    "gcd_fn" -> "SELECT gcd(12, 18) AS g",
    "lcm_fn" -> "SELECT lcm(4, 6) AS l",
    "even_fn" -> "SELECT even(2.5) AS e",
    "cot_fn" -> "SELECT round(cot(1.0), 6) AS c",
    "nextafter_fn" -> "SELECT nextafter(1.0, 2.0) > 1.0 AS ok",
    "gamma_fn" -> "SELECT round(gamma(5), 6) AS g",
    "split_regex" -> "SELECT string_split_regex('a1b2c', '[0-9]') AS l",
    "regexp_split_arr" -> "SELECT regexp_split_to_array('a1b2c', '[0-9]') AS l",
    "str_split_alias" -> "SELECT str_split('a b', ' ') AS l",
    "prefix_fn" -> "SELECT prefix('hello', 'he') AS p",
    "suffix_fn" -> "SELECT suffix('hello', 'lo') AS s",
    "ord_fn" -> "SELECT ord('a') AS o",
    "unicode_fn" -> "SELECT unicode('a') AS u",
    "to_hex_fn" -> "SELECT to_hex(255) AS h",
    "from_hex_fn" -> "SELECT CAST(from_hex('ff') AS VARCHAR) AS b",
    "list_reduce" -> "SELECT list_reduce([1,2,3], (a,b) -> a+b) AS s",
    "current_setting" -> "SELECT current_setting('threads') IS NOT NULL AS ok",
    "txid_current" -> "SELECT txid_current() >= 0 AS ok")

  // regex semantics, ordered aggregates, format/strftime tails
  private val batch14 = Seq(
    "re_replace_first" -> "SELECT regexp_replace('aaa', 'a', 'b') AS s",
    "re_replace_g" -> "SELECT regexp_replace('aaa', 'a', 'b', 'g') AS s",
    "re_matches_flag_i" -> "SELECT regexp_matches('ABC', 'abc', 'i') AS ok",
    "re_extract_named" -> "SELECT regexp_extract('2024-06', '(?P<y>\\d+)-(?P<m>\\d+)', ['y','m']) AS s",
    "re_extract_group" -> "SELECT regexp_extract('ab12', '([a-z]+)(\\d+)', 2) AS g",
    "string_agg_ordered" -> "SELECT string_agg(x, ',' ORDER BY x DESC) AS s FROM (VALUES ('a'),('b')) t(x)",
    "list_ordered" -> "SELECT list(x ORDER BY x DESC) AS l FROM (VALUES (1),(2)) t(x)",
    "first_ordered" -> "SELECT first(x ORDER BY x DESC) AS f FROM (VALUES (1),(2)) t(x)",
    "any_value_ordered" -> "SELECT any_value(x ORDER BY x) AS a FROM (VALUES (3),(1)) t(x)",
    "grouping_id_fn" -> "SELECT grouping_id(x) AS g FROM (VALUES (1)) t(x) GROUP BY ROLLUP(x) ORDER BY 1",
    "printf_fn" -> "SELECT printf('%d-%s', 7, 'x') AS s",
    "format_braces" -> "SELECT format('{}-{}', 1, 'a') AS s",
    "format_positional" -> "SELECT format('{1}{0}', 'a', 'b') AS s",
    "bar_fn" -> "SELECT bar(5, 0, 10, 4) AS b",
    "strftime_tail" -> "SELECT strftime(TIMESTAMP '2024-06-01 10:20:30', '%j|%W|%U|%u|%w|%y|%G|%V|%-d|%A|%B') AS s",
    "strptime_my" -> "SELECT CAST(strptime('04/2024', '%m/%Y') AS VARCHAR) AS t",
    "mode_window" -> "SELECT mode(x) OVER () AS m FROM (VALUES (1),(1),(2)) t(x) LIMIT 1",
    "median_window" -> "SELECT median(x) OVER () AS m FROM (VALUES (1),(2),(3)) t(x) LIMIT 1",
    "quantile_window" -> "SELECT quantile_cont(x, 0.5) OVER () AS q FROM (VALUES (1),(2)) t(x) LIMIT 1",
    "chained_subscript" -> "SELECT ([[1,2],[3,4]])[2][1] AS x",
    "unnest_struct" -> "SELECT unnest({'a': 1, 'b': 2}) AS u",
    "unnest_recursive" -> "SELECT unnest([{'a':1}], recursive := true) AS u",
    "series_ts_step" -> "SELECT generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-02', INTERVAL 12 HOUR) AS s",
    "range_date_step" -> "SELECT range(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY) AS r")

  // information_schema, duckdb_columns(), version(), glob()
  private val batch15 = Seq(
    "is_tables" -> "SELECT table_name, table_type FROM information_schema.tables WHERE table_name = 'nation'",
    "is_tables_view" -> ("SELECT count(*) > 0 AS ok FROM information_schema.tables " +
      "WHERE table_type = 'BASE TABLE'"),
    "is_columns" -> ("SELECT column_name, ordinal_position, is_nullable, data_type " +
      "FROM information_schema.columns WHERE table_name = 'region' ORDER BY ordinal_position"),
    "is_schemata" -> "SELECT count(*) > 0 AS ok FROM information_schema.schemata WHERE schema_name = 'main'",
    "duckdb_columns_fn" -> ("SELECT column_name, column_index, data_type, is_nullable " +
      "FROM duckdb_columns() WHERE table_name = 'region' ORDER BY column_index"),
    "pragma_version_fn" -> "SELECT library_version FROM pragma_version()",
    "version_fn" -> "SELECT version() AS v",
    "current_schema_fn" -> "SELECT current_schema() AS s",
    "current_database_fn" -> "SELECT current_database() AS d",
    "current_schemas_fn" -> "SELECT current_schemas(true) AS s",
    "glob_fn" -> s"SELECT count(*) AS n FROM glob('$sf/*.parquet')",
    "glob_col" -> s"SELECT file FROM glob('$sf/nation.*') LIMIT 1")

  // compensated sums, discrete quantiles, regression aggregates
  private val batch16 = Seq(
    "fsum" -> "SELECT fsum(n_nationkey) AS s FROM nation",                 // 300.0
    "kahan_sum" -> "SELECT kahan_sum(n_nationkey) AS s FROM nation",       // 300.0
    "favg" -> "SELECT favg(n_nationkey) AS a FROM nation",                 // 12.0
    "product" -> "SELECT product(n_regionkey + 1) AS p FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 5)", // 120.0 on keys 0..4
    "quantile_disc" -> "SELECT quantile_disc(n_nationkey, 0.5) AS q FROM nation", // 12
    "quantile_disc_list" -> "SELECT quantile_disc(n_nationkey, [0.25, 0.75]) AS q FROM nation", // [6, 18]
    "corr" -> "SELECT round(corr(n_nationkey, n_regionkey), 6) AS c FROM nation", // 0.196116
    "covar_samp" -> "SELECT round(covar_samp(n_nationkey, n_regionkey), 6) AS c FROM nation", // 2.083333
    "covar_pop" -> "SELECT round(covar_pop(n_nationkey, n_regionkey), 6) AS c FROM nation",
    "regr_slope" -> "SELECT round(regr_slope(n_nationkey, n_regionkey), 6) AS r FROM nation", // 1.0
    "regr_intercept" -> "SELECT round(regr_intercept(n_nationkey, n_regionkey), 6) AS r FROM nation",
    "regr_count" -> "SELECT regr_count(n_nationkey, n_regionkey) AS r FROM nation", // 25
    "regr_r2" -> "SELECT round(regr_r2(n_nationkey, n_regionkey), 6) AS r FROM nation",
    "regr_avgx" -> "SELECT round(regr_avgx(n_nationkey, n_regionkey), 6) AS r FROM nation",
    "regr_avgy" -> "SELECT round(regr_avgy(n_nationkey, n_regionkey), 6) AS r FROM nation",
    "approx_quantile" -> "SELECT approx_quantile(n_nationkey, 0.5) IS NOT NULL AS ok FROM nation",
    "skewness" -> "SELECT round(skewness(n_nationkey), 6) AS s FROM nation") // 0.0

  // string, path, format and interval tails
  private val batch17 = Seq(
    "neg_left" -> "SELECT left('hello', -2) AS v",
    "concat_null" -> "SELECT concat('abc', NULL) AS v",
    "parse_paths" -> "SELECT parse_dirname('/a/b/c'), parse_dirpath('a/b/c'), parse_filename('a/b.tar.gz', true)",
    "md5_halves" -> "SELECT md5_number_lower('abc'), md5_number_upper('abc')",
    "typeof_duck" -> "SELECT typeof('x'), typeof(1::BIGINT), typeof([1])",
    "printf_float" -> "SELECT printf('%5.2f', 3.14159) AS v",
    "format_spec" -> "SELECT format('{:.2f}|{:,}', 3.14159, 1234567) AS v",
    "list_tails" -> "SELECT list_resize([1,2], 4, 0), array_reverse([1,2]), list_apply([1], x -> x + 1), reduce([1,2,3], (a, b) -> a + b)",
    "epoch_interval" -> "SELECT extract(epoch FROM INTERVAL '1 month'), date_part('epoch', INTERVAL '2 days 3 hours')",
    "mixed_interval" -> "SELECT CAST(INTERVAL '1 month 2 days 3 hours' AS VARCHAR) AS v",
    "strptime_list" -> "SELECT CAST(strptime('03/07/2024', ['%Y-%m-%d', '%d/%m/%Y']) AS VARCHAR) AS v",
    "group_concat" -> "SELECT group_concat(r_name, '|' ORDER BY r_name) AS v FROM region",
    "similar_to" -> "SELECT 'abc' SIMILAR TO 'a.c' AS v",
    "substring_from" -> "SELECT substring('hello' FROM 2 FOR 3) AS v",
    "trim_spec" -> "SELECT trim(BOTH 'x' FROM 'xxaxx') AS v",
    "date_plus_int" -> "SELECT DATE '2024-01-01' + 5 AS v",
    "bit_shifts" -> "SELECT 1 << 5 AS a, 64 >> 2 AS b, 2 ** 8 AS c, 2 ^ 8 AS d",
    "bin_fn" -> "SELECT bin(10) AS v",
    "to_timestamp_fn" -> "SELECT CAST(to_timestamp(86400) AS VARCHAR) AS v",
    "make_time_fn" -> "SELECT CAST(make_time(1, 2, 3.5) AS VARCHAR) AS v")

  // JSON constructors, nested-type tails
  private val batch19 = Seq(
    "json_ctor" -> "SELECT json(' {\"b\" : 2, \"a\":1} ') AS v",
    "json_quote" -> "SELECT json_quote('he\"llo') AS v",
    "json_array" -> "SELECT json_array(1, 'a', NULL) AS v",
    "json_object" -> "SELECT json_object('k', 1) AS v",
    "json_group" -> "SELECT json_group_array(x) AS a, json_group_object(CAST(x AS VARCHAR), x) AS o FROM (VALUES (1),(2)) t(x)",
    "json_pointer" -> "SELECT json_extract('{\"a\":[1,2]}', '/a/1') AS v",
    "neg_slice" -> "SELECT list_slice([1,2,3,4,5], 2, -2) AS l, ('abcdef')[2:-2] AS s",
    "null_list_cat" -> "SELECT list_cat([1], NULL) AS a, list_cat(NULL, NULL) IS NULL AS b",
    "list_unique_nn" -> "SELECT list_unique([1,1,2,NULL]) AS v",
    "array_length_dim" -> "SELECT array_length([1,2,3], 1) AS v",
    "regexp_escape" -> "SELECT regexp_escape('a.b*c') AS v",
    "blob_typed_lit" -> "SELECT base64(BLOB 'ab') AS v",
    "unicode_chr" -> "SELECT chr(8364) AS v",
    "bigint_length" -> "SELECT typeof(length('abc')) AS v",
    "map_fns" -> "SELECT map_keys(MAP {'x': 1}) AS k, cardinality(MAP {'a': 1, 'b': 2}) AS c",
    "like_escape" -> "SELECT 'a_b' LIKE 'a#_b' ESCAPE '#' AS v",
    "list_compare" -> "SELECT [1,2] < [1,3] AS v, {'a':1} = {'a':1} AS w")

  // FETCH FIRST, day numbering, strlen, epoch constructors
  private val batch20 = Seq(
    "fetch_first" -> "SELECT r_name FROM region ORDER BY r_regionkey FETCH FIRST 2 ROWS ONLY",
    "day_numbering" -> "SELECT dayofweek(DATE '2024-03-05') AS d, weekday(DATE '2024-03-03') AS w, isodow(DATE '2024-03-03') AS i",
    "strlen_bytes" -> "SELECT strlen('abc') AS a, length('abc') AS b",
    "mk_ts_micros" -> "SELECT make_timestamp(1700000000000000) AS v",
    "localtime" -> "SELECT current_localtime() IS NOT NULL AS v",
    "tz_components" -> "SELECT timezone_hour(TIMESTAMP '2024-01-01 00:00:00') AS h, timezone_minute(TIMESTAMP '2024-01-01 00:00:00') AS m",
    "offset_only" -> "SELECT r_name FROM region ORDER BY r_regionkey OFFSET 3",
    "interval_cmp" -> "SELECT INTERVAL 1 DAY > INTERVAL 23 HOUR AS v",
    "to_intervals" -> "SELECT CAST(to_days(30) AS VARCHAR) AS d, CAST(to_hours(5) AS VARCHAR) AS h",
    "distinct_on" -> "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name FROM nation ORDER BY n_regionkey, n_name DESC",
    "case_form" -> "SELECT CASE 2 WHEN 1 THEN 'a' WHEN 2 THEN 'b' END AS v",
    "mod_signs" -> "SELECT mod(-7, 3) AS a, (-7) % 3 AS b",
    "round_half" -> "SELECT round(2.5) AS a, round(-2.5) AS b, round(2.345, -1) AS c")

  // Spark-SQL spellings a client may also send
  private val batchMini = unnamed(
    "SELECT row_number() OVER (ORDER BY 1) FROM range(3)",
    "SELECT row_number() OVER (ORDER BY 'c') FROM range(3)",
    "SELECT row_number() OVER (ORDER BY null) FROM range(3)",
    s"SELECT * FROM parquet.`$sf/nation.parquet` LIMIT 1",
    "SELECT count(*) FROM orders TABLESAMPLE (5 PERCENT)",
    "SELECT count(*) FROM orders TABLESAMPLE (10 ROWS)",
    "SELECT named_struct('a', 1).a",
    "SELECT map('k', 1, 'j', 2)",
    "SELECT 'abc' RLIKE '^(?:a.c)$'",
    "SELECT CAST('ab' AS BINARY)",
    "SELECT unhex('AA')",
    "SELECT o_orderkey FROM orders WHERE o_totalprice > (SELECT max(__qc) FROM (SELECT 0.0) AS __q(__qc)) LIMIT 1",
    "SELECT substring('abcdef', 2, 3)",
    "SELECT 1 WHERE 3 IN (SELECT * FROM range(5))")

  for ((batch, rows) <- Seq("2" -> batch2, "3" -> batch3, "4" -> batch4,
      "5" -> batch5, "6" -> batch6, "7" -> batch7, "8" -> batch8,
      "9" -> batch9, "10" -> batch10, "11" -> batch11, "12" -> batch12,
      "13" -> batch13, "14" -> batch14, "15" -> batch15, "16" -> batch16,
      "17" -> batch17, "19" -> batch19, "20" -> batch20, "mini" -> batchMini))
    test(s"probe batch $batch: every statement executes through the gateway") {
      val failed = rows.flatMap { case (name, sql) =>
        try { gw.sql(sql).collect(); None }
        catch { case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.toString)
          Some(s"$name: ${msg.linesIterator.find(_.trim.nonEmpty).getOrElse("")}")
        }
      }
      if (failed.nonEmpty)
        fail(s"${failed.size} of ${rows.size} statements failed:\n${failed.mkString("\n")}")
    }

  test("TIME probes return TYPED values (round-7: native TimeType)") {
    import org.apache.spark.sql.types.TimeType
    for (sql <- Seq(
        "SELECT get_current_time() AS t",
        "SELECT TIME '23:59:59.999999' AS t",
        "SELECT CAST(TIMESTAMP '2024-06-01 08:30:00' AS TIME) AS t",
        "SELECT make_time(1, 2, 3.5) AS t")) {
      val df = gw.sql(sql)
      assert(df.schema.head.dataType.isInstanceOf[TimeType],
        s"$sql -> ${df.schema.head.dataType}")
      assert(df.collect().head.get(0) != null, sql)
    }
  }
}
