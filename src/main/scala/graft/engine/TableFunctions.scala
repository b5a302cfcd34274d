package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions.{col, expr, input_file_name, lit, regexp_replace}
import scala.jdk.CollectionConverters._

/** DuckDB's table functions, resolved by Catalyst: each is a builder in
  * the gateway session's table-function registry, so `read_csv(…)`,
  * `pragma_table_info(…)` or `duckdb_tables()` stand wherever a relation
  * may (FROM, JOIN, CTE, subquery), on every entry point of the session
  * (Gateway.sql, Flight, Thrift/JDBC) — DuckDB's binder makes the same
  * one decision (SIGMOD 2019). A builder receives its resolved constant
  * arguments, `name => value` options included, and returns a plan
  * aliased by the function's name (DuckDB 1.0: `read_csv.x`); the
  * analyzer plans it per statement, so file reads see the files as they
  * are now.
  *
  * Dialect rewrites only what Spark's parser cannot take: `FROM 'x.csv'`
  * becomes `graft_read_file('x.csv')` (aliased by the file stem `x`,
  * DuckDB's replacement-scan name), `name=value` reader options become
  * `name => value`, and `information_schema.tables` becomes
  * `information_schema_tables()`.
  */
object TableFunctions {

  /** A call's constant arguments, evaluated to Scala values (String,
    * Boolean, numbers, Seq for lists, Row for structs): the positional
    * ones in order, the `name => value` ones by lower-cased name.
    */
  private final case class Args(fn: String, positional: Seq[Any], named: Map[String, Any]) {
    def str(i: Int): String = positional.lift(i) match {
      case Some(s: String) => s
      case _ => throw new GatewayException(
        s"$fn: argument ${i + 1} must be a string literal")
    }
    def none(): Unit =
      if (positional.nonEmpty || named.nonEmpty)
        throw new GatewayException(s"$fn takes no arguments")
  }

  private def evalArgs(fn: String, exprs: Seq[Expression]): Args = {
    def value(e: Expression): Any =
      if (e.foldable) CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
      else throw new GatewayException(s"$fn: arguments must be constants, got ${e.sql}")
    val (named, positional) = exprs.partition(_.isInstanceOf[NamedArgumentExpression])
    Args(fn, positional.map(value), named.collect {
      case NamedArgumentExpression(k, v) => k.toLowerCase -> value(v)
    }.toMap)
  }

  /** The catalog views DuckDB serves under the same names as its
    * functions: `duckdb_x()` resolves the current `duckdb_x` view, so
    * `duckdb_extensions()` follows INSTALL/LOAD. duckdb_tables/views/
    * functions/settings/columns are LIVE (sources.LiveCatalogSource
    * re-reads the session catalog at scan planning); the rest are
    * constant relations with DuckDB 1.0's columns, typed EMPTY for
    * catalog objects this engine does not have (indexes, sequences, …),
    * the answer a fresh DuckDB gives.
    */
  private val liveViews = Seq("tables", "views", "functions", "settings", "columns")
  private val mapT = "CAST(map() AS MAP<STRING,STRING>)"
  private val constViews: Seq[(String, String)] = Seq(
    // reserved/keyword list: the served dialect's reserved words
    "keywords" ->
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
        |('with')""".stripMargin,
    // the engine's served logical types (SURVEY §1.4 mapping)
    "types" ->
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
         |('MAP',NULL,'COMPOSITE')""".stripMargin,
    "schemas" ->
      s"""SELECT CAST(col1 AS BIGINT) AS oid, col2 AS database_name,
         |  CAST(col3 AS BIGINT) AS database_oid, col4 AS schema_name,
         |  CAST(NULL AS STRING) AS comment, $mapT AS tags,
         |  col5 AS internal, CAST(NULL AS STRING) AS sql
         |FROM VALUES (0,'memory',0,'main',false),
         |  (1,'system',1,'main',true),(2,'temp',2,'main',true)""".stripMargin,
    "databases" ->
      s"""SELECT col1 AS database_name, CAST(col2 AS BIGINT) AS database_oid,
         |  CAST(NULL AS STRING) AS path, CAST(NULL AS STRING) AS comment,
         |  $mapT AS tags, col3 AS internal, 'duckdb' AS type,
         |  true AS readonly
         |FROM VALUES ('memory',0,false),('system',1,true),
         |  ('temp',2,true)""".stripMargin,
    "constraints" ->
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
        |LIMIT 0""".stripMargin,
    "indexes" ->
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
         |LIMIT 0""".stripMargin,
    "sequences" ->
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
         |LIMIT 0""".stripMargin,
    "dependencies" ->
      """SELECT CAST(NULL AS BIGINT) AS classid,
        |  CAST(NULL AS BIGINT) AS objid, CAST(NULL AS INT) AS objsubid,
        |  CAST(NULL AS BIGINT) AS refclassid,
        |  CAST(NULL AS BIGINT) AS refobjid,
        |  CAST(NULL AS INT) AS refobjsubid,
        |  CAST(NULL AS STRING) AS deptype LIMIT 0""".stripMargin,
    "temporary_files" ->
      """SELECT CAST(NULL AS STRING) AS path,
        |  CAST(NULL AS BIGINT) AS size LIMIT 0""".stripMargin,
    "memory" ->
      """SELECT col1 AS tag, CAST(0 AS BIGINT) AS memory_usage_bytes,
        |  CAST(0 AS BIGINT) AS temporary_storage_bytes
        |FROM VALUES ('BASE_TABLE'),('HASH_TABLE'),('PARQUET_READER'),
        |('CSV_READER'),('ORDER_BY'),('ART_INDEX'),('COLUMN_DATA'),
        |('METADATA'),('OVERFLOW_STRINGS'),('IN_MEMORY_TABLE'),
        |('ALLOCATOR'),('EXTENSION')""".stripMargin,
    // the optimizers THIS engine actually runs (Catalyst batches) —
    // honest introspection, not a copy of DuckDB's list
    "optimizers" ->
      """SELECT col1 AS name FROM VALUES ('PushDownPredicates'),
        |('ColumnPruning'),('CollapseProject'),('ConstantFolding'),
        |('NullPropagation'),('BooleanSimplification'),
        |('SimplifyCasts'),('ReorderJoin'),('EliminateOuterJoin'),
        |('InferFiltersFromConstraints'),('PruneFilters'),
        |('RewritePredicateSubquery'),('DecorrelateInnerQuery'),
        |('CombineFilters'),('LimitPushDown'),('CollapseWindow'),
        |('OptimizeSkewedJoin'),('CoalesceShufflePartitions')""".stripMargin,
    "secrets" ->
      """SELECT CAST(NULL AS STRING) AS name, CAST(NULL AS STRING) AS type,
        |  CAST(NULL AS STRING) AS provider,
        |  CAST(NULL AS BOOLEAN) AS persistent,
        |  CAST(NULL AS STRING) AS storage,
        |  CAST(array() AS ARRAY<STRING>) AS scope,
        |  CAST(NULL AS STRING) AS secret_string LIMIT 0""".stripMargin)

  /** The rest of DuckDB's zero-argument table functions: the query each
    * one answers (DuckDB 1.0's columns). */
  private val constFunctions: Seq[(String, String)] = Seq(
    "checkpoint" -> "SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0",
    "force_checkpoint" -> "SELECT CAST(NULL AS BOOLEAN) AS Success LIMIT 0",
    "icu_calendar_names" ->
      """SELECT col1 AS name FROM VALUES ('gregorian'),('japanese'),
        |('buddhist'),('roc'),('persian'),('islamic'),('islamic-civil'),
        |('islamic-umalqura'),('islamic-tbla'),('islamic-rgsa'),('hebrew'),
        |('chinese'),('indian'),('coptic'),('ethiopic'),
        |('ethiopic-amete-alem'),('iso8601'),('dangi')""".stripMargin,
    "pragma_platform" -> "SELECT 'linux_amd64' AS platform",
    "pragma_collations" ->
      """SELECT col1 AS collname FROM VALUES ('default'),('c'),('posix'),
        |('nocase'),('noaccent'),('nfc')""".stripMargin,
    "pragma_metadata_info" ->
      """SELECT CAST(NULL AS BIGINT) AS block_id,
        |  CAST(NULL AS BIGINT) AS total_blocks,
        |  CAST(NULL AS BIGINT) AS free_blocks,
        |  CAST(array() AS ARRAY<BIGINT>) AS free_list LIMIT 0""".stripMargin,
    "pragma_user_agent" ->
      s"SELECT 'graft/0.5.0(spark-${org.apache.spark.SPARK_VERSION})' AS user_agent")

  /** pragma_storage_info('t'): parquet-backed relations have no DuckDB
    * storage blocks — typed empty, like a fresh in-memory DuckDB. */
  private val storageInfo =
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
        |LIMIT 0""".stripMargin

  private type Builder = Args => LogicalPlan

  private def aliased(name: String, df: DataFrame): LogicalPlan =
    SubqueryAlias(name, df.queryExecution.analyzed)

  /** Every table function the engine serves, by name. */
  private def builders(sess: SparkSession, liveKey: String): Seq[(String, Builder)] = {
    def frame(name: String)(f: Args => DataFrame): (String, Builder) =
      name -> (a => aliased(name, f(a)))
    def noArgs(name: String)(df: => DataFrame): (String, Builder) =
      frame(name) { a => a.none(); df }
    val catalog = (liveViews ++ constViews.map(_._1) :+ "extensions").map { v =>
      val name = s"duckdb_$v"
      name -> { (a: Args) => a.none(); SubqueryAlias(name, UnresolvedRelation(Seq(name))) }
    }
    // information_schema.{tables,columns,schemata}, named as DuckDB
    // names the relation (`tables.table_name`)
    val infoSchema = Seq("tables" -> "is_tables", "columns" -> "is_columns",
      "schemata" -> "schemata").map { case (v, view) =>
      s"information_schema_$v" -> { (a: Args) =>
        a.none(); aliased(v, liveCatalog(sess, liveKey, view))
      }
    }
    val readers = Seq("read_parquet", "parquet_scan", "read_csv",
      "read_csv_auto", "read_json", "read_json_auto", "read_ndjson",
      "read_ndjson_auto", "read_text", "read_blob").map(fn =>
      frame(fn)(a => read(sess, a, readerKind(fn))))
    catalog ++ infoSchema ++ readers ++
      constFunctions.map { case (n, q) => noArgs(n)(sess.sql(q)) } ++ Seq(
      noArgs("pragma_version")(version(sess)),
      noArgs("pragma_database_size")(databaseSize(sess)),
      noArgs("pragma_database_list") {
        import sess.implicits._
        Seq((0L, sess.catalog.currentCatalog(), Tables.dirOf(sess).getOrElse("memory")))
          .toDF("seq", "name", "file")
      },
      noArgs("pg_timezone_names")(timezones(sess)),
      frame("pragma_storage_info") { a => a.str(0); sess.sql(storageInfo) },
      frame("pragma_table_info")(a => tableInfo(sess, a.str(0))),
      frame("pragma_show")(a => describe(sess, sess.table(a.str(0)).schema)),
      frame("summarize")(a => summarize(sess, a.str(0))),
      frame("parquet_schema")(a => parquetSchema(sess, a.str(0))),
      frame("parquet_metadata")(a => parquetMetadata(sess, a.str(0))),
      frame("parquet_file_metadata")(a => parquetFileMeta(sess, a.str(0))),
      frame("parquet_kv_metadata")(a => parquetKvMeta(sess, a.str(0))),
      // query_table('name') → the named relation (DuckDB 1.1); a
      // non-constant argument keeps the analyzer's error
      "query_table" -> (a => SubqueryAlias("query_table", UnresolvedRelation(
        sess.sessionState.sqlParser.parseMultipartIdentifier(a.str(0))))),
      frame("glob")(a => glob(sess, a.str(0))),
      // repeat('s', n): n rows of 's', the column named by the value
      frame("repeat") { a =>
        val n = a.positional.lift(1) match {
          case Some(n: Number) => n.longValue
          case _ => throw new GatewayException("repeat: argument 2 must be an integer")
        }
        val v = a.positional.head
        sess.range(n).select(lit(v).as(String.valueOf(v)))
      },
      // `FROM 'dir/x.csv'` (Dialect's rewrite): aliased by the file
      // stem `x`, DuckDB's replacement-scan name; a user alias wraps it
      "graft_read_file" -> { a =>
        val path = a.str(0)
        val stem = path.reverse.takeWhile(c => c != '/' && c != '\\')
          .reverse.takeWhile(_ != '.')
        aliased(stem, read(sess, a, extensionKind(path)))
      })
  }

  /** Install the catalog views and every builder into `sess`. */
  def register(sess: SparkSession): Unit = {
    Gateway.publishExtensionsView(sess, Gateway.extensionRegistry)
    val key = graft.sources.LiveCatalog.registerSession(sess)
    liveViews.foreach(v =>
      liveCatalog(sess, key, v).createOrReplaceTempView(s"duckdb_$v"))
    constViews.foreach { case (v, q) =>
      sess.sql(q).createOrReplaceTempView(s"duckdb_$v")
    }
    val reg = sess.sessionState.tableFunctionRegistry
    builders(sess, key).foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name,
        (exprs: Seq[Expression]) => b(evalArgs(name, exprs)), "internal")
    }
  }

  private def liveCatalog(sess: SparkSession, key: String, view: String): DataFrame =
    sess.read.format("graft.sources.LiveCatalogSource")
      .option("view", view).option("session", key).load()

  // ---- the PRAGMA family (statement and table-function form) ---------

  def tableInfo(sess: SparkSession, table: String): DataFrame = {
    import sess.implicits._
    sess.table(table).schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
      (i, f.name, graft.sources.LiveCatalog.duckTypeName(f.dataType),
        !f.nullable, null.asInstanceOf[String], false)
    }.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  def version(sess: SparkSession): DataFrame = {
    import sess.implicits._
    Seq(("v0.5.0-graft", s"spark-${sess.version}"))
      .toDF("library_version", "source_id")
  }

  def databaseSize(sess: SparkSession): DataFrame = {
    import sess.implicits._
    val dir = Tables.dirOf(sess)
    val bytes = dir.map { d =>
      Option(new java.io.File(d).listFiles()).map(_.filter(_.isFile).map(_.length).sum)
        .getOrElse(0L)
    }.getOrElse(0L)
    def human(b: Long): String =
      if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.1f GiB"
      else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
      else if (b >= (1L << 10)) f"${b / (1L << 10).toDouble}%.1f KiB"
      else s"$b bytes"
    val rt = Runtime.getRuntime
    Seq((dir.getOrElse("memory"), human(bytes), 262144L, 0L, 0L, 0L,
      "0 bytes", human(rt.totalMemory - rt.freeMemory), human(rt.maxMemory)))
      .toDF("database_name", "database_size", "block_size",
        "total_blocks", "used_blocks", "free_blocks", "wal_size",
        "memory_usage", "memory_limit")
  }

  /** DuckDB `DESCRIBE` / `SHOW t` / `pragma_show` column layout. */
  def describe(sess: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import sess.implicits._
    schema.fields.toSeq.map { f =>
      (f.name, graft.sources.LiveCatalog.duckTypeName(f.dataType),
        if (f.nullable) "YES" else "NO",
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String])
    }.toDF("column_name", "column_type", "null", "key", "default", "extra")
  }

  /** DuckDB `SUMMARIZE t`: one row per column — (column_name,
    * column_type, min, max, approx_unique, avg, std, q25, q50, q75,
    * count, null_percentage), the stat cells as VARCHAR like DuckDB.
    * ONE aggregate job over the table (all per-column stats in a single
    * agg row, partial/final combined), then a driver-side reshape
    * bounded by the COLUMN count — scale-safe by construction.
    */
  private def summarize(sess: SparkSession, table: String): DataFrame = {
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val df = sess.table(table)
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

  /** The JVM's zone list, offsets as day-time intervals. */
  private def timezones(sess: SparkSession): DataFrame = {
    import sess.implicits._
    val now = java.time.Instant.now()
    java.time.ZoneId.getAvailableZoneIds.asScala.toSeq.sorted.map { z =>
      val rules = java.time.ZoneId.of(z).getRules
      (z, rules.getStandardOffset(now).getId,
        rules.getOffset(now).getTotalSeconds.toLong, rules.isDaylightSavings(now))
    }.toDF("name", "abbrev", "off_s", "is_dst")
      .select(col("name"), col("abbrev"),
        expr("make_dt_interval(0, 0, 0, off_s)").as("utc_offset"), col("is_dst"))
  }

  /** glob('pattern'): one `file` column, listed now through the Hadoop
    * FS (local paths and any configured remote FS). */
  private def glob(sess: SparkSession, pattern: String): DataFrame = {
    import sess.implicits._
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(sess.sessionState.newHadoopConf())
    Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .map(_.getPath.toUri.getPath).sorted.toDF("file")
  }

  // ---- file readers --------------------------------------------------

  private def readerKind(fn: String): String = fn match {
    case "read_csv" | "read_csv_auto" => "csv"
    case "read_text" => "text"
    case "read_blob" => "blob"
    case "read_parquet" | "parquet_scan" => "parquet"
    case _ => "json"
  }

  private def extensionKind(path: String): String = {
    val p = path.toLowerCase.stripSuffix(".gz")
    if (p.endsWith(".csv") || p.endsWith(".tsv")) "csv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl") || p.endsWith(".ndjson")) "json"
    else "parquet"
  }

  /** Auto-detection knobs that don't change RESULTS (Spark partition-
    * discovers natively; normalize_names=false and binary_as_string=
    * false are the defaults): accepted and ignored. */
  private val ignorableOpts = Set("auto_detect", "sample_size",
    "compression", "hive_partitioning", "normalize_names",
    "binary_as_string", "maximum_object_size", "records", "parallel")
  private val readerOpts = Set("header", "delim", "sep", "quote",
    "escape", "nullstr", "all_varchar", "columns", "names",
    "dateformat", "timestampformat", "ignore_errors", "format",
    "filename", "union_by_name")

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

  /** A DuckDB file scan on Spark's reader. The first argument is a path
    * (globs allowed) or a list of paths. DuckDB's common scanner options
    * (verified against DuckDB 1.0): header/delim/sep/quote/escape/
    * nullstr/all_varchar/columns/names/dateformat/timestampformat/
    * ignore_errors (csv); format='array' (json); filename=true adds the
    * source path column; union_by_name=true merges schemas across
    * files. Any other option raises a diagnostic instead of silently
    * dropping semantics.
    */
  private def read(sess: SparkSession, a: Args, kind: String): DataFrame = {
    val paths: Seq[String] = a.positional.headOption match {
      case Some(p: String) => Seq(p)
      case Some(ps: scala.collection.Seq[_]) if ps.nonEmpty => ps.map(String.valueOf).toSeq
      case _ => throw new GatewayException(
        s"${a.fn}: argument 1 must be a path or a list of paths")
    }
    val om = a.named
    val unknown = om.keys.filterNot(k => ignorableOpts(k) || readerOpts(k))
    if (unknown.nonEmpty) throw new GatewayException(
      s"read_$kind: unsupported option(s) ${unknown.mkString(", ")}")
    def str(k: String): Option[String] = om.get(k).map(String.valueOf)
    def bool(k: String): Boolean = str(k).exists(_.equalsIgnoreCase("true"))
    // columns={'n':'TYPE',…} → explicit schema (no inference pass)
    val schemaDdl = om.get("columns").map {
      case r: Row => r.schema.fieldNames.toSeq.zip(r.toSeq)
      case other => throw new GatewayException(
        s"${a.fn}: columns must be a {'name': 'TYPE', …} struct, got $other")
    }.map(_.map { case (n, t) => s"`$n` ${duckTypeDdl(String.valueOf(t))}" }.mkString(", "))
    val df = kind match {
      case "csv" =>
        // header default mirrors DuckDB's auto-detect outcome for the
        // common cases: headered files unless names= says the file is
        // headerless
        var r = sess.read.option("header",
          if (om.contains("header")) bool("header") else !om.contains("names"))
        schemaDdl match {
          case Some(ddl) if !bool("all_varchar") => r = r.schema(ddl)
          case _ => r = r.option("inferSchema", !bool("all_varchar"))
        }
        str("delim").orElse(str("sep")).foreach(v => r = r.option("sep", v))
        str("quote").foreach(v => r = r.option("quote", v))
        str("escape").foreach(v => r = r.option("escape", v))
        str("nullstr").foreach(v => r = r.option("nullValue", v))
        str("dateformat").foreach(v => r = r.option("dateFormat", v))
        str("timestampformat").foreach(v => r = r.option("timestampFormat", v))
        if (bool("ignore_errors")) r = r.option("mode", "DROPMALFORMED")
        if (bool("union_by_name")) r = r.option("mergeSchema", "true")
        val read = r.csv(paths: _*)
        om.get("names") match {
          case Some(ns: scala.collection.Seq[_]) =>
            val names = ns.map(String.valueOf).toSeq
            read.toDF(names ++ read.columns.drop(names.length): _*)
          case _ => read
        }
      case "json" =>
        var r = sess.read
        schemaDdl.foreach(ddl => r = r.schema(ddl))
        // DuckDB format='array': one top-level JSON array per file
        if (str("format").exists(_.equalsIgnoreCase("array")))
          r = r.option("multiLine", "true")
        r.json(paths: _*)
      case "text" | "blob" =>
        // DuckDB's whole-file readers — (filename, content, size,
        // last_modified) — via Spark's binaryFile source; text decodes
        // UTF-8
        sess.read.format("binaryFile").load(paths: _*).select(
          regexp_replace(col("path"), "^file:", "").as("filename"),
          (if (kind == "text") col("content").cast("string") else col("content"))
            .as("content"),
          col("length").as("size"),
          col("modificationTime").cast("timestamp_ntz").as("last_modified"))
      case _ =>
        var r = Tables.parquet(sess)
        if (bool("union_by_name")) r = r.option("mergeSchema", "true")
        r.load(paths: _*)
    }
    // filename=true: DuckDB appends the source path; strip Spark's file:
    // URI scheme so local paths match DuckDB's spelling
    if (bool("filename"))
      df.withColumn("filename", regexp_replace(input_file_name(), "^file:(//)?", ""))
    else df
  }

  // ---- parquet footer introspection ----------------------------------
  // DuckDB's parquet_schema/metadata family: a bounded driver-side footer
  // read of the NAMED file — the same work DuckDB does; never a
  // distributed job. Columns mirror DuckDB 1.0.

  private def withFooter[T](sess: SparkSession, path: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), sess.sessionState.newHadoopConf()))
    try f(r) finally r.close()
  }

  private def parquetSchema(sess: SparkSession, path: String): DataFrame =
    withFooter(sess, path) { r =>
      import sess.implicits._
      val schema = r.getFooter.getFileMetaData.getSchema
      val root = (path, schema.getName, "GROUP", Option.empty[Long],
        "REQUIRED", Option(schema.getFieldCount.toLong),
        Option.empty[Long], Option.empty[Long], Option.empty[String])
      val cols = schema.getFields.asScala.toSeq.map { f =>
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
            Option(f.asGroupType().getLogicalTypeAnnotation).map(_.toString))
      }
      (root +: cols).toDF("file_name", "name", "type", "type_length",
        "repetition_type", "num_children", "scale", "precision",
        "logical_type")
    }

  private def parquetFileMeta(sess: SparkSession, path: String): DataFrame =
    withFooter(sess, path) { r =>
      import sess.implicits._
      Seq((path, r.getFooter.getFileMetaData.getCreatedBy, r.getRecordCount,
        r.getFooter.getBlocks.size.toLong, "1.0",
        null.asInstanceOf[String], null.asInstanceOf[String]))
        .toDF("file_name", "created_by", "num_rows", "num_row_groups",
          "format_version", "encryption_algorithm",
          "footer_signing_key_metadata")
    }

  private def parquetKvMeta(sess: SparkSession, path: String): DataFrame =
    withFooter(sess, path) { r =>
      import sess.implicits._
      r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toSeq
        .map { case (k, v) =>
          (path, k.getBytes("UTF-8"), Option(v).map(_.getBytes("UTF-8")).orNull)
        }.toDF("file_name", "key", "value")
    }

  private def parquetMetadata(sess: SparkSession, path: String): DataFrame =
    withFooter(sess, path) { r =>
      import sess.implicits._
      r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (blk, gi) =>
        blk.getColumns.asScala.toSeq.zipWithIndex.map { case (c, ci) =>
          val st = c.getStatistics
          (path, gi.toLong, blk.getRowCount,
            blk.getColumns.size.toLong, blk.getTotalByteSize,
            ci.toLong, c.getFirstDataPageOffset, c.getValueCount,
            c.getPath.toDotString, c.getPrimitiveType.toString,
            // flatMap: a Statistics object with no min/max (all-null
            // chunk) must surface SQL NULL, not the string "null"
            Option(st).flatMap(s => Option(s.minAsString)).orNull,
            Option(st).flatMap(s => Option(s.maxAsString)).orNull,
            Option(st).filter(_.isNumNullsSet).map(_.getNumNulls).getOrElse(-1L),
            c.getCodec.toString, c.getEncodings.toString,
            c.getDictionaryPageOffset, c.getFirstDataPageOffset,
            c.getTotalSize, c.getTotalUncompressedSize)
        }
      }.toDF("file_name", "row_group_id", "row_group_num_rows",
        "row_group_num_columns", "row_group_bytes", "column_id",
        "file_offset", "num_values", "path_in_schema", "type",
        "stats_min", "stats_max", "stats_null_count", "compression",
        "encodings", "dictionary_page_offset", "data_page_offset",
        "total_compressed_size", "total_uncompressed_size")
    }
}
