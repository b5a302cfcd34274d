package graft.engine

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture registration: a "database" is a directory of parquet files
  * (TESTDATA.md), mirroring the reference's single-file attached DuckDB
  * database opened read-only (/root/reference/main.go:31,61). Each table
  * becomes a temp view in the SparkSession catalog.
  *
  * Scale note: a Parquet read partitions by file/row-group, so the
  * same registration works unchanged on a 100 TB multi-file dataset; no
  * data is materialized here (views are lazy logical plans).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts is parquet timestamp[ns]; Spark's vectorized reader has no
    * ns timestamp type. We read it via the legacy nanos-as-long mode and
    * rebuild a µs TIMESTAMP_NTZ (floor-div 1000) — the same truncation
    * DuckDB applies when casting TIMESTAMP_NS → TIMESTAMP, keeping the
    * oracle comparable (SURVEY.md §1.4).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark).load(path)
      raw.schema("ts").dataType match {
        case LongType =>
          // integer div, NOT `/` (double division loses precision on
          // ns-epoch longs > 2^53 and shifts timestamps by ~1 µs)
          raw.withColumn(
            "ts",
            timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
        case _ => raw // future Spark versions may read ns natively
      }
    } else parquet(spark).load(path)
  }

  /** Every fixture table and `read_parquet` file scans through
    * [[graft.sources.GraftParquet]]: Spark's Parquet reader with a
    * smaller per-scan conf broadcast. */
  def parquet(spark: SparkSession): DataFrameReader =
    spark.read.format(classOf[graft.sources.GraftParquet].getName)

  /** Weak keys: per-client gateway sessions must be collectable once the
    * client is gone — a strong session→dir map would pin every session
    * (and its temp-view catalog) for the life of a serving process.
    */
  private val current = new java.util.WeakHashMap[SparkSession, String]()

  /** Register every fixture table as a temp view. Called at the top of
    * every declared query fn; memoized on the session's CURRENT dir so a
    * 90-query run pays the parquet footer/listing cost once, not 90× —
    * and switching dirs mid-session still re-registers correctly.
    *
    * The whole check-and-register is synchronized: with concurrent
    * callers (Bench worker pool, gateway clients) a plain put-then-check
    * would let a second thread see the dir marker and query views that
    * the first thread hasn't created yet.
    */
  def register(spark: SparkSession, dir: String): Unit =
    current.synchronized {
      if (current.get(spark) != dir) {
        // Let AQE re-plan (coalesce/skew-split) INSIDE cached plans —
        // off by Spark default for output-partitioning stability, which
        // this engine never relies on (every declared query ends in an
        // explicit sort or aggregation). Without it every CacheOnce
        // relation builds and re-reads at the full static shuffle width
        // regardless of size: measured r18 on pipe_compact (3 cached
        // relations), 32-task stages of 5-9 s cumulative task time fell
        // to 2-task stages of ~0.2 s, steady-state 2.76 s → 1.45 s.
        // Scale-neutral: AQE sizes partitions by bytes either way.
        spark.conf.set(
          "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        names.foreach { n => load(spark, dir, n).createOrReplaceTempView(n) }
        current.put(spark, dir)
      }
    }

  /** The fixture dir this session's views were registered from — a
    * stable identity for per-dataset memos (e.g. the IVF index's trained
    * centroids) when a query body only receives the session.
    */
  def dirOf(spark: SparkSession): Option[String] =
    current.synchronized(Option(current.get(spark)))
}
