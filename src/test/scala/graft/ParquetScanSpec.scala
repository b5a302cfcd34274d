package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Par, Tables}
import graft.sources.{GraftParquet, LeanConf}

/** Fixture tables and `read_parquet` files scan through GraftParquet:
  * Spark's Parquet reader, handed a conf copy that serializes without
  * its per-entry source records.
  */
class ParquetScanSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gw = graft.engine.Gateway.open(spark, sf)
  private val point = "SELECT * FROM orders WHERE o_orderkey = 7"

  private def scans(p: org.apache.spark.sql.execution.SparkPlan) =
    p.collect { case s: FileSourceScanExec => s }

  /** The broadcast ids `body` created, bracketed by two marker broadcasts. */
  private def broadcastsOf(body: => Unit): Range = {
    val sc = spark.sparkContext
    val lo = sc.broadcast(0).id
    body
    (lo + 1).toInt until sc.broadcast(0).id.toInt
  }

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  test("a served Parquet scan broadcasts one conf, without sources, that reads back to the same map") {
    val plan = gw.sql(point).queryExecution.executedPlan
    assert(scans(plan).map(_.relation.fileFormat.getClass) == Seq(classOf[GraftParquet]))
    val ids = broadcastsOf(plan.execute())
    val sent = ids.flatMap { id =>
      SparkEnv.get.blockManager.getLocalValues(BroadcastBlockId(id)).toSeq.flatMap(_.data.toList)
    }.collect { case c: SerializableConfiguration => c.value }
    assert(sent.size == 1, s"conf broadcasts of one scan: ${sent.size}")
    val conf = sent.head
    assert(conf.isInstanceOf[LeanConf])

    // as an executor reads it: Spark's JavaSerializer over SerializableConfiguration
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    def bytes(c: Configuration) = ser.serialize(new SerializableConfiguration(c))
    val lean = bytes(conf)
    val (leanSize, plainSize) = (lean.limit, bytes(new Configuration(conf)).limit)
    val back = ser.deserialize[SerializableConfiguration](lean).value
    assert(entries(back) == entries(conf))
    assert(entries(conf).size > 1000)
    // readFields records Hadoop's source for a `set` key, not the sender's
    val key = "fs.defaultFS"
    assert(conf.getPropertySources(key).toSeq == Seq("core-default.xml"))
    assert(back.getPropertySources(key).toSeq == Seq("programmatically"))
    info(s"serialized conf: $leanSize bytes lean, $plainSize bytes with sources")
    assert(leanSize < plainSize)
  }

  test("GraftParquet keeps Spark's equality: reads stay sameResult, plans print FileScan parquet") {
    val a = Tables.load(spark, sf, "orders").queryExecution.analyzed
    val b = Tables.load(spark, sf, "orders").queryExecution.analyzed
    assert(a.sameResult(b))
    val (f, g) = (new GraftParquet, new GraftParquet)
    assert(f == g && f.hashCode == g.hashCode)

    assert(gw.sql(point).queryExecution.executedPlan.toString.contains("FileScan parquet"))

    val dir = java.nio.file.Files.createTempDirectory("graft-parquet").toString
    val file = s"$dir/nation_copy.parquet"
    spark.read.parquet(s"$sf/nation.parquet").write.parquet(file)
    val q = gw.sql(s"SELECT * FROM read_parquet('$file') ORDER BY n_nationkey")
    assert(scans(q.queryExecution.sparkPlan).exists(_.relation.fileFormat.isInstanceOf[GraftParquet]))
    val expected = spark.read.parquet(file).orderBy("n_nationkey").collect().toSeq
    assert(q.collect().toSeq == expected && expected.size == 25)
  }

  test("Par.scanWidth counts a scan's partitions like rdd.getNumPartitions, without a broadcast") {
    Tables.register(spark, sf)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      for (max <- Seq(None, Some("16k"))) {
        max.foreach(spark.conf.set(key, _))
        for (t <- Seq("lineitem", "orders", "nation")) {
          val src = spark.table(t).select("*")
          var width = 0
          assert(broadcastsOf { width = Par.scanWidth(src) }.isEmpty, t)
          assert(width == src.rdd.getNumPartitions, s"$t at $max")
        }
      }
      assert(Par.scanWidth(spark.table("lineitem")) > 1) // 16k splits
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a9_quantiles_sketch: the sketch stays within half its 1% envelope at p50 and p95") {
    Tables.register(spark, sf)
    val rows = graft.operators.AggQueries.quantileSketch(spark).collect()
    assert(rows.length == 3)
    for (r <- rows; (p, i) <- Seq("p50", "p95").zipWithIndex) {
      val ex = r.getSeq[Double](1)(i)
      val ap = r.getSeq[Double](2)(i)
      val delta = math.abs(ap - ex) / ex
      info(f"${r.getString(0)} $p%s: exact $ex%.2f sketch $ap%.2f relative delta $delta%.5f")
      assert(delta <= 0.005, s"${r.getString(0)} $p")
    }
  }
}
