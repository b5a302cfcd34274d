package graft

import org.apache.spark.sql.SparkSession

/** Dev probe: time one or more queries end-to-end outside the bench
  * harness — 3 isolated runs each (run 3 is steady state), noop sink,
  * session config mirroring Bench. PROBE_STAGES=1 adds a per-stage
  * profile of each query's LAST run.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.engine.Tables.register(spark, sfDir)
    graft.engine.Functions.freeze(spark)
    spark.table("lineitem").groupBy("l_returnflag").count().collect()
    val names = if (args.nonEmpty) args.toSeq else Seq("t6_recursive_cte")
    sys.env.get("PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    // per-stage profile (PROBE_STAGES=1): one line per completed stage
    // of each query's LAST run, then its task-metric sums — names where
    // a query's time actually goes
    val profile = sys.env.get("PROBE_STAGES").contains("1")
    val metrics = new graft.engine.TaskMetricsListener
    if (profile) spark.sparkContext.addSparkListener(metrics)
    names.foreach { name =>
      (1 to 3).foreach { i =>
        if (i == 3) metrics.reset()
        val t0 = System.nanoTime()
        graft.engine.CacheOnce.scoped {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        System.err.println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3fs " +
          s"(cacheOnce live=${graft.engine.CacheOnce.liveCount} " +
          s"thrash=${graft.engine.CacheOnce.thrashCount.get} " +
          s"keys=${graft.engine.CacheOnce.thrashKeys})")
      }
      if (profile) {
        metrics.stageLines.foreach(l => System.err.println(s"[probe-stage] $l"))
        System.err.println(s"[probe-stage] $name: ${metrics.sums}")
      }
      if (sys.env.get("PROBE_RDDS").contains("1"))
        spark.sparkContext.getRDDStorageInfo.foreach { ri =>
          System.err.println(s"[probe-rdd] id=${ri.id} cached=${ri.numCachedPartitions}/${ri.numPartitions} mem=${ri.memSize / 1024}KB ${ri.name}")
        }
    }
    spark.stop()
  }
}
