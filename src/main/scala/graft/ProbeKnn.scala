package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe for the IVF label-kNN tier path: measures the parts the
  * SCALE row aggregates — coarse-quantizer balance (list-size
  * histogram), the ACTUAL candidate-pair count (probe-weighted, so
  * skew shows up here first), and the query wall with stage-level
  * spill/shuffle from a listener.
  * Usage: runMain graft.ProbeKnn [dir] [nlists] [nprobe]
  */
object ProbeKnn {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val nlists = args.drop(1).headOption.map(_.toInt).getOrElse(512)
    val nprobe = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.engine.Tables.register(spark, dir)
    val t0 = System.nanoTime()
    val labels = graft.llm.SimilarityOps.labelValues(spark)
    val perLabel = math.max(1, nlists / labels.length)
    val cents = graft.llm.SimilarityOps.buildLabelIvfIndex(spark, perLabel)
    System.err.println(s"[probe] per-label build ($perLabel lists/label): " +
      s"${(System.nanoTime() - t0) / 1e9}s")
    // dump centroids for offline analysis
    val w = new java.io.PrintWriter("/tmp/probe_cents.json")
    w.println(cents.map { case (cid, ce) =>
      s"""[$cid,[${ce.mkString(",")}]]""" }.mkString("[", ",\n", "]"))
    w.close()

    // quantizer balance: corpus assignment histogram over (label, list)
    val arr = new Array[Array[Double]](cents.map(_._1).max + 1)
    cents.foreach { case (cid, ce) => arr(cid) = ce }
    val cn = graft.engine.expressions.IvfNearest.norms(arr)
    import graft.engine.expressions.IvfNearestBlock
    import org.apache.spark.sql.functions.typedLit
    val lidx = element_at(typedLit(labels.zipWithIndex.toMap),
      col("label").cast("int"))
    val emb = spark.table("embeddings")
    val sizes = emb.select(col("label"),
      element_at(IvfNearestBlock(col("embedding"), lidx, arr, cn,
        false, 1, perLabel), 1).as("list_id"))
      .groupBy("label", "list_id").count()
    val stats = sizes.agg(
      count(lit(1)).as("cells"), min("count"), expr("percentile(count, 0.5)"),
      avg("count"), expr("percentile(count, 0.99)"), max("count")).head()
    System.err.println(s"[probe] (label,list) cells: $stats")
    // probe-weighted candidate count = the join's real output size
    val probes = emb.select(col("label"),
      explode(IvfNearestBlock(col("embedding"), lidx, arr, cn,
        false, nprobe, perLabel)).as("list_id"))
      .groupBy("label", "list_id").agg(count(lit(1)).as("nq"))
    val pairs = probes.join(sizes, Seq("label", "list_id"))
      .agg(sum(col("nq") * col("count"))).head().getLong(0)
    System.err.println(s"[probe] candidate pairs (incl self): $pairs")

    // full query with stage metrics
    val listener = new graft.engine.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val sym = !sys.env.contains("PROBE_NOSYM")
    // persisted: the recall phase reuses THIS graph instead of
    // recomputing the full 6M-edge query (at the 1000× tier the rerun
    // is another ~31 GB of shuffle — it filled the box's disk twice)
    val df = graft.llm.SimilarityOps.labelKnnIvf(spark, nlists, nprobe, sym)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (sys.env.contains("PROBE_EXPLAIN")) df.explain("formatted")
    val t1 = System.nanoTime()
    val n = df.count()
    spark.sparkContext.removeSparkListener(listener)
    System.err.println(f"[probe] query: ${(System.nanoTime() - t1) / 1e9}%.1fs " +
      s"rows=$n ${listener.sums}")
    listener.stageLines.foreach(l => System.err.println(s"[stage] $l"))
    // recall@3 vs the sampled exact reference at THIS config
    val nEmb = emb.count()
    def edges(d: org.apache.spark.sql.DataFrame) =
      graft.engine.CacheOnce.scoped {
        d.select(col("vec_id"), col("nb")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    val exact = edges(graft.llm.SimilarityOps.labelKnnExactSample(spark))
    val approx = edges(
      df.filter(graft.llm.SimilarityOps.labelKnnSamplePred(1000, nEmb)))
    System.err.println(f"[probe] recall@3 = " +
      f"${approx.intersect(exact).size.toDouble / exact.size}%.4f " +
      f"(nlists=$nlists nprobe=$nprobe)")
    spark.stop()
  }
}
