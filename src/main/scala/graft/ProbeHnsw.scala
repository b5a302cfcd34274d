package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe for the r13 graph-index label-kNN path: wall, stage-level
  * shuffle/spill, and recall@3 vs the sampled exact in-label reference
  * at a given (m, efC, efS) — optionally through the r14 monster-cell
  * shard composition (shardThreshold/shardProbes force it at any tier).
  * Usage: runMain graft.ProbeHnsw [dir] [efS] [m] [efC] [exactBelow]
  *          [shardThreshold] [shardProbes]
  */
object ProbeHnsw {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val efS = args.drop(1).headOption.map(_.toInt).getOrElse(96)
    val m = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val efC = args.drop(3).headOption.map(_.toInt).getOrElse(128)
    val exactBelow = args.drop(4).headOption.map(_.toInt).getOrElse(4096)
    val shardThreshold = args.drop(5).headOption.map(_.toInt).getOrElse(1 << 20)
    val shardProbes = args.drop(6).headOption.map(_.toInt).getOrElse(0) // 0 = derived policy (shardProbesFor), the production default
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.engine.Tables.register(spark, dir)

    val listener = new graft.engine.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val df = graft.llm.SimilarityOps
      .labelKnnHnsw(spark, exactBelow, m, efC, efS, shardThreshold, shardProbes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t1 = System.nanoTime()
    val n = df.count()
    spark.sparkContext.removeSparkListener(listener)
    System.err.println(f"[probe] hnsw query: ${(System.nanoTime() - t1) / 1e9}%.1fs " +
      s"rows=$n ${listener.sums}")
    listener.stageLines.foreach(l => System.err.println(s"[stage] $l"))
    val nEmb = spark.table("embeddings").count()
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
      f"(efS=$efS m=$m efC=$efC exactBelow=$exactBelow " +
      f"shardThreshold=$shardThreshold shardProbes=$shardProbes)")
    spark.stop()
  }
}
