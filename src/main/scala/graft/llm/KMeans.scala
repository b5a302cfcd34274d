package graft.llm

import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Lloyd's k-means over an embedding column — the coarse
  * quantizer for the IVF index (SimilarityOps.v4). Each iteration:
  *
  *  - ASSIGN: per-row argmin over the centroid matrix as ONE codegen'd
  *    projection node (expressions.IvfNearest with the centroids as a
  *    reference object) — zero shuffle, linear in the corpus. The r11
  *    rewrite: the previous corpus × broadcast(centroids) cross join +
  *    min_by materialized corpus×k WIDE rows per round just to rank a
  *    per-row array that fits in registers (28 GB/iteration, 73 s/iter
  *    measured at the 512-centroid tier; the projection does the same
  *    FLOPs in ~2 s). IvfNearest replicates the min_by arithmetic
  *    bit-for-bit (same sequential dot fold, same score shapes, ties to
  *    the lower cid), so no centroid moved in the swap.
  *  - UPDATE: posexplode each assigned vector to (cluster, dim, value),
  *    one groupBy (cluster, dim) mean, regroup to arrays. Shuffle volume
  *    is corpus × dim scalars — the same order as reading the vectors —
  *    and the result is k×dim values, collected to the driver because
  *    the NEXT iteration broadcasts exactly that (centroids are
  *    broadcast-sized by definition or IVF doesn't work).
  *
  * Determinism (§7.4 discipline): means route through DECIMAL so
  * accumulation order can't wiggle low bits; argmax ties break on
  * cluster id; empty clusters keep their previous centroid. Same seed →
  * same clustering, run to run, any partitioning.
  */
object KMeans {

  /** `iters` Lloyd rounds from the given initial centroids.
    *
    * @param emb       (id, vec) relation; `vecCol` must be a numeric array
    * @param init      initial centroids, cid → vector (e.g. a
    *                  deterministic sample)
    * @param l2        assign by squared-L2 (product-quantization
    *                  codebooks) instead of the default cosine argmax
    *                  (IVF coarse quantizer). ||x−c||² ranks as
    *                  ||c||² − 2·x·c — the row's own norm is constant
    *                  under the argmin, so the assign stays one dot per
    *                  (row, centroid) either way.
    * @return          cid → centroid vector, same cids as `init`
    */
  def lloyd(
      emb: DataFrame,
      vecCol: String,
      init: Seq[(Int, Array[Double])],
      iters: Int,
      l2: Boolean = false): Seq[(Int, Array[Double])] = {
    var cents = init
    for (_ <- 0 until iters) {
      // ASSIGN: nearest centroid per row as a pure projection — the
      // centroid ids from init are contiguous 0..k-1, so the matrix is
      // cid-indexed; norms are driver-precomputed with the engine's
      // exact fold (IvfNearest.norms)
      val arr = new Array[Array[Double]](cents.length)
      cents.foreach { case (cid, ce) =>
        require(cid >= 0 && cid < arr.length && arr(cid) == null,
          s"lloyd: centroid ids must be contiguous 0..k-1, got $cid")
        arr(cid) = ce
      }
      val cn = graft.engine.expressions.IvfNearest.norms(arr)
      val assigned = emb.select(
        element_at(
          graft.engine.expressions.IvfNearest(col(vecCol), arr, cn, l2, 1),
          1).as("cid"),
        col(vecCol).as("__v"))
      // UPDATE: element-wise DECIMAL-routed mean per cluster
      val means = assigned
        .select(col("cid"), posexplode(col("__v")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(30, 10))) / count(lit(1)))
          .cast(DoubleType).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, x -> x.m)").as("ce"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, prev) => cid -> means.getOrElse(cid, prev) }
    }
    cents
  }
}
