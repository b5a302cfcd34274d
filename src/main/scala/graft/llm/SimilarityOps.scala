package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Q

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors) — BASELINE.json's ANN mandate.
  *
  * All vector math runs in DOUBLE via sequential array folds, matching
  * the DuckDB oracle's `list_cosine_similarity(CAST(… AS DOUBLE[]))`
  * bit-for-bit (same left-to-right accumulation).
  *
  * Scale path: brute force is the correctness baseline (quadratic —
  * never run it on the full corpus); the production layout broadcasts
  * the small query set against the candidate corpus (linear scan, one
  * shuffle for per-query top-k), and the LSH variant buckets by
  * random-hyperplane signature so candidate generation is
  * shuffle-bound, not O(n²) (SURVEY.md §7.5).
  */
object SimilarityOps {

  /** dot(a, b): native codegen'd expression (engine.expressions
    * .DotProduct) — left-to-right double accumulation, oracle-exact, and
    * a primitive loop inside whole-stage codegen instead of an
    * interpreted aggregate(zip_with(...)) fold.
    */
  private def dot(x: Column, y: Column): Column =
    graft.engine.expressions.VectorMath.dot(x, y)

  /** Brute-force cosine top-3 neighbors for a 5-vector query set:
    * broadcast queries × full candidate scan, per-query top-k window.
    */
  val v1 = Q(
    "nn_cosine_topk",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |sims AS (
      |  SELECT qid, vec_id,
      |         ROUND(list_cosine_similarity(qe, e), 6) AS sim
      |  FROM q CROSS JOIN c WHERE vec_id <> qid)
      |SELECT qid, vec_id, sim FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      |  FROM sims) t
      |WHERE rn <= 3
      |ORDER BY qid ASC NULLS LAST, sim DESC NULLS LAST, vec_id ASC NULLS LAST""".stripMargin
  ) { s =>
    // norms computed once per side (narrow projection), not per pair
    val q = s.table("embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    val c = s.table("embeddings")
      .select(col("vec_id"), col("embedding").as("e"),
        sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("e")) / (col("qn") * col("cn")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("sim"))
      // preSort (r19): no range-sampling re-exec of the scoring + top-k
      // window; vec_id defeats the qid-key elision
      .transform(graft.engine.Par.preSort(_, col("qid"), col("vec_id")))
      .orderBy(col("qid").asc_nulls_last, col("sim").desc_nulls_last,
        col("vec_id").asc_nulls_last)
  }

  /** Embedding near-duplicate pairs, label-blocked (the blocking key
    * stands in for an IVF/LSH bucket: candidate pairs only within a
    * block, so the pair count stays shuffle-bound at scale).
    */
  val v2 = Q(
    "nn_cosine_neardup",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) > 0.35
      |ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""".stripMargin
  ) { s =>
    val e = s.table("embeddings")
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("va"),
      sqrt(dot(col("embedding"), col("embedding"))).as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("label"), col("embedding").as("vb"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nb"))
    val sim = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .filter(sim > 0.35)
      .select(col("id_a"), col("id_b"), round(sim, 6).as("sim"))
      // preSort (r19): no range-sampling re-exec of the blocked pair join
      .transform(graft.engine.Par.preSort(_, col("id_a"), col("id_b")))
      .orderBy(col("id_a").asc_nulls_last, col("id_b").asc_nulls_last)
  }

  /** Random-hyperplane LSH bucketing (the at-scale ANN candidate
    * generator): 12-bit signature from deterministic ±1 hyperplanes
    * (seeded off md5, generated driver-side — tiny, broadcast as
    * literals). Oracle-checked: the hyperplanes are pure md5
    * derivations, so DuckDB recomputes them in SQL (hex-digit parity of
    * md5(p:d) = the Scala side's first-byte low bit) and folds the same
    * double-precision dot product; ScalaTest separately checks
    * bucket-recall against brute force.
    */
  val v3 = Q(
    "nn_lsh_buckets",
    """WITH planes AS (
      |  SELECT p,
      |    list_transform(range(64), d ->
      |      CASE WHEN (strpos('0123456789abcdef',
      |        substr(md5(p::VARCHAR || ':' || d::VARCHAR), 2, 1)) - 1) % 2 = 0
      |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
      |  FROM range(12) t(p)),
      |bits AS (
      |  SELECT e.vec_id, p.p,
      |    CASE WHEN list_dot_product(
      |      list_transform(e.embedding, x -> CAST(x AS DOUBLE)), p.plane) > 0
      |    THEN '1' ELSE '0' END AS bit
      |  FROM embeddings e CROSS JOIN planes p),
      |sigs AS (
      |  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
      |  FROM bits GROUP BY vec_id)
      |SELECT bucket, count(*) AS n FROM sigs GROUP BY bucket
      |ORDER BY bucket ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("embeddings")
      .select(col("vec_id"), hyperplaneSig(col("embedding"), 12).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      // preSort (r19): no range-sampling re-exec of the signature
      // aggregate; n defeats the bucket-key elision
      .transform(graft.engine.Par.preSort(_, col("bucket"), col("n")))
      .orderBy(col("bucket").asc_nulls_last)
  }

  /** Deterministic ±1 random hyperplanes, seeded off md5 — tiny,
    * generated driver-side, broadcast as literals. Shared by
    * nn_lsh_buckets and PipelineOps.pipe_embed_dedup; the DuckDB oracle
    * recomputes the same planes in SQL (hex-digit parity of md5(p:d) =
    * the first-byte low bit here).
    */
  private[llm] def hyperplanes(nbits: Int, dim: Int = 64): Seq[Array[Double]] =
    (0 until nbits).map { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { d =>
        val h = md.digest(s"$p:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }

  /** The nbits-character '0'/'1' signature string of a vector. */
  private[llm] def hyperplaneSig(v: Column, nbits: Int): Column =
    concat(hyperplanes(nbits).map { plane =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dot(v, planeCol) > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Trained coarse quantizers, memoized per fixture dir: an ANN index
    * is built once and queried many times — retraining Lloyd's on every
    * query would charge an offline cost to the online path.
    */
  private val ivfCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Array[Double])]]()

  /** Memo key for index artifacts: the registered dataset dir. Fails
    * fast when the session has no registered dataset — a shared "?"
    * sentinel would silently serve one dataset's codebooks/centroids to
    * another session's corpus in the same JVM.
    */
  private def datasetKey(s: org.apache.spark.sql.SparkSession): String =
    graft.engine.Tables.dirOf(s).getOrElse(throw new IllegalStateException(
      "ANN index build requires a registered dataset (Tables.register) — " +
        "refusing to memoize under a shared key"))

  /** Train (or fetch) the IVF coarse quantizer for the session's
    * dataset: Lloyd's k-means (llm.KMeans, 3 distributed rounds) from a
    * deterministic md5-ordered sample init. Exposed separately from the
    * query because index BUILD is the offline half of an ANN system —
    * benchmarks (and production) amortize it across queries; only the
    * probe+search path is online.
    */
  def buildIvfIndex(s: org.apache.spark.sql.SparkSession, nlists: Int)
      : Seq[(Int, Array[Double])] = {
    val emb = s.table("embeddings")
    val memoKey = datasetKey(s) + s"/$nlists"
    ivfCentroids.computeIfAbsent(memoKey, _ => {
      // quantizer TRAINING on the bounded deterministic sample (same
      // standard practice as the PQ codebooks — the assignment of the
      // full corpus to lists stays exact either way); identity at the
      // sf fixture gates, so their centroids are byte-identical
      val train = trainSample(
        emb.select(col("vec_id"), col("embedding")), PqTrainCap)
      val init = train
        .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)).asc,
          col("vec_id").asc)
        .limit(nlists)
        .select(col("embedding").cast(ArrayType(DoubleType)))
        .collect().zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Double](0).toArray }.toSeq
      KMeans.lloyd(train, "embedding", init, iters = 3)
    })
  }

  /** Distinct label values of the session's embeddings corpus, sorted —
    * memoized per dataset. Bounded collect: label is the class key (the
    * fixture has 10; any real corpus has tens), the same class as the
    * 25-nation key collect.
    */
  private val labelsByDataset =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()

  private[graft] def labelValues(s: org.apache.spark.sql.SparkSession): Seq[Int] =
    labelsByDataset.computeIfAbsent(datasetKey(s), _ =>
      s.table("embeddings").select(col("label").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted)

  /** Train (or fetch) the PER-LABEL IVF coarse quantizer: `perLabel`
    * k-means centroids for EACH label, trained only on that label's
    * vectors, concatenated into one global matrix where label block
    * `li` (labels in sorted order) owns global list ids
    * `[li·perLabel, (li+1)·perLabel)`.
    *
    * Why per-label (the r11 lesson, SCALE.md §r11): label-correlated
    * embeddings make a GLOBAL quantizer's lists label-pure, so the
    * probe budget ranks — and wastes — most of its width on other
    * labels' lists (tier-2 recall@3 was 0.51 at the same fold budget).
    * Training nlists/L centroids per label and probing within the
    * row's own block makes every probed list in-label by construction:
    * the same ~nprobe·cell/perLabel folds/vector buy strictly more
    * in-label candidates.
    *
    * Training cost: ONE deterministic ≤[[PqTrainCap]] sample pass,
    * persisted across the L per-label Lloyd runs (each runs on the
    * sample's label slice — the full corpus is never rescanned).
    * A label whose sample has fewer than `perLabel` seed vectors pads
    * its block by repeating the first seed; pad centroids either stay
    * exact duplicates (ties assign to the lower id — never chosen) or
    * split off into extra live lists, deterministically either way.
    */
  def buildLabelIvfIndex(s: org.apache.spark.sql.SparkSession, perLabel: Int)
      : Seq[(Int, Array[Double])] = {
    val memoKey = datasetKey(s) + s"/labelcents/$perLabel"
    ivfCentroids.computeIfAbsent(memoKey, _ => {
      val labels = labelValues(s)
      val emb = s.table("embeddings")
        .select(col("vec_id"), col("label").cast("int").as("label"),
          col("embedding"))
      // sample sized to the CENTROID count, not just the flat cap: at
      // large perLabel the 50k default leaves fewer seeds than
      // centroids per label (the 1000×-tier run sampled ~5k rows/label
      // for 5,128 lists/label — most lists seeded as duplicates of
      // seed 0). ≥8 training rows per centroid keeps Lloyd's meaningful
      // while the per-iteration cost (sample × perLabel dots per label)
      // stays seconds at every measured tier.
      val labelCount = math.max(1, labels.length)
      val train = trainSample(emb,
        math.max(PqTrainCap, perLabel.toLong * labelCount * 8L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        labels.zipWithIndex.flatMap { case (lv, li) =>
          val sub = train.filter(col("label") === lv)
            .select(col("vec_id"), col("embedding"))
          val seeds = sub
            .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)).asc,
              col("vec_id").asc)
            .limit(perLabel)
            .select(col("embedding").cast(ArrayType(DoubleType)))
            .collect().map(_.getSeq[Double](0).toArray)
          require(seeds.nonEmpty, s"label $lv has no training vectors")
          val init = (0 until perLabel).map(i =>
            i -> (if (i < seeds.length) seeds(i) else seeds(0).clone))
          KMeans.lloyd(sub, "embedding", init, iters = 3)
            .map { case (cid, ce) => (li * perLabel + cid) -> ce }
        }
      } finally { train.unpersist(); () }
    })
  }

  /** Brute-force cosine top-3 oracle (identical text to nn_cosine_topk):
    * the approximate indexes are DECLARED against exact search — their
    * probe/rerank widths are sized so the shortlist provably contains
    * the true top-3 on this corpus (the sweep spec pins equality at all
    * three SFs), at which point the exact-rerank output IS the
    * brute-force answer, hash and all.
    */
  private val bruteTop3OracleSql =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |sims AS (
      |  SELECT qid, vec_id,
      |         ROUND(list_cosine_similarity(qe, e), 6) AS sim
      |  FROM q CROSS JOIN c WHERE vec_id <> qid)
      |SELECT qid, vec_id, sim FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      |  FROM sims) t
      |WHERE rn <= 3
      |ORDER BY qid ASC NULLS LAST, sim DESC NULLS LAST, vec_id ASC NULLS LAST""".stripMargin

  /** IVF approximate top-k — the at-scale ANN layout: a k-means coarse
    * quantizer (Lloyd's over the corpus, llm.KMeans) partitions the
    * corpus into inverted lists; each query probes only its nprobe
    * nearest lists, so per-query work is corpus/nlists × nprobe instead
    * of a full scan. Layout maps 1:1 to a cluster: lists are partitions
    * (repartition by centroid id), centroids broadcast. Oracle = brute
    * force: nprobe is sized so the probed lists contain the true top-3
    * (sweep-spec'd at every SF; equality holds from nprobe 11, default
    * 12 for margin), making the output exact on this corpus.
    */
  val v4 = Q("nn_ivf_topk", bruteTop3OracleSql) { s => ivfTopK(s) }

  /** The IVF search through the POINT-LOOKUP slab index (r17) — the
    * similarity family's ingest face, mirroring LookupIndex for dedup:
    * per query, cost is nprobe slab lookups + a scan of ONLY the probed
    * lists' members, with nothing corpus-sized shuffled or hash-built
    * per batch (the join spelling builds/scans the full lists relation
    * every call — fine amortized over a big self-join, wrong for a
    * bounded ingest batch of query vectors). Same oracle contract as
    * nn_ivf_topk, proven through the gate every round.
    */
  val v4b = Q("nn_ivf_lookup", bruteTop3OracleSql) { s =>
    ivfTopKLookupFor(s,
      s.table("embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
  }

  /** IVF inverted lists packed into point-lookup slabs, memoized per
    * (dataset, nlists): key (0, list_id) → [dim, then per member: vid,
    * ‖e‖-bits (the batch kernel's double fold, precomputed so search
    * reproduces `en` bit-for-bit), dim/2 float-pair words]. Build is
    * offline (the ANN split); refresh = memo swap.
    */
  /** Pack one inverted list's members: [dim, then per member: vid,
    * ‖e‖-bits, ceil(dim/2) float-pair words (element 2i in the LOW 32
    * bits, 2i+1 in the HIGH; odd dims leave the last high word 0)].
    * The norm uses the batch kernel's fold (per-element double
    * widening, left-to-right) so search reproduces `en` bit-for-bit.
    */
  private[graft] def packList(ms: Array[(Long, Array[Float])]): Array[Long] = {
    val dim = if (ms.isEmpty) 0 else ms.head._2.length
    val stride = 2 + (dim + 1) / 2
    val packed = new Array[Long](1 + ms.length * stride)
    packed(0) = dim.toLong
    var off = 1
    ms.foreach { case (vid, e) =>
      require(e.length == dim, s"packList: ragged dims ($dim vs ${e.length})")
      packed(off) = vid
      var nrm = 0.0
      var i = 0
      while (i < dim) { val d = e(i).toDouble; nrm += d * d; i += 1 }
      packed(off + 1) = java.lang.Double.doubleToRawLongBits(math.sqrt(nrm))
      i = 0
      while (i < dim) {
        val loBits = java.lang.Float.floatToRawIntBits(e(i)).toLong & 0xFFFFFFFFL
        val hiBits =
          if (i + 1 < dim)
            (java.lang.Float.floatToRawIntBits(e(i + 1)).toLong & 0xFFFFFFFFL) << 32
          else 0L
        packed(off + 2 + i / 2) = hiBits | loBits
        i += 2
      }
      off += stride
    }
    packed
  }

  /** Scan one packed list for qid's top-k by (sim DESC, vid ASC) —
    * sim = ROUND(dot/(qn·‖e‖), 6) with the batch kernel's exact fold
    * and Catalyst's exact rounding. Partial per-list top-k commutes
    * with the global window under the same total order.
    */
  private[graft] def listTopK(v: Array[Long], qid: Long, qe: Array[Float],
      qn: Double, topk: Int): Seq[(Long, Double)] = {
    val dim = v(0).toInt
    val stride = 2 + (dim + 1) / 2
    val m = if (stride == 0) 0 else (v.length - 1) / stride
    val topVid = new Array[Long](topk)
    val topSim = new Array[Double](topk)
    var filled = 0
    var mi = 0
    while (mi < m) {
      val off = 1 + mi * stride
      val vid = v(off)
      if (vid != qid) {
        val en = java.lang.Double.longBitsToDouble(v(off + 1))
        var dp = 0.0
        var i = 0
        while (i < dim) {
          val w = v(off + 2 + i / 2)
          val f0 = java.lang.Float.intBitsToFloat(w.toInt)
          dp += qe(i).toDouble * f0.toDouble
          if (i + 1 < dim) {
            val f1 = java.lang.Float.intBitsToFloat((w >>> 32).toInt)
            dp += qe(i + 1).toDouble * f1.toDouble
          }
          i += 2
        }
        val raw = dp / (qn * en)
        // round6 is a BigDecimal op — per-member it dominated the probed
        // scan (the r18 ladder's 16 s/1000-query trigger was mostly
        // rounding, not dot products). It is MONOTONE and the heap
        // entries are already rounded, so once the heap is full a raw
        // sim more than 1e-6 below the current worst cannot round into
        // displacing range (round(raw) ≤ raw + 5e-7 + ulp): skip the
        // rounding entirely. NaN never skips (it must rank where the
        // declarative window ranks it — greatest).
        val skip = filled == topk && !(raw != raw) &&
          raw < topSim(topk - 1) - 1e-6
        if (!skip) {
          val sim = LookupIndex.round6(raw)
          // total order via Double.compare: NaN ranks GREATEST, matching
          // Spark's sort semantics (a zero-norm vector's NaN cosine must
          // rank where the declarative window would rank it)
          var pos = filled
          while (pos > 0 && {
            val c = java.lang.Double.compare(topSim(pos - 1), sim)
            c < 0 || (c == 0 && topVid(pos - 1) > vid)
          }) pos -= 1
          if (pos < topk) {
            val last = math.min(filled, topk - 1)
            var j = last
            while (j > pos) {
              topSim(j) = topSim(j - 1); topVid(j) = topVid(j - 1); j -= 1
            }
            topSim(pos) = sim; topVid(pos) = vid
            if (filled < topk) filled += 1
          }
        }
      }
      mi += 1
    }
    (0 until filled).map(i => (topVid(i), topSim(i)))
  }

  // Access-ordered LRU capped at 4 (dataset, nlists) combos: each entry
  // pins a persisted corpus-scale embedding copy — same bound rationale
  // as LookupIndex.byDataset; an evicted combo unpersists and rebuilds
  // on next use, counted and logged via [[ivfSlabStats]] (r17 VERDICT
  // wrong-#2).
  private val ivfSlabsByKey: LruMemo[org.apache.spark.rdd.RDD[LookupIndex.HashSlab]] =
    new LruMemo("SimilarityOps.ivfSlabsByKey", 4, _.unpersist(false))
  private[graft] def ivfSlabStats: MemoStats = ivfSlabsByKey.stats
  private val IvfSlabParts = 32

  private[graft] def ivfListSlabs(s: org.apache.spark.sql.SparkSession,
      nlists: Int): org.apache.spark.rdd.RDD[LookupIndex.HashSlab] =
    ivfSlabsByKey.get(datasetKey(s) + s"/ivfslabs/$nlists") {
      val (cents, cn) = centMatrix(s, nlists)
      val entries = s.table("embeddings")
        .select(
          element_at(nearestListsColFor(s, col("embedding"), cents, cn, 1,
            s"ivfslabs/$nlists"), 1)
            .as("list_id"),
          col("vec_id"), col("embedding"))
        .rdd.map { r =>
          (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray))
        }
        .groupByKey(new org.apache.spark.HashPartitioner(IvfSlabParts))
        .map { case (lid, members) =>
          (0L, lid.toLong, packList(members.toArray))
        }
      val slabs = LookupIndex.slabRdd(entries, IvfSlabParts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      slabs.count()
      slabs
    }

  /** IVF top-k for an arbitrary query frame (qid, qe) via the slab
    * index — result-identical to [[ivfTopK]]'s join spelling (same
    * trained centroids, same probe ranking, same per-element
    * double-widened dot fold, same ROUND(sim, 6), same global
    * (sim DESC, vec_id ASC) top-k; per-list partial top-k commutes
    * with the global one under that total order). Spec-pinned
    * row-for-row; the declared query rides the nn_ivf_topk oracle.
    */
  private[graft] def ivfTopKLookupFor(s: org.apache.spark.sql.SparkSession,
      queries: org.apache.spark.sql.DataFrame, nprobe: Int = 12,
      topk: Int = 3, nlists: Int = 16): org.apache.spark.sql.DataFrame = {
    val slabs = ivfListSlabs(s, nlists)
    val part = new org.apache.spark.HashPartitioner(IvfSlabParts)
    val (cents, cn) = centMatrix(s, nlists)
    import graft.engine.expressions.IvfNearest
    val cand = queries
      .select(col("qid"), col("qe"),
        sqrt(dot(col("qe"), col("qe"))).as("qn"),
        explode(IvfNearest(col("qe"), cents, cn, false, nprobe)).as("list_id"))
      .rdd.map { r =>
        (r.getInt(3).toLong,
          (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      }
      .partitionBy(part)
      .zipPartitions(slabs) { (pit, sit) =>
        if (!sit.hasNext) Iterator.empty
        else {
          val slab = sit.next()
          pit.flatMap { case (lid, (qid, qe, qn)) =>
            val v = slab.get(0L, lid)
            if (v == null) Iterator.empty
            else listTopK(v, qid, qe, qn, topk)
              .iterator.map { case (vid, sim) => (qid, vid, sim) }
          }
        }
      }
    import s.implicits._
    val df = cand.toDF("qid", "vec_id", "sim")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= topk)
      .select(col("qid"), col("vec_id"), col("sim"))
      // preSort (r19): no range-sampling re-exec of the probe + top-k
      .transform(graft.engine.Par.preSort(_, col("qid"), col("vec_id")))
      .orderBy(col("qid").asc_nulls_last, col("sim").desc_nulls_last,
        col("vec_id").asc_nulls_last)
  }

  /** IVF search body, probe width exposed for the recall-sweep spec. */
  private[graft] def ivfTopK(s: org.apache.spark.sql.SparkSession,
      nprobe: Int = 12): org.apache.spark.sql.DataFrame = {
    val NLISTS = 16
    // fixture-scale ratio: 500-vector corpus — probe well over half the
    // lists to hold recall; at production scale NLISTS is thousands and
    // NPROBE tens, so the prune ratio grows with the corpus, not with
    // this constant
    val NPROBE = nprobe
    val TOPK = 3
    val emb = s.table("embeddings")
    // coarse quantizer: trained k-means centroids (memoized — build is
    // offline; see buildIvfIndex). Assignment is the codegen'd
    // IvfNearest PROJECTION (r11): the previous crossJoin+window
    // spelling shuffled corpus×1 rows on vec_id just to rank a per-row
    // array; IvfNearest ranks by the identical -(dot/cn) score with
    // identical tie-breaks (lower cid), so the probed lists — and the
    // oracle-pinned output — are unchanged.
    val (cents, cn) = centMatrix(s, NLISTS)
    import graft.engine.expressions.IvfNearest
    // inverted lists: each corpus vector in its single nearest list
    val lists = emb.select(
      element_at(IvfNearest(col("embedding"), cents, cn, false, 1), 1)
        .as("list_id"),
      col("vec_id"), col("embedding").as("e"),
      sqrt(dot(col("embedding"), col("embedding"))).as("en"))
    // queries probe their NPROBE nearest lists
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(IvfNearest(col("embedding"), cents, cn, false, NPROBE))
          .as("list_id"))
      .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
    // search only the probed lists (equi-join on list_id = the pruning)
    val cand = probes.join(lists, "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("e")) / (col("qn") * col("en")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= TOPK)
      .select(col("qid"), col("vec_id"), col("sim"))
      // preSort (r19): no range-sampling re-exec of the list scan + top-k
      .transform(graft.engine.Par.preSort(_, col("qid"), col("vec_id")))
      .orderBy(col("qid").asc_nulls_last, col("sim").desc_nulls_last,
        col("vec_id").asc_nulls_last)
  }

  /** PQ geometry: 64 dims → M subspaces of subDim, K codewords per
    * subspace → an 8-byte code (+1 stored norm) per vector instead of
    * 256 raw bytes. Codebooks are per-subspace L2 k-means (Jégou,
    * Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011).
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 256 // canonical 8-bit codebooks (capped by corpus size)

  private val pqCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[(Int, Array[Double])]]]()
  // the SAME 3-D array instance must flow into every PqEncode — plan
  // equality (and the CacheOnce hit on the encoded corpus) is reference
  // equality on the codebook object
  private val pqBookArrays = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  /** Codebook TRAINING set bound: k-means over the full corpus is
    * unnecessary for PQ (standard practice trains on a bounded sample —
    * faiss defaults to ~256 points/centroid); encoding stays
    * full-corpus. 50k ≈ 195 points/codeword at K=256.
    */
  private val PqTrainCap = 50000L

  /** Deterministic ≤cap-row training sample: one residue class of a
    * seeded xxhash64 over vec_id — seed-pinned, partitioning-
    * independent, fully distributed (no driver materialization), and
    * the identity when the corpus already fits the cap (so the sf
    * fixture gates never see a different training set).
    */
  private def trainSample(emb: org.apache.spark.sql.DataFrame,
      cap: Long): org.apache.spark.sql.DataFrame = {
    val n = emb.count()
    if (n <= cap) emb
    else {
      val mod = math.max(2L, (n + cap - 1) / cap)
      emb.filter(pmod(xxhash64(col("vec_id"), lit(982451653L)),
        lit(mod)) === 0)
    }
  }

  /** Train (or fetch) the PQ codebooks for the session's dataset: M
    * independent L2 Lloyd's runs over the sub-vector slices, each from
    * the same deterministic md5-ordered sample init. Offline, memoized —
    * the ann-benchmarks build/query split, same as buildIvfIndex.
    *
    * Training input is a deterministic ≤[[PqTrainCap]]-vector sample:
    * rows whose seeded xxhash64(vec_id) lands in a modulus class sized
    * from the corpus count — seed-pinned, partitioning-independent, and
    * fully distributed (no driver materialization). The sampled slice is
    * persisted across the M subspace runs (8 × 2 Lloyd rounds would
    * otherwise rescan the full corpus 32 times).
    */
  def buildPqIndex(s: org.apache.spark.sql.SparkSession)
      : Seq[Seq[(Int, Array[Double])]] = {
    val memoKey =
      datasetKey(s) + s"/pq/$PqM/$PqK"
    pqCodebooks.computeIfAbsent(memoKey, _ => {
      val emb = s.table("embeddings")
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val train = trainSample(emb, PqTrainCap).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        (0 until PqM).map { m =>
          val sub = train.select(col("vec_id"),
            slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sub"))
          val init = sub
            .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)).asc,
              col("vec_id").asc)
            .limit(PqK)
            .select(col("sub"))
            .collect().zipWithIndex
            .map { case (r, i) => i -> r.getSeq[Double](0).toArray }.toSeq
          KMeans.lloyd(sub, "sub", init, iters = 2, l2 = true)
        }
      } finally train.unpersist(blocking = false)
    })
  }

  /** Product-quantization approximate top-k — the memory-bound scale
    * path: the ADC scan reads an 8-byte code + one norm per candidate
    * (16× less than the raw vectors), with approximate inner products
    * assembled from a per-query lookup table.
    *
    * Layout at scale: ENCODE is offline (each vector → nearest codeword
    * per subspace, a pure projection over broadcast codebooks); the
    * ONLINE path joins the exploded (vec_id, m, code) relation against a
    * broadcast LUT of queries × M × K partial dots and sums M partials
    * per (query, candidate) — shuffle-bound in corpus × M ints, never in
    * raw vectors. Ranking divides by the stored true norm, so the
    * approximation error is only in the quantized dot product. Oracle =
    * brute force, same contract as nn_ivf_topk: the rerank width is
    * sized so the ADC shortlist contains the true top-3 (sweep-spec'd
    * at every SF; equality holds from rerank 48, default 64 for
    * margin), so the exact-rerank output is the brute-force answer.
    */
  /** Encode the corpus against the trained codebooks: code_m =
    * argmin_k ||x_m − c_{m,k}||², ranked as ||c||² − 2·x·c (row norm
    * constant under the argmin); array_position(min) breaks ties on the
    * first (lowest) codeword — deterministic. The encoded relation
    * (vec_id, norm, M codes) is the OFFLINE index artifact — CacheOnce'd
    * per dataset so the online path scans codes, never re-encodes. On a
    * cluster this relation is what you'd persist as the PQ index table.
    */
  private def pqCodes(s: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[(Int, Array[Double])]])
      : org.apache.spark.sql.DataFrame = {
    val memoKey =
      datasetKey(s) + s"/pq/$PqM/$PqK"
    val bookArr = pqBookArrays.computeIfAbsent(memoKey,
      _ => books.map(_.map(_._2).toArray).toArray)
    val emb = s.table("embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    graft.engine.CacheOnce(
      "pq:codes:" + datasetKey(s),
      emb.select(col("vec_id"), sqrt(dot(col("v"), col("v"))).as("xn"),
        graft.engine.expressions.PqEncode(col("v"), bookArr).as("codes")))
  }

  /** Offline PQ build: codebooks + encoded corpus, memoized/cached —
    * called from the bench warmup like buildIvfIndex so the timed
    * nn_pq_topk measures the ONLINE LUT+ADC+rerank path.
    */
  def warmPqIndex(s: org.apache.spark.sql.SparkSession): Unit =
    pqCodes(s, buildPqIndex(s)).write.format("noop").mode("overwrite").save()

  val v5 = Q("nn_pq_topk", bruteTop3OracleSql) { s => pqTopK(s) }

  /** PQ search body, rerank width exposed for the recall-sweep spec. */
  private[graft] def pqTopK(s: org.apache.spark.sql.SparkSession,
      rerank: Int = 64): org.apache.spark.sql.DataFrame = {
    val TOPK = 3
    val books = buildPqIndex(s) // offline, memoized
    val emb = s.table("embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val codes = pqCodes(s, books)
      .select(col("vec_id"), col("xn"), posexplode(col("codes")))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
    // ---- online half: per-query LUT (M × K partial dots), broadcast
    val entries = {
      import s.implicits._
      books.zipWithIndex.flatMap { case (book, m) =>
        book.map { case (k, c) => (m, k, c.toSeq) }
      }.toDF("m", "k", "ce")
    }
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        sqrt(dot(col("v"), col("v"))).as("qn"))
    val lut = q.crossJoin(entries)
      .select(col("qid"), col("qn"), col("m"), col("k"),
        dot(slice(col("qe"), col("m") * PqSubDim + 1, lit(PqSubDim)), col("ce"))
          .as("partial"))
    // ADC: sum the M partials per (query, candidate), rank by
    // approx_dot / (qn · true-norm)
    val scored = codes.join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("k"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      // rounded to 9 decimals BEFORE the shortlist window: the partial
      // sum's accumulation order varies with partitioning, so an
      // unrounded float near-tie at the shortlist cutoff could flip
      // across cluster configs; 1e-9 is far below any meaningful ADC
      // separation and far above double accumulation jitter
      .agg(round(sum(col("partial")) / (first(col("qn")) * first(col("xn"))), 9)
        .as("approx_sim"))
    // ADC shortlist (RERANK × k), then the standard refine step: exact
    // cosine over ONLY the shortlisted full vectors — at scale this
    // re-reads RERANK·k raw vectors per query, not the corpus
    val RERANK = rerank
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("approx_sim").desc, col("vec_id").asc)
    val shortlist = scored.withColumn("rn", row_number().over(wa))
      // Long arithmetic: the sweep ladder's exhaustive rung is 1 << 30,
      // where rerank * TOPK overflows Int to a NEGATIVE bound — an
      // empty shortlist masquerading as "equality failed even
      // exhaustive" (r14 review finding; rn is Int, so the Long
      // comparison coerces safely)
      .filter(col("rn") <= RERANK.toLong * TOPK)
      .select(col("qid"), col("vec_id"))
    val exact = shortlist
      .join(emb, "vec_id")
      .join(broadcast(q.select(col("qid"), col("qe"), col("qn"))), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("v")) /
          (col("qn") * sqrt(dot(col("v"), col("v")))), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= TOPK)
      .select(col("qid"), col("vec_id"), col("sim"))
      // preSort (r19): no range-sampling re-exec of the rerank + top-k
      .transform(graft.engine.Par.preSort(_, col("qid"), col("vec_id")))
      .orderBy(col("qid").asc_nulls_last, col("sim").desc_nulls_last,
        col("vec_id").asc_nulls_last)
  }

  // ---- IVF-PQ (IVFADC) ----------------------------------------------
  // The composed at-scale layout (Jégou et al. TPAMI 2011, §IV; the
  // faiss IVFADC index): the coarse quantizer PRUNES (probe nprobe of
  // nlists inverted lists) and product quantization COMPRESSES what the
  // scan reads inside a probed list — an 8-byte RESIDUAL code + one
  // norm per candidate. At 100 TB of embeddings neither half suffices
  // alone: IVF over raw vectors still reads corpus/nlists·nprobe full
  // vectors per query; flat PQ still ADC-scans the WHOLE corpus. The
  // composition reads corpus/nlists·nprobe × 9 bytes.
  //
  // PQ runs on RESIDUALS (v − centroid[list]): residual magnitudes are
  // a fraction of raw magnitudes, so the same 8×256 codebook budget
  // quantizes far finer. Inner-product scoring decomposes exactly:
  // dot(q, x) = dot(q, c_list) + dot(q, r_x) — the first term is one
  // dot per (query, probed list), the second assembles from a
  // LIST-INDEPENDENT LUT over the residual codebooks (unlike L2-metric
  // IVFADC, which needs a per-list table). Ranking divides by the
  // stored TRUE norm, so quantization error lives only in the dot.

  private val IvfPqLists = 16 // same quantizer budget as nn_ivf_topk

  private val ivfPqCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[(Int, Array[Double])]]]()
  private val ivfPqBookArrays = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  /** v − centroid[list], element-wise (offline-only arithmetic: encode
    * and train both run off the query path, so the interpreted zip_with
    * is fine — the ONLINE path touches codes, never residuals).
    */
  private def residualCol(v: org.apache.spark.sql.Column,
      listId: org.apache.spark.sql.Column,
      cents: Array[Array[Double]]): org.apache.spark.sql.Column =
    zip_with(v, element_at(typedLit(cents.map(_.toSeq).toSeq), listId + 1),
      (a, b) => a - b)

  /** Train (or fetch) the residual PQ codebooks: assign the training
    * sample to its coarse list, subtract the centroid, then M
    * independent per-subspace L2 Lloyd runs — identical discipline to
    * [[buildPqIndex]], same deterministic sample and seed ordering.
    */
  def buildIvfPqIndex(s: org.apache.spark.sql.SparkSession)
      : Seq[Seq[(Int, Array[Double])]] = {
    val memoKey = datasetKey(s) + s"/ivfpq/$IvfPqLists/$PqM/$PqK"
    ivfPqCodebooks.computeIfAbsent(memoKey, _ => {
      val (cents, cn) = centMatrix(s, IvfPqLists)
      import graft.engine.expressions.IvfNearest
      val emb = s.table("embeddings")
        .select(col("vec_id"), col("embedding"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val train = trainSample(emb, PqTrainCap)
        .select(col("vec_id"),
          residualCol(col("v"),
            element_at(IvfNearest(col("embedding"), cents, cn, false, 1), 1),
            cents).as("rv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        (0 until PqM).map { m =>
          val sub = train.select(col("vec_id"),
            slice(col("rv"), m * PqSubDim + 1, PqSubDim).as("sub"))
          val init = sub
            .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)).asc,
              col("vec_id").asc)
            .limit(PqK)
            .select(col("sub"))
            .collect().zipWithIndex
            .map { case (r, i) => i -> r.getSeq[Double](0).toArray }.toSeq
          KMeans.lloyd(sub, "sub", init, iters = 2, l2 = true)
        }
      } finally train.unpersist(blocking = false)
    })
  }

  /** The offline IVFADC index artifact: (vec_id, list_id, true norm,
    * 8-byte residual code). CacheOnce'd per dataset — on a cluster this
    * is the persisted index table; the online path scans it and never
    * sees a raw vector until the exact rerank.
    */
  private def ivfPqCodes(s: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[(Int, Array[Double])]])
      : org.apache.spark.sql.DataFrame = {
    val memoKey = datasetKey(s) + s"/ivfpq/$IvfPqLists/$PqM/$PqK"
    val bookArr = ivfPqBookArrays.computeIfAbsent(memoKey,
      _ => books.map(_.map(_._2).toArray).toArray)
    val (cents, cn) = centMatrix(s, IvfPqLists)
    import graft.engine.expressions.IvfNearest
    val emb = s.table("embeddings")
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    graft.engine.CacheOnce(
      "ivfpq:codes:" + datasetKey(s),
      emb
        .select(col("vec_id"), col("v"),
          element_at(nearestListsColFor(s, col("embedding"), cents, cn, 1,
            s"ivfpq/$IvfPqLists"), 1)
            .as("list_id"))
        .select(col("vec_id"), col("list_id"),
          sqrt(dot(col("v"), col("v"))).as("xn"),
          graft.engine.expressions.PqEncode(
            residualCol(col("v"), col("list_id"), cents), bookArr).as("codes")))
  }

  /** Offline IVF-PQ build, bench-warmable like [[warmPqIndex]]. */
  def warmIvfPqIndex(s: org.apache.spark.sql.SparkSession): Unit =
    ivfPqCodes(s, buildIvfPqIndex(s)).write.format("noop").mode("overwrite").save()

  val v10 = Q("nn_ivfpq_topk", bruteTop3OracleSql) { s => ivfPqTopK(s) }

  /** IVFADC search body, probe/rerank widths exposed for the sweep
    * spec. Oracle = brute force, the family contract: widths sized so
    * the probed lists contain the true top-3 (nprobe — the nn_ivf
    * boundary, same quantizer) AND the ADC shortlist keeps them
    * (rerank), making the exact-rerank output the brute-force answer.
    */
  private[graft] def ivfPqTopK(s: org.apache.spark.sql.SparkSession,
      nprobe: Int = 12, rerank: Int = 64): org.apache.spark.sql.DataFrame = {
    val TOPK = 3
    val books = buildIvfPqIndex(s) // offline, memoized
    val (cents, cn) = centMatrix(s, IvfPqLists)
    import graft.engine.expressions.IvfNearest
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val emb = s.table("embeddings")
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val codes = ivfPqCodes(s, books)
      .select(col("vec_id"), col("list_id"), col("xn"), posexplode(col("codes")))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
    // residual LUT: queries × M × K partial dots (list-independent —
    // see the decomposition note above); broadcast-sized by definition
    val entries = {
      import s.implicits._
      books.zipWithIndex.flatMap { case (book, m) =>
        book.map { case (k, c) => (m, k, c.toSeq) }
      }.toDF("m", "k", "ce")
    }
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        sqrt(dot(col("v"), col("v"))).as("qn"))
    val lut = q.crossJoin(entries)
      .select(col("qid"), col("qn"), col("m"), col("k").as("code"),
        dot(slice(col("qe"), col("m") * PqSubDim + 1, lit(PqSubDim)), col("ce"))
          .as("partial"))
    // probes: nprobe nearest lists per query + the per-(query, list)
    // centroid dot term of the decomposition
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        explode(IvfNearest(col("embedding"), cents, cn, false, nprobe))
          .as("list_id"))
      .select(col("qid"), col("list_id"),
        dot(col("qe"), element_at(centsLit, col("list_id") + 1)).as("qcdot"))
    // the IVF prune IS the equi-join on list_id; candidates then read
    // 8 one-byte codes + one norm each — never a raw vector. The LUT
    // lookup is a 3-key broadcast equi-join (qid, m, code) — the hash
    // probe IS the table lookup, no pre-filter row blowup
    val scored = probes.join(codes, "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      // same 9-decimal pre-round as pqTopK: partial-sum order varies
      // with partitioning; 1e-9 is below ADC separation, above jitter
      .agg(round((first(col("qcdot")) + sum(col("partial"))) /
        (first(col("qn")) * first(col("xn"))), 9).as("approx_sim"))
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("approx_sim").desc, col("vec_id").asc)
    val shortlist = scored.withColumn("rn", row_number().over(wa))
      // Long arithmetic — same 1<<30 exhaustive-rung overflow guard as
      // pqTopK's shortlist bound
      .filter(col("rn") <= rerank.toLong * TOPK)
      .select(col("qid"), col("vec_id"))
    val exact = shortlist
      .join(emb.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("v")) /
          (col("qn") * sqrt(dot(col("v"), col("v")))), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= TOPK)
      .select(col("qid"), col("vec_id"), col("sim"))
      // preSort (r19): no range-sampling re-exec of the rerank + top-k
      .transform(graft.engine.Par.preSort(_, col("qid"), col("vec_id")))
      .orderBy(col("qid").asc_nulls_last, col("sim").desc_nulls_last,
        col("vec_id").asc_nulls_last)
  }

  /** kNN-GRAPH construction, cell-confined: every vector's exact top-3
    * cosine neighbors WITHIN its blocking cell (`label` stands in for
    * the IVF/LSH cell id, as in nn_cosine_neardup). The k-NN graph is
    * the substrate for graph-based dedup clustering and kNN classifiers
    * over training corpora — distinct from v2's THRESHOLD pairs: every
    * vector gets exactly min(k, cell-size−1) ranked edges, similarity
    * floor or not.
    *
    * Scale (r10 de-degeneration, VERDICT r9): the naive cell equi-join
    * keys the shuffle on the label alone — 10 fixture labels means 10
    * shuffle keys for 32 cores, and the sort-merge join buffers a whole
    * cell's vectors per key (measured 1,384 MB peak task memory at the
    * sf1 tier). The pair enumeration is now CHUNK-BLOCKED: each vector
    * gets a deterministic chunk id hash(vec_id)%C, the probe side is
    * replicated across the C chunk tags, and the join keys on
    * (label, chunk) — C× more shuffle keys, per-task buffering bounded
    * by cell/C regardless of corpus growth. Results are EXACT and
    * unchanged (every in-cell pair appears exactly once, on the tag
    * matching the neighbor's chunk). The per-vector top-3 then runs in
    * two stages: partial top-3 per (vec_id, chunk) — which Spark's
    * WindowGroupLimit applies map-side, collapsing the shuffle into the
    * final window from |cell| to ≤3C rows per vector — then final top-3
    * per vec_id. The pair relation stays projected down to
    * (vec_id, nb, sim) before any window (arrays through a window sort
    * multiply sorted bytes ~25×, the r7 lesson). Ties break on neighbor
    * id; both engines fold the identical double-precision cosine, so
    * the pre-round ordering agrees. Total FLOPs remain quadratic per
    * cell — inherent to EXACT within-cell kNN; IVF/PQ (v4/v5) are the
    * approximate scale path.
    */
  private val KNN_CHUNKS = 16
  val v6 = Q(
    "nn_label_knn",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT vec_id, label, nb, sim, rn FROM (
      |  SELECT a.vec_id, a.label, b.vec_id AS nb,
      |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id ASC) AS rn
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id) t
      |WHERE rn <= 3
      |ORDER BY vec_id ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin
  ) { s =>
    val C = KNN_CHUNKS
    val e = s.table("embeddings")
    // probe side: replicated across every neighbor-chunk tag
    val a = e.select(col("vec_id"), col("label"), col("embedding").as("va"),
      sqrt(dot(col("embedding"), col("embedding"))).as("na"))
      .withColumn("cb", explode(array((0 until C).map(lit): _*)))
    // build side: each vector lands in ONE deterministic chunk
    val b = e.select(col("vec_id").as("nb"), col("label").as("lb"),
      pmod(hash(col("vec_id")), lit(C)).as("nbc"),
      col("embedding").as("vb"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nb_n"))
    val sim = dot(col("va"), col("vb")) / (col("na") * col("nb_n"))
    // EXPLICIT fixed-width repartition on the blocked key, matching the
    // join keys so the SMJ adds no exchange: the pair relation is tiny
    // in compressed shuffle bytes but huge in rows, so AQE's
    // size-targeted coalescing would fold the join (and the map-side
    // WindowGroupLimit sort fed by it) into a few giant tasks —
    // measured 1.6 GB peak task memory at the sf1 tier before this pin
    // width scales with the cluster, not a constant: per-task buffering
    // is bounded by cell/C regardless of P (the join buffers per KEY),
    // so P only spreads the (label, chunk) keys over tasks. The r18
    // sweep (isolated steady, 32 cores) measured the join stage's
    // cumulative task time growing ~linearly with P — ~30-60 ms of
    // per-task overhead on KB-scale tasks: P=32 wall 0.57 s (2.8 s
    // cumulative run), P=64 0.82 s (7.1 s), P=128 1.03 s (15.9 s) —
    // so the core budget itself is the right width. Floored at 32
    // (r19, ADVICE): the 1.6 GB-peak sf1 memory measurement behind the
    // old 128 pin was only re-validated down to 32-wide on a 32-core
    // host, so a smaller-core deployment keeps at least that validated
    // spread instead of trusting the per-key-buffering argument alone.
    val P = math.max(32, s.sparkContext.defaultParallelism)
    val pairs = a.repartition(P, col("label"), col("cb"))
      .join(b.repartition(P, col("lb"), col("nbc")),
        col("label") === col("lb") && col("cb") === col("nbc") &&
          col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("label"), col("cb"), col("nb"), sim.as("simv"))
    // per-vector top-3 as ONE fixed-width hash aggregate (r11): the
    // window spelling sorts every pair row before the rank filter —
    // measured 1.02e9 rows / 10.5 GB of sort spill at the 100× tier on
    // the IVF variant — while TopKEdgeAgg folds each pair into a 3-slot
    // codegen'd state with identical (sim DESC, nb ASC) ordering. The
    // partial aggregate runs map-side inside the join's explicit
    // partitioning, so the only new exchange carries one ≤3-slot state
    // per vector.
    topKEdges(pairs, 3)
  }

  /** (vec_id, label, nb, simv) pairs → the oracle-pinned kNN-graph
    * output shape (vec_id, label, nb, sim, rn): bounded top-k hash
    * aggregation per vector, then posexplode recovers the rank. Exactly
    * `row_number() OVER (PARTITION BY vec_id ORDER BY simv DESC, nb
    * ASC) <= k` — TopKEdgeAgg's comparator is that window's ordering.
    * (Since r13 the aggregate tracks occupancy with an explicit fill
    * count, so even a −∞ score would be kept; feeders still pass
    * cosine similarities in [−1, 1], and NaN remains excluded.)
    */
  private def topKEdges(pairs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    pairs
      .groupBy(col("vec_id"), col("label"))
      .agg(graft.engine.expressions.TopKEdgeAgg(
        col("simv"), col("nb"), k).as("top"))
      .select(col("vec_id"), col("label"), posexplode(col("top")))
      .select(col("vec_id"), col("label"), col("col.id").as("nb"),
        round(col("col.s"), 6).as("sim"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("vec_id").asc_nulls_last, col("rn").asc_nulls_last)

  /** Per-dataset centroid matrix + norms for IvfNearest projection
    * assignment — the SAME instances on every call: plan equality
    * (CacheOnce hits, AQE stage reuse) is reference equality on the
    * arrays.
    */
  private val ivfCentArrays = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Array[Double])]()

  private def centMatrix(s: org.apache.spark.sql.SparkSession,
      nlists: Int): (Array[Array[Double]], Array[Double]) =
    ivfCentArrays.computeIfAbsent(datasetKey(s) + s"/cents/$nlists", _ => {
      val cents = buildIvfIndex(s, nlists)
      val arr = new Array[Array[Double]](cents.map(_._1).max + 1)
      cents.foreach { case (cid, ce) => arr(cid) = ce }
      (arr, graft.engine.expressions.IvfNearest.norms(arr))
    })

  /** List-count threshold above which corpus→list assignment runs
    * through the two-level coarse quantizer ([[graft.engine.expressions.
    * IvfNearestCoarse]] — VERDICT r17 missing-#1, the faiss
    * IVF-on-coarse layout): past ~10³ lists the brute argmax's
    * n·nlists dot-folds dominate the serve wall (measured 159.8 s at
    * 2M×1414, linear in nlists — SCALE.md §r17), while the two-level
    * path pays (1 + [[CoarseGroupProbes]])·√nlists per row. At or
    * below the threshold brute is both absolutely faster and bit-exact
    * with the declared queries' oracles (every fixture constant sits
    * far below it).
    */
  private[graft] val CoarseAssignAbove: Int = 1024

  /** Group-probe width for the coarse assignment — the measured
    * equality knob (CoarseAssignSpec pins the rate vs brute; gProbes =
    * G is provably exact). 8 of ⌈√nlists⌉ groups ≈ 21% of groups at
    * the 1414-list tier.
    */
  private[graft] val CoarseGroupProbes: Int = 8

  /** Recall-targeted probe width (r17 VERDICT wrong-#3): the ingest
    * face's DEFAULT nprobe previously tracked a fixed probe SHARE
    * (~nlists/30), which under-recalled mid-tier — measured 0.578
    * sampled recall@3 at the 100× tier. The measured frontier
    * (SCALE.md §r17, 1000× tier): share ~3% → 0.71, 10% → 0.9115,
    * 30% → 0.9792; small tiers need a LARGER share (the 10× tier's
    * 8.5% share measured 0.76 — per-list membership n/nlists ≈ √n
    * shrinks with the corpus, so covering the true top-3's lists
    * takes more of them). Policy, from that curve: probe share 10%
    * for target ≤ 0.9 and 30% above it, with a 24-probe floor (lifts
    * the small tiers) and the exhaustive cap (nprobe ≥ nlists ≡
    * brute — the fixture-width exactness contract). ScaleBench
    * measures recall AT the policy default per tier every ladder run,
    * so the policy stays validated, not promised.
    */
  /** The largest measured frontier tier (1414 = √2M lists): the 10%
    * share anchors there (measured 0.9062 at the policy default, r18
    * ladder). Smaller tiers recall LESS at the same share (10% at 447
    * lists measured 0.8594 — per-list membership ≈ √n shrinks with the
    * corpus), so the share scales by √(anchor/nlists), clamped to
    * [1.0, 1.5×]: the low clamp refuses to extrapolate BELOW the
    * measured 10% for tiers larger than any measured one, the high
    * clamp bounds the lift (at 447 lists it lands nprobe = 68, measured
    * 0.9271). The 32-probe floor carries the smallest tiers: at 141
    * lists the lifted share alone (22) measured 0.8854 — under
    * target — and the floor's 32 sits on the measured 24 → 0.8854 /
    * 42 → 0.9635 frontier at ~0.93.
    */
  private val AnchorLists = 1414.0

  def nprobeForRecall(nlists: Int, target: Double = 0.9): Int = {
    require(nlists >= 1, s"nprobeForRecall needs nlists >= 1, got $nlists")
    require(target > 0.0 && target <= 1.0,
      s"nprobeForRecall target must be in (0, 1], got $target")
    if (target > 0.98) nlists // only exhaustive search promises ~1.0
    else {
      val base = if (target > 0.9) 0.30 else 0.10
      val lift = math.min(1.5, math.max(1.0, math.sqrt(AnchorLists / nlists)))
      math.min(nlists, math.max(32, math.ceil(base * lift * nlists).toInt))
    }
  }

  // grouping memoized per (dataset, suffix) for the same reference-
  // equality reason as centMatrix: plan identity (CacheOnce hits) is
  // reference equality on the expression's ref-object arrays
  private val coarseGroups = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Array[Double], Array[Array[Int]])]()

  /** Assignment column: each row's `n` nearest lists of `cents` by the
    * engine's cosine score. Brute ([[graft.engine.expressions.
    * IvfNearest]]) at or below [[CoarseAssignAbove]] lists;
    * quantizer-assisted above it. `suffix` keys the grouping memo
    * (datasetKey is only consulted on the coarse branch, so fixture
    * queries on unregistered spec sessions never pay the registration
    * requirement).
    */
  private[graft] def nearestListsColFor(s: org.apache.spark.sql.SparkSession,
      vec: org.apache.spark.sql.Column, cents: Array[Array[Double]],
      cn: Array[Double], n: Int, suffix: String): org.apache.spark.sql.Column =
    if (cents.length <= CoarseAssignAbove)
      graft.engine.expressions.IvfNearest(vec, cents, cn, false, n)
    else {
      val (gc, gn, mem) = coarseGroups.computeIfAbsent(
        datasetKey(s) + s"/coarse/$suffix", _ =>
          graft.engine.expressions.IvfNearest.groupCentroids(cents,
            math.max(1, math.round(math.sqrt(cents.length.toDouble)).toInt)))
      graft.engine.expressions.IvfNearestCoarse(vec, cents, cn, gc, gn, mem,
        CoarseGroupProbes, n)
    }

  /** Per-label concatenated centroid matrix + norms (see
    * [[buildLabelIvfIndex]]) — same reference-equality memoization as
    * [[centMatrix]].
    */
  private def labelCentMatrix(s: org.apache.spark.sql.SparkSession,
      perLabel: Int): (Array[Array[Double]], Array[Double]) =
    ivfCentArrays.computeIfAbsent(datasetKey(s) + s"/labelcents/$perLabel", _ => {
      val cents = buildLabelIvfIndex(s, perLabel)
      val arr = new Array[Array[Double]](cents.map(_._1).max + 1)
      cents.foreach { case (cid, ce) => arr(cid) = ce }
      (arr, graft.engine.expressions.IvfNearest.norms(arr))
    })

  /** IVF-blocked label-kNN — the approximate 100× path for the
    * kNN-graph family: v6 is EXACT and inherently quadratic per label
    * cell (ScaleBench wall-gates it above 20k vectors/cell), so the
    * scale variant sub-blocks each cell by the coarse quantizer:
    * candidates are confined to (label × IVF list). Label-correlated
    * embeddings make the lists label-PURE (the realistic case — and the
    * measured one: median off-label (label,list) cell 6 vs dominant-
    * label 566 at the 100× tier), so the honest per-vector budget is
    * nprobe · cell · L / nlists with L label cells, NOT
    * nprobe · cell / nlists: the label key prunes almost nothing
    * inside a probed list. ScaleBench.labelTierNlists sizes nlists from
    * that formula.
    *
    * `nlists` is the TOTAL list budget; the quantizer is PER LABEL
    * (r12, closing the r11 recall gap): each label gets
    * perLabel = max(1, nlists/L) centroids trained only on its own
    * vectors ([[buildLabelIvfIndex]]), and a vector is assigned/probed
    * within its own label's block via the codegen'd
    * [[graft.engine.expressions.IvfNearestBlock]] projection. The r11
    * global quantizer measured label-pure lists (median off-label cell
    * 6 vs dominant 566), so its probe RANKING was label-blind — at the
    * 100× tier recall@3 was 0.51 because most of the nprobe width
    * ranked other labels' lists. Per-label blocks make every probed
    * list in-label by construction: the same nprobe·cell/perLabel
    * folds/vector buy strictly more in-label candidates.
    *
    * Default nlists=16 over the fixture's 10 labels gives perLabel=1:
    * every label is ONE list, the candidate set is the full label cell
    * and the output is EQUAL to the exact kNN graph BY CONSTRUCTION —
    * that is what the sf oracle pins (same exact-kNN SQL as v6). The
    * prune ratio comes from corpus growth, not from this constant:
    * ScaleBench's 100×-tier row runs (nlists=1024 → perLabel=102,
    * nprobe=16) — ~16% of the label's own lists — and measures
    * recall@3 against a sampled exact reference at that exact config
    * (SCALE.md §r12), the same posture as nn_ivf_topk's fixed probe
    * width.
    *
    * Plan shape: list assignment is a PURE PROJECTION (the codegen'd
    * blocked variant of [[graft.engine.expressions.IvfNearest]] over
    * broadcast-free reference-object centroids — zero shuffle, unlike
    * the crossJoin+window spelling), the list join is explicitly
    * repartitioned against AQE's row-blind coalescing (the v6 lesson),
    * and the per-vector top-3 is the fixed-width codegen
    * [[graft.engine.expressions.TopKEdgeAgg]] hash aggregate — the
    * window spelling sorted every candidate pair (measured at the 100×
    * tier: 1.02e9 pairs, 10.5 GB spill, ~170 s → zero spill, 50 s).
    */
  private[graft] def labelKnnIvf(s: org.apache.spark.sql.SparkSession,
      nlists: Int = 16, nprobe: Int = 16, sym: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val TOPK = 3
    val labels = labelValues(s)
    val perLabel = math.max(1, nlists / labels.length)
    val (cents, cn) = labelCentMatrix(s, perLabel)
    // label value → block index in the concatenated matrix (labels are
    // sorted, blocks contiguous); a tiny literal map, not a join
    val lidx = element_at(typedLit(labels.zipWithIndex.toMap),
      col("label").cast("int"))
    val emb = s.table("embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    import graft.engine.expressions.{IvfNearestBlock, OptimizerBarrier}
    // best-first in-label probe lists (element 1 = the vector's HOME
    // list — its single nearest centroid). BARRIERED: without it the
    // optimizer substitutes this 26k-flop scoring kernel into the
    // inferred generator filter (size>0, isnotnull) and the join-key
    // notnull constraint — measured 3 evaluations per vector.
    def probeLists = OptimizerBarrier(IvfNearestBlock(col("embedding"),
      lidx, cents, cn, false, nprobe, perLabel))
    // build side: each vector lands in its ONE nearest in-label list
    // (list ids are GLOBAL — the label is encoded in the id, so the
    // list join implies the label match). It also carries its own
    // probe set for the symmetric-emission reverse-match test below —
    // nprobe ints per corpus row, NOT replicated.
    val b = emb.select(probeLists.as("nb_probes"),
      col("vec_id").as("nb"),
      col("embedding").as("vb"), col("nrm").as("nb_n"))
      .select(element_at(col("nb_probes"), 1).as("list_id"),
        col("nb_probes"), col("nb"), col("vb"), col("nb_n"))
    // probe side: replicated across the vector's nprobe nearest
    // in-label lists, carrying its home list id (one int) for the
    // reverse-match test
    val a = emb.select(col("vec_id"), col("label"),
      col("embedding").as("va"), col("nrm").as("na"),
      probeLists.as("plists"))
      .select(col("vec_id"), col("label"), col("va"), col("na"),
        element_at(col("plists"), 1).as("home_a"),
        explode(col("plists")).as("plist"))
    // width scales with the cluster (r18): the old 128 pin cost ~60 ms
    // of per-task overhead per KB-scale task on the fixture (same sweep
    // as labelKnn's P — see OPTIMIZATION_r18.md); per-task buffering is
    // bounded by the per-list membership, not P. Floored at 32 (r19,
    // ADVICE) — same validated-spread rationale as labelKnn's P.
    val P = math.max(32, s.sparkContext.defaultParallelism)
    // SYMMETRIC candidate emission (r12): a matched ordered pair
    // a→b (home(b) ∈ probes(a)) costs ONE dot product but certifies
    // BOTH edges of the unordered pair — per-vector coverage becomes
    // {b: a→b matched} ∪ {b: b→a matched} at the SAME fold count
    // (measured tier 2: recall@3 0.66 → 0.83 at equal wall). Dedup is
    // exact: when the reverse direction ALSO matches (home(a) ∈
    // probes(b)), each direction's join row emits only its forward
    // edge; when it doesn't, this row emits both. Every unordered pair
    // thus yields each directed edge exactly once. At the fixture
    // config (perLabel=1) both directions always match, so emission is
    // forward-only and the output is the exact kNN graph unchanged.
    // the exploded per-pair array is a LITERAL (0 = forward edge,
    // 0,1 = forward+reverse) — per-pair allocation of an array of
    // structs here measured +74 s on 7.1e8 pairs at tier 2
    // shuffle-hash, not sort-merge: SMJ sorts the replicated probe side
    // AND buffer-copies each matched build group per probe row —
    // measured 1.18 µs/pair at tier 2 (457 cpu-s / 387M pairs); the
    // hash join streams probes against a ~1.6k-row/task build map
    val pairs = a.repartition(P, col("plist"))
      .join(b.repartition(P, col("list_id")).hint("shuffle_hash"),
        col("plist") === col("list_id") && col("vec_id") =!= col("nb"))
      // the dot is BARRIERED below the edge-emission Generate: without
      // the barrier the optimizer defers it to the post-Generate
      // projection, re-evaluating it once per emitted EDGE (1.35× per
      // pair) and piping both raw vectors through the Generate
      .select(col("label"), col("vec_id"), col("nb"),
        OptimizerBarrier(
          dot(col("va"), col("vb")) / (col("na") * col("nb_n"))).as("simv"),
        (lit(!sym) ||
          array_contains(col("nb_probes"), col("home_a"))).as("fwdonly"))
      .select(col("label"), col("vec_id"), col("nb"), col("simv"),
        explode(when(col("fwdonly"), typedLit(Seq(0)))
          .otherwise(typedLit(Seq(0, 1)))).as("dir"))
      .select(
        when(col("dir") === 0, col("vec_id")).otherwise(col("nb")).as("vec_id"),
        col("label"),
        when(col("dir") === 0, col("nb")).otherwise(col("vec_id")).as("nb"),
        col("simv"))
    // per-vector top-3 as the fixed-width TopKEdgeAgg hash aggregate:
    // the label-correlated structure of real embeddings makes IVF lists
    // label-pure, so the (label × list) blocking measured 1.02e9
    // candidate pairs at the 100× tier — a window top-3 SORTED all of
    // them (10.5 GB spill, ~170 s); the aggregate folds each pair into
    // a 3-slot codegen'd state map-side inside the join partitioning,
    // and the one new exchange carries a ≤3-slot state per vector.
    topKEdges(pairs, TOPK)
  }

  /** Exact in-label top-3 edges for a deterministic ≤cap sample of
    * probe vectors — the recall reference at tiers where the FULL exact
    * kNN graph is wall-gated (quadratic per cell): sample × full-cell
    * work is cap·cell folds, seconds at any tier. The sample side
    * broadcasts (≤cap embedding rows), so candidate enumeration adds no
    * shuffle; the rank filter prunes map-side (WindowGroupLimit).
    * Use [[labelKnnSamplePred]] to restrict the approximate output to
    * the same probe set.
    */
  private[graft] def labelKnnSamplePred(cap: Long, n: Long): Column = {
    // ceil-divide like trainSample: the floor form (n/cap) gives mod=1
    // for cap < n < 2·cap — every row passes and the "≤cap sample"
    // silently becomes the whole corpus (expected sample is ≤~cap rows
    // only with mod = ceil(n/cap), min 2 once sampling kicks in)
    val mod = if (n <= cap) 1L else math.max(2L, (n + cap - 1) / cap)
    pmod(xxhash64(col("vec_id"), lit(77616853L)), lit(mod)) === 0
  }

  private[graft] def labelKnnExactSample(s: org.apache.spark.sql.SparkSession,
      cap: Long = 1000): org.apache.spark.sql.DataFrame = {
    val emb = s.table("embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = emb.filter(labelKnnSamplePred(cap, emb.count()))
      .select(col("vec_id"), col("label"),
        col("embedding").as("va"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("nb"), col("label").as("lb"),
      col("embedding").as("vb"), col("nrm").as("nb_n"))
    val pairs = broadcast(a)
      .join(b, col("label") === col("lb") && col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb_n"))).as("simv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("simv").desc, col("nb").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("vec_id"), col("nb"))
  }

  val v7 = Q(
    "nn_label_knn_ivf",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT vec_id, label, nb, sim, rn FROM (
      |  SELECT a.vec_id, a.label, b.vec_id AS nb,
      |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id ASC) AS rn
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id) t
      |WHERE rn <= 3
      |ORDER BY vec_id ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin
  ) { s => labelKnnIvf(s) }

  /** Graph-index label-kNN (r13): one deterministic HNSW per label
    * cell, built and queried inside a single task per cell — the
    * structural fix for flat IVF's recall-vs-coverage contract
    * (SCALE.md r12 frontier ladder: 0.835 @100× → 0.5685 @1000× at
    * constant probe budget; a graph routes in ~log n hops, so recall
    * is set by ef and the TOTAL work stays sub-quadratic:
    * ~n·(efC·log n + efS) distance evals vs IVF's
    * n·nprobe·cell/nlists candidate pairs).
    *
    * Plan shape: ONE shuffle (groupByKey on label — the same blocking
    * key every kNN-graph variant already shuffles on), then the whole
    * build+query runs as per-cell JVM kernels with zero further
    * exchanges; no pair relation ever materializes (the IVF path's
    * remaining tier-3 wall was exactly its 5B-row candidate join at
    * ~1.8 µs/row of join machinery). mapGroups is justified here the
    * same way mm_decode's mapPartitions is: a graph with mutable
    * adjacency state is a codec-like context no Expression can hold.
    *
    * Cells ≤ exactBelow run the exact O(n²) scan instead (cheaper than
    * building a graph at that size), which makes the FIXTURE config
    * oracle-EQUAL by construction — the same posture as labelKnnIvf's
    * perLabel=1 — while tier 2+ cells exercise the graph
    * (HnswSpec pins the forced-graph path differentially at fixture
    * scale; ScaleBench measures its recall at the big tiers).
    *
    * Default (m=32, efC=200, efS=96) is the r14 MEASURED config: graph
    * DENSITY, not beam width, is the recall lever as cells grow — at
    * the 1000× tier (200k-vector cells) the r13 (16, 128) graph decays
    * to recall@3 0.736 at efS=96 while (32, 200) holds 0.9494
    * (vs 0.9987 at the 100× tier — near scale-stable), and m dominates:
    * (32, 200) at efS=64 (0.937) beats (16, 200) at efS=192 (0.859).
    * Build cost is the price — ~390 s vs ~128 s per 200k cell single-
    * threaded — paid once per corpus, off the query path (SCALE.md
    * §r14 ladders).
    *
    * 100 TB contract: a cell must fit one task (~60 MB at 200k×64-d
    * incl. adjacency). MONSTER CELLS (> `cellShardThreshold` vectors)
    * compose with the per-label IVF router (r14, closing the r13
    * boundary): the label's own k-means quantizer
    * ([[buildLabelIvfIndex]]) splits the cell into shards sized to fit
    * one task, each vector is EMITTED to its `shardProbes` nearest
    * in-label shards (the symmetric-emission trick — every member is
    * both query and candidate in every shard it probes, so a pair
    * co-occurs whenever their probe sets overlap), one graph is built
    * per (label, shard), and the per-shard top-k candidates merge with
    * the same fold-then-round TopKEdgeAgg the IVF path uses. Recall is
    * then bounded by shard co-occurrence × graph recall — the documented
    * budget-vs-recall boundary, measured at tier 3 in SCALE.md. A pair
    * probed in TWO shards yields bit-identical raw sims (same floats,
    * same fold), so distinct() is exact dedup, and the merge ranks on
    * the UNROUNDED double exactly like the single-graph arm.
    */
  /** Probe-budget policy for sharded HNSW (r15, VERDICT r14 item 8):
    * the probes=2 → probes=3 recall cliff (0.77 vs 0.91 at tier 3) made
    * the knob a config trap, so the default is now DERIVED from a
    * target co-occurrence. Model: a true neighbor pair is findable iff
    * the two probe sets overlap; the measured tier-3 miss mass shrinks
    * geometrically per extra probe (p=2 → 18.9% of single-graph recall
    * lost, p=3 → 4.2%, SCALE.md §r14 ladder), giving
    * miss(p) ≈ c·r^p with (c, r) = (3.92, 0.22) calibrated on those
    * two points. Default target 0.95 of unsharded recall ⇒ p = 3. The
    * decay was measured at S=12 shards; the model assumes it transfers
    * across S (stated, and logged with the prediction whenever sharding
    * activates so a deployment can audit the bound against its own
    * recall ladder).
    */
  private[graft] val ShardMissBase = 3.92
  private[graft] val ShardMissDecay = 0.22
  private[graft] def shardProbesFor(targetCoOcc: Double = 0.95): Int = {
    var p = 1
    while (p < 16 &&
      ShardMissBase * math.pow(ShardMissDecay, p) > 1.0 - targetCoOcc) p += 1
    p
  }

  private[graft] def labelKnnHnsw(s: org.apache.spark.sql.SparkSession,
      exactBelow: Int = 4096, m: Int = 32, efC: Int = 200, efS: Int = 96,
      cellShardThreshold: Int = 1 << 20, shardProbes: Int = 0,
      nShardsOverride: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val TOPK = 3
    // per-label cell sizes: bounded collect (label is the class key —
    // tens of values), memoized per dataset like labelValues
    val sizes = labelCellSizes(s)
    val big = sizes.filter(_._2 > cellShardThreshold.toLong).keys.toSeq.sorted

    // one whole-cell graph per label — the ≤threshold path (unchanged
    // from r13)
    def singleGraphEdges(src: org.apache.spark.sql.DataFrame) = src
      .select(col("label"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (label: Int, it: Iterator[(Int, Long, Array[Float])]) =>
        val cell = it.toArray.sortBy(_._2) // vec_id order IS the tie-break order
        val ids = new Array[Long](cell.length)
        val vecs = new Array[Array[Float]](cell.length)
        var i = 0
        while (i < cell.length) { ids(i) = cell(i)._2; vecs(i) = cell(i)._3; i += 1 }
        Hnsw.cellTopK(ids, vecs, TOPK, exactBelow, m, efC, efS)
          .map { case (v, nb, sim, rn) => (v, label, nb, sim, rn) }
      }
      .toDF("vec_id", "label", "nb", "sim", "rn")

    val edges =
      if (big.isEmpty) singleGraphEdges(s.table("embeddings"))
      else {
        // shard count sized so the EMITTED shard (≈ cell·probes/nShards
        // rows after the ×shardProbes replication) stays under the
        // one-task threshold with 25% imbalance headroom; the override
        // pins it for differential specs and measurement sweeps
        // (shardProbes ≥ nShards ⇒ full coverage ⇒ output EQUALS the
        // single-graph arm — the plumbing differential HnswSpec pins)
        // probe budget: explicit when pinned (specs, sweeps), else the
        // documented co-occurrence policy above (0.95 target ⇒ 3)
        val probeBudget =
          if (shardProbes > 0) shardProbes else shardProbesFor()
        val maxCell = big.map(sizes).max
        val nShards =
          if (nShardsOverride > 0) nShardsOverride
          else math.max(2, math.ceil(
            maxCell.toDouble * probeBudget * 1.25 / cellShardThreshold).toInt)
        val effProbes = math.min(probeBudget, nShards)
        System.err.println(f"[hnsw] sharding ${big.size} label cell(s): " +
          f"nShards=$nShards shardProbes=$effProbes — predicted " +
          f"co-occurrence ${if (effProbes >= nShards) 1.0
            else 1.0 - ShardMissBase * math.pow(ShardMissDecay, effProbes)}%.3f " +
          "of unsharded recall (tier-3 calibration, SCALE.md)")
        val (cents, cn) = labelCentMatrix(s, nShards)
        val labels = labelValues(s)
        val lidx = element_at(typedLit(labels.zipWithIndex.toMap),
          col("label").cast("int"))
        import graft.engine.expressions.{IvfNearestBlock, OptimizerBarrier}
        val cand = s.table("embeddings")
          .filter(col("label").isin(big: _*))
          .select(col("label").cast("int").as("label"), col("vec_id"),
            col("embedding"),
            // BARRIERED like labelKnnIvf's probe lists: the scoring
            // kernel must not be substituted into inferred filters
            explode(OptimizerBarrier(IvfNearestBlock(col("embedding"),
              lidx, cents, cn, false, effProbes,
              nShards))).as("shard"))
          .select(col("label"), col("shard"), col("vec_id"), col("embedding"))
          .as[(Int, Int, Long, Array[Float])]
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Float])]) =>
            val cell = it.toArray.sortBy(_._3)
            val ids = new Array[Long](cell.length)
            val vecs = new Array[Array[Float]](cell.length)
            var i = 0
            while (i < cell.length) { ids(i) = cell(i)._3; vecs(i) = cell(i)._4; i += 1 }
            // RAW sims: per-shard candidates re-rank globally below on
            // the exact double the single-graph arm ranks on
            Hnsw.cellTopKRaw(ids, vecs, TOPK, exactBelow, m, efC, efS)
              .map { case (v, nb, sim, _) => (v, key._1, nb, sim) }
          }
          .toDF("vec_id", "label", "nb", "simv")
        val merged = topKEdges(cand.distinct(), TOPK)
        val small = big.toSet
        if (sizes.keys.forall(small.contains)) merged
        else singleGraphEdges(
          s.table("embeddings").filter(!col("label").isin(big: _*)))
          .unionAll(merged)
      }
    // CacheOnce'd BELOW the global sort: the range exchange SAMPLES its
    // child for partition bounds, which would build + query every graph
    // twice (measured: 2 × 133 task-sec at tier 2). The edge relation
    // is k rows/vector (~20 MB at tier 2), the graphs are the cost.
    //
    // The PLAN OBJECT is additionally memoized per (dataset, params):
    // the flatMapGroups closures CAPTURE (m, efC, …), so every call
    // mints fresh lambda instances and the rebuilt plan is never
    // `sameResult` with the previous run's — without the memo, each
    // re-run (every bench pass) replaced the cache entry and re-built
    // every graph (the one thrash the two-dataset CacheOnceSpec
    // caught in r16). Declarative plans don't need this; only
    // capturing-closure plans lose CacheManager identity.
    val memoKey = datasetKey(s) +
      s"/hnsw:$exactBelow:$m:$efC:$efS:$cellShardThreshold:$shardProbes:$nShardsOverride"
    // memo hit must CHECK CacheOnce liveness (r16 ADVICE): after an LRU
    // eviction/release of the key, returning the memoized plan without
    // re-registering would leave the edge relation unpersisted for the
    // rest of the JVM — silently reintroducing the per-pass graph
    // rebuild. Re-registering the SAME plan object keeps CacheManager
    // identity (that is the whole point of the memo) and a liveness hit
    // bumps the entry's LRU tick, so a served key can't age out under a
    // reader. compute() also serializes concurrent first-builds per key.
    val cached = hnswEdgesByKey.compute(memoKey, (k, prev) =>
      if (prev == null) { hnswEdgeStats.onBuild(k); graft.engine.CacheOnce(k, edges) }
      else if (graft.engine.CacheOnce.touchLive(k)) prev
      else graft.engine.CacheOnce(k, prev))
    cached.orderBy(col("vec_id").asc_nulls_last, col("rn").asc_nulls_last)
  }

  /** Memoized HNSW edge plans (see labelKnnHnsw): normally bounded by
    * the (dataset, param-combo) population — a handful per dataset —
    * but a long-lived serving session registering many roots would
    * still grow it one plan object per combo forever (r16 ADVICE).
    * Access-ordered LRU capped at 64: past the cap only the LEAST
    * RECENTLY USED combo's plan drops (that combo rebuilds its plan —
    * and, because the flatMapGroups closures lose `sameResult`
    * identity, re-derives its CacheOnce blocks — on next use; served
    * combos are untouched. A blanket clear() here would force that
    * rebuild-thrash on EVERY live combo at once — the r17 review
    * finding).
    */
  private[graft] val hnswEdgeStats = new MemoStats("SimilarityOps.hnswEdgesByKey")
  private val hnswEdgesByKey: java.util.Map[String, org.apache.spark.sql.DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, org.apache.spark.sql.DataFrame](
        16, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, org.apache.spark.sql.DataFrame])
            : Boolean = {
          val evict = size() > 64
          if (evict) hnswEdgeStats.onEvict(e.getKey)
          evict
        }
      })

  /** Per-label cell sizes, memoized per dataset (same bounded-collect
    * class as [[labelValues]] — label is the class key, tens of values).
    */
  private val cellSizesByDataset =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  private[graft] def labelCellSizes(s: org.apache.spark.sql.SparkSession)
      : Map[Int, Long] =
    cellSizesByDataset.computeIfAbsent(datasetKey(s), _ =>
      s.table("embeddings").groupBy(col("label").cast("int").as("l"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)

  val v8 = Q(
    "nn_label_knn_hnsw",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT vec_id, label, nb, sim, rn FROM (
      |  SELECT a.vec_id, a.label, b.vec_id AS nb,
      |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id ASC) AS rn
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id) t
      |WHERE rn <= 3
      |ORDER BY vec_id ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin
  ) { s => labelKnnHnsw(s) }

  /** The monster-cell SHARD composition (r14) exercised through the
    * driver's oracle gate, not just HnswSpec: a forced-tiny
    * `cellShardThreshold` (16 ≪ every fixture cell) routes EVERY label
    * through the IVF router → per-(label, shard) graph → distinct +
    * TopKEdgeAgg merge, and `shardProbes = nShards = 2` gives FULL probe
    * coverage, which provably reproduces the single-graph output (every
    * pair co-occurs in every shard; raw sims are bit-identical floats,
    * so the exact-dedup distinct + fold ranks exactly like the
    * unsharded arm). Oracle-EQUAL at any SF by that argument — the
    * plumbing (router emission, shard grouping, merge) is what the
    * driver now observes every round. Partial coverage (the real scale
    * trade: probes < shards) is measured in SCALE.md's tier-3 table
    * (probes=3/12 shards → recall 0.9100 vs unsharded 0.9494), not
    * oracled — there is no SQL oracle for an approximate contract.
    */
  val v9 = Q(
    "nn_label_knn_hnsw_sharded",
    v8.oracle.get
  ) { s => labelKnnHnsw(s, cellShardThreshold = 16, shardProbes = 2,
      nShardsOverride = 2) }

  val all: Seq[Q] = Seq(v1, v2, v3, v4, v4b, v5, v6, v7, v8, v9, v10)
}
