package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, broadcast, col, count, element_at, lit, sqrt, sum, when}

/** Empirical scale evidence for the heavy operator families (the
  * round-7 carry-over mandate): run them against a ScaleGen corpus —
  * sf1-equivalent by default, 10× the largest read-only fixture tier —
  * and record per-query wall, output rows, shuffle bytes moved, spill,
  * and peak per-task execution memory into `SCALE.md`.
  *
  * Queries run SEQUENTIALLY (unlike Bench's concurrent suite): the
  * point is clean per-query attribution of bytes and memory, not
  * suite throughput. Beyond the declared queries it drives the paths
  * that only trigger at scale or under adversarial shape:
  *
  *  - dd_components on the corpus' 400-deep near-dup chain runs BOTH
  *    label paths — plain propagation+pointer-doubling (star fallback
  *    disabled) and the Kiveris large-star/small-star fallback (forced
  *    from round 0) — and asserts they label every node identically;
  *  - tx_decontaminate runs BOTH gate paths — measured-broadcast and
  *    forced two-sided shuffle (autoBroadcastJoinThreshold=-1 on a
  *    cloned session) — and asserts equal survivor counts;
  *  - the ANN equality sweeps re-run at scale: IVF and PQ top-3 result
  *    sets must EQUAL brute-force cosine top-3 (same contract the
  *    sf0.01 oracle pins), with index build times reported separately
  *    (the offline/online split every ANN system uses).
  *
  * Usage: runMain graft.ScaleBench [corpusDir] [mdOut] [q1,q2,…]
  * (defaults /tmp/graft_sf1, SCALE.md, the full heavy list; a third
  * arg restricts to named queries for focused re-measurement — the
  * cross-path invariant blocks only run on the full list). Generate
  * the corpus first with ScaleGen.
  */
object ScaleBench {

  final case class Row(name: String, rows: Long, wallSec: Double,
    shufReadMB: Double, shufWriteMB: Double, spillMB: Double,
    peakMemMB: Double, note: String)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val mdOut = args.drop(1).headOption.getOrElse("SCALE.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 32 shuffle partitions — the cluster-shaped setting, not the
      // micro-bench one: partition skew/fit is part of what's measured
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val subset = args.drop(2).headOption.map(_.split(",").toSeq.filter(_.nonEmpty))
    val rows = subset match {
      case Some(qs) => run(spark, dir, qs, invariants = false)
      case None     => run(spark, dir)
    }
    writeMd(mdOut, dir, rows)
    val json = rows.map(r =>
      s""""${r.name}":{"rows":${r.rows},"wall_sec":${f"${r.wallSec}%.2f"},""" +
        s""""shuffle_read_mb":${f"${r.shufReadMB}%.1f"},"shuffle_write_mb":${f"${r.shufWriteMB}%.1f"},""" +
        s""""spill_mb":${f"${r.spillMB}%.1f"},"peak_task_mem_mb":${f"${r.peakMemMB}%.1f"}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale","sf_dir":"$dir","queries":$json}""")
    spark.stop()
  }

  /** The heavy families (round-7 VERDICT list) + the relational
    * heavyweights that stress the same shuffle machinery.
    */
  private val heavy = Seq(
    "dd_exact", "dd_minhash_lsh", "dd_simhash", "dd_ngram_jaccard",
    "dd_components", "tx_decontaminate", "tx_token_count", "tx_fingerprint",
    "tx_bigram_lm", "tx_tfidf_terms", "tx_dup_coverage", "dd_semantic",
    "pipe_compact", "pipe_embed_dedup", "pipe_funnel", "ev_sessionize",
    "ev_funnel", "ev_retention", "ev_attribution", "ev_anomaly",
    "pipe_mix_sample", "mm_decode", "mm_resize",
    "nn_cosine_topk", "nn_ivf_topk", "nn_pq_topk", "nn_label_knn",
    "a10_approx_distinct", "q1_pricing", "q18_large_orders",
    // round-9 additions: the new TPC-H shapes and pipeline operators
    "q7_volume_shipping", "q8_market_share", "q13_cust_distribution",
    "q15_top_supplier", "q22_idle_rich_customers",
    "dd_keep_longest", "pipe_train_split", "tx_source_stats",
    // round-10 additions: the TPC-H completion set (decorrelation
    // heavyweights — Q21's semi+anti pair, Q16's distinct-count under
    // NOT IN, Q11's global-scalar HAVING, Q9's widest profit rollup)
    "q9_product_profit", "q11_important_stock", "q12_shipmode_priority",
    "q16_parts_supplier_cnt", "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    // round-11 addition: the approximate label-kNN path (exact v6 is
    // wall-gated at tier 2 — this is the family's measured 100× row)
    "nn_label_knn_ivf",
    // round-13 addition: the graph-index path (one HNSW per label
    // cell) — sub-quadratic total work with ef-set recall, the
    // structural answer to flat IVF's coverage-bound recall decay
    "nn_label_knn_hnsw",
    // round-14 additions: chunking (map-only generator), next-fit
    // packing (one block shuffle + in-task fold), incremental
    // batch-vs-corpus dedup (narrow digest + bucket joins), char
    // entropy (pure-map codegen kernel)
    "tx_chunk", "pipe_pack", "dd_incremental", "tx_entropy",
    // split-leakage audit: both sides corpus-sized, digest-only joins
    "pipe_leakage",
    // perceptual-hash image dedup: real-codec decode+hash per partition,
    // only (doc_id, 4×16-bit bands) ever shuffles
    "mm_phash_dedup",
    // IVFADC: coarse prune × residual-PQ compression — the composed
    // memory-bound ANN layout (probed candidates read 9 bytes each)
    "nn_ivfpq_topk",
    // round-15 additions: span-level duplicate-text removal (digest
    // shuffles + per-row span algebra; text moves once on doc_id) and
    // the real-WAV-codec audio arm (partition-parallel, shuffle-free)
    "tx_span_dedup", "mm_audio_meta", "mm_audio_decode", "mm_video_meta",
    // indexed ingest: ONLINE batch classification against the
    // precomputed corpus index (build measured as its own row)
    "dd_incremental_indexed",
    // composed cleaning pipeline: exact dedup -> span-level removal -> report
    "pipe_span_clean",
    // round-16 addition: SemDeDup over the TRAINED IVF lists (map-only
    // assignment vs 16 broadcast-literal centroids; 16-row aggregates)
    "dd_semantic_ivf",
    // round-17 addition: the point-lookup ingest classifier (slab
    // index probes — build measured as its own row)
    "dd_incremental_lookup")

  /** Tier (nlists, nprobe) for the label-kNN IVF path — nlists is the
    * TOTAL budget; labelKnnIvf trains nlists/L centroids PER LABEL
    * (r12), so every probed list is in-label by construction and the
    * per-vector budget is nprobe·cell·L/nlists folds. The 100×-tier
    * point (5100 → 510/label, 48) sits on the measured recall/wall
    * frontier under symmetric edge emission (ProbeKnn sweep, r12):
    * (408,40) 483M pairs / 53.1 s / recall 0.820; (510,48) 479M /
    * 55.3 s / 0.835; (612,56) 477M / 58.6 s / 0.846 — same fold
    * budget, recall rises with list granularity; (510,48) keeps margin
    * on BOTH axes of the ≤60 s / ≥0.80 target. At the 10× tier the
    * cell (2k) is itself budget-sized, so probing is exhaustive by
    * construction (recall 1.0 — the same posture the sf fixture oracle
    * pins).
    */
  private def labelTierConf(spark: SparkSession): (Int, Int) = {
    val perCell = spark.table("embeddings").count() / 10.0
    if (perCell < 10000) (64, 16)
    else {
      // hold the 100×-tier frontier point's PER-VECTOR budget at every
      // larger tier: lists stay ~39 rows (20k-cell / 510 lists) and
      // nprobe stays 48, so folds/vector ≈ 1.9k is scale-invariant —
      // lists GROW with the cell instead of fattening. The r12 1000×
      // attempt with the constant (5100, 48) fattened lists 10× and
      // the candidate set hit ~37B pairs (~78× the 100× row) before
      // being killed; sizing is part of the operator's scale contract.
      val perLabel = math.max(510, math.round(perCell / 39.2).toInt)
      (perLabel * 10, 48)
    }
  }

  def run(spark: SparkSession, dir: String,
      queries: Seq[String] = heavy,
      invariants: Boolean = true): Seq[Row] = {
    val metrics = new graft.engine.TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    graft.engine.Tables.register(spark, dir)
    // every row prints as it lands (stderr): a crash mid-run (the r17
    // ENOSPC) must not lose the rows already measured
    val out = new scala.collection.mutable.ArrayBuffer[Row]() {
      override def addOne(r: Row): this.type = {
        System.err.println(
          s"[scale-row] ${r.name}: rows=${r.rows} wall=${f"${r.wallSec}%.2f"} :: ${r.note}")
        super.addOne(r)
      }
    }
    def updateLast(r: Row): Unit = {
      out.update(out.length - 1, r)
      System.err.println(s"[scale-row] ${r.name} (updated): ${r.note}")
    }

    def measure(name: String, note: String = "")(body: => DataFrame): Row = {
      org.apache.spark.sql.GraftPlans.flushListenerBus(spark)
      metrics.reset()
      val t0 = System.nanoTime()
      var rowCount = -1L
      graft.engine.CacheOnce.scoped {
        val df = body
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftPlans.flushListenerBus(spark)
        val r = Row(name, -1L, wall,
          metrics.shufRead.sum / 1048576.0, metrics.shufWrite.sum / 1048576.0,
          metrics.spill.sum / 1048576.0, metrics.peakMem.get / 1048576.0, note)
        // row count AFTER the timed pass (untimed; count() may prune
        // projections, so it must never be the measured pass)
        rowCount = df.count()
        out += r.copy(rows = rowCount)
      }
      System.err.println(s"[scale] ${out.last.name}: ${f"${out.last.wallSec}%.2f"}s " +
        s"rows=${out.last.rows} shufR=${f"${out.last.shufReadMB}%.1f"}MB")
      out.last
    }

    // ANN index builds: offline in any ANN system — timed separately so
    // the query rows measure the ONLINE path (ann-benchmarks split);
    // skipped when a focused subset doesn't touch the indexed queries
    if (invariants ||
        queries.exists(q => q == "nn_ivf_topk" || q == "nn_pq_topk")) {
      val t0 = System.nanoTime()
      graft.llm.SimilarityOps.buildIvfIndex(spark, 16)
      out += Row("nn_ivf_build", -1, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0,
        "offline index build (k-means, 16 lists)")
      val t1 = System.nanoTime()
      graft.llm.SimilarityOps.warmPqIndex(spark)
      out += Row("nn_pq_build", -1, (System.nanoTime() - t1) / 1e9, 0, 0, 0, 0,
        "offline index build (8x256 codebooks + corpus encode)")
    }
    if (invariants || queries.contains("nn_ivfpq_topk")) {
      val t2 = System.nanoTime()
      graft.llm.SimilarityOps.warmIvfPqIndex(spark)
      out += Row("nn_ivfpq_build", -1, (System.nanoTime() - t2) / 1e9, 0, 0, 0, 0,
        "offline IVFADC build (coarse assign + residual codebooks + encode)")
    }
    // "dd_ingest_stream" is a HARNESS name (not a declared query): it
    // buys the index build + window + streaming-latency rows below
    // WITHOUT the corpus-sized declared dd_incremental_indexed row —
    // at the 1000× tier that declared row alone is ~400 s of honest
    // fixture-contract worst case already measured in r15.
    if (invariants || queries.contains("dd_incremental_indexed") ||
        queries.contains("dd_ingest_stream")) {
      val t3 = System.nanoTime()
      graft.llm.DedupOps.warmIncrementalIndex(spark)
      out += Row("dd_incremental_index_build", -1, (System.nanoTime() - t3) / 1e9,
        0, 0, 0, 0,
        "offline corpus dedup index (digests + capped band buckets + shingle sets)")
    }
    // point-lookup slab index build (offline, the ANN split): its own
    // row so dd_incremental_lookup / the streaming faces measure the
    // ONLINE probe path only
    if (invariants || queries.contains("dd_incremental_lookup")) {
      val t4 = System.nanoTime()
      graft.llm.LookupIndex.warm(spark)
      out += Row("dd_lookup_index_build", -1, (System.nanoTime() - t4) / 1e9,
        0, 0, 0, 0,
        "offline point-lookup slab index (digest/band/shingle-hash slabs)")
    }
    if (invariants || queries.contains("dd_incremental_indexed") ||
        queries.contains("dd_ingest_stream")) {
      // the PRODUCTION ingest shape: a bounded window (1% of the corpus,
      // verbatim copies — they exercise both the exact arm and the
      // near-candidate verify) classified against the prebuilt index.
      // The declared-query row keeps the fixture contract (batch =
      // corpus-sized); this row measures the posture a deployment runs.
      val (iEx, iBands, iSh) = graft.llm.DedupOps.incrementalIndex(
        spark, graft.llm.DedupOps.HOT_BUCKET_CAP)
      measure("dd_incremental_window1pct",
        "1% ingest window vs prebuilt index (production posture)") {
        graft.llm.DedupOps.classifyBatch(
          // corpus-derived offset, same construction as the declared
          // query (r15 ADVICE): a hardcoded 1e8 would collide batch ids
          // with corpus ids once a tier's corpus reaches 1e8 docs and
          // skew the verdicts with self-matches
          spark.table("documents").filter(col("doc_id") % 100 === 0)
            .select((col("doc_id") + graft.llm.DedupOps.idOffset(spark)).as("doc_id"),
              col("text")),
          iEx, iBands, iSh, pruneVerify = true) // bounded window: ingest posture
      }
      // STREAMING face of the same posture (r16, VERDICT r15 item 7):
      // the 1% window split into 5 micro-batches through
      // DocStream.classifyIngest (foreachBatch over the SAME prebuilt
      // index), per-trigger latency measured wall-to-wall (addData →
      // processAllAvailable → sink materialized). The driver-side
      // collect here is HARNESS plumbing — MemoryStream is fed from the
      // driver by design; the classification itself stays distributed.
      // Gated on the harness name ALONE (r16 ADVICE): invariants mode /
      // dd_incremental_indexed want the index-build + window rows above,
      // not multi-second streaming measurements they never asked for.
      if (queries.contains("dd_ingest_stream")) {
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val windowDocs = spark.table("documents")
          .filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + graft.llm.DedupOps.idOffset(spark))
            .as("doc_id"), col("text"))
          .as[(Long, String)].collect()
        // an empty 1% window (tiny or filtered-out corpora) previously
        // threw on per.head / median indexing and killed the whole tier
        // run (r16 ADVICE) — skip the rows with a note instead
        if (windowDocs.isEmpty)
          out += Row("dd_ingest_stream", 0, 0.0, 0, 0, 0, 0,
            "skipped: empty 1% ingest window (corpus too small)")
        else {
        // default: the 1% window over 5 triggers (trigger size grows
        // with the corpus). SPARK_GRAFT_STREAM_TRIGGER_DOCS pins a
        // FIXED trigger size instead — the ladder point that isolates
        // index-side cost from trigger size across tiers.
        val trigDocs = sys.env.get("SPARK_GRAFT_STREAM_TRIGGER_DOCS")
          .flatMap(_.toIntOption)
        val nTrig = 5
        val per = windowDocs
          .take(trigDocs.fold(windowDocs.length)(_ * nTrig))
          .grouped(trigDocs.getOrElse(
            math.max(1, math.ceil(windowDocs.length.toDouble / nTrig).toInt)))
          .toSeq
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = graft.streaming.DocStream.classifyIngest(
          mem.toDF.toDF("doc_id", "text"), (iEx, iBands, iSh),
          (verdicts, _) =>
            verdicts.write.format("noop").mode("overwrite").save())
        val lat = scala.collection.mutable.ArrayBuffer[Double]()
        try per.foreach { w =>
          val t0 = System.nanoTime()
          mem.addData(w.toSeq)
          q.processAllAvailable()
          lat += (System.nanoTime() - t0) / 1e9
        } finally q.stop()
        val sorted = lat.sorted
        val med = sorted(sorted.length / 2)
        val fed = per.map(_.length).sum
        out += Row("dd_ingest_stream", fed, sorted.sum,
          0, 0, 0, 0,
          f"${per.length} triggers x ~${per.head.length} docs vs prebuilt index: " +
            f"median trigger ${med}%.2f s, max ${sorted.last}%.2f s, " +
            f"${fed / sorted.sum}%.0f docs/s sustained")
        // the STATE-STORE exact arm (r16): corpus digests seeded as
        // flatMapGroupsWithState initial state — trigger 1 pays the
        // load, later triggers are point lookups ∝ batch. Reported as
        // (first trigger | steady median) so the load cost is visible.
        val mem2 = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val exLat = scala.collection.mutable.ArrayBuffer[Double]()
        val qx = graft.streaming.DocStream.classifyIngestExact(
          mem2.toDF.toDF("doc_id", "text"), iEx,
          (vs, _) => vs.write.format("noop").mode("overwrite").save())
        try per.foreach { w =>
          val t0 = System.nanoTime()
          mem2.addData(w.toSeq)
          qx.processAllAvailable()
          exLat += (System.nanoTime() - t0) / 1e9
        } finally qx.stop()
        val steady = exLat.drop(1).sorted
        out += Row("dd_ingest_stream_exact", fed, exLat.sum, 0, 0, 0, 0,
          f"state-store exact arm, ${per.length} triggers x ~${per.head.length} docs: " +
            f"trigger1 (state load) ${exLat.head}%.2f s, steady median " +
            f"${if (steady.nonEmpty) steady(steady.length / 2) else -1.0}%.2f s")
        // the STAGED composition (r17, VERDICT r16 item 2): state-store
        // exact gate → only SURVIVORS reach the near classifier
        // (point-lookup face). Per-trigger latency plus the survivor
        // fraction the near face actually saw.
        locally {
          val t0 = System.nanoTime()
          val idx = graft.llm.LookupIndex.forDataset(spark)
          // only a FIRST build is a build row: when the standalone gate
          // above (or warm) already built the index, this is a memo hit
          // and recording ~0 s as "offline build" would corrupt the
          // round-over-round build series (r17 review finding)
          if (!out.exists(_.name == "dd_lookup_index_build"))
            out += Row("dd_lookup_index_build", -1,
              (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0,
              "offline point-lookup slab index (digest/band/shingle-hash " +
                "slabs, memoized per dataset)")
          val survivors = new java.util.concurrent.atomic.AtomicLong(0)
          val near = (b: org.apache.spark.sql.DataFrame) => {
            survivors.addAndGet(b.count()) // trigger-sized recompute, harness-only
            graft.llm.LookupIndex.nearMatchesIndexed(b, idx)
          }
          // MIXED ingest window for the staged/lookup rows (the verbatim
          // window above gates everything at the exact arm — near saw
          // 0%): the syntheticBatch mutation per source id mod 3
          // (verbatim / 80%-token prefix / reversal), so the staged row
          // demonstrates the survivor fraction (~2/3) the composition
          // exists for. The dd_ingest_stream/_exact rows above keep the
          // verbatim window for series continuity with r15/r16.
          val perMixed = per.map(_.map { case (id, text) =>
            val toks = text.split(" ")
            (id, (id % 3) match {
              case 0 => text
              case 1 => toks.take(math.max(3, toks.length * 4 / 5)).mkString(" ")
              case _ => toks.reverse.mkString(" ")
            })
          })
          val mem3 = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, String)]
          val stLat = scala.collection.mutable.ArrayBuffer[Double]()
          val qs = graft.streaming.DocStream.classifyIngestStaged(
            mem3.toDF.toDF("doc_id", "text"), iEx, near,
            (vs, _) => vs.write.format("noop").mode("overwrite").save())
          try perMixed.foreach { w =>
            val t1 = System.nanoTime()
            mem3.addData(w.toSeq)
            qs.processAllAvailable()
            stLat += (System.nanoTime() - t1) / 1e9
          } finally qs.stop()
          val stSteady = stLat.drop(1).sorted
          out += Row("dd_ingest_stream_staged", fed, stLat.sum, 0, 0, 0, 0,
            f"exact gate -> survivors to point-lookup near face: " +
              f"near saw ${survivors.get()}/$fed docs " +
              f"(${100.0 * survivors.get() / math.max(1, fed)}%.0f%%), " +
              f"trigger1 (state load) ${stLat.head}%.2f s, steady median " +
              f"${if (stSteady.nonEmpty) stSteady(stSteady.length / 2) else -1.0}%.2f s")
          // RocksDB + changelog checkpointing probe (r17 VERDICT item
          // 6): SCALE.md §r17 attributes the staged row's steady cost
          // to the state-store COMMIT, not the near face — the default
          // HDFS-backed provider re-snapshots the whole corpus-sized
          // digest map per trigger, while RocksDB with changelog
          // checkpointing commits only the trigger's delta. Same mixed
          // window, same gate, same near face; conf scoped to this run
          // and restored after, so the canonical staged row above keeps
          // its provider and its series.
          locally {
            val confKeys = Seq(
              "spark.sql.streaming.stateStore.providerClass" ->
                ("org.apache.spark.sql.execution.streaming." +
                  "state.RocksDBStateStoreProvider"),
              ("spark.sql.streaming.stateStore.rocksdb." +
                "changelogCheckpointing.enabled") -> "true")
            val prev = confKeys.map { case (k, _) => k -> spark.conf.getOption(k) }
            confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
            try {
              val memR = org.apache.spark.sql.execution.streaming.runtime
                .MemoryStream[(Long, String)]
              val rLat = scala.collection.mutable.ArrayBuffer[Double]()
              val qr = graft.streaming.DocStream.classifyIngestStaged(
                memR.toDF.toDF("doc_id", "text"), iEx, near,
                (vs, _) => vs.write.format("noop").mode("overwrite").save())
              try perMixed.foreach { w =>
                val t1 = System.nanoTime()
                memR.addData(w.toSeq)
                qr.processAllAvailable()
                rLat += (System.nanoTime() - t1) / 1e9
              } finally qr.stop()
              val rSteady = rLat.drop(1).sorted
              out += Row("dd_ingest_stream_staged_rocksdb", fed, rLat.sum,
                0, 0, 0, 0,
                f"staged gate on RocksDB + changelog checkpointing: " +
                  f"trigger1 (state load) ${rLat.head}%.2f s, steady median " +
                  f"${if (rSteady.nonEmpty) rSteady(rSteady.length / 2) else -1.0}%.2f s " +
                  f"(vs ${if (stSteady.nonEmpty) stSteady(stSteady.length / 2) else -1.0}%.2f s default provider)")
            } catch { case e: Throwable =>
              // a provider that cannot load must not kill the tier run —
              // record the failure as its own row instead
              out += Row("dd_ingest_stream_staged_rocksdb", 0, 0.0, 0, 0, 0, 0,
                s"skipped: ${e.getClass.getSimpleName}: ${e.getMessage}")
            } finally prev.foreach { case (k, ov) =>
              ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
            }
          }
          // the fully point-lookup face (r17, VERDICT r16 item 3): no
          // streaming state, no corpus-relation scan — per-trigger cost
          // is batch-sized probe shuffles + O(candidates) slab lookups
          val mem4 = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, String)]
          val ixLat = scala.collection.mutable.ArrayBuffer[Double]()
          val qi = graft.streaming.DocStream.classifyIngestIndexed(
            mem4.toDF.toDF("doc_id", "text"), idx,
            (vs, _) => vs.write.format("noop").mode("overwrite").save())
          try perMixed.foreach { w =>
            val t1 = System.nanoTime()
            mem4.addData(w.toSeq)
            qi.processAllAvailable()
            ixLat += (System.nanoTime() - t1) / 1e9
          } finally qi.stop()
          val ixSorted = ixLat.sorted
          out += Row("dd_ingest_stream_lookup", fed, ixLat.sum, 0, 0, 0, 0,
            f"point-lookup classifier (no state, no index scan): " +
              f"median trigger ${ixSorted(ixSorted.length / 2)}%.2f s, " +
              f"max ${ixSorted.last}%.2f s, " +
              f"${fed / ixLat.sum}%.0f docs/s sustained")
          // tier-scale equality check: the window verdict HISTOGRAM of
          // the point-lookup classifier vs the scan-based classifyBatch
          // (the spec pins row-level equality at fixture scale; this
          // extends the differential to the tier corpus where hash
          // collisions would have room to show up)
          val windowDf = spark.createDataFrame(perMixed.flatten.toSeq)
            .toDF("doc_id", "text")
          def hist(df: org.apache.spark.sql.DataFrame) =
            df.groupBy("verdict").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          val hLookup = hist(
            graft.llm.LookupIndex.classifyBatchIndexed(windowDf, idx))
          val hScan = hist(graft.llm.DedupOps.classifyBatch(
            windowDf, iEx, iBands, iSh, pruneVerify = true))
          out += Row("dd_lookup_vs_scan_verdicts", fed, 0.0, 0, 0, 0, 0,
            s"tier differential lookup==scan: ${hLookup == hScan} " +
              s"(lookup $hLookup, scan $hScan)")
        }
        }
      }
    }

    // SemDeDup cluster-granularity quality curve (r17, VERDICT r16
    // wrong-#3): the production posture scales nlists ≈ √n; this ladder
    // measures WHAT that buys — mean member→rep cosine (how semantically
    // tight a cluster is around the vector SemDeDup compares against)
    // and the dropped fraction at the fixed 0.2 threshold — at the
    // fixture constant (16), an intermediate point (64), and the
    // corpus-scaled √n. Build time reported per point (offline, the ANN
    // split); the timed body is the served assignment + rep-compare.
    if (queries.contains("dd_semantic_quality")) {
      val n = spark.table("embeddings").count()
      val ladder = Seq(graft.llm.DedupOps.SemanticIvfLists, 64,
        graft.llm.DedupOps.semanticIvfListsFor(n)).distinct.sorted
      ladder.foreach { nlists =>
        val tb = System.nanoTime()
        graft.llm.SimilarityOps.buildIvfIndex(spark, nlists)
        val buildSec = (System.nanoTime() - tb) / 1e9
        val r = measure(s"dd_semantic_ivf_q$nlists") {
          graft.llm.DedupOps.semanticDedupIvfAt(spark, nlists)
        }
        val q = graft.llm.DedupOps.semanticDedupIvfAt(spark, nlists)
          .agg(count(lit(1)).as("members"),
            avg(col("cos")).as("mean_cos"),
            sum(when(col("dropped"), 1L).otherwise(0L)).as("dropped"))
          .first()
        val members = q.getLong(0)
        // a ladder point where every cluster is a singleton has zero
        // non-rep members — avg(cos) is null; skip with a note instead
        // of NPE-ing the tier run (the empty-window guard's pattern)
        // ladder points in the coarse regime also report SAMPLED
        // assignment equality vs the brute argmax (r18: the
        // quantizer-assisted path's honest error surface, measured at
        // the tier it actually serves — CoarseAssignSpec pins the
        // mechanism, this pins the corpus)
        val eqNote =
          if (nlists <= graft.llm.SimilarityOps.CoarseAssignAbove) ""
          else {
            val (cents, cn) = graft.llm.DedupOps.semanticIvfCentsAt(spark, nlists)
            val step = math.max(1L, n / 4096)
            val s2 = spark.table("embeddings").filter(col("vec_id") % step === 0)
              .select(
                element_at(graft.engine.expressions.IvfNearest(
                  col("embedding"), cents, cn, false, 1), 1).as("brute"),
                element_at(graft.llm.SimilarityOps.nearestListsColFor(
                  spark, col("embedding"), cents, cn, 1, s"sem/$nlists"), 1)
                  .as("coarse"))
              .agg(count(lit(1)).as("n"),
                sum(when(col("brute") === col("coarse"), 1L).otherwise(0L))
                  .as("eq"))
              .first()
            f"; coarse-assign equality ${s2.getLong(1)}/${s2.getLong(0)} " +
              f"(${s2.getLong(1).toDouble / math.max(1, s2.getLong(0))}%.4f, " +
              f"gProbes=${graft.llm.SimilarityOps.CoarseGroupProbes})"
          }
        updateLast(r.copy(note =
          (if (members == 0)
            f"nlists=$nlists (n=$n): build ${buildSec}%.1f s; " +
              "skipped quality stats: zero non-rep members (all singletons)"
          else
            f"nlists=$nlists (n=$n): build ${buildSec}%.1f s; " +
              f"mean member->rep cos ${q.getDouble(1)}%.4f, dropped " +
              f"${q.getLong(2)}/$members members " +
              f"(${100.0 * q.getLong(2) / math.max(1, n)}%.2f%% of corpus)")
            + eqNote))
      }
    }


    // ANN ingest face (r17): a stream of query vectors searched per
    // trigger against the sqrt-n IVF slab index — the similarity
    // family's analogue of dd_ingest_stream_lookup. Latency row plus a
    // sampled recall@3 vs brute force (the ANN ladder discipline: the
    // approximate path always ships with its measured recall).
    if (queries.contains("nn_ingest_stream")) {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val n = spark.table("embeddings").count()
      val nlists = graft.llm.DedupOps.semanticIvfListsFor(n)
      // the RECALL-TARGETED policy default (r17 VERDICT wrong-#3): the
      // ladder measures latency AND recall at the width the face
      // actually defaults to, so the stated ≥0.9 target is validated
      // per tier, not promised (the old nlists/30 share under-recalled
      // mid-tier: 0.578 at 100×)
      val nprobe = graft.llm.SimilarityOps.nprobeForRecall(nlists)
      val tb = System.nanoTime()
      graft.llm.SimilarityOps.ivfListSlabs(spark, nlists)
      out += Row("nn_slab_index_build", -1, (System.nanoTime() - tb) / 1e9,
        0, 0, 0, 0, s"IVF inverted-list slab index, nlists=$nlists (sqrt-n)")
      val step = math.max(1L, n / 5000)
      val qvecs = spark.table("embeddings")
        .filter(col("vec_id") % step === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .as[(Long, Array[Float])].collect().take(5000)
      if (qvecs.isEmpty)
        out += Row("nn_ingest_stream", 0, 0.0, 0, 0, 0, 0,
          "skipped: empty query sample")
      else {
        val per = qvecs.grouped(1000).toSeq
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Float])]
        val lat = scala.collection.mutable.ArrayBuffer[Double]()
        val q = graft.streaming.VecStream.annIngestTopK(
          mem.toDF.toDF("qid", "qe"),
          (res, _) => res.write.format("noop").mode("overwrite").save(),
          nprobe = nprobe, topk = 3, nlists = nlists)
        try per.foreach { w =>
          val t1 = System.nanoTime()
          mem.addData(w.toSeq)
          q.processAllAvailable()
          lat += (System.nanoTime() - t1) / 1e9
        } finally q.stop()
        val sorted = lat.sorted
        val fed = per.map(_.length).sum
        out += Row("nn_ingest_stream", fed, lat.sum, 0, 0, 0, 0,
          f"${per.length} triggers x ~${per.head.length} query vectors vs " +
            f"nlists=$nlists/nprobe=$nprobe slab index: median trigger " +
            f"${sorted(sorted.length / 2)}%.2f s, max ${sorted.last}%.2f s, " +
            f"${fed / lat.sum}%.0f vec/s sustained")
        // sampled recall@3 vs brute-force cosine (64 queries)
        val sample = qvecs.take(64).toSeq
        val sdf = spark.createDataFrame(sample).toDF("qid", "qe")
        val lk = graft.llm.SimilarityOps
          .ivfTopKLookupFor(spark, sdf, nprobe, 3, nlists)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        import graft.engine.GraftColumns.dot
        val e = spark.table("embeddings")
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
        val brute = broadcast(sdf).join(
            e.select(col("vec_id"), col("embedding").as("ee")),
            col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (dot(col("qe"), col("ee")) /
              (sqrt(dot(col("qe"), col("qe"))) * sqrt(dot(col("ee"), col("ee")))))
              .as("sim"))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w2))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        def recallAt(np: Int): Double = {
          val got = graft.llm.SimilarityOps
            .ivfTopKLookupFor(spark, sdf, np, 3, nlists)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
          sample.map { case (qid, _) =>
            val want = brute.getOrElse(qid, Set.empty)
            if (want.isEmpty) 1.0
            else (got.getOrElse(qid, Set.empty) & want).size.toDouble / want.size
          }.sum / sample.length
        }
        val rec = sample.map { case (qid, _) =>
          val got = lk.getOrElse(qid, Set.empty)
          val want = brute.getOrElse(qid, Set.empty)
          if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size
        }.sum / sample.length
        // probe-width frontier on the same sample (cheap: 64 queries per
        // point) — one point below the policy default and one above, so
        // the curve shows what the default buys and what more would buy
        val sweep = Seq(math.max(8, 3 * nlists / 100), 3 * nlists / 10)
          .filter(np => np != nprobe && np <= nlists).distinct
          .map(np => f"nprobe=$np -> ${recallAt(np)}%.4f")
          .mkString(", ")
        out += Row("nn_ingest_recall", sample.length, 0.0, 0, 0, 0, 0,
          f"recall@3 vs brute force on ${sample.length} sampled queries: " +
            f"$rec%.4f (nlists=$nlists, nprobe=$nprobe)" +
            (if (sweep.nonEmpty) s"; frontier: $sweep" else ""))
      }
    }

    // >4-root serving arm (r17 VERDICT item 7): alternate MaxRoots+1
    // (dataset, parts) combos through the lookup slab face — one combo
    // past the LRU cap — and measure what the bound costs when
    // exceeded. Within-cap round-robin must be pure memo hits (zero
    // evictions — the bound's claim for real serving mixes); past-cap
    // round-robin thrashes BY CONSTRUCTION (every access rebuilds the
    // just-evicted combo) and the MemoStats counters/logs now name it
    // instead of leaving an unexplained per-query stall. Parts
    // variants of one corpus are the combo proxy: build cost and slab
    // content match distinct same-sized roots without needing five
    // corpora on disk. Run at the 100× tier (builds ~9 s each; the
    // mechanism is scale-independent).
    if (queries.contains("dd_lookup_multiroot")) {
      import graft.llm.LookupIndex
      val ev0 = LookupIndex.stats.evictions.get
      val rb0 = LookupIndex.stats.rebuilds.get
      LookupIndex.release(spark) // fresh slate for this dataset's combos
      val cap = LookupIndex.MaxRoots
      val withinParts = (1 to cap).map(i => 8 * i)
      val t0 = System.nanoTime()
      withinParts.foreach(p => LookupIndex.forDataset(spark, p))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val tHit = System.nanoTime()
      (1 to 2).foreach(_ =>
        withinParts.foreach(p => LookupIndex.forDataset(spark, p)))
      val hitSec = (System.nanoTime() - tHit) / 1e9
      val evWithin = LookupIndex.stats.evictions.get - ev0
      val allParts = withinParts :+ (8 * (cap + 1))
      val tThrash = System.nanoTime()
      (1 to 2).foreach(_ =>
        allParts.foreach(p => LookupIndex.forDataset(spark, p)))
      val thrashSec = (System.nanoTime() - tThrash) / 1e9
      val evPast = LookupIndex.stats.evictions.get - ev0 - evWithin
      val rbPast = LookupIndex.stats.rebuilds.get - rb0
      out += Row("dd_lookup_multiroot", allParts.length, thrashSec, 0, 0, 0, 0,
        f"LRU bound (cap $cap) under serving mixes: $cap-combo build " +
          f"${buildSec}%.1f s; within-cap round-robin (${2 * cap} accesses) " +
          f"${hitSec}%.3f s, $evWithin evictions; past-cap round-robin " +
          f"(${2 * allParts.length} accesses) ${thrashSec}%.1f s, " +
          f"$evPast evictions / $rbPast rebuilds — every past-cap access " +
          "is a full slab rebuild, named per key in the MemoStats log")
      LookupIndex.release(spark) // drop the synthetic combos
    }

    queries.foreach { name =>
      // harness-only names (dd_ingest_stream) were consumed above and
      // have no SparkEntry entry to run here
      if (name == "dd_ingest_stream" || name == "dd_semantic_quality" ||
          name == "nn_ingest_stream" || name == "dd_lookup_multiroot") ()
      else
      // nn_label_knn is the EXACT kNN baseline: total FLOPs are
      // quadratic per cell by definition. Since r10 the enumeration is
      // chunk-blocked (per-task memory bounded by cell/C, partial top-k
      // map-side), so memory no longer degenerates with cell size — the
      // only remaining limit is WALL time on the inherent pair count.
      // Gate on that: ≥20k vectors/cell is ≥4×10⁹ cosine folds per
      // cell, minutes of pure FLOPs — record the skip instead of
      // melting the tier; IVF/PQ are the measured scale path for ANN.
      if (name == "nn_label_knn") {
        val perCell = spark.table("embeddings").count() / 10.0
        if (perCell >= 20000) {
          out += Row(name, -1, -1, -1, -1, -1, -1,
            f"skipped: exact kNN pair count quadratic in cell size " +
              f"(avg $perCell%.0f vectors/cell > 20k wall gate); IVF/PQ are the scale path")
        } else measure(name)(SparkEntry.queries(name)(spark, dir))
      } else if (name == "nn_label_knn_ivf") {
        // the PRUNED tier config — the sf fixture default probes 16/16
        // (exact by construction, oracle-pinned); here the prune is
        // real. nlists scales with cell size so candidate work stays
        // ~nprobe·cell/nlists ≈ 500 folds/vector at every tier; the
        // honest recall cost of that budget is measured below against a
        // sampled exact reference AT THIS config.
        val (nl, np) = labelTierConf(spark)
        val perLabel = math.max(1,
          nl / graft.llm.SimilarityOps.labelValues(spark).length)
        val tb = System.nanoTime()
        graft.llm.SimilarityOps.buildLabelIvfIndex(spark, perLabel)
        out += Row("nn_label_ivf_build", -1, (System.nanoTime() - tb) / 1e9,
          0, 0, 0, 0,
          s"offline PER-LABEL coarse-quantizer build (k-means, " +
            s"$perLabel lists/label)")
        measure(name,
          f"nlists=$nl nprobe=$np (~${math.min(100.0, np * 100.0 / perLabel)}%.0f%% " +
            "of the label's own lists probed; per-label quantizer, " +
            "symmetric edge emission)")(
          graft.llm.SimilarityOps.labelKnnIvf(spark, nlists = nl, nprobe = np))
      } else if (name == "mm_video_meta" &&
          java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(s"$dir/videos.parquet"))) {
        // STORED payloads (ScaleGen writes videos.parquet once, r16):
        // the declared query synthesizes its payload in-plan (fixture
        // contract), which made the r15 tier row ~80% fixture frame-
        // ENCODES. Reading the stored binary column measures the
        // operator itself — container parse + ONE key-frame decode per
        // clip — the production shape.
        import spark.implicits._
        measure(name, "stored GVID payloads (videos.parquet); " +
          "operator = container parse + 1 decode/clip") {
          graft.llm.MultimodalOps.videoMetaOf(
            spark.read.parquet(s"$dir/videos.parquet")
              .select(col("doc_id"), col("video"))
              .as[(Long, Array[Byte])])
        }
      } else if (name == "nn_label_knn_hnsw") {
        // constant config at every tier — the graph index's contract:
        // recall is set by the graph DENSITY + ef, not by corpus
        // coverage, so no tier sizing function exists here. The
        // declared-query defaults ARE the tier config — (m=32, efC=200,
        // efS=96) since r14, the density measured to hold recall
        // near-stable across the 100×→1000× tiers (0.9987 → 0.9494;
        // the r13 (16, 128) graph decayed to 0.736 — see SCALE.md §r14)
        measure(name, "m=32 efC=200 efS=96 (per-label HNSW; cells " +
          "<=4096 exact by construction)")(
          graft.llm.SimilarityOps.labelKnnHnsw(spark))
      } else measure(name)(SparkEntry.queries(name)(spark, dir))
    }

    // --- label-kNN HNSW recall@3 (same sampled exact reference) -------
    if (invariants || queries.contains("nn_label_knn_hnsw")) {
      val nEmb = spark.table("embeddings").count()
      def edgeSet2(df: DataFrame): Set[(Long, Long)] =
        graft.engine.CacheOnce.scoped {
          df.select(col("vec_id"), col("nb")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
      val exactEdges = edgeSet2(graft.llm.SimilarityOps.labelKnnExactSample(spark))
      val approxEdges = edgeSet2(
        graft.llm.SimilarityOps.labelKnnHnsw(spark)
          .filter(graft.llm.SimilarityOps.labelKnnSamplePred(1000, nEmb)))
      val recall = approxEdges.intersect(exactEdges).size.toDouble / exactEdges.size
      out += Row("ann_label_knn_hnsw_recall", exactEdges.size.toLong, 0, 0, 0, 0, 0,
        f"recall@3=$recall%.4f at m=32 efC=200 efS=96 vs sampled exact in-label kNN")
    }

    // --- label-kNN IVF recall@3 AT the tier config --------------------
    // The full exact graph is wall-gated above 20k vectors/cell, so the
    // reference is exact top-3 for a deterministic ~1k-vector sample
    // (sample × full-cell work is linear — seconds at any tier). The
    // approximate side runs THIS tier's (nlists, 16) and is filtered to
    // the same probe sample, so the reported recall is measured at the
    // exact configuration the wall row above used — no cross-tier
    // transfer. Runs in subset mode too (focused re-measurement).
    if (invariants || queries.contains("nn_label_knn_ivf")) {
      val nEmb = spark.table("embeddings").count()
      val (nl, np) = labelTierConf(spark)
      def edgeSet(df: DataFrame): Set[(Long, Long)] =
        graft.engine.CacheOnce.scoped {
          df.select(col("vec_id"), col("nb")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
      val exactEdges = edgeSet(graft.llm.SimilarityOps.labelKnnExactSample(spark))
      val approxEdges = edgeSet(
        graft.llm.SimilarityOps.labelKnnIvf(spark, nlists = nl, nprobe = np)
          .filter(graft.llm.SimilarityOps.labelKnnSamplePred(1000, nEmb)))
      val recall = approxEdges.intersect(exactEdges).size.toDouble / exactEdges.size
      out += Row("ann_label_knn_recall", exactEdges.size.toLong, 0, 0, 0, 0, 0,
        f"recall@3=$recall%.4f at nlists=$nl nprobe=$np vs sampled exact in-label kNN")
    }

    // --- ANN equality sweeps at scale ---------------------------------
    // The fixture-scale sweep spec pins the minimal widths there (IVF
    // equality from nprobe 11/16); at 10×/100× the near-tie structure
    // changes, so re-run the sweep HERE: walk each index's width up
    // until its top-3 set EQUALS brute force, assert it happens before
    // the exhaustive limit, and report the width — that number is the
    // honest cost of exactness on this corpus. Runs in subset mode too
    // when the subset touches the indexed queries (focused re-check,
    // e.g. after a training change).
    if (invariants ||
        queries.exists(q => q == "nn_ivf_topk" || q == "nn_pq_topk")) {
      def pairSet(df: DataFrame): Set[(Long, Long)] =
        graft.engine.CacheOnce.scoped {
          df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
      val brute = pairSet(SparkEntry.queries("nn_cosine_topk")(spark, dir))
      val ivfWidth = (12 to 16).find { np =>
        pairSet(graft.llm.SimilarityOps.ivfTopK(spark, nprobe = np)) == brute
      }
      require(ivfWidth.isDefined, "IVF sweep: no equality even exhaustive?!")
      out += Row("ann_ivf_sweep", brute.size.toLong, 0, 0, 0, 0, 0,
        s"IVF top-3 equals brute force from nprobe=${ivfWidth.get}/16")
      // logarithmic ladder: ADC distortion on noise-dominated vectors
      // pushes the true top-3 deeper into the approx order as the corpus
      // grows (the sf10 run needed >512), so the ladder must reach the
      // exhaustive end — at rerank*3 ≥ corpus the shortlist is the whole
      // corpus and equality is guaranteed; the reported width is the
      // honest rerank cost of exactness on this corpus.
      val pqWidth = Seq(64, 256, 1024, 4096, 16384, 65536, 1 << 30).find { rr =>
        pairSet(graft.llm.SimilarityOps.pqTopK(spark, rerank = rr)) == brute
      }
      require(pqWidth.isDefined, "PQ sweep: no equality even exhaustive?!")
      out += Row("ann_pq_sweep", brute.size.toLong, 0, 0, 0, 0, 0,
        s"PQ top-3 equals brute force from rerank=${pqWidth.get}x3 shortlist")
      // IVFADC: the probe stage is the SAME quantizer + machinery as
      // nn_ivf_topk, so this corpus's probe boundary is the ivfWidth
      // just measured (at a narrower probe, a true neighbor in an
      // unprobed list is unrecoverable at ANY rerank width — exactly
      // what the first version of this ladder tripped over at mult=1).
      // The ladder therefore measures the ADDITIONAL rerank width the
      // residual ADC needs; at the exhaustive end equality is
      // guaranteed because the candidate set equals the IVF sweep's.
      val ivfpqNp = ivfWidth.get
      val ivfpqWidth = Seq(64, 256, 1024, 4096, 16384, 65536, 1 << 30).find { rr =>
        pairSet(graft.llm.SimilarityOps.ivfPqTopK(spark,
          nprobe = ivfpqNp, rerank = rr)) == brute
      }
      require(ivfpqWidth.isDefined, "IVFPQ sweep: no equality even exhaustive?!")
      out += Row("ann_ivfpq_sweep", brute.size.toLong, 0, 0, 0, 0, 0,
        s"IVF-PQ top-3 equals brute force from rerank=${ivfpqWidth.get}x3 " +
          s"shortlist at nprobe=$ivfpqNp/16 (residual codes)")
    }

    if (!invariants) {
      spark.sparkContext.removeSparkListener(metrics)
      return out.toSeq
    }

    // --- dd_components: BOTH label paths must agree at scale ----------
    val corpus = graft.llm.DedupOps.dupCorpus(spark)
    val nodes = corpus.select(col("doc_id"))
    def edges = graft.llm.DedupOps.verifiedEdges(corpus, "scale_cc", 0.3)
    var prop: java.util.List[org.apache.spark.sql.Row] = null
    var star: java.util.List[org.apache.spark.sql.Row] = null
    measure("cc_propagation", "pointer doubling, star fallback disabled") {
      graft.llm.DedupOps.components(nodes, edges, "scale_cc_p", starAfter = 99)
    }
    measure("cc_star", "Kiveris large-star/small-star forced from round 0") {
      graft.llm.DedupOps.components(nodes, edges, "scale_cc_s", starAfter = 0)
    }
    graft.engine.CacheOnce.scoped {
      prop = graft.llm.DedupOps
        .components(nodes, edges, "scale_cc_p2", starAfter = 99)
        .collectAsList()
      star = graft.llm.DedupOps
        .components(nodes, edges, "scale_cc_s2", starAfter = 0)
        .collectAsList()
    }
    val propSet = new java.util.HashSet[org.apache.spark.sql.Row](prop)
    val starSet = new java.util.HashSet[org.apache.spark.sql.Row](star)
    require(propSet == starSet,
      s"component paths disagree: prop=${prop.size} star=${star.size}")
    out += Row("cc_paths_equal", prop.size.toLong, 0, 0, 0, 0, 0,
      "propagation and star labelings identical (row-set equality)")

    // --- tx_decontaminate: BOTH gate paths must agree ------------------
    val shuffleSess = spark.newSession()
    shuffleSess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shuffleSess.conf.set("spark.sql.shuffle.partitions", "32")
    graft.engine.Tables.register(shuffleSess, dir)
    val broadcastRows = out.find(_.name == "tx_decontaminate").get.rows
    val t0 = System.nanoTime()
    var shuffleRows = -1L
    graft.engine.CacheOnce.scoped {
      shuffleRows = SparkEntry.queries("tx_decontaminate")(shuffleSess, dir).count()
    }
    require(shuffleRows == broadcastRows,
      s"decontaminate gate paths disagree: broadcast=$broadcastRows shuffle=$shuffleRows")
    out += Row("tx_decontaminate_shuffle", shuffleRows,
      (System.nanoTime() - t0) / 1e9, -1, -1, -1, -1,
      "forced two-sided shuffle path (threshold=-1); equals broadcast path")

    spark.sparkContext.removeSparkListener(metrics)
    out.toSeq
  }

  private def writeMd(path: String, dir: String, rows: Seq[Row]): Unit = {
    val loadavg = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    } catch { case _: Throwable => "?" }
    val sb = new StringBuilder
    sb.append("# SCALE — empirical heavy-family evidence\n\n")
    sb.append(s"Corpus: `$dir` (ScaleGen, deterministic, sf1-equivalent = ")
    sb.append("10x the sf0.1 fixture tier; includes a 400-deep near-dup ")
    sb.append("chain that pushes dd_components past plain propagation). ")
    sb.append(s"Sequential runs on local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}], ")
    sb.append(s"32 shuffle partitions. loadavg at write: $loadavg.\n\n")
    sb.append("| query | rows | wall s | shuffle read MB | shuffle write MB | spill MB | peak task mem MB | note |\n")
    sb.append("|---|---|---|---|---|---|---|---|\n")
    rows.foreach { r =>
      def n(d: Double): String = if (d < 0) "—" else f"$d%.1f"
      sb.append(s"| ${r.name} | ${if (r.rows < 0) "—" else r.rows.toString} | " +
        s"${f"${r.wallSec}%.2f"} | ${n(r.shufReadMB)} | ${n(r.shufWriteMB)} | " +
        s"${n(r.spillMB)} | ${n(r.peakMemMB)} | ${r.note} |\n")
    }
    sb.append("\nInvariants checked in-run (hard failures otherwise): ")
    sb.append("propagation and star component labelings identical; ")
    sb.append("decontaminate broadcast and shuffle gate paths return equal ")
    sb.append("survivor counts; IVF and PQ top-3 equal brute-force top-3.\n")
    // preserve hand-written sections (## headings) from a prior file —
    // the tier-1 table above is the only part this harness owns
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val old = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val idx = old.indexOf("\n## ")
      if (idx >= 0) sb.append(old.substring(idx + 1))
    }
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }
}
