package graft.engine

import org.apache.spark.sql.Dataset

/** Parallelism repair for CPU-heavy per-row stages (optimization guide
  * §2.5 "input skew" / §8).
  *
  * The fixture parquet files are single-row-group, so every scan is ONE
  * task no matter how `spark.sql.files.*` is tuned (a row group is read
  * by exactly one split). That is invisible for byte-bound stages, but a
  * stage whose per-row cost dwarfs its per-row bytes — a codec, a
  * signature kernel, a per-row index probe — then runs single-threaded
  * on a 32-core host. A round-robin repartition ahead of such a stage
  * trades one tiny shuffle (the rows are small by precondition) for
  * full-width execution.
  *
  * Width is the session's default parallelism: scale-adaptive by
  * construction (local bench = core count, cluster = total executor
  * cores), never a constant tuned for either.
  */
object Par {
  /** Hash-partitioned, NOT round-robin: `repartition(n)` plants a
    * RoundRobinPartitioning inside the plan, and a persisted relation
    * containing one loses cached-block reuse — measured r18 on
    * mm_phash_dedup, every consumer re-ran the 2500-image decode from
    * lineage on every invocation despite 32/32 materialized blocks
    * (steady 1.5 s vs 0.9 s). Hashing the caller-named key is
    * deterministic under retry (guide §2.5) and cache-stable.
    */
  def spread[T](ds: Dataset[T], key: org.apache.spark.sql.Column): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism, key)

  /** Hash exchange on the sort keys under a final total-order sort
    * (guide §2.4 — remove work, not just shuffles): Spark plans a
    * global ORDER BY as a RangePartitioning exchange whose partitioner
    * needs bounds, and sampling those bounds EXECUTES THE CHILD TWICE —
    * one sampling job, one shuffle-write job. Every declared query ends
    * in a deterministic ORDER BY, so its whole body back to the last
    * exchange runs twice: a window query re-runs the window, a
    * sample/filter re-scans and re-hashes. Planting an AQE-sized hash
    * exchange on the sort keys right below the sort makes the sampling
    * pass re-read KB-scale shuffle files instead.
    *
    * Scale: the extra exchange carries the FINAL output exactly once.
    * For report-sized outputs that is noise; for output ∝ input queries
    * it trades one output-sized shuffle for one output-sized
    * re-execution of the query body — at worst neutral on bytes, a win
    * whenever the body is more than a scan. Sort keys are near-unique
    * by the determinism contract (ORDER BY must pin row order), so the
    * hash spreads; AQE sizes the partition count from bytes.
    */
  def preSort[T](ds: Dataset[T], keys: org.apache.spark.sql.Column*): Dataset[T] =
    // SPARK_GRAFT_PRESORT=off is a MEASUREMENT knob (r19): preSort is a
    // pure partitioning hint, so disabling it changes no query result —
    // it exists so ScaleBench can A/B the planted-exchange trade
    // (output-sized shuffle vs output-sized re-execution) at real tiers.
    // It goes when the plan rule that replaces the hand-placed preSort
    // hints lands.
    if (sys.env.get("SPARK_GRAFT_PRESORT").contains("off")) ds
    else ds.repartition(keys: _*)

  /** Spread for a relation that is about to be CACHED: every consumer
    * stage of a cached relation runs one task per cached partition
    * (InMemoryTableScan cannot coalesce below the stored block count),
    * so full-width caching taxes every steady-state read with per-task
    * scheduling — measured r18 on the dedup gram/shingle relations:
    * width 32 added ~0.1-0.3 s per consumer-heavy query over width 8
    * while the build gain past 8 ways was nil at fixture scale. A
    * quarter of the default parallelism balances build CPU against
    * consumer fan-in.
    */
  def spreadCached[T](ds: Dataset[T], key: org.apache.spark.sql.Column): Dataset[T] = {
    val dp = ds.sparkSession.sparkContext.defaultParallelism
    ds.repartition(math.max(2, dp / 4), key)
  }

  /** Partitions the single file scan under `ds` reads, counted from its
    * file listing with FileSourceScanExec's own split rule (largest
    * splits first, packed to `maxSplitBytes`). `ds.rdd.getNumPartitions`
    * gives the same number but builds the scan's reader to get it, and
    * that broadcasts the Hadoop conf. Any other plan falls back to it.
    */
  def scanWidth(ds: Dataset[_]): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil}
    import org.apache.spark.sql.execution.datasources.FilePartition
    ds.queryExecution.sparkPlan.collectLeaves() match {
      case Seq(scan: FileSourceScanExec) if !scan.bucketedScan =>
        val rel = scan.relation
        val dirs = rel.location.listFiles(scan.partitionFilters, scan.dataFilters)
        val maxSplit = FilePartition.maxSplitBytes(rel.sparkSession, dirs)
        val splits = dirs.flatMap { d =>
          d.files.flatMap { f =>
            val path = f.getPath
            PartitionedFileUtil.splitFiles(f, path,
              rel.fileFormat.isSplitable(rel.sparkSession, rel.options, path),
              maxSplit, d.values)
          }
        }.sortBy(-_.length)
        FilePartition.getFilePartitions(rel.sparkSession, splits, maxSplit).size
      case _ => ds.rdd.getNumPartitions
    }
  }
}
