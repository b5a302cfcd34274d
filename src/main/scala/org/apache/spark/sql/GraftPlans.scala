package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Package-private-access bridge: build a DataFrame from a custom
  * LogicalPlan (Dataset.ofRows is private[sql]), and reach the analyzed
  * plan of a DataFrame. Nothing in Spark is modified.
  */
object GraftPlans {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The session's parser over `sqlText`, with the session active (as
    * `spark.sql` parses): the parser reads its conf through SQLConf.get. */
  def parsePlan(spark: SparkSession, sqlText: String): LogicalPlan =
    spark.asInstanceOf[ClassicSparkSession].withActive(
      spark.sessionState.sqlParser.parsePlan(sqlText))

  def analyzed(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed

  /** `Dataset.localCheckpoint(eager = true)` with two differences that
    * matter for iterative fixpoints (graft.engine.Recursive):
    *  - the materializing `count()` is RETURNED, so the caller's
    *    emptiness test costs zero extra jobs (stock localCheckpoint
    *    counts internally and discards the number);
    *  - `LogicalRDD.fromDataset` carries the ORIGIN plan's stats onto
    *    the checkpoint, so downstream joins against it keep auto-
    *    broadcasting (a bare LogicalRDD reports the default huge size
    *    and forces sort-merge).
    * Same contract as stock: rows are copied before caching (toRdd
    * reuses unsafe row buffers), lineage is cut.
    */
  /** The persisted RDD behind a (local)checkpointed DataFrame, if its
    * plan is a bare LogicalRDD. Lets iterative fixpoints release retired
    * rounds' blocks EXPLICITLY instead of waiting for GC+ContextCleaner
    * — on a large heap the collector may not run for minutes, so dead
    * checkpoint blocks otherwise accumulate across rounds and queries
    * (measured as the round-5 pass-2 bench degradation: bigger heap,
    * worse suite time).
    */
  def checkpointRdd(df: Dataset[Row]): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Drain the listener bus (private[spark]) — metric listeners see
    * every completed task before the caller reads their counters. Used
    * by the scale harness; a 10 s cap keeps a wedged bus from hanging
    * the run.
    */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(10000)

  def localCheckpointWithCount(df: Dataset[Row]): (DataFrame, Long) = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val rdd = classic.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val cnt = rdd.count() // materializes the checkpoint
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, classic, isStreaming = false)
    (ClassicDataset.ofRows(classic.sparkSession, lr), cnt)
  }

  /** localCheckpointWithCount's shape for the components fixpoint
    * (graft.llm.DedupOps): materialize the checkpoint and compute the
    * EXACT sum of a non-null LONG column in the SAME job — the
    * convergence metric otherwise costs a second action per round
    * (checkpoint job + sum job; r18). Exactness at any scale: per-task
    * longs accumulate into a local 64-bit chunk that spills into a
    * BigInteger before it can overflow, and chunks merge in BigInteger —
    * the same any-corpus-size guarantee as the DECIMAL(38,0) sum it
    * replaces. Returns null for an empty relation (the caller's
    * degenerate-input contract).
    */
  def localCheckpointWithLongColSum(df: Dataset[Row], idx: Int)
      : (DataFrame, java.math.BigInteger) = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val rdd = classic.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val zero = (java.math.BigInteger.ZERO, 0L, 0L) // (big, chunk, n)
    // the non-null contract must fail LOUDLY (r19, ADVICE): getLong on a
    // NULL slot silently yields 0, which would fake the convergence
    // metric for a future caller with a nullable column
    val (big, chunk, n) = rdd.map { r =>
      if (r.isNullAt(idx)) throw new IllegalStateException(
        s"localCheckpointWithLongColSum: NULL at column $idx — the " +
          "convergence-sum column must be non-null")
      r.getLong(idx)
    }.aggregate(zero)(
      { case ((b, c, k), v) =>
        val s = c + v
        // detect 64-bit overflow of c + v (same-sign operands flipping)
        if (((c ^ s) & (v ^ s)) < 0)
          (b.add(java.math.BigInteger.valueOf(c)), v, k + 1)
        else (b, s, k + 1)
      },
      { case ((b1, c1, k1), (b2, c2, k2)) =>
        (b1.add(b2).add(java.math.BigInteger.valueOf(c1))
          .add(java.math.BigInteger.valueOf(c2)), 0L, k1 + k2)
      })
    val sum =
      if (n == 0L) null
      else big.add(java.math.BigInteger.valueOf(chunk))
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, classic, isStreaming = false)
    (ClassicDataset.ofRows(classic.sparkSession, lr), sum)
  }
}
