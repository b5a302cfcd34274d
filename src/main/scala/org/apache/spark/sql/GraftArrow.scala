package org.apache.spark.sql

import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame}
import org.apache.spark.sql.execution.arrow.ArrowConverters

/** Package-private-access bridge into Spark's Arrow serialization (the
  * same machinery PySpark's collect path uses). Lives in
  * org.apache.spark.sql purely to reach `private[sql]` members; no Spark
  * internals are modified.
  */
object GraftArrow {

  /** Arrow IPC end-of-stream marker: continuation bytes + zero length —
    * readers on persistent connections need it to detect result end.
    */
  val EOS: Array[Byte] =
    Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0, 0, 0, 0)

  /** Serialize a DataFrame result as an Arrow IPC stream: schema message
    * first, then record batches of at most `maxRecordsPerBatch` rows,
    * then the end-of-stream marker. Rows the driver already holds (a
    * LocalTableScanExec or CommandResultExec root: constants, catalog
    * listings, command output) are encoded on the driver with no Spark
    * job, as Spark Connect's SparkConnectPlanExecution does. Any other
    * plan becomes an Arrow RDD. On a local master, an RDD of one
    * partition with no shuffle in its lineage (a point lookup, a LIMIT
    * scan over one file) runs on the calling thread as an
    * [[InlineTask]]: it would be one task on this JVM anyway, so it
    * skips only the job's scheduling round trip. Every other RDD is pulled
    * partition-at-a-time by Spark's jobs (incremental delivery like the
    * reference's DoGet loop, main.go:241-243). The batch size goes
    * straight to the encoder: the session conf, which Flight and Thrift
    * share, is not touched.
    *
    * The iterator is also `AutoCloseable`. A caller that stops before
    * the end must close it: an unfinished inline run holds its task's
    * memory and block locks until then, and close releases it. On the
    * other paths close does nothing.
    */
  def stream(df: Dataset[Row], maxRecordsPerBatch: Int): Iterator[Array[Byte]] = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val conf = classic.sparkSession.sessionState.conf
    val schema = classic.schema
    val timeZoneId = conf.sessionLocalTimeZone
    val largeVarTypes = conf.arrowUseLargeVarTypes
    val batches = classic.queryExecution.executedPlan match {
      case p @ (_: execution.LocalTableScanExec | _: execution.CommandResultExec) =>
        ArrowConverters.toBatchIterator(p.executeCollect().iterator, schema,
          maxRecordsPerBatch, timeZoneId, errorOnDuplicatedFieldNames = true,
          largeVarTypes, context = null)
      case p =>
        val rdd = p.execute().mapPartitionsInternal { rows =>
          ArrowConverters.toBatchIterator(rows, schema, maxRecordsPerBatch,
            timeZoneId, errorOnDuplicatedFieldNames = true, largeVarTypes,
            org.apache.spark.TaskContext.get())
        }
        if (InlineTask.fits(rdd)) new InlineTask(rdd) else rdd.toLocalIterator
    }
    new IpcStream(schemaIpc(df), batches)
  }

  /** The schema message, `batches`, then EOS; closing it closes
    * `batches` when that is an [[InlineTask]]. */
  private final class IpcStream(schema: Array[Byte], batches: Iterator[Array[Byte]])
      extends Iterator[Array[Byte]] with AutoCloseable {
    private val all = Iterator(schema) ++ batches ++ Iterator(EOS)
    override def hasNext: Boolean = all.hasNext
    override def next(): Array[Byte] = all.next()
    override def close(): Unit = batches match {
      case t: InlineTask => t.close()
      case _ =>
    }
  }

  /** Decode an IPC-encapsulated Schema message (what schemaIpc /
    * Flight's SchemaResult carry) back into a Spark schema — the read
    * half of the bridge, used by the remote-Flight catalog.
    */
  def sparkSchemaFromIpc(schemaIpc: Array[Byte]): types.StructType = {
    val rc = new org.apache.arrow.vector.ipc.ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(schemaIpc)))
    val arrowSchema = org.apache.arrow.vector.ipc.message.MessageSerializer
      .deserializeSchema(rc)
    // ArrowUtils.fromArrowSchema silently maps Large* types to their
    // 32-bit-offset Spark types; the batch decoder downstream assumes
    // 32-bit offsets, so decoding a large-var-types stream would produce
    // garbage rather than an error. Fail here, cleanly — checking the
    // WHOLE field tree: a Large* can hide inside a struct/list/map child.
    import scala.jdk.CollectionConverters._
    def tree(f: org.apache.arrow.vector.types.pojo.Field)
        : Iterator[org.apache.arrow.vector.types.pojo.Field] =
      Iterator(f) ++ f.getChildren.asScala.iterator.flatMap(tree)
    val large = arrowSchema.getFields.asScala.iterator.flatMap(tree).filter { f =>
      val t = f.getType
      t.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.LargeUtf8] ||
        t.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.LargeBinary] ||
        t.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.LargeList]
    }.toSeq
    if (large.nonEmpty)
      throw new UnsupportedOperationException(
        "remote stream uses Arrow large var types (64-bit offsets) for " +
          large.map(_.getName).mkString(", ") +
          "; this reader decodes 32-bit offsets — run the remote session " +
          "with spark.sql.execution.arrow.useLargeVarTypes=false")
    org.apache.spark.sql.util.ArrowUtils.fromArrowSchema(arrowSchema)
  }

  /** Decode encapsulated record-batch messages (the elements
    * toArrowBatchRdd / the Flight DoGet stream produce) into
    * InternalRows — executor-side, the same converter PySpark's
    * createDataFrame-from-Arrow path uses.
    */
  def rowsFromBatches(
      batches: Iterator[Array[Byte]],
      schema: types.StructType,
      timeZoneId: String): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    ArrowConverters.fromBatchIterator(
      batches, schema, timeZoneId, errorOnDuplicatedFieldNames = true,
      largeVarTypes = false, org.apache.spark.TaskContext.get())

  /** The result schema alone as an IPC-encapsulated Schema message —
    * what FlightInfo.schema / GetSchema carry, and what lets
    * GetFlightInfo answer from the analyzed plan without executing.
    */
  def schemaIpc(df: Dataset[Row]): Array[Byte] = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession
    val timeZone = spark.sessionState.conf.sessionLocalTimeZone
    // schema must declare the same varchar/binary layout the batch
    // buffers use, or readers mis-deserialize 64-bit offsets as 32-bit
    val largeVarTypes = spark.sessionState.conf.arrowUseLargeVarTypes
    val arrowSchema = org.apache.spark.sql.util.ArrowUtils.toArrowSchema(
      classic.schema, timeZone, errorOnDuplicatedFieldNames = true,
      largeVarTypes = largeVarTypes)
    val out = new java.io.ByteArrayOutputStream()
    val ch = java.nio.channels.Channels.newChannel(out)
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(ch), arrowSchema)
    out.toByteArray
  }
}

/** The one partition of `rdd` run on the calling thread, as Executor's
  * TaskRunner would run it: a `TaskContextImpl` with a fresh
  * `TaskMemoryManager` and `TaskMetrics`, the calling thread's local
  * properties (what a job's task receives) and a task-attempt id
  * registered with the block manager (broadcast reads take block locks
  * under it). No SparkListener event is posted; the task's metrics stay
  * on the context.
  *
  * The context is the thread's `TaskContext` only inside each
  * `hasNext`/`next`/`close` call: the caller may pull from a different
  * thread each time (gRPC's onReady), and a context left behind would
  * make `SQLConf.get` on that thread read the task's properties instead
  * of the session's conf. The thread's input-file block (what
  * `input_file_name()` reads) travels with the run the same way.
  *
  * The task is released exactly once, when the partition is exhausted,
  * throws, or the iterator is closed: completion (and, on an error,
  * failure) listeners run first (the Parquet reader and the Arrow
  * encoder's allocator close there), then the task's memory is freed,
  * then its block locks are released. A caller never closes during a
  * pull (gRPC serializes a call's callbacks), so close has no running
  * scan to stop; every later pull sees the task released.
  */
private[sql] final class InlineTask(rdd: org.apache.spark.rdd.RDD[Array[Byte]])
    extends Iterator[Array[Byte]] with AutoCloseable {
  import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
  import org.apache.spark.rdd.InputFileBlockHolder

  private val env = SparkEnv.get
  private val taskId = InlineTask.nextId.getAndIncrement()
  env.blockManager.registerTask(taskId)
  private val ctx = new TaskContextImpl(
    stageId = 0, stageAttemptNumber = 0, partitionId = 0,
    taskAttemptId = taskId, attemptNumber = 0, numPartitions = 1,
    taskMemoryManager = new org.apache.spark.memory.TaskMemoryManager(
      env.memoryManager, taskId),
    localProperties = org.apache.spark.util.Utils.cloneProperties(
      rdd.sparkContext.getLocalProperties),
    metricsSystem = env.metricsSystem,
    taskMetrics = org.apache.spark.executor.TaskMetrics.empty)

  private var rows: Iterator[Array[Byte]] = _ // opened on the first pull
  private var fileBlock: AnyRef = _
  private var released = false

  /** `f` with the task's context (and input-file block) on this thread. */
  private def inTask[T](f: => T): T = {
    TaskContext.setTaskContext(ctx)
    if (fileBlock == null) InputFileBlockHolder.unset()
    else InputFileBlockHolder.setThreadLocalValue(fileBlock)
    try f
    finally {
      fileBlock = InputFileBlockHolder.getThreadLocalValue()
      InputFileBlockHolder.unset()
      TaskContext.unset()
    }
  }

  /** `f` over the partition; an error releases the task, then rethrows. */
  private def pull[T](f: Iterator[Array[Byte]] => T): T = inTask {
    try {
      if (rows == null) rows = rdd.iterator(rdd.partitions(0), ctx)
      f(rows)
    } catch {
      case e: Throwable =>
        try release(Some(e)) catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
  }

  private def release(error: Option[Throwable]): Unit =
    if (!released) {
      released = true
      try {
        error.foreach(ctx.markTaskFailed)
        ctx.markTaskCompleted(error)
      } finally try {
        ctx.taskMemoryManager.cleanUpAllAllocatedMemory()
      } finally env.blockManager.releaseAllLocksForTask(taskId)
    }

  override def hasNext: Boolean =
    !released && pull(r => r.hasNext || { release(None); false })

  override def next(): Array[Byte] =
    if (released) Iterator.empty.next() else pull(_.next())

  override def close(): Unit = if (!released) inTask(release(None))
}

private[sql] object InlineTask {

  /** Task-attempt ids counted up from Long.MinValue: the scheduler's
    * count up from 0, and BlockInfoManager's non-task writer is -1024. */
  private val nextId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)

  /** On a local master (the driver is the executor), an RDD of one
    * partition whose lineage holds no shuffle runs as one task either
    * way; AQE's final stage and TakeOrderedAndProject over several
    * partitions read a shuffle, so they keep Spark's job path. */
  def fits(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Boolean = r.dependencies.exists {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => true
      case d => shuffles(d.rdd)
    }
    rdd.sparkContext.isLocal && rdd.partitions.length == 1 && !shuffles(rdd)
  }
}
