package org.apache.spark.sql

import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame}

/** Package-private-access bridge into Spark's Arrow serialization (the
  * same machinery PySpark's collect path uses). Lives in
  * org.apache.spark.sql purely to reach `private[sql]` members; no Spark
  * internals are modified.
  */
object GraftArrow {

  /** Arrow IPC end-of-stream marker: continuation bytes + zero length —
    * readers on persistent connections need it to detect result end.
    */
  private val EOS: Array[Byte] =
    Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0, 0, 0, 0)

  /** Serialize a DataFrame result as an Arrow IPC stream: schema message
    * first, then record batches, then the end-of-stream marker, pulled
    * partition-at-a-time (incremental delivery like the reference's
    * DoGet loop, main.go:241-243).
    */
  def stream(df: Dataset[Row], maxRecordsPerBatch: Int): Iterator[Array[Byte]] = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    // toArrowBatchRdd sizes batches from the session conf — honor the
    // caller's request. This is session-wide state: graft.Serve shares
    // one gateway session across all Flight clients and Thrift's
    // singleSession, and every served caller asks for 10000 rows.
    classic.sparkSession.conf.set(
      "spark.sql.execution.arrow.maxRecordsPerBatch", maxRecordsPerBatch.toString)
    val batches = classic.toArrowBatchRdd.toLocalIterator
    Iterator(schemaIpc(df)) ++ batches ++ Iterator(EOS)
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
    org.apache.spark.sql.execution.arrow.ArrowConverters.fromBatchIterator(
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
