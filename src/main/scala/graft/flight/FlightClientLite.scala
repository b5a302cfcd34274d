package graft.flight

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls

import FlightProto._

/** Minimal Flight (SQL) client over the same shaded gRPC runtime — the
  * library-side counterpart of [[FlightServer]], shaped like the
  * reference's two smoke clients:
  *
  *  - [[doGetSql]]: `do_get(Ticket(sql))` (client/main.py:11);
  *  - [[getFlightInfo]] + [[doGet]]: the ADBC two-step with a proper
  *    Any-wrapped CommandStatementQuery (client/main.py:21-24).
  *
  * Results decode through the arrow-vector IPC reader: the FlightData
  * header/body pairs are re-joined into an IPC stream byte-for-byte
  * identical to what the server split, so a successful read proves the
  * wire framing, not just the happy path.
  */
final class FlightClientLite(host: String, port: Int) extends AutoCloseable {

  private val channel: ManagedChannel = NettyChannelBuilder
    .forAddress(host, port)
    .usePlaintext()
    .maxInboundMessageSize(FlightServer.MaxMessageBytes)
    .build()

  override def close(): Unit = channel.shutdownNow()

  /** The python smoke client's exact shape: ticket IS the SQL text. */
  def doGetSql(sql: String): FlightResult =
    doGet(sql.getBytes("UTF-8"))

  def doGet(ticket: Array[Byte]): FlightResult =
    FlightResult.fromFlightData(doGetRaw(ticket))

  /** Raw FlightData messages (schema first, then record batches). */
  def doGetRaw(ticket: Array[Byte]): Vector[FlightData] =
    doGetStream(ticket).toVector

  /** LAZY FlightData stream: messages decode as the gRPC iterator is
    * pulled, so a consumer holding one batch at a time (the
    * remote-catalog reader) never buffers the whole result — the
    * server's one-in-flight-batch flow control survives end to end.
    */
  def doGetStream(ticket: Array[Byte]): Iterator[FlightData] =
    ClientCalls.blockingServerStreamingCall(
      channel, FlightServer.Methods.doGet, CallOptions.DEFAULT,
      Ticket(ticket).toBytes).asScala.map(FlightData.fromBytes)

  /** ADBC/Flight-SQL first step: Any-wrapped CommandStatementQuery. */
  def getFlightInfo(sql: String): FlightInfo = {
    val cmd = AnyMsg(
      StatementQueryUrl, CommandStatementQuery(sql).toBytes).toBytes
    val desc = FlightDescriptor(FlightDescriptor.CMD, cmd)
    FlightInfo.fromBytes(ClientCalls.blockingUnaryCall(
      channel, FlightServer.Methods.getFlightInfo, CallOptions.DEFAULT,
      desc.toBytes))
  }

  /** The Go flightsql driver's wire form of the same step
    * (/root/reference/client/main.go:21-27 via main.go:138-139): the
    * SQL rides in transaction_id as an embedded message (2-byte inner
    * tag+length prefix), query left empty. Exposed so specs can pin the
    * server-side quirk handling against the real byte layout.
    */
  def getFlightInfoTxnPacked(sql: String): FlightInfo = {
    val inner = sql.getBytes("UTF-8")
    require(inner.length < 128, "txn-packed smoke limited to short SQL")
    val txn = Array[Byte](0x0a, inner.length.toByte) ++ inner
    val cmd = AnyMsg(
      StatementQueryUrl, CommandStatementQuery("", txn).toBytes).toBytes
    val desc = FlightDescriptor(FlightDescriptor.CMD, cmd)
    FlightInfo.fromBytes(ClientCalls.blockingUnaryCall(
      channel, FlightServer.Methods.getFlightInfo, CallOptions.DEFAULT,
      desc.toBytes))
  }

  def getSchema(sql: String): SchemaResult = {
    val cmd = AnyMsg(
      StatementQueryUrl, CommandStatementQuery(sql).toBytes).toBytes
    val desc = FlightDescriptor(FlightDescriptor.CMD, cmd)
    SchemaResult.fromBytes(ClientCalls.blockingUnaryCall(
      channel, FlightServer.Methods.getSchema, CallOptions.DEFAULT,
      desc.toBytes))
  }

  /** ADBC second step: execute the FlightInfo's endpoint ticket. */
  def doGet(info: FlightInfo): FlightResult =
    doGet(info.endpoints.head.ticket.ticket)
}

/** A decoded Flight result: column names + stringified row values (the
  * spec-comparison currency; values come from arrow-vector getObject).
  */
final case class FlightResult(
    columns: Seq[String],
    rows: Seq[Seq[AnyRef]],
    batchCount: Int)

object FlightResult {

  /** One FlightData re-framed as an encapsulated IPC message:
    * continuation marker + LE metadata length + header + body — the
    * exact inverse of FlightServer.splitIpc. Shared by the result
    * decoder below, the remote-catalog reader and the server's DoPut
    * parameter decode so the framing can never skew between them.
    */
  def encapsulate(d: FlightProto.FlightData): Array[Byte] = {
    // IPC spec: the body must start on an 8-byte boundary, and the
    // written metadata length INCLUDES that padding. Spark-origin
    // headers arrive pre-padded (splitIpc keeps the padding), but a
    // foreign server (pyarrow/Airport) may ship a bare flatbuffer whose
    // length is not a multiple of 8 — pad here so the re-framed stream
    // is well-formed regardless of peer. Trailing zeros after a
    // flatbuffer are legal: parsers locate the root from the start.
    val pad = (8 - (d.dataHeader.length & 7)) & 7
    val out = new java.io.ByteArrayOutputStream(
      8 + d.dataHeader.length + pad + d.dataBody.length)
    val prefix = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    prefix.putInt(-1).putInt(d.dataHeader.length + pad)
    out.write(prefix.array())
    out.write(d.dataHeader)
    if (pad > 0) out.write(new Array[Byte](pad))
    out.write(d.dataBody)
    out.toByteArray
  }

  /** Re-join FlightData (header, body) pairs into an IPC stream and read
    * it back with the stock arrow reader.
    */
  def fromFlightData(datas: Seq[FlightProto.FlightData]): FlightResult = {
    val baos = new java.io.ByteArrayOutputStream()
    datas.foreach(d => baos.write(encapsulate(d)))
    baos.write(org.apache.spark.sql.GraftArrow.EOS)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(baos.toByteArray), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val columns = root.getSchema.getFields.asScala.map(_.getName).toVector
      val rows = Vector.newBuilder[Seq[AnyRef]]
      var batches = 0
      while (reader.loadNextBatch()) {
        batches += 1
        val vectors = root.getFieldVectors.asScala.toVector
        (0 until root.getRowCount).foreach { i =>
          rows += vectors.map(_.getObject(i))
        }
      }
      FlightResult(columns, rows.result(), batches)
    } finally {
      reader.close()
      alloc.close()
    }
  }
}
