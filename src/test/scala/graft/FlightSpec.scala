package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Gateway
import graft.flight.{FlightClientLite, FlightProto, FlightServer}

/** Wire-level Flight (SQL) round-trips over a real gRPC TCP socket —
  * the reference's actual protocol (main.go:254-258), exercised in the
  * shapes of its two smoke clients (client/main.py, client/main.go).
  */
class FlightSpec extends AnyFunSuite {
  import TestSpark._

  lazy val gw: Gateway = Gateway.open(spark, sf)
  lazy val server: FlightServer = FlightServer.start(gw, 0) // ephemeral port
  lazy val client: FlightClientLite = new FlightClientLite("localhost", server.boundPort)

  test("reference smoke: DoGet(Ticket(SELECT 1 AS a)) — client/main.py:11") {
    val r = client.doGetSql("SELECT 1 AS a")
    assert(r.columns == Seq("a"))
    assert(r.rows.map(_.head.toString) == Seq("1"))
  }

  test("ADBC two-step: GetFlightInfo(CommandStatementQuery) then DoGet(ticket)") {
    val sql = "SELECT 2 AS a, 3 AS b"
    val info = client.getFlightInfo(sql)
    // schema delivered without execution, endpoint ticket = SQL (main.go:161)
    assert(info.schema.nonEmpty)
    assert(new String(info.endpoints.head.ticket.ticket, "UTF-8") == sql)
    val r = client.doGet(info)
    assert(r.columns == Seq("a", "b"))
    assert(r.rows == Seq(Seq(2, 3)))
  }

  test("Go flightsql driver quirk: SQL packed into transaction_id resolves") {
    // the reference's entry point A recovers the statement from the
    // transaction_id field with a 2-byte strip (main.go:138-139); the
    // same wire bytes must work here, without disturbing spec-conforming
    // clients (previous test)
    val sql = "SELECT 5 AS a"
    val info = client.getFlightInfoTxnPacked(sql)
    assert(new String(info.endpoints.head.ticket.ticket, "UTF-8") == sql)
    val r = client.doGet(info)
    assert(r.columns == Seq("a") && r.rows == Seq(Seq(5)))
  }

  test("fixture table query streams typed columns") {
    val r = client.doGetSql(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert(r.columns == Seq("r_regionkey", "r_name"))
    assert(r.rows.length == 5)
    assert(r.rows.head(1).toString == "AFRICA")
  }

  test("multi-batch result arrives complete") {
    val r = client.doGetSql("SELECT l_orderkey, l_extendedprice FROM lineitem")
    val expected = gw.sql("SELECT count(*) AS c FROM lineitem").collect()(0).getLong(0)
    assert(r.rows.length == expected)
    assert(r.batchCount >= 1)
  }

  test("GetSchema decodes to the analyzed schema's field names") {
    val s = client.getSchema("SELECT o_orderdate, o_totalprice FROM orders")
    val schema = org.apache.arrow.vector.ipc.message.MessageSerializer
      .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
        java.nio.channels.Channels.newChannel(
          new java.io.ByteArrayInputStream(s.schema))))
    import scala.jdk.CollectionConverters._
    assert(schema.getFields.asScala.map(_.getName) == Seq("o_orderdate", "o_totalprice"))
  }

  test("CommandGetSqlInfo ticket serves server metadata (main.go:203-224)") {
    val r = client.doGet("CommandGetSqlInfo".getBytes("UTF-8"))
    val m = r.rows.map(row => row(0).toString -> row(1).toString).toMap
    assert(m("server_name") == "graft")
    assert(m("read_only") == "true")
  }

  test("concurrent DoGet streams: 4 clients, interleaved onReady drains, all complete") {
    // the onReady-driven drain suspends/resumes per transport window —
    // run several large results in parallel and require every stream to
    // arrive complete and correct (no cross-call state, no lost tail)
    val expected = gw.sql("SELECT count(*) AS c FROM lineitem")
      .collect()(0).getLong(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(List.fill(4)(Future {
        val c = new FlightClientLite("localhost", server.boundPort)
        try c.doGetSql("SELECT l_orderkey, l_extendedprice FROM lineitem").rows.length
        finally c.close()
      })), 2.minutes)
    assert(results == List.fill(4)(expected.toInt), results)
  }

  test("write statements are rejected with PERMISSION_DENIED over the wire") {
    val e = intercept[Exception](
      client.doGetSql("CREATE TABLE hack AS SELECT 1"))
    assert(e.getMessage.contains("PERMISSION_DENIED"))
  }

  test("DoGet: a statement behind a leading comment is served, not rejected") {
    val r = client.doGetSql("/* tag */ SELECT 1 AS a")
    assert(r.rows.map(_.head.toString) == Seq("1"))
  }

  test("DoGet: a double-quoted name reads the column, as in DuckDB") {
    val r = client.doGetSql("SELECT \"a\" FROM (SELECT 7 AS a) t")
    assert(r.rows.map(_.head.toString) == Seq("7"))
  }

  test("invalid SQL surfaces INVALID_ARGUMENT, not a broken stream") {
    val e = intercept[Exception](client.doGetSql("SELECT FROM WHERE"))
    assert(e.getMessage.contains("INVALID_ARGUMENT") ||
      e.getMessage.contains("INTERNAL"))
  }

  test("a parse error reaches the client as INVALID_ARGUMENT with its error class") {
    // Spark's ParseException message starts with a newline
    val e = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
      client.doGetSql(SparkEntry.oracleSql("j10_positional_join")))
    assert(e.getStatus.getCode == org.sparkproject.connect.grpc.Status.Code.INVALID_ARGUMENT)
    assert(e.getStatus.getDescription.startsWith("[PARSE_SYNTAX_ERROR]"),
      e.getStatus.getDescription)
  }

  test("ATTACH AIRPORT: remote Flight tables resolve through the catalog") {
    // a SECOND gateway attaches the first one's Flight server as a
    // remote catalog — the reference's k8s/main.yaml:155 deployment
    // shape, self-hosted. ATTACH is operator-gated, so the endpoint is
    // allowlisted at open() (the operator surface).
    val local = Gateway.open(spark, sf,
      attachAllow = Seq(s"localhost:${server.boundPort}"))
    val out = local.sql(
      s"ATTACH 'remote' (TYPE AIRPORT, location 'grpc://localhost:${server.boundPort}')")
      .collect()
    assert(out.head.getString(0) == "remote")
    // remote read equals the local fixture
    val viaRemote = local.session
      .sql("SELECT n_name FROM remote.main.nation ORDER BY n_name")
      .collect().map(_.getString(0)).toSeq
    val localRows = local.sql("SELECT n_name FROM nation ORDER BY n_name")
      .collect().map(_.getString(0)).toSeq
    assert(viaRemote == localRows)
    // count(*) (zero-column scan) and filters work through the catalog
    assert(local.session.sql("SELECT count(*) AS c FROM remote.main.region")
      .collect().head.getLong(0) == 5L)
    // column pruning reaches the remote SQL: scan description carries
    // only the projected column
    val pruned = local.session.sql("SELECT n_name FROM remote.main.nation")
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("RemoteFlight") && desc.contains("cols=n_name"), desc)
    // catalog lists the remote tables
    assert(local.session.sql("SHOW TABLES IN remote.main").collect()
      .map(_.getString(1)).contains("nation"))
    // and it is read-only
    val e = intercept[Exception](
      local.session.sql("DROP TABLE remote.main.nation").collect())
    assert(e.getMessage.toLowerCase.contains("read-only"))
    // a missing REMOTE table surfaces as Spark's standard not-found
    // (the peer's INVALID_ARGUMENT analysis failure, mapped)
    val nf = intercept[org.apache.spark.sql.AnalysisException](
      local.session.sql("SELECT * FROM remote.main.no_such_tbl").collect())
    assert(nf.getMessage.toLowerCase.contains("cannot be found") ||
      nf.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), nf.getMessage)
  }

  test("remote faults are not reported as 'table does not exist'") {
    // unreachable endpoint: loadTable must propagate the connectivity
    // fault, not NoSuchTableException (which would read as a clean
    // false from tableExists)
    val dead = new graft.sources.FlightCatalog
    val opts = new java.util.HashMap[String, String]()
    opts.put("host", "localhost")
    opts.put("port", "1") // nothing listens here
    dead.initialize("deadcat",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("main"), "nation")
    val e = intercept[Exception](dead.loadTable(ident))
    assert(!e.isInstanceOf[
      org.apache.spark.sql.catalyst.analysis.NoSuchTableException])
    assert(e.getMessage.contains("UNAVAILABLE"), e.getMessage)
  }

  test("ATTACH allowlist matches hostnames case-insensitively") {
    // RFC 4343: an operator listing "LocalHost:port" must still admit a
    // lowercase location (and vice versa) — fail-closed only on genuine
    // mismatches
    val local = Gateway.open(spark, sf,
      attachAllow = Seq(s"LocalHost:${server.boundPort}"))
    val out = local.sql(
      s"ATTACH 'remote_ci' (TYPE AIRPORT, location 'grpc://localhost:${server.boundPort}')")
      .collect()
    assert(out.head.getString(0) == "remote_ci")
  }

  test("ATTACH is operator-gated: client ATTACH to an unlisted endpoint is rejected") {
    // no allowlist, not the init script → any client-supplied host:port
    // is refused before a channel is opened (SSRF gate; the reference
    // confines ATTACH to the server init hook, main.go:108)
    val plain = Gateway.open(spark, sf)
    val e = intercept[graft.engine.GatewayException](plain.sql(
      s"ATTACH 'evil' (TYPE AIRPORT, location 'grpc://localhost:${server.boundPort}')"))
    assert(e.getMessage.contains("operator-gated"))
    // the init script IS the operator surface: same statement succeeds there
    val viaInit = Gateway.open(spark, sf, initScript = Some(
      s"ATTACH 'initremote' (TYPE AIRPORT, location 'grpc://localhost:${server.boundPort}')"))
    assert(viaInit.session.sql("SELECT count(*) AS c FROM initremote.main.region")
      .collect().head.getLong(0) == 5L)
    // and the window closes with the init script: post-init ATTACH rejected
    intercept[graft.engine.GatewayException](viaInit.sql(
      s"ATTACH 'late' (TYPE AIRPORT, location 'grpc://localhost:${server.boundPort}')"))
  }

  test("Large* arrow types are rejected even when nested inside a list/struct") {
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    // list<large_utf8>: the Large type hides one level down — the 32-bit
    // batch decoder must refuse it, not decode garbage
    val child = new Field("item",
      FieldType.nullable(ArrowType.LargeUtf8.INSTANCE), java.util.List.of())
    val nested = new Schema(java.util.List.of(new Field("xs",
      FieldType.nullable(new ArrowType.List()), java.util.List.of(child))))
    val out = new java.io.ByteArrayOutputStream()
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(
        java.nio.channels.Channels.newChannel(out)), nested)
    val e = intercept[UnsupportedOperationException](
      org.apache.spark.sql.GraftArrow.sparkSchemaFromIpc(out.toByteArray))
    assert(e.getMessage.contains("item"))
    // a plain 32-bit-offset schema still decodes
    val plain = new Schema(java.util.List.of(new Field("s",
      FieldType.nullable(new ArrowType.Utf8()), java.util.List.of())))
    val out2 = new java.io.ByteArrayOutputStream()
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(
        java.nio.channels.Channels.newChannel(out2)), plain)
    val sch = org.apache.spark.sql.GraftArrow.sparkSchemaFromIpc(out2.toByteArray)
    assert(sch.fieldNames.toSeq == Seq("s"))
  }

  test("proto codec round-trips FlightInfo") {
    val info = FlightProto.FlightInfo(
      schema = Array[Byte](1, 2, 3),
      descriptor = FlightProto.FlightDescriptor(
        FlightProto.FlightDescriptor.CMD, "SELECT 1".getBytes),
      endpoints = Seq(FlightProto.FlightEndpoint(
        FlightProto.Ticket("t".getBytes))),
      totalRecords = 42L, totalBytes = -1L)
    val back = FlightProto.FlightInfo.fromBytes(info.toBytes)
    assert(back.schema.toSeq == Seq[Byte](1, 2, 3))
    assert(new String(back.descriptor.cmd) == "SELECT 1")
    assert(new String(back.endpoints.head.ticket.ticket) == "t")
    assert(back.totalRecords == 42L)
  }

  test("round-9: backslash in a metadata filter matches literally (raw-literal esc)") {
    // a view whose NAME contains a backslash: pre-r9 esc doubled
    // backslashes for Spark's old escaping lexer, but the injected
    // parser makes '…' literals RAW — the filter compared against a
    // doubled backslash and silently matched NOTHING
    gw.sql("CREATE TEMP VIEW `bs\\vw9` AS SELECT 1 AS x").collect()
    try {
      // google.protobuf.Any + CommandGetTables{table_name_filter_pattern=3}
      // hand-encoded (metadata tickets round-trip the command bytes)
      val pat = "bs\\vw9".getBytes("UTF-8")
      val body = Array[Byte](0x1A.toByte, pat.length.toByte) ++ pat
      val ticket = FlightProto.AnyMsg(
        "type.googleapis.com/arrow.flight.protocol.sql.CommandGetTables",
        body).toBytes
      val r = client.doGet(ticket)
      assert(r.columns.take(3) ==
        Seq("catalog_name", "db_schema_name", "table_name"))
      assert(r.rows.map(_(2).toString) == Seq("bs\\vw9"), r.rows)
    } finally gw.sql("DROP VIEW `bs\\vw9`").collect()
  }

  /** CreatePreparedStatement over raw gRPC; the descriptor that names
    * the new handle (the Go driver's call shape). */
  private def prepare(channel: org.sparkproject.connect.grpc.Channel,
      sql: String): FlightProto.FlightDescriptor = {
    import FlightProto._
    import org.sparkproject.connect.grpc.CallOptions
    import org.sparkproject.connect.grpc.stub.ClientCalls
    val create = Action("CreatePreparedStatement", AnyMsg(
      CreatePreparedStatementRequestUrl,
      ActionCreatePreparedStatementRequest(sql).toBytes).toBytes)
    val created = ClientCalls.blockingServerStreamingCall(channel,
      FlightServer.Methods.doAction, CallOptions.DEFAULT, create.toBytes).next()
    val handle = ActionCreatePreparedStatementResult.fromBytes(
      AnyMsg.fromBytes(ActionResult.fromBytes(created).body).value).handle
    FlightDescriptor(FlightDescriptor.CMD, AnyMsg(
      PreparedStatementQueryUrl, CommandPreparedStatementQuery(handle).toBytes).toBytes)
  }

  test("Flight SQL prepared statement: a ? in a -- comment is not a placeholder") {
    // CreatePreparedStatement, DoPut bind, GetFlightInfo, DoGet on raw
    // gRPC; DuckDB 1.0 answers 7
    import FlightProto._
    import org.sparkproject.connect.grpc.CallOptions
    import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
    import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
    val channel = NettyChannelBuilder.forAddress("localhost", server.boundPort)
      .usePlaintext().build()
    try {
      val desc = prepare(channel, "SELECT ? AS a -- why?")
      // bind p1 = 7: one Arrow schema message + one record batch
      val params = org.apache.spark.sql.GraftArrow
        .stream(spark.sql("SELECT CAST(7 AS BIGINT) AS p1"), 10000)
        .filterNot(FlightServer.isEos).map(FlightServer.splitIpc).toSeq
      val put = scala.concurrent.Promise[Unit]()
      val upload = ClientCalls.asyncBidiStreamingCall(
        channel.newCall(FlightServer.Methods.doPut, CallOptions.DEFAULT),
        new StreamObserver[Array[Byte]] {
          override def onNext(v: Array[Byte]): Unit = ()
          override def onError(t: Throwable): Unit = put.tryFailure(t)
          override def onCompleted(): Unit = put.trySuccess(())
        })
      params.zipWithIndex.foreach { case ((header, body), i) =>
        upload.onNext(FlightData(header, body,
          if (i == 0) Some(desc) else None).toBytes)
      }
      upload.onCompleted()
      scala.concurrent.Await.result(put.future,
        scala.concurrent.duration.Duration(60, "s"))
      val info = FlightInfo.fromBytes(ClientCalls.blockingUnaryCall(channel,
        FlightServer.Methods.getFlightInfo, CallOptions.DEFAULT, desc.toBytes))
      val r = client.doGet(info)
      assert(r.columns == Seq("a") && r.rows.map(_.head.toString) == Seq("7"), r.rows)
    } finally channel.shutdownNow()
  }

  test("a statement that fails while it streams answers INTERNAL with its error class") {
    // one partition, no shuffle: the scan runs on the call's own thread
    val e = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
      client.doGetSql("SELECT CAST(o_orderstatus AS INT) FROM orders"))
    assert(e.getStatus.getCode == org.sparkproject.connect.grpc.Status.Code.INTERNAL)
    assert(e.getStatus.getDescription.contains("CAST_INVALID_INPUT"),
      e.getStatus.getDescription)
    assert(client.doGetSql("SELECT o_orderkey FROM orders WHERE o_orderkey = 7")
      .rows.map(_.head.toString) == Seq("7"))
  }

  test("Flight SQL prepared statement: $0 fails the NULL-bound schema probe") {
    // placeholders number from 1; the unbound GetFlightInfo must answer
    // with an error, not bind without end
    import org.sparkproject.connect.grpc.CallOptions
    import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
    import org.sparkproject.connect.grpc.stub.ClientCalls
    val channel = NettyChannelBuilder.forAddress("localhost", server.boundPort)
      .usePlaintext().build()
    try {
      val desc = prepare(channel, "SELECT $0 AS a")
      val e = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
        ClientCalls.blockingUnaryCall(channel, FlightServer.Methods.getFlightInfo,
          CallOptions.DEFAULT.withDeadlineAfter(60, java.util.concurrent.TimeUnit.SECONDS),
          desc.toBytes))
      assert(e.getMessage.contains("$0"), e.getMessage)
    } finally channel.shutdownNow()
  }
}
