package graft.flight

import java.nio.{ByteBuffer, ByteOrder}

import org.sparkproject.connect.grpc.{MethodDescriptor, Server, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCallStreamObserver, ServerCalls, StreamObserver}

import graft.engine.{Gateway, GatewayException}
import FlightProto._

/** Arrow Flight (SQL) endpoint over the [[graft.engine.Gateway]] — the
  * reference's actual wire protocol (gRPC FlightService on :32010,
  * /root/reference/main.go:254-258). The container has no arrow-flight
  * jar, so the service is assembled from primitives: the shaded gRPC
  * runtime inside spark-connect + [[FlightProto]]'s hand-encoded
  * messages. On the wire this is the real protocol — the reference's
  * smoke clients' call shapes are served exactly:
  *
  *  - `DoGet(Ticket(b"SELECT 1 AS a"))` (client/main.py:11): ticket IS
  *    the SQL text (main.go:199), answered with an IPC schema message +
  *    record batches, streamed incrementally;
  *  - ADBC's two-step `GetFlightInfo(CommandStatementQuery)` →
  *    `DoGet(endpoint.ticket)` (client/main.py:21-24): the Any-wrapped
  *    Flight SQL command is unwrapped properly (the reference mis-parses
  *    it and string-slices, main.go:131-140), the schema comes from the
  *    ANALYZED plan without executing (the reference runs the query
  *    twice, SURVEY §4.4 item 1), and the returned ticket is the SQL
  *    text like the reference's (main.go:161);
  *  - `CommandGetSqlInfo` → the gateway's server-metadata table
  *    (main.go:169-193,203-224).
  *
  * Write statements arrive through the same Gateway and are rejected by
  * its read-only classification + the parser-level ReadOnlyGuard, so the
  * Flight surface cannot bypass read-only enforcement.
  */
final class FlightServer(gateway: Gateway, port: Int) {

  import FlightServer._

  private var server: Server = _

  /** Server-side prepared statements (Flight SQL
    * ActionCreatePreparedStatement → DoPut param bind → GetFlightInfo →
    * DoGet): handle → (query, bound positional parameter literals).
    * The reference's Go client path reaches this via database/sql
    * (client/main.go:21-27), which prepares every parameterized query.
    */
  private final class PreparedEntry(val query: String) {
    @volatile var params: Seq[String] = Nil
  }
  private val preparedStmts =
    new java.util.concurrent.ConcurrentHashMap[String, PreparedEntry]()

  /** Resolve a prepared handle to executable SQL: bound params if the
    * client DoPut them, else NULLs (the pre-bind GetFlightInfo schema
    * probe).
    */
  private def preparedSql(handle: Array[Byte]): String = {
    val key = new String(handle, "UTF-8")
    val entry = Option(preparedStmts.get(key)).getOrElse(
      throw new GatewayException(s"unknown prepared statement handle: $key"))
    if (entry.params.nonEmpty)
      Gateway.bindPlaceholders(entry.query, entry.params, Map.empty)
    else Gateway.bindNulls(entry.query)
  }

  /** Bound port after start (differs from the requested when port=0). */
  def boundPort: Int = server.getPort

  def start(): FlightServer = {
    server = NettyServerBuilder
      .forPort(port)
      .maxInboundMessageSize(MaxMessageBytes)
      .addService(serviceDefinition)
      .build()
      .start()
    this
  }

  def stop(): Unit = if (server != null) server.shutdownNow()

  // ---- handlers --------------------------------------------------------

  private def handleGetFlightInfo(
      reqBytes: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
    respond(obs) {
      val desc = FlightDescriptor.fromBytes(reqBytes)
      val any = anyOf(desc.cmd)
      metaDf(any) match {
        case Some(df) =>
          // metadata tickets round-trip the command bytes themselves
          FlightInfo(
            schema = ipcSchema(df),
            descriptor = desc,
            endpoints = Seq(FlightEndpoint(Ticket(desc.cmd))),
            totalRecords = -1L, totalBytes = -1L).toBytes
        case None =>
          val (query, isSqlInfo) = parseCommand(any, desc.cmd)
          val schemaBytes =
            if (isSqlInfo) ipcSchema(gateway.sqlInfo)
            else ipcSchema(gateway.sql(query)) // analyzed only — never executed
          val ticket = Ticket(
            (if (isSqlInfo) SqlInfoTicket else query).getBytes("UTF-8"))
          FlightInfo(
            schema = schemaBytes,
            descriptor = desc,
            endpoints = Seq(FlightEndpoint(ticket)),
            // the reference's exact cosmetics for statement infos
            // (main.go:164-165): records 0 (unknown-until-run), bytes -1
            totalRecords = 0L, totalBytes = -1L).toBytes
      }
    }

  private def handleGetSchema(
      reqBytes: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
    respond(obs) {
      val desc = FlightDescriptor.fromBytes(reqBytes)
      val any = anyOf(desc.cmd)
      val df = metaDf(any).getOrElse {
        val (query, isSqlInfo) = parseCommand(any, desc.cmd)
        if (isSqlInfo) gateway.sqlInfo else gateway.sql(query)
      }
      SchemaResult(ipcSchema(df)).toBytes
    }

  private def handleDoGet(
      reqBytes: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
    val call = obs.asInstanceOf[ServerCallStreamObserver[Array[Byte]]]
    // Flow control is onReady-DRIVEN, never thread-parking: the drain
    // below pushes batches while the transport window is open and simply
    // RETURNS when it closes; gRPC re-invokes it (setOnReadyHandler) when
    // the slow client drains. A stalled consumer therefore costs a
    // suspended iterator, not a pinned executor thread — callbacks for
    // one call are serialized by gRPC, so no locking is needed. The
    // batch iterator stays lazy (partition-at-a-time), bounding server
    // memory to one in-flight batch per call.
    var stream: Iterator[Array[Byte]] = null // built on first drain: query
    var chunks: Iterator[Array[Byte]] = null // errors surface via onError
    var done = false
    // Ends the drain and closes the stream: a statement running on this
    // call's thread (GraftArrow's inline task) releases its memory and
    // block locks now; a Spark-job stream's close does nothing, and its
    // lazy iterator is abandoned.
    def cancel(): Unit = {
      done = true
      stream match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
    val drain: Runnable = () =>
      if (!done) {
        try {
          if (chunks == null) {
            val ticketBytes = Ticket.fromBytes(reqBytes).ticket
            stream = metaDf(anyOf(ticketBytes)) match {
              case Some(df) => org.apache.spark.sql.GraftArrow.stream(df, 10000)
              case None =>
                val sqlText = new String(ticketBytes, "UTF-8")
                if (sqlText == SqlInfoTicket)
                  org.apache.spark.sql.GraftArrow.stream(gateway.sqlInfo, 10000)
                else gateway.arrowStream(sqlText)
            }
            chunks = stream.filterNot(isEos)
          }
          while (call.isReady && !call.isCancelled && chunks.hasNext) {
            val (header, body) = splitIpc(chunks.next())
            call.onNext(FlightData(header, body).toBytes)
          }
          if (call.isCancelled) cancel()
          else if (!chunks.hasNext) {
            done = true
            call.onCompleted()
          }
        } catch {
          case e: Throwable =>
            try cancel() finally call.onError(toStatus(e).asRuntimeException())
        }
      }
    // a cancelled call never fires onReady again — without this handler a
    // drain suspended on flow control would leave the stream unfinalized
    // forever (and grpc-java only suppresses onNext-after-cancel throws
    // when a cancel handler is registered)
    call.setOnCancelHandler(() => cancel())
    call.setOnReadyHandler(drain)
    drain.run()
  }

  private def handleHandshake(
      obs: StreamObserver[Array[Byte]]): StreamObserver[Array[Byte]] =
    new StreamObserver[Array[Byte]] {
      // no auth, like the reference: echo the payload back
      override def onNext(v: Array[Byte]): Unit = obs.onNext(v)
      override def onError(t: Throwable): Unit = obs.onError(t)
      override def onCompleted(): Unit = obs.onCompleted()
    }

  private def respond(obs: StreamObserver[Array[Byte]])(f: => Array[Byte]): Unit =
    try {
      obs.onNext(f)
      obs.onCompleted()
    } catch {
      case e: Throwable => obs.onError(toStatus(e).asRuntimeException())
    }

  /** The Flight SQL `Any` command in descriptor or ticket bytes, or None
    * for raw SQL bytes from a plain Flight client.
    */
  private def anyOf(bytes: Array[Byte]): Option[AnyMsg] =
    try Some(AnyMsg.fromBytes(bytes))
    catch { case _: Exception => None }

  /** Descriptor.cmd → (sql, isSqlInfo): a proper Flight SQL Any-wrapped
    * command (`any`, decoded once by the caller), or raw SQL bytes.
    */
  private def parseCommand(any: Option[AnyMsg], cmd: Array[Byte]): (String, Boolean) =
    any match {
      case Some(a) if a.typeUrl == StatementQueryUrl =>
        // sqlText also honors the Go flightsql driver's pack-the-SQL-
        // into-transaction_id quirk (/root/reference/main.go:138-139)
        (CommandStatementQuery.fromBytes(a.value).sqlText, false)
      case Some(a) if a.typeUrl == GetSqlInfoUrl => ("", true)
      case Some(a) if a.typeUrl == PreparedStatementQueryUrl =>
        // resolved HERE (params are already bound server-side), so the
        // returned ticket is plain SQL text and DoGet needs no
        // prepared-statement awareness
        (preparedSql(CommandPreparedStatementQuery.fromBytes(a.value).handle),
          false)
      case _ => (new String(cmd, "UTF-8"), false)
    }

  // ---- Flight SQL catalog metadata commands ---------------------------

  /** The DataFrame for a Flight SQL catalog metadata command, if `any`
    * is one (ADBC's GetObjects path: CommandGetCatalogs /
    * GetDbSchemas / GetTables / GetTableTypes). Column names and order
    * follow the Flight SQL spec schemas. Backed by the LIVE
    * duckdb_tables view, so DDL is visible like every other surface.
    * Used for both the descriptor cmd and the ticket — metadata tickets
    * round-trip the command bytes.
    */
  private def metaDf(any: Option[AnyMsg]): Option[org.apache.spark.sql.DataFrame] = {
    val sess = gateway.session
    // The injected parser (Dialect.rawifyLiterals) makes '…' literals
    // RAW on every sess.sql entry point — backslashes are literal
    // characters, so only quote doubling is needed to stay inside the
    // literal. (Pre-r9 this also doubled backslashes, so a client value
    // containing \ compared against \\ and silently matched nothing.)
    def esc(s: String) = s.replace("'", "''")
    // LIKE patterns additionally treat backslash as the pattern-escape
    // character (Flight SQL patterns have no escape syntax — a client
    // backslash is a literal character), so double at the PATTERN level
    // only, then apply the string-literal quote doubling.
    def escPat(s: String) = esc(s.replace("\\", "\\\\"))
    any.collect {
      case a if a.typeUrl == GetCatalogsUrl =>
        sess.sql("""SELECT DISTINCT database_name AS catalog_name
                   |FROM duckdb_tables ORDER BY catalog_name""".stripMargin)
      case a if a.typeUrl == GetDbSchemasUrl =>
        val c = CommandGetDbSchemas.fromBytes(a.value)
        val conds = c.catalog.map(v => s"database_name = '${esc(v)}'") ++
          c.schemaPattern.map(p => s"schema_name LIKE '${escPat(p)}'")
        val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
        sess.sql(
          s"""SELECT DISTINCT database_name AS catalog_name,
             |  schema_name AS db_schema_name
             |FROM duckdb_tables $where
             |ORDER BY catalog_name, db_schema_name""".stripMargin)
      case a if a.typeUrl == GetTableTypesUrl =>
        sess.sql("""SELECT DISTINCT table_type
                   |FROM duckdb_tables ORDER BY table_type""".stripMargin)
      // parquet-backed relations declare no key constraints (exactly the
      // reference: DuckDB over read-only parquet views exposes none), so
      // the constraint commands answer their spec'd schemas with ZERO
      // rows — stock ADBC GetObjects(depth=all) then completes instead
      // of surfacing a gRPC UNIMPLEMENTED from the driver
      case a if a.typeUrl == GetPrimaryKeysUrl =>
        emptyMeta(sess,
          "catalog_name STRING, db_schema_name STRING, table_name STRING, " +
            "column_name STRING, key_name STRING, key_sequence INT")
      case a if a.typeUrl == GetImportedKeysUrl ||
          a.typeUrl == GetExportedKeysUrl ||
          a.typeUrl == GetCrossReferenceUrl =>
        emptyMeta(sess,
          "pk_catalog_name STRING, pk_db_schema_name STRING, " +
            "pk_table_name STRING, pk_column_name STRING, " +
            "fk_catalog_name STRING, fk_db_schema_name STRING, " +
            "fk_table_name STRING, fk_column_name STRING, " +
            "key_sequence INT, fk_key_name STRING, pk_key_name STRING, " +
            "update_rule SMALLINT, delete_rule SMALLINT")
      case a if a.typeUrl == GetXdbcTypeInfoUrl =>
        emptyMeta(sess,
          "type_name STRING, data_type INT, column_size INT, " +
            "literal_prefix STRING, literal_suffix STRING, " +
            "create_params ARRAY<STRING>, nullable INT, " +
            "case_sensitive BOOLEAN, searchable INT, " +
            "unsigned_attribute BOOLEAN, fixed_prec_scale BOOLEAN, " +
            "auto_increment BOOLEAN, local_type_name STRING, " +
            "minimum_scale INT, maximum_scale INT, sql_data_type INT, " +
            "datetime_subcode INT, num_prec_radix INT, " +
            "interval_precision INT")
      case a if a.typeUrl == GetTablesUrl =>
        val c = CommandGetTables.fromBytes(a.value)
        val conds = c.catalog.map(v => s"database_name = '${esc(v)}'") ++
          c.schemaPattern.map(p => s"schema_name LIKE '${escPat(p)}'") ++
          c.tablePattern.map(p => s"table_name LIKE '${escPat(p)}'") ++
          (if (c.tableTypes.nonEmpty)
            Seq(c.tableTypes.map(t => s"'${esc(t)}'")
              .mkString("table_type IN (", ", ", ")"))
          else Nil)
        val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
        val base = sess.sql(
          s"""SELECT database_name AS catalog_name,
             |  schema_name AS db_schema_name, table_name, table_type
             |FROM duckdb_tables $where
             |ORDER BY catalog_name, db_schema_name, table_name""".stripMargin)
        if (!c.includeSchema) base
        else {
          // spec: with include_schema, append each table's serialized
          // IPC schema. Catalog listings are inherently small (this is
          // a metadata RPC — every Flight SQL server materializes it),
          // so the driver-side row pass is bounded by catalog size.
          import sess.implicits._
          base.collect().toSeq.map { r =>
            val schema =
              try org.apache.spark.sql.GraftArrow.schemaIpc(
                sess.table(r.getString(2)))
              catch { case _: Exception => Array.emptyByteArray }
            (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
              schema)
          }.toDF("catalog_name", "db_schema_name", "table_name",
            "table_type", "table_schema")
        }
    }
  }

  /** Zero-row DataFrame with the given DDL schema (metadata commands the
    * engine answers structurally-empty; no job is launched).
    */
  private def emptyMeta(sess: org.apache.spark.sql.SparkSession,
      ddl: String): org.apache.spark.sql.DataFrame =
    sess.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  // ---- prepared-statement RPCs ----------------------------------------

  private def handleDoAction(
      reqBytes: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
    val action = Action.fromBytes(reqBytes)
    action.actionType match {
      case "CreatePreparedStatement" =>
        respond(obs) {
          val req = ActionCreatePreparedStatementRequest.fromBytes(
            AnyMsg.fromBytes(action.body).value)
          val handle = java.util.UUID.randomUUID.toString
          preparedStmts.put(handle, new PreparedEntry(req.query))
          // dataset schema from the ANALYZED NULL-bound plan (never
          // executed); a statement whose schema needs real param values
          // reports no schema, which clients treat as deferred
          val datasetSchema =
            try ipcSchema(gateway.sql(preparedSql(handle.getBytes("UTF-8"))))
            catch { case _: Throwable => Array.emptyByteArray }
          ActionResult(AnyMsg(CreatePreparedStatementResultUrl,
            ActionCreatePreparedStatementResult(
              handle.getBytes("UTF-8"), datasetSchema).toBytes).toBytes).toBytes
        }
      case "ClosePreparedStatement" =>
        respond(obs) {
          val req = ActionClosePreparedStatementRequest.fromBytes(
            AnyMsg.fromBytes(action.body).value)
          preparedStmts.remove(new String(req.handle, "UTF-8"))
          ActionResult(Array.emptyByteArray).toBytes
        }
      case other =>
        // the reference's DoAction is Unimplemented for everything else
        // (main.go:122-125)
        obs.onError(Status.UNIMPLEMENTED
          .withDescription(s"unknown action type: $other").asRuntimeException())
    }
  }

  /** DoPut bidi handler: ONLY prepared-statement parameter binding is
    * accepted (no table data moves — read-only stays intact); any other
    * descriptor is rejected exactly like before.
    */
  private def handleDoPut(
      obs: StreamObserver[Array[Byte]]): StreamObserver[Array[Byte]] =
    new StreamObserver[Array[Byte]] {
      private var entry: PreparedEntry = _
      private val messages =
        scala.collection.mutable.ArrayBuffer.empty[FlightData]
      private var failed = false

      override def onNext(v: Array[Byte]): Unit = if (!failed) {
        val data = FlightData.fromBytes(v)
        data.descriptor.foreach { d =>
          anyOf(d.cmd) match {
            case Some(a) if a.typeUrl == PreparedStatementQueryUrl =>
              val key = new String(
                CommandPreparedStatementQuery.fromBytes(a.value).handle, "UTF-8")
              entry = preparedStmts.get(key)
              if (entry == null) fail(Status.INVALID_ARGUMENT
                .withDescription(s"unknown prepared statement handle: $key"))
            case _ =>
              fail(Status.PERMISSION_DENIED.withDescription(
                "read-only server: DoPut accepted only for prepared-statement parameters"))
          }
        }
        if (!failed && (data.dataHeader.nonEmpty || data.dataBody.nonEmpty))
          messages += data
      }

      private def fail(s: Status): Unit = {
        failed = true
        obs.onError(s.asRuntimeException())
      }

      override def onError(t: Throwable): Unit = ()

      override def onCompleted(): Unit = if (!failed) {
        try {
          if (entry == null)
            throw new GatewayException(
              "DoPut stream carried no prepared-statement descriptor")
          if (messages.nonEmpty)
            entry.params = decodeParamLiterals(messages.toSeq)
          obs.onNext(PutResult(Array.emptyByteArray).toBytes)
          obs.onCompleted()
        } catch {
          case e: Throwable => obs.onError(toStatus(e).asRuntimeException())
        }
      }
    }

  /** Decode the client's Arrow parameter stream (schema message +
    * record batches) into SQL literal texts, first row = the binding.
    */
  private def decodeParamLiterals(messages: Seq[FlightData]): Seq[String] = {
    import org.apache.spark.sql.{GraftArrow => GA}
    val encapsulated = messages.map(FlightResult.encapsulate)
      .filterNot(isEos)
    if (encapsulated.isEmpty)
      throw new GatewayException(
        "parameter stream carried no Arrow schema message")
    val schema = GA.sparkSchemaFromIpc(encapsulated.head)
    val tz = gateway.session.sessionState.conf.sessionLocalTimeZone
    val rows = GA.rowsFromBatches(encapsulated.tail.iterator, schema, tz)
    if (!rows.hasNext)
      throw new GatewayException("parameter stream contained no rows")
    val row = rows.next()
    schema.fields.zipWithIndex.map { case (f, i) =>
      sqlLiteral(row.get(i, f.dataType), f.dataType)
    }.toSeq
  }

  /** A decoded Arrow parameter value as SQL literal text. */
  private def sqlLiteral(
      v: Any, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    if (v == null) return "NULL"
    dt match {
      case StringType =>
        "'" + v.toString.replace("'", "''") + "'"
      case BinaryType =>
        "X'" + v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString + "'"
      case BooleanType => if (v.asInstanceOf[Boolean]) "TRUE" else "FALSE"
      case DateType =>
        s"DATE '${java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)}'"
      case TimestampType | TimestampNTZType =>
        val micros = v.asInstanceOf[Long]
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        s"TIMESTAMP '${java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)}'"
      case FloatType | DoubleType =>
        // bare NaN/Infinity is not valid SQL text — render the non-finite
        // values as casts the parser accepts
        val d = v match { case f: Float => f.toDouble; case d: Double => d }
        if (d.isNaN) "CAST('NaN' AS DOUBLE)"
        else if (d.isInfinite)
          s"CAST('${if (d > 0) "Infinity" else "-Infinity"}' AS DOUBLE)"
        else v.toString
      case _: DecimalType | _: NumericType => v.toString
      case other =>
        throw new GatewayException(
          s"unsupported prepared-statement parameter type: ${other.simpleString}")
    }
  }

  private def serviceDefinition: ServerServiceDefinition = {
    val b = ServerServiceDefinition.builder(ServiceName)
    b.addMethod(Methods.handshake, ServerCalls.asyncBidiStreamingCall(
      new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(obs: StreamObserver[Array[Byte]]) = handleHandshake(obs)
      }))
    b.addMethod(Methods.getFlightInfo, ServerCalls.asyncUnaryCall(
      new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          handleGetFlightInfo(req, obs)
      }))
    b.addMethod(Methods.getSchema, ServerCalls.asyncUnaryCall(
      new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          handleGetSchema(req, obs)
      }))
    b.addMethod(Methods.doGet, ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          handleDoGet(req, obs)
      }))
    // empty catalog listing: queries address tables directly
    b.addMethod(Methods.listFlights, ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          obs.onCompleted()
      }))
    b.addMethod(Methods.listActions, ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
          obs.onNext(ActionType("CreatePreparedStatement",
            "Creates a reusable prepared statement resource").toBytes)
          obs.onNext(ActionType("ClosePreparedStatement",
            "Closes a reusable prepared statement resource").toBytes)
          obs.onCompleted()
        }
      }))
    // prepared-statement lifecycle; everything else stays Unimplemented
    // like the reference (main.go:122-125)
    b.addMethod(Methods.doAction, ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          handleDoAction(req, obs)
      }))
    // read-only server: DoPut accepts ONLY prepared-statement parameter
    // binding (no table data moves); uploads stay rejected
    b.addMethod(Methods.doPut, ServerCalls.asyncBidiStreamingCall(
      new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(obs: StreamObserver[Array[Byte]]) = handleDoPut(obs)
      }))
    b.addMethod(Methods.doExchange, ServerCalls.asyncBidiStreamingCall(
      new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(obs: StreamObserver[Array[Byte]]) = {
          obs.onError(Status.UNIMPLEMENTED
            .withDescription("DoExchange unimplemented").asRuntimeException())
          noop
        }
      }))
    b.build()
  }

  /** Drops the client's stream after the rejection above. */
  private val noop = new StreamObserver[Array[Byte]] {
    override def onNext(v: Array[Byte]): Unit = ()
    override def onError(t: Throwable): Unit = ()
    override def onCompleted(): Unit = ()
  }

  /** The typed status a failure reaches the client as. Descriptions are
    * trimmed: Spark's ParseException message starts with a newline, which
    * clients print as an empty message.
    */
  private def toStatus(e: Throwable): Status = {
    val status = e match {
      case ge: GatewayException if ge.getMessage.contains("read-only") =>
        Status.PERMISSION_DENIED
      case _: GatewayException | _: org.apache.spark.sql.AnalysisException =>
        Status.INVALID_ARGUMENT
      case _ => Status.INTERNAL
    }
    status.withDescription(String.valueOf(e.getMessage).trim)
  }

  private def ipcSchema(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    org.apache.spark.sql.GraftArrow.schemaIpc(df)
}

object FlightServer {

  val ServiceName = "arrow.flight.protocol.FlightService"
  val SqlInfoTicket = "CommandGetSqlInfo"
  val MaxMessageBytes: Int = 64 * 1024 * 1024

  def start(gateway: Gateway, port: Int): FlightServer =
    new FlightServer(gateway, port).start()

  /** Identity marshaller: handlers codec via [[FlightProto]]. */
  private[flight] val Bytes = new MethodDescriptor.Marshaller[Array[Byte]] {
    override def stream(value: Array[Byte]): java.io.InputStream =
      new java.io.ByteArrayInputStream(value)
    override def parse(stream: java.io.InputStream): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = stream.read(buf)
      while (n >= 0) {
        baos.write(buf, 0, n)
        n = stream.read(buf)
      }
      baos.toByteArray
    }
  }

  private def method(name: String, tpe: MethodDescriptor.MethodType) =
    MethodDescriptor.newBuilder(Bytes, Bytes)
      .setFullMethodName(
        MethodDescriptor.generateFullMethodName(ServiceName, name))
      .setType(tpe)
      .build()

  /** The FlightService RPCs (service/method names from Flight.proto). */
  object Methods {
    import MethodDescriptor.MethodType._
    val handshake = method("Handshake", BIDI_STREAMING)
    val listFlights = method("ListFlights", SERVER_STREAMING)
    val getFlightInfo = method("GetFlightInfo", UNARY)
    val getSchema = method("GetSchema", UNARY)
    val doGet = method("DoGet", SERVER_STREAMING)
    val doPut = method("DoPut", BIDI_STREAMING)
    val doExchange = method("DoExchange", BIDI_STREAMING)
    val doAction = method("DoAction", SERVER_STREAMING)
    val listActions = method("ListActions", SERVER_STREAMING)
  }

  /** Split an IPC-encapsulated message into (flatbuffer metadata, body)
    * — the two halves FlightData carries separately. Encapsulated
    * layout: 0xFFFFFFFF continuation, int32 LE metadata size, metadata
    * (8-byte padded), body.
    */
  def splitIpc(chunk: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val bb = ByteBuffer.wrap(chunk).order(ByteOrder.LITTLE_ENDIAN)
    val first = bb.getInt()
    val metaLen = if (first == -1) bb.getInt() else first // pre-1.0 had no continuation
    val metaOff = if (first == -1) 8 else 4
    val header = java.util.Arrays.copyOfRange(chunk, metaOff, metaOff + metaLen)
    val body = java.util.Arrays.copyOfRange(chunk, metaOff + metaLen, chunk.length)
    (header, body)
  }

  /** An IPC end-of-stream marker (continuation + zero length): Flight
    * signals completion via gRPC, not an EOS message.
    */
  def isEos(chunk: Array[Byte]): Boolean =
    java.util.Arrays.equals(chunk, org.apache.spark.sql.GraftArrow.EOS)
}
