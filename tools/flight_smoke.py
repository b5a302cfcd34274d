# Wire-compat smoke: run the reference's EXACT pyarrow client calls
# (/root/reference/client/main.py:9-13) against the graft Flight server.
# This is the strongest interop proof available in-container: a stock,
# unmodified pyarrow.flight client over real gRPC/TCP.
#
# ADBC note (round-8 check): `adbc_driver_flightsql` is NOT installed in
# this container and cannot be fetched (zero egress), so a true
# ADBC-driver end-to-end run is not possible here. The RPC surface an
# ADBC client would exercise is instead driven by hand below over stock
# pyarrow.flight: GetFlightInfo/DoGet, Flight SQL prepared statements
# with DoPut parameter binding, SqlInfo, and the catalog/constraint/
# type-info metadata commands — the same protobuf commands
# adbc_driver_flightsql issues on connect and query.
#
# Usage:
#   1. SPARK_GRAFT_FLIGHT_PORT=32010 sbt "runMain graft.Serve" &
#   2. python3 tools/flight_smoke.py [port]
import sys

from pyarrow import flight

port = sys.argv[1] if len(sys.argv) > 1 else "32010"
client = flight.FlightClient(location=f"grpc://localhost:{port}",
                             disable_server_verification=True)

# client/main.py:11 — ticket IS the SQL text
table = client.do_get(flight.Ticket("SELECT 1 AS a".encode("utf-8"))).read_all()
print(table)
assert table.column("a").to_pylist() == [1], table

# the go smoke client's catalog query (client/main.go:27)
table = client.do_get(flight.Ticket(
    b"SELECT extension_name FROM duckdb_extensions() WHERE installed")).read_all()
print(table)
assert "parquet" in table.column("extension_name").to_pylist(), table

# a table function in JOIN position (DuckDB 1.0 answers 3)
table = client.do_get(flight.Ticket(
    b"SELECT count(*) AS c FROM nation n "
    b"JOIN pragma_table_info('nation') t ON t.cid = n.n_nationkey")).read_all()
assert table.column("c").to_pylist() == [3], table

# a typed fixture query: dates, decimals, strings
table = client.do_get(flight.Ticket(
    b"SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority "
    b"FROM orders ORDER BY o_orderkey LIMIT 5")).read_all()
print(table)
assert table.num_rows == 5

# GetFlightInfo: schema without execution, then DoGet the endpoint ticket
# (the ADBC two-step, minus the driver package)
desc = flight.FlightDescriptor.for_command(
    b"SELECT r_name FROM region ORDER BY r_regionkey")
info = client.get_flight_info(desc)
print("GetFlightInfo schema:", info.schema)
table = client.do_get(info.endpoints[0].ticket).read_all()
assert table.column("r_name").to_pylist()[0] == "AFRICA", table

# Flight SQL prepared statement with a $1 parameter, end to end:
# DoAction(CreatePreparedStatement) -> DoPut(bind param batch) ->
# GetFlightInfo -> DoGet. The FlightSql protobuf envelopes are
# hand-encoded (pyarrow ships no flight-sql layer); the Arrow IPC side
# is stock pyarrow.
import pyarrow as pa


def varint(n):
    out = b""
    while True:
        b7 = n & 0x7F
        n >>= 7
        out += bytes([b7 | (0x80 if n else 0)])
        if not n:
            return out


def pb_ld(field, payload):  # length-delimited field
    if isinstance(payload, str):
        payload = payload.encode()
    return varint(field << 3 | 2) + varint(len(payload)) + payload


def pb_fields(data):  # minimal decoder: field -> last length-delimited value
    out, i = {}, 0
    while i < len(data):
        tag, shift = 0, 0
        while True:
            tag |= (data[i] & 0x7F) << shift
            shift += 7
            i += 1
            if not data[i - 1] & 0x80:
                break
        wire = tag & 7
        if wire == 2:
            ln, shift = 0, 0
            while True:
                ln |= (data[i] & 0x7F) << shift
                shift += 7
                i += 1
                if not data[i - 1] & 0x80:
                    break
            out[tag >> 3] = data[i:i + ln]
            i += ln
        elif wire == 0:
            while data[i] & 0x80:
                i += 1
            i += 1
        else:
            raise ValueError(f"unexpected wire type {wire}")
    return out


SQL_NS = "type.googleapis.com/arrow.flight.protocol.sql."


def run_prepared(sql, value):
    """Prepare `sql`, bind its one parameter to `value` over DoPut, run it."""
    create_req = pb_ld(1, SQL_NS + "ActionCreatePreparedStatementRequest") + \
        pb_ld(2, pb_ld(1, sql))
    results = list(client.do_action(flight.Action("CreatePreparedStatement", create_req)))
    assert results, "CreatePreparedStatement returned no result"
    # pyarrow unwraps the Result envelope: .body IS the Any message
    any_fields = pb_fields(results[0].body.to_pybytes())
    assert any_fields[1].decode().endswith("ActionCreatePreparedStatementResult"), any_fields
    handle = pb_fields(any_fields[2])[1]
    assert handle, "no prepared statement handle"
    print("prepared handle:", handle)

    cmd_any = pb_ld(1, SQL_NS + "CommandPreparedStatementQuery") + \
        pb_ld(2, pb_ld(1, handle))
    desc = flight.FlightDescriptor.for_command(cmd_any)
    params = pa.record_batch([pa.array([value], type=pa.int64())], names=["p1"])
    writer, reader = client.do_put(desc, params.schema)
    writer.write_batch(params)
    writer.done_writing()
    writer.close()

    info = client.get_flight_info(desc)
    table = client.do_get(info.endpoints[0].ticket).read_all()
    print(table)
    return handle, desc, table


handle, desc, table = run_prepared(
    "SELECT r_name FROM region WHERE r_regionkey = $1", 2)
assert table.column("r_name").to_pylist() == ["ASIA"], table

# a `?` inside a -- comment is not a placeholder (DuckDB 1.0 answers 7)
_, _, table = run_prepared("SELECT ? AS a -- why?", 7)
assert table.column("a").to_pylist() == [7], table

close_req = pb_ld(1, SQL_NS + "ActionClosePreparedStatementRequest") + \
    pb_ld(2, pb_ld(1, handle))
list(client.do_action(flight.Action("ClosePreparedStatement", close_req)))
try:
    client.get_flight_info(desc)
    raise SystemExit("FAIL: closed prepared statement still resolves")
except (flight.FlightError, pa.ArrowInvalid):
    print("closed handle rejected")

# Flight SQL catalog metadata commands (the ADBC GetObjects path):
# GetTableTypes, GetDbSchemas, GetTables with a LIKE filter
def meta_cmd(name, body=b""):
    return pb_ld(1, SQL_NS + name) + (pb_ld(2, body) if body else b"")


info = client.get_flight_info(
    flight.FlightDescriptor.for_command(meta_cmd("CommandGetTableTypes")))
table = client.do_get(info.endpoints[0].ticket).read_all()
print(table)
assert table.num_rows >= 1 and "table_type" in table.column_names

info = client.get_flight_info(
    flight.FlightDescriptor.for_command(meta_cmd("CommandGetDbSchemas")))
table = client.do_get(info.endpoints[0].ticket).read_all()
assert table.column_names == ["catalog_name", "db_schema_name"], table

tables_cmd = meta_cmd("CommandGetTables", pb_ld(3, "ord%"))
info = client.get_flight_info(flight.FlightDescriptor.for_command(tables_cmd))
table = client.do_get(info.endpoints[0].ticket).read_all()
print(table)
assert table.column("table_name").to_pylist() == ["orders"], table

# an unfiltered GetTables lists only the user's relations: no engine
# helper relations, no per-file views (DuckDB 1.0 lists none)
info = client.get_flight_info(
    flight.FlightDescriptor.for_command(meta_cmd("CommandGetTables")))
table = client.do_get(info.endpoints[0].ticket).read_all()
names = table.column("table_name").to_pylist()
assert "orders" in names, table
assert not [n for n in names if n.startswith(("checkpoint", "pragma_", "graft_", "gf_"))], names

# the constraint/type-info commands a stock ADBC GetObjects(depth=all)
# issues: spec'd schemas, zero rows, no gRPC error
pk_cmd = meta_cmd("CommandGetPrimaryKeys", pb_ld(3, "orders"))
info = client.get_flight_info(flight.FlightDescriptor.for_command(pk_cmd))
table = client.do_get(info.endpoints[0].ticket).read_all()
assert table.num_rows == 0, table
assert table.column_names[:4] == [
    "catalog_name", "db_schema_name", "table_name", "column_name"], table

for name in ("CommandGetImportedKeys", "CommandGetExportedKeys"):
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(meta_cmd(name, pb_ld(3, "orders"))))
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 0, table
    assert "pk_table_name" in table.column_names, table
    assert "fk_table_name" in table.column_names, table

info = client.get_flight_info(
    flight.FlightDescriptor.for_command(meta_cmd("CommandGetXdbcTypeInfo")))
table = client.do_get(info.endpoints[0].ticket).read_all()
assert table.num_rows == 0, table
assert table.column_names[0] == "type_name" and "data_type" in table.column_names

# a backslash-quote pattern must stay INSIDE the literal (no SQL
# injection through the metadata filter): zero rows, not an error and
# not the full catalog
inj = meta_cmd("CommandGetTables", pb_ld(3, "\\' UNION SELECT 1, 2, 3, 4 --"))
info = client.get_flight_info(flight.FlightDescriptor.for_command(inj))
table = client.do_get(info.endpoints[0].ticket).read_all()
assert table.num_rows == 0, table

# read-only enforcement over the wire
try:
    client.do_get(flight.Ticket(b"CREATE TABLE hack AS SELECT 1")).read_all()
    raise SystemExit("FAIL: write statement was accepted")
except flight.FlightError as e:
    assert "read-only" in str(e), e
    print("write rejected:", type(e).__name__)

# round-8: native TIME survives the Arrow wire as a time type with the
# exact value (the serving session enables spark.sql.timeType.enabled;
# a silent fallback to string/int64 here would break typed clients)
import datetime
import pyarrow as pa
table = client.do_get(flight.Ticket(
    b"SELECT TIME '12:34:56.789' AS t, CAST(ts AS TIME) AS tt "
    b"FROM events ORDER BY event_id LIMIT 3")).read_all()
assert pa.types.is_time(table.schema.field("t").type), table.schema
assert pa.types.is_time(table.schema.field("tt").type), table.schema
assert table.column("t").to_pylist()[0] == datetime.time(12, 34, 56, 789000), table
print("TIME over Arrow:", table.schema.field("tt").type)

print("FLIGHT SMOKE OK")
