"""Flight SQL client calls the benchmark sends, over stock pyarrow.flight.

pyarrow has no Flight SQL layer, so the protobuf envelopes (google.protobuf.Any
wrapping a Flight SQL command) are hand-encoded here. Three call shapes, the
ones the reference's clients use:

  * plain:    DoGet(Ticket(sql))                           (pyarrow client)
  * twostep:  GetFlightInfo(CommandStatementQuery) -> DoGet (ADBC)
  * prepared: CreatePreparedStatement -> DoPut(bind) -> GetFlightInfo -> DoGet
              -> ClosePreparedStatement                    (Go flightsql client)

Every call returns a Result carrying the table and the client-side timings.
The prepared shape's call also covers closing the statement, as the Go client's
statement lifecycle does.
"""
import time

import pyarrow as pa
from pyarrow import flight

SQL_NS = "type.googleapis.com/arrow.flight.protocol.sql."


def varint(n):
    out = bytearray()
    while True:
        b7 = n & 0x7F
        n >>= 7
        out.append(b7 | (0x80 if n else 0))
        if not n:
            return bytes(out)


def pb_ld(field, payload):
    """One length-delimited protobuf field."""
    if isinstance(payload, str):
        payload = payload.encode()
    return varint(field << 3 | 2) + varint(len(payload)) + payload


def pb_fields(data):
    """Minimal decoder: field number -> last length-delimited value."""
    out, i = {}, 0

    def read_varint(i):
        v, shift = 0, 0
        while True:
            v |= (data[i] & 0x7F) << shift
            shift += 7
            i += 1
            if not data[i - 1] & 0x80:
                return v, i

    while i < len(data):
        tag, i = read_varint(i)
        wire = tag & 7
        if wire == 2:
            ln, i = read_varint(i)
            out[tag >> 3] = data[i:i + ln]
            i += ln
        elif wire == 0:
            _, i = read_varint(i)
        else:
            raise ValueError(f"unexpected wire type {wire}")
    return out


def any_msg(type_name, body):
    return pb_ld(1, SQL_NS + type_name) + pb_ld(2, body)


def statement_query(sql):
    """Any(CommandStatementQuery{query = sql})."""
    return any_msg("CommandStatementQuery", pb_ld(1, sql))


def create_prepared(sql):
    """Any(ActionCreatePreparedStatementRequest{query = sql})."""
    return any_msg("ActionCreatePreparedStatementRequest", pb_ld(1, sql))


def prepared_query(handle):
    """Any(CommandPreparedStatementQuery{prepared_statement_handle})."""
    return any_msg("CommandPreparedStatementQuery", pb_ld(1, handle))


def close_prepared(handle):
    return any_msg("ActionClosePreparedStatementRequest", pb_ld(1, handle))


class Result:
    """The result table, seconds to the first batch, Arrow bytes received."""
    __slots__ = ("table", "ttfb_s", "bytes")

    def __init__(self, table, ttfb_s, nbytes):
        self.table, self.ttfb_s, self.bytes = table, ttfb_s, nbytes


def _drain(client, ticket, t0, options):
    """DoGet and read every batch; time to first batch is from t0."""
    reader = client.do_get(ticket, options=options)
    batches, ttfb, nbytes = [], None, 0
    for chunk in reader:
        b = chunk.data
        if ttfb is None:
            ttfb = time.perf_counter() - t0
        nbytes += b.nbytes
        batches.append(b)
    if ttfb is None:
        ttfb = time.perf_counter() - t0
    table = pa.Table.from_batches(batches, schema=reader.schema)
    return Result(table, ttfb, nbytes)


def plain(client, sql, options=None):
    t0 = time.perf_counter()
    return _drain(client, flight.Ticket(sql.encode()), t0, options)


def twostep(client, sql, options=None):
    t0 = time.perf_counter()
    desc = flight.FlightDescriptor.for_command(statement_query(sql))
    info = client.get_flight_info(desc, options=options)
    return _drain(client, info.endpoints[0].ticket, t0, options)


def prepared(client, sql, params, options=None):
    """`params` is a list of Python values bound positionally ($1, $2, ...)."""
    t0 = time.perf_counter()
    res = list(client.do_action(
        flight.Action("CreatePreparedStatement", create_prepared(sql)), options=options))
    any_fields = pb_fields(res[0].body.to_pybytes())
    if not any_fields[1].decode().endswith("ActionCreatePreparedStatementResult"):
        raise ValueError(f"unexpected CreatePreparedStatement result {any_fields[1]!r}")
    handle = pb_fields(any_fields[2])[1]
    desc = flight.FlightDescriptor.for_command(prepared_query(handle))
    try:
        batch = pa.record_batch([pa.array([p]) for p in params],
                                names=[f"p{i + 1}" for i in range(len(params))])
        writer, _ = client.do_put(desc, batch.schema, options=options)
        writer.write_batch(batch)
        writer.done_writing()
        writer.close()
        info = client.get_flight_info(desc, options=options)
        return _drain(client, info.endpoints[0].ticket, t0, options)
    finally:
        list(client.do_action(flight.Action(
            "ClosePreparedStatement", close_prepared(handle)), options=options))


def call(client, shape, sql, params=(), options=None):
    if shape == "plain":
        return plain(client, sql, options)
    if shape == "twostep":
        return twostep(client, sql, options)
    if shape == "prepared":
        return prepared(client, sql, list(params), options)
    raise ValueError(f"unknown call shape {shape}")
