"""Python TCLIService front — HiveServer2's wire protocol routed
through Engine.sql, the engine's one JDBC/beeline door.

HiveServer2 compiles every JDBC statement through the same Driver as
the CLI (service/src/java/org/apache/hive/service/cli/operation/
SQLOperation.java:71 -> Driver.compile -> checkPrivileges). This
module does the same the Python-engine way: a from-scratch
TCLIService server (Apache Hive's public TCLIService.thrift IDL over
the standard Thrift binary protocol — no thrift library in the
environment, so the codec is ~150 lines below) whose ExecuteStatement
runs ``Engine.sql``. Beeline / any Hive JDBC client connects with the DEFAULT
URL ``jdbc:hive2://host:port`` (the transport is sniffed: SASL PLAIN
— TSaslTransport negotiation + 4-byte length frames, the asserted
authcid becoming the session principal, HS2's authentication=NONE
posture — or raw binary via ``;auth=noSasl``) and gets the WHOLE
engine dialect: macros, MOR UPDATE/DELETE/MERGE, COMPACT,
GRANT/REVOKE — and the enforcement gate, because Engine.sql IS the
gate.

Session model (HS2's one-conf-per-session): each OpenSession gets
statement.py's per-connection session — its own ``spark.newSession()``
+ Engine, with private temp views, SQLConf and macro registry over the
shared catalog and executors. The OpenSession username becomes the
session's ``user.name`` (HS2's trusted-auth posture: NOSASL/PLAIN
usernames are client-asserted, like the reference without Kerberos),
and the parent session's ``spark.sql.authz.enabled`` is inherited so
an enforcing deployment stays enforcing per connection.

Protocol subset (everything beeline's -e path uses): OpenSession,
ExecuteStatement (runAsync=false runs inline, so the handle is born
FINISHED; runAsync=true — beeline's default — runs on a worker thread
while clients poll GetOperationStatus), GetOperationStatus,
GetResultSetMetadata, FetchResults (FETCH_NEXT paging through
statement.py's cursor; fetchType=1 serves the operation log
incrementally), CancelOperation (aborts the operation's job group,
an in-flight fetch included), CloseOperation, CloseSession, GetInfo —
plus the JDBC METADATA operations (DatabaseMetaData / beeline
``!tables``, ``!columns``; the reference's Get*Operation.java family):
GetCatalogs, GetSchemas, GetTables, GetColumns, GetFunctions,
GetTypeInfo, each serving the fixed JDBC result-set shape over the
live session catalog with %/_ search patterns. The column-based
TRowSet (protocol >= V6) carries bool/tinyint/smallint/int/bigint/
float/double natively and renders everything else —
decimal, date, timestamp, arrays, maps, structs — as strings with
the accurate TTypeId in metadata, exactly HS2's own serialization
rule for those types.

Not served: HTTP transport mode (hive.server2.transport.mode=http)
and the delegation-token RPCs (GetDelegationToken, CancelDelegation-
Token, RenewDelegationToken answer an "unsupported TCLIService call"
error status); only the binary transport is spoken.

Trust posture: loopback dev server; SASL PLAIN accepts any
credential (identity client-asserted) and raw NOSASL is also served.
Not Kerberos, not TLS — the reference's unsecured HS2 mode.
"""

from __future__ import annotations

import hmac
import io
import json
import re
import socket
import socketserver
import struct
import threading
import time
import uuid
from typing import Any, Optional

from pyspark.sql import SparkSession

from amplab_hive_spark import statement

# -- Thrift binary protocol (public Apache Thrift spec) ------------------

T_STOP, T_BOOL, T_BYTE, T_DOUBLE = 0, 2, 3, 4
T_I16, T_I32, T_I64, T_STRING = 6, 8, 10, 11
T_STRUCT, T_MAP, T_SET, T_LIST = 12, 13, 14, 15

MSG_CALL, MSG_REPLY, MSG_EXCEPTION = 1, 2, 3
_VERSION_1 = 0x80010000

# TSaslTransport negotiation status bytes (public Apache Thrift spec)
SASL_START, SASL_OK, SASL_BAD, SASL_ERROR, SASL_COMPLETE = 1, 2, 3, 4, 5


def _sasl_negotiate(sock: socket.socket, reader: _Reader) -> str:
    """Server side of TSaslTransport's PLAIN handshake: the client
    sends START(mechanism) then OK(initial response); PLAIN's initial
    response is ``authzid NUL authcid NUL password`` (RFC 4616). On
    success both sides switch to 4-byte-length data frames and the
    asserted authcid becomes the session principal (HS2's
    hive.server2.authentication=NONE posture: a PasswdAuthentication-
    Provider that accepts any credential — auth happens, identity is
    client-asserted). Returns the username."""

    def read_msg() -> tuple[int, bytes]:
        head = reader._recv_raw(5)
        status, ln = head[0], struct.unpack("!i", head[1:5])[0]
        if ln < 0 or ln > (1 << 20):
            raise ConnectionError(f"bad SASL negotiation length {ln}")
        return status, reader._recv_raw(ln)

    def send_msg(status: int, payload: bytes = b"") -> None:
        sock.sendall(bytes([status]) + struct.pack("!i", len(payload)) + payload)

    status, mech = read_msg()
    if status != SASL_START:
        raise ConnectionError(f"expected SASL START, got status {status}")
    if mech.decode("utf-8", "replace") != "PLAIN":
        send_msg(SASL_BAD, b"only PLAIN is supported")
        raise ConnectionError(f"unsupported SASL mechanism {mech!r}")
    status, initial = read_msg()
    if status not in (SASL_OK, SASL_COMPLETE):
        raise ConnectionError(f"expected SASL response, got status {status}")
    parts = initial.split(b"\x00")
    user = parts[1].decode("utf-8", "replace") if len(parts) >= 2 else ""
    send_msg(SASL_COMPLETE)
    reader.framed = True
    return user


def _send_payload(sock: socket.socket, data: bytes, framed: bool) -> None:
    if framed:
        sock.sendall(struct.pack("!i", len(data)) + data)
    else:
        sock.sendall(data)


class _Reader:
    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""
        self.framed = False  # SASL data mode: 4-byte length frames
        self._frame = b""

    def _recv_raw(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _fill(self, n: int) -> bytes:
        if not self.framed:
            return self._recv_raw(n)
        # TSaslTransport data mode: payload arrives in 4-byte
        # big-endian length frames; thrift values may span frames
        while len(self._frame) < n:
            (flen,) = struct.unpack("!i", self._recv_raw(4))
            if flen < 0 or flen > (64 << 20):
                raise ConnectionError(f"bad SASL frame length {flen}")
            self._frame += self._recv_raw(flen)
        out, self._frame = self._frame[:n], self._frame[n:]
        return out

    def peek_byte(self) -> int:
        """First byte of the next message WITHOUT consuming it — the
        transport sniff (0x80 = raw strict thrift, 0x01 = SASL START)."""
        if not self._buf:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            self._buf = chunk
        return self._buf[0]

    def i8(self) -> int:
        return struct.unpack("!b", self._fill(1))[0]

    def i16(self) -> int:
        return struct.unpack("!h", self._fill(2))[0]

    def i32(self) -> int:
        return struct.unpack("!i", self._fill(4))[0]

    def i64(self) -> int:
        return struct.unpack("!q", self._fill(8))[0]

    def double(self) -> float:
        return struct.unpack("!d", self._fill(8))[0]

    def binary(self) -> bytes:
        return self._fill(self.i32())

    def message_begin(self) -> tuple[str, int, int]:
        head = self.i32()
        if head & 0x80000000:  # strict encoding (Hive JDBC uses it)
            mtype = head & 0xFF
            name = self.binary().decode("utf-8")
            seqid = self.i32()
        else:  # old encoding: i32 name-len already read
            name = self._fill(head).decode("utf-8")
            mtype = self.i8()
            seqid = self.i32()
        return name, mtype, seqid

    def value(self, ttype: int) -> Any:
        if ttype == T_BOOL:
            return self.i8() != 0
        if ttype == T_BYTE:
            return self.i8()
        if ttype == T_DOUBLE:
            return self.double()
        if ttype == T_I16:
            return self.i16()
        if ttype == T_I32:
            return self.i32()
        if ttype == T_I64:
            return self.i64()
        if ttype == T_STRING:
            return self.binary()
        if ttype == T_STRUCT:
            return self.struct()
        if ttype in (T_LIST, T_SET):
            etype = self.i8()
            return [self.value(etype) for _ in range(self.i32())]
        if ttype == T_MAP:
            ktype, vtype = self.i8(), self.i8()
            n = self.i32()
            return {self.value(ktype): self.value(vtype) for _ in range(n)}
        raise ValueError(f"unsupported thrift type {ttype}")

    def struct(self) -> dict[int, Any]:
        out: dict[int, Any] = {}
        while True:
            ftype = self.i8()
            if ftype == T_STOP:
                return out
            fid = self.i16()
            out[fid] = self.value(ftype)


# struct formats of the fixed-width element types (bool packs as one
# 0/1 byte, like i8(1 if v else 0))
_FIXED_FMT = {T_BOOL: "?", T_BYTE: "b", T_I16: "h", T_I32: "i",
              T_I64: "q", T_DOUBLE: "d"}


def _length_prefixed(v: "bytes | str") -> bytes:
    b = v.encode("utf-8") if isinstance(v, str) else v
    return struct.pack("!i", len(b)) + b


class _Writer:
    def __init__(self) -> None:
        self._out = io.BytesIO()

    def bytes(self) -> bytes:
        return self._out.getvalue()

    def raw(self, b: bytes) -> None:
        self._out.write(b)

    def i8(self, v: int) -> None:
        self.raw(struct.pack("!b", v))

    def i16(self, v: int) -> None:
        self.raw(struct.pack("!h", v))

    def i32(self, v: int) -> None:
        self.raw(struct.pack("!i", v))

    def i64(self, v: int) -> None:
        self.raw(struct.pack("!q", v))

    def double(self, v: float) -> None:
        self.raw(struct.pack("!d", v))

    def binary(self, v: "bytes | str") -> None:
        self.raw(_length_prefixed(v))

    def message_begin(self, name: str, mtype: int, seqid: int) -> None:
        self.i32(-(0x100000000 - (_VERSION_1 | mtype)))  # signed i32
        self.binary(name)
        self.i32(seqid)

    def value(self, ttype: int, v: Any) -> None:
        if ttype == T_BOOL:
            self.i8(1 if v else 0)
        elif ttype == T_BYTE:
            self.i8(v)
        elif ttype == T_DOUBLE:
            self.double(v)
        elif ttype == T_I16:
            self.i16(v)
        elif ttype == T_I32:
            self.i32(v)
        elif ttype == T_I64:
            self.i64(v)
        elif ttype == T_STRING:
            self.binary(v)
        elif ttype == T_STRUCT:
            self.fields(v)
        elif ttype in (T_LIST, T_SET):
            # a result column is one list: encode it in one pass, not a
            # value() call per cell (same bytes either way)
            etype, items = v
            fmt = _FIXED_FMT.get(etype)
            if fmt is not None:
                self.raw(struct.pack(f"!bi{len(items)}{fmt}", etype,
                                     len(items), *items))
            elif etype == T_STRING:
                self.raw(struct.pack("!bi", etype, len(items)))
                self.raw(b"".join(_length_prefixed(item) for item in items))
            else:
                self.i8(etype)
                self.i32(len(items))
                for item in items:
                    self.value(etype, item)
        elif ttype == T_MAP:
            ktype, vtype, mapping = v
            self.i8(ktype)
            self.i8(vtype)
            self.i32(len(mapping))
            for k, val in mapping.items():
                self.value(ktype, k)
                self.value(vtype, val)
        else:
            raise ValueError(f"unsupported thrift type {ttype}")

    def fields(self, fields: list[tuple[int, int, Any]]) -> None:
        """A struct as [(field_id, ttype, value), ...] + STOP."""
        for fid, ftype, v in fields:
            self.i8(ftype)
            self.i16(fid)
            self.value(ftype, v)
        self.i8(T_STOP)


# -- TCLIService constants (public IDL: service-rpc/if/TCLIService.thrift)

PROTOCOL_V10 = 9  # HIVE_CLI_SERVICE_PROTOCOL_V10 (0-based enum)
PROTOCOL_V6 = 5   # first version with the column-based TRowSet

STATUS_SUCCESS, STATUS_ERROR = 0, 3
OP_INITIALIZED, OP_RUNNING, OP_FINISHED = 0, 1, 2
OP_CANCELED, OP_CLOSED, OP_ERROR = 3, 4, 5
OPTYPE_EXECUTE_STATEMENT = 0

# TTypeId values (TCLIService.thrift TTypeId enum)
_TTYPE_ID = {
    "boolean": 0, "tinyint": 1, "smallint": 2, "int": 3, "bigint": 4,
    "float": 5, "double": 6, "string": 7, "timestamp": 8, "binary": 9,
    "array": 10, "map": 11, "struct": 12, "decimal": 15, "void": 16,
    "null": 16, "date": 17, "varchar": 18, "char": 19,
    "timestamp_ntz": 8, "interval": 7,
}

# TColumn union field ids by wire kind
_COL_FIELD = {"bool": 1, "byte": 2, "i16": 3, "i32": 4, "i64": 5,
              "double": 6, "string": 7}
_COL_TTYPE = {"bool": T_BOOL, "byte": T_BYTE, "i16": T_I16, "i32": T_I32,
              "i64": T_I64, "double": T_DOUBLE, "string": T_STRING}
_WIRE_KIND = {"boolean": "bool", "tinyint": "byte", "smallint": "i16",
              "int": "i32", "bigint": "i64", "float": "double",
              "double": "double"}
_WIRE_DEFAULT = {"bool": False, "byte": 0, "i16": 0, "i32": 0, "i64": 0,
                 "double": 0.0, "string": ""}


def _base_dtype(dtype: str) -> str:
    return dtype.split("(")[0].split("<")[0].strip().lower()


def _status_ok() -> list:
    return [(1, T_I32, STATUS_SUCCESS)]


def _status_error(msg: str, sqlstate: str = "42000") -> list:
    return [
        (1, T_I32, STATUS_ERROR),
        (2, T_LIST, (T_STRING, [msg])),  # infoMessages — beeline prints
        (3, T_STRING, sqlstate),
        (4, T_I32, 1),
        (5, T_STRING, msg),
    ]


def _string_cell(v) -> "bytes | str":
    """HS2's TStringColumn serialization rule (ADVICE r12): BINARY
    cells carry the RAW bytes (not a python repr — the codec's
    string writer accepts bytes unchanged); array/map/struct cells
    render as compact JSON, matching HS2's complex-type output;
    date/timestamp/decimal keep their SQL str() spelling."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple, dict)) or hasattr(v, "asDict"):
        return json.dumps(_jsonable(v), separators=(",", ":"),
                          ensure_ascii=False)
    return str(v)


def _jsonable(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return str(v)  # date/timestamp/decimal nested in a complex cell


def _handle_fields(guid: bytes, secret: bytes) -> list:
    return [(1, T_STRUCT, [(1, T_STRING, guid), (2, T_STRING, secret)])]


def _op_handle_fields(guid: bytes, secret: bytes, has_result: bool) -> list:
    return [
        (1, T_STRUCT, [(1, T_STRING, guid), (2, T_STRING, secret)]),
        (2, T_I32, OPTYPE_EXECUTE_STATEMENT),
        (3, T_BOOL, has_result),
    ]


class _Operation:
    def __init__(self, columns=None, rows=None, secret: bytes = b"",
                 running: bool = False) -> None:
        """A STATIC metadata result (columns + materialized row list —
        the Get* operations, whose row counts are catalog-bounded) or,
        with ``running=True``, a statement still executing (HS2's
        SQLOperation model, service/cli/operation/SQLOperation.java:71):
        the handle is born RUNNING and ``_run_statement`` publishes
        FINISHED (``finish_with``), ERROR or CANCELED. A statement's
        rows page through a cursor opened on its first fetch, under
        the operation's job group (statement.py)."""
        self.secret = secret  # validated on every operation RPC
        self.df = None
        self.group = statement.new_group("tcli-op")
        self.columns: list[tuple[str, str]] = columns or [("result", "string")]
        self.cursor: Optional[statement.Cursor] = (
            None if running else statement.Cursor(rows or []))
        self.state = OP_RUNNING if running else OP_FINISHED
        self.error: Optional[str] = None
        self.lock = threading.Lock()
        # set lock-free BEFORE the group cancel fires (review r13 pass
        # 5): the cancel makes the statement's own Spark job raise, and
        # without this flag that cancellation exception would publish
        # as ERROR — the user who asked for the cancel would be told
        # the statement failed
        self.cancel_requested = False
        # operation log (HS2's OperationLog, served by FetchResults
        # fetch_type=1): appended lock-free (list.append is atomic),
        # read incrementally under the lock via log_read
        self.log_lines: list[str] = []
        self.log_read = 0

    def finish_with(self, df) -> None:
        """Statement completion — caller holds self.lock."""
        self.df = df
        self.columns = [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ] or [("result", "string")]
        self.state = OP_FINISHED

    def log_line(self, msg: str) -> None:
        self.log_lines.append(
            time.strftime("%Y-%m-%d %H:%M:%S") + " " + msg)


class _Session:
    def __init__(self, spark: SparkSession, username: str,
                 configuration: "dict[str, str] | None" = None,
                 sf_dir: "str | None" = None,
                 server_confs: "dict[str, str] | None" = None) -> None:
        self.secret: bytes = uuid.uuid4().bytes  # overwritten at register
        # the OpenSession username is the session principal (HS2's
        # trusted-auth identity, client-asserted under NOSASL/PLAIN);
        # TOpenSessionReq.configuration carries the JDBC URL's database
        # as 'use:database' (review r12 — dropping it ran every
        # statement in 'default'); other keys (set:hiveconf:*) are
        # ignored like HS2 ignores unknown ones
        self.engine = statement.open_session(
            spark, sf_dir=sf_dir, server_confs=server_confs, user=username,
            database=(configuration or {}).get("use:database"))
        self.operations: dict[bytes, _Operation] = {}


class TCLIFront:
    """The server object: ``start()`` binds and serves on a daemon
    thread, ``stop()`` shuts down. Use as a context manager in tests."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1",
                 port: int = 0, fetch_default: int = 1000,
                 sf_dir: "str | None" = None,
                 server_confs: "dict[str, str] | None" = None):
        self.spark = spark
        self.host = host
        self.requested_port = port
        self.fetch_default = fetch_default
        self.sf_dir = sf_dir  # testdata catalog attached per session
        self.server_confs = dict(server_confs or {})  # per-session conf seeds
        self.sessions: dict[bytes, _Session] = {}
        # observability: statements served through the ASYNC path
        # (runAsync=true — what stock beeline sends), so interop tests
        # can pin that real JDBC traffic exercises the worker lifecycle
        self.async_statements = 0
        self._lock = threading.Lock()
        self._server: Optional[socketserver.ThreadingTCPServer] = None
        self.port: Optional[int] = None

    # -- lifecycle -----------------------------------------------------

    def start(self) -> int:
        front = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                reader = _Reader(self.request)
                # sessions this CONNECTION opened: reaped when the
                # socket drops without CloseSession (review r12 — a
                # flaky client would otherwise leak a spark.newSession
                # per connect for the server's lifetime; HS2 bounds
                # this with its idle-session timeout, a one-socket-one-
                # session reap is the same bound for the -e flow)
                owned: set[bytes] = set()
                sasl_user: Optional[str] = None
                try:
                    # transport sniff: beeline's DEFAULT URL speaks
                    # SASL (first byte = negotiation status START);
                    # ;auth=noSasl sends a raw strict-thrift message
                    # (first byte 0x80). Serve both.
                    try:
                        if reader.peek_byte() == SASL_START:
                            sasl_user = _sasl_negotiate(self.request, reader)
                    except ConnectionError:
                        return
                    while True:
                        try:
                            name, mtype, seqid = reader.message_begin()
                            args = reader.struct()
                        except (ConnectionError, struct.error):
                            return
                        try:
                            resp_fields = front._dispatch(
                                name, args, owned, sasl_user
                            )
                        except Exception as e:  # noqa: BLE001 — wire error
                            resp_fields = [(1, T_STRUCT,
                                            _status_error(f"{type(e).__name__}: {e}"))]
                        w = _Writer()
                        w.message_begin(name, MSG_REPLY, seqid)
                        # service-method result struct: field 0 = success
                        w.fields([(0, T_STRUCT, resp_fields)])
                        try:
                            _send_payload(self.request, w.bytes(),
                                          reader.framed)
                        except OSError:
                            return
                finally:
                    for guid in list(owned):
                        front._drop_session(guid)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((self.host, self.requested_port), Handler)
        self.port = self._server.server_address[1]
        t = threading.Thread(target=self._server.serve_forever, daemon=True)
        t.start()
        return self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self) -> "TCLIFront":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- dispatch ------------------------------------------------------

    def _dispatch(self, name: str, args: dict,
                  owned: "set[bytes] | None" = None,
                  sasl_user: "str | None" = None) -> list:
        method = getattr(self, f"_rpc_{name}", None)
        if method is None:
            return [(1, T_STRUCT,
                     _status_error(f"unsupported TCLIService call {name}"))]
        # every req wraps its fields in arg field 1
        if name == "OpenSession":
            return method(args.get(1, {}), owned, sasl_user)
        resp = method(args.get(1, {}))
        if name == "CloseSession" and owned is not None:
            # un-track only after a SUCCESSFUL close: a refused close
            # (secret mismatch — reachable since r13's handle checks)
            # leaves the session alive, and discarding its guid would
            # orphan it from the socket-drop reaper (review r12 pass 2
            # comment made real by review r13 pass 1)
            status = resp[0][2][0][2] if resp else None
            if status == STATUS_SUCCESS:
                owned.discard(self._guid_of(args.get(1, {}).get(1, {})))
        return resp

    @staticmethod
    def _guid_of(handle_struct: dict) -> bytes:
        # TSessionHandle/TOperationHandle field 1 = THandleIdentifier,
        # whose field 1 = guid
        return handle_struct.get(1, {}).get(1, b"")

    @staticmethod
    def _creds_of(handle_struct: dict) -> tuple[bytes, bytes]:
        # THandleIdentifier field 1 = guid, field 2 = secret; BOTH are
        # validated (VERDICT r12 finding 2 — HS2's HandleIdentifier
        # carries the secret precisely so a handle can't be forged
        # from an observed/guessed guid alone)
        ident = handle_struct.get(1, {})
        return ident.get(1, b""), ident.get(2, b"")

    def _session_of(self, req: dict, field: int = 1) -> _Session:
        guid, secret = self._creds_of(req.get(field, {}))
        sess = self.sessions.get(guid)
        if sess is None or not hmac.compare_digest(sess.secret, secret):
            # one error for unknown guid and bad secret alike: a
            # probe must not learn which half it got right
            raise KeyError("invalid session handle")
        return sess

    def _operation_of(self, req: dict) -> tuple[_Session, _Operation, bytes]:
        guid, secret = self._creds_of(req.get(1, {}))
        for sess in list(self.sessions.values()):
            op = sess.operations.get(guid)
            if op is not None:
                if not hmac.compare_digest(op.secret, secret):
                    raise KeyError("invalid operation handle")
                return sess, op, guid
        raise KeyError("invalid operation handle")

    # -- RPCs ------------------------------------------------------------

    def _rpc_OpenSession(self, req: dict,
                         owned: "set[bytes] | None" = None,
                         sasl_user: "str | None" = None) -> list:  # noqa: N802
        username = (req.get(2) or b"").decode("utf-8", "replace") \
            if isinstance(req.get(2), bytes) else (req.get(2) or "")
        if sasl_user:
            # the transport-authenticated identity outranks the
            # request-body field (HS2: SessionManager takes the
            # SASL/HTTP principal, TOpenSessionReq.username is
            # advisory)
            username = sasl_user
        client_proto = req.get(1, PROTOCOL_V10)
        proto = min(int(client_proto), PROTOCOL_V10)
        if proto < PROTOCOL_V6:
            # ADVICE r12: FetchResults only emits the column-based
            # TRowSet (valid from V6) — acknowledging an older
            # protocol would complete the handshake and then hand the
            # client rowsets it cannot decode. Refuse up front.
            # serverProtocolVersion is a REQUIRED response field:
            # generated Thrift clients validate() it even on an error
            # status, so the refusal must still carry it — and carry
            # the NEGOTIATED value (= the old client's own version):
            # an enum the client's TProtocolVersion cannot map (review
            # r13 pass 2: V10 here decodes to null on the very clients
            # this path serves, re-raising the validate() error the
            # field was added to avoid)
            return [
                (1, T_STRUCT, _status_error(
                    f"protocol version {int(client_proto)} not "
                    f"supported: this server serves column-based "
                    f"rowsets (HIVE_CLI_SERVICE_PROTOCOL_V6+)")),
                (2, T_I32, proto),
            ]
        conf = {
            (k.decode("utf-8", "replace") if isinstance(k, bytes) else k):
            (v.decode("utf-8", "replace") if isinstance(v, bytes) else v)
            for k, v in (req.get(4) or {}).items()
        }
        guid, secret = uuid.uuid4().bytes, uuid.uuid4().bytes
        sess = _Session(self.spark, username, conf, sf_dir=self.sf_dir,
                        server_confs=self.server_confs)
        sess.secret = secret
        with self._lock:
            self.sessions[guid] = sess
        if owned is not None:
            owned.add(guid)
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_I32, proto),
            (3, T_STRUCT, _handle_fields(guid, secret)),
            (4, T_MAP, (T_STRING, T_STRING, {})),
        ]

    def _rpc_CloseSession(self, req: dict) -> list:  # noqa: N802
        try:
            self._session_of(req)  # secret-checked like every RPC
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        self._drop_session(self._guid_of(req.get(1, {})))
        return [(1, T_STRUCT, _status_ok())]

    def _drop_session(self, guid: bytes) -> None:
        """Remove a session, canceling its RUNNING async operations
        first — HS2 closes a session's operations on session close;
        without this, CloseSession (and the socket-drop reaper) left
        orphaned worker threads driving Spark jobs nobody can ever
        fetch (review r13 pass 6)."""
        with self._lock:
            sess = self.sessions.pop(guid, None)
        if sess is None:
            return
        for op in list(sess.operations.values()):
            if op.state == OP_RUNNING:
                self._cancel_op(sess, op)

    def _rpc_ExecuteStatement(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        stmt = req.get(2, b"")
        stmt = stmt.decode("utf-8") if isinstance(stmt, bytes) else stmt
        guid, secret = uuid.uuid4().bytes, uuid.uuid4().bytes
        op = _Operation(secret=secret, running=True)
        op.log_line(f"Executing statement on session of "
                    f"{sess.engine.spark.conf.get('user.name', 'anonymous')}"
                    f"; Statement: {stmt.strip()[:200]!r}")
        with self._lock:
            sess.operations[guid] = op
        if req.get(4, False):
            # async path (TExecuteStatementReq.runAsync — what beeline
            # sends by default): the handle is born RUNNING, the
            # statement runs on a daemon worker like HS2's SQLOperation
            # background pool, and clients poll GetOperationStatus to a
            # terminal state, streaming the log via fetch_type=1
            with self._lock:
                self.async_statements += 1
            threading.Thread(target=self._run_statement,
                             args=(sess, op, stmt), daemon=True,
                             name=f"tcli-async-{guid.hex()[:8]}").start()
        else:
            # sync path (runAsync=false / absent): the statement runs
            # inline, so the handle is born FINISHED — the posture
            # pinned by test_operations_born_finished_sync_contract
            self._run_statement(sess, op, stmt)
            if op.state == OP_ERROR:
                with self._lock:
                    sess.operations.pop(guid, None)
                return [(1, T_STRUCT, _status_error(op.error))]
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_STRUCT, _op_handle_fields(guid, secret, True)),
        ]

    @staticmethod
    def _run_statement(sess: _Session, op: _Operation, stmt: str) -> None:
        """Run ``stmt`` under the operation's job group (so
        CancelOperation can abort its Spark jobs) and publish the
        outcome. A cancel that landed before execution began is
        honored before side effects begin (review r13 pass 6); one
        landing during analyze/execute of an eager DML stays
        best-effort, like HS2's compile-phase window."""
        df = error = None
        if not op.cancel_requested:
            try:
                with statement.tagged(sess.engine.spark, op.group,
                                      stmt.strip()):
                    df = sess.engine.sql(stmt)
            except Exception as e:  # noqa: BLE001 — surfaced via status
                error = f"{type(e).__name__}: {e}"
        with op.lock:
            if op.cancel_requested:
                # our own group cancel made the job raise: that is a
                # successful cancel, not a failure
                op.state = OP_CANCELED
            elif error:
                op.error, op.state = error, OP_ERROR
            else:
                op.finish_with(df)
            outcome = op.state
        # a clean user cancel must not read ERROR in the
        # client-streamed log (review r13 pass 6)
        op.log_line({OP_FINISHED: "Statement FINISHED",
                     OP_CANCELED: "Statement CANCELED"}.get(
                         outcome, f"Statement ERROR: {error}"))

    def _rpc_GetOperationStatus(self, req: dict) -> list:  # noqa: N802
        try:
            _, op, _ = self._operation_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        out = [(1, T_STRUCT, _status_ok()), (2, T_I32, op.state)]
        if op.error:
            out += [(3, T_STRING, "42000"), (4, T_I32, 1),
                    (5, T_STRING, op.error)]
        return out

    def _rpc_CancelOperation(self, req: dict) -> list:  # noqa: N802
        try:
            sess, op, _ = self._operation_of(req)
        except KeyError:
            return [(1, T_STRUCT, _status_ok())]
        self._cancel_op(sess, op)
        return [(1, T_STRUCT, _status_ok())]

    def _cancel_op(self, sess: _Session, op: _Operation) -> None:
        """Flip to CANCELED and abort the op's Spark job group.
        The JOB-GROUP cancel fires first and LOCK-FREE (review r13
        pass 3): a row fetch holds op.lock for the duration of its
        Spark jobs, and a cancel queued behind it would abort nothing
        until the whole batch finished — aborting the group is what
        unblocks that fetch. The STATE flip then happens under
        op.lock (review r13 pass 4: a lock-free check-then-set raced
        the worker's failure publish and could still overwrite ERROR
        with CANCELED, masking the failure as a clean empty result).
        ERROR is never overwritten; FINISHED flips so further fetches
        stop (the pinned post-finish behavior)."""
        # the flag first (lock-free): the group cancel below will make
        # an in-flight statement job raise, and _run_statement reads
        # this flag to classify that as CANCELED rather than ERROR
        op.cancel_requested = True
        # a statement's jobs — its execution and every page of its
        # cursor — run in op.group; static metadata ops run none, so
        # skip the py4j round trip for them (every Get* close lands here)
        if op.df is not None or op.state == OP_RUNNING:
            statement.cancel(sess.engine.spark, op.group)
        with op.lock:
            was_running = op.state == OP_RUNNING
            if op.state != OP_ERROR:
                op.state = OP_CANCELED
        if was_running:
            op.log_line("Cancel requested")

    def _rpc_CloseOperation(self, req: dict) -> list:  # noqa: N802
        try:
            sess, op, guid = self._operation_of(req)
            # cancel unconditionally before popping: a RUNNING async
            # op must stop (HS2's close cancels the background run —
            # review r13 pass 3), and a FINISHED lazy op may have an
            # in-flight FETCH whose Spark jobs run under the op's
            # group — closing discards the result, so those jobs must
            # not burn on (review r13 pass 4). On terminal ops the
            # group cancel is a no-op and the state flip is moot (the
            # handle is gone).
            self._cancel_op(sess, op)
            with self._lock:
                sess.operations.pop(guid, None)
        except KeyError:
            pass
        return [(1, T_STRUCT, _status_ok())]

    def _rpc_GetResultSetMetadata(self, req: dict) -> list:  # noqa: N802
        try:
            _, op, _ = self._operation_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        with op.lock:
            if op.state == OP_RUNNING:
                # an async statement's schema is unknown until the
                # worker finishes — the placeholder columns must not
                # masquerade as a result-set shape
                return [(1, T_STRUCT, _status_error(
                    "operation is still running"))]
            if op.state == OP_ERROR:
                # same masquerade for a FAILED async statement: serve
                # the failure, not the placeholder (review r13 pass 3)
                return [(1, T_STRUCT, _status_error(
                    op.error or "operation failed"))]
            if op.state == OP_CANCELED and op.df is None and \
                    op.cursor is None:
                # canceled while RUNNING: no schema ever existed
                return [(1, T_STRUCT, _status_error(
                    "operation was canceled"))]
        descs = []
        for pos, (cname, dtype) in enumerate(op.columns, start=1):
            base = _base_dtype(dtype)
            type_id = _TTYPE_ID.get(base, 7)
            prim: list = [(1, T_I32, type_id)]
            if base == "decimal" and "(" in dtype:
                p, s = dtype.split("(")[1].rstrip(")").split(",")
                prim.append((2, T_STRUCT, [(1, T_MAP, (T_STRING, T_STRUCT, {
                    "precision": [(1, T_I32, int(p))],
                    "scale": [(1, T_I32, int(s))],
                }))]))
            descs.append([
                (1, T_STRING, cname),
                (2, T_STRUCT, [(1, T_LIST, (T_STRUCT, [[(1, T_STRUCT, prim)]]))]),
                (3, T_I32, pos),
            ])
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_STRUCT, [(1, T_LIST, (T_STRUCT, descs))]),
        ]

    def _rpc_FetchResults(self, req: dict) -> list:  # noqa: N802
        fetch_type = req.get(4, 0)
        try:
            sess, op, _ = self._operation_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        if fetch_type == 1:
            # operation log (HS2's OperationLog / getQueryLog):
            # incremental — each fetch returns the lines appended
            # since the last one, like HS2's FetchOrientation FETCH_NEXT
            # over the log file
            with op.lock:
                snapshot = op.log_lines[op.log_read:]
                op.log_read += len(snapshot)
            return [
                (1, T_STRUCT, _status_ok()),
                (2, T_BOOL, False),
                (3, T_STRUCT, self._rowset([("log", "string")],
                                           [(ln,) for ln in snapshot])),
            ]
        n = int(req.get(3, self.fetch_default) or self.fetch_default)
        with op.lock:
            if op.state == OP_RUNNING:
                # an async statement still executing has no rows to
                # serve; well-behaved clients poll GetOperationStatus
                # first (beeline's waitForOperationToComplete)
                return [(1, T_STRUCT, _status_error(
                    "operation is still running"))]
            if op.state == OP_ERROR:
                return [(1, T_STRUCT, _status_error(
                    op.error or "operation failed"))]
            if op.state == OP_CANCELED:
                if op.df is None and op.cursor is None:
                    # canceled while RUNNING: no schema ever existed —
                    # refuse like GetResultSetMetadata does, instead of
                    # inventing a placeholder 'result' column (review
                    # r13 pass 6)
                    return [(1, T_STRUCT, _status_error(
                        "operation was canceled"))]
                batch, has_more = [], False
            else:
                if op.cursor is None:
                    # a statement's cursor opens on its first fetch, in
                    # the op's job group: every later page job runs in
                    # it, so CancelOperation aborts an in-flight fetch
                    # without a per-fetch tag (statement.py)
                    with statement.tagged(sess.engine.spark, op.group,
                                          "tcli fetch"):
                        op.cursor = statement.Cursor(op.df)
                batch, has_more = op.cursor.page(n)
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_BOOL, has_more),
            (3, T_STRUCT, self._rowset(op.columns, batch)),
        ]

    # -- JDBC metadata operations (the reference's service/cli/
    #    operation/Get*Operation.java family; result-set schemas are
    #    the fixed JDBC DatabaseMetaData shapes Hive serves). Listing
    #    is not privilege-filtered, matching Hive's default posture —
    #    SQL-std metadata filtering is a separate metastore hook the
    #    minimal model does not carry (statements stay gated). --------

    @staticmethod
    def _jdbc_pattern(raw) -> "re.Pattern":
        """A JDBC search pattern ('%' any run, '_' any char, '\\' the
        escape char — DatabaseMetaData.getSearchStringEscape, which
        clients use to match literal underscores; None/'' means
        match-all) as a compiled regex."""
        s = raw.decode("utf-8", "replace") if isinstance(raw, bytes) else raw
        if not s:
            s = "%"
        out = []
        escaped = False
        for ch in s:
            if escaped:
                out.append(re.escape(ch))
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == "%":
                out.append(".*")
            elif ch == "_":
                out.append(".")
            else:
                out.append(re.escape(ch))
        if escaped:  # trailing backslash: literal
            out.append(re.escape("\\"))
        return re.compile("^" + "".join(out) + "$", re.IGNORECASE)

    def _static_op(self, sess: _Session, columns, rows) -> list:
        guid, secret = uuid.uuid4().bytes, uuid.uuid4().bytes
        with self._lock:
            sess.operations[guid] = _Operation(columns=columns, rows=rows,
                                               secret=secret)
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_STRUCT, _op_handle_fields(guid, secret, True)),
        ]

    def _rpc_GetCatalogs(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        return self._static_op(
            sess, [("TABLE_CAT", "string")], [("spark_catalog",)]
        )

    def _rpc_GetSchemas(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        pat = self._jdbc_pattern(req.get(3))
        rows = [
            (db.name, "spark_catalog")
            for db in sess.engine.spark.catalog.listDatabases()
            if pat.match(db.name)
        ]
        return self._static_op(
            sess,
            [("TABLE_SCHEM", "string"), ("TABLE_CATALOG", "string")],
            sorted(rows),
        )

    def _matching_tables(self, sess: _Session, req: dict):
        """(db, Table) pairs for the req's schema (3) and table (4)
        patterns — the shared walk of GetTables/GetColumns.
        ``listTables(db)`` returns session TEMP views for EVERY db
        argument (review r12 pass 5: they showed up once per database
        with a foreign TABLE_SCHEM); they are schema-less objects, so
        they are yielded ONCE, under the empty schema, and only when
        the schema pattern admits the empty name."""
        spat = self._jdbc_pattern(req.get(3))
        tpat = self._jdbc_pattern(req.get(4))
        cat = sess.engine.spark.catalog
        temps_done = False
        for db in cat.listDatabases():
            in_schema = bool(spat.match(db.name))
            if not in_schema and temps_done:
                continue
            for t in cat.listTables(db.name):
                if t.isTemporary:
                    if not temps_done and spat.match("") and tpat.match(t.name):
                        yield "", t
                    continue
                if in_schema and tpat.match(t.name):
                    yield db.name, t
            temps_done = True

    def _rpc_GetTables(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        want_types = {
            (v.decode("utf-8", "replace") if isinstance(v, bytes) else v)
            for v in (req.get(5) or [])
        }
        rows = []
        for dbname, t in self._matching_tables(sess, req):
            jdbc_type = "VIEW" if (t.tableType or "").upper() in (
                "VIEW", "TEMPORARY", "TEMP_VIEW",
            ) else "TABLE"
            if want_types and jdbc_type not in want_types:
                continue
            rows.append(("spark_catalog", dbname, t.name, jdbc_type,
                         t.description or ""))
        cols = [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
                ("TABLE_NAME", "string"), ("TABLE_TYPE", "string"),
                ("REMARKS", "string")]
        return self._static_op(sess, cols, sorted(rows))

    # java.sql.Types codes for GetColumns.DATA_TYPE (public JDBC spec)
    _JDBC_TYPE = {
        "boolean": 16, "tinyint": -6, "smallint": 5, "int": 4,
        "bigint": -5, "float": 6, "double": 8, "string": 12,
        "varchar": 12, "char": 1, "decimal": 3, "date": 91,
        "timestamp": 93, "timestamp_ntz": 93, "binary": -2,
        "array": 2003, "struct": 2002, "map": 2000,
    }

    def _rpc_GetColumns(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        cpat = self._jdbc_pattern(req.get(5))
        cat = sess.engine.spark.catalog
        rows = []
        for dbname, t in self._matching_tables(sess, req):
            qual = t.name if t.isTemporary else f"{dbname}.{t.name}"
            try:
                cols = cat.listColumns(qual)
            except Exception:  # noqa: BLE001 — dropped concurrently
                continue
            for pos, c in enumerate(cols, start=1):
                if not cpat.match(c.name):
                    continue
                base = _base_dtype(c.dataType)
                rows.append((
                    "spark_catalog", dbname, t.name, c.name,
                    self._JDBC_TYPE.get(base, 12), c.dataType.upper(),
                    None, None, None, None,
                    1 if c.nullable else 0, c.description or "",
                    None, None, None, None, pos,
                    "YES" if c.nullable else "NO",
                    None, None, None, None, "NO",
                ))
        cols23 = [
            ("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
            ("TABLE_NAME", "string"), ("COLUMN_NAME", "string"),
            ("DATA_TYPE", "int"), ("TYPE_NAME", "string"),
            ("COLUMN_SIZE", "int"), ("BUFFER_LENGTH", "int"),
            ("DECIMAL_DIGITS", "int"), ("NUM_PREC_RADIX", "int"),
            ("NULLABLE", "int"), ("REMARKS", "string"),
            ("COLUMN_DEF", "string"), ("SQL_DATA_TYPE", "int"),
            ("SQL_DATETIME_SUB", "int"), ("CHAR_OCTET_LENGTH", "int"),
            ("ORDINAL_POSITION", "int"), ("IS_NULLABLE", "string"),
            ("SCOPE_CATALOG", "string"), ("SCOPE_SCHEMA", "string"),
            ("SCOPE_TABLE", "string"), ("SOURCE_DATA_TYPE", "smallint"),
            ("IS_AUTO_INCREMENT", "string"),
        ]
        # sort on string/int keys only — the padding fields are None
        rows.sort(key=lambda r: (r[1], r[2], r[16]))
        return self._static_op(sess, cols23, rows)

    def _rpc_GetFunctions(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        fpat = self._jdbc_pattern(req.get(4))
        rows = [
            ("", "", f.name, f.description or "", 1, f.className or "")
            for f in sess.engine.spark.catalog.listFunctions()
            if fpat.match(f.name)
        ]
        cols = [("FUNCTION_CAT", "string"), ("FUNCTION_SCHEM", "string"),
                ("FUNCTION_NAME", "string"), ("REMARKS", "string"),
                ("FUNCTION_TYPE", "int"), ("SPECIFIC_NAME", "string")]
        rows.sort(key=lambda r: r[2])
        return self._static_op(sess, cols, rows)

    def _rpc_GetTableTypes(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        return self._static_op(
            sess, [("TABLE_TYPE", "string")], [("TABLE",), ("VIEW",)]
        )

    def _rpc_GetPrimaryKeys(self, req: dict) -> list:  # noqa: N802
        # the catalog carries no PK metadata (Hive's PK/FK DDL is
        # RELY/NOVALIDATE bookkeeping; Spark's catalog drops it) —
        # an EMPTY result set, the shape JDBC clients expect, not an
        # unsupported-call error that aborts their metadata probe
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        cols = [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
                ("TABLE_NAME", "string"), ("COLUMN_NAME", "string"),
                ("KEY_SEQ", "int"), ("PK_NAME", "string")]
        return self._static_op(sess, cols, [])

    def _rpc_GetCrossReference(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        cols = [("PKTABLE_CAT", "string"), ("PKTABLE_SCHEM", "string"),
                ("PKTABLE_NAME", "string"), ("PKCOLUMN_NAME", "string"),
                ("FKTABLE_CAT", "string"), ("FKTABLE_SCHEM", "string"),
                ("FKTABLE_NAME", "string"), ("FKCOLUMN_NAME", "string"),
                ("KEY_SEQ", "int"), ("UPDATE_RULE", "int"),
                ("DELETE_RULE", "int"), ("FK_NAME", "string"),
                ("PK_NAME", "string"), ("DEFERRABILITY", "int")]
        return self._static_op(sess, cols, [])

    def _rpc_GetTypeInfo(self, req: dict) -> list:  # noqa: N802
        try:
            sess = self._session_of(req)
        except KeyError as e:
            return [(1, T_STRUCT, _status_error(str(e)))]
        cols = [
            ("TYPE_NAME", "string"), ("DATA_TYPE", "int"),
            ("PRECISION", "int"), ("LITERAL_PREFIX", "string"),
            ("LITERAL_SUFFIX", "string"), ("CREATE_PARAMS", "string"),
            ("NULLABLE", "smallint"), ("CASE_SENSITIVE", "boolean"),
            ("SEARCHABLE", "smallint"), ("UNSIGNED_ATTRIBUTE", "boolean"),
            ("FIXED_PREC_SCALE", "boolean"), ("AUTO_INCREMENT", "boolean"),
            ("LOCAL_TYPE_NAME", "string"), ("MINIMUM_SCALE", "smallint"),
            ("MAXIMUM_SCALE", "smallint"), ("SQL_DATA_TYPE", "int"),
            ("SQL_DATETIME_SUB", "int"), ("NUM_PREC_RADIX", "int"),
        ]
        rows = [
            (name.upper(), code, prec, None, None, None, 1, False, 3,
             False, False, False, name.upper(), 0, 0, None, None, radix)
            for name, code, prec, radix in (
                ("boolean", 16, None, None), ("tinyint", -6, 3, 10),
                ("smallint", 5, 5, 10), ("int", 4, 10, 10),
                ("bigint", -5, 19, 10), ("float", 6, 7, 10),
                ("double", 8, 15, 10), ("string", 12, None, None),
                ("decimal", 3, 38, 10), ("date", 91, None, None),
                ("timestamp", 93, None, None), ("binary", -2, None, None),
                ("array", 2003, None, None), ("map", 2000, None, None),
                ("struct", 2002, None, None),
            )
        ]
        return self._static_op(sess, cols, rows)

    def _rpc_GetInfo(self, req: dict) -> list:  # noqa: N802
        info_type = req.get(2, 0)
        # CLI_SERVER_NAME=13, CLI_DBMS_NAME=17, CLI_DBMS_VER=18
        value = {13: "amplab_hive_spark",
                 17: "Apache Hive (amplab_hive_spark engine)",
                 18: "4.1"}.get(info_type, "")
        return [
            (1, T_STRUCT, _status_ok()),
            (2, T_STRUCT, [(1, T_STRING, value)]),
        ]

    # -- TRowSet encoding (columns form, protocol >= V6) ---------------

    @staticmethod
    def _rowset(columns: list[tuple[str, str]], rows: list) -> list:
        cols = []
        for idx, (_, dtype) in enumerate(columns):
            kind = _WIRE_KIND.get(_base_dtype(dtype), "string")
            values, nulls = [], bytearray((len(rows) + 7) // 8 or 1)
            for rno, row in enumerate(rows):
                v = row[idx]
                if v is None:
                    nulls[rno // 8] |= 1 << (rno % 8)
                    values.append(_WIRE_DEFAULT[kind])
                elif kind == "string" and not isinstance(v, str):
                    values.append(_string_cell(v))
                elif kind == "double":
                    values.append(float(v))
                elif kind == "bool":
                    values.append(bool(v))
                elif kind == "string":
                    values.append(v)
                else:
                    values.append(int(v))
            col_struct = [
                (1, T_LIST, (_COL_TTYPE[kind], values)),
                (2, T_STRING, bytes(nulls)),
            ]
            cols.append([(_COL_FIELD[kind], T_STRUCT, col_struct)])
        return [
            (1, T_I64, 0),
            (2, T_LIST, (T_STRUCT, [])),  # row-based form: empty
            (3, T_LIST, (T_STRUCT, cols)),
        ]


def start_tcli_front(spark: SparkSession, host: str = "127.0.0.1",
                     port: int = 0) -> TCLIFront:
    """Start the Engine-routed TCLIService front; returns the running
    ``TCLIFront`` (``.port`` is the bound port). It serves under
    enforcement too: every statement passes Engine.sql's gate with the
    OpenSession username as principal."""
    front = TCLIFront(spark, host=host, port=port)
    front.start()
    return front
