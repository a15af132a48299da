"""Pure-stdlib Python client for the MaxScale CDC protocol.

This module is the Python twin of the reference SWIG binding
(reference: python/cdc_connector.i:1-9, which wraps cdc_connector.h
verbatim), re-implemented against the wire protocol rather than wrapping
C++. The API mirrors ``CDC::Connection`` / ``CDC::Row``
(cdc_connector.h:40-256) so a reference user can switch imports:

    import cdc_connector as cdc

    conn = cdc.Connection("127.0.0.1", 4001, "user", "pass", timeout=10)
    if conn.connect("db.table", gtid=""):
        row = conn.read()
        while row:
            print(row.value("id"), row.gtid())
            row = conn.read()
        if conn.error() and conn.error() != cdc.TIMEOUT:
            print("stream failed:", conn.error())
    conn.close()

For analytics at scale, use the Spark source instead (the same engine's
``spark.readStream.format("maxscale-cdc")`` — see python/README.md);
this facade is the 1:1 imperative contract for migrating consumer loops.

Behavior parity notes (each mirrors graft.sources.cdc.CdcClient, the
Scala twin, and through it the reference C++):

* auth payload is ``hex(user + ":") + hex(sha1(password))``, lowercase
  (cdc_connector.cpp:65-77).
* registration is ``REGISTER UUID=<uuid>, TYPE=JSON``
  (cdc_connector.cpp:405-443); JSON is the only supported stream type
  (the reference hardcodes it, cdc_connector.cpp:408-409).
* ``connect()`` performs a first-row pre-read and fails on a quiet
  stream (cdc_connector.cpp:214-218); ``read()`` replays that row first
  (cdc_connector.cpp:326-331).
* a message is a schema iff its JSON has a non-empty ``fields`` array
  whose first element carries ``name`` (cdc_connector.cpp:237-248);
  mid-stream schemas are adopted silently and the next message is read
  (cdc_connector.cpp:339-344).
* field types prefer ``real_type`` over the Avro ``type``; a
  non-string type degrades to ``varchar(50)``; missing type becomes
  ``undefined``; positive ``length`` is appended as ``(N)``
  (cdc_connector.cpp:250-286).
* scalar values flatten to strings; JSON null becomes ``""``
  (indistinguishable from the empty string, exactly like the
  reference's json_to_string, cdc_connector.cpp:80-115).
* ``ERR`` replies may arrive without a trailing newline
  (cdc_connector.cpp:445-457) — handled on handshake and data paths.
* read timeout returns a falsy row with ``error() == TIMEOUT``
  (cdc_connector.cpp:487-491).
"""

from __future__ import annotations

import hashlib
import json
import socket
import time

__all__ = ["Connection", "Row", "TIMEOUT", "CONNECTOR_UUID",
           "composite_gtid", "vector_gtid", "spark_options"]

#: Reference ``CDC::TIMEOUT`` (cdc_connector.h:32).
TIMEOUT = "Request timed out"

#: Connector identity sent at registration; plays the role of the
#: reference's CDC_CONNECTOR_VERSION UUID (cdc_connector.cpp:37,45).
CONNECTOR_UUID = "GRAFT-CDC-CONNECTOR-1.0.0"


def composite_gtid(starts: dict) -> str:
    """Per-table GTID line for the Spark source's multi-table options
    (``startingGtid``/``endGtid`` in the composite ``db.a=0-1-5,db.b=-``
    form the Scala side parses, graft MultiGtidOffset). ``None`` (or
    ``""``) for a table means "that table's default" — stream start for
    a start position, anchor-at-quiet for an end bound — and renders as
    ``-``. Ordering is insertion order; the parser is order-insensitive.

    >>> composite_gtid({"db.orders": "0-1-5", "db.events": None})
    'db.orders=0-1-5,db.events=-'
    """
    if not starts:
        raise ValueError("composite_gtid needs at least one table")
    parts = []
    for table, gtid in starts.items():
        if not table or "=" in table or "," in table:
            raise ValueError("bad table name %r" % table)
        g = gtid if gtid else "-"
        if g != "-" and len(g.split("-")) != 3:
            raise ValueError(
                "bad GTID %r for %s (want domain-server_id-sequence)"
                % (gtid, table))
        parts.append("%s=%s" % (table, g))
    return ",".join(parts)


def vector_gtid(entries) -> str:
    """Render a per-domain watermark VECTOR (``domainMode=vector``) as
    the source's ``v:d-s-q,...`` form. ``entries`` is an ordered list of
    GTID strings — ORDER IS LOAD-BEARING (log-arrival of each domain's
    watermark event, earliest first; normally you pass back an offset
    the source itself produced, which already carries the right order).
    """
    out = []
    seen = set()
    for g in entries:
        parts = str(g).split("-")
        if len(parts) != 3:
            raise ValueError("bad vector entry %r "
                             "(want domain-server_id-sequence)" % (g,))
        if parts[0] in seen:
            raise ValueError("duplicate domain %s in vector %r"
                             % (parts[0], entries))
        seen.add(parts[0])
        out.append(str(g))
    if not out:
        raise ValueError("empty vector (omit the option for stream start)")
    return "v:" + ",".join(out)


def spark_options(host, user, password, *, port=4001, table=None,
                  tables=None, starting_gtid=None, end_gtid=None,
                  end_gtid_observed=False, schema_mode="uniform",
                  mode="typed", timeout=10, max_events_per_batch=None,
                  replay_partitions=None, domain_mode="single",
                  catchup_span_per_connection=None) -> dict:
    """Option dict for the scale path — ``spark.readStream`` (or
    ``spark.read`` for a bounded pull) with ``format("maxscale-cdc")``:

        spark.readStream.format("maxscale-cdc") \\
             .options(**cdc.spark_options(h, u, pw, tables=[...],
                                          schema_mode="normalized")) \\
             .load()

    Covers the full source surface the facade's imperative loop cannot:
    ``tables=[...]`` subscribes several tables in ONE stream (composite
    per-table GTID offsets); ``schema_mode="normalized"`` fans
    heterogeneous tables into the normalized changelog (six metadata
    columns + ``payload`` JSON + ``_table`` — and DDL is absorbed with
    NO query restart); ``end_gtid`` bounds a batch pull (inclusive;
    composite dict form for multi-table); ``starting_gtid`` takes a
    plain GTID or a per-table dict (rendered via [[composite_gtid]]).
    Validation mirrors the Scala option parser (graft CdcOptions) so
    mistakes fail HERE, not at plan time on the cluster.
    """
    if (table is None) == (tables is None):
        raise ValueError("exactly one of table= / tables= is required")
    if domain_mode not in ("single", "vector"):
        raise ValueError("domain_mode must be 'single' or 'vector', "
                         "got %r" % domain_mode)
    # domain_mode='vector' composes with tables= and with
    # schema_mode='normalized' (CompositeCdcMicroBatchStream with vector
    # delegates) — no extra validation needed here; vector bounds come as
    # lists (or 'v:' strings), per-table via the composite
    # 'db.a=v:...;db.b=v:-' form
    if schema_mode not in ("uniform", "normalized"):
        raise ValueError("schema_mode must be 'uniform' or 'normalized', "
                         "got %r" % schema_mode)
    if mode not in ("typed", "raw"):
        raise ValueError("mode must be 'typed' or 'raw', got %r" % mode)
    opts = {"host": host, "port": str(int(port)), "user": user,
            "password": password, "mode": mode,
            "timeoutSeconds": str(int(timeout))}
    names = [table] if table is not None else list(tables)
    if len(names) != len(set(names)):
        raise ValueError("duplicate table in tables=%r" % (names,))
    if table is not None:
        opts["table"] = table
    else:
        opts["tables"] = ",".join(names)
    if schema_mode == "normalized":
        opts["schemaMode"] = "normalized"

    def _gtid_opt(value, what):
        if domain_mode == "vector":
            if isinstance(value, (list, tuple)):
                return vector_gtid(value)
            if isinstance(value, str) and value.startswith("v:"):
                return value
            raise ValueError(
                "domain_mode='vector': %s must be a list of per-domain "
                "GTIDs (or a 'v:' string) — a bare GTID says nothing "
                "about the other domains; got %r" % (what, value))
        if isinstance(value, (list, tuple)) or (
                isinstance(value, str) and value.startswith("v:")):
            raise ValueError(
                "vector %s requires domain_mode='vector'" % what)
        if isinstance(value, dict):
            if len(names) < 2:
                raise ValueError(
                    "composite %s needs multi-table mode (tables=)" % what)
            unknown = [t for t in value if t not in names]
            if unknown:
                raise ValueError(
                    "composite %s names unsubscribed tables %r "
                    "(subscribed: %r)" % (what, unknown, names))
            return composite_gtid(value)
        # the "-" placeholder is only meaningful INSIDE a composite
        # entry ("start from the beginning for this table") — a plain
        # single-table option must be a real 3-part GTID, and the empty
        # string would be silently dropped by the Scala option filter;
        # both must fail HERE, not at plan time on the cluster
        if not value or len(str(value).split("-")) != 3:
            raise ValueError(
                "bad %s %r (want domain-server_id-sequence; the '-' "
                "placeholder is only valid inside a composite dict)"
                % (what, value))
        return str(value)

    if starting_gtid is not None:
        opts["startingGtid"] = _gtid_opt(starting_gtid, "starting_gtid")
    if end_gtid is not None:
        if len(names) > 1 and not isinstance(end_gtid, dict):
            # the Scala parser requires the composite form here — a plain
            # bound would silently mean different things per table
            raise ValueError("multi-table end_gtid must be a per-table "
                             "dict (composite form)")
        opts["endGtid"] = _gtid_opt(end_gtid, "end_gtid")
        if end_gtid_observed:
            opts["endGtidObserved"] = "true"
    elif end_gtid_observed:
        raise ValueError("end_gtid_observed without end_gtid")
    if max_events_per_batch is not None:
        opts["maxEventsPerBatch"] = str(int(max_events_per_batch))
    if replay_partitions is not None:
        opts["replayPartitions"] = str(int(replay_partitions))
    if domain_mode == "vector":
        opts["domainMode"] = "vector"
    if catchup_span_per_connection is not None:
        opts["catchupSpanPerConnection"] = str(int(catchup_span_per_connection))
    return opts


def _auth_message(user: str, password: str) -> bytes:
    """hex(user + ":") + hex(sha1(password)), lowercase
    (reference generateAuthString, cdc_connector.cpp:65-77)."""
    user_hex = (user + ":").encode("utf-8").hex()
    pw_hex = hashlib.sha1(password.encode("utf-8")).hexdigest()
    return (user_hex + pw_hex).encode("ascii")


def _scalar_to_string(v) -> str:
    """JSON scalar -> string (reference json_to_string,
    cdc_connector.cpp:80-115): null -> "", bools lowercase, containers
    degrade to "", integral floats drop the trailing ".0"."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return ""  # arrays/objects fall to the reference's default branch


def _is_schema(obj) -> bool:
    """Non-empty ``fields`` array whose first element has ``name``
    (reference is_schema, cdc_connector.cpp:237-248)."""
    if not isinstance(obj, dict):
        return False
    fields = obj.get("fields")
    return (
        isinstance(fields, list)
        and len(fields) > 0
        and isinstance(fields[0], dict)
        and "name" in fields[0]
    )


def _parse_schema_fields(obj):
    """[(name, sql_type)] per reference process_schema
    (cdc_connector.cpp:250-286)."""
    out = []
    for f in obj["fields"]:
        name = f["name"]
        tpe = f.get("real_type", f.get("type"))
        if tpe is None:
            tpe = "undefined"
        elif not isinstance(tpe, str):
            tpe = "varchar(50)"
        length = f.get("length")
        if isinstance(length, int) and not isinstance(length, bool) and length > 0:
            tpe = "%s(%d)" % (tpe, length)
        out.append((name, tpe))
    return out


class Row:
    """One change event: parallel (keys, types, values) string vectors,
    the reference's ``InternalRow`` (cdc_connector.h:155-256). Also
    supports ``len(row)``, ``row["name"]`` / ``row[i]`` and iteration
    over values as Pythonic sugar on the same data."""

    __slots__ = ("_keys", "_types", "_values")

    def __init__(self, keys, types, values):
        self._keys = keys
        self._types = types
        self._values = values

    def length(self) -> int:
        """Field count (reference length(), cdc_connector.h:164-167)."""
        return len(self._values)

    def value(self, key):
        """Value by index or by column name (reference value(i) /
        value(name), cdc_connector.h:176-192). Unknown names raise
        KeyError — the reference's unchecked iterator arithmetic fixed."""
        if isinstance(key, str):
            try:
                return self._values[self._keys.index(key)]
            except ValueError:
                raise KeyError("no column %r" % key) from None
        return self._values[key]

    def key(self, i: int) -> str:
        """Column name by index (reference key(i), cdc_connector.h:215-218)."""
        return self._keys[i]

    def type(self, i: int) -> str:
        """Declared SQL type by index (reference type(i),
        cdc_connector.h:225-228)."""
        return self._types[i]

    def gtid(self) -> str:
        """``domain-server_id-sequence`` (reference gtid(),
        cdc_connector.h:197-208)."""
        return "%s-%s-%s" % (
            self.value("domain"),
            self.value("server_id"),
            self.value("sequence"),
        )

    # Pythonic extras (not in the SWIG surface, cost-free to offer)
    def __len__(self):
        return len(self._values)

    def __getitem__(self, key):
        return self.value(key)

    def __iter__(self):
        return iter(self._values)

    def __repr__(self):
        pairs = ", ".join(
            "%s=%r" % (k, v) for k, v in zip(self._keys, self._values)
        )
        return "Row(%s)" % pairs


class Connection:
    """Python twin of ``CDC::Connection`` (cdc_connector.h:40-153).

    One instance == one TCP session; not thread-safe (neither is the
    reference). Errors are reported through ``error()`` and falsy
    returns, never exceptions — matching the reference's error-string
    channel so migrated ``if not conn.connect(...)`` code keeps working.
    """

    def __init__(self, address, port, user, password, timeout=10):
        """timeout is in seconds, applied to every network operation,
        read and write (reference ctor, cdc_connector.h:46-59)."""
        self._address = address
        self._port = int(port)
        self._user = user
        self._password = password
        self._timeout = float(timeout)
        self._sock = None
        self._buf = b""  # carry-over bytes between reads
        self._error = ""
        self._schema = ""
        self._keys = []
        self._types = []
        self._first_row = None
        self._connected = False

    # ------------------------------------------------------------ public

    def connect(self, table: str, gtid: str = "") -> bool:
        """TCP + auth + register + REQUEST-DATA + first-row pre-read
        (reference connect, cdc_connector.cpp:147-223). ``table`` is
        ``database.table``; ``gtid`` optionally resumes from
        ``domain-server_id-sequence`` (replay is inclusive)."""
        self._error = ""
        if self._connected:
            self._error = "already connected"
            return False
        try:
            self._sock = socket.create_connection(
                (self._address, self._port), timeout=self._timeout
            )
            self._sock.settimeout(self._timeout)
        except OSError as e:
            self._error = "Failed to connect: %s" % e
            self._sock = None
            return False
        try:
            # A2 auth (cdc_connector.cpp:366-403)
            self._send(_auth_message(self._user, self._password))
            if not self._expect_ok("authentication"):
                return self._fail_close()
            # A3 registration (cdc_connector.cpp:405-443)
            self._send(
                ("REGISTER UUID=%s, TYPE=JSON" % CONNECTOR_UUID).encode("ascii")
            )
            if not self._expect_ok("registration"):
                return self._fail_close()
            # A4 request-data (cdc_connector.cpp:199-213) — no OK ack;
            # the first reply is the schema or an ERR payload
            req = "REQUEST-DATA %s" % table
            if gtid:
                req += " %s" % gtid
            self._send(req.encode("utf-8"))
            # pre-read until the first data row; a quiet stream fails
            # connect with the timeout error (cdc_connector.cpp:214-218)
            row = self._read_internal()
            if row is None and not self._error:
                row = self._read_internal()  # schema may have used the window
            if row is None:
                if not self._error:
                    self._error = TIMEOUT
                return self._fail_close()
            self._first_row = row
            self._connected = True
            return True
        except OSError as e:
            self._error = str(e)
            return self._fail_close()

    def read(self):
        """One change event; the pre-read row is replayed first
        (reference read, cdc_connector.cpp:321-360). Returns a Row, or
        None on timeout/error — check ``error()``: equal to TIMEOUT
        means a quiet stream (keep polling), anything else is fatal."""
        if not self._connected:
            self._error = "not connected"
            return None
        if self._first_row is not None:
            row, self._first_row = self._first_row, None
            self._error = ""
            return row
        return self._read_internal()

    def close(self):
        """Send CLOSE, close the socket; idempotent (reference close,
        cdc_connector.cpp:225-235)."""
        self._error = ""
        if self._sock is not None:
            try:
                self._sock.sendall(b"CLOSE")
            except OSError:
                pass
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None
        self._connected = False

    def schema(self) -> str:
        """Raw schema JSON string (reference schema(),
        cdc_connector.h:93-96)."""
        return self._schema

    def error(self) -> str:
        """Latest error, "" if none (reference error(),
        cdc_connector.h:103-106)."""
        return self._error

    def fields(self) -> dict:
        """name -> declared SQL type, insertion-ordered like the
        stream's column order (reference fields(),
        cdc_connector.h:113-123)."""
        return dict(zip(self._keys, self._types))

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    def __repr__(self):
        # never render the password (same rule as the Spark source's
        # CdcOptions/CdcReplayPartition redaction)
        return "Connection(%s:%d, user=%s, connected=%s)" % (
            self._address, self._port, self._user, self._connected,
        )

    # ---------------------------------------------------------- internal

    def _fail_close(self) -> bool:
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None
        return False

    def _send(self, payload: bytes):
        self._sock.sendall(payload)

    def _expect_ok(self, phase: str) -> bool:
        line = self._read_line()
        if line is None:
            if self._buf:  # ERR-without-newline on the handshake path
                self._error = "%s failed: %s" % (
                    phase, self._buf.decode("utf-8", "replace"))
                self._buf = b""
            elif not self._error:
                self._error = "%s timed out" % phase
            return False
        if line.strip() == b"OK":
            return True
        self._error = "%s failed: %s" % (phase, line.decode("utf-8", "replace"))
        return False

    def _read_internal(self):
        """One message: decode, adopt schemas (recursing to the next
        message like the reference, cdc_connector.cpp:339-344), return a
        Row or None with ``error()`` set."""
        while True:
            line = self._read_line()
            if line is None:
                if self._buf and self._buf[:3].upper() == b"ERR":
                    # MaxScale quirk: ERR payloads may lack the trailing
                    # newline (cdc_connector.cpp:445-457)
                    self._error = self._buf.decode("utf-8", "replace")
                    self._buf = b""
                elif not self._error:
                    self._error = TIMEOUT
                return None
            if not line:
                continue
            if line[:3].upper() == b"ERR":
                self._error = line.decode("utf-8", "replace")
                return None
            try:
                obj = json.loads(line)
            except ValueError as e:
                self._error = "Failed to parse JSON: %s" % e
                return None
            if _is_schema(obj):
                self._schema = line.decode("utf-8", "replace")
                parsed = _parse_schema_fields(obj)
                self._keys = [n for n, _ in parsed]
                self._types = [t for _, t in parsed]
                continue  # the reference recurses; we loop
            return self._decode_row(obj)

    def _decode_row(self, obj):
        """Project the JSON object onto the current schema keys, in
        order; a missing key is an error (reference process_row,
        cdc_connector.cpp:288-319)."""
        if not self._keys:
            self._error = "data row received before any schema message"
            return None
        values = []
        for k in self._keys:
            if k not in obj:
                self._error = "No value for key found: %s" % k
                return None
            values.append(_scalar_to_string(obj[k]))
        self._error = ""
        return Row(list(self._keys), list(self._types), values)

    def _read_line(self):
        """One b'\\n'-framed line (newline stripped). None = timeout;
        partial bytes stay buffered for the next call. A closed remote
        surfaces as an error."""
        deadline = time.monotonic() + self._timeout
        while True:
            nl = self._buf.find(b"\n")
            if nl >= 0:
                line, self._buf = self._buf[:nl], self._buf[nl + 1:]
                return line
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                return None
            self._sock.settimeout(remaining)
            try:
                chunk = self._sock.recv(65536)
            except socket.timeout:
                return None
            except OSError as e:
                self._error = "read failed: %s" % e
                return None
            if not chunk:
                if not self._buf:  # clean EOF
                    self._error = "connection closed"
                return None
            self._buf += chunk
