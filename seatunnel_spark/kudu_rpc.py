"""Apache Kudu RPC ("krpc") wire client — stdlib only.

Closes the last gated connector: the reference's connector-kudu
(seatunnel-connectors-v2/connector-kudu/.../kuduclient/KuduInputFormat.java,
KuduOutputFormat.java) drives the kudu-client JVM library; here the
same data path (master schema/location lookup, tablet scans, batched
row operations) is spoken directly over Kudu's protobuf RPC protocol,
implemented from the public docs (kudu/docs/design-docs/rpc.md) and
proto definitions (kudu/src/kudu/rpc/rpc_header.proto,
kudu/src/kudu/common/common.proto, wire_protocol.proto,
kudu/src/kudu/master/master.proto, kudu/src/kudu/tserver/tserver.proto).

Protocol shape:
- connection: magic ``hrpc`` + [ver 9, 0, 0], then SASL negotiation
  (call_id -33, NegotiatePB: NEGOTIATE -> server mech list ->
  SASL_INITIATE with PLAIN token -> SASL_SUCCESS), then
  ConnectionContextPB at call_id -3 (no response).
- framing: 4-byte BE total length, varint-delimited RequestHeader /
  ResponseHeader, varint-delimited body. Response bodies carry scan
  rows in *sidecars*: ResponseHeader.sidecar_offsets split the body
  region after the main message (rpc.md "RPC Sidecars").
- scans: TabletServerService.Scan with NewScanRequestPB, rows returned
  as a RowwiseRowBlockPB pointing at rows/indirect-data sidecars.
- writes: TabletServerService.Write with RowOperationsPB (op byte +
  isset bitmap + null bitmap + fixed-width values, strings in
  indirect_data) — the PartialRow encoding of row_operations.cc.

Fidelity caveat (documented, not hidden): the protobuf *field numbers*
and enum values below were transcribed from the public protos; the
in-process mini server (seatunnel_spark/testing/kudu_server.py) shares
this table, so tests validate the codec and protocol flow end-to-end,
but before pointing at a live cluster re-verify the numbering against
the cluster's proto version.
"""

from __future__ import annotations

import socket
import struct
from datetime import date, datetime, timezone

from seatunnel_spark import pb

# ---------------------------------------------------------------- enums
# common.proto DataType
UINT8, INT8, UINT16, INT16, UINT32, INT32, UINT64, INT64 = range(1, 9)
STRING, BOOL, FLOAT, DOUBLE, BINARY, UNIXTIME_MICROS = 9, 10, 11, 12, 13, 14
VARCHAR, DATE = 19, 20

# RowOperationsPB.Type
OP_INSERT, OP_UPDATE, OP_DELETE, OP_SPLIT_ROW, OP_UPSERT = 1, 2, 3, 4, 5

# NegotiatePB.NegotiateStep
NEG_NEGOTIATE, NEG_SASL_SUCCESS, NEG_SASL_INITIATE = 1, 2, 3

MASTER_SERVICE = "kudu.master.MasterService"
TSERVER_SERVICE = "kudu.tserver.TabletServerService"

# type -> (slot bytes in rowwise blocks / row ops, struct fmt or None)
_SLOT = {
    INT8: (1, "<b"), UINT8: (1, "<B"), INT16: (2, "<h"), UINT16: (2, "<H"),
    INT32: (4, "<i"), UINT32: (4, "<I"), INT64: (8, "<q"), UINT64: (8, "<Q"),
    BOOL: (1, None), FLOAT: (4, "<f"), DOUBLE: (8, "<d"),
    UNIXTIME_MICROS: (8, "<q"), DATE: (4, "<i"),
    STRING: (16, None), BINARY: (16, None), VARCHAR: (16, None),
}

_EPOCH_DATE = date(1970, 1, 1)


def _bitmap_size(n: int) -> int:
    return (n + 7) // 8


def _bit_set(buf: bytearray, i: int) -> None:
    buf[i // 8] |= 1 << (i % 8)


def _bit_get(buf: bytes, i: int) -> bool:
    return bool(buf[i // 8] & (1 << (i % 8)))


def _to_wire(ktype: int, v):
    """Python value -> the fixed-slot value written on the wire."""
    if ktype == UNIXTIME_MICROS:
        if isinstance(v, datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return int(v)
    if ktype == DATE:
        if isinstance(v, date):
            return (v - _EPOCH_DATE).days
        return int(v)
    if ktype == BOOL:
        return 1 if v else 0
    return v


def _from_wire(ktype: int, v):
    if ktype == UNIXTIME_MICROS:
        return datetime.fromtimestamp(v / 1_000_000, tz=timezone.utc).replace(tzinfo=None)
    if ktype == DATE:
        return date.fromordinal(_EPOCH_DATE.toordinal() + v)
    if ktype == BOOL:
        return bool(v)
    return v


def _slice_bytes(ktype: int, v) -> bytes:
    """Value -> indirect-data bytes for a 16-byte (pointer, length)
    slot. STRING/VARCHAR carry any non-bytes value as its canonical
    string form (DECIMALs map to STRING columns — KuduTypeMapper.java
    uses kudu decimals; the wire codec here keeps them exact as text)."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if ktype == BINARY:
        return bytes(v)
    return str(v).encode()


_M64 = (1 << 64) - 1
_INT_BITS = {INT8: 8, UINT8: 8, INT16: 16, UINT16: 16,
             INT32: 32, UINT32: 32, INT64: 64, UINT64: 64,
             UNIXTIME_MICROS: 64, DATE: 32}


def murmur2_64(data: bytes, seed: int = 0) -> int:
    """MurmurHash2 64A (Appleby's public-domain reference), the hash
    Kudu's HashPartitionSchema uses for bucket assignment
    (kudu/util/hash_util.h HashUtil::MurmurHash2_64)."""
    m = 0xC6A4A7935BD1E995
    r = 47
    n = len(data)
    h = (seed ^ ((n * m) & _M64)) & _M64
    end = n - (n % 8)
    for off in range(0, end, 8):
        k = int.from_bytes(data[off:off + 8], "little")
        k = (k * m) & _M64
        k ^= k >> r
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
    if n % 8:
        h ^= int.from_bytes(data[end:], "little")
        h = (h * m) & _M64
    h ^= h >> r
    h = (h * m) & _M64
    h ^= h >> r
    return h


def _encode_key_col(ktype: int, v, last: bool) -> bytes:
    """Kudu KeyEncoder memcmp-able encoding of one key column
    (kudu/common/key_encoder.h): fixed-width ints big-endian with the
    sign bit flipped; STRING/BINARY raw when last, else 0x00-escaped
    (0x00 -> 0x00 0x01) and 0x00 0x00 terminated."""
    bits = _INT_BITS.get(ktype)
    if bits is not None:
        x = int(_to_wire(ktype, v)) & ((1 << bits) - 1)
        x ^= 1 << (bits - 1)  # flip sign bit -> unsigned memcmp order
        return x.to_bytes(bits // 8, "big")
    if ktype == BOOL:
        return b"\x01" if v else b"\x00"
    if ktype in (STRING, VARCHAR, BINARY):
        b = _slice_bytes(ktype, v)
        return b if last else b.replace(b"\x00", b"\x00\x01") + b"\x00\x00"
    raise ValueError(f"type {ktype} is not a valid Kudu key column type")


def hash_bucket(cols: "list[Column]", row: tuple, num_buckets: int,
                seed: int = 0) -> int:
    """Key-to-bucket routing for a single-level HASH(all key columns)
    PARTITIONS n schema — murmur2_64 over the concatenated key-encoded
    key columns, mod n (kudu/common/partition.cc
    HashPartitionSchema::BucketForEncodedColumns). Multi-level or
    range+hash schemas need the table's PartitionSchemaPB; callers must
    not use this for those."""
    keys = [(c, v) for c, v in zip(cols, row) if c.is_key]
    buf = b"".join(
        _encode_key_col(c.ktype, v, i == len(keys) - 1)
        for i, (c, v) in enumerate(keys))
    return murmur2_64(buf, seed) % num_buckets


class Column:
    """One column of a Kudu schema (ColumnSchemaPB)."""

    __slots__ = ("name", "ktype", "is_key", "nullable")

    def __init__(self, name: str, ktype: int, is_key: bool = False,
                 nullable: bool = False):
        self.name, self.ktype = name, int(ktype)
        self.is_key, self.nullable = bool(is_key), bool(nullable)

    def encode(self) -> bytes:
        # ColumnSchemaPB: name=1, type=2, is_key=3, is_nullable=4
        return (pb.fstr(1, self.name) + pb.fvar(2, self.ktype) +
                pb.fvar(3, 1 if self.is_key else 0) +
                pb.fvar(4, 1 if self.nullable else 0))

    @classmethod
    def decode(cls, raw: bytes) -> "Column":
        m = pb.decode(raw)
        return cls(pb.first_str(m, 1), pb.first(m, 2, STRING),
                   bool(pb.first(m, 3, 0)), bool(pb.first(m, 4, 0)))


def encode_schema(cols: list[Column]) -> bytes:
    """SchemaPB: columns=1 repeated."""
    return b"".join(pb.fbytes(1, c.encode()) for c in cols)


def decode_schema(raw: bytes) -> list[Column]:
    return [Column.decode(c) for c in pb.decode(raw).get(1, [])]


# ------------------------------------------------- rowwise row blocks
def encode_row_block(cols: list[Column], rows: list[tuple]) -> tuple[bytes, bytes]:
    """Rows -> (rows_sidecar, indirect_data_sidecar) in the rowwise
    layout of wire_protocol.cc SerializeRowBlock: per row, one
    fixed-width slot per projected column (strings = 8-byte LE offset
    into indirect data + 8-byte LE length), then a null bitmap if the
    schema has nullable columns."""
    has_nulls = any(c.nullable for c in cols)
    nb = _bitmap_size(len(cols))
    out, indirect = bytearray(), bytearray()
    for row in rows:
        bitmap = bytearray(nb)
        for i, (c, v) in enumerate(zip(cols, row)):
            size, fmt = _SLOT[c.ktype]
            if v is None:
                _bit_set(bitmap, i)
                out += b"\x00" * size
                continue
            v = _to_wire(c.ktype, v)
            if size == 16:
                data = _slice_bytes(c.ktype, v)
                out += struct.pack("<QQ", len(indirect), len(data))
                indirect += data
            elif fmt is None:  # BOOL
                out += bytes([1 if v else 0])
            else:
                out += struct.pack(fmt, v)
        if has_nulls:
            out += bitmap
    return bytes(out), bytes(indirect)


def decode_row_block(cols: list[Column], num_rows: int, rows_data: bytes,
                     indirect: bytes) -> list[tuple]:
    has_nulls = any(c.nullable for c in cols)
    nb = _bitmap_size(len(cols))
    row_w = sum(_SLOT[c.ktype][0] for c in cols) + (nb if has_nulls else 0)
    rows = []
    for r in range(num_rows):
        base = r * row_w
        bitmap = rows_data[base + row_w - nb: base + row_w] if has_nulls else b""
        off = base
        vals = []
        for i, c in enumerate(cols):
            size, fmt = _SLOT[c.ktype]
            if has_nulls and _bit_get(bitmap, i):
                vals.append(None)
            elif size == 16:
                p, ln = struct.unpack_from("<QQ", rows_data, off)
                data = indirect[p:p + ln]
                vals.append(data.decode() if c.ktype in (STRING, VARCHAR)
                            else bytes(data))
            elif fmt is None:
                vals.append(_from_wire(c.ktype, rows_data[off]))
            else:
                vals.append(_from_wire(c.ktype, struct.unpack_from(fmt, rows_data, off)[0]))
            off += size
        rows.append(tuple(vals))
    return rows


# --------------------------------------------------- row operations
def encode_row_ops(cols: list[Column], ops: list[tuple[int, tuple]]) -> bytes:
    """[(op_type, row_values)] -> RowOperationsPB (rows=1, indirect_data=2).

    Per row_operations.cc: op byte, isset bitmap, null bitmap (when the
    schema has nullable columns), then values for set non-null columns
    in schema order; strings/binary as 8-byte offset + length into
    indirect_data. DELETE ops set only the key columns."""
    has_nulls = any(c.nullable for c in cols)
    nb = _bitmap_size(len(cols))
    rows, indirect = bytearray(), bytearray()
    for op_type, row in ops:
        rows.append(op_type)
        isset, nulls = bytearray(nb), bytearray(nb)
        body = bytearray()
        for i, c in enumerate(cols):
            v = row[i] if i < len(row) else None
            if op_type == OP_DELETE and not c.is_key:
                continue  # unset
            _bit_set(isset, i)
            if v is None:
                _bit_set(nulls, i)
                continue
            v = _to_wire(c.ktype, v)
            size, fmt = _SLOT[c.ktype]
            if size == 16:
                data = _slice_bytes(c.ktype, v)
                body += struct.pack("<QQ", len(indirect), len(data))
                indirect += data
            elif fmt is None:
                body += bytes([1 if v else 0])
            else:
                body += struct.pack(fmt, v)
        rows += isset
        if has_nulls:
            rows += nulls
        rows += body
    return pb.fbytes(1, bytes(rows)) + pb.fbytes(2, bytes(indirect))


def decode_row_ops(cols: list[Column], raw: bytes) -> list[tuple[int, tuple]]:
    m = pb.decode(raw)
    data = pb.first(m, 1, b"")
    indirect = pb.first(m, 2, b"")
    has_nulls = any(c.nullable for c in cols)
    nb = _bitmap_size(len(cols))
    i, out = 0, []
    while i < len(data):
        op_type = data[i]
        i += 1
        isset = data[i:i + nb]
        i += nb
        nulls = b"\x00" * nb
        if has_nulls:
            nulls = data[i:i + nb]
            i += nb
        vals = []
        for ci, c in enumerate(cols):
            if not _bit_get(isset, ci):
                vals.append(None)
                continue
            if _bit_get(nulls, ci):
                vals.append(None)
                continue
            size, fmt = _SLOT[c.ktype]
            if size == 16:
                p, ln = struct.unpack_from("<QQ", data, i)
                chunk = indirect[p:p + ln]
                vals.append(chunk.decode() if c.ktype in (STRING, VARCHAR)
                            else bytes(chunk))
            elif fmt is None:
                vals.append(_from_wire(c.ktype, data[i]))
            else:
                vals.append(_from_wire(c.ktype, struct.unpack_from(fmt, data, i)[0]))
            i += size
        out.append((op_type, tuple(vals)))
    return out


# ------------------------------------------------------- connection
class KrpcError(RuntimeError):
    pass


class KrpcConnection:
    """One authenticated krpc connection (magic + SASL PLAIN + context)."""

    def __init__(self, host: str, port: int, user: str = "seatunnel",
                 timeout: float = 30.0):
        from urllib.parse import urlsplit

        from seatunnel_spark.net import apply_host_aliases
        parts = urlsplit(apply_host_aliases(f"tcp://{host}:{port}"))
        host, port = parts.hostname or host, parts.port or port
        self.sock = socket.create_connection((host, int(port)), timeout=timeout)
        self.call_id = 0
        self.user = user
        self.sock.sendall(b"hrpc\x09\x00\x00")
        self._negotiate()
        # ConnectionContextPB: user_info=2 (UserInformationPB:
        # effective_user=1, real_user=2); call_id -3, no response.
        ctx = pb.fbytes(2, pb.fstr(1, user) + pb.fstr(2, user))
        self._send(-3, ctx)

    # -- framing -----------------------------------------------------
    def _send(self, call_id: int, body: bytes, service: str | None = None,
              method: str | None = None) -> None:
        header = pb.fvar(3, call_id & 0xFFFFFFFF)
        if service:
            header += pb.fbytes(6, pb.fstr(1, service) + pb.fstr(2, method))
            header += pb.fvar(10, 30000)
        msg = pb.varint(len(header)) + header + pb.varint(len(body)) + body
        self.sock.sendall(struct.pack(">I", len(msg)) + msg)

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise KrpcError("connection closed mid-frame")
            buf += chunk
        return buf

    def _recv(self) -> tuple[dict, bytes, list[bytes]]:
        (total,) = struct.unpack(">I", self._recv_exact(4))
        frame = self._recv_exact(total)
        hlen, i = pb.read_varint(frame, 0)
        header = pb.decode(frame[i:i + hlen])
        i += hlen
        blen, i = pb.read_varint(frame, i)
        body = frame[i:i + blen]
        offsets = [v for v in header.get(3, [])]
        if offsets:
            main = body[:offsets[0]]
            cuts = offsets + [len(body)]
            sidecars = [body[cuts[k]:cuts[k + 1]] for k in range(len(offsets))]
        else:
            main, sidecars = body, []
        if pb.first(header, 2, 0):  # is_error
            err = pb.decode(main)
            raise KrpcError(pb.first_str(err, 1, "krpc remote error"))
        return header, main, sidecars

    # -- negotiation -------------------------------------------------
    def _negotiate(self) -> None:
        self._send(-33, pb.fvar(1, NEG_NEGOTIATE))
        _, main, _ = self._recv()
        resp = pb.decode(main)
        mechs = [pb.first_str(pb.decode(m), 1) for m in resp.get(2, [])]
        if mechs and "PLAIN" not in mechs:
            raise KrpcError(f"no common SASL mechanism (server: {mechs})")
        token = b"\x00" + self.user.encode() + b"\x00"
        init = (pb.fvar(1, NEG_SASL_INITIATE) +
                pb.fbytes(2, pb.fstr(1, "PLAIN")) + pb.fbytes(3, token))
        self._send(-33, init)
        _, main, _ = self._recv()
        if pb.first(pb.decode(main), 1) != NEG_SASL_SUCCESS:
            raise KrpcError("SASL negotiation failed")

    # -- calls -------------------------------------------------------
    def call(self, service: str, method: str, payload: bytes) -> tuple[bytes, list[bytes]]:
        self.call_id += 1
        self._send(self.call_id, payload, service, method)
        _, main, sidecars = self._recv()
        return main, sidecars

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


# ----------------------------------------------------------- client
def _table_ident(name: str) -> bytes:
    # TableIdentifierPB: table_id=1 bytes, table_name=2 string
    return pb.fstr(2, name)


class KuduClient:
    """Data-path client: schema/location lookup on the master,
    scans/writes on tablet servers. Mirrors KuduUtil.java's use of
    the kudu-client (connector-kudu/.../util/KuduUtil.java)."""

    def __init__(self, masters: str, user: str = "seatunnel",
                 timeout: float = 30.0):
        self.user, self.timeout = user, timeout
        err = None
        for hp in str(masters).split(","):
            host, _, port = hp.strip().partition(":")
            try:
                self.master = KrpcConnection(host, int(port or 7051), user, timeout)
                break
            except OSError as e:
                err = e
        else:
            raise KrpcError(f"no reachable kudu master in {masters!r}: {err}")

    def close(self) -> None:
        self.master.close()

    def table_schema(self, table: str) -> list[Column]:
        # GetTableSchemaRequestPB: table=1
        main, _ = self.master.call(MASTER_SERVICE, "GetTableSchema",
                                   pb.fbytes(1, _table_ident(table)))
        resp = pb.decode(main)
        if 1 in resp:  # MasterErrorPB
            status = pb.decode(pb.first(pb.decode(pb.first(resp, 1)), 2, b""))
            raise KrpcError(pb.first_str(status, 2,
                                         f"GetTableSchema({table}) failed"))
        return decode_schema(pb.first(resp, 2, b""))

    def table_locations(self, table: str) -> list[tuple[bytes, str, int]]:
        """-> [(tablet_id, host, port)] — GetTableLocationsRequestPB:
        table=1, max_returned_locations=4."""
        main, _ = self.master.call(MASTER_SERVICE, "GetTableLocations",
                                   pb.fbytes(1, _table_ident(table)) +
                                   pb.fvar(4, 1000))
        resp = pb.decode(main)
        out = []
        for loc in resp.get(2, []):
            lm = pb.decode(loc)
            tablet_id = pb.first(lm, 1, b"")
            # replicas=3: ReplicaPB{ts_info=1: TSInfoPB{rpc_addresses=2:
            # HostPortPB{host=1, port=2}}}
            for rep in lm.get(3, []):
                ts = pb.decode(pb.first(pb.decode(rep), 1, b""))
                for addr in ts.get(2, []):
                    am = pb.decode(addr)
                    out.append((tablet_id, pb.first_str(am, 1),
                                pb.first(am, 2, 7050)))
                    break
                break
        return out

    # -- scans -------------------------------------------------------
    def scan_tablet(self, host: str, port: int, tablet_id: bytes,
                    cols: list[Column], batch_size_bytes: int = 1 << 20):
        """Yield row tuples from one tablet (paged Scan calls —
        KuduSourceReader.java's scanner loop)."""
        conn = KrpcConnection(host, port, self.user, self.timeout)
        try:
            proj = b"".join(pb.fbytes(3, c.encode()) for c in cols)
            new_scan = pb.fbytes(1, tablet_id) + proj
            req = (pb.fbytes(2, new_scan) +
                   pb.fvar(3, batch_size_bytes) + pb.fvar(4, 0))
            seq = 0
            scanner_id = None
            while True:
                main, sidecars = conn.call(TSERVER_SERVICE, "Scan", req)
                resp = pb.decode(main)
                data = pb.first(resp, 4)
                if data is not None:
                    dm = pb.decode(data)
                    nrows = pb.first(dm, 1, 0)
                    rs = pb.first(dm, 2)
                    is_ = pb.first(dm, 3)
                    rows_data = sidecars[rs] if rs is not None and rs < len(sidecars) else b""
                    indirect = sidecars[is_] if is_ is not None and is_ < len(sidecars) else b""
                    yield from decode_row_block(cols, nrows, rows_data, indirect)
                if not pb.first(resp, 3, 0):  # has_more_results
                    return
                scanner_id = pb.first(resp, 2, scanner_id)
                seq += 1
                req = (pb.fbytes(1, scanner_id) +
                       pb.fvar(3, batch_size_bytes) + pb.fvar(4, seq))
        finally:
            conn.close()

    # -- writes ------------------------------------------------------
    def write(self, host: str, port: int, tablet_id: bytes,
              cols: list[Column], ops: list[tuple[int, tuple]]) -> list[tuple[int, str]]:
        """Apply row ops; -> [(row_index, error message)] per-row errors
        (WriteResponsePB.per_row_errors)."""
        conn = KrpcConnection(host, port, self.user, self.timeout)
        try:
            req = (pb.fbytes(1, tablet_id) +
                   pb.fbytes(2, encode_schema(cols)) +
                   pb.fbytes(3, encode_row_ops(cols, ops)))
            main, _ = conn.call(TSERVER_SERVICE, "Write", req)
            resp = pb.decode(main)
            errors = []
            for per in resp.get(2, []):
                m = pb.decode(per)
                status = pb.decode(pb.first(m, 2, b""))
                errors.append((pb.first(m, 1, 0), pb.first_str(status, 2, "error")))
            return errors
        finally:
            conn.close()


__all__ = [
    "Column", "KuduClient", "KrpcConnection", "KrpcError",
    "encode_schema", "decode_schema", "encode_row_block",
    "decode_row_block", "encode_row_ops", "decode_row_ops",
    "MASTER_SERVICE", "TSERVER_SERVICE",
    "OP_INSERT", "OP_UPDATE", "OP_DELETE", "OP_UPSERT",
    "NEG_NEGOTIATE", "NEG_SASL_SUCCESS", "NEG_SASL_INITIATE",
    "INT8", "INT16", "INT32", "INT64", "STRING", "BOOL", "FLOAT",
    "DOUBLE", "BINARY", "UNIXTIME_MICROS", "VARCHAR", "DATE",
]
