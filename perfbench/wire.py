"""The `wire_rw` workload's client side: a minimal MySQL protocol-41
client, the seeded statement stream, and the Python model of the table
that every read and the final table are checked against.

Table: kv (id BIGINT, grp INT, v DOUBLE, s CHAR, PRIMARY KEY(id)).
Every v the stream writes is a multiple of 1/8 and small, so sums of v
are exact in binary floating point whatever order the engine adds them.
"""

from __future__ import annotations

import hashlib
import itertools
import random
import socket
import struct
import zlib

# The table is preloaded to ~110 MB: 500,000 rows of ~200 bytes in 16
# files. On 4 cores a one-row REPLACE (whole-table rewrite) then takes
# 0.8-1.0 s and an UPDATE by key (rewrites the one matched file)
# 0.34-0.49 s; at the 4 MB of 100,000 short rows the two took
# 0.41-0.65 s against 0.30-0.56 s, mostly per-statement job overhead.
# After the first whole-table rewrite the engine leaves the table in
# five files, one per core, and the two cost about the same wall time;
# the difference then shows in the per-layer bytes rewritten and
# executor CPU time.
PRELOAD_ROWS = 500_000
PRELOAD_FILES = 16
STAGING_ROWS = 64
GROUPS = 97
RANGE_WIDTH = 3000

# One cycle of the closed loop: every write kind once and 40 reads, in
# a seeded order. The run executes whole cycles, so the shares are fixed.
WRITE_KINDS = ("insert", "odku", "replace", "update", "delete", "merge", "dup")
READ_MIX = (("point", 32), ("agg", 4), ("range", 4))
READ_KINDS = tuple(kind for kind, _ in READ_MIX)
# Per-layer engine figures are reported per engine statement kind; all
# reads are "select", and only the writes that change rows add files.
ENGINE_KINDS = WRITE_KINDS + ("select",)
FILE_KINDS = WRITE_KINDS[:-1]


def preload_sql(seed: int) -> str:
    """INSERT ... SELECT that fills kv; `preload_row` is its model."""
    return (
        "INSERT INTO kv SELECT id, CAST(id % {g} AS INT) AS grp, "
        "CAST((id * 7919 + {s}) % 1000 AS DOUBLE) / 8 AS v, "
        "concat('s', CAST(id AS STRING), '-', sha2(CAST(id AS STRING), 512), "
        "sha2(CAST(id AS STRING), 256)) AS s "
        "FROM range(0, {n}, 1, {f})"
    ).format(g=GROUPS, s=_salt(seed), n=PRELOAD_ROWS, f=PRELOAD_FILES)


def _salt(seed: int) -> int:
    return seed % 1_000_003


def _preload_v(seed: int, i: int) -> float:
    return ((i * 7919 + _salt(seed)) % 1000) / 8.0


def preload_row(seed: int, i: int) -> tuple[int, float, str]:
    key = str(i).encode()
    pad = hashlib.sha512(key).hexdigest() + hashlib.sha256(key).hexdigest()
    return (i % GROUPS, _preload_v(seed, i), f"s{i}-{pad}")


def row_digest(s: str) -> int:
    """The CRC-32 Spark's crc32() gives for string `s`."""
    return zlib.crc32(s.encode())


class KvModel:
    """Expected contents of kv, updated as each write completes. A
    preloaded row is derived from its key when it is read, so only the
    rows the stream wrote are held; the per-group count and sum the
    aggregate reads need are kept up to date."""

    def __init__(self, seed: int, n: int = PRELOAD_ROWS) -> None:
        self.seed = seed
        self.n = n
        self.written: dict[int, tuple[int, float, str]] = {}
        self.removed: set[int] = set()
        self.added: list[int] = []  # keys outside the preload, first write order
        self.gone: list[int] = []
        self.grp_n = [0] * GROUPS
        self.grp_sum = [0.0] * GROUPS
        for i in range(n):
            self.grp_n[i % GROUPS] += 1
            self.grp_sum[i % GROUPS] += _preload_v(seed, i)

    def __contains__(self, k: int) -> bool:
        return k not in self.removed and (k in self.written or 0 <= k < self.n)

    def get(self, k: int) -> tuple[int, float, str] | None:
        if k not in self:
            return None
        row = self.written.get(k)
        return row if row is not None else preload_row(self.seed, k)

    def _count(self, row: tuple[int, float, str], sign: int) -> None:
        self.grp_n[row[0]] += sign
        self.grp_sum[row[0]] += sign * row[1]

    def put(self, k: int, row: tuple[int, float, str]) -> None:
        old = self.get(k)
        if old is not None:
            self._count(old, -1)
        elif k >= self.n and k not in self.removed:
            self.added.append(k)
        self.removed.discard(k)
        self.written[k] = row
        self._count(row, 1)

    def remove(self, k: int) -> None:
        self._count(self.get(k), -1)
        self.written.pop(k, None)
        self.removed.add(k)
        self.gone.append(k)

    def live_key(self, rng: random.Random) -> int:
        """A key drawn uniformly from the live rows."""
        while True:
            i = rng.randrange(self.n + len(self.added))
            k = i if i < self.n else self.added[i - self.n]
            if k in self:
                return k

    def agg(self, grp: int) -> tuple[int, float | None]:
        n = self.grp_n[grp]
        return n, (self.grp_sum[grp] if n else None)

    def range_rows(self, lo: int, hi: int) -> list[tuple[int, float]]:
        return [(k, self.get(k)[1]) for k in range(lo, hi) if k in self]

    def rows(self):
        """Every live row as (id, grp, v, s), in key order."""
        for k in itertools.chain(range(self.n), sorted(self.added)):
            row = self.get(k)
            if row is not None:
                yield (k, *row)


def staging_rows(seed: int) -> list[tuple[int, int, float, str]]:
    """Staging rows: even ones hit preloaded keys, odd ones are new."""
    rng = random.Random(f"stg-{seed}")
    out = []
    for j in range(STAGING_ROWS):
        k = rng.randrange(PRELOAD_ROWS) if j % 2 == 0 else 3 * PRELOAD_ROWS + j
        out.append((k, j % GROUPS, j / 4.0, f"m{j}"))
    return sorted(set(out))


def values_sql(rows) -> str:
    return ", ".join(f"({k}, {g}, {v!r}, '{s}')" for k, g, v, s in rows)


class Stream:
    """Seeded statement stream over a KvModel: `cycle_kinds` gives one
    cycle's statement kinds in order, `make` builds a statement from the
    model's current state, and `apply` updates the model after a write
    succeeds."""

    def __init__(self, seed: int, model: KvModel, staging) -> None:
        self.rng = random.Random(f"wire-{seed}")
        self.model = model
        self.staging = staging
        self.next_id = 10 * PRELOAD_ROWS

    def cycle_kinds(self) -> list[str]:
        kinds = list(WRITE_KINDS)
        for kind, n in READ_MIX:
            kinds += [kind] * n
        self.rng.shuffle(kinds)
        return kinds

    def _new_id(self) -> int:
        self.next_id += 1
        return self.next_id

    def _v(self) -> float:
        return self.rng.randrange(1, 800) / 8.0

    def make(self, kind: str) -> dict:
        """One statement of `kind`, with what the model expects of it."""
        rng, m = self.rng, self.model
        if kind == "insert":
            rows = [(self._new_id(), rng.randrange(GROUPS), self._v(), f"i{self.next_id}")
                    for _ in range(3)]
            return {"sql": f"INSERT INTO kv VALUES {values_sql(rows)}", "put": rows}
        if kind == "odku":
            k = m.live_key(rng)
            rows = [(k, rng.randrange(GROUPS), self._v(), "o"),
                    (self._new_id(), rng.randrange(GROUPS), self._v(), "o")]
            return {
                "sql": f"INSERT INTO kv VALUES {values_sql(rows)} "
                       "ON DUPLICATE KEY UPDATE v = v + VALUES(v)",
                "odku": rows,
            }
        if kind == "replace":
            k = m.live_key(rng)
            row = (k, rng.randrange(GROUPS), self._v(), f"r{k}")
            return {"sql": f"REPLACE INTO kv VALUES {values_sql([row])}", "put": [row]}
        if kind == "update":
            k, d = m.live_key(rng), self._v()
            return {"sql": f"UPDATE kv SET v = v + {d!r}, s = 'u{k}' WHERE id = {k}",
                    "update": (k, d)}
        if kind == "delete":
            k = m.live_key(rng)
            return {"sql": f"DELETE FROM kv WHERE id = {k}", "delete": k}
        if kind == "merge":
            c, d = rng.randrange(8), self._v()
            return {
                "sql": "MERGE INTO kv t USING (SELECT id, grp, v + {d!r} AS v, s "
                       "FROM stg WHERE id % 8 = {c}) src ON t.id = src.id "
                       "WHEN MATCHED THEN UPDATE SET v = src.v, s = src.s "
                       "WHEN NOT MATCHED THEN INSERT (id, grp, v, s) "
                       "VALUES (src.id, src.grp, src.v, src.s)".format(d=d, c=c),
                "merge": (c, d),
            }
        if kind == "dup":
            k = m.live_key(rng)
            return {"sql": f"INSERT INTO kv VALUES ({k}, 0, 0.0, 'dup')", "error": 1062}
        if kind == "point":
            if m.gone and rng.random() < 0.1:
                k = m.gone[rng.randrange(len(m.gone))]
            else:
                k = m.live_key(rng)
            return {"params": [k], "key": k}
        if kind == "agg":
            g = rng.randrange(GROUPS)
            return {"sql": "SELECT count(*) AS n, sum(v) AS sv FROM kv "
                           f"WHERE grp = {g}", "grp": g}
        if kind == "range":
            lo = rng.randrange(PRELOAD_ROWS - RANGE_WIDTH)
            return {"sql": f"SELECT id, v FROM kv WHERE id >= {lo} AND id < "
                           f"{lo + RANGE_WIDTH}", "range": (lo, lo + RANGE_WIDTH)}
        raise ValueError(kind)

    def apply(self, stmt: dict) -> None:
        m = self.model
        for k, g, v, s in stmt.get("put", ()):
            m.put(k, (g, v, s))
        for k, g, v, s in stmt.get("odku", ()):
            old = m.get(k)
            if old is not None:
                m.put(k, (old[0], old[1] + v, old[2]))
            else:
                m.put(k, (g, v, s))
        if "update" in stmt:
            k, d = stmt["update"]
            g, v, _s = m.get(k)
            m.put(k, (g, v + d, f"u{k}"))
        if "delete" in stmt:
            m.remove(stmt["delete"])
        if "merge" in stmt:
            c, d = stmt["merge"]
            for k, g, v, s in self.staging:
                if k % 8 != c:
                    continue
                old = m.get(k)
                if old is not None:
                    m.put(k, (old[0], v + d, s))
                else:
                    m.put(k, (g, v + d, s))


def check_read(kind: str, stmt: dict, result, model: KvModel) -> str | None:
    """None when a read's result matches the model, else the reason."""
    if not isinstance(result, tuple) or result[0] in ("ok", "err"):
        return f"{kind}: unexpected response {result!r:.120}"
    _cols, rows = result
    if kind == "point":
        k = stmt["key"]
        row = model.get(k)
        want = [] if row is None else [[k, *row]]
        got = [[int(r[0]), int(r[1]), float(r[2]), r[3]] for r in rows]
        return None if got == want else f"point {k}: got {got} want {want}"
    if kind == "agg":
        n, sv = model.agg(stmt["grp"])
        got_n = int(rows[0][0])
        got_sv = None if rows[0][1] is None else float(rows[0][1])
        ok = got_n == n and got_sv == sv
        return None if ok else f"agg {stmt['grp']}: got {(got_n, got_sv)} want {(n, sv)}"
    if kind == "range":
        want = model.range_rows(*stmt["range"])
        got = sorted((int(r[0]), float(r[1])) for r in rows)
        return None if got == want else f"range {stmt['range']}: {len(got)} rows, want {len(want)}"
    raise ValueError(kind)


# --- protocol-41 client ------------------------------------------------

def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0xFB:
        return b, pos + 1
    if b == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


class MiniClient:
    """Just enough of the MySQL client protocol for this workload:
    handshake, COM_QUERY, COM_STMT_PREPARE/EXECUTE, COM_QUIT."""

    def __init__(self, host: str, port: int, timeout: float = 120.0) -> None:
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.seq = 0
        greeting = self._read()
        if greeting[:1] != b"\x0a":
            raise ConnectionError("not a protocol-10 greeting")
        caps = 0x0200 | 0x8000  # PROTOCOL_41 | SECURE_CONNECTION
        self._write(struct.pack("<II", caps, 1 << 24) + bytes([33]) + b"\x00" * 23
                    + b"root\x00" + b"\x00")
        ok = self._read()
        if ok[:1] != b"\x00":
            raise ConnectionError(f"handshake refused: {ok!r:.80}")

    def _recv(self, n: int) -> bytes:
        data = bytearray()
        while len(data) < n:
            chunk = self.sock.recv(n - len(data))
            if not chunk:
                raise ConnectionError("server closed the connection")
            data += chunk
        return bytes(data)

    def _read(self) -> bytes:
        head = self._recv(4)
        n = int.from_bytes(head[:3], "little")
        self.seq = head[3] + 1
        return self._recv(n) if n else b""

    def _write(self, payload: bytes) -> None:
        self.sock.sendall(len(payload).to_bytes(3, "little")
                          + bytes([self.seq & 0xFF]) + payload)
        self.seq += 1

    def _command(self, payload: bytes) -> None:
        self.seq = 0
        self._write(payload)

    def _response(self, binary: bool = False):
        """('ok', affected) | ('err', code, message) | (columns, rows)."""
        pkt = self._read()
        if pkt[0] == 0x00:
            return ("ok", _lenenc(pkt, 1)[0])
        if pkt[0] == 0xFF:
            return ("err", struct.unpack_from("<H", pkt, 1)[0],
                    pkt[9:].decode(errors="replace"))
        ncols = _lenenc(pkt, 0)[0]
        cols, types = [], []
        for _ in range(ncols):
            name, mtype = self._column_def(self._read())
            cols.append(name)
            types.append(mtype)
        if self._read()[:1] != b"\xfe":
            raise ConnectionError("missing EOF after column definitions")
        rows = []
        while True:
            pkt = self._read()
            if pkt[0] == 0xFE and len(pkt) < 9:
                return cols, rows
            rows.append(self._binary_row(pkt, types) if binary else self._text_row(pkt, ncols))

    @staticmethod
    def _column_def(pkt: bytes) -> tuple[str, int]:
        pos = 0
        for _ in range(4):  # catalog, schema, table, org_table
            n, pos = _lenenc(pkt, pos)
            pos += n
        n, pos = _lenenc(pkt, pos)
        name = pkt[pos:pos + n].decode()
        pos += n
        n, pos = _lenenc(pkt, pos)  # org_name
        pos += n + 1 + 2 + 4  # marker, charset, display length
        return name, pkt[pos]

    @staticmethod
    def _text_row(pkt: bytes, ncols: int) -> list:
        vals, pos = [], 0
        for _ in range(ncols):
            if pkt[pos] == 0xFB:
                vals.append(None)
                pos += 1
            else:
                n, pos = _lenenc(pkt, pos)
                vals.append(pkt[pos:pos + n].decode())
                pos += n
        return vals

    @staticmethod
    def _binary_row(pkt: bytes, types: list[int]) -> list:
        nbytes = (len(types) + 7 + 2) // 8
        bitmap = pkt[1:1 + nbytes]
        pos = 1 + nbytes
        fixed = {1: "<b", 2: "<h", 3: "<i", 8: "<q", 4: "<f", 5: "<d"}
        vals = []
        for i, mtype in enumerate(types):
            if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                vals.append(None)
            elif mtype in fixed:
                vals.append(struct.unpack_from(fixed[mtype], pkt, pos)[0])
                pos += struct.calcsize(fixed[mtype])
            elif mtype in (10, 12):  # DATE / DATETIME
                vals.append(pkt[pos + 1:pos + 1 + pkt[pos]])
                pos += 1 + pkt[pos]
            else:
                n, pos = _lenenc(pkt, pos)
                vals.append(pkt[pos:pos + n].decode())
                pos += n
        return vals

    def query(self, sql: str):
        self._command(b"\x03" + sql.encode())
        return self._response()

    def prepare(self, sql: str) -> int:
        self._command(b"\x16" + sql.encode())
        pkt = self._read()
        if pkt[:1] != b"\x00":
            raise ConnectionError(f"prepare failed: {pkt!r:.80}")
        stmt_id = struct.unpack_from("<I", pkt, 1)[0]
        n_params = struct.unpack_from("<H", pkt, 7)[0]
        n_cols = struct.unpack_from("<H", pkt, 5)[0]
        for block in (n_params, n_cols):
            for _ in range(block):
                self._read()
            if block:
                self._read()  # EOF
        return stmt_id

    def execute(self, stmt_id: int, params: list[int]):
        """COM_STMT_EXECUTE with BIGINT parameters."""
        n = len(params)
        payload = b"\x17" + struct.pack("<IBI", stmt_id, 0, 1)
        if n:
            payload += (bytes((n + 7) // 8) + b"\x01" + bytes([8, 0]) * n
                        + b"".join(struct.pack("<q", p) for p in params))
        self._command(payload)
        return self._response(binary=True)

    def close(self) -> None:
        try:
            self._command(b"\x01")
        except OSError:
            pass
        self.sock.close()
