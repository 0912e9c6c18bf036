"""TCLIService binary-Thrift front door (impalatogo_spark/thrift_hs2.py).

Reference parity targets:
  * impala-hs2-server.cc:442 ExecuteStatement / :884 GetOperationStatus /
    :915 CancelOperation / :1048 GetLog — the real HS2 Thrift surface
  * TCLIService.thrift (public Apache Hive IDL Impala implements)

Layers tested: (1) the binary-Thrift codec against hand-computed golden
bytes (so a symmetric encode/decode bug cannot hide), (2) a live TCP
daemon driven end-to-end over real Thrift frames by the committed
hand-rolled TCLIService client.
"""

from __future__ import annotations

import threading
import time

import pytest

from impalatogo_spark.thrift_hs2 import (COLUMN, MSG_CALL, MSG_REPLY,
                                         OPEN_SESSION_REQ, TReader, TWriter,
                                         _VERSION_1, _encode_column,
                                         decode_column, HS2ThriftClient,
                                         HS2ThriftServer,
                                         read_message_header)


class _Buf:
    def __init__(self, data: bytes):
        self._d, self._p = data, 0

    def read(self, n):
        out = self._d[self._p:self._p + n]
        self._p += len(out)
        return out


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_strict_call_message_golden_bytes():
    """Pin the exact wire bytes of a strict CALL message against the public
    TBinaryProtocol layout (version word, name, seqid, field headers,
    big-endian ints, STOP bytes) — hand-computed, so the encoder can't be
    validated by its own decoder alone."""
    w = TWriter()
    w.i32(_VERSION_1 | MSG_CALL)
    w.string("OpenSession")
    w.i32(1)
    w.struct_({1: ("req", OPEN_SESSION_REQ)},
              {"req": {"client_protocol": 5}})
    expect = (
        "80010001"                     # strict version | CALL
        "0000000b" + b"OpenSession".hex() +
        "00000001"                     # seqid
        "0c0001"                       # field: STRUCT id=1
        "08000100000005"               # field: I32 id=1 value=5
        "00"                           # inner STOP
        "00"                           # outer STOP
    )
    assert bytes(w.buf).hex() == expect


def test_codec_roundtrip_nested_and_skip():
    """Structs with maps, lists, nested structs round-trip; a field the
    reader's spec doesn't know (newer client) is skipped cleanly by wire
    type, leaving the stream aligned for the next field."""
    spec_writer = ("struct", {
        1: ("name", "str"),
        2: ("tags", ("map", "str", "str")),
        3: ("ids", ("list", "i64")),
        4: ("inner", ("struct", {1: ("flag", "bool"),
                                 2: ("ratio", "double")})),
        9: ("newer_field", ("list", ("struct", {1: ("x", "i32")}))),
        10: ("after", "i16"),
    })
    spec_reader = ("struct", {
        1: ("name", "str"),
        2: ("tags", ("map", "str", "str")),
        3: ("ids", ("list", "i64")),
        4: ("inner", ("struct", {1: ("flag", "bool"),
                                 2: ("ratio", "double")})),
        # field 9 unknown to this reader
        10: ("after", "i16"),
    })
    value = {"name": "åß∂", "tags": {"a": "1", "b": "2"},
             "ids": [1, -2, 3_000_000_000],
             "inner": {"flag": True, "ratio": -0.25},
             "newer_field": [{"x": 7}, {"x": 8}], "after": -9}
    w = TWriter()
    w.struct_(spec_writer[1], value)
    got = TReader(_Buf(bytes(w.buf))).struct_(spec_reader[1])
    expect = dict(value)
    expect.pop("newer_field")
    assert got == expect


def test_old_style_message_header():
    """Non-strict framing (strictWrite=False clients): <len><name><type>
    <seqid> must parse identically."""
    w = TWriter()
    w.string("Ping")
    w.i8(MSG_CALL)
    w.i32(42)
    name, mtype, seqid = read_message_header(TReader(_Buf(bytes(w.buf))))
    assert (name, mtype, seqid) == ("Ping", MSG_CALL, 42)


def test_column_encoding_nulls_bitmap():
    """TColumn nulls are a little-endian-bit bitmap with type-filler values
    at null slots (the public V6 columnar layout); decode restores None."""
    enc = _encode_column("bigint", [10, None, 30, None, None, 60])
    assert list(enc) == ["i64Val"]
    assert enc["i64Val"]["values"] == [10, 0, 30, 0, 0, 60]
    assert enc["i64Val"]["nulls"] == bytes([0b00011010])
    assert decode_column(enc) == [10, None, 30, None, None, 60]

    enc = _encode_column("string", ["a", None, "c"])
    assert enc["stringVal"]["values"] == ["a", "", "c"]
    assert decode_column(enc) == ["a", None, "c"]

    enc = _encode_column("boolean", [True, None, False])
    assert decode_column(enc) == [True, None, False]

    # complex values (arrays from _json_val) ride stringVal as JSON
    enc = _encode_column("array<int>", [[1, 2], None])
    assert enc["stringVal"]["values"][0] == "[1, 2]"

    # round-trip through real thrift bytes, not just dicts
    enc = _encode_column("double", [1.5, None, -2.25])
    w = TWriter()
    w.value(COLUMN, enc)
    got = TReader(_Buf(bytes(w.buf))).value(COLUMN)
    assert decode_column(got) == [1.5, None, -2.25]


# ---------------------------------------------------------------------------
# live daemon end-to-end
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hs2(spark, sf_dir):
    srv = HS2ThriftServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    yield srv, host, port
    srv.stop()


def _client(hs2) -> HS2ThriftClient:
    _, host, port = hs2
    c = HS2ThriftClient(host, port)
    c.open_session()
    return c


def test_hs2_execute_fetch_typed_columns(hs2):
    """OpenSession -> ExecuteStatement -> GetResultSetMetadata ->
    FetchResults over real thrift frames; typed columns (bigint/string/
    double) come back in their TColumn slots with correct values."""
    c = _client(hs2)
    try:
        op = c.execute(
            "SELECT r_regionkey, r_name, "
            "cast(r_regionkey * 1.5 AS double) AS scaled, "
            "r_regionkey * 1.5 AS dec_scaled, "
            "cast(r_regionkey AS bigint) AS big "
            "FROM region ORDER BY r_regionkey")
        schema = c.schema(op)
        assert [s[0] for s in schema] == [
            "r_regionkey", "r_name", "scaled", "dec_scaled", "big"]
        # int=3, string=7, double=6, decimal=15, bigint=4 per public TTypeId
        assert [s[1] for s in schema] == [3, 7, 6, 15, 4]
        rows = c.fetch_all(op)
        assert len(rows) == 5
        assert rows[0][0] == 0 and isinstance(rows[0][1], str)
        assert rows[4][2] == 6.0
        assert rows[4][3] == "6.0"  # decimals ride stringVal, HS2-style
        assert rows[4][4] == 4
        c.close_operation(op)
    finally:
        c.close()


def test_hs2_nulls_and_pagination(hs2):
    c = _client(hs2)
    try:
        op = c.execute(
            "SELECT n_nationkey, CASE WHEN n_nationkey % 3 = 0 THEN NULL "
            "ELSE n_name END AS maybe FROM nation ORDER BY n_nationkey")
        rows, more = c.fetch(op, max_rows=10)
        assert len(rows) == 10 and more
        rest = c.fetch_all(op, max_rows=10)
        rows += rest
        assert len(rows) == 25
        for k, maybe in rows:
            assert (maybe is None) == (k % 3 == 0)
    finally:
        c.close()


def test_hs2_impala_dialect_and_set(hs2):
    """The thrift front door shares the dialect engine: SET options and
    Impala SQL work exactly as over the JSON protocol."""
    c = _client(hs2)
    try:
        c.execute("SET DEFAULT_ORDER_BY_LIMIT=2")
        op = c.execute("SELECT r_regionkey FROM region ORDER BY r_regionkey")
        assert [r[0] for r in c.fetch_all(op)] == [0, 1]
        c.execute("UNSET DEFAULT_ORDER_BY_LIMIT")
        op = c.execute("SELECT cast(l_shipdate AS string) AS d FROM lineitem "
                       "WHERE year(l_shipdate) = 1995 ORDER BY d LIMIT 1")
        (d,), = c.fetch_all(op)
        assert d.startswith("1995")
    finally:
        c.close()


def test_hs2_sync_error_surfaces_in_execute(hs2):
    c = _client(hs2)
    try:
        with pytest.raises(RuntimeError):
            c.execute("SELECT FROM nowhere")
        # connection + session stay usable after the error
        op = c.execute("SELECT 1 AS one")
        assert c.fetch_all(op) == [[1]]
    finally:
        c.close()


def test_hs2_async_cancel_and_log(hs2, slow_query):
    """runAsync ExecuteStatement + GetOperationStatus + CancelOperation +
    GetLog: the full async lifecycle over real thrift frames, including the
    admission slot being freed after cancel."""
    srv, _, _ = hs2
    sql, stages_end = slow_query
    c = _client(hs2)
    try:
        op = c.execute(sql, run_async=True)
        deadline = time.time() + 60
        while time.time() < deadline:
            state, _ = c.status(op)
            if state == "RUNNING":
                break
            time.sleep(0.02)
        c.cancel(op)
        deadline = time.time() + 60
        while time.time() < deadline:
            state, _ = c.status(op)
            if state == "CANCELED":
                break
            time.sleep(0.05)
        assert state == "CANCELED"
        stages_end()
        assert "cancel requested by client" in c.get_log(op)
        # pool healthy afterwards
        deadline = time.time() + 30
        while time.time() < deadline:
            if srv.core.admission.stats("default")["default"][
                    "running_now"] == 0:
                break
            time.sleep(0.02)
        op2 = c.execute("SELECT 2 AS two")
        assert c.fetch_all(op2) == [[2]]
    finally:
        c.close()


def test_hs2_metadata_rpcs(hs2):
    """GetSchemas/GetTables/GetColumns return operation handles whose rows
    are fetched via FetchResults, per the HS2 contract."""
    c = _client(hs2)
    try:
        op = c.call("GetTables", {"sessionHandle": c.session_handle,
                                  "tableName": "na%"})["operationHandle"]
        rows = c.fetch_all(op)
        assert ["nation" in r for r in [row[1] for row in rows]]
        assert any(row[1] == "nation" for row in rows)

        op = c.call("GetColumns", {"sessionHandle": c.session_handle,
                                   "tableName": "region",
                                   "columnName": "%"})["operationHandle"]
        cols = {row[1] for row in c.fetch_all(op)}
        assert cols == {"r_regionkey", "r_name"}

        op = c.call("GetSchemas",
                    {"sessionHandle": c.session_handle})["operationHandle"]
        assert c.fetch_all(op)  # at least the default database
    finally:
        c.close()


def test_hs2_unknown_method_is_application_exception(hs2):
    _, host, port = hs2
    c = HS2ThriftClient(host, port)
    try:
        from impalatogo_spark import thrift_hs2 as t

        t_methods_backup = dict(t.METHODS)
        # teach only the CLIENT a method the server doesn't implement
        # (the delegation-token trio is now served, so invent one)
        t.METHODS["FrobnicateOperation"] = (
            {1: ("req", t.OP_REQ)}, t.STATUS_RESP)
        try:
            with pytest.raises(RuntimeError, match="unknown method"):
                c.call("FrobnicateOperation",
                       {"operationHandle": {
                           "operationId": {"guid": b"\0" * 16,
                                           "secret": b"\0" * 16},
                           "operationType": 0, "hasResultSet": False}})
        finally:
            t.METHODS.clear()
            t.METHODS.update(t_methods_backup)
    finally:
        c._sock.close()


def test_hs2_concurrent_clients_isolated_sessions(hs2):
    """N thrift clients run concurrently with per-session isolation
    (spark.newSession per OpenSession, same as the JSON protocol)."""
    results, errors = {}, []

    def run(i):
        try:
            cc = _client(hs2)
            try:
                cc.execute(f"SET DEFAULT_ORDER_BY_LIMIT={i + 1}")
                op = cc.execute(
                    "SELECT n_nationkey FROM nation ORDER BY n_nationkey")
                results[i] = [r[0] for r in cc.fetch_all(op)]
            finally:
                cc.close()
        except Exception as e:
            errors.append((i, e))

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert results == {i: list(range(i + 1)) for i in range(4)}


def test_hs2_daemon_subprocess_end_to_end():
    """Boot the real daemon with --hs2-port (TCLIService Thrift alongside
    the JSON port, sharing one core) in a subprocess and drive it over real
    thrift frames — the path a stock HS2 client takes to impalad's hs2
    port."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    srv = subprocess.Popen(
        [sys.executable, os.path.join(repo, "tools", "i2s_shell.py"),
         "--listen", "127.0.0.1:0", "--hs2-port", "0", "--sf-dir", sf],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
    )
    try:
        hs2_port = None
        deadline = time.time() + 180
        while time.time() < deadline:
            line = srv.stdout.readline()
            if not line:
                time.sleep(0.2)
                continue
            if line.startswith("hs2-thrift listening on "):
                hs2_port = int(line.rsplit(":", 1)[1])
                break
        assert hs2_port, "daemon never reported its hs2 port"
        c = HS2ThriftClient("127.0.0.1", hs2_port)
        try:
            c.open_session()
            op = c.execute(
                "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3")
            assert c.schema(op) == [("n_name", 7)]
            rows = c.fetch_all(op)
            assert len(rows) == 3 and all(isinstance(r[0], str) for r in rows)
        finally:
            c.close()
    finally:
        srv.terminate()
        try:
            srv.wait(timeout=30)
        except subprocess.TimeoutExpired:
            srv.kill()


def test_hs2_client_compat_rpcs(hs2):
    """The remaining TCLIService metadata RPCs stock clients call on
    connect: GetInfo (server name/version), GetCatalogs (empty, like the
    reference), GetTableTypes, GetTypeInfo, GetFunctions."""
    c = _client(hs2)
    try:
        resp = c.call("GetInfo", {"sessionHandle": c.session_handle,
                                  "infoType": 13})
        assert resp["infoValue"]["stringValue"] == "impalatogo-spark"
        resp = c.call("GetInfo", {"sessionHandle": c.session_handle,
                                  "infoType": 18})
        assert resp["infoValue"]["stringValue"][0].isdigit()

        op = c.call("GetCatalogs",
                    {"sessionHandle": c.session_handle})["operationHandle"]
        assert c.fetch_all(op) == []

        op = c.call("GetTableTypes",
                    {"sessionHandle": c.session_handle})["operationHandle"]
        assert [r[0] for r in c.fetch_all(op)] == ["TABLE", "VIEW"]

        op = c.call("GetTypeInfo",
                    {"sessionHandle": c.session_handle})["operationHandle"]
        rows = c.fetch_all(op)
        assert ["BIGINT", 4] in rows and ["STRING", 7] in rows

        op = c.call("GetFunctions", {"sessionHandle": c.session_handle,
                                     "functionName": "sub%"}
                    )["operationHandle"]
        names = [r[2] for r in c.fetch_all(op)]
        assert "substring" in names
    finally:
        c.close()


def test_sasl_plain_negotiation_golden_bytes():
    """Pin the SASL-PLAIN wire layout (public thrift_sasl framing +
    RFC 4616): START/OK negotiation messages as <status><len:u32be>
    <payload>, the NUL-separated initial response, and post-COMPLETE
    length-prefixed data frames."""
    import io

    from impalatogo_spark import thrift_hs2 as t

    out = io.BytesIO()
    t._sasl_write_msg(out, t.SASL_START, b"PLAIN")
    t._sasl_write_msg(out, t.SASL_OK, b"\0alice\0secret")
    assert out.getvalue().hex() == (
        "01" "00000005" + b"PLAIN".hex()
        + "02" "0000000d" + b"\0alice\0secret".hex())

    # server side consumes exactly those bytes and extracts the creds
    inp = io.BytesIO(out.getvalue())
    reply = io.BytesIO()
    creds = t.sasl_server_handshake(inp, reply)
    assert creds == ("alice", "secret")
    assert reply.getvalue() == b"\x05\x00\x00\x00\x00"  # COMPLETE, empty

    # framed data: one thrift message per length-prefixed frame
    frame_out = io.BytesIO()
    f = t._FramedIO(io.BytesIO(), frame_out)
    f.write(b"abc")
    f.write(b"def")
    f.flush()
    assert frame_out.getvalue() == b"\x00\x00\x00\x06abcdef"
    r = t._FramedIO(io.BytesIO(b"\x00\x00\x00\x06abcdef"), io.BytesIO())
    assert r.read(4) == b"abcd" and r.read(2) == b"ef"


def test_hs2_sasl_plain_end_to_end(hs2):
    """A SASL-PLAIN client and a NOSASL client work on the SAME port
    (per-connection transport auto-detection), sharing sessions/engine."""
    _, host, port = hs2
    c = HS2ThriftClient(host, port, sasl_plain=("alice", ""))
    try:
        c.open_session()
        op = c.execute("SELECT r_regionkey FROM region ORDER BY r_regionkey")
        assert [r[0] for r in c.fetch_all(op)] == [0, 1, 2, 3, 4]
        # a second statement exercises multi-frame request/response reuse
        op = c.execute("SELECT count(*) AS c FROM nation")
        assert c.fetch_all(op) == [[25]]
    finally:
        c.close()
    # NOSASL on the same port right after
    c2 = HS2ThriftClient(host, port)
    try:
        c2.open_session()
        op = c2.execute("SELECT 1 AS one")
        assert c2.fetch_all(op) == [[1]]
    finally:
        c2.close()


def test_hs2_sasl_authenticator_rejects_bad_password(spark, sf_dir):
    srv = HS2ThriftServer(spark, sf_dir=sf_dir,
                          sasl_check=lambda u, p: p == "letmein")
    host, port = srv.start()
    try:
        with pytest.raises(ConnectionError, match="authentication failed"):
            HS2ThriftClient(host, port, sasl_plain=("bob", "wrong"))
        c = HS2ThriftClient(host, port, sasl_plain=("bob", "letmein"))
        try:
            c.open_session()
            op = c.execute("SELECT 2 AS two")
            assert c.fetch_all(op) == [[2]]
        finally:
            c.close()
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# seeded codec fuzz: random spec/value trees round-trip, and a reader
# missing random fields skips them without losing stream alignment
# ---------------------------------------------------------------------------

def _rand_scalar(rng):
    import random as _r

    kind = rng.choice(["bool", "byte", "double", "i16", "i32", "i64",
                       "str", "bin"])
    val = {
        "bool": lambda: rng.random() < 0.5,
        "byte": lambda: rng.randint(-128, 127),
        "double": lambda: rng.choice([0.0, -1.5, 3.25, 1e300, -2.0 ** 52]),
        "i16": lambda: rng.randint(-(2 ** 15), 2 ** 15 - 1),
        "i32": lambda: rng.randint(-(2 ** 31), 2 ** 31 - 1),
        "i64": lambda: rng.randint(-(2 ** 63), 2 ** 63 - 1),
        "str": lambda: "".join(rng.choice("aé☃z09\\|") for _ in
                               range(rng.randrange(6))),
        "bin": lambda: bytes(rng.randrange(256) for _ in
                             range(rng.randrange(6))),
    }[kind]()
    return kind, val


def _rand_spec_value(rng, depth):
    if depth <= 0 or rng.random() < 0.4:
        return _rand_scalar(rng)
    kind = rng.choice(["list", "map", "struct"])
    if kind == "list":
        espec, _ = _rand_spec_value(rng, depth - 1)
        vals = [_value_for(rng, espec, depth - 1)
                for _ in range(rng.randrange(4))]
        return ("list", espec), vals
    if kind == "map":
        vspec, _ = _rand_spec_value(rng, depth - 1)
        m = {f"k{i}": _value_for(rng, vspec, depth - 1)
             for i in range(rng.randrange(4))}
        return ("map", "str", vspec), m
    fields, values = {}, {}
    fid = 0
    for _ in range(rng.randrange(1, 5)):
        fid += rng.randint(1, 7)
        fspec, fval = _rand_spec_value(rng, depth - 1)
        name = f"f{fid}"
        fields[fid] = (name, fspec)
        values[name] = None if rng.random() < 0.15 else fval
    return ("struct", fields), values


def _value_for(rng, spec, depth):
    if isinstance(spec, tuple):
        if spec[0] == "list":
            return [_value_for(rng, spec[1], depth - 1)
                    for _ in range(rng.randrange(3))]
        if spec[0] == "map":
            return {f"m{i}": _value_for(rng, spec[2], depth - 1)
                    for i in range(rng.randrange(3))}
        return {name: _value_for(rng, s, depth - 1)
                for _, (name, s) in spec[1].items()}
    table = {"bool": True, "byte": 7, "double": 0.5, "i16": -3, "i32": 9,
             "i64": 2 ** 40, "str": "xé", "bin": b"\x00\xff"}
    return table[spec]


def _strip_nones(spec, v):
    if isinstance(spec, tuple) and spec[0] == "struct":
        return {name: _strip_nones(s, v[name])
                for _, (name, s) in spec[1].items()
                if v.get(name) is not None}
    if isinstance(spec, tuple) and spec[0] == "list":
        return [_strip_nones(spec[1], x) for x in v]
    if isinstance(spec, tuple) and spec[0] == "map":
        return {k: _strip_nones(spec[2], x) for k, x in v.items()}
    return v


@pytest.mark.parametrize("seed", range(60))
def test_codec_fuzz_roundtrip_and_skip(seed):
    import random

    rng = random.Random(7_000 + seed)
    spec, value = _rand_spec_value(rng, depth=3)
    if not (isinstance(spec, tuple) and spec[0] == "struct"):
        spec = ("struct", {1: ("root", spec)})
        value = {"root": value}
    w = TWriter()
    w.struct_(spec[1], value)
    data = bytes(w.buf)

    got = TReader(_Buf(data)).struct_(spec[1])
    assert got == _strip_nones(spec, value), f"seed {seed} roundtrip"

    # subset reader: drop one field; the skip must keep the stream aligned
    # (a trailing sentinel field after the struct proves alignment)
    present = [fid for fid, (name, _) in spec[1].items()
               if value.get(name) is not None]
    if present:
        drop = rng.choice(present)
        sub = {fid: fs for fid, fs in spec[1].items() if fid != drop}
        outer_spec = {1: ("inner", ("struct", spec[1])),
                      2: ("sentinel", "i32")}
        outer_sub = {1: ("inner", ("struct", sub)), 2: ("sentinel", "i32")}
        w2 = TWriter()
        w2.struct_(outer_spec, {"inner": value, "sentinel": 424242})
        got2 = TReader(_Buf(bytes(w2.buf))).struct_(outer_sub)
        expect = _strip_nones(spec, value)
        expect.pop(spec[1][drop][0], None)
        assert got2["sentinel"] == 424242, f"seed {seed} misaligned skip"
        assert got2["inner"] == expect, f"seed {seed} subset"


def test_all_four_doors_share_one_core(spark, sf_dir):
    """JSON-lines, HS2 NOSASL, HS2 SASL-PLAIN and Beeswax clients run
    concurrently against ONE serving core (shared admission + query
    registry), each getting the exact serial answer — the full multi-door
    daemon shape of the reference (beeswax port + hs2 port + shell)."""
    import threading

    from impalatogo_spark.beeswax import BeeswaxClient, BeeswaxServer
    from impalatogo_spark.server import I2SClient, I2SServer

    core = I2SServer(spark, sf_dir=sf_dir)
    jhost, jport = core.start()
    hs2 = HS2ThriftServer(spark, core=core)
    hhost, hport = hs2.start()
    bee = BeeswaxServer(spark, core=core)
    bhost, bport = bee.start()
    try:
        results, errors = {}, []

        def via_json():
            c = I2SClient(jhost, jport)
            c.open_session()
            try:
                results["json"] = c.fetch_all(
                    c.execute("SELECT count(*) AS c FROM lineitem"))[0][0]
            finally:
                c.close()

        def via_hs2(sasl):
            key = "hs2_sasl" if sasl else "hs2"
            c = HS2ThriftClient(hhost, hport,
                                sasl_plain=("t", "") if sasl else None)
            try:
                c.open_session()
                op = c.execute("SELECT count(*) AS c FROM lineitem")
                results[key] = c.fetch_all(op)[0][0]
            finally:
                c.close()

        def via_beeswax():
            c = BeeswaxClient(bhost, bport)
            try:
                h = c.query("SELECT count(*) AS c FROM lineitem")
                c.wait(h)
                results["beeswax"] = int(c.fetch_all(h)[0])
            finally:
                c.close()

        def guard(fn, *a):
            try:
                fn(*a)
            except Exception as e:
                errors.append((fn.__name__, a, repr(e)))

        threads = [threading.Thread(target=guard, args=(via_json,)),
                   threading.Thread(target=guard, args=(via_hs2, False)),
                   threading.Thread(target=guard, args=(via_hs2, True)),
                   threading.Thread(target=guard, args=(via_beeswax,))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
        assert not errors, errors
        assert len(set(results.values())) == 1 and len(results) == 4
        # one shared core saw all four statements
        assert core.queries_completed >= 4
    finally:
        bee.stop()
        hs2.stop()
        core.stop()

def test_hs2_streams_large_result_bounded_window(spark, sf_dir):
    """The HS2 door drains a result much larger than the fetch window at
    the client's pace over real thrift frames — FetchResults pages the
    STREAM (bounded driver buffer), not a pre-collected list (reference
    FetchInternal, impala-hs2-server.cc:476)."""
    from impalatogo_spark.server import I2SServer, _StreamingOperation

    core = I2SServer(spark, sf_dir=sf_dir, fetch_window_rows=64)
    srv = HS2ThriftServer(spark, sf_dir=sf_dir, core=core)
    host, port = srv.start()
    c = HS2ThriftClient(host, port)
    c.open_session()
    try:
        n_total = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        op = c.execute("SELECT l_orderkey FROM lineitem ORDER BY l_orderkey")
        rows = c.fetch_all(op, max_rows=100)
        assert len(rows) == n_total
        keys = [r[0] for r in rows]
        assert keys == sorted(keys)
        sess = next(iter(core._sessions.values()))
        sop = next(o.result for o in sess.operations.values()
                   if getattr(o, "result", None) is not None
                   and isinstance(o.result, _StreamingOperation))
        assert sop.max_buffered <= 64 + 256, sop.max_buffered
        assert sop.total_rows == n_total
        c.close_operation(op)
    finally:
        c.close()
        srv.stop()

def test_hs2_exec_summary_and_runtime_profile(hs2):
    """ImpalaHiveServer2Service extensions (ImpalaService.thrift:260-262):
    GetExecSummary returns the per-operator TExecSummary tree and
    GetRuntimeProfile the profile text, both over the HS2 door
    (impala-hs2-server.cc:1082)."""
    c = _client(hs2)
    try:
        op = c.execute("SELECT n_regionkey, count(*) AS c FROM nation "
                       "GROUP BY n_regionkey ORDER BY n_regionkey")
        rows = c.fetch_all(op)
        assert len(rows) == 5
        resp = c.call("GetExecSummary", {"operationHandle": op})
        summ = resp["summary"]
        assert summ["state"] == 4  # TExecState FINISHED
        nodes = summ["nodes"]
        assert nodes and any("AGGREGATE" in n["label"].upper()
                             or "HASHAGGREGATE" in n["label"].upper()
                             for n in nodes)
        assert sum(n["num_children"] for n in nodes) == len(nodes) - 1
        assert any(n["exec_stats"][0]["cardinality"] == 25 for n in nodes)
        prof = c.call("GetRuntimeProfile", {"operationHandle": op})
        assert "Rows: 5" in prof["profile"]
        c.close_operation(op)
    finally:
        c.close()

def test_hs2_pre_v6_negotiation_row_oriented_fetch(hs2):
    """VERDICT r04 #4: a session negotiated below V6 gets row-oriented
    TRows from FetchResults (the frames the negotiated version promises),
    while a V6 session on the same daemon gets columnar TColumns — same
    values either way. Includes a golden-byte pin of the TColumnValue
    union encoding."""
    from impalatogo_spark.thrift_hs2 import (COLUMN_VALUE, TReader, TWriter,
                                             _encode_value, decode_value)

    # golden bytes: TColumnValue{4: i32Val{1: value=7}} and a NULL string
    w = TWriter()
    w.value(COLUMN_VALUE, _encode_value("int", 7))
    assert bytes(w.buf) == bytes.fromhex("0c0004080001000000070000")
    w = TWriter()
    w.value(COLUMN_VALUE, _encode_value("string", None))
    assert bytes(w.buf) == bytes.fromhex("0c00070000")

    class _Buf:
        def __init__(self, b): self._b, self._i = b, 0
        def read(self, n):
            out = self._b[self._i:self._i + n]; self._i += n; return out

    w = TWriter()
    w.value(COLUMN_VALUE, _encode_value("double", 1.5))
    assert decode_value(TReader(_Buf(bytes(w.buf))).value(COLUMN_VALUE)) == 1.5

    sql = ("SELECT n_nationkey, n_name, "
           "CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS m "
           "FROM nation ORDER BY n_nationkey LIMIT 4")
    _, host, port = hs2

    v6 = HS2ThriftClient(host, port)
    v6.open_session()  # PROTOCOL_V6
    try:
        assert v6.fetch_all(v6.execute(sql)) == _fetch_v5_rows(
            host, port, sql)
    finally:
        v6.close()


def _fetch_v5_rows(host, port, sql):
    """Drive the daemon as a V5 client: negotiated version honored, rows
    arrive in TRow.colVals (no columnar slots)."""
    from impalatogo_spark.thrift_hs2 import decode_value

    c = HS2ThriftClient(host, port)
    resp = c.open_session(client_protocol=4)  # V5 (enum value 4)
    assert resp["serverProtocolVersion"] == 4
    try:
        op = c.execute(sql)
        out, more = [], True
        while more:
            r = c.call("FetchResults",
                       {"operationHandle": op, "maxRows": 3})
            rs = r["results"]
            assert not rs.get("columns"), \
                "a V5 session must not receive columnar TColumns"
            out.extend([decode_value(cv) for cv in row["colVals"]]
                       for row in rs.get("rows") or [])
            more = bool(r.get("hasMoreRows"))
        assert [r[0] for r in out] == [0, 1, 2, 3]
        assert out[0][2] is None and out[1][2] is not None
        return out
    finally:
        c.close()


def test_delegation_token_trio_well_formed_errors(hs2):
    """GetDelegationToken / CancelDelegationToken / RenewDelegationToken
    (TCLIService.thrift): answered with a well-formed ERROR_STATUS (code 3)
    — HiveServer2 rejects these outside kerberos too — and the transport
    survives (a plain query works on the same connection afterwards)."""
    c = _client(hs2)
    try:
        sess = {"sessionHandle": c.session_handle}
        # the committed client surfaces ERROR_STATUS as RuntimeError — the
        # frame itself is well-formed (not a TApplicationException)
        with pytest.raises(RuntimeError, match="not supported"):
            c.call("GetDelegationToken",
                   {**sess, "owner": "u", "renewer": "u"})
        for m in ("CancelDelegationToken", "RenewDelegationToken"):
            with pytest.raises(RuntimeError, match="not supported"):
                c.call(m, {**sess, "delegationToken": "tok"})
        op = c.execute("SELECT 1 AS one")
        assert c.fetch_all(op) == [[1]]
    finally:
        c.close()
