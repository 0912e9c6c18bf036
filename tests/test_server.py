"""HS2-equivalent network front door (impalatogo_spark/server.py).

Reference parity targets:
  * impala-hs2-server.cc:442 (OpenSession/ExecuteStatement/FetchResults)
  * impala-beeswax-server.cc:170 (query/fetch)
  * impala-server.h SessionState — per-session query options & database
  * admission-controller.cc — admit/queue/reject per request pool

The in-process tests drive a live TCP server (real sockets, threaded
handler) against the shared SparkSession; the subprocess test boots the
full daemon + remote shell end-to-end.
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import threading
import time

import pytest

from impalatogo_spark.server import I2SClient, I2SServer

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    srv = I2SServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    yield srv, host, port
    srv.stop()


def _client(server) -> I2SClient:
    _, host, port = server
    c = I2SClient(host, port)
    c.open_session()
    return c


def test_ping_and_basic_query(server):
    c = _client(server)
    try:
        ping = c.call(op="ping")
        assert ping["ok"] and ping["server"] == "i2s-server"
        resp = c.execute("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
        assert resp["columns"] == ["r_regionkey", "r_name"]
        rows = c.fetch_all(resp)
        assert len(rows) == 5 and rows[0][0] == 0
    finally:
        c.close()


def test_session_isolation_set_options(server):
    """HS2 SessionState: SET in one session must not leak into another
    (per-session query options, impala-server.h)."""
    c1, c2 = _client(server), _client(server)
    try:
        c1.execute("SET DEFAULT_ORDER_BY_LIMIT=3")
        q = "SELECT r_regionkey FROM region ORDER BY r_regionkey"
        assert len(c1.fetch_all(c1.execute(q))) == 3
        assert len(c2.fetch_all(c2.execute(q))) == 5
        # SET readout reflects only the session's own options
        opts1 = {r[0] for r in c1.fetch_all(c1.execute("SET"))}
        opts2 = {r[0] for r in c2.fetch_all(c2.execute("SET"))}
        assert "DEFAULT_ORDER_BY_LIMIT" in opts1
        assert "DEFAULT_ORDER_BY_LIMIT" not in opts2
    finally:
        c1.close()
        c2.close()


def test_session_isolation_temp_views(server):
    """Each session is a clone of the catalog session: temp views created in
    one session are invisible to another (the HS2 per-session catalog
    contract)."""
    c1, c2 = _client(server), _client(server)
    try:
        c1.execute("CREATE TEMPORARY VIEW t_srv_iso AS SELECT 1 AS x")
        assert c1.fetch_all(c1.execute("SELECT x FROM t_srv_iso")) == [[1]]
        resp = c2.call(op="execute", session=c2.session,
                       sql="SELECT x FROM t_srv_iso")
        assert not resp["ok"] and "t_srv_iso" in resp["error"]
    finally:
        c1.close()
        c2.close()


def test_fetch_pagination(server):
    c = _client(server)
    try:
        resp = c.execute(
            "SELECT n_nationkey FROM nation ORDER BY n_nationkey", fetch=10
        )
        assert resp["row_count"] == 25
        assert len(resp["rows"]) == 10 and resp["has_more"]
        batch2 = c.call(op="fetch", session=c.session, handle=resp["handle"],
                        max_rows=10)
        assert len(batch2["rows"]) == 10 and batch2["has_more"]
        batch3 = c.call(op="fetch", session=c.session, handle=resp["handle"],
                        max_rows=10)
        assert len(batch3["rows"]) == 5 and not batch3["has_more"]
        all_keys = [r[0] for r in resp["rows"] + batch2["rows"] + batch3["rows"]]
        assert all_keys == list(range(25))
    finally:
        c.close()


def test_error_keeps_connection_usable(server):
    c = _client(server)
    try:
        resp = c.call(op="execute", session=c.session, sql="SELECT FROM nope")
        assert not resp["ok"] and resp["error"]
        assert c.fetch_all(c.execute("SELECT 1 AS one")) == [[1]]
    finally:
        c.close()


def test_explain_and_profile(server):
    c = _client(server)
    try:
        resp = c.execute("EXPLAIN SELECT count(*) FROM nation")
        plan = "\n".join(r[0] for r in resp["rows"])
        assert "Aggregate" in plan or "Scan" in plan
        c.execute("SELECT count(*) AS c FROM nation")
        prof = c.call(op="profile", session=c.session)
        assert prof["ok"] and "Rows: 1" in prof["profile"]
        summ = c.call(op="exec_summary", session=c.session)
        assert summ["ok"] and summ["summary"]["state"] == 4
        nodes = summ["summary"]["nodes"]
        assert nodes and any("AGGREGATE" in n["label"] for n in nodes)
    finally:
        c.close()


def test_impala_dialect_over_the_wire(server):
    """The server speaks the Impala dialect end-to-end, not bare Spark SQL."""
    c = _client(server)
    try:
        rows = c.fetch_all(c.execute(
            "SELECT cast(l_shipdate AS string) AS d FROM lineitem "
            "WHERE year(l_shipdate) = 1995 ORDER BY d LIMIT 2"
        ))
        assert all(r[0].startswith("1995") for r in rows)
    finally:
        c.close()


def test_concurrent_clients_match_serial(server, spark, sf_dir):
    """N concurrent socket clients each get exactly the serial answer
    (the multi-tenant serving path, admission-controller.cc motivation)."""
    queries = {
        "a": "SELECT count(*) AS c FROM lineitem",
        "b": "SELECT count(*) AS c FROM orders",
        "c": "SELECT count(DISTINCT c_nationkey) AS c FROM customer",
        "d": "SELECT sum(r_regionkey) AS c FROM region",
    }
    serial = {}
    c0 = _client(server)
    try:
        for k, q in queries.items():
            serial[k] = c0.fetch_all(c0.execute(q))
    finally:
        c0.close()

    results, errors = {}, []

    def run(k):
        try:
            cc = _client(server)
            try:
                # pin each client to its own scheduler pool, like per-session
                # REQUEST_POOL assignments
                cc.execute(f"SET REQUEST_POOL=pool_{k}")
                results[k] = cc.fetch_all(cc.execute(queries[k]))
            finally:
                cc.close()
        except Exception as e:  # surfaces in the assert below
            errors.append((k, e))

    threads = [threading.Thread(target=run, args=(k,)) for k in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert results == serial


def test_admission_queueing_cap2(server):
    """SET MAX_REQUESTS=2 on a pool: with both slots held, every incoming
    statement queues, and when the slots free up admission follows strict
    arrival order (admission-controller.cc queue semantics). The test
    holds the two slots via the controller directly and gates each
    client's launch on the OBSERVED queue depth, so it cannot go flaky
    under machine load (queries finishing before the next client arrives
    was the timing-dependent failure mode)."""
    srv, host, port = server
    setup = I2SClient(host, port)
    setup.open_session()
    try:
        setup.execute("SET REQUEST_POOL=etl_capped")
        setup.execute("SET MAX_REQUESTS=2")
    finally:
        setup.close()

    stats0 = srv.admission.stats("etl_capped")["etl_capped"]
    labels = [f"q{i}" for i in range(4)]
    errors = []
    clients = []
    for _ in labels:  # sessions pre-opened so launch = one execute call
        c = I2SClient(host, port)
        c.open_session()
        c.execute("SET REQUEST_POOL=etl_capped")
        clients.append(c)

    def run(c, label):
        try:
            resp = c.call(op="execute", session=c.session,
                          sql="SELECT count(*) AS c FROM lineitem",
                          label=label)
            assert resp["ok"], resp
        except Exception as e:
            errors.append((label, e))

    # occupy both slots so every client statement MUST queue
    srv.admission.admit("etl_capped", label="holder_a")
    srv.admission.admit("etl_capped", label="holder_b")
    try:
        threads = []
        for i, (c, lb) in enumerate(zip(clients, labels)):
            t = threading.Thread(target=run, args=(c, lb))
            threads.append(t)
            t.start()
            deadline = time.time() + 60
            while time.time() < deadline:  # gate on observed queue depth
                st = srv.admission.stats("etl_capped")["etl_capped"]
                if st["waiting_now"] >= i + 1:
                    break
                time.sleep(0.01)
            else:
                raise AssertionError(f"client {lb} never queued")
    finally:
        srv.admission.release("etl_capped")
        srv.admission.release("etl_capped")
    for t in threads:
        t.join(timeout=120)
    for c in clients:
        c.close()
    assert not errors, errors
    stats = srv.admission.stats("etl_capped")["etl_capped"]
    assert stats["max_requests"] == 2
    # 2 manual holders + 4 client statements
    assert stats["admitted"] - stats0["admitted"] == 6
    assert stats["queued_total"] - stats0["queued_total"] == 4
    assert stats["running_now"] == 0 and stats["waiting_now"] == 0
    order = srv.admission.admission_order("etl_capped")
    assert [x for x in order if x in labels] == labels, \
        "admission must follow FIFO arrival order"


def test_admission_rejects_when_queue_full(server):
    srv, host, port = server
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=tiny_pool")
        c.execute("SET MAX_REQUESTS=1")
        c.execute("SET MAX_QUEUED=0")
        done = threading.Event()
        hold = threading.Event()

        def long_query():
            cc = I2SClient(host, port)
            cc.open_session()
            try:
                cc.execute("SET REQUEST_POOL=tiny_pool")
                hold.set()
                cc.execute("SELECT count(*) AS c FROM lineitem l, orders o "
                           "WHERE l.l_orderkey = o.o_orderkey")
            finally:
                cc.close()
                done.set()

        t = threading.Thread(target=long_query)
        t.start()
        hold.wait(timeout=30)
        # race the short window: retry until the long query is actually
        # holding the slot or has finished
        rejected = False
        while not done.is_set():
            resp = c.call(op="execute", session=c.session,
                          sql="SELECT 1 AS one")
            if not resp["ok"]:
                assert resp["error_class"] == "AdmissionRejected"
                assert "queue full" in resp["error"]
                rejected = True
                break
        t.join(timeout=120)
        stats = srv.admission.stats("tiny_pool")["tiny_pool"]
        if rejected:
            assert stats["rejected"] >= 1
    finally:
        c.close()


def test_close_session_invalidates(server):
    c = _client(server)
    sid = c.session
    c.close()
    _, host, port = server
    c2 = I2SClient(host, port)
    try:
        resp = c2.call(op="execute", session=sid, sql="SELECT 1")
        assert not resp["ok"] and "unknown session" in resp["error"]
    finally:
        c2._sock.close()


def test_shell_server_end_to_end():
    """Boot the real daemon (`i2s_shell.py --listen`) in a subprocess and
    drive it with the real remote shell (`--connect`) — the full network
    path a reference user gets from `impala-shell -i host:port`."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    srv = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "i2s_shell.py"),
         "--listen", "127.0.0.1:0", "--sf-dir", TEST_SF_DIR],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
    )
    try:
        port = None
        deadline = time.time() + 180
        while time.time() < deadline:
            line = srv.stdout.readline()
            if not line:
                time.sleep(0.2)
                continue
            if line.startswith("i2s-server listening on "):
                port = int(line.rsplit(":", 1)[1])
                break
        assert port, "server never reported its port"
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "i2s_shell.py"),
             "--connect", f"127.0.0.1:{port}", "-B",
             "-q", "SET DEFAULT_ORDER_BY_LIMIT=2; "
                   "SELECT r_regionkey FROM region ORDER BY r_regionkey;"],
            capture_output=True, text=True, timeout=180, env=env,
        )
        assert out.returncode == 0, out.stderr
        data_lines = [ln for ln in out.stdout.splitlines()
                      if ln.strip() and ln.strip() != "OK"]
        assert data_lines == ["0", "1"], out.stdout
    finally:
        srv.terminate()
        try:
            srv.wait(timeout=30)
        except subprocess.TimeoutExpired:
            srv.kill()


def test_hs2_metadata_ops(server):
    """GetSchemas / GetTables / GetColumns equivalents (TCLIService
    metadata RPCs, impala-hs2-server.cc) with %/_ JDBC patterns, served
    per-session (temp views registered in the session's own catalog)."""
    c = _client(server)
    try:
        schemas = c.call(op="get_schemas", session=c.session)
        assert schemas["ok"]
        assert ["default"] in schemas["rows"]

        tables = c.call(op="get_tables", session=c.session)
        names = [r[1] for r in tables["rows"]]
        for t in ("region", "nation", "lineitem", "documents"):
            assert t in names, names
        assert all(r[2] == "VIEW" for r in tables["rows"]
                   if r[1] == "region"), tables["rows"]

        filtered = c.call(op="get_tables", session=c.session,
                          table_pattern="na%")
        assert [r[1] for r in filtered["rows"]] == ["nation"]
        one_char = c.call(op="get_tables", session=c.session,
                          table_pattern="regio_")
        assert [r[1] for r in one_char["rows"]] == ["region"]

        cols = c.call(op="get_columns", session=c.session, table="region")
        assert cols["ok"]
        assert [r[1] for r in cols["rows"]] == \
            [r[1] for r in sorted(cols["rows"], key=lambda r: r[3])]
        byname = {r[1]: r for r in cols["rows"]}
        assert byname["r_regionkey"][2] in ("int", "bigint")
        assert byname["r_name"][2] == "string"

        pat_cols = c.call(op="get_columns", session=c.session,
                          table="region", column_pattern="r\\_name")
        # '_' is a wildcard; the literal-underscore pattern still matches
        assert any(r[1] == "r_name" for r in pat_cols["rows"])
    finally:
        c.close()


def test_idle_session_expiry(spark, sf_dir):
    """--idle_session_timeout parity (impala-server.cc ExpireSessions):
    a session untouched past the limit is reaped; the next use errors as
    expired, and fresh sessions keep working."""
    srv = I2SServer(spark, sf_dir=sf_dir, idle_session_timeout_s=1.0)
    host, port = srv.start()
    try:
        c = I2SClient(host, port)
        c.open_session()
        assert c.fetch_all(c.execute("SELECT 1 AS x")) == [[1]]
        time.sleep(1.4)
        # a different session's dispatch reaps the idle one; the direct
        # probe from the stale session reports expiry either way
        resp = c.call(op="execute", session=c.session, sql="SELECT 1 AS x")
        assert not resp["ok"]
        assert "expired" in resp["error"] or "unknown session" in resp["error"]
        c2 = I2SClient(host, port)
        c2.open_session()
        assert c2.fetch_all(c2.execute("SELECT 2 AS x")) == [[2]]
        c2.close()
        c._sock.close()
    finally:
        srv.stop()


def test_exec_time_limit_cancels_query(server, slow_query):
    """EXEC_TIME_LIMIT_S (query-options.cc exec_time_limit_s): a statement
    past the wall-clock limit is cancelled via its job group, its tasks
    end, and it reports a clean timeout error; the session stays usable and
    later statements are unaffected by the old limit once unset."""
    sql, stages_end = slow_query
    c = _client(server)
    try:
        c.execute("SET EXEC_TIME_LIMIT_S=1")
        # unbounded: astronomically longer than 1s
        resp = c.call(op="execute", session=c.session, sql=sql)
        assert not resp["ok"], "runaway query must be cancelled"
        assert "EXEC_TIME_LIMIT_S" in resp["error"], resp["error"]
        stages_end()
        # session still healthy; removing the limit restores normal runs
        c.execute("UNSET EXEC_TIME_LIMIT_S")
        assert c.fetch_all(c.execute(
            "SELECT count(*) AS c FROM lineitem"))[0][0] > 0
    finally:
        c.close()


def test_remote_shell_commands_over_wire(server, monkeypatch):
    """The --connect RemoteShell: client-side commands (history, rerun)
    stay local while SQL / SET / EXPLAIN / profile round-trip the JSON
    protocol — the impala-shell -i command surface end-to-end without a
    subprocess."""
    import importlib.util

    _, host, port = server
    spec = importlib.util.spec_from_file_location(
        "i2s_shell", os.path.join(REPO, "tools", "i2s_shell.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sh = mod.RemoteShell(host, port, sf_dir=None, delimited=True)
    try:
        assert sh.execute("SET DEFAULT_ORDER_BY_LIMIT=2") == "OK"
        out = sh.execute("SELECT r_regionkey FROM region ORDER BY r_regionkey")
        assert out.splitlines() == ["0", "1"]
        # profile of the last statement comes back over the wire
        prof = sh.execute("profile")
        assert "Rows: 2" in prof
        # explain round-trips through the server's EXPLAIN path
        plan = sh.execute("EXPLAIN SELECT count(*) FROM nation")
        assert "Aggregate" in plan or "Scan" in plan
        # history/rerun are client-side; rerun re-executes over the wire
        assert "[1] SET DEFAULT_ORDER_BY_LIMIT=2" in sh.execute("history")
        assert sh.execute("@2").splitlines() == ["0", "1"]
        ver = sh.execute("version")
        assert "connected to" in ver
    finally:
        try:
            sh.client.close()
        except Exception:
            pass


def test_rejected_admission_arms_no_watchdog(server, monkeypatch):
    """r03 advice: the EXEC_TIME_LIMIT_S watchdog timer and thread-local job
    group were armed BEFORE admission; a rejected admit leaked the armed
    timer + stale group onto the connection's next statement. Admission now
    runs first — a rejected statement must create NO timer at all, and queue
    wait no longer burns the exec-time budget."""
    import impalatogo_spark.server as srvmod

    created = []
    real_timer = srvmod.threading.Timer

    class RecTimer(real_timer):
        def __init__(self, *a, **k):
            created.append(self)
            super().__init__(*a, **k)

    monkeypatch.setattr(srvmod.threading, "Timer", RecTimer)
    srv, host, port = server
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=leakcheck_pool")
        c.execute("SET MAX_REQUESTS=1")
        c.execute("SET MAX_QUEUED=0")
        c.execute("SET EXEC_TIME_LIMIT_S=30")
        srv.admission.admit("leakcheck_pool", label="holder")
        try:
            resp = c.call(op="execute", session=c.session,
                          sql="SELECT 1 AS one")
            assert not resp["ok"]
            assert resp["error_class"] == "AdmissionRejected"
            assert not created, \
                "watchdog timer must not be armed for a rejected statement"
        finally:
            srv.admission.release("leakcheck_pool")
        # with the slot free the limit-bearing statement arms exactly one
        # timer and cancels it on completion
        assert c.fetch_all(c.execute("SELECT 2 AS two")) == [[2]]
        assert len(created) == 1 and created[0].finished.is_set()
    finally:
        c.close()


def test_async_operation_lifecycle(server):
    """Async statement lifecycle (impala-hs2-server.cc:884
    GetOperationStatus / :1048 GetLog): execute_async returns a handle
    immediately, status polls to FINISHED, fetch pages the buffered rows,
    and the operation log records admission + completion."""
    c = _client(server)
    try:
        resp = c.call(op="execute_async", session=c.session,
                      sql="SELECT r_regionkey FROM region ORDER BY r_regionkey")
        assert resp["ok"] and resp["handle"]
        h = resp["handle"]
        deadline = time.time() + 60
        while time.time() < deadline:
            st = c.call(op="operation_status", session=c.session, handle=h)
            assert st["ok"]
            if st["state"] == "FINISHED":
                assert st["row_count"] == 5
                break
            assert st["state"] in ("INITIALIZED", "RUNNING")
            time.sleep(0.05)
        else:
            raise AssertionError("async operation never finished")
        rows = c.call(op="fetch", session=c.session, handle=h,
                      max_rows=100)["rows"]
        assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
        log = c.call(op="get_log", session=c.session, handle=h)["log"]
        assert "admitted to pool" in log and "finished: 5 row(s)" in log
        # fetching a still-unknown handle still errors loudly
        bad = c.call(op="fetch", session=c.session, handle="nope")
        assert not bad["ok"] and "unknown operation" in bad["error"]
    finally:
        c.close()


def test_async_cancel_releases_pool_slot(server, slow_query):
    """Client-initiated cancel (impala-hs2-server.cc:915 CancelOperation /
    impala-beeswax-server.cc:434 Cancel): a deliberately slow async
    statement is cancelled mid-flight via its job group, the state lands
    on CANCELED, its tasks end, fetch refuses, and the admission slot is
    released."""
    srv, host, port = server
    sql, stages_end = slow_query
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=cancel_pool")
        c.execute("SET MAX_REQUESTS=1")
        before = srv.admission.stats("cancel_pool")["cancel_pool"]
        resp = c.call(
            op="execute_async", session=c.session,
            # unbounded: astronomically longer than the poll window, so
            # cancel always lands mid-flight
            sql=sql,
        )
        h = resp["handle"]
        # wait until the statement holds the pool slot (RUNNING + admitted)
        deadline = time.time() + 60
        while time.time() < deadline:
            st = srv.admission.stats("cancel_pool")["cancel_pool"]
            if st["running_now"] == 1:
                break
            time.sleep(0.02)
        else:
            raise AssertionError("async statement never took the pool slot")
        cr = c.call(op="cancel_operation", session=c.session, handle=h)
        assert cr["ok"]
        deadline = time.time() + 60
        while time.time() < deadline:
            st = c.call(op="operation_status", session=c.session, handle=h)
            if st["state"] == "CANCELED":
                break
            time.sleep(0.05)
        else:
            raise AssertionError("cancel never landed")
        stages_end()
        # the pool slot must be released so the next statement admits
        deadline = time.time() + 30
        while time.time() < deadline:
            if srv.admission.stats("cancel_pool")["cancel_pool"][
                    "running_now"] == 0:
                break
            time.sleep(0.02)
        after = srv.admission.stats("cancel_pool")["cancel_pool"]
        assert after["running_now"] == 0
        assert after["admitted"] == before["admitted"] + 1
        bad = c.call(op="fetch", session=c.session, handle=h)
        assert not bad["ok"] and "cancelled" in bad["error"]
        log = c.call(op="get_log", session=c.session, handle=h)["log"]
        assert "cancel requested by client" in log
        # the session keeps working and the pool is healthy
        assert c.fetch_all(c.execute("SELECT 1 AS x")) == [[1]]
    finally:
        c.close()


def test_mem_limit_admission_over_the_wire(server):
    """SET MAX_MEM_RESOURCES + MEM_LIMIT drive memory-based admission on
    the execute path: an over-pool MEM_LIMIT is rejected with the
    admission error, an in-budget one runs, and running_mem drains."""
    srv, host, port = server
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=mem_pool")
        c.execute("SET MAX_MEM_RESOURCES=1g")
        c.execute("SET MEM_LIMIT=2g")
        resp = c.call(op="execute", session=c.session, sql="SELECT 1 AS x")
        assert not resp["ok"]
        assert resp["error_class"] == "AdmissionRejected"
        assert "exceeds pool max mem" in resp["error"]
        c.execute("SET MEM_LIMIT=256m")
        assert c.fetch_all(c.execute("SELECT 2 AS x")) == [[2]]
        st = srv.admission.stats("mem_pool")["mem_pool"]
        assert st["max_mem_resources"] == 1 << 30
        assert st["running_mem"] == 0 and st["rejected"] >= 1
    finally:
        c.close()

def test_mem_spec_reference_suffixes_and_set_time_validation(server):
    """ADVICE r04: the reference's ParseMemSpec (be/src/util/parse-util.cc)
    strips a trailing 'B' before applying g/m/k, so '2GB'/'512MB' are
    valid specs; garbage must be rejected at SET time (not poison every
    later statement) and must never leak an in-flight registry entry."""
    from impalatogo_spark.server import _parse_mem

    assert _parse_mem("2GB") == 2 << 30
    assert _parse_mem("512MB") == 512 << 20
    assert _parse_mem("1.5kb") == 1536
    assert _parse_mem("100b") == 100
    assert _parse_mem("4096") == 4096
    with pytest.raises(ValueError):
        _parse_mem("banana")

    srv, host, port = server
    c = I2SClient(host, port)
    c.open_session()
    try:
        # reference-form suffixes accepted end-to-end (both mem options)
        c.execute("SET MAX_MEM_RESOURCES=2GB")
        c.execute("SET MEM_LIMIT=512MB")
        assert c.fetch_all(c.execute("SELECT 1 AS x")) == [[1]]
        # garbage rejected AT SET TIME with a clear error
        resp = c.call(op="execute", session=c.session, sql="SET MEM_LIMIT=lots")
        assert not resp["ok"] and "memory specification" in resp["error"]
        # the session keeps its previous (valid) value and stays usable
        assert c.fetch_all(c.execute("SELECT 2 AS x")) == [[2]]
        assert ["MEM_LIMIT", "512MB"] in c.fetch_all(c.execute("SET"))
    finally:
        c.close()


def test_bad_mem_limit_via_open_session_config_leaks_no_inflight(server):
    """A bad MEM_LIMIT smuggled through open_session's config dict (which
    bypasses SET-time validation) must fail the statement BEFORE the
    /queries in-flight registration — no phantom forever-RUNNING rows."""
    srv, host, port = server
    c = I2SClient(host, port)
    c.open_session(config={"MEM_LIMIT": "banana"})
    try:
        before = dict(srv._inflight)
        for _ in range(3):
            resp = c.call(op="execute", session=c.session, sql="SELECT 1 AS x")
            assert not resp["ok"] and "memory specification" in resp["error"]
        assert srv._inflight == before  # zero leaked registry entries
        # recoverable: a valid SET un-poisons the session
        c.execute("SET MEM_LIMIT=64m")
        assert c.fetch_all(c.execute("SELECT 3 AS x")) == [[3]]
    finally:
        c.close()

# ---------------------------------------------------------------------------
# bounded-memory incremental fetch (VERDICT r04 #2 — FetchInternal semantics)
# ---------------------------------------------------------------------------

def test_bounded_window_streams_large_result(spark, sf_dir):
    """A result much larger than the fetch window must stream at the
    client's pace: the drainer's buffer high-water mark stays bounded by
    window + one push chunk (driver memory is NOT O(result size)), total
    row count appears only at EOS, and every row arrives once, in order
    (reference: QueryExecState::FetchRows, impala-hs2-server.cc:476)."""
    from impalatogo_spark.server import I2SServer, _StreamingOperation

    srv = I2SServer(spark, sf_dir=sf_dir, fetch_window_rows=64)
    host, port = srv.start()
    c = I2SClient(host, port)
    c.open_session()
    try:
        n_total = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        assert n_total > 1000  # the test is vacuous otherwise
        resp = c.execute(
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "ORDER BY l_orderkey, l_linenumber", fetch=50)
        assert resp["has_more"]
        # total unknown while the plan is still draining
        assert resp["row_count"] is None
        op = srv._sessions[c.session].operations[resp["handle"]]
        assert isinstance(op, _StreamingOperation)
        rows = c.fetch_all(resp, max_rows=50)
        assert len(rows) == n_total
        keys = [(r[0], r[1]) for r in rows]
        assert keys == sorted(keys)
        # no dup/drop across window boundaries: exact multiset parity with
        # a direct collect (the synthetic lineitem has duplicate keys)
        expect = sorted(
            (r[0], r[1]) for r in spark.read.parquet(
                f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_linenumber").collect())
        assert keys == expect
        # the memory bound: never more than window + one drainer chunk
        assert op.max_buffered <= 64 + 256, op.max_buffered
        assert op.total_rows == n_total and op.eos
        # start_over is refused once the result outgrew the window
        with pytest.raises(ValueError, match="start_over"):
            op.start_over()
    finally:
        c.close()
        srv.stop()


def test_small_result_replay_is_eager_equivalent(spark, sf_dir):
    """Results that reach EOS inside the window keep the historical eager
    behavior: exact row_count/elapsed in the execute response, start_over
    replay, and repeated pagination."""
    from impalatogo_spark.server import I2SServer

    srv = I2SServer(spark, sf_dir=sf_dir, fetch_window_rows=64)
    host, port = srv.start()
    c = I2SClient(host, port)
    c.open_session()
    try:
        resp = c.execute("SELECT n_nationkey FROM nation "
                         "ORDER BY n_nationkey", fetch=10)
        assert resp["row_count"] == 25 and resp["elapsed"] is not None
        op = srv._sessions[c.session].operations[resp["handle"]]
        assert c.fetch_all(resp, max_rows=10) == [[i] for i in range(25)]
        op.start_over()
        batch, more = op.fetch(25)
        assert [r[0] for r in batch] == list(range(25)) and not more
    finally:
        c.close()
        srv.stop()


def test_fetch_after_cancel_serves_no_buffered_rows():
    """Once a stream is cancelled, fetch hands out none of its buffered
    rows: it waits for the drainer to settle the operation (after the
    admission slot is released) and then reports the cancel. Before, a
    fetch racing that settle got rows from a cancelled statement."""
    from impalatogo_spark.server import _StreamingOperation

    op = _StreamingOperation(["x"], ["int"], window_rows=2)
    op.push_chunk([[1], [2]], None)  # window full: fetchable
    op.cancel()
    out = {}

    def fetch():
        try:
            out["rows"] = op.fetch(1)
        except RuntimeError as e:
            out["error"] = str(e)

    t = threading.Thread(target=fetch)
    t.start()
    t.join(timeout=0.5)
    assert t.is_alive() and not out, out  # waiting for the drainer
    op.fail(RuntimeError("operation was cancelled"), cancelled=True)
    t.join(timeout=10)
    assert not t.is_alive()
    assert "cancelled" in out.get("error", ""), out


def test_cancel_mid_fetch_releases_admission_slot(spark, sf_dir):
    """A client that cancels (or closes) a half-fetched streaming result
    must free its admission slot — the drainer is blocked on the full
    window, so the abort has to wake it, not just kill Spark jobs."""
    from impalatogo_spark.server import I2SServer

    srv = I2SServer(spark, sf_dir=sf_dir, fetch_window_rows=16)
    host, port = srv.start()
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=stream_pool")
        c.execute("SET MAX_REQUESTS=1")
        resp = c.execute("SELECT l_orderkey FROM lineitem", fetch=8)
        assert resp["has_more"]
        # mid-fetch: the slot is held while the plan drains (reference
        # semantics — resources released at unregistration, not execute)
        st = srv.admission.stats("stream_pool")["stream_pool"]
        assert st["running_now"] == 1
        cr = c.call(op="cancel_operation", session=c.session,
                    handle=resp["handle"])
        assert cr["ok"]
        deadline = time.time() + 30
        while time.time() < deadline:
            if srv.admission.stats("stream_pool")["stream_pool"][
                    "running_now"] == 0:
                break
            time.sleep(0.02)
        assert srv.admission.stats("stream_pool")["stream_pool"][
            "running_now"] == 0
        bad = c.call(op="fetch", session=c.session, handle=resp["handle"])
        assert not bad["ok"] and "cancelled" in bad["error"]
        # the pool is healthy for the next statement
        assert c.fetch_all(c.execute("SELECT 1 AS x")) == [[1]]
    finally:
        c.close()
        srv.stop()


def test_close_session_aborts_streaming_drain(spark, sf_dir):
    """close_session with a half-fetched result aborts the drain and
    releases the slot (the Beeswax door closes its per-connection session
    on disconnect — a Ctrl-C'd impala-shell must not leak a slot)."""
    from impalatogo_spark.server import I2SServer

    srv = I2SServer(spark, sf_dir=sf_dir, fetch_window_rows=16)
    host, port = srv.start()
    c = I2SClient(host, port)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=abandon_pool")
        resp = c.execute("SELECT l_orderkey FROM lineitem", fetch=8)
        assert resp["has_more"]
        assert srv.admission.stats("abandon_pool")["abandon_pool"][
            "running_now"] == 1
    finally:
        c.close()  # close_session on the way out
    deadline = time.time() + 30
    while time.time() < deadline:
        if srv.admission.stats("abandon_pool")["abandon_pool"][
                "running_now"] == 0:
            break
        time.sleep(0.02)
    assert srv.admission.stats("abandon_pool")["abandon_pool"][
        "running_now"] == 0
    srv.stop()
