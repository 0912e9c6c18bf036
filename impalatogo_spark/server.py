"""Network front door: an HS2-equivalent SQL service over TCP.

Reference parity: the reference engine is a network daemon first — clients
speak HiveServer2 (`be/src/service/impala-hs2-server.cc:442`
ExecuteStatement/FetchResults/OpenSession) or Beeswax
(`be/src/service/impala-beeswax-server.cc:170` query/fetch) to impalad,
and every session carries its own query options, database, and in-flight
operation handles (`be/src/service/impala-server.h` SessionState /
QueryExecState).

Spark-native mapping (no Thrift dependency in this container — the wire
format is newline-delimited JSON, one request/response object per line,
deliberately mirroring HS2's RPC surface):

  open_session   -> OpenSession: allocates a session backed by a clone of
                    the catalog session (session.clone_catalog_session: the
                    sf_dir's tables resolved once per process) — an
                    isolated SparkSession sharing the SparkContext but with
                    its OWN SQL conf, temp views and UDFs, which is exactly
                    HS2's per-session contract — plus an Engine for
                    dialect SQL / SET options.
  execute        -> ExecuteStatement (+ first FetchResults batch inline):
                    runs Impala-dialect SQL, returns an operation handle,
                    column names/types, and up to `fetch` rows.
  fetch          -> FetchResults: paginated continuation.
  profile        -> GetRuntimeProfile: the executed plan's per-operator
                    metrics tree (plans.profile_text).
  explain        -> the reference's Explain() endpoint.
  close_operation/close_session/ping -> their HS2 namesakes.

Admission control (`be/src/scheduling/admission-controller.cc`): every
execute is admitted into the session's REQUEST_POOL through
admission.AdmissionController — admitted / FIFO-queued / rejected per the
pool's MAX_REQUESTS / MAX_QUEUED / QUEUE_TIMEOUT_MS (all settable via SET,
like the reference's pool config + REQUEST_POOL option). `admission_stats`
is the /admission debug-endpoint readout.

Scale notes: the server is a thin driver-side layer — each statement runs
in its own drainer thread against the shared SparkContext, so N clients
get Spark's normal FAIR-scheduler concurrency (see tests/test_concurrency).
Result memory is bounded by the CLIENT'S FETCH PACE, not by result size:
the drainer pulls row batches from the running plan via
`df.toLocalIterator()` into a bounded window (`fetch_window_rows`) and
blocks when the window is full — the reference's FetchInternal /
QueryExecState::FetchRows semantics (impala-hs2-server.cc:476,
query-exec-state.h:91). `SELECT * FROM <huge table>` through any door
holds at most one window + one prefetched partition on the driver.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import logging
import socket
import socketserver
import threading
import uuid

from pyspark.sql import SparkSession

from .admission import (AdmissionController, AdmissionRejected,
                        AdmissionTimeout)
from .engine import Engine
from .session import clone_catalog_session

# SET keys consumed by the admission layer (pool config), applied to the
# session's current REQUEST_POOL.
_ADMISSION_KEYS = ("MAX_REQUESTS", "MAX_QUEUED", "QUEUE_TIMEOUT_MS",
                   "MAX_MEM_RESOURCES")

# Engine-level catalog DDL (objects living in per-engine registries, not
# Spark's shared catalog): recorded in the core's local catalog log and,
# when statestore-attached, published on the catalog-update topic — the
# catalogd propagation path (catalog-server; JniCatalog.thrift objects).
import re as _re

_CATALOG_DDL_RE = _re.compile(
    r"(?is)^\s*(?:(?:CREATE|DROP)\s+(?:DATA\s+SOURCE|(?:AGGREGATE\s+)?"
    r"FUNCTION|ROLE)\b|(?:GRANT|REVOKE)\b)")

# the daemon's INFO log (the reference's glog stream tailed by /logs);
# handlers are installed by webui.install_log_ring or the embedding app
_LOG = logging.getLogger("impalatogo_spark.server")


def _parse_mem(value) -> int:
    """Impala memory-option syntax -> bytes: plain ints are bytes; b/k/m/g
    suffixes scale, with an optional trailing 'b' after the multiplier so
    '2GB'/'512MB' parse like the reference's ParseMemSpec
    (be/src/util/parse-util.cc strips the 'B' before applying g/m/k)."""
    s = str(value or "0").strip().lower()
    if not s:
        return 0
    mult = 1
    if s[-1] == "b" and len(s) >= 2 and s[-2] in "kmg":
        s = s[:-1]
    if s[-1] in "bkmg":
        mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[s[-1]]
        s = s[:-1]
    try:
        return int(float(s) * mult)
    except ValueError:
        raise ValueError(
            f"invalid memory specification {value!r}: expected "
            "<number>[B|KB|MB|GB]") from None


def _json_val(v):
    """Make a row value JSON-safe while keeping it faithful enough for a
    shell: temporal -> ISO strings, Decimal -> str (no precision loss),
    bytes -> base64, nested arrays/maps/structs -> recursed containers."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {str(k): _json_val(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_val(x) for x in v]
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return {k: _json_val(x) for k, x in v.asDict().items()}
    return str(v)


def _sql_pattern(pat: str):
    """HS2/JDBC metadata pattern -> compiled regex (% = any run, _ = one
    char, backslash escapes the next char, everything else literal)."""
    import re

    out, i = [], 0
    pat = pat or "%"
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return re.compile("".join(out))


class _Operation:
    """A finished statement's fully-buffered result — used for
    session-level statements (SET/EXPLAIN), metadata RPCs, and as the
    replay form streaming results collapse into when they fit the fetch
    window. fetch() paginates; start_over rewinds."""

    state = "FINISHED"
    eos = True

    def __init__(self, columns, types, rows, profile=""):
        self.columns = columns
        self.types = types
        self.rows = rows
        self.profile = profile
        self.pos = 0
        self.elapsed = 0.0
        self.fetchable = threading.Event()
        self.fetchable.set()

    @property
    def total_rows(self):
        return len(self.rows)

    row_count = total_rows

    def fetch(self, max_rows: int):
        batch = self.rows[self.pos:self.pos + max_rows]
        self.pos += len(batch)
        return batch, self.pos < len(self.rows)

    def start_over(self):
        self.pos = 0

    def cancel(self):  # already complete — nothing to stop
        pass

    close = cancel


class OperationCancelled(Exception):
    """Raised inside a worker when a client cancelled its operation
    (CancelOperation, impala-hs2-server.cc:915 / Beeswax Cancel,
    impala-beeswax-server.cc:434)."""


def exec_summary(o) -> dict:
    """Render an operation's executed-metrics snapshot as a TExecSummary
    dict (ExecStats.thrift) — what the stock impala-shell's `summary`
    command prints via GetExecSummary (impala-hs2-server.cc:1082,
    impala-beeswax-server.cc:481). One TPlanNodeExecSummary per executed
    Spark operator, with num_children reconstructed from the pre-order
    depth sequence so the shell's recursive tree printer walks correctly;
    exec_stats carry cardinality (rows), peak memory, and codegen duration
    from the Spark metric registry."""
    tree = getattr(o, "metrics_tree", None) or []
    eos = bool(getattr(o, "eos", True))
    depths = [d for d, _, _ in tree]
    nodes = []
    for i, (d, name, vals) in enumerate(tree):
        nch = 0
        for j in range(i + 1, len(tree)):
            if depths[j] <= d:
                break
            if depths[j] == d + 1:
                nch += 1
        lat_ns = int(vals.get("duration", 0) or 0) * 1_000_000  # ms -> ns
        stats = {"latency_ns": lat_ns, "cpu_time_ns": lat_ns,
                 "cardinality": int(vals.get("number of output rows", 0)
                                    or 0),
                 "memory_used": int(vals.get("peak memory", 0) or 0)}
        detail = ", ".join(
            f"{k}={v:,}" for k, v in sorted(vals.items())
            if isinstance(v, int) and v)[:160]
        nodes.append({
            "node_id": i, "fragment_id": 0,
            "label": f"{i:02d}:{name.upper()}",
            "label_detail": detail, "num_children": nch,
            "estimated_stats": {"latency_ns": 0, "cpu_time_ns": 0,
                                "cardinality": 0, "memory_used": 0},
            "exec_stats": [stats], "is_active": [not eos],
            "is_broadcast": "Broadcast" in name,
        })
    # TExecState (ExecStats.thrift): RUNNING=3 FINISHED=4
    return {"state": 4 if eos else 3, "nodes": nodes}


class _StreamingOperation:
    """An in-flight statement's result, drained from the running plan at
    the client's fetch pace with a BOUNDED buffer window — the reference's
    incremental-fetch contract (QueryExecState::FetchRows pulls row batches
    from the root fragment on demand, impala-hs2-server.cc:476
    FetchInternal), so coordinator memory is bounded by fetch pace, never
    by result size.

    A drainer thread (started by I2SServer._execute_core, which also owns
    the admission/registry/watchdog bookkeeping) push_chunk()s converted
    rows; push blocks while the window is full. Results that reach EOS
    within the window keep the full row list (replay mode — start_over and
    re-pagination behave exactly like the historical eager operation);
    larger results drop rows after delivery and refuse start_over, like
    the reference's beeswax server. `fetchable` (window full or EOS) is
    what the protocol doors report as FINISHED — Impala's
    QueryState::FINISHED means "rows are available to fetch", not EOS."""

    def __init__(self, columns, types, label: str = "",
                 window_rows: int = 4096, sc=None, group: str | None = None):
        import collections
        import time as _time

        self.columns = columns
        self.types = types
        self.label = label
        self.window = max(1, int(window_rows))
        self._sc = sc
        self._group = group
        self._cond = threading.Condition()
        self._buf = collections.deque()
        self._replay: list | None = []
        self.pos = 0            # rows delivered to the client so far
        self.push_count = 0     # rows produced by the plan so far
        self.max_buffered = 0   # high-water mark: proves the window bound
        self.eos = False
        self.state = "RUNNING"
        self.error: BaseException | None = None
        self.elapsed = None
        self._profile: str | None = None
        self.abort = threading.Event()
        self.fetchable = threading.Event()
        self.done = threading.Event()
        self.on_fetchable = None  # async-wrapper hook
        self._last_fetch = _time.monotonic()
        self.metrics_tree: list = []   # executed_metrics snapshot at EOS
        self.dml_rows: int | None = None  # rows written, for CloseInsert

    # -- drainer side ------------------------------------------------------

    def _set_fetchable(self):
        self.fetchable.set()
        cb = self.on_fetchable
        if cb is not None:
            cb()

    def push_chunk(self, rows: list, idle_timeout_s: float | None) -> None:
        """Append produced rows, blocking while the window is full. Raises
        OperationCancelled when the operation is aborted (close/cancel) or
        when no client has fetched for idle_timeout_s on a full window
        (the reference's --idle_query_timeout reap)."""
        import time as _time

        with self._cond:
            while len(self._buf) >= self.window:
                if self.abort.is_set():
                    raise OperationCancelled("cancelled by client")
                if (idle_timeout_s is not None
                        and _time.monotonic() - self._last_fetch
                        > idle_timeout_s):
                    raise OperationCancelled(
                        f"no fetch for {idle_timeout_s:g}s on a full "
                        "result window (idle query reaped)")
                self._cond.wait(timeout=0.2)
            if self.abort.is_set():
                raise OperationCancelled("cancelled by client")
            self._buf.extend(rows)
            self.push_count += len(rows)
            if self._replay is not None:
                if self.push_count <= self.window:
                    self._replay.extend(rows)
                else:
                    self._replay = None  # too big to replay: stream-only
            if len(self._buf) > self.max_buffered:
                self.max_buffered = len(self._buf)
            if len(self._buf) >= self.window:
                self._set_fetchable()
            self._cond.notify_all()

    def finish(self, elapsed: float, profile: str,
               metrics_tree=None, dml_rows=None) -> None:
        with self._cond:
            self.eos = True
            self.state = "FINISHED"
            self.elapsed = elapsed
            self._profile = profile
            self.metrics_tree = metrics_tree or []
            self.dml_rows = dml_rows
            if self._replay is not None:
                self._buf.clear()  # replay list serves all further fetches
            self._set_fetchable()
            self.done.set()
            self._cond.notify_all()

    def fail(self, exc: BaseException, cancelled: bool) -> None:
        with self._cond:
            self.error = exc
            self.state = "CANCELED" if cancelled else "ERROR"
            self._set_fetchable()
            self.done.set()
            self._cond.notify_all()

    # -- client side -------------------------------------------------------

    def fetch(self, max_rows: int):
        """Block until rows are available (or the operation settles), then
        return (batch, has_more). Re-raises the drainer's error on
        ERROR/CANCELED — this is where mid-stream failures surface."""
        import time as _time

        max_rows = max(1, int(max_rows))
        with self._cond:
            self._last_fetch = _time.monotonic()
            # gate on `fetchable` (window full or EOS), not first-rows: a
            # result that fits the window is never handed out before its
            # completion bookkeeping (slot release, profile, total count)
            # settles — the historical eager semantics clients rely on.
            # A cancelled stream serves no more buffered rows: wait for
            # the drainer to settle it as CANCELED.
            while not self.done.is_set() and (
                    self.abort.is_set() or not self.fetchable.is_set()
                    or (not self._buf and not self.eos)):
                self._cond.wait(timeout=0.2)
                self._last_fetch = _time.monotonic()
            if self.state == "ERROR":
                raise self.error if isinstance(self.error, Exception) \
                    else RuntimeError(str(self.error))
            if self.state == "CANCELED":
                raise RuntimeError("operation was cancelled")
            if self.eos and self._replay is not None:
                batch = self._replay[self.pos:self.pos + max_rows]
                self.pos += len(batch)
                return batch, self.pos < len(self._replay)
            batch = []
            while self._buf and len(batch) < max_rows:
                batch.append(self._buf.popleft())
            self.pos += len(batch)
            more = bool(self._buf) or not self.eos
            self._cond.notify_all()
            return batch, more

    def start_over(self):
        with self._cond:
            if not (self.eos and self._replay is not None):
                raise ValueError(
                    "start_over is not supported on results larger than "
                    f"the fetch window ({self.window} rows)")
            self.pos = 0

    def cancel(self):
        """Abort the stream: wake a window-blocked drainer AND kill the
        statement's Spark job group (re-fired until the drainer exits —
        a one-shot cancel loses the race with job submission)."""
        if self.done.is_set():
            return
        self.abort.set()
        with self._cond:
            self._cond.notify_all()
        if self._sc is not None and self._group:
            try:
                self._sc.cancelJobGroup(self._group)
            except Exception:
                return

            def _reaper():
                while not self.done.wait(timeout=0.2):
                    try:
                        self._sc.cancelJobGroup(self._group)
                    except Exception:
                        return

            threading.Thread(target=_reaper, daemon=True,
                             name=f"{self._group}-reaper").start()

    close = cancel  # discarding the handle mid-stream aborts the drain

    # -- readouts ----------------------------------------------------------

    @property
    def total_rows(self):
        return self.push_count if self.eos else None

    @property
    def row_count(self):
        """Rows produced so far (== total at EOS) — the reference reports
        rows-fetched-so-far while a query is still executing."""
        return self.push_count

    @property
    def profile(self):
        if self._profile is not None:
            return self._profile
        return (f"Query: {self.label}\nState: {self.state}\n"
                f"Rows produced so far: {self.push_count}\n")


class _AsyncOperation:
    """An in-flight statement with the reference's operation lifecycle
    (impala-hs2-server.cc:884 GetOperationStatus / :915 CancelOperation /
    :1048 GetLog): ExecuteStatement returns this handle immediately, the
    statement runs on a worker thread inside its own Spark job group, and
    the client polls status / fetches once FINISHED / cancels mid-flight
    (cancelJobGroup is the proven EXEC_TIME_LIMIT_S plumbing)."""

    def __init__(self, sc, label: str):
        import time as _time

        self._sc = sc
        self.label = label
        self.group = f"i2s-async-{uuid.uuid4().hex[:8]}"
        self.state = "INITIALIZED"
        self.error: str | None = None
        self.exception: BaseException | None = None
        self.result = None  # _Operation | _StreamingOperation
        self.cancel_requested = threading.Event()
        self.done = threading.Event()
        self.fetchable = threading.Event()  # result rows can be fetched
        self._t0 = _time.monotonic()
        self._log: list[str] = []
        self._lock = threading.Lock()
        self.log_line(f"operation created: {label!r}")

    def attach(self, op) -> None:
        """Called by _execute_core as soon as the statement's result
        operation exists (before EOS for streaming results) so clients can
        fetch while the plan is still draining."""
        self.result = op
        if isinstance(op, _StreamingOperation):
            op.on_fetchable = self.fetchable.set
            if op.fetchable.is_set():
                self.fetchable.set()
            if self.cancel_requested.is_set():
                op.cancel()
        else:
            self.fetchable.set()

    def wait_fetchable(self, timeout: float = 3600.0) -> None:
        """Block until rows are available or the operation settled — the
        sync-RPC wait (the reference's sync ExecuteStatement returns when
        the query has results to fetch, not at EOS)."""
        self.fetchable.wait(timeout=timeout)

    def log_line(self, msg: str) -> None:
        import time as _time

        with self._lock:
            self._log.append(f"[{_time.monotonic() - self._t0:8.3f}s] {msg}")

    @property
    def log_text(self) -> str:
        with self._lock:
            return "\n".join(self._log)

    def cancel(self) -> None:
        """Client-initiated cancel: flag first (so the worker maps the Spark
        job failure to CANCELED, not ERROR), then abort the stream / kill
        the job group — repeatedly, because cancelJobGroup only hits jobs
        ALREADY running: a cancel landing between statement planning and
        the first job launch would otherwise be lost."""
        if self.done.is_set():
            return
        self.cancel_requested.set()
        self.log_line("cancel requested by client")
        r = self.result
        if isinstance(r, _StreamingOperation):
            r.cancel()  # owns the abort flag + job-group reaper
            return

        def _reaper():
            while not self.done.wait(timeout=0.2):
                try:
                    self._sc.cancelJobGroup(self.group)
                except Exception:
                    return

        self._sc.cancelJobGroup(self.group)
        threading.Thread(target=_reaper, name=f"{self.group}-reaper",
                         daemon=True).start()

    close = cancel

    def run(self, fn) -> None:
        """Execute fn() on a worker thread; fn returns (kind, operation).
        For streaming results fn returns as soon as the drainer starts —
        the worker then waits for the stream to settle so state/log reflect
        actual completion (RUNNING until EOS/cancel/error)."""

        def _worker():
            self.state = "RUNNING"
            self.log_line("statement started")
            try:
                _kind, op = fn()
                self.result = op
                if isinstance(op, _StreamingOperation):
                    op.done.wait()
                    if op.state == "CANCELED":
                        self.state = "CANCELED"
                        self.log_line("cancelled")
                    elif op.state == "ERROR":
                        self.state = "ERROR"
                        self.exception = op.error
                        self.error = (f"{type(op.error).__name__}: "
                                      f"{op.error}")
                        self.log_line(f"error: {self.error}")
                    else:
                        self.state = "FINISHED"
                        self.log_line(
                            f"finished: {op.push_count} row(s) buffered")
                else:
                    self.state = "FINISHED"
                    self.log_line(
                        f"finished: {len(op.rows)} row(s) buffered")
            except OperationCancelled:
                self.state = "CANCELED"
                self.log_line("cancelled")
            except BaseException as e:
                if self.cancel_requested.is_set():
                    self.state = "CANCELED"
                    self.log_line("cancelled")
                else:
                    self.state = "ERROR"
                    self.exception = e
                    self.error = f"{type(e).__name__}: {e}"
                    self.log_line(f"error: {self.error}")
            finally:
                self.done.set()
                self.fetchable.set()

        t = threading.Thread(
            target=_worker, name=f"i2s-op-{self.group}", daemon=True
        )
        t.start()


class _Session:
    def __init__(self, spark: SparkSession, sf_dir: str | None):
        import time as _time

        self.spark = (clone_catalog_session(spark, sf_dir) if sf_dir
                      else spark.newSession())
        self.engine = Engine(self.spark)  # pins the engine's session confs
        self.operations: dict[str, object] = {}
        self.last_handle: str | None = None
        self.last_used = _time.monotonic()

    @property
    def pool(self) -> str:
        return self.engine.options.get("REQUEST_POOL") or "default"

    def close(self) -> None:
        """Abort every live operation so a window-blocked drainer releases
        its admission slot (reference: closing a session unregisters its
        in-flight queries, impala-server.cc CloseSessionInternal)."""
        for o in list(self.operations.values()):
            try:
                o.close()
            except Exception:
                pass
        self.operations.clear()


class SessionExpired(Exception):
    """The reference's idle-session expiration (impala-server.cc
    --idle_session_timeout): a session untouched past the timeout is
    closed server-side; subsequent use gets this error."""


class I2SServer:
    """Threaded TCP server; `start()` binds and serves in the background.

    idle_session_timeout_s mirrors the reference daemon's
    --idle_session_timeout flag (impala-server.cc ExpireSessions): sessions
    idle past the limit are reaped lazily at dispatch time (no reaper
    thread needed — an expired session is indistinguishable from a reaped
    one until someone touches it)."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None,
                 host: str = "127.0.0.1", port: int = 0,
                 idle_session_timeout_s: float | None = None,
                 fetch_window_rows: int = 4096,
                 fetch_idle_timeout_s: float | None = 3600.0,
                 tls=None):
        self._spark = spark
        self._sf_dir = sf_dir
        self._host = host
        self._port = port
        # optional tls.TlsConfig: the port becomes TLS-only (reference
        # thrift-server.cc EnableSsl)
        self._tls = tls
        # bounded result window (rows) per statement + the idle-query reap
        # for abandoned fetches (reference --idle_query_timeout)
        self.fetch_window_rows = int(fetch_window_rows)
        self.fetch_idle_timeout_s = fetch_idle_timeout_s
        self._sessions: dict[str, _Session] = {}
        self._lock = threading.Lock()
        self.admission = AdmissionController()
        self.idle_session_timeout_s = idle_session_timeout_s
        self._tcp: socketserver.ThreadingTCPServer | None = None
        self._thread: threading.Thread | None = None
        # query registry for the debug webserver (/queries,
        # impala-server.cc RegisterWebserverCallbacks: in-flight +
        # completed-query log, bounded like --query_log_size)
        import collections

        self.query_log = collections.deque(maxlen=200)
        self._inflight: dict[int, dict] = {}
        self._query_seq = 0
        self.queries_completed = 0
        # /rpcz per-method call counters (impala's rpcz debug page); the
        # thrift doors count into the same registry with a door prefix
        self.rpc_counts: dict[str, int] = {}
        # cluster control plane (statestore.py attach_statestore): known
        # members from the transient membership topic, and the local
        # catalog log (ordered engine-level DDL statements — data sources,
        # functions, grants) that every NEW session replays, the reference
        # impalad's local catalog cache fed by the catalog-update topic
        self.cluster_membership: dict[str, str] = {}
        self.local_catalog: list[str] = []
        self._catalog_version = 0
        self.statestore_subscriber = None
        self.statestore_subscriber_id: str | None = None

    def count_rpc(self, name: str) -> None:
        with self._lock:
            self.rpc_counts[name] = self.rpc_counts.get(name, 0) + 1

    def apply_catalog_update(self, stmt: str, publish: bool = True) -> None:
        """Record an engine-level catalog DDL statement in the local
        catalog log (replayed into new sessions) and, when this daemon is
        statestore-attached and the statement originated locally, publish
        it on the catalog-update topic (the catalogd role)."""
        with self._lock:
            self._catalog_version += 1
            version = self._catalog_version
            self.local_catalog.append(stmt)
        sub = self.statestore_subscriber
        if publish and sub is not None:
            import json as _json

            from .statestore import CATALOG_TOPIC

            sub.publish(CATALOG_TOPIC, entries=[{
                "key": f"{self.statestore_subscriber_id}/ddl-{version}",
                "value": _json.dumps({"stmt": stmt, "version": version})}])

    # -- lifecycle -----------------------------------------------------------

    def start(self) -> tuple[str, int]:
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                for raw in self.rfile:
                    line = raw.decode("utf-8", errors="replace").strip()
                    if not line:
                        continue
                    try:
                        req = json.loads(line)
                        resp = outer._dispatch(req)
                    except (AdmissionRejected, AdmissionTimeout) as e:
                        resp = {"ok": False, "error": str(e),
                                "error_class": type(e).__name__}
                    except Exception as e:  # per-request fault isolation
                        resp = {"ok": False, "error": str(e),
                                "error_class": type(e).__name__}
                    self.wfile.write(
                        (json.dumps(resp, default=str) + "\n").encode("utf-8")
                    )
                    self.wfile.flush()

        class TCP(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

            def __init__(self, *a, **k):
                super().__init__(*a, **k)
                self._conns: set = set()
                self._conns_lock = threading.Lock()

            def process_request(self, request, client_address):
                with self._conns_lock:
                    self._conns.add(request)
                super().process_request(request, client_address)

            def shutdown_request(self, request):
                with self._conns_lock:
                    self._conns.discard(request)
                super().shutdown_request(request)

            def close_all_connections(self):
                """A stopping daemon severs live client connections (a
                killed impalad drops its TCP sessions — what failover
                clients detect), instead of leaving handler threads
                serving a half-dead server."""
                with self._conns_lock:
                    conns = list(self._conns)
                for s in conns:
                    try:
                        s.shutdown(socket.SHUT_RDWR)
                    except OSError:
                        pass
                    try:
                        s.close()
                    except OSError:
                        pass

        self._tcp = TCP((self._host, self._port), Handler)
        if self._tls is not None:
            from .tls import wrap_tcp_server

            wrap_tcp_server(self._tcp, self._tls)
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, name="i2s-server", daemon=True
        )
        self._thread.start()
        return self._tcp.server_address[:2]

    def stop(self) -> None:
        if self._tcp is not None:
            self._tcp.shutdown()
            self._tcp.close_all_connections()
            self._tcp.server_close()
            self._tcp = None

    # -- dispatch ------------------------------------------------------------

    def _session(self, req) -> _Session:
        import time as _time

        sid = req.get("session")
        with self._lock:
            if self.idle_session_timeout_s is not None:
                now = _time.monotonic()
                for k in [k for k, s in self._sessions.items()
                          if now - s.last_used > self.idle_session_timeout_s]:
                    self._sessions[k].close()  # abort window-blocked drains
                    del self._sessions[k]
                    if k == sid:
                        raise SessionExpired(
                            f"session {sid!r} expired after "
                            f"{self.idle_session_timeout_s}s idle"
                        )
            sess = self._sessions.get(sid)
            if sess is not None:
                sess.last_used = _time.monotonic()
        if sess is None:
            raise ValueError(f"unknown session: {sid!r}")
        return sess

    def _dispatch(self, req: dict) -> dict:
        op = req.get("op")
        if op:
            self.count_rpc(f"json.{op}")
        if op == "ping":
            return {"ok": True, "server": "i2s-server",
                    "spark_version": self._spark.version,
                    "sessions": len(self._sessions)}
        if op == "open_session":
            sess = _Session(self._spark, req.get("sf_dir") or self._sf_dir)
            # replay the local catalog log (impalad local catalog cache):
            # engine-level objects — data sources, functions, grants — are
            # per-engine registries, so a new session materializes them
            # from the log the statestore keeps in sync across daemons
            with self._lock:
                catalog_stmts = list(self.local_catalog)
            for stmt in catalog_stmts:
                try:
                    sess.engine.sql(stmt)
                except Exception:
                    pass  # e.g. re-CREATE after a later DROP in the log
            for k, v in (req.get("config") or {}).items():
                sess.engine.set(k, v)
            sid = uuid.uuid4().hex[:12]
            with self._lock:
                self._sessions[sid] = sess
            _LOG.info("session %s opened (pool=%s)", sid, sess.pool)
            return {"ok": True, "session": sid,
                    "spark_version": self._spark.version}
        if op == "close_session":
            with self._lock:
                closing = self._sessions.pop(req.get("session"), None)
            if closing is not None:
                closing.close()
                _LOG.info("session %s closed", req.get("session"))
            return {"ok": True}
        if op == "admission_stats":
            return {"ok": True, "pools": self.admission.stats()}

        sess = self._session(req)
        if op == "execute":
            return self._execute(sess, req)
        if op == "execute_async":
            return self._execute_async(sess, req)
        if op == "operation_status":
            o = self._resolve(sess, req)
            if isinstance(o, _AsyncOperation):
                return {"ok": True, "state": self.proto_state(o),
                        "error": o.error,
                        "row_count": (o.result.row_count
                                      if o.result is not None else None)}
            return {"ok": True, "state": "FINISHED", "error": None,
                    "row_count": o.row_count}
        if op == "cancel_operation":
            o = self._resolve(sess, req)
            o.cancel()  # streaming results abort their drain; eager no-op
            return {"ok": True, "state": o.state}
        if op == "get_log":
            o = self._resolve(sess, req)
            log = o.log_text if isinstance(o, _AsyncOperation) else ""
            return {"ok": True, "log": log}
        if op == "fetch":
            o = self._finished(self._resolve(sess, req))
            rows, more = o.fetch(int(req.get("max_rows", 1024)))
            return {"ok": True, "rows": rows, "has_more": more}
        if op == "profile":
            o = self._finished(self._resolve(sess, req))
            return {"ok": True, "profile": o.profile}
        if op == "exec_summary":
            o = self._finished(self._resolve(sess, req))
            return {"ok": True, "summary": exec_summary(o)}
        if op == "explain":
            return {"ok": True, "plan": sess.engine.explain(req["sql"])}
        if op == "close_operation":
            closing = sess.operations.pop(req.get("handle"), None)
            if closing is not None:
                closing.close()  # abort a still-draining stream
            return {"ok": True}
        # HS2 metadata RPCs (GetSchemas / GetTables / GetColumns —
        # TCLIService; the reference serves these from its catalog,
        # impala-hs2-server.cc GetSchemas/GetTables/GetColumns). Patterns
        # use the HS2/JDBC convention: % = any, _ = one char.
        if op == "get_schemas":
            pat = _sql_pattern(req.get("schema_pattern", "%"))
            rows = [[d.name] for d in sess.spark.catalog.listDatabases()
                    if pat.fullmatch(d.name)]
            return {"ok": True, "columns": ["TABLE_SCHEM"],
                    "types": ["string"], "rows": rows, "has_more": False}
        if op == "get_tables":
            pat = _sql_pattern(req.get("table_pattern", "%"))
            rows = [
                [t.namespace[0] if t.namespace else "", t.name,
                 "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "TABLE"]
                for t in sess.spark.catalog.listTables()
                if pat.fullmatch(t.name)
            ]
            rows.sort()
            return {"ok": True,
                    "columns": ["TABLE_SCHEM", "TABLE_NAME", "TABLE_TYPE"],
                    "types": ["string", "string", "string"],
                    "rows": rows, "has_more": False}
        if op == "get_columns":
            tbl = req["table"]
            pat = _sql_pattern(req.get("column_pattern", "%"))
            rows = [
                [tbl, f.name, f.dataType.simpleString(), i + 1,
                 bool(f.nullable)]
                for i, f in enumerate(sess.spark.table(tbl).schema.fields)
                if pat.fullmatch(f.name)
            ]
            return {"ok": True,
                    "columns": ["TABLE_NAME", "COLUMN_NAME", "TYPE_NAME",
                                "ORDINAL_POSITION", "NULLABLE"],
                    "types": ["string", "string", "string", "int", "boolean"],
                    "rows": rows, "has_more": False}
        raise ValueError(f"unknown op: {op!r}")

    # -- statement execution ---------------------------------------------------

    def _apply_admission_set(self, sess: _Session, key: str, value) -> None:
        kwargs = {"MAX_REQUESTS": "max_requests",
                  "MAX_QUEUED": "max_queued",
                  "QUEUE_TIMEOUT_MS": "queue_timeout_ms",
                  "MAX_MEM_RESOURCES": "max_mem_resources"}[key]
        v = _parse_mem(value) if key == "MAX_MEM_RESOURCES" else int(value)
        self.admission.configure_pool(sess.pool, **{kwargs: v})

    def _execute(self, sess: _Session, req: dict) -> dict:
        fetch = int(req.get("fetch", 1024))
        kind, o = self._execute_core(sess, req)
        if kind != "query":
            # session-level statements keep the historical JSON shape:
            # no operation handle is registered
            return {"ok": True, "handle": None, "columns": o.columns,
                    "types": o.types, "rows": o.rows, "has_more": False}
        handle = uuid.uuid4().hex[:12]
        sess.operations[handle] = o
        sess.last_handle = handle
        # blocks until rows are available or the stream settles; drain
        # errors (timeout/cancel/runtime) re-raise here — the sync contract
        rows, more = o.fetch(fetch)
        return {"ok": True, "handle": handle, "columns": o.columns,
                "types": o.types, "rows": rows, "has_more": more,
                "row_count": o.total_rows, "elapsed": o.elapsed}

    def _execute_core(self, sess: _Session, req: dict,
                      aop: _AsyncOperation | None = None
                      ) -> tuple[str, _Operation]:
        """Run one statement to a buffered _Operation. Shared by the JSON
        protocol's synchronous execute, the async operation lifecycle, and
        the Thrift HS2 codec. Returns (kind, operation) with kind in
        {"set", "unset", "explain", "query"}."""
        import re
        import time as _time

        sql = (req.get("sql") or "").strip().rstrip(";").strip()
        label = req.get("label", sql[:40])

        # session-level statements that never hit Spark: SET / UNSET
        m = re.match(r"(?is)^SET(\s+(\w+)\s*=\s*(.*))?$", sql)
        if m:
            if m.group(1) is None:
                rows = [[k, v] for k, v in sorted(sess.engine.options.items())]
                return "set", _Operation(["option", "value"],
                                         ["string", "string"], rows)
            k, v = m.group(2).upper(), m.group(3).strip().strip("'\"")
            if k in ("MEM_LIMIT", "MAX_MEM_RESOURCES"):
                _parse_mem(v)  # reject bad specs at SET time, not query time
            sess.engine.set(k, v)
            if k in _ADMISSION_KEYS:
                self._apply_admission_set(sess, k, v)
            return "set", _Operation([], [], [])
        m = re.match(r"(?is)^UNSET\s+(\w+)$", sql)
        if m:
            sess.engine.unset(m.group(1))
            return "unset", _Operation([], [], [])
        if re.match(r"(?is)^EXPLAIN\s", sql):
            plan = sess.engine.explain(sql[len("EXPLAIN"):].strip())
            rows = [[line] for line in plan.splitlines()]
            return "explain", _Operation(["Explain String"], ["string"], rows)

        pool = sess.pool
        # REQUEST_POOL was SET on a (possibly different) connection thread;
        # pool pinning is thread-local, so re-apply before running (eager
        # DDL executes inside engine.sql on THIS thread; the drainer pins
        # its own thread again for the SELECT jobs).
        sess.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", pool if pool != "default" else None
        )
        # EXEC_TIME_LIMIT_S (query-options.cc exec_time_limit_s; the
        # reference coordinator cancels the query when the wall-clock limit
        # expires): run the statement in its own job group and cancel the
        # group from a watchdog timer. setJobGroup is thread-local, so only
        # this statement's jobs are cancelled. An async operation always
        # runs in its own group so CancelOperation can target it.
        limit = float(sess.engine.options.get("EXEC_TIME_LIMIT_S", "0") or 0)
        sc = sess.spark.sparkContext
        group = aop.group if aop is not None else f"i2s-exec-{uuid.uuid4().hex[:8]}"
        timer = None
        timed_out = threading.Event()
        # /queries debug registry (impala-server.cc webserver callbacks):
        # visible as in-flight from admission to completion, then moved to
        # the bounded completed-query log.
        # parse MEM_LIMIT BEFORE registering in-flight: a bad spec (possible
        # via open_session's config dict, which bypasses the SET-time
        # validation above) must raise without leaking a forever-RUNNING
        # /queries registry entry.
        mem = _parse_mem(sess.engine.options.get("MEM_LIMIT", "0"))
        rec = {"label": label, "sql": sql[:2000], "pool": pool,
               "state": "QUEUED", "start_ts": _time.time(),
               "elapsed_s": None, "rows": None, "error": None}
        with self._lock:  # the webui snapshots these under the same lock
            self._query_seq += 1
            qid = rec["id"] = self._query_seq
            self._inflight[qid] = rec
        # Admit BEFORE arming the watchdog/job group: the reference treats
        # queue timeout (QUEUE_TIMEOUT_MS) and exec time (EXEC_TIME_LIMIT_S)
        # as separate budgets, and an armed timer + thread-local job group
        # must not leak onto later statements when admit() raises.
        # memory-based admission (admission-controller.cc mem_resources):
        # the query's to-admit memory is its MEM_LIMIT option — the
        # reference's mem_limit-based admission configuration (pool cap via
        # SET MAX_MEM_RESOURCES; plan-estimate admission would require
        # planning DDL before admitting it, which this engine executes
        # eagerly, so the option-driven mode is the one implemented).
        try:
            self.admission.admit(pool, label=label, mem=mem)
        except BaseException as e:
            rec.update(state="REJECTED", error=str(e))
            _LOG.warning("query %s REJECTED by admission (pool=%s): %s",
                         qid, pool, e)
            with self._lock:
                self._inflight.pop(qid, None)
                self.query_log.appendleft(rec)
            raise
        rec["state"] = "RUNNING"
        if aop is not None:
            aop.log_line(f"admitted to pool {pool!r}")
        # Phase 1 (this thread): plan the statement — and execute eager
        # DDL/INSERT side-effects — inside the job group. Planning errors
        # finalize the bookkeeping and raise to the caller with their
        # original type (sync clients see AdmissionRejected/ValueError/...
        # as before).
        group_set = False
        try:
            if aop is not None and aop.cancel_requested.is_set():
                raise OperationCancelled("cancelled while queued")
            if limit > 0 or aop is not None:
                sc.setJobGroup(group, label, interruptOnCancel=True)
                group_set = True
            if limit > 0:

                def _cancel():
                    timed_out.set()
                    sc.cancelJobGroup(group)

                timer = threading.Timer(limit, _cancel)
                timer.daemon = True
                timer.start()
            try:
                df = sess.engine.sql(sql)
            except Exception:
                if aop is not None and aop.cancel_requested.is_set():
                    raise OperationCancelled("cancelled by client") from None
                if timed_out.is_set():
                    raise TimeoutError(
                        f"query exceeded EXEC_TIME_LIMIT_S={limit:g}s "
                        "and was cancelled"
                    ) from None
                raise
            if _CATALOG_DDL_RE.match(sql):
                # executed eagerly inside engine.sql just above; record +
                # propagate (catalogd role) now that it succeeded
                self.apply_catalog_update(sql)
            op = _StreamingOperation(
                list(df.columns),
                [f.dataType.simpleString() for f in df.schema.fields],
                label=sql[:200], window_rows=self.fetch_window_rows,
                sc=sc, group=group,
            )
        except BaseException as e:
            rec["state"] = ("CANCELED" if isinstance(e, OperationCancelled)
                            else "ERROR")
            if rec["state"] == "ERROR":
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["elapsed_s"] = round(_time.time() - rec["start_ts"], 4)
            with self._lock:
                self._inflight.pop(qid, None)
                self.query_log.appendleft(rec)
                self.queries_completed += 1
            self.admission.release(pool, mem=mem)
            if timer is not None:
                timer.cancel()
            raise
        finally:
            if group_set:
                sc.setJobGroup(None, None)  # never leak onto this thread
        if aop is not None:
            aop.attach(op)
        rec["_op"] = op  # webui /query detail page (underscore keys are
        # stripped from the /queries listings)
        # Phase 2 (drainer thread): pull row batches from the running plan
        # at the client's fetch pace — reference FetchInternal semantics.
        threading.Thread(
            target=self._drain, name=f"i2s-drain-{group}", daemon=True,
            args=(sess, op, df, rec, qid, pool, mem, limit, group, aop,
                  timer, timed_out),
        ).start()
        return "query", op

    def _drain(self, sess: _Session, op: _StreamingOperation, df, rec: dict,
               qid: int, pool: str, mem: int, limit: float, group: str,
               aop: _AsyncOperation | None, timer, timed_out) -> None:
        """Drainer thread body: iterate the plan into the operation's
        bounded window, then settle the operation AFTER all bookkeeping
        (admission slot, /queries registry, watchdog) is finalized, so a
        client unblocked by completion observes a consistent server."""
        import time as _time

        sc = sess.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool",
                            pool if pool != "default" else None)
        sc.setJobGroup(group, op.label, interruptOnCancel=True)
        t0 = _time.perf_counter()
        settle = None  # ("finish", elapsed, profile) | ("cancel"|"error", e)
        CHUNK = 256
        try:
            try:
                chunk = []
                for row in df.toLocalIterator(prefetchPartitions=True):
                    chunk.append([_json_val(v) for v in tuple(row)])
                    if len(chunk) >= CHUNK:
                        op.push_chunk(chunk, self.fetch_idle_timeout_s)
                        chunk = []
                if chunk:
                    op.push_chunk(chunk, self.fetch_idle_timeout_s)
            except OperationCancelled:
                raise
            except Exception:
                if op.abort.is_set() or (
                        aop is not None and aop.cancel_requested.is_set()):
                    raise OperationCancelled("cancelled by client") from None
                if timed_out.is_set():
                    raise TimeoutError(
                        f"query exceeded EXEC_TIME_LIMIT_S={limit:g}s "
                        "and was cancelled"
                    ) from None
                raise
            elapsed = _time.perf_counter() - t0
            from .plans import (dml_rows_appended, executed_metrics,
                                profile_text)

            tree, dml_rows = [], None
            try:
                tree = executed_metrics(df)
                profile = (
                    f"Query: {rec['sql']}\nRows: {op.push_count}\n"
                    f"Elapsed: {elapsed:.3f}s\n" + profile_text(tree)
                )
                import re as _re

                if _re.match(r"(?is)^\s*INSERT\b", rec["sql"]):
                    dml_rows = dml_rows_appended(tree)
            except Exception:
                profile = f"Query: {rec['sql']}\nRows: {op.push_count}\n"
            rec.update(state="FINISHED", rows=op.push_count,
                       elapsed_s=round(elapsed, 4))
            _LOG.info("query %s FINISHED: %d row(s) in %.3fs (pool=%s)",
                      qid, op.push_count, elapsed, pool)
            settle = ("finish", round(elapsed, 4), profile, tree, dml_rows)
        except OperationCancelled:
            rec["state"] = "CANCELED"
            _LOG.info("query %s CANCELED (pool=%s)", qid, pool)
            settle = ("cancel", RuntimeError("operation was cancelled"))
        except BaseException as e:
            rec.update(state="ERROR", error=f"{type(e).__name__}: {e}")
            _LOG.warning("query %s ERROR: %s: %s (pool=%s)",
                         qid, type(e).__name__, e, pool)
            settle = ("error", e)
        finally:
            try:
                rec["elapsed_s"] = rec["elapsed_s"] or round(
                    _time.time() - rec["start_ts"], 4)
                with self._lock:
                    self._inflight.pop(qid, None)
                    self.query_log.appendleft(rec)
                    self.queries_completed += 1
                self.admission.release(pool, mem=mem)
                if timer is not None:
                    timer.cancel()
                sc.setJobGroup(None, None)
            finally:
                # settle LAST — fetchers must never unblock before the
                # slot is released and the watchdog disarmed
                if settle is None:
                    op.fail(RuntimeError("drainer died"), cancelled=False)
                elif settle[0] == "finish":
                    op.finish(settle[1], settle[2], metrics_tree=settle[3],
                              dml_rows=settle[4])
                else:
                    op.fail(settle[1], cancelled=settle[0] == "cancel")

    # -- async operation lifecycle (GetOperationStatus / Cancel / GetLog) -----

    def _execute_async(self, sess: _Session, req: dict) -> dict:
        sql = (req.get("sql") or "").strip()
        aop = _AsyncOperation(sess.spark.sparkContext,
                              req.get("label", sql[:40]))
        handle = uuid.uuid4().hex[:12]
        sess.operations[handle] = aop
        sess.last_handle = handle
        aop.run(lambda: self._execute_core(sess, req, aop=aop))
        return {"ok": True, "handle": handle, "state": aop.state}

    @staticmethod
    def _resolve(sess: _Session, req: dict):
        o = sess.operations.get(req.get("handle") or sess.last_handle)
        if o is None:
            raise ValueError("unknown operation handle")
        return o

    @staticmethod
    def _finished(o):
        """Unwrap an async operation to its result operation. A streaming
        result is returned as soon as it exists — rows may still be
        arriving (the incremental-fetch contract); its fetch() raises on a
        mid-stream cancel/error."""
        if isinstance(o, _AsyncOperation):
            if o.state == "CANCELED":
                raise RuntimeError("operation was cancelled")
            if o.state == "ERROR":
                raise RuntimeError(o.error or "operation failed")
            if o.result is not None:
                return o.result
            raise RuntimeError(f"operation still executing ({o.state})")
        return o

    @staticmethod
    def proto_state(o) -> str:
        """Protocol-facing operation state: the reference reports FINISHED
        once rows are AVAILABLE to fetch (QueryState::FINISHED), not at
        end-of-stream — a client of a window-filling result must be told
        to start fetching, or neither side ever advances."""
        if isinstance(o, _AsyncOperation):
            st = o.state
            r = o.result
            if (st == "RUNNING" and isinstance(r, _StreamingOperation)
                    and r.fetchable.is_set() and r.state == "RUNNING"):
                return "FINISHED"
            return st
        return "FINISHED"


class I2SClient:
    """Minimal blocking client for the JSON-lines protocol (the shell's
    connect mode and tests both use this; the reference analogue is the
    shell's ImpalaClient over HS2)."""

    def __init__(self, host: str, port: int, timeout: float = 120.0,
                 tls: bool | str = False):
        """tls: False = plaintext, True = TLS without verification, a path
        = CA bundle to verify against (shell --ssl / --ca_cert)."""
        self._sock = socket.create_connection((host, port), timeout=timeout)
        if tls:
            from .tls import wrap_client_socket

            self._sock = wrap_client_socket(
                self._sock, ca_file=tls if isinstance(tls, str) else None)
        self._rfile = self._sock.makefile("rb")
        self.session: str | None = None

    def call(self, **req) -> dict:
        self._sock.sendall((json.dumps(req) + "\n").encode("utf-8"))
        line = self._rfile.readline()
        if not line:
            raise ConnectionError("server closed the connection")
        return json.loads(line.decode("utf-8"))

    def open_session(self, sf_dir: str | None = None, config: dict | None = None) -> str:
        resp = self.call(op="open_session", sf_dir=sf_dir, config=config or {})
        if not resp.get("ok"):
            raise RuntimeError(resp.get("error"))
        self.session = resp["session"]
        return self.session

    def execute(self, sql: str, fetch: int = 1024) -> dict:
        resp = self.call(op="execute", session=self.session, sql=sql,
                         fetch=fetch)
        if not resp.get("ok"):
            raise RuntimeError(resp.get("error"))
        return resp

    def fetch_all(self, resp: dict, max_rows: int = 1024) -> list:
        rows = list(resp.get("rows") or [])
        while resp.get("has_more"):
            resp = self.call(op="fetch", session=self.session,
                             handle=resp.get("handle"), max_rows=max_rows)
            if not resp.get("ok"):
                raise RuntimeError(resp.get("error"))
            rows.extend(resp["rows"])
        return rows

    def close(self) -> None:
        try:
            if self.session:
                self.call(op="close_session", session=self.session)
        finally:
            try:
                self._sock.close()
            except OSError:
                pass


class FailoverClient:
    """A cluster-aware client: connects to ANY daemon from a member list
    (the impala-shell pattern of reconnecting to another impalad when one
    dies — membership comes from the statestore's transient topic, so a
    dead daemon leaves the list by itself). A connection failure marks the
    member down and retries the next one; the session is re-opened on the
    new daemon (sessions are daemon-local, exactly the reference's
    semantics — catalog state follows via the catalog-update topic)."""

    def __init__(self, members: list[str], sf_dir: str | None = None,
                 timeout: float = 120.0):
        if not members:
            raise ValueError("no cluster members")
        self.members = list(members)  # "host:port" strings
        self._sf_dir = sf_dir
        self._timeout = timeout
        self._client: I2SClient | None = None
        self.connected_to: str | None = None
        self.failovers = 0
        self._connect()

    def _connect(self) -> None:
        last_err: Exception | None = None
        for addr in list(self.members):
            host, port = addr.rsplit(":", 1)
            try:
                c = I2SClient(host, int(port), timeout=self._timeout)
                c.open_session(sf_dir=self._sf_dir)
            except OSError as e:
                last_err = e
                self.members.remove(addr)  # mark down; statestore would
                self.members.append(addr)  # retry it last next time
                continue
            self._client = c
            self.connected_to = addr
            return
        raise ConnectionError(
            f"no cluster member reachable (last error: {last_err})")

    def execute(self, sql: str, fetch: int = 1024) -> dict:
        """Execute with one transparent failover: a TRANSPORT failure
        (daemon died) reconnects to the next member and retries the
        statement; server-side SQL errors raise normally."""
        try:
            return self._client.execute(sql, fetch=fetch)
        except (ConnectionError, OSError):
            dead = self.connected_to
            if dead in self.members:
                self.members.remove(dead)
            self.failovers += 1
            self._connect()
            return self._client.execute(sql, fetch=fetch)

    def fetch_all(self, resp: dict, max_rows: int = 1024) -> list:
        return self._client.fetch_all(resp, max_rows=max_rows)

    def close(self) -> None:
        if self._client is not None:
            self._client.close()
