#!/usr/bin/env python
"""i2s-shell — interactive SQL shell, the engine's impala-shell equivalent
(reference: shell/impala_shell.py, 23 commands; SURVEY.md §3.1 client entry).

Usage:
  python tools/i2s_shell.py                      # REPL on stdin
  python tools/i2s_shell.py -q "SELECT 1 AS x;"  # one-shot query
  python tools/i2s_shell.py -f script.sql        # run a ;-separated script
  python tools/i2s_shell.py --sf-dir DIR         # register testdata tables
  python tools/i2s_shell.py --listen [H:]PORT    # serve SQL over TCP
                                                 # (HS2-equivalent daemon,
                                                 # impalatogo_spark/server.py)
  python tools/i2s_shell.py --connect H:PORT     # remote shell against a
                                                 # --listen server (like
                                                 # impala-shell -i host:port)

Shell commands (backslash-free, impala-shell style):
  use <db>; set k=v; set; unset k; explain <sql>; describe <tbl>;
  show tables; refresh <tbl>; profile; summary; history; rerun <n> (or @n);
  source <file>; shell <cmd> (or !<cmd>); version; help; quit/exit
Everything else is executed as (Impala-dialect) SQL via the Engine.

Output modes (impala-shell parity): default pretty tables; -B prints
delimited plain rows (tab unless --output_delimiter).
`profile` prints the executed plan's per-operator runtime metrics tree
(rows, shuffle bytes, spill — impalatogo_spark/plans.py::profile_text),
the RuntimeProfile equivalent.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fmt_table(cols, rows, max_rows=100) -> str:
    shown = rows[:max_rows]
    cells = [[("NULL" if v is None else str(v)) for v in r] for r in shown]
    widths = [
        max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |", sep]
    for row in cells:
        out.append("| " + " | ".join(v.ljust(w) for v, w in zip(row, widths)) + " |")
    out.append(sep)
    if len(rows) > max_rows:
        out.append(f"({len(rows)} rows, showing first {max_rows})")
    return "\n".join(out)


class Shell:
    def __init__(self, sf_dir: str | None, delimited: bool = False,
                 output_delimiter: str = "\t"):
        from impalatogo_spark.engine import Engine
        from impalatogo_spark.session import get_spark, register_tables

        self.spark = get_spark("i2s-shell")
        self.engine = Engine(self.spark)
        if sf_dir:
            register_tables(self.spark, sf_dir)
        self.history: list[str] = []
        self.last_profile: str = ""
        self.delimited = delimited
        self.output_delimiter = output_delimiter

    def execute(self, stmt: str) -> str:
        stmt = stmt.strip().rstrip(";").strip()
        if not stmt:
            return ""
        self.history.append(stmt)
        low = stmt.lower()
        if low in ("quit", "exit"):
            raise EOFError
        if low == "help":
            return __doc__ or ""
        if low == "version":
            return f"i2s-shell on Spark {self.spark.version}"
        if low == "history":
            return "\n".join(f"[{i}] {s}" for i, s in enumerate(self.history[:-1], 1))
        if low == "profile":
            return self.last_profile or "(no previous query)"
        if low == "summary":
            # impala-shell `summary`: the operator/row-count condensation of
            # the full profile
            if not self.last_profile:
                return "(no previous query)"
            keep = []
            for line in self.last_profile.splitlines():
                if "number of output rows" in line:
                    rows = line.split("number of output rows:")[1].split(",")[0]
                    keep.append(f"{line.split('[')[0].rstrip()}  rows={rows.strip().rstrip(']')}")
                elif not line.startswith(" ") or "[" not in line:
                    keep.append(line.split("[")[0].rstrip())
            return "\n".join(k for k in keep if k)
        if low.startswith("unset "):
            k = stmt.split(None, 1)[1].strip()
            self.engine.unset(k)
            return f"unset {k.upper()}"
        if low.startswith("rerun ") or stmt.startswith("@"):
            # impala-shell: rerun N / @N re-executes history entry N (1-based;
            # negative counts from the end). The rerun itself was just
            # appended — drop it so it doesn't pollute history.
            self.history.pop()
            arg = stmt[1:] if stmt.startswith("@") else stmt.split(None, 1)[1]
            try:
                idx = int(arg)
            except ValueError:
                raise ValueError(f"rerun: not an index: {arg!r}") from None
            n = len(self.history)
            pos = idx - 1 if idx > 0 else n + idx
            if not 0 <= pos < n:
                raise ValueError(f"rerun: history has {n} entries, no [{idx}]")
            return self.execute(self.history[pos])
        if low.startswith("source "):
            path = stmt.split(None, 1)[1].strip().strip("'\"")
            with open(path) as f:
                text = f.read()
            outs = [self.execute(s) for s in text.split(";") if s.strip()]
            return "\n".join(o for o in outs if o)
        if low.startswith("shell ") or stmt.startswith("!"):
            import subprocess

            cmd = stmt[1:] if stmt.startswith("!") else stmt.split(None, 1)[1]
            res = subprocess.run(cmd, shell=True, capture_output=True, text=True)
            return res.stdout + res.stderr
        if low == "connect" or low.startswith("connect "):
            # impala-shell `connect [host:port]` — there is no remote daemon
            # here; the local Spark session IS the endpoint. Accepted for
            # script parity and reports what it's connected to.
            return (f"Connected to local Spark {self.spark.version} "
                    f"(master {self.spark.sparkContext.master})")
        if low.startswith("use "):
            self.spark.sql(stmt)
            return f"Database changed to {stmt.split()[1]}"
        if low == "set":
            opts = "\n".join(f"{k}={v}" for k, v in sorted(self.engine.options.items()))
            return opts or "(no session options set)"
        if low.startswith("set ") and "=" in stmt:
            k, v = stmt[4:].split("=", 1)
            self.engine.set(k.strip(), v.strip())
            return f"{k.strip()}={v.strip()}"
        if low.startswith("explain "):
            # level comes from SET EXPLAIN_LEVEL (engine default 1)
            return self.engine.explain(stmt[8:])
        t0 = time.perf_counter()
        df = self.engine.sql(stmt)
        rows = df.collect()
        dt = time.perf_counter() - t0
        from impalatogo_spark.plans import executed_metrics, profile_text

        self.last_profile = (
            f"Query: {stmt}\nRows: {len(rows)}\nElapsed: {dt:.3f}s\n"
            + profile_text(executed_metrics(df))
        )
        if self.delimited:
            d = self.output_delimiter
            body = "\n".join(
                d.join("NULL" if v is None else str(v) for v in tuple(r))
                for r in rows
            )
            return body
        body = _fmt_table(df.columns, [tuple(r) for r in rows])
        return f"{body}\nFetched {len(rows)} row(s) in {dt:.2f}s"


class RemoteShell:
    """Shell backend that talks to a --listen server over the JSON-lines
    protocol (impalatogo_spark/server.py) — the impala-shell -i equivalent:
    purely client-side commands (history, rerun, source, shell escape) stay
    local; SQL / SET / EXPLAIN / profile run on the server's session."""

    def __init__(self, host: str, port: int, sf_dir: str | None,
                 delimited: bool = False, output_delimiter: str = "\t",
                 tls: bool | str = False):
        from impalatogo_spark.server import I2SClient

        self.client = I2SClient(host, port, tls=tls)
        self.client.open_session(sf_dir=sf_dir)
        self.history: list[str] = []
        self.delimited = delimited
        self.output_delimiter = output_delimiter
        self._endpoint = f"{host}:{port}"

    def execute(self, stmt: str) -> str:
        stmt = stmt.strip().rstrip(";").strip()
        if not stmt:
            return ""
        self.history.append(stmt)
        low = stmt.lower()
        if low in ("quit", "exit"):
            self.client.close()
            raise EOFError
        if low == "help":
            return __doc__ or ""
        if low == "version":
            ping = self.client.call(op="ping")
            return (f"i2s-shell connected to {self._endpoint} "
                    f"(Spark {ping.get('spark_version')})")
        if low == "history":
            return "\n".join(f"[{i}] {s}" for i, s in enumerate(self.history[:-1], 1))
        if low == "connect" or low.startswith("connect "):
            return f"Connected to {self._endpoint}"
        if low == "profile":
            resp = self.client.call(op="profile", session=self.client.session)
            return resp.get("profile") or "(no previous query)" \
                if resp.get("ok") else f"ERROR: {resp.get('error')}"
        if low == "summary":
            # impala-shell `summary`: per-operator table (GetExecSummary)
            resp = self.client.call(op="exec_summary",
                                    session=self.client.session)
            if not resp.get("ok"):
                return f"ERROR: {resp.get('error')}"
            nodes = (resp.get("summary") or {}).get("nodes") or []
            if not nodes:
                return "(no previous query)"
            rows = [(n["label"],
                     str(n["exec_stats"][0]["cardinality"]),
                     str(n["exec_stats"][0]["memory_used"]),
                     (n.get("label_detail") or "")[:60])
                    for n in nodes]
            return _fmt_table(["Operator", "#Rows", "Peak Mem", "Detail"],
                              rows)
        if low.startswith("rerun ") or stmt.startswith("@"):
            self.history.pop()
            arg = stmt[1:] if stmt.startswith("@") else stmt.split(None, 1)[1]
            idx = int(arg)
            n = len(self.history)
            pos = idx - 1 if idx > 0 else n + idx
            if not 0 <= pos < n:
                raise ValueError(f"rerun: history has {n} entries, no [{idx}]")
            return self.execute(self.history[pos])
        if low.startswith("source "):
            path = stmt.split(None, 1)[1].strip().strip("'\"")
            with open(path) as f:
                text = f.read()
            outs = [self.execute(s) for s in text.split(";") if s.strip()]
            return "\n".join(o for o in outs if o)
        if low.startswith("shell ") or stmt.startswith("!"):
            import subprocess

            cmd = stmt[1:] if stmt.startswith("!") else stmt.split(None, 1)[1]
            res = subprocess.run(cmd, shell=True, capture_output=True, text=True)
            return res.stdout + res.stderr
        # everything else — SQL, SET, UNSET, EXPLAIN, USE, DDL — is the
        # server's job (ExecuteStatement)
        import time as _time

        t0 = _time.perf_counter()
        resp = self.client.execute(stmt)
        rows = self.client.fetch_all(resp)
        dt = _time.perf_counter() - t0
        cols = resp.get("columns") or []
        if not cols:
            return "OK"
        if self.delimited:
            d = self.output_delimiter
            return "\n".join(
                d.join("NULL" if v is None else str(v) for v in r)
                for r in rows
            )
        body = _fmt_table(cols, [tuple(r) for r in rows])
        return f"{body}\nFetched {len(rows)} row(s) in {dt:.2f}s"


def _parse_hostport(spec: str, default_host: str = "127.0.0.1") -> tuple[str, int]:
    if ":" in spec:
        h, p = spec.rsplit(":", 1)
        return (h or default_host), int(p)
    return default_host, int(spec)


def _serve(args) -> None:
    from impalatogo_spark.server import I2SServer
    from impalatogo_spark.session import get_spark

    host, port = _parse_hostport(args.listen)
    tls = None
    if args.ssl_server_certificate or args.ssl_private_key:
        # TLS on every door (reference thrift-server.cc EnableSsl +
        # webserver.cc --webserver_certificate_file); both flags required,
        # matching the reference's startup validation
        if not (args.ssl_server_certificate and args.ssl_private_key):
            raise SystemExit("--ssl_server_certificate and --ssl_private_key"
                             " must be set together")
        from impalatogo_spark.tls import TlsConfig

        tls = TlsConfig(
            certificate_file=args.ssl_server_certificate,
            private_key_file=args.ssl_private_key,
            minimum_version=args.ssl_minimum_version,
            cipher_list=args.ssl_cipher_list)
        print("ssl enabled on all serving ports", flush=True)
    sasl_check = None
    if args.ldap_uri or args.ldap_fake_directory:
        # LDAP-shaped auth on both thrift doors (authentication.cc
        # SaslLdapCheckPass). Real-LDAP needs the ldap3 library + a live
        # server (environment-limited here); --ldap-fake-directory serves
        # the same policy over an in-process directory.
        from impalatogo_spark.auth import build_ldap_authenticator

        sasl_check = build_ldap_authenticator(
            uri=args.ldap_uri or "",
            domain=args.ldap_domain or "",
            base_dn=args.ldap_base_dn or "",
            bind_pattern=args.ldap_bind_pattern or "",
            allow_anonymous_binds=args.ldap_allow_anonymous_binds,
            fake_directory_path=args.ldap_fake_directory)
        print("ldap authentication enabled on thrift doors", flush=True)
    spark = get_spark("i2s-server")
    server = I2SServer(spark, sf_dir=args.sf_dir, host=host, port=port,
                       tls=tls)
    bound_host, bound_port = server.start()
    # exact marker line, parsed by connect-mode scripts and tests
    print(f"i2s-server listening on {bound_host}:{bound_port}", flush=True)
    webui = None
    if args.webui_port is not None:
        # debug webserver (impala-server.cc RegisterWebserverCallbacks):
        # /queries /sessions /admission /metrics over the same core
        from impalatogo_spark.webui import WebUI

        webui = WebUI(server, host=bound_host, port=args.webui_port, tls=tls)
        web_host, web_port = webui.start()
        print(f"webui listening on {web_host}:{web_port}", flush=True)
    hs2 = None
    if args.hs2_port is not None:
        # real TCLIService binary Thrift on a second port, sharing the same
        # session/admission core (impala daemon: beeswax + hs2 ports)
        from impalatogo_spark.thrift_hs2 import HS2ThriftServer

        hs2 = HS2ThriftServer(spark, host=bound_host, port=args.hs2_port,
                              core=server, sasl_check=sasl_check, tls=tls)
        hs2_host, hs2_port = hs2.start()
        print(f"hs2-thrift listening on {hs2_host}:{hs2_port}", flush=True)
    beeswax = None
    if args.beeswax_port is not None:
        from impalatogo_spark.beeswax import BeeswaxServer

        beeswax = BeeswaxServer(spark, host=bound_host,
                                port=args.beeswax_port, core=server,
                                sasl_check=sasl_check, tls=tls)
        bw_host, bw_port = beeswax.start()
        print(f"beeswax listening on {bw_host}:{bw_port}", flush=True)
    try:
        import signal
        import threading

        stop = threading.Event()
        signal.signal(signal.SIGTERM, lambda *_: stop.set())
        signal.signal(signal.SIGINT, lambda *_: stop.set())
        stop.wait()
    finally:
        if hs2 is not None:
            hs2.stop()
        if beeswax is not None:
            beeswax.stop()
        if webui is not None:
            webui.stop()
        server.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description="i2s SQL shell")
    ap.add_argument("-q", "--query", help="execute one statement and exit")
    ap.add_argument("-f", "--file", help="execute a ;-separated SQL script")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("-B", "--delimited", action="store_true",
                    help="plain delimited output instead of pretty tables")
    ap.add_argument("--output_delimiter", default="\t",
                    help="field delimiter for -B output (default tab)")
    ap.add_argument("-o", "--output_file",
                    help="write query output to this file as well as stdout")
    ap.add_argument("--listen", metavar="[HOST:]PORT",
                    help="serve SQL over TCP instead of running a REPL")
    ap.add_argument("--hs2-port", type=int, default=None, metavar="PORT",
                    help="with --listen: also serve HiveServer2 TCLIService "
                         "(binary Thrift) on this port (0 = ephemeral)")
    ap.add_argument("--beeswax-port", type=int, default=None, metavar="PORT",
                    help="with --listen: also serve the Beeswax protocol "
                         "(impala-shell's legacy door) on this port "
                         "(0 = ephemeral)")
    ap.add_argument("--webui-port", type=int, default=None, metavar="PORT",
                    help="with --listen: serve the debug webserver "
                         "(/queries /sessions /admission /metrics) on this "
                         "port (0 = ephemeral)")
    ap.add_argument("--ldap-uri", default=None, metavar="ldap[s]://HOST",
                    help="with --listen: authenticate SASL-PLAIN "
                         "credentials on the thrift doors by LDAP simple "
                         "bind (reference --enable_ldap_auth/--ldap_uri); "
                         "real servers need the ldap3 library")
    ap.add_argument("--ldap-domain", default=None,
                    help="bind as <user>@<domain> (reference --ldap_domain)")
    ap.add_argument("--ldap-base-dn", default=None,
                    help="bind as uid=<user>,<baseDN> (--ldap_baseDN)")
    ap.add_argument("--ldap-bind-pattern", default=None,
                    help="bind-name pattern with #UID placeholder "
                         "(--ldap_bind_pattern)")
    ap.add_argument("--ldap-allow-anonymous-binds", action="store_true",
                    help="accept empty passwords (--ldap_allow_anonymous_"
                         "binds; default off, matching the reference)")
    ap.add_argument("--ldap-fake-directory", default=None, metavar="JSON",
                    help="with --ldap-*: bind against an in-process "
                         "directory loaded from this JSON file "
                         "(dn -> password) instead of a live LDAP server")
    ap.add_argument("--connect", "-i", metavar="HOST:PORT",
                    help="connect to a --listen server instead of starting "
                         "an in-process engine")
    ap.add_argument("--ssl_server_certificate", default=None, metavar="PEM",
                    help="with --listen: serve ALL ports (JSON, HS2, "
                         "Beeswax, webui) over TLS with this certificate "
                         "(reference --ssl_server_certificate); plaintext "
                         "clients are refused")
    ap.add_argument("--ssl_private_key", default=None, metavar="PEM",
                    help="private key for --ssl_server_certificate "
                         "(reference --ssl_private_key)")
    ap.add_argument("--ssl_minimum_version", default="tlsv1.2",
                    help="minimum TLS version (reference "
                         "--ssl_minimum_version; tlsv1.2 or tlsv1.3)")
    ap.add_argument("--ssl_cipher_list", default=None,
                    help="OpenSSL cipher list (reference --ssl_cipher_list)")
    ap.add_argument("--ssl", action="store_true",
                    help="with --connect: TLS to the server without "
                         "verification (impala-shell --ssl)")
    ap.add_argument("--ca_cert", default=None, metavar="PEM",
                    help="with --connect --ssl: verify the server "
                         "certificate against this CA bundle "
                         "(impala-shell --ca_cert)")
    args = ap.parse_args()
    if args.listen:
        _serve(args)
        return
    if args.connect:
        host, port = _parse_hostport(args.connect)
        shell = RemoteShell(host, port, args.sf_dir,
                            delimited=args.delimited,
                            output_delimiter=args.output_delimiter,
                            tls=(args.ca_cert or True) if args.ssl else False)
    else:
        shell = Shell(args.sf_dir, delimited=args.delimited,
                      output_delimiter=args.output_delimiter)
    import builtins

    out_f = open(args.output_file, "w") if args.output_file else None
    _print = builtins.print

    def print(*a, **kw):  # noqa: A001 - impala-shell -o duplicates output
        _print(*a, **kw)
        if out_f is not None and kw.get("file") in (None, sys.stdout):
            _print(*a, file=out_f)
            out_f.flush()

    def run_script(text: str) -> int:
        rc = 0
        for stmt in text.split(";"):
            if stmt.strip():
                try:
                    print(shell.execute(stmt))
                except EOFError:
                    return rc
                except Exception as e:  # keep going, but report failure via exit code
                    print(f"ERROR: {e}", file=sys.stderr)
                    rc = 1
        return rc

    if args.query:
        sys.exit(run_script(args.query))
    if args.file:
        with open(args.file) as f:
            sys.exit(run_script(f.read()))
    print("i2s-shell (type 'help' for commands, 'quit' to exit)")
    buf = ""
    for line in sys.stdin:
        buf += line
        while ";" in buf:
            stmt, buf = buf.split(";", 1)
            try:
                out = shell.execute(stmt)
                if out:
                    print(out)
            except EOFError:
                return
            except Exception as e:
                print(f"ERROR: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
