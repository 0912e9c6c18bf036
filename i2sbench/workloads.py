"""The benchmark's workloads: each is one client in a closed loop.

A workload exposes `warmup_passes`, `ops(pass_index)` (the steps of one
pass, in the seed's order), `counters()` (monotonic server counters the
trace reads per pass) and `close()`. A step is (op class, expected-answer
key, callable). The callable returns (columns, rows); a step whose key is
None is not an operation and its answer is not checked (closing a session).
Expected answers are kept by key; EMPTY and SESSION are checked directly.

The seed only orders the steps and picks substitution literals from sets
whose members do equal work: each literal selects one of a few uniformly
distributed values, so every member scans the same tables and keeps about
the same number of rows.
"""

from __future__ import annotations

import contextlib
import random

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# --- sql_serving --------------------------------------------------------------

SHIP_CUTOFFS = ("2001-05-01", "2001-06-01", "2001-07-01")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# op class -> (literal set, Impala-dialect statement, DuckDB statement).
# Money columns are summed as truncated integers on both sides (Spark's
# CAST(double AS BIGINT) truncates; DuckDB's rounds, so it floors first;
# every value is positive).
READS = {
    "scan_agg": (SHIP_CUTOFFS, """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       sum(CAST(l_quantity AS BIGINT)) AS qty,
       sum(CAST(l_extendedprice AS BIGINT)) AS price
FROM lineitem WHERE l_shipdate <= '{0}'
GROUP BY l_returnflag, l_linestatus""", """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       sum(CAST(l_quantity AS BIGINT)) AS qty,
       sum(CAST(floor(l_extendedprice) AS BIGINT)) AS price
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{0}'
GROUP BY l_returnflag, l_linestatus"""),
    "join3": (SEGMENTS, """
SELECT o_orderpriority, count(*) AS n_lines,
       count(DISTINCT o_orderkey) AS n_orders,
       sum(CAST(l_extendedprice AS BIGINT)) AS price
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{0}' GROUP BY o_orderpriority""", """
SELECT o_orderpriority, count(*) AS n_lines,
       count(DISTINCT o_orderkey) AS n_orders,
       sum(CAST(floor(l_extendedprice) AS BIGINT)) AS price
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{0}' GROUP BY o_orderpriority"""),
    # strleft, quotient, zeroifnull and months_add exist only in the
    # Impala dialect: the statement exercises the translation layer
    "impala_funcs": (STATUSES, """
SELECT strleft(o_orderpriority, 1) AS pri, quotient(o_custkey, 1000) AS bucket,
       count(*) AS n,
       zeroifnull(sum(quotient(CAST(o_totalprice AS BIGINT), 100))) AS hundreds
FROM orders
WHERE o_orderstatus = '{0}' AND months_add(o_orderdate, 1) < '2000-01-01'
GROUP BY 1, 2""", """
SELECT substr(o_orderpriority, 1, 1) AS pri, o_custkey // 1000 AS bucket,
       count(*) AS n,
       coalesce(sum(CAST(floor(o_totalprice) AS BIGINT) // 100), 0) AS hundreds
FROM orders
WHERE o_orderstatus = '{0}'
  AND o_orderdate + INTERVAL 1 MONTH < TIMESTAMP '2000-01-01'
GROUP BY 1, 2"""),
    # about 30,000 rows at sf0.1: several times the server's 4096-row
    # streaming window, fetched in 1024-row batches
    "big_result": (PRIORITIES, """
SELECT o_orderkey, o_custkey, quotient(CAST(o_totalprice AS BIGINT), 1) AS price
FROM orders WHERE o_orderpriority = '{0}'""", """
SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice) AS BIGINT) AS price
FROM orders WHERE o_orderpriority = '{0}'"""),
}

ROLLUP = "bench_rollup"
CREATE_ROLLUP = (f"CREATE TABLE {ROLLUP} (o_custkey BIGINT, n BIGINT, "
                 "dollars BIGINT) STORED AS PARQUET")
INSERT_ROLLUP = f"""
INSERT OVERWRITE TABLE {ROLLUP}
SELECT o_custkey, count(*), sum(CAST(o_totalprice AS BIGINT))
FROM orders WHERE o_orderstatus = '{{0}}' GROUP BY o_custkey"""
READ_ROLLUP = (f"SELECT count(*) AS n_keys, sum(n) AS n_orders, "
               f"sum(dollars) AS dollars FROM {ROLLUP}")
READ_ROLLUP_DUCKDB = """
SELECT count(*) AS n_keys, sum(n) AS n_orders, sum(dollars) AS dollars
FROM (SELECT o_custkey, count(*) AS n,
             sum(CAST(floor(o_totalprice) AS BIGINT)) AS dollars
      FROM orders WHERE o_orderstatus = '{0}' GROUP BY o_custkey)"""

EMPTY = "empty"  # expected key of statements that return no rows
SESSION = "session"  # expected key of open_session: one non-empty session id


def serving_expectations() -> dict[str, str]:
    """Expected-answer key -> DuckDB statement, for every literal."""
    out = {f"{cls}:{lit}": duck.format(lit)
           for cls, (lits, _, duck) in READS.items() for lit in lits}
    out.update({f"read_back:{s}": READ_ROLLUP_DUCKDB.format(s)
                for s in STATUSES})
    return out


class SqlServing:
    """One in-process server and one client. A pass is one session:
    connect and open a session (which registers every table), run the
    read statements and the write-then-refresh-then-read triple in the
    seed's order, close."""

    name = "sql_serving"
    warmup_passes = 4

    def __init__(self, spark, sf_dir: str, seed: int, tracer=None):
        from impalatogo_spark.server import I2SClient, I2SServer

        self._client_cls = I2SClient
        self.server = I2SServer(spark, sf_dir=sf_dir)
        self.addr = self.server.start()
        self.client = None
        self.rng = random.Random(seed)
        # consecutive passes always write a different status, so a stale
        # read-back of the previous pass's table cannot match
        self.write_cycle = self.rng.sample(STATUSES, len(STATUSES))
        setup = I2SClient(*self.addr)
        try:
            setup.open_session()
            setup.execute(f"DROP TABLE IF EXISTS {ROLLUP}")
            setup.execute(CREATE_ROLLUP)
            setup.call(op="close_session", session=setup.session)
        finally:
            setup.close()

    def _open(self):
        self.client = self._client_cls(*self.addr)
        return ["session"], [[self.client.open_session()]]

    def _close(self):
        client, self.client = self.client, None
        if client is not None:
            try:
                client.call(op="close_session", session=client.session)
            finally:
                client.close()
        return [], []

    def _stmt(self, sql: str):
        def run():
            resp = self.client.execute(sql)
            return resp.get("columns") or [], self.client.fetch_all(resp)
        return run

    def ops(self, pass_index: int) -> list:
        steps = []
        for cls, (lits, sql, _) in READS.items():
            lit = self.rng.choice(lits)
            steps.append((cls, f"{cls}:{lit}", self._stmt(sql.format(lit))))
        self.rng.shuffle(steps)
        st = self.write_cycle[pass_index % len(self.write_cycle)]
        write = [
            ("insert_overwrite", EMPTY, self._stmt(INSERT_ROLLUP.format(st))),
            ("refresh", EMPTY, self._stmt(f"REFRESH {ROLLUP}")),
            ("read_back", f"read_back:{st}", self._stmt(READ_ROLLUP)),
        ]
        at = self.rng.randrange(len(steps) + 1)
        steps[at:at] = write
        return ([("open_session", SESSION, self._open)] + steps
                + [("close_session", None, self._close)])

    def counters(self) -> dict[str, float]:
        pools = self.server.admission.stats()
        return {
            "server.fetch_calls": self.server.rpc_counts.get("json.fetch", 0),
            "admission.queued": sum(p.get("queued_total", 0)
                                    for p in pools.values()),
        }

    def close(self) -> None:
        with contextlib.suppress(Exception):
            self._close()
        self.server.stop()


# --- iterative_pipeline -------------------------------------------------------

ITERATIVE = ("dedup_clusters_incremental", "dedup_clusters_star",
             "ann_topk_ivf_pq_adc", "embedding_kmeans", "corpus_bpe_merges")
BPE = "corpus_bpe_merges"  # no SQL oracle: checked against answers.bpe_merges
BPE_MERGES = 8


def iterative_expectations() -> dict[str, str]:
    from impalatogo_spark.queries import all_queries

    reg = all_queries()
    return {n: reg[n].oracle for n in ITERATIVE if n != BPE}


class IterativePipeline:
    """One long-lived session runs the job-count-bound registry queries
    with spark_fn(...).collect(), releasing persisted frames after each."""

    name = "iterative_pipeline"
    warmup_passes = 1

    def __init__(self, spark, sf_dir: str, seed: int, tracer=None):
        from impalatogo_spark.queries import all_queries

        self.spark, self.sf_dir = spark, sf_dir
        self.rng = random.Random(seed)
        self.fns = {n: all_queries()[n].spark_fn for n in ITERATIVE}
        self.tracer = tracer

    def _span(self, name):
        return (self.tracer.span(name) if self.tracer is not None
                else contextlib.nullcontext())

    def _query(self, name: str):
        def run():
            from impalatogo_spark.session import release_persisted

            with self._span("queries.build"):
                df = self.fns[name](self.spark, self.sf_dir)
            with self._span("execution") as sp:
                rows = df.collect()
                if sp is not None:
                    sp.result = df
            release_persisted()
            return df.columns, rows
        return run

    def ops(self, pass_index: int) -> list:
        order = self.rng.sample(ITERATIVE, len(ITERATIVE))
        return [(n, n, self._query(n)) for n in order]

    def counters(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (SqlServing, IterativePipeline)}
OP_CLASSES = ("open_session", *READS, "insert_overwrite", "refresh",
              "read_back", *ITERATIVE)
