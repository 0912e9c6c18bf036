"""The process-level table metadata: session.read_parquet's schema cache,
the per-sf_dir catalog session that every server session clones, and
bare INVALIDATE METADATA as a catalog operation."""

from __future__ import annotations

import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from impalatogo_spark import session as S
from impalatogo_spark.server import I2SClient, I2SServer


def _next_job_id(spark) -> int:
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()  # noqa: SLF001
    return v if isinstance(v, int) else v.get()


def _row_hash(df) -> tuple:
    """(count, order-insensitive sum of row hashes)."""
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*df.columns)).alias("h")).first()
    return r["n"], r["h"]


def _copy_tables(src: str, dst) -> str:
    for t in S.TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if os.path.exists(p):
            # copyfile, not copy: the source files are read-only
            shutil.copyfile(p, os.path.join(dst, f"{t}.parquet"))
    return str(dst)


def test_cached_read_is_bit_identical_to_bare_read(spark, sf_dir):
    """Every table read through the cache (a hit, no inference job) has the
    schema and rows of a bare spark.read.parquet."""
    for t in S.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        S.read_parquet(spark, path)  # warm the cache
        j0 = _next_job_id(spark)
        cached = S.read_parquet(spark, path)
        assert _next_job_id(spark) == j0, f"{t}: cached read fired a job"
        bare = spark.read.parquet(path)
        assert cached.schema == bare.schema, t
        assert _row_hash(cached) == _row_hash(bare), t


def test_rewritten_file_is_seen_without_refresh(spark, sf_dir, tmp_path):
    """A table file rewritten in place is a cache miss: the next table()
    and the next open_session see its new rows and new column, with no
    REFRESH."""
    d = _copy_tables(sf_dir, tmp_path)
    srv = I2SServer(spark, sf_dir=d)
    host, port = srv.start()
    try:
        c = I2SClient(host, port)
        c.open_session()
        assert c.fetch_all(c.execute("SELECT count(*) FROM region")) == [[5]]
        assert S.table(spark, d, "region").count() == 5
        c.close()

        path = os.path.join(d, "region.parquet")
        t = pq.read_table(path).slice(0, 3)
        pq.write_table(t.append_column("r_extra", pa.array([7, 8, 9])), path)

        df = S.table(spark, d, "region")
        assert df.count() == 3 and "r_extra" in df.columns
        c = I2SClient(host, port)
        c.open_session()
        assert c.fetch_all(c.execute(
            "SELECT count(*), sum(r_extra) FROM region")) == [[3, 24]]
        c.close()
    finally:
        srv.stop()


def test_schema_conf_is_part_of_the_key(spark, tmp_path):
    """A session that flips nanosAsLong before its first read gets that
    conf's schema, not the one cached under the engine default."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789],
                                            pa.timestamp("ns"))}),
                   path, version="2.6")
    s1 = spark.newSession()
    S.ensure_session_confs(s1)  # nanosAsLong=true
    assert S.read_parquet(s1, path).schema["ts"].dataType.typeName() == "long"
    s2 = spark.newSession()
    S.ensure_session_confs(s2)
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        s2.read.parquet(path).schema  # the bare read under this conf
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        S.read_parquet(s2, path)
    # inferTimestampNTZ retypes a tz-naive micros column the same way
    upath = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("us"))}), upath)
    for flag, want in (("true", "timestamp_ntz"), ("false", "timestamp")):
        s = spark.newSession()
        S.ensure_session_confs(s)
        s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", flag)
        assert S.read_parquet(s, upath).schema["ts"].dataType.typeName() \
            == want


def test_session_view_shadows_the_shared_table(spark, sf_dir):
    """A session's own temp view `lineitem` shadows the cloned one and is
    invisible to other sessions and to the catalog session."""
    n = S.table(spark, sf_dir, "lineitem").count()
    srv = I2SServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    c1, c2 = I2SClient(host, port), I2SClient(host, port)
    try:
        c1.open_session()
        c2.open_session()
        c1.execute("CREATE OR REPLACE TEMPORARY VIEW lineitem AS SELECT 1 AS x")
        assert c1.fetch_all(c1.execute("SELECT count(*) FROM lineitem")) == [[1]]
        assert c2.fetch_all(c2.execute("SELECT count(*) FROM lineitem")) == [[n]]
        assert S.catalog_session(spark, sf_dir).table("lineitem").count() == n
        c3 = I2SClient(host, port)
        c3.open_session()
        assert c3.fetch_all(c3.execute("SELECT count(*) FROM lineitem")) == [[n]]
        c3.close()
    finally:
        c1.close()
        c2.close()
        srv.stop()


def test_open_session_clones_without_inference(spark, sf_dir):
    """Once the catalog session exists, open_session fires no Spark job,
    and two concurrent open_sessions on a cold catalog both get all ten
    tables."""
    S.invalidate_metadata()
    srv = I2SServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    clients = [I2SClient(host, port) for _ in range(2)]
    try:
        errors = []

        def opener(c):
            try:
                c.open_session()
            except Exception as e:  # pragma: no cover - reported below
                errors.append(e)

        threads = [threading.Thread(target=opener, args=(c,)) for c in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive(), "open_session never returned"
        assert not errors
        for c in clients:
            views = {t.name for t in srv._sessions[c.session].spark.catalog
                     .listTables() if t.isTemporary}
            assert views >= set(S.TABLES)
        j0 = _next_job_id(spark)
        c = I2SClient(host, port)
        c.open_session()
        assert _next_job_id(spark) == j0, "open_session ran a Spark job"
        c.close()
    finally:
        for c in clients:
            c.close()
        srv.stop()


def test_bare_invalidate_metadata_keeps_session_confs(spark, sf_dir, tmp_path):
    """Bare INVALIDATE METADATA is a catalog operation: it leaves the
    session's confs and SET options alone (it used to be Spark's RESET,
    which put partitionOverwriteMode back to static), so a later partitioned
    INSERT OVERWRITE still replaces only its own partition."""
    srv = I2SServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    c = I2SClient(host, port)
    try:
        c.open_session()
        sess = srv._sessions[c.session]
        c.execute("SET NUM_NODES=3")
        c.execute("SET DEFAULT_ORDER_BY_LIMIT=1000")
        keys = ("spark.sql.sources.partitionOverwriteMode",
                "spark.i2s.sessionConfsApplied",
                "spark.sql.shuffle.partitions",
                "spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.ansi.enabled")
        before = {k: sess.spark.conf.get(k, None) for k in keys}
        options = dict(sess.engine.options)
        loc = str(tmp_path / "inv_part")
        c.execute(f"CREATE TABLE inv_part (v INT, p INT) USING parquet "
                  f"PARTITIONED BY (p) LOCATION '{loc}'")
        c.execute("INSERT INTO inv_part VALUES (1, 1), (2, 2)")
        c.execute("INVALIDATE METADATA")
        assert {k: sess.spark.conf.get(k, None) for k in keys} == before
        assert sess.engine.options == options
        c.execute("INSERT OVERWRITE TABLE inv_part PARTITION (p) "
                  "SELECT 10 AS v, 1 AS p")
        assert c.fetch_all(c.execute(
            "SELECT p, v FROM inv_part ORDER BY p")) == [[1, 10], [2, 2]]
        # the tables are still there after the catalog reset
        assert c.fetch_all(c.execute("SELECT count(*) FROM region")) == [[5]]
        c.execute("DROP TABLE inv_part")
    finally:
        c.close()
        srv.stop()


def test_scan_range_length_reaches_shared_tables(spark, sf_dir):
    """MAX_SCAN_RANGE_LENGTH splits a session's scans of the shared tables
    as it did when each session registered its own: the shared views are
    rebound to the session, except one the session replaced itself."""
    srv = I2SServer(spark, sf_dir=sf_dir)
    host, port = srv.start()
    c = I2SClient(host, port)
    try:
        c.open_session()
        sess = srv._sessions[c.session].spark

        def parts(name):
            return sess.table(name).rdd.getNumPartitions()

        whole = parts("lineitem")
        c.execute("CREATE OR REPLACE TEMPORARY VIEW region AS SELECT 1 AS x")
        c.execute("SET MAX_SCAN_RANGE_LENGTH=16384")
        assert parts("lineitem") > whole
        assert sess.table("region").columns == ["x"]
        assert S.catalog_session(spark, sf_dir).table(
            "lineitem").rdd.getNumPartitions() == whole
        c.execute("UNSET MAX_SCAN_RANGE_LENGTH")
        assert parts("lineitem") == whole
    finally:
        c.close()
        srv.stop()
