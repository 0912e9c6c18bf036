"""Engine: the session layer — Impala-dialect SQL entry, session options,
EXPLAIN surfaces, catalog/DDL helpers, and the NESTED PATH JSON feature.

Reference parity map:
  * Engine.sql()       <- ImpalaServer::query / ExecuteStatement
                          (be/src/service/impala-beeswax-server.cc:170,
                           impala-hs2-server.cc:442) — parse/analyze/plan/exec
                          all delegated to Catalyst via spark.sql()
  * Engine.set()       <- SET query options (be/src/service/query-options.cc)
  * Engine.explain()   <- EXPLAIN levels 0-3 (Frontend.java:547-549)
  * Engine.compute_stats() <- COMPUTE STATS (fe/.../analysis/ComputeStatsStmt.java)
  * Engine.create_json_table() <- ImpalaToGo NESTED PATH JSON scan
                          (be/src/exec/delimited-text-parser-json.cc;
                           fe/.../analysis/ColumnDef.java:41-54)
"""

from __future__ import annotations

import re
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impalatogo_spark.dialect import translate
from impalatogo_spark.session import (ensure_session_confs,
                                      invalidate_metadata, read_parquet,
                                      rebind_shared_tables)


# Impala query option -> handler. The COMPLETE switch from
# be/src/service/query-options.cc (all 31 TImpalaQueryOptions cases):
# string value = the Spark conf carrying the same lever; None = advisory
# (accepted + stored; the per-case comment says why no conf exists);
# options with dedicated engine behavior are dispatched in set()/sql().
_SPARK_CONF_OPTIONS = {
    # -- mapped to Spark confs -------------------------------------------
    "NUM_NODES": "spark.sql.shuffle.partitions",
    "COMPRESSION_CODEC": "spark.sql.parquet.compression.codec",
    "MAX_SCAN_RANGE_LENGTH": "spark.sql.files.maxPartitionBytes",  # split size
    "DISABLE_CODEGEN": "spark.sql.codegen.wholeStage",  # inverted bool
    "ABORT_ON_ERROR": "spark.sql.files.ignoreCorruptFiles",  # inverted bool
    "DISABLE_OUTERMOST_TOPN":  # 1 -> always sort+limit, never TopK
        "spark.sql.execution.topKSortFallbackThreshold",
    # -- dedicated engine behavior (set()/sql()/explain()) ----------------
    "APPX_COUNT_DISTINCT": None,  # count(distinct)->ndv rewrite in sql()
    "REQUEST_POOL": None,  # set(): Spark scheduler pool (thread-local)
    "DEFAULT_ORDER_BY_LIMIT": None,  # sql(): LIMIT appended to bare ORDER BY
    "EXPLAIN_LEVEL": None,  # explain() default level
    # -- advisory (no Spark-side lever; accepted and stored) --------------
    "MEM_LIMIT": None,  # Spark executor memory is static per process
    "BATCH_SIZE": None,  # internal to Tungsten's columnar batches
    "ABORT_ON_DEFAULT_LIMIT_EXCEEDED": None,  # legacy pair of DEFAULT_ORDER_BY_LIMIT
    "ALLOW_UNSUPPORTED_FORMATS": None,  # all shipped formats have real readers
    "DEBUG_ACTION": None,  # backend fault-injection hook; no daemon here
    "DISABLE_CACHED_READS": None,  # sources/dfscache.py is opt-in per scan
    "DISABLE_UNSAFE_SPILLS": None,  # Spark spills are always safe (UnsafeRow)
    "EXEC_SINGLE_NODE_ROWS_THRESHOLD": None,  # AQE coalescing owns this choice
    "HBASE_CACHE_BLOCKS": None,  # kvstore reads are parquet-cached by the OS
    "HBASE_CACHING": None,  # scanner batch sizing, internal to kvstore scans
    "MAX_BLOCK_MGR_MEMORY": None,  # Spark unified memory manager owns this
    "MAX_ERRORS": None,  # per-row error cap; Spark fails the task instead
    "MAX_IO_BUFFERS": None,  # io buffering internal to the parquet reader
    "NUM_SCANNER_THREADS": None,  # scan parallelism = input splits/cores
    "PARQUET_FILE_SIZE": None,  # writer target size; Spark splits by records
    "QUERY_TIMEOUT_S": None,  # idle-session reaper; no daemon here
    "RESERVATION_REQUEST_TIMEOUT": None,  # Llama/YARN resource manager only
    "RM_INITIAL_MEM": None,  # Llama/YARN resource manager only
    "SEQ_COMPRESSION_MODE": None,  # sources/seqfile.py takes codec per write
    "SYNC_DDL": None,  # single catalog: DDL is always synchronous
    "V_CPU_CORES": None,  # Llama/YARN resource manager only
}


class Engine:
    """A PySpark-native engine with the reference's query surface."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        ensure_session_confs(spark)
        self.options: dict[str, str] = {}
        self.mixed_tables: dict[str, "MixedFormatTable"] = {}
        # authorization surface (sql-parser.y:647-747); enforcement is opt-in
        # to preserve the reference's default (auth off unless configured)
        from impalatogo_spark import authz as _authz

        self.authz = _authz.AuthzCatalog()
        # what current_user() folds to, read without running a Spark job
        # (a `SELECT current_user()` collect cost ~0.1 s per server session)
        self.authz_user: str = spark._jvm.org.apache.spark.sql.catalyst \
            .CurrentUserContext.getCurrentUser()  # noqa: SLF001
        self.enforce_authz = False
        # external data-source catalog (sql-parser.y create_data_src_stmt;
        # CLASS holds a Python DataSource class path instead of a Java jar
        # class — the Spark-native equivalent of the reference's
        # ExternalDataSource jar registry)
        self.data_sources: dict[str, dict[str, str]] = {}
        # pre-SET Spark conf values, restored on UNSET / value 0 (set())
        self._conf_saved: dict[str, str | None] = {}

    # -- SQL entry -----------------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        """Execute Impala-dialect SQL (translated to Spark SQL)."""
        m = re.match(r"\s*SHOW\s+FILES\s+IN\s+([\w.`]+)\s*;?\s*$", text,
                     flags=re.IGNORECASE)
        if m:
            # Impala-only statement (sql-parser.y SHOW FILES) — no Spark SQL
            # equivalent to translate to; served from catalog metadata.
            return self.show_files(m.group(1))
        handled = self._impala_ddl(text)
        if handled is not None:
            return handled
        from impalatogo_spark import authz as _authz

        handled = _authz.dispatch(self.authz, self.spark, self.authz_user, text)
        if handled is not None:
            return handled
        translated = translate(text)
        if self.options.get("APPX_COUNT_DISTINCT", "0") in ("1", "true", "TRUE"):
            # query-option rewrite count(distinct x) -> ndv(x), the reference's
            # APPX_COUNT_DISTINCT behavior (query-options.cc)
            translated = re.sub(
                r"\bCOUNT\s*\(\s*DISTINCT\s+([^()]+?)\)",
                r"approx_count_distinct(\1)",
                translated,
                flags=re.IGNORECASE,
            )
        dobl = self.options.get("DEFAULT_ORDER_BY_LIMIT")
        if dobl is not None and int(dobl) >= 0:
            # legacy Impala safety: a top-level ORDER BY without LIMIT gets
            # the default limit appended (query-options.cc
            # DEFAULT_ORDER_BY_LIMIT; pre-2.0 Impala required this).
            # PLAIN SELECT statements only — a CTAS/INSERT..SELECT tail
            # must never be truncated by a session default.
            tail = translated.rstrip().rstrip(";")
            if re.match(r"\s*(SELECT|WITH)\b", tail, flags=re.IGNORECASE) \
                    and re.search(r"ORDER\s+BY[^()]*$", tail,
                                  flags=re.IGNORECASE) \
                    and not re.search(r"LIMIT\s+\d+\s*$", tail,
                                      flags=re.IGNORECASE):
                translated = f"{tail} LIMIT {int(dobl)}"
        df = self.spark.sql(translated)
        if self.enforce_authz:
            _authz.enforce(self.authz, self.authz_user, "SELECT",
                           _authz.catalog_tables(df))
        return df

    # -- Impala-only DDL (no Spark SQL equivalent) ----------------------------

    _DDL_RE = {
        # CREATE [EXTERNAL] TABLE t LIKE PARQUET 'file' (sql-parser.y:831
        # create_tbl_like_file_stmt / CreateTableLikeFileStmt)
        "like_file": re.compile(
            r"\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([\w.`]+)\s+LIKE\s+PARQUET\s+'([^']+)'"
            r"(?:\s+STORED\s+AS\s+(\w+))?(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$",
            re.IGNORECASE),
        # bare INVALIDATE METADATA (sql-parser.y:581); the one-table form
        # is dialect.translate's REFRESH TABLE
        "invalidate_all": re.compile(
            r"\s*INVALIDATE\s+METADATA\s*;?\s*$", re.IGNORECASE),
        # DROP [INCREMENTAL] STATS t [PARTITION(...)] (sql-parser.y:1258)
        "drop_stats": re.compile(
            r"\s*DROP\s+(?:INCREMENTAL\s+)?STATS\s+([\w.`]+)"
            r"(?:\s+PARTITION\s*\([^)]*\))?\s*;?\s*$", re.IGNORECASE),
        # CREATE DATA SOURCE name LOCATION '...' CLASS '...' API_VERSION '...'
        "create_ds": re.compile(
            r"\s*CREATE\s+DATA\s+SOURCE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
            r"LOCATION\s+'([^']+)'\s+CLASS\s+'([^']+)'\s+"
            r"API_VERSION\s+'([^']+)'\s*;?\s*$", re.IGNORECASE),
        "drop_ds": re.compile(
            r"\s*DROP\s+DATA\s+SOURCE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
            re.IGNORECASE),
        "show_ds": re.compile(
            r"\s*SHOW\s+DATA\s+SOURCES?(?:\s+(?:LIKE\s+)?'([^']+)')?\s*;?\s*$",
            re.IGNORECASE),
        # CREATE TABLE t [(cols)] PRODUCED BY DATA SOURCE name[('init')]
        # (sql-parser.y:897 CreateTableDataSrcStmt)
        "produced_by": re.compile(
            r"\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*"
            r"(?:\(([^)]*)\)\s*)?PRODUCED\s+BY\s+DATA\s+SOURCE\s+(\w+)"
            r"(?:\s*\(\s*'([^']*)'\s*\))?\s*;?\s*$", re.IGNORECASE),
    }

    def _impala_ddl(self, text: str) -> DataFrame | None:
        """Dispatch Impala-only DDL statements; None -> not one of them."""
        def ok() -> DataFrame:
            return self.spark.createDataFrame([("OK",)], "summary string")

        if m := self._DDL_RE["like_file"].match(text):
            self.create_table_like_file(
                m.group(2), m.group(3), file_format=(m.group(4) or "PARQUET"),
                location=m.group(5), if_not_exists=bool(m.group(1)))
            return ok()
        if self._DDL_RE["invalidate_all"].match(text):
            self.invalidate_metadata()
            return ok()
        if m := self._DDL_RE["drop_stats"].match(text):
            self.drop_stats(m.group(1))
            return ok()
        if m := self._DDL_RE["create_ds"].match(text):
            self.create_data_source(m.group(2), m.group(3), m.group(4),
                                    m.group(5), if_not_exists=bool(m.group(1)))
            return ok()
        if m := self._DDL_RE["drop_ds"].match(text):
            self.drop_data_source(m.group(2), if_exists=bool(m.group(1)))
            return ok()
        if m := self._DDL_RE["show_ds"].match(text):
            return self.show_data_sources(m.group(1))
        if m := self._DDL_RE["produced_by"].match(text):
            self.create_table_from_data_source(
                m.group(1), m.group(3), init_string=m.group(4),
                column_defs=m.group(2))
            return ok()
        return None

    def create_table_like_file(self, table: str, schema_file: str,
                               file_format: str = "PARQUET",
                               location: str | None = None,
                               if_not_exists: bool = False) -> None:
        """CREATE TABLE ... LIKE PARQUET '<file>': infer the column list from
        a parquet file's footer schema (CreateTableLikeFileStmt.java — the
        reference reads the footer with its own parquet parser; Spark's
        reader does the same footer walk, once per file version:
        session.read_parquet caches it)."""
        schema = read_parquet(self.spark, schema_file).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        ine = "IF NOT EXISTS " if if_not_exists else ""
        fmt = {"TEXTFILE": "csv", "PARQUET": "parquet", "ORC": "orc",
               "JSONFILE": "json"}.get(file_format.upper(), file_format.lower())
        loc = f" LOCATION '{location}'" if location else ""
        self.spark.sql(f"CREATE TABLE {ine}{table} ({cols}) USING {fmt}{loc}")

    def drop_stats(self, table: str) -> None:
        """DROP STATS: clear the table's optimizer statistics
        (DropStatsStmt.java; the reference nulls the table/column stats in
        the metastore). Spark keeps stats in the external catalog —
        alterTableStats(None) is the exact inverse of ANALYZE."""
        jss = self.spark._jsparkSession  # noqa: SLF001
        parts = table.replace("`", "").split(".")
        if len(parts) == 2:
            db, tbl = parts
        else:
            db = jss.sessionState().catalog().getCurrentDatabase()
            tbl = parts[0]
        jss.sharedState().externalCatalog().alterTableStats(
            db, tbl, self.spark._jvm.scala.Option.apply(None))  # noqa: SLF001
        self.spark.catalog.refreshTable(table)

    def create_data_source(self, name: str, location: str, class_name: str,
                           api_version: str,
                           if_not_exists: bool = False) -> None:
        """CREATE DATA SOURCE (CreateDataSrcStmt.java): register a source in
        the engine catalog. CLASS names a Python DataSource class path (the
        Spark-native analogue of the reference's ExternalDataSource jar
        class); it is imported and registered with the session now, so a
        bad class fails at CREATE time like the reference's jar check."""
        key = name.lower()
        if key in self.data_sources:
            if if_not_exists:
                return
            raise ValueError(f"Data source already exists: {name}")
        import importlib

        module, _, cls_name = class_name.rpartition(".")
        cls = getattr(importlib.import_module(module), cls_name)
        self.spark.dataSource.register(cls)
        self.data_sources[key] = {
            "name": name, "location": location, "class name": class_name,
            "api version": api_version, "format": cls.name(),
        }

    def drop_data_source(self, name: str, if_exists: bool = False) -> None:
        if name.lower() not in self.data_sources and not if_exists:
            raise ValueError(f"Data source does not exist: {name}")
        self.data_sources.pop(name.lower(), None)

    def show_data_sources(self, pattern: str | None = None) -> DataFrame:
        """SHOW DATA SOURCES [LIKE 'pat'] — Impala patterns use * and |."""
        rows = sorted(self.data_sources.values(), key=lambda d: d["name"])
        if pattern is not None:
            rx = re.compile("|".join(
                "^" + re.escape(alt).replace(r"\*", ".*") + "$"
                for alt in pattern.split("|")), re.IGNORECASE)
            rows = [r for r in rows if rx.match(r["name"])]
        return self.spark.createDataFrame(
            [(r["name"], r["location"], r["class name"], r["api version"])
             for r in rows],
            "name string, location string, `class name` string, "
            "`api version` string")

    def create_table_from_data_source(self, table: str, source: str,
                                      init_string: str | None = None,
                                      column_defs: str | None = None) -> None:
        """CREATE TABLE ... PRODUCED BY DATA SOURCE (CreateTableDataSrcStmt):
        the init string is passed to the source as reader options — 'k=v,...'
        pairs map onto DataSource options (the reference hands the opaque
        string to prepare(); options are the Python DataSource equivalent)."""
        ds = self.data_sources.get(source.lower())
        if ds is None:
            raise ValueError(f"Data source does not exist: {source}")
        reader = self.spark.read.format(ds["format"])
        if init_string:
            for pair in init_string.split(","):
                k, _, v = pair.partition("=")
                if k.strip():
                    reader = reader.option(k.strip(), v.strip())
            reader = reader.option("init_string", init_string)
        if column_defs and column_defs.strip():
            reader = reader.schema(column_defs)
        reader.load().createOrReplaceTempView(table)

    # -- session options -----------------------------------------------------

    def set(self, key: str, value) -> None:
        """SET key=value (Impala query options mapped onto Spark confs)."""
        key = key.upper()
        if key == "DEFAULT_ORDER_BY_LIMIT":
            int(value)  # reject non-numeric at SET time, like the reference
        self.options[key] = str(value)
        if key == "REQUEST_POOL":
            # Impala admission-control pool -> Spark FAIR scheduler pool
            # (admission-controller.cc request pools). Pool assignment is a
            # thread-local property, matching Impala's per-session pool.
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", str(value) or None
            )
            return
        conf = _SPARK_CONF_OPTIONS.get(key)
        if conf and conf not in self._conf_saved:
            # remember the session's pre-SET value so unset()/0 restores it
            # (Impala's 0/unset = 'back to default' convention)
            try:
                self._conf_saved[conf] = self.spark.conf.get(conf)
            except Exception:
                self._conf_saved[conf] = None
        truthy = str(value).lower() in ("1", "true")
        if key in ("DISABLE_CODEGEN", "ABORT_ON_ERROR"):
            # both Impala flags are the NEGATION of their Spark conf
            # (wholeStage codegen on; ignoreCorruptFiles = keep going)
            self.spark.conf.set(conf, "false" if truthy else "true")
        elif key == "DISABLE_OUTERMOST_TOPN":
            # 1 -> any LIMIT k over ORDER BY falls back to full sort+limit
            # (never TakeOrderedAndProject); 0 restores the saved default
            if truthy:
                self.spark.conf.set(conf, "0")
            else:
                self._restore_conf(conf)
        elif conf:
            if key in ("NUM_NODES", "MAX_SCAN_RANGE_LENGTH") \
                    and str(value) in ("0", "-1"):
                # 0 = use the cluster default (query-options.cc NUM_NODES=0)
                self._restore_conf(conf)
            else:
                self.spark.conf.set(conf, str(value))
        if key == "MAX_SCAN_RANGE_LENGTH":
            rebind_shared_tables(self.spark)

    def _restore_conf(self, conf: str) -> None:
        saved = self._conf_saved.get(conf)
        if saved is not None:
            self.spark.conf.set(conf, saved)
        else:
            try:
                self.spark.conf.unset(conf)
            except Exception:
                pass

    def unset(self, key: str) -> None:
        key = key.upper()
        self.options.pop(key, None)
        conf = _SPARK_CONF_OPTIONS.get(key)
        if conf and conf in self._conf_saved:
            self._restore_conf(conf)
        if key == "MAX_SCAN_RANGE_LENGTH":
            rebind_shared_tables(self.spark)

    def default_configuration(self) -> list[tuple[str, str, str]]:
        """The engine's query-option table as (key, value, description)
        rows — the beeswax get_default_configuration payload the stock
        impala-shell calls during connect (shell/impala_client.py:84) to
        seed its option completion/defaults. Covers the full
        TImpalaQueryOptions switch plus the session's current overrides."""
        rows = []
        for key in sorted(set(_SPARK_CONF_OPTIONS) | set(self.options)):
            conf = _SPARK_CONF_OPTIONS.get(key)
            value = self.options.get(key)
            if value is None and conf:
                try:
                    value = self.spark.conf.get(conf)
                except Exception:
                    value = ""
            desc = f"maps to {conf}" if conf else \
                "advisory (accepted and stored)"
            rows.append((key, value or "0", desc))
        return rows

    def dump_config(self) -> str:
        """beeswax.thrift dump_config: a debugging string of the effective
        configuration — session options over their Spark conf levers."""
        return "\n".join(f"{k}={v}  # {d}"
                         for k, v, d in self.default_configuration())

    # -- EXPLAIN -------------------------------------------------------------

    # EXPLAIN_LEVEL accepts numbers OR names (query-options.cc ParseUtil:
    # minimal/standard/extended/verbose); out-of-range values clamp
    _EXPLAIN_LEVELS = {"minimal": 0, "standard": 1, "extended": 2,
                       "verbose": 3}

    def explain(self, text: str, level: int | str | None = None) -> str:
        """EXPLAIN levels 0-3 (reference explain-level*.test):
        0=plan summary, 1=formatted physical, 2=extended, 3=codegen+cost.
        Default level comes from SET EXPLAIN_LEVEL (query-options.cc)."""
        if level is None:
            level = self.options.get("EXPLAIN_LEVEL", 1)
        if isinstance(level, str):
            try:
                level = int(level)
            except ValueError:
                level = self._EXPLAIN_LEVELS.get(level.strip().lower(), 1)
        level = min(3, max(0, level))
        df = self.sql(text)
        mode = {0: "simple", 1: "formatted", 2: "extended", 3: "cost"}[level]
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )

    # -- catalog / DDL helpers ----------------------------------------------

    def create_database(self, name: str, if_not_exists: bool = True) -> None:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {ine}{name}")

    def drop_database(self, name: str, if_exists: bool = True) -> None:
        ie = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP DATABASE {ie}{name} CASCADE")

    def ctas(self, name: str, query: str, format: str = "parquet",
             partition_by: tuple[str, ...] = ()) -> None:
        """CREATE TABLE AS SELECT (grammar sql-parser.y:845)."""
        part = f"PARTITIONED BY ({', '.join(partition_by)}) " if partition_by else ""
        self.spark.sql(
            f"CREATE TABLE {name} USING {format} {part}AS {translate(query)}"
        )

    def insert_into(self, table: str, df: DataFrame, overwrite: bool = False) -> None:
        """INSERT INTO/OVERWRITE (HdfsTableSink, be/src/exec/hdfs-table-sink.cc).
        Dynamic-partition overwrite matches the reference's per-partition
        INSERT OVERWRITE semantics."""
        if self.enforce_authz:
            from impalatogo_spark import authz as _authz

            name = table if "." in table else f"default.{table}"
            _authz.enforce(self.authz, self.authz_user, "INSERT", {name})
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.insertInto(table, overwrite=overwrite)

    def compute_stats(self, table: str) -> None:
        """COMPUTE STATS -> ANALYZE (feeds Catalyst CBO, the equivalent of the
        reference's FE cost-based join ordering inputs)."""
        self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")

    def compute_incremental_stats(self, table: str,
                                  partition: Mapping[str, object] | None = None,
                                  ) -> None:
        """COMPUTE INCREMENTAL STATS [PARTITION (...)] (grammar
        sql-parser.y COMPUTE INCREMENTAL; incremental-stats per-partition
        accumulation in the reference FE) -> partition-scoped ANALYZE: only
        the named partition is rescanned, table-level row counts update
        incrementally — the same contract at Spark's granularity."""
        if partition:
            spec = ", ".join(
                f"{k} = '{v}'" if isinstance(v, str) else f"{k} = {v}"
                for k, v in partition.items()
            )
            self.spark.sql(
                f"ANALYZE TABLE {table} PARTITION ({spec}) COMPUTE STATISTICS"
            )
        else:
            self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")

    def show_partitions(self, table: str) -> DataFrame:
        """SHOW PARTITIONS (shell/impala-shell surface; HdfsTable partition
        listing)."""
        return self.spark.sql(f"SHOW PARTITIONS {table}")

    def show_column_stats(self, table: str) -> DataFrame:
        """SHOW COLUMN STATS -> DESCRIBE EXTENDED per column is Spark's
        surface; this returns (col_name, data_type, comment) + the analyzed
        min/max/ndv when stats exist."""
        return self.spark.sql(f"DESCRIBE EXTENDED {table}")

    def show_table_stats(self, table: str) -> DataFrame:
        """SHOW TABLE STATS -> DESCRIBE EXTENDED (rowCount/sizeInBytes land
        in the Statistics row once ANALYZE has run)."""
        df = self.spark.sql(f"DESCRIBE EXTENDED {table}")
        return df.filter(F.col("col_name").isin("Statistics", "Location", "Provider"))

    def show_tables(self) -> DataFrame:
        return self.spark.sql("SHOW TABLES")

    def show_files(self, table: str) -> DataFrame:
        """SHOW FILES IN <table> (grammar sql-parser.y SHOW FILES; HdfsTable
        file-descriptor listing): one row per data file with its size and
        partition-relative path. Resolved from the catalog location and
        walked driver-side — file metadata is catalog-scale, not data-scale,
        so this never touches executors (same as the reference, which serves
        it from the catalog's file descriptors)."""
        import os

        loc = (
            self.spark.sql(f"DESCRIBE EXTENDED {table}")
            .filter(F.col("col_name") == "Location")
            .first()["data_type"]
        )
        root = loc[len("file:"):] if loc.startswith("file:") else loc
        rows = []
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith("_") or f.startswith("."):
                    continue
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, root)
                part = os.path.dirname(rel)
                rows.append((rel, int(os.path.getsize(full)), part))
        return self.spark.createDataFrame(
            sorted(rows), "path string, size bigint, partition string"
        )

    def show_create_table(self, table: str) -> str:
        """SHOW CREATE TABLE (ToSqlUtils.getCreateTableSql in the reference
        frontend; show-create-table.test) -> Spark's native statement,
        returned as the DDL string."""
        return self.spark.sql(f"SHOW CREATE TABLE {table}").first()[0]

    def describe(self, table: str, formatted: bool = False) -> DataFrame:
        kw = "DESCRIBE FORMATTED" if formatted else "DESCRIBE"
        return self.spark.sql(f"{kw} {table}")

    def refresh(self, table: str) -> None:
        """INVALIDATE METADATA / REFRESH -> REFRESH TABLE."""
        self.spark.sql(f"REFRESH TABLE {table}")

    def invalidate_metadata(self) -> None:
        """Bare INVALIDATE METADATA, a catalog operation as in the reference
        (catalogd ResetCatalog): drop the process's cached parquet schemas
        and catalog sessions, then REFRESH every table and view this session
        can see. No conf changes — Spark's RESET would also drop the
        session's SET options and engine confs (partitionOverwriteMode back
        to static, so a later INSERT OVERWRITE ... PARTITION would wipe
        every partition)."""
        invalidate_metadata()
        for t in self.spark.catalog.listTables():
            name = t.name if t.isTemporary or not t.namespace else \
                ".".join([*t.namespace, t.name])
            try:
                self.spark.catalog.refreshTable(name)
            except Exception:
                pass  # e.g. a table whose files are gone; REFRESH it alone

    # -- NESTED PATH JSON (ImpalaToGo's hierarchical-data feature) ----------

    def create_json_table(self, name: str, json_path: str,
                          columns: Mapping[str, tuple[str, str]]) -> DataFrame:
        """ImpalaToGo `CREATE TABLE ... (col TYPE NESTED PATH 'a.b.c')`:
        bind scalar columns to dotted JSON paths and expose a flat table.

        columns: {col_name: (spark_type, dotted.path)}. The scan flattens each
        JSON document into a flat tuple exactly like the reference's
        delimited-text-parser-json.cc; here it is spark.read.json + a
        flattening projection (paths pushed into the scan schema, so column
        pruning still applies).
        """
        raw = self.spark.read.json(json_path)
        cols = [
            F.col(path.replace("`", "")).cast(dtype).alias(cname)
            for cname, (dtype, path) in columns.items()
        ]
        flat = raw.select(*cols)
        flat.createOrReplaceTempView(name)
        return flat


# -- Mixed-format partitioned tables (QueryTest/mixed-format.test) ----------


class MixedFormatTable:
    """A partitioned table whose partitions may each use a DIFFERENT file
    format, read transparently as one relation.

    Reference parity: HdfsScanNode keys files by partition file format and
    dispatches a per-format scanner (be/src/exec/hdfs-scan-node.cc:237-260,
    :391); ALTER TABLE [PARTITION spec] SET FILEFORMAT
    (fe/.../analysis/AlterTableSetFileFormatStmt.java:24); behavior pinned
    by QueryTest/mixed-format.test (alltypesmixedformat).

    Spark-first shape: one scan branch per partition in its native format,
    `unionByName`'d, each branch carrying its partition value as a LITERAL
    column. A predicate on the partition column therefore constant-folds
    per branch and Catalyst's PropagateEmptyRelation deletes pruned
    branches from the plan — heterogeneous-format partition pruning for
    free (tests/test_ddl.py asserts the pruned plan). At 100 TB each
    branch is an independent columnar/text scan over only its partition
    directory and the union is a no-shuffle concatenation, exactly the
    reference's per-partition scanner split."""

    _READ_OPTS = {"csv": {"header": "false"}, "text": {"header": "false"}}

    def __init__(self, engine: "Engine", name: str, part_col: str, base_path: str):
        self.engine = engine
        self.name = name
        self.part_col = part_col
        self.base_path = base_path
        self.partitions: dict[object, str] = {}  # part value -> file format
        self.schema = None  # captured from the first inserted partition

    def _part_path(self, value) -> str:
        import os

        return os.path.join(self.base_path, f"{self.part_col}={value}")

    def insert_partition(self, value, df: DataFrame, file_format: str = "parquet"):
        """INSERT into one partition, stored in `file_format` (csv aliases the
        reference's delimited-text format)."""
        fmt = "csv" if file_format == "text" else file_format
        data = df.drop(self.part_col)
        if self.schema is None:
            self.schema = data.schema
        data = data.select([F.col(f.name).cast(f.dataType) for f in self.schema])
        data.write.format(fmt).options(**self._READ_OPTS.get(fmt, {})).mode(
            "overwrite"
        ).save(self._part_path(value))
        self.partitions[value] = fmt
        self.refresh()

    def set_fileformat(self, value, file_format: str):
        """ALTER TABLE ... PARTITION (col=value) SET FILEFORMAT: metadata-only,
        like the reference — existing files are REINTERPRETED, not converted
        (AlterTableSetFileFormatStmt.java:24-30's semantics)."""
        if value not in self.partitions:
            raise ValueError(f"unknown partition {self.part_col}={value}")
        self.partitions[value] = "csv" if file_format == "text" else file_format
        self.refresh()

    def df(self) -> DataFrame:
        """The transparent union over all partitions."""
        spark = self.engine.spark
        branches = []
        for value, fmt in sorted(self.partitions.items(), key=lambda kv: str(kv[0])):
            reader = spark.read.format(fmt).options(**self._READ_OPTS.get(fmt, {}))
            if fmt in ("csv", "json"):  # text formats carry no schema
                reader = reader.schema(self.schema)
            branch = reader.load(self._part_path(value)).select(
                [F.col(f.name).cast(f.dataType) for f in self.schema]
            )
            branches.append(branch.withColumn(self.part_col, F.lit(value)))
        if not branches:
            raise ValueError(f"mixed-format table {self.name} has no partitions")
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    def refresh(self):
        self.df().createOrReplaceTempView(self.name)


def create_mixed_format_table(engine: "Engine", name: str, part_col: str,
                              base_path: str) -> MixedFormatTable:
    t = MixedFormatTable(engine, name, part_col, base_path)
    engine.mixed_tables[name] = t
    return t


Engine.create_mixed_format_table = lambda self, name, part_col, base_path: (
    create_mixed_format_table(self, name, part_col, base_path)
)


# -- UDF / UDA surface (SURVEY §2.11) ---------------------------------------
# Reference: CREATE FUNCTION ... LOCATION 'lib.so' SYMBOL='...' (native ABI,
# grammar sql-parser.y:944-968; be/src/udf/udf.h:47,358-521). The Spark-native
# ABI is spark.udf.register: Arrow-vectorized pandas UDFs for scalars, pandas
# GROUPED_AGG for UDAs (INIT/UPDATE/MERGE/FINALIZE collapse into one
# vectorized aggregate — documented reduced surface).


def create_function(engine: "Engine", name: str, fn, return_type: str,
                    vectorized: bool = True):
    """CREATE FUNCTION equivalent: register a Python callable as a
    SQL-callable scalar function. vectorized=True -> Arrow-batched pandas UDF
    (the fast path); False -> row-at-a-time (discouraged, kept for parity
    with interpreted UDFs)."""
    if vectorized:
        from pyspark.sql.functions import pandas_udf

        udf = pandas_udf(return_type)(fn)
    else:
        from pyspark.sql.functions import udf as _udf

        udf = _udf(fn, return_type)
    engine.spark.udf.register(name, udf)
    return udf


def create_java_function(engine: "Engine", name: str, class_name: str,
                         jar_path: str):
    """Hive Java UDF path (reference `be/src/exprs/hive-udf-call.cc` +
    `fe/.../hive/executor/`): CREATE [TEMPORARY] FUNCTION ... USING JAR.

    Spark executes classes extending org.apache.hadoop.hive.ql.exec.UDF
    natively, but ONLY under the Hive session catalog — the in-memory
    catalog has no Hive-UDF handler (NO_HANDLER_FOR_UDAF). Build the session
    with spark.sql.catalogImplementation=hive to use this
    (tests/test_hive_udf.py runs the end-to-end jar path in a subprocess).
    """
    impl = engine.spark.conf.get("spark.sql.catalogImplementation", "in-memory")
    if impl != "hive":
        raise RuntimeError(
            "Hive Java UDFs need spark.sql.catalogImplementation=hive "
            f"(current: {impl}); rebuild the session with the hive catalog"
        )
    uri = jar_path if "://" in jar_path else f"file://{jar_path}"
    engine.spark.sql(
        f"CREATE TEMPORARY FUNCTION {name} AS '{class_name}' USING JAR '{uri}'"
    )


def create_aggregate_function(engine: "Engine", name: str, fn, return_type: str):
    """CREATE AGGREGATE FUNCTION equivalent: pandas GROUPED_AGG UDA.
    fn: pd.Series -> scalar."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    uda = pandas_udf(return_type, PandasUDFType.GROUPED_AGG)(fn)
    engine.spark.udf.register(name, uda)
    return uda


Engine.create_function = lambda self, name, fn, return_type, vectorized=True: (
    create_function(self, name, fn, return_type, vectorized)
)
Engine.create_aggregate_function = lambda self, name, fn, return_type: (
    create_aggregate_function(self, name, fn, return_type)
)
Engine.create_java_function = lambda self, name, class_name, jar_path: (
    create_java_function(self, name, class_name, jar_path)
)
Engine.show_functions = lambda self: self.spark.sql("SHOW USER FUNCTIONS")
