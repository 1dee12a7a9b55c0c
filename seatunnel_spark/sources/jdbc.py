"""JDBC source — partitioned parallel reads for 30+ dialects.

Reference: connector-jdbc (config/JdbcOptions.java:169-185 —
partition_column / partition_num / partition_lower_bound /
partition_upper_bound; DynamicChunkSplitter.java:57 — dynamic chunking).

Spark-native design: `spark.read.jdbc` with either
  * numeric range partitioning (column/lower/upper/numPartitions —
    Spark generates the same WHERE-range chunks the reference's
    FixedChunkSplitter does), or
  * an explicit predicate list (the analog of DynamicChunkSplitter for
    skewed/non-numeric keys) via `predicates=[...]`.

The ~30 reference dialects (connector-jdbc/.../internal/dialect/) are
all URL-addressed drivers on the Spark side; `_DIALECT_DRIVERS` maps
url prefix -> driver class for the common ones so configs stay terse.
A driver jar must be on the Spark classpath at deploy time; in this
container there is no database to test against, so connect-time errors
surface from the JVM as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from seatunnel_spark.sources.base import Source

from seatunnel_spark.jdbc_dialects import dialect_for

JDBC_ALIAS_NAMES = ["Jdbc", "Mysql", "Postgres", "Oracle", "SqlServer", "Clickhouse",
                    "Doris", "StarRocks", "Greenplum", "Redshift", "Snowflake",
                    "Sqlite", "Teradata", "Vertica", "OceanBase", "Db2", "SapHana"]


class JdbcSource(Source):
    NAME = "Jdbc"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.net import resolve_jdbc_url

        table_list = self.opt("table_list")
        if table_list:
            # multi-table source (jdbc_mysql_source_and_sink_with_
            # multiple_tables.conf): one entry per table_path/query,
            # routed downstream by table id
            out = {}
            for entry in table_list:
                sub_opts = {k: v for k, v in self.options.items()
                            if k != "table_list"}
                sub_opts.pop("table_path", None)
                sub_opts.pop("query", None)
                sub_opts.update(entry)
                sub = JdbcSource(sub_opts)
                sub.plugin_name = self.plugin_name
                tid = str(entry.get("table_path")
                          or entry.get("table") or f"t{len(out)}")
                out[tid] = sub.read(spark)
            return out if len(out) > 1 else next(iter(out.values()))

        url = resolve_jdbc_url(self.require("url"))
        props = {
            "user": str(self.opt("user", "")),
            "password": str(self.opt("password", "")),
        }
        dialect = dialect_for(url, self.opt("compatible_mode"))
        driver = self.opt("driver") or dialect.driver or None
        if driver:
            props["driver"] = driver

        table = self.opt("table_path") or self.opt("table")
        query = self.opt("query")
        dbtable = table if table else f"({query}) st_src" if query else None
        if dbtable is None:
            raise ValueError("Jdbc source: one of table_path/query required")

        from seatunnel_spark.sinks.jdbc import _jvm_driver_available
        from seatunnel_spark.sql_exec import wire_family

        if bool(self.opt("use_wire_client", False)) or (
                wire_family(url) and not _jvm_driver_available(
                    spark, self.opt("driver"))):
            # a conf-declared JVM driver class that isn't on the
            # classpath falls back to the stdlib wire client, same
            # rule as the sink
            return self._wire_read(spark, url, props, table, query)

        part_col = self.opt("partition_column")
        if part_col:
            return spark.read.jdbc(
                url=url,
                table=dbtable,
                column=part_col,
                lowerBound=int(self.require("partition_lower_bound")),
                upperBound=int(self.require("partition_upper_bound")),
                numPartitions=int(self.opt("partition_num", 8)),
                properties=props,
            )
        predicates = self.opt("predicates")
        if predicates:
            return spark.read.jdbc(url=url, table=dbtable, predicates=predicates,
                                   properties=props)
        return spark.read.jdbc(url=url, table=dbtable, properties=props)

    def _wire_read(self, spark: SparkSession, url: str, props: dict,
                   table: str | None, query: str | None) -> DataFrame:
        """Partitioned read over the stdlib pg/mysql wire clients (no
        JVM driver jar needed). Same chunking contract as the JVM
        path: partition_column range slices or explicit predicates;
        each slice is drained by its own executor task."""
        from pyspark.sql import functions as F

        from seatunnel_spark.mysql_wire import TYPE_NAMES
        from seatunnel_spark.sql_exec import WireExecutor, wire_family

        user, password = props.get("user", ""), props.get("password", "")
        family = wire_family(url)
        base = query if query else f"SELECT * FROM {table}"
        base = base.strip().rstrip(";")  # confs end queries with ';'

        part_col = self.opt("partition_column")
        predicates = self.opt("predicates")
        if part_col:
            lo_opt = self.opt("partition_lower_bound")
            hi_opt = self.opt("partition_upper_bound")
            if lo_opt is None or hi_opt is None:
                # DynamicChunkSplitter.java probes MIN/MAX when bounds
                # are absent; a non-numeric partition column (the pg
                # conf's varchar_col) falls back to one slice — the
                # reference samples string ranges, a single slice is
                # the correctness-safe analog
                e = WireExecutor(url, user, password)
                try:
                    _, _, mm = e.query(
                        f"SELECT MIN({part_col}), MAX({part_col}) "
                        f"FROM ({base}) st_mm")
                finally:
                    e.close()
                try:
                    lo_opt = int(float(mm[0][0]))
                    hi_opt = int(float(mm[0][1]))
                except (TypeError, ValueError, IndexError):
                    lo_opt = hi_opt = None
            if lo_opt is not None and hi_opt is not None:
                lo, hi = int(lo_opt), int(hi_opt)
                n = int(self.opt("partition_num", 8))
                step = max(1, (hi - lo + n) // n)
                predicates = [
                    f"{part_col} >= {s} AND "
                    f"{part_col} < {min(s + step, hi + 1)}"
                    for s in range(lo, hi + 1, step)]
                # Spark's JDBCRelation gives the first slice a
                # NULL-catching clause; closed ranges alone silently
                # drop rows whose partition_column is NULL
                predicates[0] += f" OR {part_col} IS NULL"
        slices = ([f"SELECT * FROM ({base}) st_src WHERE {p}"
                   for p in predicates] if predicates else [base])

        ex = WireExecutor(url, user, password)
        try:
            cols, codes, _ = ex.query(
                f"SELECT * FROM ({base}) st_probe WHERE 1=0"
                if family in ("pg", "drda")  # db2 has no LIMIT
                else f"SELECT TOP 0 * FROM ({base}) st_probe"
                if family == "mssql"
                else f"SELECT * FROM ({base}) p LIMIT 0")
        finally:
            ex.close()
        _PG_OID = {16: "boolean", 20: "bigint", 21: "smallint", 23: "int",
                   700: "float", 701: "double", 1700: "decimal(38,10)",
                   1082: "date", 1114: "timestamp", 1184: "timestamp",
                   17: "binary"}
        _MY = {"TINYINT": "tinyint", "SMALLINT": "smallint", "INT": "int",
               "BIGINT": "bigint", "FLOAT": "float", "DOUBLE": "double",
               "DECIMAL": "decimal(38,10)", "DATE": "date",
               "DATETIME": "timestamp", "TIMESTAMP": "timestamp"}
        _MS = {"tinyint": "smallint", "smallint": "smallint", "int": "int",
               "bigint": "bigint", "real": "float", "float": "double",
               "bit": "boolean", "decimal": "decimal(38,10)",
               "numeric": "decimal(38,10)", "money": "decimal(19,4)",
               "smallmoney": "decimal(10,4)", "date": "date",
               "datetime": "timestamp", "smalldatetime": "timestamp",
               "datetime2": "timestamp", "varbinary": "binary",
               "binary": "binary"}
        _HIVE = {"tinyint": "tinyint", "smallint": "smallint", "int": "int",
                 "bigint": "bigint", "float": "float", "double": "double",
                 "boolean": "boolean", "decimal": "decimal(38,10)",
                 "date": "date", "timestamp": "timestamp",
                 "binary": "binary"}
        if family == "pg":
            spark_types = [_PG_OID.get(c, "string") for c in codes]
        elif family == "mssql":
            # TdsClient returns T-SQL type-name strings, not codes
            spark_types = [_MS.get(c, "string") for c in codes]
        elif family == "hive":
            spark_types = [_HIVE.get(c, "string") for c in codes]
        elif family in ("avatica", "snowflake", "drda", "hana"):
            # these clients already map their catalogs -> schema DSL
            spark_types = list(codes)
        else:
            spark_types = [_MY.get(TYPE_NAMES.get(c, ""), "string")
                           for c in codes]

        def fetch(sql):
            e = WireExecutor(url, user, password)
            try:
                _, _, rows = e.query(sql)
                return [tuple(None if v is None else str(v) for v in r)
                        for r in rows]
            finally:
                e.close()

        rdd = spark.sparkContext.parallelize(slices, len(slices)) \
            .flatMap(fetch)
        raw = spark.createDataFrame(
            rdd, ", ".join(f"`{c}` string" for c in cols))
        return raw.select(*[F.col(f"`{c}`").cast(t).alias(c)
                            for c, t in zip(cols, spark_types)])
