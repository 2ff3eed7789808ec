"""Introspection surface: DESC, SHOW *, EXPLAIN, table status."""

from __future__ import annotations

import datetime
import re
from typing import Optional

from pyspark.sql import DataFrame

from openmldb_spark.jobs import JOB_SCHEMA
from openmldb_spark.sql import parser as P
from openmldb_spark.sql.lowering import Lowerer
from openmldb_spark.sql.parser import Tok, render

from openmldb_spark.engine._helpers import _like_to_regex


class ShowMixin:

    def _desc(self, toks: list[Tok], sql_text: str) -> DataFrame:
        """DESC t — column name/type/nullability plus index summaries
        (ref: docs/en/openmldb_sql/ddl/DESC_STATEMENT.md)."""
        name = toks[1].text
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        rows = [
            (f.name, f.dataType.simpleString(), "YES" if f.nullable else "NO")
            for f in self.tables[name].schema.fields
        ]
        td = self.table_defs.get(name)
        for idx in (td.indexes if td else []):
            rows.append(
                (
                    f"__index__{idx.name}",
                    f"keys={','.join(idx.keys)} ts={idx.ts_col} "
                    f"ttl={idx.ttl} ttl_type={idx.ttl_type}",
                    "",
                )
            )
        return self.spark.createDataFrame(rows, "field string, type string, null string")

    def _show_create(self, toks: list[Tok], sql_text: str) -> DataFrame:
        """SHOW CREATE TABLE t (SHOW_CREATE_TABLE_STATEMENT.md)."""
        name = toks[3].text
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in self.tables[name].schema.fields
        )
        td = self.table_defs.get(name)
        idx_parts = [
            f"INDEX(KEY={','.join(i.keys)}"
            + (f", TS={i.ts_col}" if i.ts_col else "")
            + (f", TTL={i.ttl}" if i.ttl else "")
            + (f", TTL_TYPE={i.ttl_type}" if i.ttl else "")
            + ")"
            for i in (td.indexes if td else [])
        ]
        body = ", ".join([cols, *idx_parts])
        ddl = f"CREATE TABLE {name} ({body})"
        return self.spark.createDataFrame([(name, ddl)], "table string, create_sql string")

    def _show_jobs(self, component: str, pattern: Optional[str]) -> DataFrame:
        """SHOW JOBS [FROM TASKMANAGER|NAMESERVER] [LIKE 'pat']
        (SHOW_JOBS.md). All this engine's jobs are TaskManager-style
        offline jobs; the nameserver's internal op list has no analogue (no
        tablets), so FROM NAMESERVER is always empty."""
        rows = self.jobman.rows() if component == "TASKMANAGER" else []
        if pattern is not None:
            rx = re.compile("^" + _like_to_regex(pattern) + "$", re.IGNORECASE)
            rows = [r for r in rows if rx.match(str(r[0]))]
        return self.spark.createDataFrame(rows or [], JOB_SCHEMA)

    def _show_table_status(self, pattern: Optional[str]) -> DataFrame:
        """SHOW TABLE STATUS [LIKE 'db-pattern'] (SHOW_TABLE_STATUS.md) —
        one row per table; the LIKE pattern matches DATABASE names (the
        reference's semantics), no pattern means the current database.
        Sizes come from Catalyst plan statistics (the metadata-level
        answer — no data scan); Rows is the one per-table action."""
        if pattern is None:
            dbs = [self.current_db]
        else:
            rx = re.compile("^" + _like_to_regex(pattern) + "$", re.IGNORECASE)
            dbs = [d for d in sorted(self._dbs) if rx.match(d)]
        rows = []
        for db in dbs:
            for bare in sorted(self._dbs[db]):
                df = self._dbs[db][bare]
                td = self._db_defs.get(db, {}).get(bare)
                storage = td.storage_mode if td else "memory"
                nbytes = int(
                    str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
                )
                # Catalyst reports defaultSizeInBytes (~Long.Max) for leaves
                # it can't size (in-memory RDD-backed tables); the honest
                # metadata answer there is 0, like the reference's empty
                # tablet stats
                size = str(nbytes if nbytes < 1 << 60 else 0)
                parts = self._off_parts.get((db, bare)) or {}
                sym = ",".join(parts.get("sym", {})) or None
                n_part = df.rdd.getNumPartitions()
                rows.append(
                    (
                        str(self._tid(db, bare)), bare, db, storage,
                        str(df.count()),
                        size if storage == "memory" else "0",
                        "0" if storage == "memory" else size,
                        str(n_part), "0", "1",
                        None,
                        parts.get("fmt"),
                        sym,
                        "",
                    )
                )
        return self.spark.createDataFrame(
            rows or [],
            "Table_id string, Table_name string, Database_name string, "
            "Storage_type string, Rows string, Memory_data_size string, "
            "Disk_data_size string, Partition string, Partition_unalive string, "
            "Replica string, Offline_path string, Offline_format string, "
            "Offline_symbolic_paths string, Warnings string",
        )

    def _explain(self, toks: list[Tok], sql_text: str):
        """EXPLAIN [LOGICAL] <query> (cmd.yaml ids 8/9) — returns the
        engine's plan for the query as one row. Spark-first: the physical
        plan IS Spark's executed plan (what the reference's EXPLAIN prints
        from its own codegen pipeline), LOGICAL is Catalyst's optimized
        logical plan."""
        mode = "physical"
        body = toks[1:]
        if body and body[0].upper in ("LOGICAL", "PHYSICAL"):
            mode = body[0].text.lower()
            body = body[1:]
        if not body or body[0].upper not in ("SELECT", "WITH"):
            raise ValueError("EXPLAIN [LOGICAL] <select query>")
        while body and body[-1].text == ";":
            body = body[:-1]
        query = render(body)
        df = Lowerer(self.spark, self._table_view()).query(P.parse(query), {})
        qe = df._jdf.queryExecution()
        text = str(qe.optimizedPlan() if mode == "logical" else qe.executedPlan())
        return self.spark.createDataFrame([(text,)], "plan string")

    def _show_create_procedure(self, name: str) -> DataFrame:
        """SHOW CREATE PROCEDURE [db.]name -> (Procedure, Create Procedure)
        with the original DDL (divergence: the reference's handler builds
        the info but returns an empty result set — sql_cluster_router.cc
        kCmdShowCreateSp has its print commented out; returning the DDL is
        strictly more useful and mirrors SHOW CREATE TABLE)."""
        db, dep = self._dep_lookup(name)
        ddl = getattr(dep, "create_sql", None) or dep.sql_text
        return self.spark.createDataFrame(
            [(dep.name, ddl)], "`Procedure` string, `Create Procedure` string"
        )

    def _show(self, what: str) -> DataFrame:
        if what == "TABLES":
            rows = [(n,) for n in sorted(self.tables)]
            return self.spark.createDataFrame(rows or [], "table_name string")
        if what == "DATABASES":
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self.databases)], "database_name string"
            )
        if what == "CURRENT_USER":
            return self.spark.createDataFrame([(self.current_user,)], "User string")
        if what == "DEPLOYMENTS":
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.deployments)] or [], "deployment string"
            )
        if what == "VARIABLES":
            # reference output contract: Variable_name / Value columns
            # (docs/en/openmldb_sql/ddl/SHOW_VARIABLES_STATEMENT.md)
            return self.spark.createDataFrame(
                sorted(self.variables.items()), "Variable_name string, Value string"
            )
        if what == "FUNCTIONS":
            rows = [
                (n, "AGGREGATE" if agg else "SCALAR", ret, path)
                for n, (agg, ret, path) in sorted(self.functions.items())
            ]
            return self.spark.createDataFrame(
                rows or [], "name string, kind string, return_type string, file string"
            )
        if what == "PROCEDURES":
            # kCmdShowProcedures: ("DB", "SP") rows across ALL databases —
            # the reference lists every stored procedure INCLUDING
            # deployments (a deployment IS a procedure of type
            # kReqDeployment; sql_cluster_router.cc:2126)
            rows = [
                (db, n)
                for db in sorted(self._db_deps)
                for n in sorted(self._db_deps[db])
            ]
            return self.spark.createDataFrame(rows or [], "DB string, SP string")
        if what == "COMPONENTS":
            # SHOW_COMPONENTS.md: (Endpoint, Role, Connect_time, Status,
            # Ns_role). One SparkSession plays every role the reference
            # distributes (tablet storage, nameserver catalog, taskmanager
            # jobs) — one row per role, all at the driver's endpoint.
            sc = self.spark.sparkContext
            try:
                host = sc.getConf().get("spark.driver.host")
                port = sc.getConf().get("spark.driver.port")
                endpoint = f"{host}:{port}"
            except Exception:
                endpoint = sc.master
            started = datetime.datetime.fromtimestamp(sc.startTime / 1000.0)
            rows = [
                (endpoint, role, started, "online",
                 "master" if role == "nameserver" else None)
                for role in ("tablet", "nameserver", "taskmanager")
            ]
            return self.spark.createDataFrame(
                rows,
                "Endpoint string, Role string, Connect_time timestamp, "
                "Status string, Ns_role string",
            )
        raise ValueError(f"SHOW {what} not supported")

    # -- offline jobs (the reference's TaskManager job table) ------------------
    def _show_job(self, job_id: int) -> DataFrame:
        return self.spark.createDataFrame([self.jobman.get(job_id).row()], JOB_SCHEMA)

    def _show_joblog(self, job_id: int) -> DataFrame:
        """SHOW JOBLOG job_id (SHOW_JOBLOG.md) — the job's lifecycle log."""
        job = self.jobman.get(job_id)
        return self.spark.createDataFrame([(job.log_text(),)], "log string")

    def _stop_job(self, job_id: int) -> DataFrame:
        """Cancel the job's Spark job group (kills its running stages) and
        return the job row with the final state — the reference's
        JobInfoManager.stopJob contract."""
        return self.spark.createDataFrame([self.jobman.stop(job_id).row()], JOB_SCHEMA)
