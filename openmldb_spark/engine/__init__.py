"""Statement-level engine facade — the equivalent of the reference's
SQL router + TaskManager entry points (SURVEY §3.3).

The reference routes statements via CmdType (``node_enum.h:282-330``):
DDL goes to the nameserver, offline DML (LOAD DATA / SELECT INTO / SELECT)
to Spark jobs via TaskManager, DEPLOY compiles a named request-mode
procedure. Here everything is one process: an in-memory catalog of
DataFrames + table metadata, and ``execute(sql)``: one classifier
(``core._classify``, also behind ``Engine.statement_kind``) checks the
statement's grammar and names the handler that runs it.

Statements:

- ``CREATE DATABASE d`` / ``USE d`` / ``DROP DATABASE d``
- ``CREATE TABLE t (col type..., INDEX(KEY=..., TS=..., TTL=..., TTL_TYPE=...))``
  (DDL: ``docs/en/openmldb_sql/ddl/CREATE_TABLE_STATEMENT.md:223-244``)
- ``DROP TABLE t``
- ``INSERT INTO t VALUES (...), (...)``
- ``LOAD DATA INFILE 'path' INTO TABLE t OPTIONS(format='csv', ...)``
- ``SELECT ... INTO OUTFILE 'path' OPTIONS(...)``
- ``DEPLOY name SELECT ...`` — request-mode procedure (below)
- ``SELECT ...`` — the query front end (:mod:`openmldb_spark.sql`)
- ``SHOW TABLES`` / ``SHOW DATABASES`` / ``SHOW DEPLOYMENTS``

DEPLOY semantics (ref ``DEPLOY_STATEMENT.md``; ``PhysicalRequestUnionNode``
``physical_op.h:1504-1615``): the deployed SELECT's main table becomes the
request table. ``run_batch`` executes the SQL unchanged over stored data
(batch = request-for-every-row, ``WINDOW_CLAUSE.md:78-86``). ``run_request``
rewrites every window to ``UNION __history ... INSTANCE_NOT_IN_WINDOW`` so
each request row's frames see stored history + the request row itself and
nothing else — the RequestUnion merge, train/serve consistent by
construction.
"""

from openmldb_spark.engine.core import Engine
from openmldb_spark.engine.serving import SqlDeployment

__all__ = ["Engine", "SqlDeployment"]
