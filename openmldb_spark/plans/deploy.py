"""DEPLOY — persist a feature query as a named, schema-contracted callable.

Reference: ``DEPLOY name SELECT ...`` compiles SQL into a named request-mode
procedure (``docs/en/openmldb_sql/deployment_manage/DEPLOY_STATEMENT.md``;
``ProcedureType kReqDeployment`` ``src/proto/type.proto:72-76``). Online
serving then calls it per request row.

Batch-first translation (SURVEY §0 key decision): OpenMLDB itself defines
batch mode as "request mode for every row" (``WINDOW_CLAUSE.md:78-86``), so
a deployment here is a function ``(tables...) -> DataFrame`` plus an input
schema contract. ``run_batch`` computes features for *all* rows of the
request table (training-set generation); ``run_request`` computes them for a
small batch of request rows by unioning the requests with history and
keeping only request-row outputs — the same WINDOW-UNION machinery the
online engine's RequestUnion runner uses (``PhysicalRequestUnionNode``,
``physical_op.h:1504-1615``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

@dataclass
class Deployment:
    name: str
    #: (request_df, history_df) -> feature DataFrame; must emit one output
    #: row per request row (the train/serve consistency contract)
    fn: Callable[[DataFrame, DataFrame], DataFrame]
    input_schema: Optional[StructType] = None

    def _check(self, req: DataFrame) -> None:
        if self.input_schema is not None and req.schema != self.input_schema:
            raise ValueError(
                f"deployment {self.name!r}: request schema {req.schema.simpleString()} "
                f"!= contract {self.input_schema.simpleString()}"
            )

    def run_batch(self, history: DataFrame) -> DataFrame:
        """Training-set generation: every history row is a request row."""
        self._check(history)
        return self.fn(history, history)

    def run_request(self, requests: DataFrame, history: DataFrame) -> DataFrame:
        """Online-style: features for the request rows only, computed
        against history (train/serve consistent with run_batch)."""
        self._check(requests)
        return self.fn(requests, history)


def deploy(
    name: str,
    fn: Callable[[DataFrame, DataFrame], DataFrame],
    input_schema: Optional[StructType] = None,
) -> Deployment:
    return Deployment(name, fn, input_schema)
