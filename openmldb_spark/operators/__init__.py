"""Operators: window aggregation, WINDOW UNION, LAST JOIN."""

from openmldb_spark.operators.last_join import last_join
from openmldb_spark.operators.window import WindowDef, window_agg
from openmldb_spark.operators.window_union import window_union

__all__ = ["WindowDef", "window_agg", "window_union", "last_join"]
