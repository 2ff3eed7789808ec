"""openmldb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of 4paradigm/OpenMLDB.

Brand-new implementation on the Spark DataFrame/SQL stack (Catalyst is the
optimizer and code generator; no JNI, no row codecs, no custom runners).
The reference system is used only to pin down *semantics*:

- time windows over partitioned, time-ordered data (``ROWS`` / ``ROWS_RANGE``
  frames with ``OPEN PRECEDING`` / ``MAXSIZE`` / ``EXCLUDE CURRENT_TIME`` /
  ``EXCLUDE CURRENT_ROW`` attributes)            -> :mod:`openmldb_spark.operators.window`
- ``WINDOW ... UNION`` (+ ``INSTANCE_NOT_IN_WINDOW``)
                                                 -> :mod:`openmldb_spark.operators.window_union`
- ``LAST JOIN`` (as-of-style latest-match join)  -> :mod:`openmldb_spark.operators.last_join`
- the scalar function surface                    -> :mod:`openmldb_spark.functions.scalar`
- the UDAF surface (``*_where``, ``*_cate``, ``top``, ``ew_avg``, ...)
                                                 -> :mod:`openmldb_spark.functions.aggregates`
- LOAD DATA / SELECT INTO                        -> :mod:`openmldb_spark.sources.loader`
- table+index+TTL metadata                       -> :mod:`openmldb_spark.catalog`
- DEPLOY (named feature queries)                 -> :mod:`openmldb_spark.engine.deploy`

Beyond reference parity, :mod:`openmldb_spark.pipeline` adds the operators a
large-scale (100 TB) training-data pipeline needs: dedup (exact / exact
n-gram Jaccard / SimHash / embedding), similarity search (brute-force, LSH,
IVF, product quantization), text analysis, sampling, image features; and
:mod:`openmldb_spark.streaming` adds event-time windowed aggregation and its
SQL spelling.
"""

from openmldb_spark.session import get_spark, load_table

__version__ = "0.1.0"

__all__ = ["get_spark", "load_table", "__version__"]
