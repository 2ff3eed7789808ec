"""Lower the parsed dialect AST onto PySpark DataFrame operators.

Strategy (SURVEY §3.1): the reference compiles SQL via ZetaSQL + HybridSE to
LLVM row functions; we instead split every SELECT into

- **text path** — statements made only of standard-SQL constructs
  (project/filter/group/having/set-ops/limit) are re-rendered as Spark SQL
  (dialect functions rewritten by :mod:`.rewrite`) and handed to
  ``spark.sql`` — Catalyst parses, optimizes and codegens them natively;
- **structural path** — statements using dialect-only constructs
  (``WINDOW`` with ROWS/ROWS_RANGE frames + attributes, ``WINDOW ... UNION``,
  ``LAST JOIN``) are lowered explicitly onto
  :mod:`openmldb_spark.operators.window` / ``window_union`` /
  ``last_join`` (``Lowerer._last_join`` only builds the inputs of
  ``last_join.lower_last_join``, the lowering the DataFrame operator
  shares), with scalar sub-expressions still going through ``F.expr``
  (so they stay inside whole-stage codegen). A GROUP BY over a LAST JOIN
  groups the joined relation with the same two group stages as any other
  GROUP BY.

No Python UDFs on either path.

Split into a package in round 9 (engine.py got the same treatment in r8;
the import surface is unchanged — ``from openmldb_spark.sql.lowering
import Lowerer`` keeps working): :mod:`.aggs` holds the dialect UDAF
registry and the nested / frame-nested aggregate compiler, :mod:`.shape`
the statement-shape classification and token utilities, :mod:`.exec` the
``Lowerer`` executor and the ``sql()`` convenience entry.
"""

from openmldb_spark.sql.lowering.aggs import (  # noqa: F401
    _AGGS,
    _SPARK_AGG_HEADS,
    _TEXT_GROUP_AGGS,
    _build_agg,
    _build_frame_nested_agg,
    _contains_agg_call,
    _fuse_list_call,
    _split_embedded_overs,
    _split_nested_aggs,
)
from openmldb_spark.sql.lowering.shape import (  # noqa: F401
    _ambiguous_qualifiers,
    _depth_at,
    _dequalify,
    _derived_name,
    _needs_structural_group,
    _qualify_bare,
    _struct_eq,
)
from openmldb_spark.sql.lowering.exec import (  # noqa: F401
    Lowerer,
    sql,
)
