"""Relational core — the reference's scan/project/filter/group/set/limit
operators, each a one-line DataFrame lowering (Catalyst does the rest).

This module exists to make the SURVEY §2 inventory explicit; the functions
are deliberately thin — the *engine* for these operators is Catalyst, which
supplies predicate pushdown, column pruning, CollapseProject, LimitPushDown,
join reordering and whole-stage codegen (the reference implements the same
rewrites by hand in hybridse/src/passes/, SURVEY §4.1).

| Reference physical op                       | Here                      |
|---------------------------------------------|---------------------------|
| PhysicalGroupNode + GroupAggrerationNode (:652,:846) | group_agg       |
| PhysicalDistinctNode       (:1799)          | distinct_                 |
| PhysicalSortNode           (:1694)          | sort_                     |
| PhysicalLimitNode          (:1759)          | limit_                    |
| PhysicalSetOperationNode   (:1441)          | union_ (+ except/intersect as free upgrades) |
| PhysicalDeleteNode         (:1895)          | delete_where (anti-join rewrite) |

Scan, project, filter, rename and full-table aggregation lower straight
from the SQL front end (``sql/lowering``) to DataFrame calls.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def group_agg(
    df: DataFrame,
    keys: Sequence[ColumnOrName],
    aggs: dict[str, Column],
    having: Optional[Column] = None,
) -> DataFrame:
    out = df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.filter(having) if having is not None else out


def distinct_(df: DataFrame) -> DataFrame:
    return df.distinct()


def sort_(df: DataFrame, *cols: ColumnOrName) -> DataFrame:
    return df.sort(*cols)


def limit_(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


def union_(a: DataFrame, b: DataFrame, *, distinct: bool = False) -> DataFrame:
    """UNION ALL / UNION DISTINCT (ref executes UNION only; EXCEPT/INTERSECT
    parse but don't run — SetOperationPlan.scala:25-27. We support all)."""
    out = a.unionByName(b)
    return out.distinct() if distinct else out


def except_(a: DataFrame, b: DataFrame, *, all: bool = False) -> DataFrame:
    return a.exceptAll(b) if all else a.subtract(b)


def intersect_(a: DataFrame, b: DataFrame, *, all: bool = False) -> DataFrame:
    return a.intersectAll(b) if all else a.intersect(b)


def delete_where(df: DataFrame, cond: Column) -> DataFrame:
    """Batch DELETE = anti-filter rewrite of the managed table. A NULL
    condition does not match (SQL DELETE semantics), so those rows are
    kept — plain ``~cond`` would drop them."""
    return df.where(~F.coalesce(cond, F.lit(False)))
