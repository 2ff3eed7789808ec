"""Table / index / TTL metadata — the data-model surface of the reference.

Reference model (SURVEY §1): a table has typed columns plus one or more
indexes ``INDEX(KEY=..., TS=..., TTL=..., TTL_TYPE=...)``
(``src/proto/common.proto:73-81``; DDL doc
``docs/en/openmldb_sql/ddl/CREATE_TABLE_STATEMENT.md:223-244``). An index is
a physical access path (rows hashed by key, time-ordered within key); TTL
bounds retained history per key.

Spark-first translation: an index is a *layout hint*, not semantics —
``repartition(keys).sortWithinPartitions(ts)`` before heavy window chains, or
bucketed parquet for repeated co-located joins. TTL becomes a load-time
filter:

- ``absolute`` (kAbsoluteTime): keep rows with ts newer than now - ttl
- ``latest``  (kLatestTime):   keep the newest N rows per key
- ``absandlat`` / ``absorlat``: conjunction / disjunction of the two
  (``src/proto/type.proto:50-56``; GC impl ``src/storage/segment.h:95-99``)
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openmldb_spark.operators.window import parse_interval_ms


@dataclass
class IndexDef:
    name: str
    keys: Sequence[str]
    ts_col: Optional[str] = None
    ttl: Optional[str] = None        # e.g. '30d' (absolute) or '100' (latest N)
    ttl_type: str = "absolute"       # absolute | latest | absandlat | absorlat
    #: "ddl" = user-declared (read-enforced on every online read);
    #: "deploy" = DEPLOY-derived absolute index (enforced only on the
    #: deployment's own serving reads — the reference expires per access
    #: path, so other indexes still serve the rows);
    #: "deploy_lazy" = DEPLOY-derived latest-N index (the reference only
    #: compacts these at GC time and reads see un-collected rows, so it is
    #: metadata here, never a read filter)
    origin: str = "ddl"


@dataclass
class TableDef:
    name: str
    schema_ddl: str                   # Spark DDL string, e.g. 'id int, ts timestamp'
    indexes: list[IndexDef] = field(default_factory=list)
    #: columns declared NOT NULL — metadata for DESC / the API server's
    #: table info (not enforced on the DataFrame schema)
    not_null: set = field(default_factory=set)
    #: CREATE TABLE ... OPTIONS(storage_mode=...) — memory|ssd|hdd
    #: (reference CREATE_TABLE_STATEMENT.md; surfaced by SHOW TABLE STATUS
    #: as Storage_type). Metadata only: every table here is a DataFrame.
    storage_mode: str = "memory"


def apply_ttl(
    df: DataFrame,
    index: IndexDef,
    *,
    now_ms: Optional[int] = None,
    staged: bool = False,
) -> DataFrame:
    """Enforce an index's TTL as a filter (batch equivalent of online GC).

    ``now_ms`` pins "now" for determinism; defaults to the max ts in the data
    (the only reproducible choice for a batch engine). ``staged`` marks
    ``df`` as a compiled serve's single-partition staged rows: the max then
    comes from an unpartitioned window, which needs no Exchange there.
    """
    if index.ttl is None or index.ts_col is None:
        return df

    def _zero(part: str) -> bool:
        # a 0 TTL component means NO expiration (reference CREATE_TABLE doc)
        return parse_interval_ms(part) == 0 if any(c.isalpha() for c in part) else int(part) == 0

    parts_ = [p.strip() for p in re.split(r"\|\||&&", index.ttl)]
    if all(_zero(p) for p in parts_):
        return df
    ts_ms = F.unix_millis(F.col(index.ts_col).cast("timestamp"))

    def with_abs_keep(d: DataFrame, ttl_str: str):
        """(df', keep-predicate) for the absolute bound — no driver collect:
        when ``now_ms`` is None the bound max(ts) - ttl joins in lazily as a
        broadcast single-row aggregate, so TTL stays one job inside the
        caller's plan and the bound is computed at execution time (correct
        even if the input is appended between plan and run)."""
        ttl_ms = parse_interval_ms(ttl_str)
        if now_ms is not None:
            return d, ts_ms > F.lit(now_ms - ttl_ms)
        if staged:
            d = d.withColumn("__omsk_ttl_max", F.max(ts_ms).over(Window.partitionBy()))
            return d, ts_ms > F.col("__omsk_ttl_max") - F.lit(ttl_ms)
        mx = d.agg(F.max(ts_ms).alias("__omsk_ttl_max"))
        return d.crossJoin(F.broadcast(mx)), ts_ms > F.col("__omsk_ttl_max") - F.lit(ttl_ms)

    def with_lat_rn(d: DataFrame) -> DataFrame:
        w = Window.partitionBy(*index.keys).orderBy(ts_ms.desc())
        return d.withColumn("__omsk_ttl_rn", F.row_number().over(w))

    t = index.ttl_type.lower()
    if t == "absolute":
        d2, keep = with_abs_keep(df, index.ttl)
        return d2.filter(keep).drop("__omsk_ttl_max")
    if t == "latest":
        return (
            with_lat_rn(df)
            .filter(F.col("__omsk_ttl_rn") <= int(index.ttl))
            .drop("__omsk_ttl_rn")
        )
    if t == "absandlat":
        # evicted only when BOTH expired -> kept if either keeps it.
        # Both retention predicates evaluate on ONE DataFrame and combine
        # with OR — a union+distinct would silently collapse genuinely
        # duplicate source rows.
        abs_ttl, lat_n = (p.strip() for p in index.ttl.split("&&"))
        if _zero(abs_ttl) or _zero(lat_n):
            # a 0 component never expires anything -> the OR keeps all
            return df
        d2, keep_abs = with_abs_keep(with_lat_rn(df), abs_ttl)
        return (
            d2.filter(keep_abs | (F.col("__omsk_ttl_rn") <= int(lat_n)))
            .drop("__omsk_ttl_rn", "__omsk_ttl_max")
        )
    if t == "absorlat":
        # evicted when EITHER expired -> kept only if both keep it
        abs_ttl, lat_n = (p.strip() for p in index.ttl.split("||"))
        if _zero(abs_ttl) and _zero(lat_n):
            return df
        if _zero(abs_ttl):
            return (
                with_lat_rn(df)
                .filter(F.col("__omsk_ttl_rn") <= int(lat_n))
                .drop("__omsk_ttl_rn")
            )
        if _zero(lat_n):
            d2, keep_abs = with_abs_keep(df, abs_ttl)
            return d2.filter(keep_abs).drop("__omsk_ttl_max")
        d2, keep_abs = with_abs_keep(with_lat_rn(df), abs_ttl)
        return (
            d2.filter(keep_abs & (F.col("__omsk_ttl_rn") <= int(lat_n)))
            .drop("__omsk_ttl_rn", "__omsk_ttl_max")
        )
    raise ValueError(f"unknown ttl_type {index.ttl_type!r}")


def save_bucketed(
    df: DataFrame,
    table: str,
    index: IndexDef,
    *,
    buckets: int = 32,
) -> None:
    """Persist a table bucketed by the index key (+ time-sorted files).

    The durable form of an index layout: Spark's bucket metadata
    lets later equi-joins and aggregations on the key run WITHOUT a
    shuffle on this side (the reference's index gives its online engine
    seek paths; bucketing gives our batch engine co-located joins). Both
    sides of a repeated big join should be bucketed with the same count.

    Rebuilds are orphan-resilient: a killed JVM can leave the managed
    ``spark-warehouse/<table>/`` directory on disk with no catalog entry,
    and ``saveAsTable(mode=overwrite)`` then fails with
    LOCATION_ALREADY_EXISTS (DROP TABLE IF EXISTS is a metadata no-op for
    a table the fresh session never knew). Long jobs die mid-write
    routinely at scale, so the index build must be re-runnable: when the
    catalog has no such table but its would-be managed location exists,
    the orphaned directory is removed (via the session's Hadoop
    FileSystem, so it works on any configured warehouse FS) before the
    write.
    """
    spark = df.sparkSession
    db, _, bare = table.rpartition(".")
    if not spark.catalog.tableExists(table):
        jvm = spark._jvm
        loc_uri = spark._jsparkSession.sessionState().catalog().defaultTablePath(
            jvm.org.apache.spark.sql.catalyst.TableIdentifier(
                bare or table, jvm.scala.Option.apply(db or None)
            )
        )
        path = jvm.org.apache.hadoop.fs.Path(loc_uri)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, index.keys[0], *index.keys[1:])
    )
    if index.ts_col:
        writer = writer.sortBy(index.ts_col)
    writer.saveAsTable(table)
