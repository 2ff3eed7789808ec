"""The compiled request plan — built and planned once per deployment,
re-run per call over a staged file holding the request rows and their key
segments (the Spark analog of the reference's per-DEPLOY compiled-plan
cache, ``hybridse/src/vm/engine.cc:453-496``, reading one in-memory pk
segment per index, ``src/storage/mem_table.cc``). Split from
:mod:`openmldb_spark.engine.serving` (house <=900-line module bar)."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: spark.conf key naming a shared-filesystem directory for staged request
#: batches (the ``Engine(staging_dir=...)`` argument takes precedence)
STAGING_DIR_CONF = "spark.openmldb.serving.stagingDir"


def resolve_staging_dir(master: str, explicit: str | None) -> str | None:
    """Pick the staging root for compiled-plan staged files.

    ``explicit`` (Engine arg or the ``spark.openmldb.serving.stagingDir``
    conf) wins. With none, a driver-local tempdir is only correct when
    driver and executors share a filesystem (local mode); any other
    master RAISES instead of silently serving empty results. (The
    reference sends request rows inside the RPC,
    ``src/sdk/sql_cluster_router.h:116-190``; ours is a file handoff.)
    """
    if explicit:
        return explicit
    if not master.startswith("local"):
        raise RuntimeError(
            "compiled request serving stages rows in a file that every "
            f"executor must read; spark.master={master!r} is non-local, so "
            "pass Engine(staging_dir=...) or set spark conf "
            f"{STAGING_DIR_CONF!r} to a shared-filesystem path (NFS/EFS/"
            "Lustre) visible to all executors"
        )
    return None


#: spark.conf key for the fixed size (bytes) of the JVM-staged file (the
#: request rows plus their key segments); a serve whose encoding exceeds
#: it raises with instructions
STAGING_BYTES_CONF = "spark.openmldb.serving.stagingBytes"
DEFAULT_STAGING_BYTES = 1 << 20

# Serving-tuned confs are applied to an ISOLATED serving session (a
# ``newSession()`` clone — own conf, shared SparkContext/catalog/cache):
# AQE's per-stage materialization, shuffle fan-out and broadcast joins are
# built for data-sized queries, but a serve reads a few staged key
# segments. The compiled plan's ANALYZED tree is re-rooted onto the
# clone, so physical planning picks the serving confs up while the user's
# session confs are NEVER touched — a batch query planned concurrently
# with a serve sees its own AQE/partition settings.

#: simple types the JVM text staging can round-trip exactly (base64 cell
#: -> decode -> cast, all Catalyst expressions); a deployment whose input
#: schema has nested/interval types serves through the per-call path
_JVM_STAGEABLE = {
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "string", "binary", "date", "timestamp", "timestamp_ntz",
}


def _jvm_stageable(schema) -> bool:
    return all(
        f.dataType.typeName() in _JVM_STAGEABLE
        or f.dataType.typeName().startswith("decimal")
        for f in schema.fields
    )


def _jvm_source(spark, path: str, schema, role: str | None = None) -> DataFrame:
    """JVM-only staged source: ``spark.read.text`` over a FIXED-SIZE padded
    file (the scan's FileIndex caches the length at compile time, so the
    file must never change size — the writer pads with ONE line of
    spaces), one base64-cell CSV-ish line per row, decoded and cast
    entirely with Catalyst expressions, so the serving hot path starts no
    Python worker. With ``role``, the source reads only the lines
    :func:`_encode_rows` tagged with it, so one file carries the rows of
    several schemas."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), ",", -1)
    first = 1 if role is None else 2
    cols = []
    for i, f in enumerate(schema.fields):
        cell = F.element_at(parts, i + first)
        decoded = F.unbase64(cell)
        tn = f.dataType.typeName()
        if tn == "timestamp":
            # staged as epoch-MICROS (not a wall-clock string, whose cast
            # would re-interpret in the session timezone and silently
            # shift every value on non-UTC sessions)
            decoded = F.timestamp_micros(
                F.decode(decoded, "UTF-8").cast("long")
            )
        elif tn != "binary":
            decoded = F.decode(decoded, "UTF-8").cast(f.dataType)
        col = F.when(cell == "~", F.lit(None).cast(f.dataType)).otherwise(decoded)
        cols.append(col.alias(f.name))
    # every encoded row ends with a trailing ","; the padding line never does
    keep = F.col("value").endswith(",")
    if role is not None:
        keep = keep & F.col("value").startswith(role + ",")
    return raw.where(keep).select(*cols)


def _encode_rows(table, schema=None, role: str | None = None) -> bytes:
    """Encode an Arrow table of rows into staged text lines (base64
    cells, "~" nulls, a trailing comma, one newline-terminated line per
    row, led by a ``role`` cell when given). ``timestamp``-typed fields
    encode as epoch-MICROS (decoded by
    ``timestamp_micros`` — timezone-free on the wire). Both staging
    producers (``toArrow`` and ``LocalDataToArrowConversion``) emit
    TZ-AWARE datetimes for timestamp columns, so the epoch math is
    exact; a naive value (defensive only) is interpreted in the
    driver-local zone via ``astimezone`` — the same reading
    ``LocalDataToArrowConversion`` itself applies."""
    import base64
    import datetime

    ts_fields = (
        {f.name for f in schema.fields if f.dataType.typeName() == "timestamp"}
        if schema is not None
        else set()
    )
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

    def fmt(name, v) -> str:
        if v is None:
            return "~"
        if isinstance(v, bool):
            raw = "true" if v else "false"
        elif isinstance(v, (bytes, bytearray)):
            return base64.b64encode(bytes(v)).decode("ascii")
        elif isinstance(v, float):
            if v != v:
                raw = "NaN"
            elif v == float("inf"):
                raw = "Infinity"
            elif v == float("-inf"):
                raw = "-Infinity"
            else:
                raw = repr(v)  # shortest exact round-trip
        elif isinstance(v, datetime.datetime):
            if name in ts_fields:
                d = v.astimezone(datetime.timezone.utc) - epoch
                raw = str(
                    (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
                )
            else:  # timestamp_ntz: wall-clock string, timezone-free cast
                if v.tzinfo is not None:
                    v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                raw = v.isoformat(sep=" ")
        elif isinstance(v, datetime.date):
            raw = v.isoformat()
        else:
            raw = str(v)
        return base64.b64encode(raw.encode("utf-8")).decode("ascii")

    lead = "" if role is None else role + ","
    return "".join(
        lead + ",".join(fmt(k, v) for k, v in row.items()) + ",\n"
        for row in table.to_pylist()
    ).encode("utf-8")


def _pad_staged(data: bytes, pad_bytes: int) -> bytes:
    """``data`` padded to exactly ``pad_bytes`` with ONE line of spaces,
    which the source's trailing-comma filter drops (a newline pad would
    make every scan read one empty record per pad byte)."""
    if len(data) > pad_bytes:
        raise ValueError(
            f"staged request rows and key segments encode to {len(data)} "
            f"bytes, over the fixed staging size {pad_bytes} (the compiled "
            f"plan's scan caches the file length). Set spark conf {STAGING_BYTES_CONF} "
            "higher BEFORE the deployment compiles, or serve the batch "
            "with run_request(..., history=...), which plans per call."
        )
    room = pad_bytes - len(data)
    return data + (b" " * (room - 1) + b"\n" if room else b"")


def _exact_collect_plan(df: DataFrame, schema):
    """``(projected_df, ts_field_indices)`` for a timezone-exact one-job
    collect: top-level tz-aware ``timestamp`` columns are projected to
    epoch-micros (a plain ``collect`` would round-trip them through NAIVE
    driver-local datetimes, which cannot represent the repeated DST
    hour); every other type collects exactly as-is. Returns ``(None,
    None)`` when the schema defeats the projection — duplicate column
    names (un-addressable by name) or timestamps buried in nested types —
    and the caller should use the ``toArrow`` fallback instead."""
    names = [f.name for f in schema.fields]
    if len(set(names)) != len(names):
        return None, None
    ts_idx = []
    for i, f in enumerate(schema.fields):
        tn = f.dataType.typeName()
        if tn == "timestamp":
            ts_idx.append(i)
        elif tn != "timestamp_ntz" and "timestamp" in f.dataType.simpleString():
            return None, None  # nested timestamps (array/map/struct)
    if not ts_idx:
        return df, ts_idx

    def q(n: str):  # backtick-quote: dotted names must not parse as paths
        return F.col("`" + n.replace("`", "``") + "`")

    keep = set(ts_idx)
    return (
        df.select(
            *[
                F.unix_micros(q(n)).alias(n) if i in keep else q(n)
                for i, n in enumerate(names)
            ]
        ),
        ts_idx,
    )


def _rows_to_arrow(rows, ts_idx, schema):
    """Rebuild collected rows (timestamps as epoch-micros per
    ``_exact_collect_plan``) into Spark's Arrow encoding of ``schema`` —
    ``LocalDataToArrowConversion`` emits the same layout ``toArrow``
    would, so both directions of the driver-local fast path are
    bit-identical with the job-paying paths."""
    import datetime

    from pyspark.sql.conversion import LocalDataToArrowConversion

    if not rows:  # the conversion asserts a non-empty batch
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        return pa.Table.from_pylist([], schema=to_arrow_schema(schema))
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    out = []
    for r in rows:
        vals = list(r)
        for i in ts_idx:
            if vals[i] is not None:
                vals[i] = epoch + datetime.timedelta(microseconds=vals[i])
        out.append(tuple(vals))
    return LocalDataToArrowConversion.convert(out, schema, False)


def _serving_session(spark):
    """The isolated serving session: a ``newSession()`` clone sharing the
    SparkContext, catalog and cache manager but owning its conf — AQE,
    shuffle fan-out and auto-broadcast are set ONCE here instead of swapped
    on the shared session per serve. ``newSession`` does NOT inherit
    runtime-set confs (session timezone, ANSI flags, … would silently
    reset and change serve SEMANTICS), so the engine session's conf
    state is copied first, then the serving overrides applied."""
    clone = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if v is None:
            continue
        try:
            if clone.conf.get(k, None) != v:
                clone.conf.set(k, v)
        except Exception:  # non-modifiable/static conf: context-level anyway
            pass
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    # a plan that keeps a store read still shuffles request-sized data:
    # even a 2-task fan-out only adds scheduling latency (~25% p50, r12)
    clone.conf.set("spark.sql.shuffle.partitions", "1")
    # staged leaves are single-partition, so a join between them plans as
    # a sort-merge join with no Exchange; a broadcast would add one
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return clone


#: physical-plan words that make re-collecting a planned Dataset unsafe:
#: a shuffle or broadcast keeps the rows of the execution that built it,
#: and a subquery result is computed once per plan
_REPLAN_NODE = re.compile(r"\b\w*(?:Exchange|[Ss]ubquery)\w*")


class SegmentIndex:
    """One table's rows, resident on the driver as Arrow, ordered by
    (key, ts), with the row positions of every key of each key set: the
    analog of a tablet's in-memory pk segment indexes
    (``src/storage/mem_table.cc``). A segment is the union of the rows
    sharing a probed key under any key set; each window or join reads its
    own key set's part, and the other rows fall in other partitions.

    ``anchors`` are the ts columns of absolute TTLs whose "now" is the
    table's max ts: every segment carries the row holding each max, so the
    in-plan TTL filter over the staged rows computes the table-wide bound.
    That row has a probed key (it is in the segment anyway) or none, so it
    enters no frame and matches no join key."""

    def __init__(self, table: str, rows, keysets, ts, anchors):
        import pyarrow.compute as pc

        self.table = table
        self.keysets = [list(ks) for ks in keysets]
        self.anchors = list(anchors)
        order = [(k, "ascending") for k in self.keysets[0] + ([ts] if ts else [])]
        self.rows = rows.take(pc.sort_indices(rows, sort_keys=order))
        self._pos: list[dict[tuple, list[int]]] = [{} for _ in self.keysets]
        self._add(self.rows, 0)

    def _add(self, rows, base: int) -> None:
        for ks, pos in zip(self.keysets, self._pos):
            cols = [rows.column(k).to_pylist() for k in ks]
            for i, key in enumerate(zip(*cols), base):
                pos.setdefault(key, []).append(i)

    def append(self, rows) -> None:
        import pyarrow as pa

        base = self.rows.num_rows
        self.rows = pa.concat_tables([self.rows, rows.cast(self.rows.schema)])
        self._add(rows, base)

    def segment(self, keys):
        """The rows of ``keys[j]`` (key tuples) under each key set ``j``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        ids = {i for ks, pos in zip(keys, self._pos) for k in ks for i in pos.get(k, ())}
        for c in self.anchors:
            col = self.rows.column(c)
            top = pc.max(col)
            if top.is_valid:
                ids.add(pc.index(col, top).as_py())
        return self.rows.take(pa.array(sorted(ids), pa.int64()))


class CompiledRequestPlan:
    """A deployment's request plan, compiled and physically planned ONCE,
    then re-run per serve over newly staged rows — the Spark analog of the
    reference's per-DEPLOY compiled-plan cache
    (``hybridse/src/vm/engine.cc:453-496``; ``src/sdk/
    sql_cluster_router.h:116-190`` CallProcedure binds a row per call)
    answering from resident pk segments (``src/storage/mem_table.cc``).

    - **Index.** At compile time each table the deployment can key
      (:meth:`SqlDeployment._serving_layout`: the request table's history,
      WINDOW UNION tables, LAST JOIN right sides) is copied from its store
      into a :class:`SegmentIndex`; any other table stays a store read in
      the same plan. An online append (``INSERT``, REST ``PUT``) reaches
      :meth:`append`; any other write makes the plan stale
      (:meth:`current`), and the next serve rebuilds index and plan.
    - **Staging.** Each serve writes ONE fixed-size padded text file: the
      request rows plus the segments of the keys they probe, each line
      tagged with its role and read by its own ``coalesce(1)`` leaf. TTLs
      apply in-plan over the staged rows.
    - **Planned once.** A plan whose executed form holds no Exchange,
      broadcast or subquery (``replan_node`` None) reads nothing a serve
      could leave stale — each execution reads the staged file anew — so
      every serve collects the Dataset planned at compile time. Otherwise
      each serve plans a fresh Dataset, since re-collecting a shuffle or
      broadcast would serve the previous request's rows.

    Both serve arms hold the per-plan lock across stage+collect, so
    concurrent callers (the ThreadingHTTPServer RESTful handler, parallel
    ``run_request`` calls) serialize per deployment instead of overwriting
    each other's staged rows.
    """

    def __init__(self, dep: "SqlDeployment"):
        import threading

        self.dep = dep
        self.spark = dep.engine.spark
        self._lock = threading.Lock()
        root = resolve_staging_dir(
            self.spark.conf.get("spark.master", "local"),
            getattr(dep.engine, "staging_dir", None)
            or self.spark.conf.get(STAGING_DIR_CONF, None),
        )
        if root is not None:
            os.makedirs(root, exist_ok=True)
        self._dir = tempfile.mkdtemp(prefix=f"omsk_req_{dep.name}_", dir=root)
        self._pad = int(
            self.spark.conf.get(STAGING_BYTES_CONF, str(DEFAULT_STAGING_BYTES))
        )
        self._staged = os.path.join(self._dir, "requests.txt")
        # an empty file of the FIXED size the scans will cache
        self._write_file(self._staged, _pad_staged(b"", self._pad))
        eng = dep.engine
        segments, self.store_reads = dep._serving_layout()
        self.key = dep._serving_key(self.store_reads)
        #: (db, bare) -> the store DataFrame an index mirrors
        self.mirrors: dict = {}
        #: binding name -> (loc, index, probes, Spark schema)
        self.indexes: dict = {}
        leaves = {}
        for i, (name, (table, keysets, ts, probes, anchors)) in enumerate(
            segments.items()
        ):
            loc = eng._loc(table)
            store = self.mirrors[loc] = eng._dbs[loc[0]][loc[1]]
            idx = SegmentIndex(table, store.toArrow(), keysets, ts, anchors)
            self.indexes[name] = (loc, idx, probes, store.schema)
            leaves[name] = _jvm_source(
                self.spark, self._staged, store.schema, role=f"s{i}"
            ).coalesce(1)
        src = _jvm_source(
            self.spark, self._staged, dep.input_schema, role="q"
        ).coalesce(1)
        self.plan = dep._run_request_on(
            dep._query_with_params(None), src, None, leaves
        )
        # the analyzed tree is re-rooted onto the isolated serving session
        # and planned there
        self._lp = self.plan._jdf.queryExecution().analyzed()
        self._exact = None
        self._serve_spark = _serving_session(self.spark)
        df = self._reroot(self._serve_spark)
        found = _REPLAN_NODE.search(
            df._jdf.queryExecution().executedPlan().toString()
        )
        #: the node that makes each serve plan anew, or None
        self.replan_node = found.group(0) if found else None
        self._df = None if found else df

    def _reroot(self, session) -> DataFrame:
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            session._jsparkSession, self._lp
        )
        return DataFrame(jdf, session)

    #: REGISTRY CONTRACT: any runtime conf that changes serve RESULT
    #: VALUES and can be SET after a deployment compiles MUST be listed
    #: here — it is re-synced from the engine session onto the serving
    #: clone before every serve, so a post-deploy ``SET`` reaches compiled
    #: serves exactly like uncompiled ones. Planning confs stay pinned to
    #: the serving profile.
    _SEMANTIC_CONFS = (
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.caseSensitive",
        "spark.sql.legacy.timeParserPolicy",
        "spark.sql.mapKeyDedupPolicy",
    )

    def _fresh_serve_df(self) -> DataFrame:
        """The Dataset one serve collects: the one planned at compile time
        when the plan can be re-collected (see the class docstring), else a
        fresh one on the serving clone. The semantics-bearing confs are
        re-synced onto the clone first; a change drops the planned Dataset
        so it is planned again."""
        spark = self._serve_spark
        for k in self._SEMANTIC_CONFS:
            v = self.spark.conf.get(k, None)
            if v is not None and spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
                self._df = None
        if self._df is not None:
            return self._df
        df = self._reroot(spark)
        if self.replan_node is None:
            self._df = df
        return df

    @staticmethod
    def _write_file(path: str, data: bytes) -> None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def _stage(self, requests) -> None:
        """Write the request rows (Arrow, input schema) and the segments
        they probe as the one staged file. History comes first, so a LAST
        JOIN that history flows through is probed by its rows too."""
        parts = [_encode_rows(requests, self.dep.input_schema, "q")]
        probers = {False: [requests], True: [requests]}
        for i, (name, (_, idx, probes, schema)) in enumerate(self.indexes.items()):
            keys = [set() for _ in idx.keysets]
            for ki, cols, via_history in probes:
                for t in probers[via_history]:
                    keys[ki].update(zip(*(t.column(c).to_pylist() for c in cols)))
            seg = idx.segment(keys)
            if name == "__history":
                probers[True] = [requests, seg]
            parts.append(_encode_rows(seg, schema, f"s{i}"))
        self._write_file(self._staged, _pad_staged(b"".join(parts), self._pad))

    def current(self) -> bool:
        """Whether the serving key holds and every index mirrors its store."""
        dbs = self.dep.engine._dbs
        return self.key == self.dep._serving_key(self.store_reads) and all(
            dbs.get(db, {}).get(bare) is df for (db, bare), df in self.mirrors.items()
        )

    def append(self, loc: tuple, old: DataFrame, new: DataFrame, rows: list) -> None:
        """An online append to table ``loc``: store ``old`` became ``new``
        by adding ``rows`` (coerced value lists, converted here like
        ``createDataFrame`` does). An index mirroring ``old`` takes them
        and mirrors ``new``; otherwise :meth:`current` reports staleness."""
        from pyspark.sql.conversion import LocalDataToArrowConversion

        with self._lock:
            if self.mirrors.get(loc) is not old:
                return
            table = LocalDataToArrowConversion.convert(rows, new.schema, False)
            for at, idx, _, _ in self.indexes.values():
                if at == loc:
                    idx.append(table)
            self.mirrors[loc] = new

    def describe(self) -> list[tuple[str, str]]:
        """(item, value) pairs for SHOW DEPLOYMENT: the path, indexed
        tables with keys, store reads with why, and the index's rows and
        Arrow bytes (driver Python memory, outside the JVM heap)."""
        path = self.replan_node and f"re-planned per serve: {self.replan_node}"
        idxs = [idx for _, idx, _, _ in self.indexes.values()]
        return [
            ("path", path or "planned once"),
            ("indexed", ", ".join(
                f"{i.table}({'|'.join(','.join(ks) for ks in i.keysets)})" for i in idxs
            )),
            ("store_reads", "; ".join(f"{t}: {w}" for t, w in sorted(self.store_reads.items()))),
            ("index_rows", str(sum(i.rows.num_rows for i in idxs))),
            ("index_arrow_bytes", str(sum(i.rows.nbytes for i in idxs))),
        ]

    def _local_request_table(self, requests: DataFrame):
        """The request batch as an Arrow table WITHOUT a Spark job when the
        caller's plan collapses to a ``LocalRelation`` (arrow- or
        pandas-created frames: ``LocalTableScanExec``'s collect is
        job-free), else ``None`` (RDD-backed frames, e.g. tuple-list
        ``createDataFrame`` output, pay one ``toArrow`` job)."""
        schema = self.dep.input_schema
        proj, ts_idx = _exact_collect_plan(requests, schema)
        if proj is None:
            return None
        try:
            qe = proj._jdf.queryExecution()
            if qe.optimizedPlan().getClass().getSimpleName() != "LocalRelation":
                return None
            rows = proj.collect()  # LocalTableScanExec: no job
        except Exception:  # non-classic backend / unexpected plan surface
            return None
        return _rows_to_arrow(rows, ts_idx, schema)

    def serve(self, requests: DataFrame) -> DataFrame:
        """Stage a request DataFrame, run the serve, and return the result
        as a driver-local DataFrame (job-free to collect). Driver-local
        request plans (:meth:`_local_request_table`) stage with ZERO extra
        Spark jobs; RDD-backed ones pay one ``toArrow`` job. The serve
        collects through the timestamp-exact projection (ONE job), kept
        with the Dataset it projects so a planned-once plan stays planned
        once."""
        table = self._local_request_table(requests)
        if table is None:
            table = requests.toArrow()
        out_schema = self.plan.schema
        with self._lock:
            self._stage(table)
            sdf = self._fresh_serve_df()
            if self._exact is None or self._exact[0] is not sdf:
                self._exact = (sdf, *_exact_collect_plan(sdf, out_schema))
            _, proj, ts_idx = self._exact
            if proj is None:  # nested/duplicate-name timestamps: exact, 2 jobs
                out = sdf.toArrow()
            else:
                out = _rows_to_arrow(proj.collect(), ts_idx, out_schema)
        return self.spark.createDataFrame(out, schema=out_schema)

    def serve_rows(self, rows: list) -> list:
        """Driver-side staging + eager collect: no Spark job other than
        the serve itself. ``LocalDataToArrowConversion`` applies the same
        type checks/coercions as ``createDataFrame`` and emits the same
        Arrow layout ``toArrow`` would, so both staging paths are
        bit-identical on the wire."""
        from pyspark.sql.conversion import LocalDataToArrowConversion

        if not rows:
            return []
        table = LocalDataToArrowConversion.convert(rows, self.dep.input_schema, False)
        with self._lock:
            self._stage(table)
            return self._fresh_serve_df().collect()

    def release(self) -> None:
        """Drop the staged directory and the indexes — under the per-plan
        lock, so a recompile triggered by one thread cannot yank the staged
        file out from under another thread's in-flight locked serve (the
        release simply queues behind it)."""
        with self._lock:
            shutil.rmtree(self._dir, ignore_errors=True)
            self.indexes, self.mirrors, self.key = {}, {}, None
