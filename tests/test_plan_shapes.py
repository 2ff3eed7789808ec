"""Plan-shape regression pins (VERDICT r6 item 5) — the Spark analogue of
the reference's ``cases/plan/*.yaml`` plan goldens.

The bench-drift adjudications (last_join r4, embedding_topk r5,
embedding_lsh_topk_join r6) kept finding plan-tier costs after the fact;
these asserts pin the scale-critical shapes up front so a plan regression
fails a unit test, not a bench round:

- broadcast dim join in the fact-side aggregation (join_agg)
- LAST JOIN dedupe-right is a partial+final hash aggregate (map-side
  combine), not a row_number window
- the ANN paths add NO corpus Exchange when the scan is already parallel
  (similarity._spread guard)
- dedup candidate generation computes document/bucket frequencies with
  partial aggregation before any exchange (groupBy, never a
  Window.partitionBy count over the raw stream)

All asserts read the analyzed/physical plan only — nothing executes.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from openmldb_spark.pipeline import similarity as S

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_join_agg_broadcasts_dim(spark, qs):
    plan = _plan(qs["join_agg"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the broadcast side must be the dim table, so no shuffle of it
    assert "BroadcastExchange" in plan, plan


def test_last_join_is_hash_aggregate_not_window(spark, qs):
    plan = _plan(qs["last_join"](spark, SF))
    # r5 root fix: dedupe-right via max_by hash aggregate (partial+final —
    # at most one candidate per key per partition crosses the shuffle)
    assert "max_by" in plan, plan
    assert "partial_max_by" in plan, plan
    # the r2-r4 plan this replaced: a row_number window over all right rows
    assert "row_number" not in plan, plan


def test_ann_paths_no_corpus_exchange_when_scan_parallel(spark):
    """The _spread contract: a source that is already parallel must flow
    to the scorer with zero added Exchange (at 100 TB the scan always is;
    an unconditional repartition would be the plan's only non-scan
    shuffle)."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(256)]
    # an "already parallel" source with NO Exchange of its own in the plan
    rdd = spark.sparkContext.parallelize(rows, 32)
    corpus = spark.createDataFrame(rdd, "vec_id long, embedding array<double>")
    queries = corpus.where(F.col("vec_id") < 4)

    # brute force: the corpus side below MapInPandas must have no Exchange
    # (tree string prints output at top, scan at bottom — the text after
    # the MapInPandas node is its input subtree)
    bf = S.brute_force_topk(
        corpus, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3,
    )
    tree = bf._jdf.queryExecution().executedPlan().toString()
    scoring = tree.split("MapInPandas")[-1]
    assert "Exchange" not in scoring, scoring

    # LSH bucket join (portable, dim passed: zero driver actions): the
    # only exchanges are the bucket equi-join's and the per-query rank
    # window's — none on the corpus scan side below the bucketize
    lsh = S.lsh_topk_join(
        corpus, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3, planes=4,
        portable=True, dim=8,
    )
    plan = _plan(lsh)
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 3, f"{n_ex} hash exchanges (expected join + rank only):\n{plan}"
    assert "Exchange RoundRobinPartitioning" not in plan, plan

    # IVF join: same contract
    ivf = S.ivf_topk_join(
        corpus, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3, n_centroids=4,
        nprobe=2, seed=42,
    )
    assert "Exchange RoundRobinPartitioning" not in _plan(ivf), _plan(ivf)


def test_dedup_ngram_candidate_gen_partial_agg(spark, qs):
    """Shingle document-frequency must partial-aggregate map-side (r6
    verdict item 3): a Window.partitionBy count over the raw
    (shingle, doc) stream would shuffle every occurrence of a hot
    boilerplate shingle to one reducer before the df filter can drop it.
    (The r10 overlap-prefix formulation ranks prefix membership with
    windows partitioned by DOC id — bounded per document, fine — but df
    counting itself must never become a shingle-partitioned window.)

    r13: the gate query now stages the pair set (localCheckpoint) and the
    operator stages per_doc/rare/pref, so — like the minhash pin below —
    the shape is inspected on the fully-lazy spelling
    (eager_materialize=False), where candidate generation is still in the
    plan string."""
    from openmldb_spark.pipeline import dedup as D
    from openmldb_spark.session import load_table

    d = load_table(spark, SF, "documents")
    pairs = D.overlap_jaccard_pairs(
        d, "doc_id", "text",
        shingle_n=3, min_overlap=5, threshold=0.2, max_token_df=50,
        eager_materialize=False,
    )
    plan = _plan(pairs)
    assert "partial_count" in plan, plan
    # no window partitioned on the shingle-hash stream anywhere: every
    # windowspecdefinition in the plan keys on the doc id
    import re

    for spec in re.findall(r"windowspecdefinition\((\w+)", plan):
        assert spec.startswith("__id"), plan


def test_dedup_minhash_candidate_gen_partial_agg(spark):
    """The gate plan now READS the localCheckpoint'ed prefix index (its
    candidate-gen stages run once at build — SCALE.md finding 2b), so the
    shape pin inspects the fully-lazy spelling (eager_materialize=False):
    df counting is a partial+final groupBy aggregate, never a window."""
    from openmldb_spark.pipeline import dedup as D
    from openmldb_spark.session import load_table

    d = load_table(spark, SF, "documents")
    out = D.jaccard_dedup(
        d, "doc_id", "text", shingle_n=5, threshold=0.7,
        max_token_df=1000, eager_materialize=False,
    )
    plan = _plan(out)
    assert "partial_count" in plan, plan


def test_hot_bucket_caps_are_anti_joins_not_windows(spark):
    """max_bucket drops (LSH banding, embedding dedup, lsh_topk_join) use
    groupBy + broadcast anti-join — partial agg combines hot buckets
    map-side; the sized-bucket Window formulation must not come back."""
    from openmldb_spark.pipeline import dedup as D
    import numpy as np

    mh = spark.createDataFrame(
        [(i, [(i % 7) * 100 + j for j in range(8)]) for i in range(64)],
        "doc_id long, minhash array<long>",
    )
    cand = D.minhash_lsh_candidates(mh, "doc_id", bands=4, max_bucket=10)
    plan = _plan(cand)
    assert "partial_count" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "Window" not in plan, plan

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.randn(6)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    out = S.lsh_topk_join(
        emb, emb.limit(4), corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=3, planes=4,
        portable=True, dim=6, max_bucket=10,
    )
    plan = _plan(out)
    assert "LeftAnti" in plan and "partial_count" in plan, plan


def test_curation_sample_is_filter_only_pack_one_exchange(spark, qs):
    """Sampling must stay a pushdown-able filter over a hash projection
    (zero shuffles, no driver action); the budget cumsum adds exactly ONE
    hashpartitioning exchange (on the group key)."""
    import re

    df = qs["curation_sample_pack"](spark, SF)
    plan = _plan(df)
    # one key-bounded exchange for the per-lang cumsum window, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning" in plan, plan
    assert "RoundRobin" not in plan, plan
    # the md5-threshold sample survives as a Filter node (no shuffle, no
    # driver action selects the sample)
    assert re.search(r"\(\d+\) Filter", plan), plan


def test_request_serving_history_is_a_staged_segment(spark):
    """The compiled serve reads history as the staged key segment of the
    request (the tablet pk-segment analog), not the store: its plan scans
    only the staged file, once for the request rows and once for the
    segment, with no Exchange — a regression here silently returns serving
    to full-history scans per request."""
    import datetime

    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE tp (id int, k string, v bigint, ts timestamp,"
        " INDEX(KEY=(k), TS=ts))"
    )
    eng.execute("INSERT INTO tp VALUES (1, 'a', 10, 1590738990000)")
    dep = eng.execute(
        "DEPLOY dp_pin SELECT id, sum(v) OVER w1 AS s FROM tp WINDOW w1 "
        "AS (PARTITION BY k ORDER BY ts ROWS_RANGE BETWEEN 10s PRECEDING "
        "AND CURRENT ROW)"
    )
    reqs = spark.createDataFrame(
        [(9, "a", 40, datetime.datetime.utcfromtimestamp(1590738995))],
        dep.input_schema,
    )
    dep.run_request(reqs).collect()  # compile (r13: serves are eager)
    # the pin targets the COMPILED SERVE PLAN — run_request now returns
    # an eager driver-local result, so inspect the plan the serve runs
    out = dep._compiled._fresh_serve_df()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in executed, executed
    assert executed.count("FileScan text") == 2, executed
    assert "StringStartsWith(value,s0,)" in executed, executed


def test_banded_lsh_join_stays_single_bucket_equijoin(spark):
    """r9 OR-of-bands: the amplified join must keep the single
    long-column bucket equi-join (band-offset ids) plus ONE pair-dedupe
    aggregate — not L separate joins or a window over candidates."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    out = S.lsh_topk_join(
        emb, q, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5, planes=4, bands=8,
        seed=42, portable=True, dim=64,
    )
    import re

    plan = _plan(out)
    # EXACTLY one candidate equi-join carries all 8 bands (band-offset
    # bucket ids); L separate per-band joins would multiply this count.
    # Formatted explain lists each node once in the tree and once in the
    # detail section — count the numbered detail entries.
    joins = re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 1, joins
    assert "__bucket" in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_same_spec_union_windows_fuse_to_one_union(spark):
    """r11 multi-window fusion: two WINDOW UNION windows differing only
    in frame must share ONE flagged union + one window partitioning sort
    chain — the union side (history, at serving time) must not
    re-materialize per window. Pinned on both the batch two-window shape
    and the request-mode plan."""
    import datetime

    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE tf (id int, k string, v bigint, ts timestamp,"
        " INDEX(KEY=(k), TS=ts))"
    )
    eng.execute(
        "INSERT INTO tf VALUES (1, 'a', 10, 1590738990000),"
        " (2, 'a', 20, 1590738991000)"
    )
    dep = eng.execute(
        "DEPLOY dp_fuse SELECT id, sum(v) OVER w1 AS s,"
        " count(v) OVER w2 AS c FROM tf WINDOW"
        " w1 AS (PARTITION BY k ORDER BY ts ROWS_RANGE BETWEEN 10s"
        " PRECEDING AND CURRENT ROW),"
        " w2 AS (PARTITION BY k ORDER BY ts ROWS BETWEEN 100 PRECEDING"
        " AND CURRENT ROW)"
    )
    reqs = spark.createDataFrame(
        [(9, "a", 40, datetime.datetime.utcfromtimestamp(1590738995))],
        dep.input_schema,
    )
    got = {tuple(r) for r in dep.run_request(reqs).collect()}
    assert got == {(9, 10 + 20 + 40, 3)}, got
    # the pin targets the COMPILED SERVE PLAN (r13: run_request returns
    # an eager driver-local result, not the serve Dataset)
    out = dep._compiled._fresh_serve_df()
    executed = out._jdf.queryExecution().executedPlan().toString()
    # the decisive pin: the staged history segment is scanned ONCE
    # (pre-fusion request plans read it once per window)
    assert executed.count("StringStartsWith(value,s0,)") == 1, (
        "history subtree duplicated across windows:\n" + executed
    )


def test_fused_windows_equal_sequential_single_window_runs(spark):
    """Fusion equality pin: each fused window's outputs must equal the
    same window computed ALONE (which takes the unfused single-window
    path) on the same data."""
    from openmldb_spark.engine import Engine

    eng = Engine(spark)
    eng.execute(
        "CREATE TABLE tg (id int, k string, v bigint, ts timestamp,"
        " INDEX(KEY=(k), TS=ts))"
    )
    rows = [
        (1, "a", 10, 1590738990000), (2, "a", 20, 1590738991000),
        (3, "b", 7, 1590738990500), (4, "a", 5, 1590739005000),
        (5, "b", 9, 1590738999999),
    ]
    eng.execute(
        "INSERT INTO tg VALUES "
        + ", ".join("(%d, %r, %d, %d)" % r for r in rows)
    )
    w1 = ("(PARTITION BY k ORDER BY ts ROWS_RANGE BETWEEN 10s PRECEDING"
          " AND CURRENT ROW)")
    w2 = "(PARTITION BY k ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)"
    # the fused two-window request-mode run
    import datetime

    dep = eng.execute(
        f"DEPLOY dp_fuse_eq SELECT id, sum(v) OVER w1 AS s, min(v) OVER w2"
        f" AS m FROM tg WINDOW w1 AS {w1}, w2 AS {w2}"
    )
    req = [(9, "a", 40, datetime.datetime.utcfromtimestamp(1590739006)),
           (10, "b", 1, datetime.datetime.utcfromtimestamp(1590738999))]
    fused = {r["id"]: (r["s"], r["m"]) for r in dep.run_request_rows(req)}
    # each window alone (single-window path, no fusion possible)
    d1 = eng.execute(
        f"DEPLOY dp_solo1 SELECT id, sum(v) OVER w1 AS s FROM tg"
        f" WINDOW w1 AS {w1}"
    )
    d2 = eng.execute(
        f"DEPLOY dp_solo2 SELECT id, min(v) OVER w2 AS m FROM tg"
        f" WINDOW w2 AS {w2}"
    )
    solo_s = {r["id"]: r["s"] for r in d1.run_request_rows(req)}
    solo_m = {r["id"]: r["m"] for r in d2.run_request_rows(req)}
    assert fused == {i: (solo_s[i], solo_m[i]) for i in solo_s}, fused


def test_plain_multiframe_windows_share_one_sort(spark):
    """r11 plain-window fusion: frames differing only in bound over one
    (PARTITION BY, ORDER BY) must share one exchange AND one sort — the
    ROWS member runs first so its (ord, rid) sort is a prefix-superset of
    the RANGE members' (ord)-only requirement, and reuse_order keeps the
    _ORD attribute stable so Catalyst can prove the ordering unchanged."""
    import re

    from openmldb_spark.session import load_table
    from openmldb_spark.sql import sql as osql

    load_table(spark, "/root/testdata/sf0.001", "events").createOrReplaceTempView(
        "events"
    )
    df = osql(
        spark,
        "SELECT event_id, sum(value) OVER w1 AS s, count(value) OVER w2 AS c"
        " FROM events WINDOW"
        " w1 AS (PARTITION BY user_id ORDER BY ts ROWS_RANGE BETWEEN 30m"
        " PRECEDING AND CURRENT ROW),"
        " w2 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 100 PRECEDING"
        " AND CURRENT ROW)",
    )
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_sort = len(re.findall(r"\bSort \[", plan))
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    n_win = len(re.findall(r"\bWindow ", plan))
    assert (n_sort, n_ex, n_win) == (1, 1, 2), plan
