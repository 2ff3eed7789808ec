"""pipeline/sampling.py — deterministic sampling + token-budget packing."""

from __future__ import annotations

import pytest

from openmldb_spark.pipeline import sampling as SA


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"lang{i % 3}", (i * 37) % 950 + 50) for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")


def test_stratified_sample_thresholds(docs):
    out = SA.stratified_sample(
        docs, "lang", {"lang0": 1.0, "lang1": 0.0}, id_col="doc_id", default=0.5
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang.get("lang0", ())) == 100  # keep all
    assert "lang1" not in by_lang                # drop all
    assert 20 < len(by_lang.get("lang2", ())) < 80  # ~half


def test_default_fraction_deterministic_and_partition_invariant(docs):
    """One stratum at ``default`` is a plain hash-fraction sample: a pure
    function of (id, seed), so partitioning never matters, a new seed is
    an independent selection and a larger fraction is a superset."""

    def ids(df, frac, seed=7):
        return {r.doc_id for r in SA.stratified_sample(
            df, "lang", {}, id_col="doc_id", default=frac, seed=seed
        ).collect()}

    a = ids(docs, 0.4)
    assert a == ids(docs.repartition(13), 0.4)
    assert 0.25 < len(a) / 300 < 0.55
    assert ids(docs, 0.4, seed=8) != a
    assert a <= ids(docs, 0.6)
    assert ids(docs, 0.0) == set() and len(ids(docs, 1.0)) == 300


def test_stratified_sample_rejects_out_of_range_fraction(docs):
    with pytest.raises(ValueError, match="lang0"):
        SA.stratified_sample(docs, "lang", {"lang0": 1.5}, id_col="doc_id")
    with pytest.raises(ValueError, match="lang1"):
        SA.stratified_sample(docs, "lang", {"lang1": -0.1}, id_col="doc_id")


def test_stratified_sample_keeps_null_ids_at_full_fraction(spark):
    """A NULL id hashes through a sentinel, so fraction 1.0 is identity."""
    df = spark.createDataFrame(
        [(None, "x"), (1, "x"), (None, "y")], "doc_id long, lang string"
    )
    out = SA.stratified_sample(df, "lang", {"x": 1.0, "y": 1.0}, id_col="doc_id")
    assert out.count() == 3


def test_budget_chunks_matches_model(docs):
    out = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=3000, by="lang"
    ).collect()
    rows = sorted(((r.lang, r.doc_id, r.n_tokens, r.chunk_id) for r in out))
    cum = {}
    for lang, _id, tok, chunk in rows:
        start = cum.get(lang, 0)
        assert chunk == start // 3000, (lang, _id)
        cum[lang] = start + tok
    # chunks are contiguous starting at 0 per group
    per_lang = {}
    for lang, _id, _t, chunk in rows:
        per_lang.setdefault(lang, []).append(chunk)
    for chunks in per_lang.values():
        assert chunks[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(chunks, chunks[1:]))


def test_budget_chunks_global_matches_model(docs):
    # by=None: the two-pass distributed prefix sum must equal the naive
    # single-pass cumsum (order_col is unique here, so the order is total)
    out = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=5000
    ).collect()
    rows = sorted(((r.doc_id, r.n_tokens, r.chunk_id) for r in out))
    assert len(rows) == 300
    cum = 0
    for _id, tok, chunk in rows:
        assert chunk == cum // 5000, _id
        cum += tok


def test_budget_chunks_global_no_unpartitioned_window(docs):
    # the raw stream must never pass through an un-partitioned window: the
    # full-stream cumsum is partitioned by __pid (after the range
    # shuffle), and the only single-partition stage is the ≤n_part-row
    # per-partition-totals window (a cluster-sized table, not data-sized)
    # eager_materialize=False keeps the whole two-pass shape in ONE plan
    # (the default localCheckpoints the ranged rows, so the returned plan
    # starts from a checkpointed RDD scan and the range shuffle is paid at
    # checkpoint time instead)
    out = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=5000,
        eager_materialize=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data-stream window carries the __pid partition spec
    assert "windowspecdefinition(__pid" in plan, plan
    # an un-partitioned window over the raw token column must not exist:
    # every sum(n_tokens) window is __pid-partitioned
    for line in plan.splitlines():
        if "Window [sum(n_tokens" in line:
            assert "], [__pid" in line, line
    # two-pass shape: range shuffle + broadcast offsets join
    assert "rangepartitioning" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the single-partition exchange feeds only the per-partition totals
    # window (sum over __ptok), never the raw stream
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "sum(__ptok" in plan, plan
    # the default (eager) spelling preserves the same guarantees downstream
    # of the checkpoint: __pid-partitioned windows only
    eager = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=5000
    )
    eplan = eager._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in eplan, eplan
    for line in eplan.splitlines():
        if "Window [sum(n_tokens" in line:
            assert "], [__pid" in line, line


def _greedy_model(tokens, budget):
    packs, cur_id, cur = [], 0, 0
    for t in tokens:
        if cur > 0 and cur + t > budget:
            cur_id, cur = cur_id + 1, 0
        packs.append(cur_id)
        cur += t
    return packs


def test_budget_chunks_global_one_physical_assignment(docs):
    """ADVICE r8/r9: by=None consumes the range assignment twice (offsets
    + rows); with eager_materialize (default) both consumers must read ONE
    materialized assignment — nondeterministic sources (prior shuffle,
    sampled read) would otherwise get a different __pid per pass and
    wrong chunk ids. r9 ADVICE moved the materialization from persist()
    (which leaked a CacheManager entry for the caller to clearCache) to
    localCheckpoint (released by the ContextCleaner on GC): both plan
    passes scan the SAME checkpointed RDD. The deterministic-scan opt-out
    skips the checkpoint and still matches."""
    out = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=5000
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the checkpointed assignment appears as an RDD scan, never a cache
    # entry; both consumers (offsets agg + rows join) read it
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "InMemoryTableScan" not in plan, plan
    lazy = SA.budget_chunks(
        docs, token_col="n_tokens", order_col="doc_id", budget=5000,
        eager_materialize=False,
    )
    key = lambda r: (r["doc_id"], r["chunk_id"])
    assert sorted(map(key, out.collect())) == sorted(map(key, lazy.collect()))
