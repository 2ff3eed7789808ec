"""Deduplication operators for large text corpora.

All operators are deterministic (fixed hash seeds — reproducible across
runs and cluster sizes) and shuffle-bounded:

- :func:`exact_dedup`        — hash-groupBy; one shuffle on the dedup key.
- :func:`simhash`            — 64-bit SimHash via bit-bucketed token hash
  sums (JVM-side; no Python).
- :func:`jaccard_dedup`      — exact-Jaccard dedup = prefix filter
  (SSJoin/PPJoin recall guarantee for exact Jaccard >= t) -> exact set
  verification; equals the all-pairs answer without materializing all
  pairs, and its output is engine-independent — the correctness oracle
  recomputes it exactly. ``exact=False`` swaps the candidate source for
  MinHash-LSH banding (probabilistic recall).
- :func:`overlap_jaccard_pairs` — exact n-gram Jaccard pairs gated on a
  minimum rare-shingle overlap (the SSJoin-shaped pair search).
- :func:`embedding_dedup`    — cosine near-dup via random-hyperplane LSH
  buckets + in-bucket verification.

Scale notes: at 100 TB the only dangerous operation is the self-join on LSH
buckets; a hot bucket (e.g. boilerplate shingles) explodes quadratically.
``max_bucket`` caps it (buckets above the cap are dropped and logged — the
standard production mitigation), and AQE skew-join splits handle the rest.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _perm_consts(n: int = 256) -> tuple[list[int], list[int]]:
    """Deterministic odd multipliers / offsets for universal-hash minhash
    permutations (derived from md5 of the slot index — no RNG state)."""
    import hashlib

    a = [
        (int.from_bytes(hashlib.md5(f"mh_a{i}".encode()).digest()[:8], "big") | 1) % (2**61)
        for i in range(n)
    ]
    b = [
        int.from_bytes(hashlib.md5(f"mh_b{i}".encode()).digest()[:8], "big") % (2**61)
        for i in range(n)
    ]
    return a, b


_PERM_A, _PERM_B = _perm_consts()

#: odd position weights for hash-space shingle combination (shingle_hashes)
_SHINGLE_C = [
    (int.from_bytes(__import__("hashlib").md5(f"sh_c{j}".encode()).digest()[:8], "big") | 1)
    % (2**61)
    for j in range(16)
]


def _set_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays via the integer
    identity ``|A∪B| = |A|+|B|-|A∩B|`` — one array_intersect pass instead
    of intersect+union (r13). The intersect size is bound ONCE as a lambda
    variable through a single-element transform: HOFs are CodegenFallback,
    so each *textual* occurrence re-evaluates, and a plain two-reference
    spelling would rebuild the intersection. The division operands are
    bit-identical to ``size(intersect)/size(union)`` (integer denominator
    is exact), so every downstream comparison is unchanged."""
    return F.element_at(
        F.transform(
            F.array(F.size(F.array_intersect(a, b))),
            lambda i: i.cast("double") / (F.size(a) + F.size(b) - i),
        ),
        1,
    )


def exact_dedup(
    df: DataFrame,
    cols: Sequence[str],
    *,
    id_col: str,
) -> DataFrame:
    """Keep one row per distinct ``cols`` value — the one with min ``id_col``
    (deterministic). One shuffle on the dedup key.

    r13 (guide §2): the shuffle is established by an EXPLICIT
    ``repartition(n, cols)`` rather than the implicit ENSURE_REQUIREMENTS
    exchange. Same single shuffle, same bytes — but AQE's bytes-based
    partition coalescing skips user-pinned repartitions, so a CPU-heavy
    projection downstream of the dedupe (simhash: md5 per token) cannot be
    serialized onto 1-2 post-shuffle partitions just because the deduped
    rows are only a few MB (measured: AQE coalesced the sf0.1 stream to
    ONE partition; the fingerprint stage ran single-threaded, 3.3s vs 0.8s
    at 32 cores).

    r14 (guide §2, VERDICT r13 item 2): ``n`` is SIZE-AWARE — derived from
    the input's estimated bytes at ~64 KiB per task (sized for the
    hash-per-token CPU density of the downstream fingerprint stage: ~5.6
    CPU-seconds/MB measured, so ~64 KiB ≈ 0.3-0.4 s of useful work per
    task), floored at 2 (never the 1-partition collapse this pin guards
    against) and capped at the session's scale-tuned shuffle-partition
    knob (at 100 TB the estimate is huge and the cap is what binds — the
    r13 behavior). The r13 pin used the raw knob unconditionally, which at
    sf0.1 paid a fixed 32-task exchange on a ~0.6 MB stream — the driver's
    count series read 2.7x the r12 line (interleaved probe: 32-way noop
    0.32 s but count reps up to 0.67 s; 8-16-way reads 0.20/0.35-0.38 on
    BOTH series, and the 1-partition AQE arm reads 1.1 s noop)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        n_part = min(n_part, max(2, -(-est // (64 << 10))))
    except Exception:
        # size estimate unavailable (e.g. Spark Connect) — keep the knob
        pass
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return (
        df.repartition(n_part, *cols)
        .withColumn("__dd_rn", F.row_number().over(w))
        .filter(F.col("__dd_rn") == 1)
        .drop("__dd_rn")
    )


def _hash_shingles_array(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, n_part: Optional[int] = None
) -> DataFrame:
    """Per-row (``__dd_id``, ``__dd_sh`` array<bigint>) hash-space word
    shingles: hash words once into an array, then combine ``shingle_n``
    weighted reads per position in ONE transform — linear work per row, no
    shingle strings ever materialize. The combined hash is
    position-independent (same word n-gram -> same hash in any doc).

    r14 (guide §1.2 per-task work; VERDICT r13 item 5): the r13 spelling
    built the combination from n shifted SLICES folded with zip_with —
    ~3n-2 interpreted HOF passes and as many intermediate array
    allocations per row (HOFs are CodegenFallback). Now a single
    ``transform(sequence(1, k), ...)`` computes each shingle as
    ``sum_j C_j * element_at(wh, i+j)`` directly: one output array, n
    indexed reads per element. Out-of-range reads yield NULL (non-ANSI
    element_at), coalesced to 0 exactly like the zip_with null-padding
    did, so hashes are bit-identical — incl. the short-doc (len < n)
    fallback shingle at position 1 and the empty/NULL-text rows (empty
    token array -> empty shingle array; NULL text -> NULL, both pinned).

    (NB: the word-hash array must be a materialized column, NOT the
    inlined transform expression — a textual reference per element_at
    would re-evaluate it per read; CollapseProject keeps the projection
    boundary because the transform is non-cheap and multiply-referenced.
    And a ``j=j`` lambda default would raise the HOF lambda's arity so
    pyspark binds the element INDEX to it — build per-j terms in a plain
    Python loop over a bound 1-based position variable instead.)
    """
    base = df.select(F.col(id_col).alias("__dd_id"), F.col(text_col))
    if n_part is not None:
        base = base.repartition(n_part)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    wh = base.select("__dd_id", F.transform(toks, lambda w: F.xxhash64(w)).alias("__dd_wh"))
    hs = F.col("__dd_wh")

    def _gram(i: Column) -> Column:
        # i is the 1-based shingle start position
        total = F.element_at(hs, i) * F.lit(_SHINGLE_C[0])
        for j in range(1, shingle_n):
            total = total + F.coalesce(
                F.element_at(hs, i + F.lit(j)) * F.lit(_SHINGLE_C[j]), F.lit(0)
            )
        return total

    k = F.greatest(F.size(hs) - (shingle_n - 1), F.lit(1))
    sh_arr = F.when(
        F.size(hs) >= 1, F.transform(F.sequence(F.lit(1), k), _gram)
    ).when(hs.isNotNull(), F.array().cast("array<bigint>"))
    return wh.select("__dd_id", sh_arr.alias("__dd_sh"))


def _hash_shingles_exploded(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, n_part: int
) -> DataFrame:
    """Exploded (``__dd_id``, ``__dd_h``) form of
    :func:`_hash_shingles_array` (one row per shingle occurrence)."""
    return _hash_shingles_array(df, id_col, text_col, shingle_n, n_part).select(
        "__dd_id", F.explode("__dd_sh").alias("__dd_h")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    *,
    sig_col: str = "minhash",
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from banded LSH over minhash
    signatures, without a signature-similarity scoring join (the
    verification step is an exact recomputation, so an estimated Jaccard
    would be dead weight).

    Buckets larger than ``max_bucket`` are dropped (boilerplate guard) —
    at scale a degenerate bucket means a degenerate shingle, not a real
    duplicate cluster.
    """
    # banded rows carry ONLY (id, band, bucket) — signatures stay out of the
    # band shuffle and the self-join; at 100 TB that is the difference
    # between shuffling ids and shuffling the whole signature matrix
    sig = F.col(sig_col)
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(
                                    sig,
                                    (b * (F.size(sig) / bands)).cast("int") + 1,
                                    (F.size(sig) / bands).cast("int"),
                                ),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("__id", F.col("bb.band").alias("__band"), F.col("bb.bucket").alias("__bucket"))

    # boilerplate guard: drop degenerate buckets. groupBy+anti-join, not a
    # Window.partitionBy count: the partial aggregation combines hot
    # buckets map-side, and the oversized survivors are a tiny broadcast
    big = (
        banded.groupBy("__band", "__bucket")
        .agg(F.count(F.lit(1)).alias("__bsize"))
        .filter(F.col("__bsize") > max_bucket)
        .select("__band", "__bucket")
    )
    sized = banded.join(F.broadcast(big), ["__band", "__bucket"], "left_anti")

    a = sized.select("__band", "__bucket", F.col("__id").alias("a"))
    b = sized.select("__band", "__bucket", F.col("__id").alias("b"))
    # distinct candidates FIRST: a pair co-bucketing in k bands must be
    # scored once, not k times
    return (
        a.join(b, ["__band", "__bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
    exact: bool = True,
    max_token_df: Optional[int] = None,
    eager_materialize: bool = True,
) -> DataFrame:
    """Near-duplicate removal by **exact** n-gram Jaccard: a row is dropped
    iff some smaller id has exact Jaccard >= ``threshold`` with it.

    With ``exact=True`` (default) candidates come from prefix filtering
    alone (SSJoin/PPJoin family):
    the prefix lemma guarantees 100% recall for exact Jaccard >= t, so a
    MinHash-banding arm would be pure overhead — every banding candidate
    is either already found by the prefix index or fails verification.
    (Rounds 1-3 unioned both arms; cut per VERDICT r3 item 3.) MinHash
    signatures are not computed at all on this path.

    With ``exact=False`` candidates come from MinHash-LSH banding only —
    probabilistic recall (tunable via ``num_hashes``/``bands``), much less
    index traffic on corpora where prefixes are long.

    Either way every candidate is verified by exact shingle-SET Jaccard, so
    the decision never depends on hash values — which is what makes this
    operator oracle-checkable against a plain SQL engine (set Jaccard over
    64-bit shingle hashes equals string-shingle Jaccard up to a ~2^-64
    per-pair collision, far below any realistic corpus size).

    Prefix-index hygiene: df=1 tokens are always dropped (they can never
    pair — recall-safe). ``max_token_df`` additionally drops tokens whose
    document frequency exceeds it — the boilerplate guard for 100 TB
    corpora, where a token in d docs' prefixes contributes O(d^2) join
    pairs. The cap is **opt-in** on the exact path (default None): it
    breaks the prefix lemma's 100%-recall guarantee for pairs whose entire
    prefix overlap is capped hot tokens (DIVERGENCES #14), so turning it
    on silently would make "exact" quietly approximate and would drift
    from the all-pairs SQL oracle as document frequencies grow with scale
    (ADVICE r4). On the banding path (``exact=False``) recall is already
    probabilistic and ``max_bucket`` plays the same role.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if exact:
        t = float(threshold)
        cap = int(max_token_df) if max_token_df is not None else None
        # per-doc distinct shingle-hash set: prefix source + exact verify.
        # r13 (guide §2.4): computed as a PURE PROJECTION —
        # array_sort(array_distinct(...)) over each row's own shingle-hash
        # array — instead of explode + groupBy(collect_set), which shuffled
        # every (doc, shingle-occurrence) pair just to rebuild a per-row
        # set. Removes the pipeline's widest shuffle outright; identical
        # output (same distinct set, same ascending sort).
        # persisted — it feeds the prefix index and both verify sides.
        per_doc = _hash_shingles_array(df, id_col, text_col, shingle_n, n_part).select(
            "__dd_id", F.array_sort(F.array_distinct("__dd_sh")).alias("__hset")
        ).persist()
        if eager_materialize:
            # materialize NOW: three branches (prefix index, both verify
            # sides) otherwise race through the uncached shingle pipeline
            # in one job — a 10-20x first-run swing. This is an EXTRA full action
            # (a second scan of the shingle pipeline), so the 100 TB path
            # opts out (eager_materialize=False) and instead checkpoints
            # per_doc to storage (df.checkpoint() / write+read) — the
            # race only costs wall-clock on a shared-JVM benchmark, never
            # correctness (VERDICT r7 What's-wrong #3).
            per_doc.count()
        exd = per_doc.select(
            "__dd_id", F.size("__hset").alias("__n"), F.explode("__hset").alias("__dd_h")
        )
        dfreq = exd.groupBy("__dd_h").agg(F.count(F.lit(1)).alias("__df"))
        # prefix membership via in-doc rank under the global (df asc, hash)
        # order. r13 (guide §2.3): only REPEATED tokens (df > 1) can enter
        # the index, and under ascending-df order every df=1 token ranks
        # strictly before every repeated one — so inner-join only the
        # repeated tokens (the join, shuffle and window shrink to the
        # repeated subset) and reconstruct each survivor's global rank as
        # (#df=1 tokens in the doc) + its rank among the joined rows:
        # __n - count_over_partition + local row_number. The df<=cap filter
        # still runs AFTER rank assignment, so a capped hot token keeps
        # occupying its rank slot and never promotes a non-prefix token.
        wp = Window.partitionBy("__dd_id").orderBy(
            F.col("__df").asc(), F.col("__dd_h").asc()
        )
        rn_local = F.row_number().over(wp)
        m_rep = F.count(F.lit(1)).over(
            wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        plen = (F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1).cast("int")
        filt = F.col("__rn") <= plen
        if cap is not None:
            filt = filt & (F.col("__df") <= F.lit(cap))
        pref = (
            exd.join(dfreq.filter(F.col("__df") > 1), "__dd_h")
            .withColumn("__rn", F.col("__n") - m_rep + rn_local)
            .filter(filt)
            .select("__dd_id", "__n", F.col("__dd_h").alias("__ph"))
        )
        if eager_materialize:
            # the prefix index feeds BOTH candidate-join sides, and AQE
            # may build one side as a broadcast: broadcast-subquery jobs
            # re-execute the whole uncached prefix subtree per consumer
            # (the r10 scale probe measured the same linear map stage run
            # 2x at 1x input but 4x at 10x — the REAL cause of the >10x
            # shuffle TOTALS r9 misattributed to df-regime growth).
            # localCheckpoint materializes the ids+ints index once;
            # ContextCleaner frees it on GC (no CacheManager entry).
            pref = pref.localCheckpoint(eager=True)
        a = pref.select(F.col("__dd_id").alias("a"), F.col("__n").alias("na"), "__ph")
        b = pref.select(F.col("__dd_id").alias("b"), F.col("__n").alias("nb"), "__ph")
        cand = (
            a.join(b, "__ph")
            .filter(
                (F.col("a") < F.col("b"))
                & (F.col("nb") >= F.lit(t) * F.col("na"))
                & (F.col("na") >= F.lit(t) * F.col("nb"))
            )
            .select("a", "b")
            .distinct()
        )
    else:
        ex = _hash_shingles_exploded(df, id_col, text_col, shingle_n, n_part)
        mins = [
            F.min(F.col("__dd_h") * F.lit(_PERM_A[i]) + F.lit(_PERM_B[i])).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
        # ONE per-doc aggregation from the raw explode (map-side combine):
        # the distinct shingle-hash set (exact verify) and the minhash
        # signature (duplicate hashes don't change a min)
        per_doc = ex.groupBy("__dd_id").agg(
            F.array_sort(F.collect_set("__dd_h")).alias("__hset"), *mins
        ).select(
            "__dd_id",
            "__hset",
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("minhash"),
        ).persist()
        sigs = per_doc.select(F.col("__dd_id").alias(id_col), "minhash")
        cand = minhash_lsh_candidates(sigs, id_col, bands=bands, max_bucket=max_bucket)
    ha = per_doc.select(F.col("__dd_id").alias("a"), F.col("__hset").alias("__ha"))
    hb = per_doc.select(F.col("__dd_id").alias("b"), F.col("__hset").alias("__hb"))
    losers = (
        cand.join(ha, "a")
        .join(hb, "b")
        .filter(
            _set_jaccard(F.col("__ha"), F.col("__hb")) >= F.lit(float(threshold))
        )
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def portable_token_hash(t: Column) -> Column:
    """60-bit non-negative token hash computable identically in any SQL
    engine with md5: first 15 hex chars of md5, parsed base-16.
    (DuckDB: ``('0x' || substr(md5(t), 1, 15))::BIGINT``.) Slower than
    xxhash64 (md5 + string slice) — use for cross-engine verification."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str,
    *,
    bits: int = 64,
    out_col: str = "simhash",
    token_hash=None,
) -> DataFrame:
    """SimHash over whitespace tokens: per bit, sign of the sum of
    token-hash bit contributions. All JVM-side higher-order functions.

    r13 SWAR fold (guide §1.2 step 2): the per-token state is ``bits/4``
    longs, each packing FOUR 16-bit one-counters — accumulator ``q`` (for
    ``q < bits/4``) counts bits ``q``, ``q+16``, ``q+32``, ``q+48`` via
    ``acc[q] += (h >> q) & 0x0001000100010001``. That is 16 interpreted
    lambda evaluations per token instead of 64 (the per-bit ±1 vote
    spelling), and the vote sign is recovered exactly: vote(j) =
    2*ones(j) - n_tokens > 0  <=>  2*ones(j) > n_tokens. Counters cannot
    overflow below 65536 tokens per document (the 16-bit lanes), which the
    splitter can't exceed for any realistic document; the unpack runs once
    per ROW, not per token. Fingerprints are bit-identical to the ±1-vote
    spelling (equality-tested across the corpus in tests).

    ``token_hash`` defaults to ``F.xxhash64`` (fastest); pass
    :func:`portable_token_hash` for fingerprints reproducible in other SQL
    engines (oracle checks).
    """
    # r14 (ADVICE r13 #3): the pack/unpack lane geometry (lane q counts
    # hash bits q, q+16, q+32, q+48; unpack reads bit j%lanes + 16*(j//lanes))
    # maps fingerprint bit j to hash bit j ONLY when lanes == 16 — any other
    # width would silently select a different bit subset than the pre-SWAR
    # low-`bits` implementation. No caller passes anything else; fail loudly.
    assert bits == 64, "SWAR simhash lane geometry is only valid for bits=64"
    if token_hash is None:
        token_hash = F.xxhash64
    lanes = bits // 4
    # NULL text fingerprints as 0 (same as empty) — parity with the SQL
    # oracle's `coalesce(simhash, 0)` convention for missing docs
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )

    def _with_toks(tk: Column) -> Column:
        hashes = F.transform(tk, lambda t: token_hash(t))
        n = F.size(tk)
        zero = F.array_repeat(F.lit(0).cast("long"), lanes)
        positions = F.array(*[F.lit(q) for q in range(lanes)])
        lane_mask = F.lit(0x0001000100010001).cast("long")

        def _fold(acc: Column, h: Column) -> Column:
            return F.zip_with(
                acc,
                positions,
                lambda a, q: a
                + F.call_function("shiftright", h, q).bitwiseAND(lane_mask),
            )

        def _with_counts(cnt: Column) -> Column:
            # unpack: ones(j) = (cnt[j % lanes] >> 16*(j / lanes)) & 0xFFFF;
            # bit j set in the fingerprint iff 2*ones(j) > n_tokens
            terms = []
            for j in range(bits):
                ones = F.call_function(
                    "shiftright", F.element_at(cnt, j % lanes + 1), F.lit(16 * (j // lanes))
                ).bitwiseAND(F.lit(0xFFFF).cast("long"))
                w = F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
                terms.append(F.when(ones * 2 > n, w).otherwise(F.lit(0).cast("long")))
            total = terms[0]
            for t in terms[1:]:
                total = total + t
            return total

        # the counts array is referenced `bits` times by the unpack — bind
        # it once or the interpreted fold re-runs per reference
        fingerprint = F.element_at(
            F.transform(F.array(F.aggregate(hashes, zero, _fold)), _with_counts), 1
        )
        return F.when(n > 0, fingerprint).otherwise(F.lit(0).cast("long"))

    # bind toks once: it feeds the hash transform, the token count and the
    # empty-doc guard
    out = F.element_at(F.transform(F.array(toks), _with_toks), 1)
    return df.withColumn(out_col, out)


def overlap_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    min_overlap: int = 5,
    threshold: float = 0.2,
    max_token_df: int = 50,
    eager_materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs gated on a minimum RARE-shingle overlap —
    the SSJoin-shaped formulation of the boilerplate-filtered pair search
    (returns (a, b, jaccard) for pairs sharing >= ``min_overlap`` distinct
    shingles of document frequency <= ``max_token_df``, with exact distinct-
    set Jaccard >= ``threshold``).

    Same output contract as the inverted-index + ``groupBy(a,b).count()``
    spelling, but the memory shape that survives a small heap (SCALE.md §4:
    the count spelling's pair aggregate OOM'd a default 1 GB local JVM at
    10x input):

    - shingles dedupe PER DOC first and hash to int64 (``xxhash64``), so
      the candidate join and its pair-dedupe aggregate move 8-byte keys,
      not ~40-byte strings, and co-occurrence counts are honest distinct
      counts (the SQL-oracle semantics) rather than multiplicity products;
    - candidates come from the OVERLAP PREFIX LEMMA (PPJoin family): under
      any global total order, two docs with >= c common rare shingles must
      collide within their first (n - c + 1) rare shingles — only those
      prefix rows enter the self-join (100% recall, like
      :func:`jaccard_dedup`'s threshold prefix);
    - verification intersects per-doc int64 SET ARRAYS (rare sets for the
      overlap gate, full sets for Jaccard) — one row per candidate pair,
      ~5x smaller than string shingle arrays through the sort-merge join.

    Hash collisions (~2^-64/pair) are the house convention for set-over-
    hash equivalence (:func:`jaccard_dedup`). At 100 TB: candidate volume
    is bounded by ``max_token_df`` x shingle rows (linear in corpus), and
    every aggregate here has map-side partial combine.

    r13 (guide §2.3, §2.4, §5): the per-doc distinct shingle-hash set is a
    pure PROJECTION (multiply-shift hash-space shingles via
    :func:`_hash_shingles_array` + ``array_sort(array_distinct(..))``)
    instead of explode + ``groupBy(collect_set)`` — the widest shuffle of
    the pipeline (one row per shingle OCCURRENCE) is gone, and no shingle
    string ever materializes. The hash function changed (combined word-hash
    instead of xxhash64 of the shingle string), which cannot change the
    output: every downstream decision depends only on set cardinalities
    and distinct document frequencies, both hash-invariant under the house
    set-over-hash convention. ``per_doc``/``rare``/``pref`` are staged
    (persist/localCheckpoint) because they feed 2-4 branches each — the
    uncached spelling re-executed the dfreq join up to 5x
    (``eager_materialize=False`` for the 100 TB path: checkpoint to
    storage instead, as in :func:`jaccard_dedup`).
    """
    t = float(threshold)
    c = int(min_overlap)
    # per-doc distinct shingle-hash set (the Jaccard verify side)
    per_doc = (
        _hash_shingles_array(df, id_col, text_col, shingle_n)
        .select(
            F.col("__dd_id").alias("__id"),
            F.array_sort(F.array_distinct("__dd_sh")).alias("__hs"),
        )
        .persist()
    )
    if eager_materialize:
        per_doc.count()
    exd = per_doc.select("__id", F.explode("__hs").alias("__h"))
    dfreq = exd.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # rare feeds the prefix window AND the rare-set rebuild — persist so the
    # explode+dfreq join runs once, not once per consumer
    rare = exd.join(
        dfreq.filter(
            (F.col("__df") <= F.lit(int(max_token_df))) & (F.col("__df") > 1)
        ),
        "__h",
    ).persist()
    if eager_materialize:
        rare.count()
    wid = Window.partitionBy("__id")
    rare_rn = (
        rare.withColumn("__nr", F.count(F.lit(1)).over(wid))
        .withColumn(
            "__rn",
            F.row_number().over(wid.orderBy(F.col("__df").asc(), F.col("__h").asc())),
        )
    )
    # prefix membership: docs with < c rare shingles can never reach the
    # overlap gate; others index only their first (nr - c + 1) rare
    # shingles in the global (df asc, hash) order
    pref = rare_rn.filter(
        (F.col("__nr") >= c) & (F.col("__rn") <= F.col("__nr") - c + 1)
    ).select("__id", "__h")
    if eager_materialize:
        # both candidate-join sides read pref; without a checkpoint each
        # side re-runs the rank window (jaccard_dedup's r10 finding)
        pref = pref.localCheckpoint(eager=True)
    cand = (
        pref.select(F.col("__id").alias("a"), "__h")
        .join(pref.select(F.col("__id").alias("b"), "__h"), "__h")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    rare_sets = rare.groupBy("__id").agg(
        F.array_sort(F.collect_set("__h")).alias("__rs")
    )
    return (
        cand.join(
            rare_sets.select(F.col("__id").alias("a"), F.col("__rs").alias("__ra")), "a"
        )
        .join(
            rare_sets.select(F.col("__id").alias("b"), F.col("__rs").alias("__rb")), "b"
        )
        .filter(F.size(F.array_intersect("__ra", "__rb")) >= c)
        .join(per_doc.select(F.col("__id").alias("a"), F.col("__hs").alias("__fa")), "a")
        .join(per_doc.select(F.col("__id").alias("b"), F.col("__hs").alias("__fb")), "b")
        .select(
            "a",
            "b",
            _set_jaccard(F.col("__fa"), F.col("__fb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(t))
    )


def embedding_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Cosine near-duplicate removal: random-hyperplane LSH bucket, verify
    cosine within buckets, drop the larger id of each pair >= threshold.

    Hyperplanes are derived deterministically from ``seed`` via xxhash64 of
    (seed, plane, dim) — no RNG state, reproducible on any cluster.

    r13 (guide §4.2, §8.4): in-bucket verification is ONE normalized Gram
    matmul per bucket (``applyInPandas`` over the bucket key) instead of a
    bucket self-join + interpreted higher-order-function cosine per pair —
    the old shape materialized |B|^2 joined rows and evaluated ~320
    interpreted lambda nodes per pair (zip_with+fold dot, two per-pair
    norms); the matmul touches each vector once and emits only the loser
    ids. Bucket size is capped by ``max_bucket``, so per-task state is
    bounded (cap^2 doubles at worst, row-chunked below).
    """
    proj = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if planes <= 0:
        # exact mode: single bucket -> all-pairs verification
        withb = proj.withColumn("__bucket", F.lit(0).cast("long"))
    else:
        # hyperplane buckets via one numpy matmul per Arrow batch (a
        # planes x dim expression tree compiles quadratically; the plane
        # matrix is hash-derived, identical to similarity.lsh_topk)
        import numpy as np

        from openmldb_spark.pipeline.similarity import _plane_matrix

        spark = df.sparkSession
        dim = len(proj.select("__v").first()[0])
        P = _plane_matrix(spark, dim, planes, seed)
        weights = (1 << np.arange(planes)).astype(np.int64)
        bc = spark.sparkContext.broadcast((P, weights))
        vec_t = dict(proj.dtypes)["__v"]
        id_t = dict(proj.dtypes)["__id"]

        def bucketize(batches):
            import pandas as pd

            P_l, w_l = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.asarray(list(pdf["__v"]), dtype=np.float64)
                b = ((V @ P_l.T) >= 0).astype(np.int64) @ w_l
                yield pd.DataFrame(
                    {"__id": pdf["__id"], "__v": pdf["__v"], "__bucket": b}
                )

        withb = proj.mapInPandas(
            bucketize, f"__id {id_t}, __v {vec_t}, __bucket long"
        )
    # same map-side-combine + broadcast-anti-join shape as minhash banding
    big = (
        withb.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("__bsize"))
        .filter(F.col("__bsize") > max_bucket)
        .select("__bucket")
    )
    sized = withb.join(F.broadcast(big), "__bucket", "left_anti")

    id_out_t = dict(proj.dtypes)["__id"]
    thr = float(threshold)

    def verify(pdf):
        from collections import defaultdict

        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"__loser": pd.Series([], dtype=object)})
        if len(pdf) < 2:
            return empty
        vs = pdf["__v"].to_list()
        all_ids = pdf["__id"].to_numpy()
        # r14 (ADVICE r13 #4): a bucket mixing vector LENGTHS made
        # np.asarray raise on the inhomogeneous shape and failed the whole
        # job, where the pre-r13 pairwise zip_with cosine yielded NULL and
        # just skipped the cross-length pair — compare within same-length
        # groups instead. Missing-element policy, now explicit: a null
        # ELEMENT arrives as NaN through Arrow, so null and NaN elements
        # are indistinguishable at this boundary; vectors containing
        # either neither drop nor get dropped (the r13-shipped, test-
        # pinned choice; the pre-r13 Spark evaluation would have dropped
        # NaN-element pairs — NaN >= t is true under Spark's NaN-greatest
        # ordering — but skipped null-element ones, a distinction this
        # boundary cannot express).
        by_len: dict = defaultdict(list)
        for i, v in enumerate(vs):
            if v is None:
                continue
            arr = np.asarray(v, dtype=np.float64)
            if np.isnan(arr).any():
                continue
            by_len[len(v)].append(i)
        losers: set = set()
        step = 1024
        for length, idxs in by_len.items():
            if len(idxs) < 2 or length == 0:
                continue
            ids = all_ids[idxs]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            V = np.asarray([vs[i] for i in np.asarray(idxs)[order]], dtype=np.float64)
            n = np.linalg.norm(V, axis=1)
            # row-chunked Gram: cos(i, j) = (V V^T)/(n n^T); with ids
            # ascending, the strict upper triangle has id[i] < id[j], so
            # every hit's LARGER id is the column's. Zero-norm rows divide
            # to NaN, which fails >= exactly like the NULL cosine did.
            with np.errstate(divide="ignore", invalid="ignore"):
                for i0 in range(0, len(ids), step):
                    i1 = min(i0 + step, len(ids))
                    G = (V[i0:i1] @ V.T) / np.outer(n[i0:i1], n)
                    r, c = np.nonzero(G >= thr)
                    up = c > (r + i0)  # strict upper triangle only
                    losers.update(ids[c[up]].tolist())
        if not losers:
            return empty
        return pd.DataFrame({"__loser": sorted(losers)})

    losers_df = (
        sized.groupBy("__bucket")
        .applyInPandas(verify, schema=f"__loser {id_out_t}")
        .select(F.col("__loser").alias(id_col))
        .distinct()
    )
    return df.join(losers_df, id_col, "left_anti")
