"""Incremental near-duplicate detection — dedup a NEW ingestion batch
against an EXISTING corpus without rescanning the corpus.

The production continual-ingestion shape: a 100 TB corpus is deduped
once, its banded MinHash index is persisted, and every subsequent batch
only (1) signs itself, (2) equi-joins its band buckets against the
index, and (3) scores the collisions. Cost per batch is
O(batch × bands) shuffle rows plus the bucket-collision join — the
corpus is touched only through the index, never re-shingled.

The index is TWO skinny tables, mirroring the batch pipeline's
ids-only-shuffle rule (``dedup.py minhash_lsh_candidates``: "banded rows
carry ONLY (id, band, bucket) — at 100 TB that is the difference
between shuffling ids and shuffling the whole signature matrix"):

- :func:`minhash_index` — one row per (document, band):
  ``(id, band, bucket)`` plus three constant parameter columns
  (``num_hashes, bands, shingle_n`` — parquet RLE-encodes constants to
  ~nothing on disk; they are pruned before any join so no shuffle ever
  carries them). ~bands skinny rows per document.
- :func:`minhash_signature_table` — ``(id, minhash)``, ONE row per
  document. Signatures are joined onto the candidate pair set only
  AFTER it has been deduplicated, so hot buckets multiply 16-byte id
  pairs, never 32-slot signature arrays.

Consistency contract (pinned in ``tests/test_incremental_dedup.py``):
the same banding and estimator as the batch pipeline
(:func:`openmldb_spark.pipeline.dedup.minhash_lsh_pairs`), and the
hot-bucket guard counts old∪new rows exactly like the batch run, so
``incremental_near_dups(new, index(old))`` equals the (old, new) cross
pairs of ``minhash_lsh_pairs(old ∪ new)`` exactly — including at the
``max_bucket`` boundary — and batch-rebuild and incremental ingestion
can be mixed freely without drift. A probe whose MinHash parameters
disagree with the ones stored in the index RAISES instead of silently
returning near-empty results. The streaming sibling
(:mod:`openmldb_spark.streaming.fuzzydedup`) covers the micro-batch
case with bounded state; this module is the batch-to-batch case with an
unbounded, persistable index.

Reference note: the reference has no corpus-dedup surface; this is
Spark-native pipeline tooling (SURVEY §6 pipeline additions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import minhash_signatures

#: constant parameter columns persisted into the band index so a probe
#: can detect a parameter-mismatched index instead of silently missing
_META_COLS = ("num_hashes", "bands", "shingle_n")


def _check_banding(num_hashes: int, bands: int) -> None:
    if num_hashes % bands:
        raise ValueError(
            f"incremental minhash: bands={bands} must divide "
            f"num_hashes={num_hashes} (parity with streaming/fuzzydedup)"
        )


def _band_buckets(sig: DataFrame, id_col: str, sig_col: str, bands: int) -> DataFrame:
    """ids-only ``(id, band, bucket)`` per document — the exact banding of
    ``minhash_lsh_candidates`` (hash of the band's signature slice), kept
    in lockstep so incremental and batch pipelines collide identically.
    The signature itself never enters these rows (ids-only shuffle)."""
    s = F.col(sig_col)
    return sig.select(
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
                                    s,
                                    (b * (F.size(s) / bands)).cast("int") + 1,
                                    (F.size(s) / bands).cast("int"),
                                ),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "__id",
        F.col("bb.band").alias("__band"), F.col("bb.bucket").alias("__bucket"),
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """The persistable signature half of the index: ``(id, minhash)``,
    ONE row per document (vs ~``bands`` band rows). Parquet it next to
    :func:`minhash_index` and union new batches on after ingestion."""
    return minhash_signatures(
        df.select(id_col, text_col), text_col,
        id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n,
    ).select(F.col(id_col).alias("id"), F.col("minhash"))


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """The persistable banded index of a corpus: one SKINNY row per
    (document, band) — ``(id, band, bucket)`` plus the three constant
    parameter columns (RLE ≈ free on disk, pruned before every join).
    Write it out with ``df.write.parquet(...)``; union a new batch's own
    index rows onto it after ingestion (see :func:`compact_index` for
    re-ingestion idempotence) so the next batch dedups against both.
    Pair it with :func:`minhash_signature_table` — the probe joins
    signatures onto the DEDUPED pair set, never into the band shuffle."""
    _check_banding(num_hashes, bands)
    sig = minhash_signatures(
        df.select(id_col, text_col), text_col,
        id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n,
    )
    return _band_buckets(sig, id_col, "minhash", bands).select(
        F.col("__id").alias("id"),
        F.col("__band").alias("band"),
        F.col("__bucket").alias("bucket"),
        F.lit(num_hashes).alias("num_hashes"),
        F.lit(bands).alias("bands"),
        F.lit(shingle_n).alias("shingle_n"),
    )


def compact_index(index: DataFrame) -> DataFrame:
    """Idempotent-ingestion compaction: re-ingesting a batch (union of
    the same index rows twice) leaves duplicate ``(id, band)`` rows that
    inflate state and hot-bucket counts. One ``dropDuplicates`` restores
    the one-row-per-(document, band) invariant — run it (or write through
    it) whenever an ingestion might replay."""
    return index.dropDuplicates(["id", "band"])


def _validate_index_params(
    index: DataFrame, num_hashes: int, bands: int, shingle_n: int
) -> None:
    """Raise if the index's stored parameters disagree with the probe's,
    or if the index itself mixes parameter tuples (an accidental union of
    two differently-parameterized builds — a first()-only check passed it
    and silently under-returned collisions for the mismatched portion,
    ADVICE r12). ``distinct()`` over the three constant columns reads
    only three RLE'd columns and collapses map-side to one tuple per
    task — cheap, but still a per-call scan of the index's metadata
    columns; repeated probes should go through
    :class:`MinhashIndexStore`, which validates ONCE per instance.
    Indexes written before the metadata columns existed are accepted
    unchecked (docstring contract only)."""
    if not set(_META_COLS) <= set(index.columns):
        return
    stored = [
        (r["num_hashes"], r["bands"], r["shingle_n"])
        for r in index.select(*_META_COLS).distinct().limit(3).collect()
    ]
    if not stored:
        return
    if len(stored) > 1:
        # key=repr: a legacy pre-metadata slice unioned in yields
        # (None, None, None), which Python cannot order against ints
        raise ValueError(
            "incremental_near_dups: index mixes MinHash parameter tuples "
            f"{sorted(stored, key=repr)} — it was unioned from builds with "
            "different (num_hashes, bands, shingle_n); rebuild or split "
            "the index"
        )
    given = (num_hashes, bands, shingle_n)
    if stored[0] != given:
        raise ValueError(
            "incremental_near_dups: index was built with "
            f"(num_hashes, bands, shingle_n)={stored[0]} but probed with "
            f"{given} — same banding is required for collisions to line up"
        )


def incremental_near_dups(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    signatures: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    min_jaccard_est: float = 0.0,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs between a new batch and an indexed corpus:
    ``(new_id, corpus_id, jaccard_est)``. ``index`` is the band table
    (:func:`minhash_index` rows, possibly unioned over many ingestions);
    ``signatures`` is the one-row-per-doc companion
    (:func:`minhash_signature_table`). MinHash parameters MUST match the
    ones the index was built with — a metadata-carrying index enforces
    this (mismatch raises naming stored vs given).

    Plan shape, mirroring the batch pipeline's ids-only discipline
    (``dedup.py:286-321``): the new batch signs itself (one shuffle on
    its own ids), ids-only band buckets equi-join the index on
    (band, bucket) — never all-pairs, no signature arrays in the
    shuffle — candidate pairs are deduplicated FIRST, and only then are
    the two stored signatures joined on to score the estimate. Buckets
    whose combined old∪new size exceeds ``max_bucket`` are dropped —
    counting BOTH sides, exactly like the batch run over old ∪ new, so
    the batch≡incremental equality holds at the boundary too."""
    _check_banding(num_hashes, bands)
    _validate_index_params(index, num_hashes, bands, shingle_n)
    # the batch signs itself ONCE: the signature plan has three consumers
    # (the hot-bucket count, the candidate join, the estimate join) that
    # partition differently, so without the checkpoint the shingle+hash
    # stage — the dominant cost — would re-run per consumer
    new_sigs = minhash_signatures(
        new_docs.select(id_col, text_col), text_col,
        id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n,
    ).localCheckpoint()
    return _near_dups_presigned(
        new_sigs, id_col, index, signatures,
        bands=bands, min_jaccard_est=min_jaccard_est, max_bucket=max_bucket,
    )


def _near_dups_presigned(
    new_sigs: DataFrame,
    id_col: str,
    index: DataFrame,
    signatures: DataFrame,
    *,
    bands: int,
    min_jaccard_est: float,
    max_bucket: int,
) -> DataFrame:
    """The probe body of :func:`incremental_near_dups`, starting from an
    already-signed (and checkpointed) ``(id_col, minhash)`` batch — split
    out so :meth:`MinhashIndexStore.ingest` can run detection and the
    index append off ONE signing of the batch (the shingle+MinHash stage
    is the dominant cost, and a nondeterministic source must not be
    signed twice — ADVICE r12)."""
    nb = _band_buckets(new_sigs, id_col, "minhash", bands)
    idx = index.select("id", "band", "bucket")  # prune metadata pre-join
    # hot-bucket guard over old ∪ new — the batch pipeline counts the
    # whole banded set, so the incremental guard must too (an index-only
    # count would keep pairs the batch drops near the cap, and vice versa)
    big = (
        idx.select("band", "bucket")
        .unionByName(
            nb.select(
                F.col("__band").alias("band"), F.col("__bucket").alias("bucket")
            )
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bsize"))
        .filter(F.col("__bsize") > max_bucket)
        .select("band", "bucket")
    )
    idx = idx.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    # ids-only candidates, deduped BEFORE any signature joins on
    cand = (
        nb.join(
            idx,
            (nb["__band"] == idx["band"]) & (nb["__bucket"] == idx["bucket"]),
        )
        .where(nb["__id"] != idx["id"])
        .select(nb["__id"].alias("new_id"), idx["id"].alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sa = new_sigs.select(
        F.col(id_col).alias("new_id"), F.col("minhash").alias("__sa")
    )
    sb = signatures.select(
        F.col("id").alias("corpus_id"), F.col("minhash").alias("__sb")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.size(F.col("__sa"))
    )
    return (
        cand.join(sa, "new_id")
        .join(sb, "corpus_id")
        .withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .select("new_id", "corpus_id", "jaccard_est")
        # final pair-level dedupe (r12 verdict #2): a REPLAYED-but-
        # uncompacted ingestion leaves duplicate (id) signature rows, and
        # the estimate join above would multiply each pair. Deduping HERE
        # costs a pairs-sized exchange of three scalars — never the
        # full-table signature-array shuffle a dedupe of the sigs read
        # itself would pay (duplicate rows carry identical signatures —
        # deterministic signing — so any survivor is the right one).
        .dropDuplicates(["new_id", "corpus_id"])
    )


class MinhashIndexStore:
    """Parquet-backed lifecycle for the two-table incremental index — the
    piece a continual-ingestion pipeline would otherwise hand-roll, with
    the two ordering mistakes it usually hand-rolls wrong:

    - :meth:`ingest` detects a batch's duplicates against the CURRENT
      index and MATERIALIZES the result BEFORE appending the batch's own
      rows (append-first would make every batch row its own near-dup;
      lazy-return-then-append would re-plan the probe over the already-
      appended index);
    - parameters live in the index rows (see :func:`minhash_index`), so
      re-opening the store at different parameters raises on the first
      probe instead of silently returning near-nothing.

    Layout under ``root``: ``bands/`` (skinny band rows) and ``sigs/``
    (one signature row per doc), both plain parquet — readable by any
    engine, appended with dynamic-partition-free ``mode("append")``.
    :meth:`compact` rewrites both tables deduplicated (safe after a
    replayed ingestion; see :func:`compact_index`).

    Filesystem contract: EVERY lifecycle op (exists / compact's
    stage-and-swap / torn-swap recovery) resolves ``root`` through the
    Hadoop FileSystem API — the same resolution Spark's parquet
    reader/writer applies — so bare paths under an HDFS/object-store
    ``fs.defaultFS``, ``file:`` URIs, and remote URIs all keep the
    lifecycle and the data on ONE filesystem (r12 verdict: the ``os.*``
    lifecycle silently split them on any non-``file:`` defaultFS).
    Compact's swap is two renames — each as atomic as the store's FS
    makes a directory rename (atomic on HDFS/local, copy+delete on
    object stores), NOT one atomic unit; a crash between them is
    self-healed on the next open (see :class:`._hadoopfs.HadoopFs`).
    """

    def __init__(
        self,
        spark,
        root: str,
        *,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_n: int = 5,
    ):
        from ._hadoopfs import HadoopFs

        _check_banding(num_hashes, bands)
        self.spark = spark
        self.root = root
        self.bands_path = root.rstrip("/") + "/bands"
        self.sigs_path = root.rstrip("/") + "/sigs"
        self.params = dict(
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )
        self._fs = HadoopFs(spark, root)
        # parameter validation runs once per instance (the distinct scan
        # over the index's metadata columns is cheap but not free per
        # probe at the 100 TB design point)
        self._params_validated = False
        # self-heal a compact() torn at any point (between the renames,
        # or mid rename on a copy+delete object store): finish a swap
        # whose staged rewrite completed, else roll back the parked table
        self._fs.recover_swap(self.bands_path)
        self._fs.recover_swap(self.sigs_path)

    def exists(self) -> bool:
        """True iff the band table holds a COMMITTED write (``_SUCCESS``
        marker — a build that crashed mid-write leaves a partial
        directory that must read as "no index", not as a truncated one;
        the sigs-first ingest order means a committed band table always
        has its signature companion). A crash mid-APPEND leaves the
        previous commit's marker and possibly orphan rows —
        :meth:`compact` clears those, per the ingest docstring."""
        return self._fs.is_complete_write(self.bands_path)

    def index(self) -> DataFrame:
        return self.spark.read.parquet(self.bands_path)

    def signatures(self) -> DataFrame:
        """The raw stored signature table — ONE row per doc in a
        compacted store; a replayed-but-uncompacted ingestion leaves
        duplicate (id) rows here (probe OUTPUT stays duplicate-free: the
        probe dedupes at the final pair level, which costs a pairs-sized
        exchange instead of a full-table signature-array shuffle).
        Document ids must be unique and immutable across ingestions."""
        return self.spark.read.parquet(self.sigs_path)

    def _validate_once(self) -> None:
        if not self._params_validated:
            _validate_index_params(self.index(), **self.params)
            self._params_validated = True

    def _tables(self, docs: DataFrame, id_col: str, text_col: str):
        """(sigs_df, bands_df) computed from ONE signing of ``docs``
        (checkpointed — minhash_index + minhash_signature_table would
        each re-run the shingle+hash stage over the full input)."""
        sig = minhash_signatures(
            docs.select(id_col, text_col), text_col,
            id_col=id_col,
            num_hashes=self.params["num_hashes"],
            shingle_n=self.params["shingle_n"],
        ).localCheckpoint()
        sigs_df = sig.select(F.col(id_col).alias("id"), F.col("minhash"))
        bands_df = _band_buckets(
            sig, id_col, "minhash", self.params["bands"]
        ).select(
            F.col("__id").alias("id"),
            F.col("__band").alias("band"),
            F.col("__bucket").alias("bucket"),
            F.lit(self.params["num_hashes"]).alias("num_hashes"),
            F.lit(self.params["bands"]).alias("bands"),
            F.lit(self.params["shingle_n"]).alias("shingle_n"),
        )
        return sigs_df, bands_df

    def build(self, corpus: DataFrame, id_col: str, text_col: str) -> None:
        """Write the initial index of a corpus (errorifexists — a rebuild
        is an explicit decision: pass a fresh root or remove the old)."""
        sigs_df, bands_df = self._tables(corpus, id_col, text_col)
        sigs_df.write.parquet(self.sigs_path)
        bands_df.write.parquet(self.bands_path)

    def near_dups(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        *,
        min_jaccard_est: float = 0.0,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Probe WITHOUT ingesting (read-only against the stored index).
        Parameter validation is memoized per store instance."""
        self._validate_once()
        sig = minhash_signatures(
            new_docs.select(id_col, text_col), text_col,
            id_col=id_col,
            num_hashes=self.params["num_hashes"],
            shingle_n=self.params["shingle_n"],
        ).localCheckpoint()
        return _near_dups_presigned(
            sig.select(F.col(id_col).alias("id"), F.col("minhash")),
            "id", self.index(), self.signatures(),
            bands=self.params["bands"],
            min_jaccard_est=min_jaccard_est, max_bucket=max_bucket,
        )

    def ingest(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        *,
        min_jaccard_est: float = 0.0,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Detect the batch's near-dups against the current index, THEN
        append the batch's own rows so the next batch matches against it.
        The batch is signed exactly ONCE (one checkpointed shingle+MinHash
        stage feeds both the probe and the appended sigs/bands rows — so a
        nondeterministic source cannot diverge between what was detected
        and what was indexed, ADVICE r12). Returns the materialized
        ``(new_id, corpus_id, jaccard_est)`` pairs (``localCheckpoint`` —
        safe to use after the append)."""
        self._validate_once()
        sigs_df, bands_df = self._tables(new_docs, id_col, text_col)
        dups = _near_dups_presigned(
            sigs_df, "id", self.index(), self.signatures(),
            bands=self.params["bands"],
            min_jaccard_est=min_jaccard_est, max_bucket=max_bucket,
        ).localCheckpoint()
        # SIGNATURES append first: the two appends are not atomic, and a
        # failure between them must leave the batch ABSENT (sig rows
        # without band rows never collide — harmless, re-ingestable)
        # rather than half-visible (band rows without signatures collide
        # but vanish at the estimate join, silently dropping pairs).
        # compact() clears either kind of orphan.
        sigs_df.write.mode("append").parquet(self.sigs_path)
        bands_df.write.mode("append").parquet(self.bands_path)
        return dups

    def compact(self) -> None:
        """Rewrite both tables deduplicated — repairs a replayed ingestion
        (duplicate (id, band) rows inflate state and hot-bucket counts).
        The rewrite stages into a sibling directory, parks the live table
        in ``<table>.compact.old``, and renames the staged rewrite into
        place — two renames, each atomic only at the filesystem's
        directory-rename level (HDFS/local: atomic; object stores:
        copy+delete), NOT one atomic unit. A crash anywhere in the swap —
        between the renames, or mid-copy on an object store — is
        self-healed on the next store open (``HadoopFs.recover_swap``:
        a COMMITTED staged rewrite rolls the swap forward, an
        uncommitted one is dropped, a parked table rolls back).
        Concurrent probes during the swap window can observe a missing
        table — compaction is an offline, single-writer op."""
        sig_ids = self.signatures().select("id").distinct()

        def _bands(df):
            # drop orphan band rows (no signature — a torn ingest under
            # the pre-r12 bands-first order, or manual edits): they
            # collide but produce no pairs, and they inflate hot buckets
            return compact_index(df).join(sig_ids, "id", "left_semi")

        for path, dedup in (
            (self.bands_path, _bands),
            (self.sigs_path, lambda df: df.dropDuplicates(["id"])),
        ):
            tmp = path + ".compact.tmp"
            self._fs.delete(tmp)
            dedup(self.spark.read.parquet(path)).write.parquet(tmp)
            old = path + ".compact.old"
            self._fs.delete(old)
            self._fs.rename(path, old)
            self._fs.rename(tmp, path)
            self._fs.delete(old)
