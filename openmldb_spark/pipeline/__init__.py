"""LLM training-data pipeline operators (beyond-reference surface).

Designed for 100 TB corpora: every operator is a shuffle-bounded DataFrame
transform — no driver-side loops, no per-row Python in hot paths.

- :mod:`openmldb_spark.pipeline.dedup`      exact / SimHash / exact
  n-gram-Jaccard / embedding near-dup
- :mod:`openmldb_spark.pipeline.clusters`   duplicate-cluster assignment
  (connected components over dup pairs) + quality-aware representatives
- :mod:`openmldb_spark.pipeline.similarity` brute-force, LSH- and
  IVF-bucketed top-k joins
- :mod:`openmldb_spark.pipeline.annindex`   persisted IVF index: bucketed
  parquet layout, append-ingest without re-clustering, partition-pruned
  probes
- :mod:`openmldb_spark.pipeline.pq`         product quantization: sampled
  codebooks, encode, ADC top-k
- :mod:`openmldb_spark.pipeline.sampling`   deterministic stratified
  sampling + token-budget sharding
- :mod:`openmldb_spark.pipeline.text`       language-ID, quality scoring,
  token counting, fingerprinting, repetition signals, PII scrubbing
- :mod:`openmldb_spark.pipeline.contamination` benchmark n-gram
  decontamination audit (broadcast eval shingles, one shuffle)
- :mod:`openmldb_spark.pipeline.multimodal` image feature extraction over
  binary columns (native BMP/PNG/JPEG decoders)
"""
