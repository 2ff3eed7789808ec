"""Streaming mode — continuous feature computation (Structured Streaming).

The reference has no streaming SQL surface (SURVEY §2.8): its "streaming" is
rows inserted into tablets + per-request window features computed as-of-now,
which the compiled request plan of ``Engine`` DEPLOY serves here. What this
package adds is Spark's own event-time surface:

- :mod:`.eventtime` — tumble/hop/session windowed aggregation + watermark
  late-data semantics (TTL ≈ watermark + state timeout);
- :mod:`.sqlsurface` — the SQL spelling of the same windows through
  ``Engine.register_stream`` + ``Engine.execute`` (batch + stream, one
  query text).

Kafka/Pulsar connector parity = ``spark.readStream.format("kafka")``
registered with ``Engine.register_stream`` — no code needed beyond
configuration.
"""
