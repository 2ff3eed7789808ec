"""Feature-signature / training-instance formatters (DataFrame API).

Reference: ``hybridse/src/udf/default_defs/feature_signature_def.cc`` —
``continuous`` (:440) and ``binary_label`` (:474) tag columns with a
signature kind; the ``csv`` / ``libsvm`` formatters fold tagged columns
into one training-instance string per row (CSV :292-345, LIBSVM
:347-437). The full signature family in SQL (``discrete``, the other
labels, ``gcformat``) lowers in :mod:`openmldb_spark.sql.rewrite`.

Design here: a signature is a small Python wrapper (kind + formatted
Column) — slot numbering depends only on the *static* argument kinds, so
it is computed in Python and the per-row work stays entirely in Catalyst
expressions (concat/when — no UDFs).

Documented divergence: ``continuous`` of an integer-typed column formats
like a double
("5.000000") unless ``integer=True`` is passed (C++ overload resolution
picked this statically).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

CONTINUOUS = 100
BINARY_LABEL = 200


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _fmt_continuous(c: Column, integer: bool) -> Column:
    # C++ std::to_string: ints plain, floating 6 decimals.
    # (format_string renders a NULL arg as 'null' — keep NULL null.)
    if integer:
        return c.cast("string")
    return F.when(c.isNotNull(), F.format_string("%.6f", c.cast("double")))


@dataclass
class Sig:
    kind: int
    value: Column              # formatted string column (null = missing)


def continuous(col, *, integer: bool = False) -> Sig:
    return Sig(CONTINUOUS, _fmt_continuous(_c(col), integer))


def binary_label(col) -> Sig:
    return Sig(BINARY_LABEL, _c(col).cast("boolean").cast("int").cast("string"))


def _join_features(parts: list[Column]) -> Column:
    # concat_ws skips NULL args — same result as the previous
    # filter(array(...), isNotNull) + array_join, without materializing an
    # array per row (r13). Each part is built with null-propagating concat,
    # so a missing value nulls its whole slot.
    if not parts:
        return F.lit("")
    return F.concat_ws(" ", *parts)


def csv_format(*sigs: Sig) -> Column:
    """Comma-joined slots, null -> empty cell (CSV :292-345)."""
    cells = [F.coalesce(s.value, F.lit("")) for s in sigs]
    return F.concat_ws(",", *cells) if cells else F.lit("")


def libsvm(*sigs: Sig) -> Column:
    """'<label> slot:value ...' (LIBSVM :347-437)."""
    label: Optional[Column] = None
    feats: list[Column] = []
    slot = 1
    for s in sigs:
        if s.kind == BINARY_LABEL:
            label = s.value
        else:
            # concat null-propagates; NULL slots are skipped by concat_ws
            feats.append(F.concat(F.lit(f"{slot}:"), s.value))
            slot += 1
    if label is None:
        return _join_features(feats)
    # concat_ws skips NULLs, so a NULL-or-empty label (nullif) and NULL
    # feature slots drop out — same composition as the previous nested
    # whens, but `body` (which re-evaluates every formatted feature) is
    # built exactly once instead of three times (r13: libsvm was 3.1s of
    # the 4.1s feature_signature noop stage; whens block Catalyst
    # subexpression elimination because branches evaluate lazily)
    return F.concat_ws(" ", F.nullif(label, F.lit("")), *feats)
