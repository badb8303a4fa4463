"""PII detection and redaction kernels for training-data curation.

A 100 TB pretraining corpus has to be scrubbed of obvious PII before any
model sees it.  These kernels are pure Column expressions — the regexes
compile once JVM-side and run inside whole-stage codegen, so redaction
is a zero-shuffle map over the corpus (the plan is a single Project on
top of the scan; filters and column pruning still push down through it).

The patterns deliberately use only the regex subset shared by Java
(Spark) and RE2 (DuckDB/Go) — character classes, bounded repetition,
alternation, ``\\b`` — so every kernel can be replayed byte-for-byte by
an ANSI-SQL oracle.  No lookbehind, no backreferences.

Reference parity: the reference pipeline has no PII pass (its shipment
rows are already-structured business records); this module is part of
the LLM-curation extension surface alongside dedup/quality scoring.
"""

from __future__ import annotations

from typing import Mapping, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


#: PII pattern library.  Order matters for ``redact_pii``: email first so
#: that the user part of an address is not half-eaten by the phone rule.
PII_PATTERNS: Mapping[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # NANP-ish phone: optional +1, separators -, ., or space.
    "phone": r"\+?1?[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # 13-16 digit card numbers with optional single separators.
    "credit_card": r"\b[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{1,4}\b",
}

DEFAULT_KINDS: Sequence[str] = ("email", "phone", "ssn", "ipv4", "credit_card")


def redact_pii(
    c: ColumnOrName, kinds: Sequence[str] = DEFAULT_KINDS
) -> Column:
    """Replace each PII match with a typed placeholder like ``<EMAIL>``.

    Chained ``regexp_replace`` — one codegen'd pass per kind, no Python.
    """
    out = _col(c).cast("string")
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_count(c: ColumnOrName, kind: str) -> Column:
    """Number of non-overlapping matches of one PII kind (0 for null).

    ``size(split(text, pattern)) - 1`` — the split-segment count is the
    match count for any non-empty pattern, and the identical formulation
    exists in the DuckDB oracle (``len(regexp_split_to_array(...)) - 1``),
    so counts replay exactly cross-engine.
    """
    t = F.coalesce(_col(c).cast("string"), F.lit(""))
    return (F.size(F.split(t, PII_PATTERNS[kind], -1)) - F.lit(1)).cast("int")

