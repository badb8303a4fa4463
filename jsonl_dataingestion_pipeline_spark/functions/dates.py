"""Date parsing / formatting kernels (F4, F5, F10-F12 of SURVEY.md §2.3).

The reference parses every date cell with pandas
``to_datetime(dayfirst=True, errors="coerce").normalize()``
(`src/transformer.py:253-264`). Day-first is a *preference*: ``01/02/2026``
is Feb 1, but ISO strings still parse, and impossible day-first values
fall back to month-first (pandas behavior). We mirror that with an ordered
``coalesce`` of ``try_to_date``/``try_to_timestamp`` patterns — explicit,
ANSI-safe, and fully pushed into codegen.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# Ordered acceptance list. Earlier wins; day-first before month-first.
# NB (verified against pandas 2.2.2, the reference's engine): with
# dayfirst=True pandas reads 'yyyy-a-b' as yyyy-DAY-month ('2024-01-05' ->
# May 1!) and only falls back to ISO %Y-%m-%d when the day-first reading
# is impossible ('1995-01-31' -> Jan 31, with a pandas warning). The
# format order below mirrors that acceptance order exactly — parity over
# prettiness; tests/test_date_properties.py property-checks it.
_DATE_PATTERNS: tuple[str, ...] = (
    "d/M/yyyy",
    "d-M-yyyy",
    "d.M.yyyy",
    "yyyy-d-M",
    "yyyy-M-d",
    "yyyy/d/M",
    "yyyy/M/d",
    "d MMM yyyy",
    "d-MMM-yyyy",
    "d-MMM-yy",
    "MMM d yyyy",
    # month-first fallback (pandas dayfirst=True still accepts these when
    # the day-first reading is impossible, e.g. 01/25/2026)
    "M/d/yyyy",
    "M-d-yyyy",
)

_TS_PATTERNS: tuple[str, ...] = (
    "yyyy-d-M H:m:s",
    "yyyy-M-d H:m:s",
    "yyyy-d-M'T'H:m:s",
    "yyyy-M-d'T'H:m:s",
    "d/M/yyyy H:m",
    "d/M/yyyy H:m:s",
)


def parse_date_dayfirst(c: ColumnOrName) -> Column:
    """F4 — day-first tolerant parse to ``date`` (null on failure).

    ``c`` is copied into each of the 19 ``try_to_date``/``try_to_timestamp``
    candidates, so pass an attribute (or a lambda variable): a computed
    input, such as ``clean_string(col)``, puts 19 copies of its tree into
    the plan. Project it first, as ``plans.shipment.clean_columns`` does.
    """
    s = F.trim(_col(c).cast("string"))
    candidates = [F.try_to_date(s, p) for p in _DATE_PATTERNS]
    candidates += [F.try_to_timestamp(s, F.lit(p)).cast("date") for p in _TS_PATTERNS]
    return F.coalesce(*candidates)


def parse_multi_dates(c: ColumnOrName) -> Column:
    """F5 — comma-separated multi-date cell -> ``array<date>`` or null.

    Split on ``,``, parse each part day-first, drop failures; an empty
    result is null (reference `src/transformer.py:266-289`).
    """
    parts = F.split(_col(c).cast("string"), ",")
    parsed = F.filter(
        F.transform(parts, lambda x: parse_date_dayfirst(x)),
        lambda d: d.isNotNull(),
    )
    # the null-if-empty test reads the array twice: bound to a lambda
    # variable, the 19-candidate parse is one copy in the plan and runs
    # once per cell
    return F.transform(F.array(parsed), lambda a: F.when(F.size(a) > 0, a))[0]


def fmt_display(c: ColumnOrName) -> Column:
    """F10 — ``dd-MMM-yy`` display format (e.g. ``05-Jan-26``)."""
    return F.date_format(_col(c), "dd-MMM-yy")


def fmt_iso(c: ColumnOrName) -> Column:
    """F11 — ISO ``yyyy-MM-dd`` display format."""
    return F.date_format(_col(c), "yyyy-MM-dd")


def month_group(c: ColumnOrName) -> Column:
    """F12 — ``yyyy-MM`` partition group key (source_group)."""
    return F.date_format(_col(c), "yyyy-MM")


def month_tag(c: ColumnOrName) -> Column:
    """F12 — ``mmm_yy`` lowercase month tag (source_month_tag)."""
    return F.lower(F.date_format(_col(c), "MMM_yy"))


def mmmyy(c: ColumnOrName) -> Column:
    """F12 — writer-style ``mmmyy`` tag (e.g. ``jan26``)."""
    return F.lower(F.date_format(_col(c), "MMMyy"))
