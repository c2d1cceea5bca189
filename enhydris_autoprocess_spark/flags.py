"""Flag-string algebra as pure column expressions.

The reference stores flags as a space-separated token string, ""
when unflagged, and appends new tokens at the end preserving existing
order (models.py:180-184; golden "FLAG2" -> "FLAG2 SUSPECT",
tests/test_models.py:357-358). Byte-identical output matters for the
tier-equality criterion, so the canonical representation stays a
string.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def append_flag(flags: Column, mask: Column, flag: str) -> Column:
    """Append ``flag`` to ``flags`` where ``mask``; keep order/spacing.

    ``concat_ws`` skips NULLs, so ``nullif(flags, '')`` yields exactly
    "FLAG" or "EXISTING FLAG" — byte-equal to the reference's
    ``flags += (" " if flags else "") + flag``.
    """
    appended = F.concat_ws(" ", F.nullif(flags, F.lit("")), F.lit(flag))
    return F.when(mask, appended).otherwise(flags)


def has_flag(flags: Column, flag: str) -> Column:
    """Substring containment, matching the reference's
    ``str.contains("TEMPORAL")`` (models.py:221) — deliberately a
    substring test, not a token test."""
    return flags.contains(flag)

