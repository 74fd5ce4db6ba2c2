"""PII detection/redaction column functions — pure Catalyst regexps.

Corpus-hygiene pass for training data: detect and mask emails, phone
numbers, and IPv4 addresses.  All patterns are kept in the common subset of
Java regex (Spark, JVM-side codegen) and RE2 (DuckDB oracle): no
backreferences, no lookaround, POSIX character classes only — so the same
pattern string runs on both engines and the redaction output hash-matches.

Per-row projection, no shuffle: streams over 100 TB.  No reference
counterpart (GIS ETL); part of the training-data operator family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Portable Java-regex/RE2 patterns (single-escaped; passed as SQL strings).
EMAIL_REGEX = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_REGEX = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
IPV4_REGEX = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

# Redaction order matters: emails first (an email's domain could otherwise
# be clipped by the IP pattern when it is dotted digits), then phones, then
# bare IPs.  Applied left-to-right by redact_pii.
_PASSES = [
    (EMAIL_REGEX, "<EMAIL>"),
    (PHONE_REGEX, "<PHONE>"),
    (IPV4_REGEX, "<IP>"),
]


def count_matches(col: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` (JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def redact_pii(col: Column) -> Column:
    """Mask all email/phone/IPv4 spans with typed placeholder tokens."""
    out = col
    for pattern, token in _PASSES:
        out = F.regexp_replace(out, pattern, token)
    return out
