"""Format / PII regex catalog + match-count expressions.

Pattern semantics follow the reference packs:

* **format validity** (pattern_validation_pack/main.py:19-57): anchored
  ``re.match`` — a value is valid iff the pattern matches at the start;
  empty strings are treated as valid (`main.py:51`: ``if x else True``).
* **PII hits** (pii_scanner_pack/main.py:41-51): un-anchored
  ``str.contains`` — any occurrence counts the row once per column.

All patterns below are dialect-neutral (no backreferences / lookaround),
so they behave identically under Python ``re``, Java ``java.util.regex``
(Spark ``rlike`` / ``regexp_replace``) and RE2 (DuckDB) on ASCII input —
that is what makes the Spark-vs-DuckDB oracle checks and the Python-``re``
scrub path mutually consistent.  The scrub path still runs Python ``re``
inside a pandas UDF for byte-parity (BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Anchored format patterns (validity checks).  Keys mirror the reference
# builtin table (pattern_validation_pack/main.py:19-35).
FORMAT_PATTERNS: dict[str, str] = {
    "email": r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$",
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ipv4": r"^(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$",
    "ipv6": r"^(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}$|^::(?:[0-9a-fA-F]{1,4}:){0,6}[0-9a-fA-F]{1,4}$",
    "url": r"^https?://[^\s/$.?#].[^\s]*$",
    "phone_international": r"^\+?[1-9]\d{1,14}$",
    "date_iso": r"^\d{4}-\d{2}-\d{2}$",
    "date_us": r"^\d{2}/\d{2}/\d{4}$",
    "date_eu": r"^\d{2}-\d{2}-\d{4}$",
    "datetime_iso": r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}",
    "credit_card": r"^(?:\d[ -]*?){13,16}$",
    "hex_color": r"^#(?:[0-9a-fA-F]{3}){1,2}$",
    "mac_address": r"^([0-9A-Fa-f]{2}[:-]){5}([0-9A-Fa-f]{2})$",
    "postal_code_us": r"^\d{5}(?:-\d{4})?$",
    "alphanumeric": r"^[A-Za-z0-9]+$",
}

# Un-anchored PII detection patterns, iteration order preserved — the scrub
# path applies them in this order (pii_scanner_pack/pack_conf.json:4-13).
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"(?:\+?\d{1,3}[\s-]?)?(?:\(\d{2,4}\)[\s-]?)?\d{3,4}[\s-]?\d{3,4}"),
    ("credit_card", r"(?:\d[ -]*?){13,16}"),
    (
        "ipv4",
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    ),
    (
        "ipv6",
        r"(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|::(?:[0-9a-fA-F]{1,4}:){0,6}[0-9a-fA-F]{1,4}",
    ),
    ("usa_zipcode", r"\b\d{5}(?:-\d{4})?\b"),
    ("usa_ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("iban", r"[A-Z]{2}\d{2}[A-Z0-9]{4,30}"),
]

# US-shape phone (dqops PII §14 contains_usa_phone_percent is US-specific,
# unlike the scanner's generic international pattern above): optional +1,
# then (xxx) or xxx with a separator, then xxx-xxxx.  Dialect-neutral.
USA_PHONE_PATTERN = (
    r"(?:\+?1[\s.-]?)?(?:\(\d{3}\)\s?|\d{3}[\s.-])\d{3}[\s.-]?\d{4}"
)

# PII patterns that are cheap and unambiguous enough for the web-text scrub
# hot path (the generic phone/credit-card patterns over-match ordinary prose
# numbers, so the pipeline keeps them for *detection* metrics only).
SCRUB_PATTERNS: list[tuple[str, str]] = [
    ("email", PII_PATTERNS[0][1]),
    ("ipv4", PII_PATTERNS[3][1]),
    ("ipv6", PII_PATTERNS[4][1]),
    ("usa_ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
]


def matches_format(c: Column, pattern: str) -> Column:
    """Anchored validity: empty/NULL treated as valid like the reference."""
    body = pattern
    return F.when(c.isNull() | (c == ""), F.lit(True)).otherwise(
        c.rlike(body)
    )


def contains_pattern(c: Column, pattern: str) -> Column:
    """Un-anchored containment (PII detection); NULL → false."""
    return F.coalesce(c.rlike(pattern), F.lit(False))


def any_pii(c: Column, patterns: list[str] | None = None) -> Column:
    """Row predicate: any of the PII patterns occurs in the value."""
    pats = patterns if patterns is not None else [p for _, p in PII_PATTERNS]
    pred = F.lit(False)
    for p in pats:
        pred = pred | contains_pattern(c, p)
    return pred
