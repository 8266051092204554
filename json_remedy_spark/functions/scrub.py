"""Regex PII / toxicity scrubbing — chained ``regexp_replace`` columns.

North-rule stage.  Patterns stay in the common Java-regex / RE2 subset
(no lookaround) so the DuckDB oracle applies the identical chain.
Order matters (SSN before phone: both are digit runs) and is fixed by
SCRUB_RULES.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCRUB_RULES: list[tuple[str, str, str]] = [
    # (name, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("credit_card", r"\b(?:\d[ -]?){13,16}\b", "[CC]"),
    ("phone", r"\+?\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{3,4}\b", "[PHONE]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
]

TOXICITY_WORDS = ["badword1", "badword2", "slur1", "slur2", "expletive"]
TOXICITY_PATTERN = r"(?i)\b(" + "|".join(TOXICITY_WORDS) + r")\b"


def scrub(text: Column) -> Column:
    out = text
    for _, pat, rep in SCRUB_RULES:
        out = F.regexp_replace(out, pat, rep)
    out = F.regexp_replace(out, TOXICITY_PATTERN, "[TOX]")
    return out


def scrub_sql(col: str = "text") -> str:
    expr = col
    for _, pat, rep in SCRUB_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    expr = f"regexp_replace({expr}, '{TOXICITY_PATTERN}', '[TOX]', 'g')"
    return expr
