"""PII / toxicity scrubbing — north-rule layer, fully vectorized.

A chain of JVM-side ``regexp_replace`` calls (no Python in the hot
path). Patterns are deliberately RE2-compatible (work in both Java
regex and DuckDB/RE2) so the oracle queries can mirror them exactly.

Scrub is idempotent: replacement tokens never re-match any pattern.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone: NANP-ish 10-digit core — (860) 649-7922 / 860-649-7922.
# No country-code prefix: an optional `[0-9]{1,2}[ .-]` prefix would
# swallow trailing digits of adjacent words ("badword1 860-..."), and
# RE2 (the DuckDB oracle engine) has no lookbehind to guard it. A
# leftover "+1 " before <PHONE> is not PII.
PHONE_RE = r"(\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
IP_TOKEN = "<IP>"
TOX_TOKEN = "<TOX>"

# Placeholder toxicity lexicon — real deployments load a vetted list;
# the mechanism (single alternation regex, word-bounded) is the point.
DEFAULT_TOXICITY_TERMS: tuple[str, ...] = ("badword1", "badword2", "slur1")


def toxicity_pattern(terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS) -> str:
    return r"\b(" + "|".join(terms) + r")\b"


def scrub_pii(text: Column) -> Column:
    """email → phone → IPv4, in that order (emails would otherwise be
    chewed by the phone/IP digit patterns). The email regex runs only on
    text holding an ``@``: the pattern needs a literal one, and most
    documents have none."""
    out = F.when(
        F.instr(text, "@") > 0, F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    ).otherwise(text)
    out = F.regexp_replace(out, PHONE_RE, PHONE_TOKEN)
    out = F.regexp_replace(out, IPV4_RE, IP_TOKEN)
    return out


def scrub_toxicity(
    text: Column, terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS
) -> Column:
    return F.regexp_replace(text, toxicity_pattern(terms), TOX_TOKEN)


def scrub_all(
    text: Column, terms: tuple[str, ...] = DEFAULT_TOXICITY_TERMS
) -> Column:
    return scrub_toxicity(scrub_pii(text), terms)
