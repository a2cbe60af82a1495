"""PII scrub: ordered regexp_replace chain (emails -> phones -> IPs).

Patterns restrict to the character-class subset whose semantics are
identical in Java regex (Spark), Python `re` (the oracle) and RE2
(DuckDB) — SURVEY.md §7 hard part (a): byte-identical scrubbed text
across engines, pinned by tests/test_pipeline.py sha256 goldens.

Email pattern derives from the reference's validator regex
(dq_checker.py:132), unanchored for in-text scrubbing.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# order matters: emails contain dots/digits that the IP pattern could
# otherwise clip; scrub most-specific first.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-.]+",
        "<EMAIL>",
    ),
    (
        "phone",
        r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
        "<PHONE>",
    ),
    (
        "ip",
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
)

# card-shaped digit runs: 4-4-4-4 with -/space separators, or a
# contiguous 13-19 digit run (the ISO/IEC 7812 PAN length range)
CCN_PATTERN = (
    r"\b(?:[0-9]{4}[- ]){3}[0-9]{4}\b|\b[0-9]{13,19}\b"
)

# OPT-IN extended set. Defaults stay byte-identical to SCRUB_PATTERNS
# (the golden fixtures pin them); callers pass patterns=
# SCRUB_PATTERNS_EXTENDED explicitly. Order: email first (contains
# dots/digits), card/SSN BEFORE phone (the phone pattern would clip
# 3-3-4 digit runs out of both), IPv4 before IPv6 (no overlap, kept
# adjacent for readability). All three additions restrict to the
# Java/`re`/RE2-portable subset like the base set.
SCRUB_PATTERNS_EXTENDED: tuple[tuple[str, str, str], ...] = (
    SCRUB_PATTERNS[0],
    ("ccn", CCN_PATTERN, "<CCN>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    SCRUB_PATTERNS[1],
    SCRUB_PATTERNS[2],
    (
        "ipv6",
        r"\b(?:[0-9a-fA-F]{1,4}:){3,7}[0-9a-fA-F]{1,4}\b",
        "<IPV6>",
    ),
)


def scrub_expr(
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = SCRUB_PATTERNS,
) -> Column:
    """Scrubbed text as a single chained Catalyst expression."""
    c: Column = F.col(text_col)
    for _, pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c


def scrub_count_exprs(
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = SCRUB_PATTERNS,
) -> dict[str, Column]:
    """Per-PII-kind match counts (for the metrics table). Counted on
    the progressively-scrubbed text so the counts compose with the
    replacement order."""
    out: dict[str, Column] = {}
    c: Column = F.col(text_col)
    for name, pat, repl in patterns:
        # regexp_count: Spark rewrites it to
        # size(regexp_extract_all(...)), so the match array IS built
        out[name] = F.when(c.isNull(), F.lit(0)).otherwise(
            F.regexp_count(c, F.lit(pat))
        )
        c = F.regexp_replace(c, pat, repl)
    return out


def scrub_python(
    text: str | None,
    patterns: tuple[tuple[str, str, str], ...] = SCRUB_PATTERNS,
) -> str | None:
    """The oracle-side scrub — byte-identical contract with scrub_expr."""
    if text is None:
        return None
    for _, pat, repl in patterns:
        text = re.sub(pat, repl, text)
    return text


def luhn_valid_count(text_col: str = "text") -> Column:
    """Count of card-shaped candidates in the text that pass the Luhn
    checksum — the standard false-positive gate on CCN_PATTERN matches
    (a random 16-digit run passes ~10% of the time, a real PAN always).
    Pure Catalyst: regexp_extract_all candidates, strip separators,
    fold the checksum with F.aggregate — no UDF, stays in codegen.
    Detection only; the scrub itself stays shape-based because
    regexp_replace cannot be conditioned per-match."""
    cands = F.when(F.col(text_col).isNull(), F.array()).otherwise(
        F.regexp_extract_all(F.col(text_col), F.lit(CCN_PATTERN), 0)
    )

    def is_luhn(s: Column) -> Column:
        d = F.regexp_replace(s, r"[- ]", "")
        # i counts 1..len from the RIGHT; even i doubles (9-wrap)
        total = F.aggregate(
            F.sequence(F.lit(1), F.length(d)),
            F.lit(0),
            lambda acc, i: acc
            + F.when(
                i % 2 == 0,
                (
                    lambda x: F.when(x > 9, x - 9).otherwise(x)
                )(F.substring(d, -i, 1).cast("int") * 2),
            ).otherwise(F.substring(d, -i, 1).cast("int")),
        )
        return total % 10 == 0

    return F.size(F.filter(cands, is_luhn))


def luhn_valid_python(text: str | None) -> int:
    """Python oracle mirror of luhn_valid_count."""
    if text is None:
        return 0
    count = 0
    for m in re.finditer(CCN_PATTERN, text):
        d = re.sub(r"[- ]", "", m.group(0))
        total = 0
        for i, ch in enumerate(reversed(d), start=1):
            v = int(ch)
            if i % 2 == 0:
                v *= 2
                if v > 9:
                    v -= 9
            total += v
        count += total % 10 == 0
    return count


def with_scrub(df, text_col: str = "text"):
    """Staged scrub: adds scrub_<kind> counts + scrubbed_text. Each
    count and each intermediate text is a materialized, multi-referenced
    column (CollapseProject keeps it), so every regex runs at most once
    per page. A pattern's regexp_replace runs only when its count is
    > 0: with no match the replace is the identity. The email count
    itself runs only when the text contains '@', without which the
    email pattern cannot match. Counts are taken on the progressively
    scrubbed text, so they compose with the replacement order."""
    cur = F.col(text_col)
    out = df
    stage_names = []
    for i, (name, pat, repl) in enumerate(SCRUB_PATTERNS):
        count = F.regexp_count(cur, F.lit(pat))
        if name == "email":  # the pattern's one literal '@'
            count = F.when(F.instr(cur, "@") > 0, count)
        out = out.withColumn(f"scrub_{name}", F.coalesce(count, F.lit(0)))
        stage = (
            "scrubbed_text"
            if i == len(SCRUB_PATTERNS) - 1
            else f"_scrub{i}"
        )
        out = out.withColumn(
            stage,
            F.when(
                F.col(f"scrub_{name}") > 0, F.regexp_replace(cur, pat, repl)
            ).otherwise(cur),
        )
        if stage != "scrubbed_text":
            stage_names.append(stage)
        cur = F.col(stage)
    return out.drop(*stage_names)
