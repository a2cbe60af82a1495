"""Heuristic quality rules as named Catalyst Column expressions.

Each rule maps to a reference check it generalizes (docstrings cite
file:line into /root/reference). A rule expression is TRUE when the
document VIOLATES the rule (i.e. should be dropped for it) — the same
polarity as the reference's "return violating rows" style.

The battery has ONE form: ``page_stats`` evaluates every per-page
statistic the nine content rules need into a single bound struct, and
``rule_flags`` turns that struct (plus three length gates that read the
text directly) into the 12 violation flags. plans/verdict.py evaluates
the struct once per page and derives both the rule_* columns and
``keep`` from it. Pure SQL expressions: zero shuffles, zero Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_quality_checker_spark.functions import text as X
from data_quality_checker_spark.functions.litfast import sql_str
from data_quality_checker_spark.functions.wordlists import (
    LANGS,
    QUALITY_STOPWORDS,
    STOPWORDS,
    TOXIC_WORDS,
)


@dataclass(frozen=True)
class RuleConfig:
    """Thresholds for the rule battery (Gopher/C4-flavored defaults).

    Boundary semantics are explicit closed/open sides (SURVEY.md §7
    hard part (c)): violations use strict < / > against the bounds, so
    a doc exactly at a bound is kept."""

    min_chars: int = 80          # nlp_analyzer.py:87-88 (length gate)
    max_chars: int = 20000
    min_words: int = 15
    max_words: int = 5000
    min_mean_word_len: float = 2.0   # nlp_analyzer.py:99-122
    max_mean_word_len: float = 12.0
    min_stopword_ratio: float = 0.02  # nlp_analyzer.py:927-929
    max_symbol_ratio: float = 0.12    # dq_checker.py:543-557 reframed
    max_repetition: float = 0.80      # nlp_analyzer.py:852-885
    max_dup_line_fraction: float = 0.30  # dq_checker.py:985-998 per-doc
    allowed_langs: tuple[str, ...] = ("en",)
    toxic_words: tuple[str, ...] = TOXIC_WORDS
    stopwords: tuple[str, ...] = QUALITY_STOPWORDS


@lru_cache(maxsize=64)
def word_alt_pattern(words: tuple[str, ...]) -> str:
    """Whitespace-bounded word-set regex whose match count over
    lowered text equals the token-membership count of the split-based
    tokenizer (verified row-for-row on 800k docs). Lookahead keeps the
    trailing separator unconsumed so adjacent stopwords both count.
    Words are regex-escaped: the oracle compares TOKEN MEMBERSHIP, so
    a curated list entry like 'a$$' must match literally here too
    (unescaped, '$' would anchor and never match — breaking the
    pinned F1 parity — and '(' would throw at runtime).

    The word set is emitted as a TRIE-structured pattern
    (``(?:a(?:nd?|[nst])|...)``) instead of a flat 30-way alternation
    (round-7): java.util.regex tries flat alternatives in order,
    pushing a backtrack frame per branch at every whitespace position,
    where the trie walks shared prefixes once — measured 6.9 s ->
    5.0 s for the 5-language battery over 800k docs with bit-identical
    counts. Count equivalence is structural, not incidental: the
    trailing ``(?=\\s|$)`` means ANY successful match spans exactly a
    whole whitespace-bounded token that is a member of the set, so
    greedy-longest (trie) and first-in-list (flat) always accept the
    same positions and consume the same spans; the property tests pin
    the count against the pure-Python tokenizer mirror either way."""
    import re as _re

    root: dict = {}
    for w in words:
        d = root
        for ch in w:
            d = d.setdefault(ch, {})
        d[""] = True

    def emit(d: dict) -> str:
        end = "" in d
        alts: list[str] = []
        singles: list[str] = []
        for k in sorted(k for k in d if k != ""):
            sub = emit(d[k])
            if sub == "":
                singles.append(_re.escape(k))
            else:
                alts.append(_re.escape(k) + sub)
        if singles:
            # leaf siblings collapse to a character class
            alts.append(
                "[" + "".join(singles) + "]"
                if len(singles) > 1
                else singles[0]
            )
        if not alts:
            return ""
        body = "|".join(alts)
        if len(alts) > 1 or end:
            body = "(?:" + body + ")"
        if end:
            body += "?"  # this node is itself a word end
        return body

    return r"(?:^|\s)" + emit(root) + r"(?=\s|$)"


@lru_cache(maxsize=8)
def _wordset_fold_sql(
    stopwords: tuple[str, ...], toxic: tuple[str, ...]
) -> tuple[str, str]:
    """(map_sql, grouped_extraction_pattern) over the union of the
    five language lists PLUS the config's quality-stopword and
    toxic-word lists; membership arrays are len(LANGS)+2 wide
    ([..langs.., quality, toxic]). One extraction pass then folds into
    all seven counts. The map is ONE parsed SQL literal: building it
    from per-element ``F.lit`` Columns cost ~830 py4j round-trips per
    construction."""
    lists = [STOPWORDS[lang] for lang in LANGS] + [
        tuple(stopwords),
        tuple(toxic),
    ]
    union = tuple(sorted({w for ws in lists for w in ws}))
    sets = [set(ws) for ws in lists]
    parts: list[str] = []
    for w in union:
        parts.append(sql_str(w))
        parts.append(
            "array("
            + ",".join("1" if w in s else "0" for s in sets)
            + ")"
        )
    pat = word_alt_pattern(union)
    head, tail = r"(?:^|\s)", r"(?=\s|$)"
    grouped = head + "(" + pat[len(head) : -len(tail)] + ")" + tail
    return "map(" + ",".join(parts) + ")", grouped


def lang_argmax(counts: Column) -> Column:
    """Deterministic language argmax (LANGS order tie-break, 'und'
    when every count is zero) over the first len(LANGS) entries of a
    page_stats ``wsc`` counts array."""
    sc = [counts[i] for i in range(len(LANGS))]
    best = F.greatest(*sc)
    e = F.lit("und")
    for i in reversed(range(len(LANGS))):
        e = F.when(
            (sc[i] > 0) & (sc[i] == best), F.lit(LANGS[i])
        ).otherwise(e)
    return e


def page_stats(cfg: RuleConfig, text_col: str = "text") -> Column:
    """Every statistic the nine content rules read, as ONE struct whose
    inputs are HOF let-bindings (functions/text.bind_once), so each
    piece of regex work runs once per page however often the
    optimizer inlines the struct:

    - ``wc`` / ``nonws`` / ``udist`` from one token array of the
      lowered text. The count of \\S+ runs equals the number of
      non-empty split tokens (same Java \\s class; lowercasing never
      adds or removes whitespace). Non-ws chars of the LOWERED text
      equal the summed token lengths, which is what the oracle and
      DuckDB twins measure (lower() can change length: 'İ' -> 'i̇').
    - ``wsc``: one extraction over the union vocabulary of the five
      language lists plus the quality-stopword and toxic-word lists,
      folded through a constant membership map into len(LANGS)+2
      counts ([..langs.., quality, toxic]). Each count equals its
      single-list regexp_count: any match spans exactly a whole
      whitespace-bounded member token (see word_alt_pattern).
    - ``symc``: the symbol count. Spark rewrites regexp_count to
      size(regexp_extract_all(...)), so it materializes the match
      array; symbols are sparse, so the array stays small.
    - ``dlf``: the duplicate-line fraction (NULL without lines).

    Fields are NULL-propagating for NULL text; rule_flags guards every
    content rule with ``text IS NOT NULL``."""
    t = F.col(text_col)
    map_sql, ext_pat = _wordset_fold_sql(cfg.stopwords, cfg.toxic_words)
    zero = F.array_repeat(F.lit(0), len(LANGS) + 2)

    def _from_lower(lo: Column) -> Column:
        cmap = F.expr(map_sql)
        wsc = F.aggregate(
            F.regexp_extract_all(lo, F.lit(ext_pat), 1),
            zero,
            lambda acc, tk: F.zip_with(
                acc, F.element_at(cmap, tk), lambda a, b: a + b
            ),
        )
        dlf = X.bind_once(
            X.lines(t),
            lambda lns: F.when(
                F.size(lns) > 0,
                (F.size(lns) - F.size(F.array_distinct(lns))).cast(
                    "double"
                )
                / F.size(lns),
            ),
        )
        return X.bind_once(
            X.tokens(lo, lowercase=False),
            lambda toks: F.struct(
                F.size(toks).alias("wc"),
                F.aggregate(
                    F.transform(toks, F.length),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                ).alias("nonws"),
                F.size(F.array_distinct(toks)).alias("udist"),
                F.regexp_count(t, F.lit(r"[^\p{L}\p{N}\s]")).alias(
                    "symc"
                ),
                dlf.alias("dlf"),
                wsc.alias("wsc"),
            ),
        )

    return X.bind_once(F.lower(t), _from_lower)


# the three rules that read only the text's length/emptiness: keep
# tests them before it evaluates page_stats
GATE_RULES: tuple[str, ...] = ("empty", "too_short", "too_long")


def rule_flags(
    cfg: RuleConfig, t: Column, s: Column
) -> dict[str, Column]:
    """name -> violation Column in RULE_NAMES order, over the text
    column ``t`` and its page_stats struct ``s`` (a column or a bound
    lambda variable). Flags may be NULL; callers coalesce to false."""
    n = len(LANGS)
    ln = F.length(t)
    wc = s["wc"]
    mwl = F.when(wc > 0, s["nonws"].cast("double") / wc)
    return {
        # dq_checker.py:291-304 (null %) + empty-string gate;
        # whitespace-ONLY docs are empty: rlike stops at the first
        # non-ws char (cheap for real docs); F.trim strips spaces
        # only, so '\n'/'\r'/'\t'-only docs would slip through
        "empty": t.isNull() | ~t.rlike(r"\S"),
        # nlp_analyzer.py:87-88; dq_checker.py:619-634
        "too_short": t.isNotNull() & (ln < cfg.min_chars),
        "too_long": t.isNotNull() & (ln > cfg.max_chars),
        "too_few_words": t.isNotNull() & (wc > 0) & (wc < cfg.min_words),
        "too_many_words": t.isNotNull() & (wc > cfg.max_words),
        # nlp_analyzer.py:99-122
        "mean_word_len": t.isNotNull()
        & ((mwl < cfg.min_mean_word_len) | (mwl > cfg.max_mean_word_len)),
        # nlp_analyzer.py:927-929
        "low_stopword": t.isNotNull()
        & (
            F.when(wc > 0, s["wsc"][n].cast("double") / wc)
            < cfg.min_stopword_ratio
        ),
        # dq_checker.py:543-557 reframed as symbol density
        "high_symbol": t.isNotNull()
        & (
            F.when(ln > 0, s["symc"].cast("double") / ln)
            > cfg.max_symbol_ratio
        ),
        # nlp_analyzer.py:852-885
        "high_repetition": t.isNotNull()
        & (
            F.when(wc > 0, F.lit(1.0) - s["udist"].cast("double") / wc)
            > cfg.max_repetition
        ),
        # dq_checker.py:985-998 applied within document
        "dup_lines": t.isNotNull() & (s["dlf"] > cfg.max_dup_line_fraction),
        # nlp_analyzer.py:887-900 langid; heuristic stand-in for fastText
        "lang": t.isNotNull()
        & ~lang_argmax(s["wsc"]).isin(*cfg.allowed_langs),
        # dq_checker.py:222-241 membership check as a deny-list
        "toxicity": t.isNotNull() & (s["wsc"][n + 1] > 0),
    }


# static (Column construction needs a live SparkSession; keep importable
# without one). Must stay in sync with rule_flags — pinned by a test.
RULE_NAMES: tuple[str, ...] = (
    "empty",
    "too_short",
    "too_long",
    "too_few_words",
    "too_many_words",
    "mean_word_len",
    "low_stopword",
    "high_symbol",
    "high_repetition",
    "dup_lines",
    "lang",
    "toxicity",
)
