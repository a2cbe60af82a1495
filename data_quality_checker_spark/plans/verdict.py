"""Verdict assembly: page stats -> rule_* flags -> fired_rules + keep.

The battery is evaluated once per page. with_rule_flags puts the
rules.page_stats struct in the hidden ``_rule_stats`` column and
derives the 12 rule_* flags from it; with_verdict builds fired_rules
from the flags and ``keep`` from the same struct, then drops it. The
per-rule boolean columns (null-safe, coalesced to false) stay, so the
metrics stage aggregates rule-level drop counts without re-evaluating
rules (generalizes generate_report, dq_checker.py:33-45).
"""

from __future__ import annotations

from functools import lru_cache, reduce, wraps
from operator import or_

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_checker_spark.functions.text import bind_once
from data_quality_checker_spark.plans.rules import (
    GATE_RULES,
    RULE_NAMES,
    RuleConfig,
    page_stats,
    rule_flags,
)

RULE_PREFIX = "rule_"
STATS_COL = "_rule_stats"


def _per_gateway(build):
    """lru_cache for Column builders, keyed on the live py4j gateway as
    well as the arguments. Building the battery costs hundreds of py4j
    round-trips, so it is built once per (cfg, text_col); but a Column
    is a JVM handle, and one cached from a gateway that was torn down
    and relaunched in-process would fail with opaque py4j errors."""
    cached = lru_cache(maxsize=32)(lambda gateway, *args: build(*args))

    @wraps(build)
    def builder(*args):
        return cached(SparkContext._gateway, *args)

    builder.cache_clear = cached.cache_clear
    return builder


@_per_gateway
def _battery(cfg: RuleConfig, text_col: str):
    """(stats, rule_* columns, fired_rules, keep)."""
    t = F.col(text_col)
    flags = rule_flags(cfg, t, F.col(STATS_COL))
    rule_cols = tuple(
        (f"{RULE_PREFIX}{name}", F.coalesce(e, F.lit(False)))
        for name, e in flags.items()
    )
    fired = F.array_compact(
        F.array(
            *[F.when(F.col(f"{RULE_PREFIX}{n}"), F.lit(n)) for n in RULE_NAMES]
        )
    )

    def content_fired(s: Column) -> Column:
        return reduce(
            or_,
            [
                F.coalesce(e, F.lit(False))
                for name, e in rule_flags(cfg, t, s).items()
                if name not in GATE_RULES
            ],
        )

    # the gates first: codegen's OR short-circuits, so under a
    # filter(keep) a page they drop never evaluates the stats. The
    # struct is read through ONE bind_once reference, so when the
    # rule_* columns are pruned it inlines into keep (and any pushed
    # filter) exactly once instead of once per flag: FilterExec has no
    # common-subexpression elimination.
    keep = ~(
        reduce(or_, [flags[n] for n in GATE_RULES])
        | F.coalesce(bind_once(F.col(STATS_COL), content_fired), F.lit(False))
    )
    return page_stats(cfg, text_col), rule_cols, fired, keep


def with_rule_flags(
    df: DataFrame, cfg: RuleConfig | None = None, text_col: str = "text"
) -> DataFrame:
    """Adds the 12 rule_* flags (RULE_NAMES order), all read from one
    page_stats struct evaluated once per page. The struct stays in
    ``_rule_stats`` for with_verdict, which drops it."""
    stats, rule_cols, *_ = _battery(cfg or RuleConfig(), text_col)
    return df.withColumn(STATS_COL, stats).withColumns(dict(rule_cols))


def with_verdict(
    df: DataFrame, cfg: RuleConfig | None = None, text_col: str = "text"
) -> DataFrame:
    """Adds fired_rules (array<string>, rule order) and keep (bool), and
    drops ``_rule_stats``. ``cfg`` must be the one given to
    with_rule_flags.

    keep equals size(fired_rules) == 0 but reads the stats struct, not
    the flags, so a filter(keep)-only consumer prunes fired_rules and
    every rule_* column and evaluates the battery once, only for pages
    past the three length gates. A caller that overrides a rule_*
    column after with_rule_flags gates keep on it itself, as the
    langid-UDF pipeline branch does."""
    _, _, fired, keep = _battery(cfg or RuleConfig(), text_col)
    return (
        df.withColumn("fired_rules", fired)
        .withColumn("keep", keep)
        .drop(STATS_COL)
    )
