"""Round-7 optimization pins: every rewrite that changed an operator's
internals keeps a value-equivalence test here, so a later regression
in the optimized form is caught against the straightforward form it
replaced."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.functions.wordlists import (
    LANGS,
    STOPWORDS,
    TOXIC_WORDS,
)
from data_quality_checker_spark.plans.rules import (
    RuleConfig,
    lang_argmax,
    page_stats,
    word_alt_pattern,
)


def _flat_pattern(words):
    return (
        r"(?:^|\s)(?:"
        + "|".join(re.escape(w) for w in words)
        + r")(?=\s|$)"
    )


TEXTS = [
    "the quick brown fox and the lazy dog",
    "el rapido zorro y el perro",
    "a an and as at ta aan ands themm",
    "der und die das nicht sie",
    "  the   the\tthe\nthe  ",
    "",
    None,
    "zai shang xia de le wo men hao",
    "toxic_slur_a word toxic_slur_ab",
    "une le la les et ou de dans",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_trie_pattern_counts_match_flat_alternation(docs):
    """The trie-structured word_alt_pattern must produce the same
    match count as the flat alternation it replaced, on every wordlist
    the engine ships (the lookahead makes every successful match span
    a whole token, so order/greediness cannot change the count)."""
    lists = [STOPWORDS[lang] for lang in LANGS] + [TOXIC_WORDS]
    lower = F.lower("text")
    exprs = []
    for i, wl in enumerate(lists):
        exprs.append(
            F.sum(F.regexp_count(lower, F.lit(word_alt_pattern(wl)))).alias(
                f"t{i}"
            )
        )
        exprs.append(
            F.sum(F.regexp_count(lower, F.lit(_flat_pattern(wl)))).alias(
                f"f{i}"
            )
        )
    row = docs.filter("text is not null").groupBy().agg(*exprs).collect()[0]
    for i in range(len(lists)):
        assert row[f"t{i}"] == row[f"f{i}"], i
    assert row["t0"] > 0  # the fixture actually exercises matches


def test_lang_argmax_matches_five_scan_form(docs):
    """The battery's language argmax (one union extraction folded into
    page_stats' wsc counts) must label every row exactly like the
    five-regexp-scan argmax it replaced."""
    lower = F.lower("text")
    scores = {
        lang: F.regexp_count(
            lower, F.lit(word_alt_pattern(STOPWORDS[lang]))
        )
        for lang in LANGS
    }
    best = F.greatest(*scores.values())
    ref = F.lit("und")
    for lang in reversed(LANGS):
        ref = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(ref)
    rows = (
        docs.filter("text is not null")
        .select(
            "doc_id",
            lang_argmax(page_stats(RuleConfig())["wsc"]).alias("opt"),
            ref.alias("ref"),
        )
        .collect()
    )
    assert rows and all(r["opt"] == r["ref"] for r in rows)


def test_scaled_partitions_bounds(spark):
    """scaled_partitions stays within [defaultParallelism, session
    shuffle partitions] and grows with the size estimate."""
    from data_quality_checker_spark import tuning

    df = spark.range(10)
    floor = spark.sparkContext.defaultParallelism
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = tuning.scaled_partitions(df)
    assert floor <= n <= max(cap, floor)
    # a forced huge estimate must clamp at the session cap
    big = tuning.scaled_partitions(df, target_bytes=1)
    assert big <= max(cap, floor)
    # adaptive_coalesce never changes results
    out = tuning.adaptive_coalesce(
        spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    )
    assert out.count() == 7


def test_simhash_vote_rule_unchanged(spark):
    """The ones*2 > n vote reformulation must pack the same sketch as
    the (2*bit-1) sum form on ties and non-ties."""
    from data_quality_checker_spark.operators.dedup import simhash64_agg

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "alpha alpha"),  # even token count -> tied votes
            (4, "single"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r["sh"] for r in simhash64_agg(df).collect()}
    assert rows[1] == rows[2]
    # reference: recompute votes in python with the old rule
    import ctypes

    def xxh(spark_df, tok):
        return spark_df.sparkSession.range(1).select(
            F.xxhash64(F.lit(tok))
        ).collect()[0][0]

    for doc, toks in [(3, ["alpha", "alpha"]), (4, ["single"])]:
        hs = [xxh(df, t) for t in toks]
        packed = 0
        for i in range(64):
            vote = sum(1 if (h >> i) & 1 else -1 for h in hs)
            if vote > 0:
                packed |= 1 << i
        packed = ctypes.c_long(packed).value
        assert rows[doc] == packed, doc


def test_duplicate_clusters_prev_label_convergence(spark):
    """The per-round _prev bookkeeping must not stop the propagation
    early: a long chain (diameter >> rounds-to-converge-one-hop) still
    collapses to one component."""
    from data_quality_checker_spark.operators.dedup import (
        duplicate_clusters,
        release_cache,
    )

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = duplicate_clusters(pairs)
    rows = out.collect()
    assert len(rows) == n + 1
    assert {r["cluster_id"] for r in rows} == {0}
    release_cache(out)


_KEPT = (
    "the quick brown fox jumps over the lazy dog and then the cat sat"
    " on the mat while the bird sang in the tree"
)
EDGE_ROWS = [
    None, "", "   ", "\t\n", "ab", "x" * 90000,
    "İstanbul BİR İKİ word here today maybe",
    "the cat and the dog sat on the mat with the hat",
    "el gato y el perro es bueno para la casa y la vida",
    "le chat et le chien est dans la maison aujourd'hui",
    "zzz qqq ppp mmm nnn", "a a a a a a a a a a a a",
    "line one\nline one\nline one\nline two",
    "!!!! @@@@ #### $$$$ %%%%",
    "  leading ws then the words of the doc here  ",
    "the quick brown fox damn jumps over the lazy dog today",
    "word " * 30000, "short words only here now then",
    _KEPT, _KEPT + " toxic_slur_a",
]


def _assert_battery_matches_oracle(spark, texts, cfg):
    """Every rule_* column, fired_rules and keep equal
    plans/oracle.fired_rules row for row."""
    from data_quality_checker_spark.plans import oracle as O
    from data_quality_checker_spark.plans.rules import RULE_NAMES
    from data_quality_checker_spark.plans.verdict import (
        STATS_COL,
        with_rule_flags,
        with_verdict,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    scored = with_verdict(with_rule_flags(df, cfg), cfg)
    assert STATS_COL not in scored.columns
    got = scored.collect()
    assert len(got) == len(texts)
    for r in got:
        want = O.fired_rules(texts[r["doc_id"]], cfg)
        flags = [n for n in RULE_NAMES if r[f"rule_{n}"]]
        assert (flags, list(r["fired_rules"]), r["keep"]) == (
            want,
            want,
            not want,
        ), (r["doc_id"], (texts[r["doc_id"]] or "")[:60])


def test_battery_flags_match_oracle_edge_rows(spark):
    """The one-struct battery pinned per flag, not just per keep, on
    every edge shape: NULL/empty/whitespace text, length gates,
    multi-lang, unicode lowercasing that changes length, dup lines,
    toxicity, and a clean page that is kept."""
    from data_quality_checker_spark.plans import oracle as O
    from data_quality_checker_spark.plans.rules import RULE_NAMES

    fired = [O.fired_rules(t, RuleConfig()) for t in EDGE_ROWS]
    assert {n for f in fired for n in f} == set(RULE_NAMES)
    assert [] in fired
    _assert_battery_matches_oracle(spark, EDGE_ROWS, RuleConfig())


def test_battery_custom_config_matches_oracle(spark):
    """The fused-extraction membership map is cached per
    (stopwords, toxic_words) — a CUSTOM RuleConfig must produce its
    own map and still match the oracle flag for flag."""
    cfg = RuleConfig(
        stopwords=("lorem", "ipsum", "dolor"),
        toxic_words=("badword", "awful"),
        min_stopword_ratio=0.05,
        allowed_langs=("en", "es"),
    )
    texts = [
        "lorem ipsum dolor sit amet lorem ipsum here we go now",
        "badword in the middle of the otherwise fine text here",
        "no stop words at all in this particular document text",
        "el gato y el perro es bueno para la casa y la vida",
        None, "",
    ] + EDGE_ROWS
    _assert_battery_matches_oracle(spark, texts, cfg)


def test_battery_builder_rebuilds_on_new_gateway(spark, monkeypatch):
    """The cached battery Columns are keyed on the live py4j gateway:
    a relaunched gateway gets freshly built Columns, never handles
    from the torn-down one."""
    from pyspark import SparkContext

    from data_quality_checker_spark.plans import verdict as V

    cfg = RuleConfig()
    first = V._battery(cfg, "text")
    assert V._battery(cfg, "text") is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    rebuilt = V._battery(cfg, "text")
    assert rebuilt is not first
    assert V._battery(cfg, "text") is rebuilt
    monkeypatch.undo()
    assert V._battery(cfg, "text") is first


_BATTERY_MARK = r"[^\p{L}\p{N}\s]"  # page_stats' symbol count


@pytest.mark.parametrize("langid_impl", ["sql", "udf"])
def test_one_battery_evaluation_per_row(spark, langid_impl):
    """score_pages evaluates the stats struct once per row in both
    consumer shapes: the written projection (rule_* columns and keep
    share it), and filter(keep) alone, where it must come after the
    three length gates so pages they drop never pay for it. The
    langid-UDF branch overrides rule_lang and must keep both
    properties."""
    from data_quality_checker_spark.plans import synth
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        score_pages,
    )

    scored = score_pages(
        synth.pages_df(spark, 20, seed=3),
        PipelineConfig(langid_impl=langid_impl),
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert plan(scored).count(_BATTERY_MARK) == 1
    filtered = plan(scored.filter("keep").select("url"))
    assert filtered.count(_BATTERY_MARK) == 1
    (cond,) = [
        ln
        for ln in filtered.splitlines()
        if "Filter" in ln and _BATTERY_MARK in ln
    ]
    at = cond.index(_BATTERY_MARK)
    for gate in (r"RLIKE(text#", ") >= 80)", ") <= 20000)"):
        assert -1 < cond.find(gate) < at, gate


# ---------------------------------------------------------------------------
# Plan-regression guard (round-7): pin shuffle/join/window counts for the
# most expensive queries so a plan regression (new SortMergeJoin, extra
# Exchange, lost partitioning) fails CI instead of landing silently until
# the next manual PLANS.md regeneration.
# ---------------------------------------------------------------------------

_PLAN_PINS = {
    "pricing_summary": dict(exchanges=1, smj=0, window=0),
    "shipping_priority": dict(exchanges=1, smj=0, window=0),
    "quality_verdict": dict(exchanges=0, smj=0, window=0),
    "tfidf_top1": dict(exchanges=8, smj=0, window=1),
    "minhash_neardups": dict(exchanges=10, smj=1, window=0),
    "simhash_neardups": dict(exchanges=12, smj=1, window=0),
    # ks_drift: 10 -> 13 exchanges + 1 window when prefix_sums folded
    # its construction-time approxQuantile job and offsets collect
    # INTO the plan (round-7): the new nodes are the in-plan
    # percentile aggregate, the offsets branch, and its bounded
    # O(partitions)-row window — work that previously ran as separate
    # uncounted driver jobs, now visible to (and guarded by) this pin
    "ks_drift": dict(exchanges=13, smj=0, window=1),
    # redundancy_structure/top_bigrams/ann_topk: +1 exchange each is
    # the DELIBERATE parallel_input scan floor (single-row-group
    # fixture inputs otherwise run their heaviest map in one task —
    # measured faster with the small repartition; identity at scale)
    "redundancy_structure": dict(exchanges=6, smj=0, window=0),
    "top_bigrams": dict(exchanges=2, smj=0, window=0),
    "sessionization": dict(exchanges=1, smj=0, window=1),
    "decontamination": dict(exchanges=3, smj=0, window=0),
    "ann_topk": dict(exchanges=2, smj=0, window=1),
    "line_dedup": dict(exchanges=2, smj=0, window=0),
}


def test_plan_shape_pins(spark):
    """Each pinned query's physical plan must not GROW new shuffles,
    sort-merge joins or window operators (equal-or-fewer passes; a
    decrease is an improvement, an increase is a regression)."""
    import re
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    failures = []
    for name, pins in _PLAN_PINS.items():
        df = qs[name](spark, "/root/testdata/sf0.01")
        p = df._jdf.queryExecution().executedPlan().toString()
        got = dict(
            exchanges=len(
                re.findall(
                    r"Exchange (?:hashpartitioning|rangepartitioning|"
                    r"SinglePartition|RoundRobinPartitioning)",
                    p,
                )
            ),
            smj=p.count("SortMergeJoin"),
            window=len(re.findall(r"\bWindow\b(?!GroupLimit)", p)),
        )
        for dep in getattr(df, "_cached_deps", ()):
            dep.unpersist()
        for k, bound in pins.items():
            if got[k] > bound:
                failures.append(f"{name}.{k}: {got[k]} > pinned {bound}")
    assert not failures, failures


def test_rollback_skips_committed_legacy_prefix_batch(spark, tmp_path):
    """Rolling back torn batch '2024' must not delete legacy-scheme
    files of a COMMITTED batch '2024-part-1' whose legacy filenames
    ('batch-2024-part-1-part-0') match the torn id's legacy glob
    (round-7 advisory fix)."""
    import os

    from data_quality_checker_spark.operators import minhash_index as MI

    root = str(tmp_path / "idx")
    for table in MI._TABLES:
        os.makedirs(f"{root}/{table}", exist_ok=True)
        # torn batch's own legacy file: must be removed
        with open(f"{root}/{table}/batch-2024-part-0", "w") as f:
            f.write("torn")
        # committed legacy batch extending the torn id: must survive
        with open(f"{root}/{table}/batch-2024-part-1-part-0", "w") as f:
            f.write("committed")
    os.makedirs(f"{root}/_appends", exist_ok=True)
    open(f"{root}/_appends/2024.begin", "w").write("")
    open(f"{root}/_appends/2024-part-1.begin", "w").write("")
    open(f"{root}/_appends/2024-part-1.commit", "w").write("")

    MI._rollback_batch(spark, root, "2024")
    for table in MI._TABLES:
        assert not os.path.exists(f"{root}/{table}/batch-2024-part-0")
        assert os.path.exists(
            f"{root}/{table}/batch-2024-part-1-part-0"
        ), table
