"""End-to-end pipeline tests: golden-label agreement (F1), byte-identical
scrub, latest-capture dedup, idempotent resume, UDF/SQL langid parity,
and html column pruning (SURVEY.md §5.2)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.plans import oracle as O
from data_quality_checker_spark.plans import synth
from data_quality_checker_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
    score_pages,
)
from data_quality_checker_spark.plans.rules import RuleConfig
from data_quality_checker_spark.plans.udfs import langid_udf

N_PAGES = 1500


@pytest.fixture(scope="module")
def pages(spark):
    return synth.pages_df(spark, N_PAGES, seed=42).cache()


@pytest.fixture(scope="module")
def golden():
    """Oracle labels for the latest capture of each url."""
    raw = synth.make_pages(N_PAGES, seed=42)
    latest: dict[str, dict] = {}
    for p in raw:
        if p["url"] not in latest or p["warc_ts"] > latest[p["url"]]["warc_ts"]:
            latest[p["url"]] = p
    return {
        url: O.label_page(p["text"], RuleConfig())
        for url, p in latest.items()
    }


@pytest.fixture(scope="module")
def scored(spark, pages):
    return score_pages(pages, PipelineConfig()).cache()


def test_keep_f1_and_fired_rules_match_oracle(scored, golden):
    rows = scored.select("url", "keep", "fired_rules").collect()
    assert len(rows) == len(golden)  # dedup produced one row per url
    tp = fp = fn = mismatched = 0
    for r in rows:
        g = golden[r["url"]]
        if r["keep"] and g["keep"]:
            tp += 1
        elif r["keep"] and not g["keep"]:
            fp += 1
        elif not r["keep"] and g["keep"]:
            fn += 1
        if list(r["fired_rules"]) != g["fired_rules"]:
            mismatched += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1} fp={fp} fn={fn}"
    assert mismatched == 0, f"{mismatched} fired_rules mismatches"
    # sanity: the corpus actually exercises both verdicts
    keeps = sum(1 for g in golden.values() if g["keep"])
    assert 0 < keeps < len(golden)


def test_scrubbed_text_byte_identical(scored, golden):
    rows = scored.select("url", "scrubbed_text").collect()
    for r in rows:
        g = golden[r["url"]]["scrubbed"]
        got = r["scrubbed_text"]
        if g is None:
            assert got is None
        else:
            assert (
                hashlib.sha256(got.encode()).hexdigest()
                == hashlib.sha256(g.encode()).hexdigest()
            ), f"scrub mismatch for {r['url']}"
    # sanity: PII actually present and scrubbed somewhere
    n_scrubbed = sum(
        1
        for g in golden.values()
        if g["scrubbed"] and "<EMAIL>" in g["scrubbed"]
    )
    assert n_scrubbed > 0


def test_latest_capture_dedup(spark, pages, scored):
    dup_urls = (
        pages.groupBy("url").count().filter("count > 1").select("url")
    )
    n_dups = dup_urls.count()
    assert n_dups > 0  # synth injects duplicate captures
    joined = scored.join(dup_urls, "url", "semi").join(
        pages.groupBy("url").agg(F.max("warc_ts").alias("max_ts")), "url"
    )
    assert joined.filter(F.col("warc_ts") != F.col("max_ts")).count() == 0


def test_dedup_on_canonical_url(spark):
    """cfg.dedup_on_canonical_url collapses utm/param/www variants of
    one page to the single latest capture (winner keeps its ORIGINAL
    url); default raw-url grouping keeps them all."""
    import datetime as dt

    t = lambda h: dt.datetime(2026, 1, 1, h)  # noqa: E731
    rows = [
        ("https://site.com/a?utm_source=x", t(1), None, "one", "en"),
        ("https://site.com/a?utm_source=y", t(3), None, "one v2", "en"),
        ("https://www.site.com/a", t(2), None, "one old", "en"),
        ("https://site.com/b", t(1), None, "two", "en"),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string",
    )
    on = score_pages(
        df, PipelineConfig(dedup_on_canonical_url=True)
    ).select("url").collect()
    assert sorted(r["url"] for r in on) == [
        "https://site.com/a?utm_source=y",  # latest capture, raw url
        "https://site.com/b",
    ]
    off = score_pages(df, PipelineConfig())
    assert off.count() == 4


def test_langid_udf_matches_sql_impl(spark, pages):
    from data_quality_checker_spark.functions import text as X

    df = pages.select(
        langid_udf("text").alias("udf_lang"),
        X.langid_best("text").alias("sql_lang"),
    )
    assert df.filter(F.col("udf_lang") != F.col("sql_lang")).count() == 0


def test_langid_udf_branch_keep_matches_oracle(pages, golden):
    """The langid-UDF branch replaces rule_lang and gates keep on it;
    its labels equal the SQL ones on this corpus, so keep and
    fired_rules must equal the oracle's, written and under
    filter(keep)."""
    scored = score_pages(pages, PipelineConfig(langid_impl="udf"))
    rows = scored.select("url", "keep", "fired_rules").collect()
    assert len(rows) == len(golden)
    for r in rows:
        g = golden[r["url"]]
        assert (r["keep"], list(r["fired_rules"])) == (
            g["keep"],
            g["fired_rules"],
        ), r["url"]
    kept = sum(1 for g in golden.values() if g["keep"])
    assert scored.filter("keep").count() == kept


def test_resume_is_idempotent(spark, pages, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("full"))
    resumed_dir = str(tmp_path_factory.mktemp("resumed"))
    cfg = PipelineConfig(num_buckets=8)

    run_pipeline(spark, pages, full_dir, cfg, run_id="uninterrupted")

    # killed after 3 partitions, then resumed
    r1 = run_pipeline(
        spark, pages, resumed_dir, cfg, run_id="part1", limit_partitions=3
    )
    assert len(r1["processed_partitions"]) == 3
    r2 = run_pipeline(spark, pages, resumed_dir, cfg, run_id="part2")
    assert set(r1["processed_partitions"]).isdisjoint(
        r2["processed_partitions"]
    )
    # third run: nothing left
    r3 = run_pipeline(spark, pages, resumed_dir, cfg, run_id="part3")
    assert r3["processed_partitions"] == []

    a = spark.read.parquet(f"{full_dir}/scored")
    b = spark.read.parquet(f"{resumed_dir}/scored")
    assert a.count() == b.count()
    # content equality via order-insensitive checksum
    def checksum(df):
        return df.select(
            F.sum(
                F.xxhash64(
                    "url", "keep", "scrubbed_text", "partition_id"
                ).cast("decimal(38,0)")
            ).alias("c")
        ).collect()[0]["c"]

    assert checksum(a) == checksum(b)
    # metrics: same totals across the two protocols
    ma = spark.read.parquet(f"{full_dir}/metrics")
    mb = spark.read.parquet(f"{resumed_dir}/metrics")
    assert (
        ma.agg(F.sum("rows_scanned"), F.sum("rows_kept")).collect()
        == mb.agg(F.sum("rows_scanned"), F.sum("rows_kept")).collect()
    )


def test_html_never_read_by_scoring(spark, pages, tmp_path_factory):
    """Column pruning: the scoring plan over a parquet source must not
    scan the html binary payload (SURVEY.md §4.2)."""
    d = str(tmp_path_factory.mktemp("pages_pq"))
    pages.write.mode("overwrite").parquet(d)
    src = spark.read.parquet(d)
    plan = (
        score_pages(src, PipelineConfig())
        .drop("html")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema" in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "html" not in line, line


def test_rule_names_static_tuple_in_sync(spark):
    from data_quality_checker_spark.plans.rules import (
        RULE_NAMES,
        RuleConfig,
        rule_flags,
    )

    flags = rule_flags(RuleConfig(), F.col("text"), F.col("_rule_stats"))
    assert tuple(flags.keys()) == RULE_NAMES


def test_host_metrics_salted_equals_direct(spark, pages, scored):
    from data_quality_checker_spark.plans.pipeline import (
        host_metrics_salted,
    )

    salted = {
        r["host"]: (r["rows_scanned"], r["rows_kept"])
        for r in host_metrics_salted(scored, salt_buckets=8).collect()
    }
    direct = {
        r["host"]: (r["n"], r["k"])
        for r in scored.groupBy(
            F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        )
        .collect()
    }
    assert salted == direct
    # the synth corpus is Zipf-skewed: the top host dominates
    top = max(v[0] for v in direct.values())
    assert top > sum(v[0] for v in direct.values()) * 0.3


def test_rule_drift_report(spark, pages, tmp_path_factory):
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        partition_metrics,
        rule_drift_report,
        score_pages,
    )
    from data_quality_checker_spark.plans.rules import RuleConfig

    cfg_loose = PipelineConfig(num_buckets=4)
    cfg_strict = PipelineConfig(
        num_buckets=4, rules=RuleConfig(min_chars=10_000)
    )
    m_old = partition_metrics(score_pages(pages, cfg_loose), "a")
    m_new = partition_metrics(score_pages(pages, cfg_strict), "b")
    drift = {
        r["rule"]: r for r in rule_drift_report(m_old, m_new).collect()
    }
    assert drift["too_short"]["abs_delta"] > 0.5  # nearly all docs now fail
    assert drift["toxicity"]["abs_delta"] < 1e-9  # untouched rule stable


def test_extract_text_byte_identity_and_realistic_html(spark):
    from data_quality_checker_spark.plans import synth
    from data_quality_checker_spark.plans.extract import (
        extract_text_expr,
        with_extracted_text,
    )

    # synthetic corpus: markup merely wraps the text -> extraction must
    # reproduce the stored text byte-for-byte on every row
    pages = synth.pages_df(spark, 300, seed=21)
    mism = (
        with_extracted_text(pages, "html", "extracted")
        .filter(
            ~(
                (F.col("extracted") == F.col("text"))
                | (F.col("extracted").isNull() & F.col("text").isNull())
            )
        )
        .count()
    )
    assert mism == 0

    # realistic page: scripts/styles/comments dropped, entities decoded,
    # tags become separators, whitespace normalized
    html = (
        b"<html><head><title>t</title></head><body>"
        b"<script>var x = '<p>no</p>';</script>"
        b"<style>p { color: red }</style>"
        b"<!-- hidden -->"
        b"<p>Tom &amp; Jerry</p><p>2 &lt; 3</p></body></html>"
    )
    df = spark.createDataFrame([(html,)], "html binary")
    got = df.select(
        extract_text_expr("html", sep=" ", normalize_whitespace=True).alias(
            "t"
        )
    ).first()["t"]
    assert got == "Tom & Jerry 2 < 3"


def test_near_dup_pipeline_stage(spark):
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        score_pages,
        with_near_dup_verdict,
    )
    from data_quality_checker_spark.plans import synth

    base = synth.pages_df(spark, 120, seed=31)
    # plant near-dup captures of one page under three distinct urls
    src = base.filter("text is not null").orderBy("url").first()
    dup_rows = [
        (f"https://dup{i}.example.com/x", src["warc_ts"], src["html"],
         src["text"] + f" tail{i}", src["lang"])
        for i in range(3)
    ]
    pages = base.unionByName(
        spark.createDataFrame(dup_rows, base.schema)
    )
    cfg = PipelineConfig(near_dedup=True, near_dedup_threshold=0.7)
    out = with_near_dup_verdict(score_pages(pages, cfg), cfg)
    assert {"near_dup_of", "keep_final"} <= set(out.columns)
    dups = out.filter(F.col("url").like("https://dup%")).collect()
    flagged = [r for r in dups if r["near_dup_of"] is not None]
    if any(r["keep"] for r in dups):  # only kept docs participate
        # of the near-identical cluster, every member but the canonical
        # min-url is flagged and keep_final goes false for losers
        kept_dups = [r for r in dups if r["keep"]]
        assert len(flagged) >= len(kept_dups) - 1
        for r in flagged:
            assert r["keep_final"] is False and r["keep"] is True
    # untouched docs: keep_final == keep
    clean = out.filter(F.col("near_dup_of").isNull())
    assert clean.filter(F.col("keep_final") != F.col("keep")).count() == 0


def test_semantic_dup_pipeline_stage(spark):
    """with_semantic_dup_verdict: exact-clone pages under distinct
    urls embed identically (hashed TF-IDF), get sem_dup_of = the
    canonical min-url, and keep_final goes false for the losers;
    untouched docs keep keep_final == keep; composing AFTER the
    lexical stage folds both verdicts. Deterministic across runs."""
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        score_pages,
        with_near_dup_verdict,
        with_semantic_dup_verdict,
    )
    from data_quality_checker_spark.plans import synth

    base = synth.pages_df(spark, 120, seed=33)
    src = (
        base.filter("text is not null").orderBy("url").first()
    )
    clone_rows = [
        (f"https://clone{i}.example.com/x", src["warc_ts"], src["html"],
         src["text"], src["lang"])
        for i in range(3)
    ]
    pages = base.unionByName(
        spark.createDataFrame(clone_rows, base.schema)
    )
    cfg = PipelineConfig(semantic_dedup=True, semantic_dedup_tau=0.999)
    out = with_semantic_dup_verdict(score_pages(pages, cfg), cfg)
    assert {"sem_dup_of", "keep_final"} <= set(out.columns)
    dups = out.filter(F.col("url").like("https://clone%")).collect()
    if any(r["keep"] for r in dups):
        kept_dups = [r for r in dups if r["keep"]]
        flagged = [r for r in kept_dups if r["sem_dup_of"] is not None]
        # identical text => cosine 1.0 pairs; all but the canonical
        # member (min url across the component, possibly src itself)
        assert len(flagged) >= len(kept_dups) - 1
        for r in flagged:
            assert r["keep_final"] is False and r["keep"] is True
    clean = out.filter(F.col("sem_dup_of").isNull())
    assert clean.filter(F.col("keep_final") != F.col("keep")).count() == 0
    # deterministic: same loser set on a second run
    again = with_semantic_dup_verdict(score_pages(pages, cfg), cfg)
    a = {r["url"] for r in out.filter("sem_dup_of is not null").collect()}
    b = {r["url"] for r in again.filter("sem_dup_of is not null").collect()}
    assert a == b
    # composition: lexical stage first, then semantic — keep_final
    # requires surviving BOTH
    cfg2 = PipelineConfig(
        near_dedup=True, near_dedup_threshold=0.7,
        semantic_dedup=True, semantic_dedup_tau=0.999,
    )
    both = with_semantic_dup_verdict(
        with_near_dup_verdict(score_pages(pages, cfg2), cfg2), cfg2
    )
    assert {"near_dup_of", "sem_dup_of", "keep_final"} <= set(both.columns)
    loser = both.filter(
        F.col("near_dup_of").isNotNull() | F.col("sem_dup_of").isNotNull()
    )
    assert loser.filter(F.col("keep_final")).count() == 0


def test_semantic_stage_sketches_only_current_survivors(spark):
    """A doc already dropped upstream (keep_final=False, keep=True)
    must not enter the semantic sketch set: as the min url of its
    component it would win the canonical draw and drop the
    component's only surviving copy with it — silent data loss
    (round-6 review finding)."""
    from data_quality_checker_spark.plans import synth
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        score_pages,
        with_semantic_dup_verdict,
    )

    cfg = PipelineConfig(semantic_dedup=True, semantic_dedup_tau=0.999)
    base = synth.pages_df(spark, 60, seed=5)
    src = (
        score_pages(base, cfg)
        .filter("keep and text is not null")
        .orderBy("url")
        .first()
    )
    # remove the source so exactly two urls carry this text: the
    # pre-dropped min-url copy and the one genuine survivor
    dropped_url = "https://aaa.example.com/x"
    survivor_url = "https://zzz.example.com/x"
    pages = base.filter(F.col("url") != src["url"]).unionByName(
        spark.createDataFrame(
            [
                (dropped_url, src["warc_ts"], src["html"], src["text"],
                 src["lang"]),
                (survivor_url, src["warc_ts"], src["html"], src["text"],
                 src["lang"]),
            ],
            base.schema,
        )
    )
    scored = score_pages(pages, cfg).withColumn(
        "keep_final", F.col("keep") & (F.col("url") != dropped_url)
    )
    out = with_semantic_dup_verdict(scored, cfg)
    z = out.filter(F.col("url") == survivor_url).first()
    assert z["sem_dup_of"] is None and z["keep_final"] is True, z
    a = out.filter(F.col("url") == dropped_url).first()
    assert a["keep_final"] is False
    # the text still has exactly one surviving copy in the corpus
    assert (
        out.filter(
            (F.col("text") == src["text"]) & F.col("keep_final")
        ).count()
        == 1
    )


def test_near_dup_resume_and_corpus_wide_replay(spark, pages, tmp_path_factory):
    """Kill between scoring legs with near_dedup on, resume, then run
    the documented corpus-wide near-dedup replay over the read-back
    scored table: its verdict must equal the uninterrupted run's, and
    the sketch tables must exist as parquet under out_dir (resumable,
    nothing cached)."""
    import os

    from data_quality_checker_spark.plans.pipeline import with_near_dup_verdict

    full_dir = str(tmp_path_factory.mktemp("nd_full"))
    resumed_dir = str(tmp_path_factory.mktemp("nd_resumed"))
    cfg = PipelineConfig(num_buckets=8, near_dedup=True,
                         near_dedup_threshold=0.7)

    run_pipeline(spark, pages, full_dir, cfg, run_id="full")
    assert os.path.exists(f"{full_dir}/near_dedup/signatures")

    r1 = run_pipeline(spark, pages, resumed_dir, cfg, run_id="p1",
                      limit_partitions=3)
    r2 = run_pipeline(spark, pages, resumed_dir, cfg, run_id="p2")
    assert set(r1["processed_partitions"]).isdisjoint(r2["processed_partitions"])

    # corpus-wide replay over the resumed dir's scored table
    scored = spark.read.parquet(f"{resumed_dir}/scored").drop(
        "near_dup_of", "keep_final"
    )
    replay = with_near_dup_verdict(
        scored, cfg, storage_path=f"{resumed_dir}/near_dedup_corpus"
    )
    want = {
        r["url"]: (r["near_dup_of"], r["keep_final"])
        for r in spark.read.parquet(f"{full_dir}/scored")
        .select("url", "near_dup_of", "keep_final").collect()
    }
    got = {
        r["url"]: (r["near_dup_of"], r["keep_final"])
        for r in replay.select("url", "near_dup_of", "keep_final").collect()
    }
    assert got == want


def test_all_optional_stages_compose(spark, tmp_path_factory):
    """run_pipeline with every optional stage enabled (url prefilter +
    near-dedup + decontamination): stages compose in order, keep_final
    reflects all three, and a replay over the same out_dir is a no-op
    (lineage resume) with byte-identical scored output."""
    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    d = str(tmp_path_factory.mktemp("allstages"))
    pages = synth.pages_df(spark, 250, seed=53)
    eval_df = (
        pages.filter("text is not null").select("text").limit(2)
    )
    cfg = PipelineConfig(
        num_buckets=8,
        near_dedup=True,
        near_dedup_threshold=0.7,
        url_prefilter=True,
        max_docs_per_host=500,
    )
    r1 = run_pipeline(
        spark, pages, f"{d}/out", cfg, decontam_eval=eval_df
    )
    assert r1["processed_partitions"]
    scored = spark.read.parquet(f"{d}/out/scored")
    cols = set(scored.columns)
    assert {"keep", "near_dup_of", "contaminated", "keep_final"} <= cols
    # keep_final == keep AND not near-dup loser AND not contaminated
    bad = scored.filter(
        F.col("keep_final")
        != (
            F.col("keep")
            & F.col("near_dup_of").isNull()
            & ~F.col("contaminated")
        )
    )
    assert bad.count() == 0
    m = spark.read.parquet(f"{d}/out/metrics")
    assert {"drop_contaminated", "rows_scanned"} <= set(m.columns)

    # replay: everything already done -> skipped, output unchanged
    before = sorted(
        (r["url"], r["keep_final"]) for r in scored.collect()
    )
    r2 = run_pipeline(
        spark, pages, f"{d}/out", cfg, decontam_eval=eval_df
    )
    assert r2["processed_partitions"] == [] and r2["skipped"] > 0
    after = sorted(
        (r["url"], r["keep_final"])
        for r in spark.read.parquet(f"{d}/out/scored").collect()
    )
    assert before == after


def test_same_timestamp_capture_dedup_is_deterministic(spark):
    """Two captures of one url with EQUAL warc_ts must resolve to the
    same kept text on every run and partitioning (review finding: the
    old tie-break was constant within the window)."""
    import datetime

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("https://x.example/p", ts, bytearray(b"<a>"), "alpha text", "en"),
        ("https://x.example/p", ts, bytearray(b"<b>"), "beta text", "en"),
    ]
    base = synth.pages_df(spark, 40, seed=3)
    extra = spark.createDataFrame(rows, base.schema)
    kept = set()
    for nparts in (1, 7):
        pages = base.unionByName(extra).repartition(nparts)
        out = score_pages(pages, PipelineConfig())
        kept.add(
            out.filter(F.col("url") == "https://x.example/p")
            .select("text")
            .collect()[0]["text"]
        )
    assert len(kept) == 1  # same winner regardless of partitioning


def test_url_prefilter_keeps_null_urls(spark):
    """Null-url rows must flow through the prefilter to be counted by
    scoring, not vanish via filter(~NULL)."""
    from data_quality_checker_spark.plans.pipeline import (
        with_url_prefilter,
    )

    base = synth.pages_df(spark, 30, seed=7)
    with_null = base.unionByName(
        base.limit(1).withColumn("url", F.lit(None).cast("string"))
    )
    out = with_url_prefilter(with_null)
    assert out.filter(F.col("url").isNull()).count() == 1
