"""End-to-end pipeline: scan -> [url prefilter] -> dedup ->
[c4 line clean] -> score -> [gopher signals] -> scrub -> verdict ->
[near-dedup] -> [decontaminate] -> write scored output + metrics +
lineage, resumable per partition. Bracketed stages
are opt-in (PipelineConfig / run_pipeline kwargs / CLI flags) and
ordered cheapest-first: url-only predicates run before any text is
parsed, and per-doc sketching/n-gram stages run only over rows the
rules kept.

Lifecycle (vs SURVEY.md §3.2): ONE lazy DAG per run — Catalyst fuses
the whole rule battery + scrub into a single projection over the scan;
the only shuffles are the url-dedup window and the final metrics
aggregation (both keyed by partition-friendly columns). The reference
executes one full pandas pass per check.

Resume protocol (north rule): a lineage table keyed by
(partition_id, run domain) records completed partitions; a re-run
anti-joins lineage and processes only the remainder, writing output via
dynamic partition overwrite so replays are idempotent byte-for-byte.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_quality_checker_spark.functions.wordlists import LANGS
from data_quality_checker_spark.plans.rules import RULE_NAMES, RuleConfig
from data_quality_checker_spark.plans.scrub import with_scrub
from data_quality_checker_spark.plans.udfs import langid_udf, perplexity_udf
from data_quality_checker_spark.plans.verdict import (
    RULE_PREFIX,
    with_rule_flags,
    with_verdict,
)
from data_quality_checker_spark.sources.io import bucket_id, write_partitioned


@dataclass(frozen=True)
class PipelineConfig:
    rules: RuleConfig = field(default_factory=RuleConfig)
    num_buckets: int = 64
    dedup_latest_capture: bool = True
    # group capture-dedup by canonical_url(url) instead of raw url:
    # utm-tracked / param-shuffled / fragment variants of one page
    # collapse to a single kept capture (winner keeps its ORIGINAL
    # url — byte-identity of url-keyed outputs is untouched). Off by
    # default: raw-url grouping is the reference-faithful contract.
    dedup_on_canonical_url: bool = False
    # "sql" = pure-Catalyst heuristic langid; "udf" = pandas-UDF path
    # (fastText-ready). Both produce the same labels in this sandbox.
    langid_impl: str = "sql"
    # trained langid artifact — one of the repo's gzip-json formats
    # (plans/langid char-ngram multinomial or the wordlist stand-in;
    # models.load_langid_model rejects anything else with an
    # actionable error). When set, langid_impl "udf" routes through
    # langid_conf_udf and the scored frame gains lang_detected +
    # lang_confidence (calibrated P(correct)); the lang rule re-fires
    # on the model's label. A fastText .bin on a real cluster goes
    # through $SPARK_DQC_FASTTEXT_MODEL + langid_impl='udf' (label
    # only, no confidence column), NOT this knob. The north rule's
    # "language-ID scored inside vectorized pandas/Arrow UDFs", end
    # to end.
    langid_model_path: str | None = None
    # drop docs whose model label is allowed but whose calibrated
    # confidence is below this (CCNet-style low-confidence reject);
    # 0.0 = off. Ignored when the artifact carries no confidence.
    langid_min_confidence: float = 0.0
    with_perplexity: bool = False
    # optional MinHash near-dup stage over kept docs (run_pipeline /
    # with_near_dup_verdict; NOT part of the lazy score_pages DAG —
    # clustering is iterative)
    near_dedup: bool = False
    near_dedup_threshold: float = 0.85
    # one-permutation hashing for the MinHash sketch (one xxhash64 per
    # shingle instead of num_hashes) — the crawl-scale sketch; recall
    # is gated in tests, pair precision unchanged (exact verify join)
    near_dedup_oph: bool = False
    # optional SemDeDup semantic-duplicate stage over kept docs, from
    # TEXT alone (run_pipeline / with_semantic_dup_verdict): hashed
    # TF-IDF doc vectors (plans/embed.py, deterministic — no trained
    # encoder needed) -> cell-blocked cosine pairs -> components.
    # Catches template/paraphrase redundancy the lexical MinHash stage
    # misses; composes with near_dedup (keep_final folds both).
    semantic_dedup: bool = False
    semantic_dedup_tau: float = 0.97
    semantic_dedup_dim: int = 128
    semantic_dedup_k: int = 64
    # optional benchmark-decontamination stage (run_pipeline /
    # with_decontam_verdict): exact n-gram collision vs an eval corpus
    decontam_ngram: int = 13
    decontam_min_hits: int = 1
    # optional URL pre-filter stage (with_url_prefilter): shape
    # heuristics always apply when enabled; blocklist passed to
    # run_pipeline as a DataFrame
    url_prefilter: bool = False
    url_blocked_words: tuple[str, ...] = ()
    max_docs_per_host: int | None = None
    # optional C4 line-level cleaning (plans/lineclean.py), applied
    # AFTER capture dedup and BEFORE the rule battery — C4's own
    # ordering (edit lines, then judge pages). The original text is
    # preserved as ``text_raw``; rules/scrub/output all see the
    # CLEANED text, and ``keep`` additionally requires ``c4_keep``.
    # Off by default: the reference byte-identity contract is raw
    # text per url. NOTE the synthetic bench corpus (plans/synth.py)
    # is word-soup without sentence punctuation, so C4's
    # terminal-punctuation + min-sentence rules drop it ENTIRELY
    # (corpus-true, verified live) — these stages are for prose
    # corpora; tests/test_webtext_filters.py drives both branches on
    # sentence-shaped fixtures.
    c4_line_clean: bool = False
    # optional Gopher MassiveWeb signals (plans/gopher.py) over the
    # (possibly cleaned) text; ``keep`` additionally requires
    # ``gopher_keep``. Off by default.
    gopher_quality: bool = False


def score_pages(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The pure transformation: pages -> scored/scrubbed/verdict frame.

    Column pruning note: nothing here touches `html`, so the parquet
    scan never reads the binary payload (verified in tests via the
    physical plan's ReadSchema)."""
    cfg = cfg or PipelineConfig()
    out = df.withColumn("partition_id", bucket_id("url", cfg.num_buckets))
    if cfg.dedup_latest_capture:
        # latest capture per url (SURVEY.md §2.5 note): window over the
        # url hash-partitioning we already shuffle by. Tie-break on a
        # content hash, NOT partition_id (which is a function of url,
        # hence constant in the window): same-timestamp re-fetches
        # would otherwise pick a shuffle-order-dependent row and break
        # the byte-identical replay contract. The hash reads text+lang
        # ONLY — pulling html into it would force the scan to read the
        # binary payload (the never-read-html pruning guarantee);
        # captures identical in (url, ts, text, lang) are
        # interchangeable for every downstream contract, which is
        # per-url BYTE-IDENTICAL TEXT.
        if cfg.dedup_on_canonical_url:
            from data_quality_checker_spark.plans.urlfilter import (
                canonical_url,
            )

            # distinct raw urls can collide in one canonical window
            # with equal (ts, content) — the url tiebreak keeps the
            # winner deterministic (retry/replay-stable)
            w = Window.partitionBy(canonical_url(F.col("url"))).orderBy(
                F.col("warc_ts").desc(),
                F.xxhash64("text", "lang"),
                F.col("url"),
            )
        else:
            w = Window.partitionBy("url").orderBy(
                F.col("warc_ts").desc(),
                F.xxhash64("text", "lang"),
            )
            # pre-partition by url at the scale-derived width: the
            # window reuses the distribution (still ONE exchange), but
            # its task count tracks the input size instead of the
            # session constant (tuning module; identity at scale)
            from data_quality_checker_spark.tuning import (
                scaled_partitions,
            )

            out = out.repartition(scaled_partitions(out), "url")
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if cfg.c4_line_clean:
        from data_quality_checker_spark.plans.lineclean import (
            with_c4_clean,
        )

        out = with_c4_clean(out.withColumn("text_raw", F.col("text")))
        out = out.withColumn("text", F.col("text_c4")).drop("text_c4")
    rules = cfg.rules
    if cfg.langid_impl == "udf":
        # the UDF label decides the lang rule: the battery runs with
        # every heuristic label allowed (its lang flag never fires),
        # rule_lang is replaced below, and keep is gated on it after
        # with_verdict, whose keep reads the stats, not the rule_*
        # columns
        rules = replace(rules, allowed_langs=(*LANGS, "und"))
    out = with_rule_flags(out, rules)
    if cfg.langid_impl == "udf":
        if cfg.langid_model_path:
            from data_quality_checker_spark.plans.udfs import (
                langid_conf_udf,
            )

            out = out.withColumn(
                "_lid", langid_conf_udf("text", cfg.langid_model_path)
            )
            out = (
                out.withColumn("lang_detected", F.col("_lid.lang"))
                .withColumn("lang_confidence", F.col("_lid.confidence"))
                .drop("_lid")
            )
        else:
            out = out.withColumn("lang_detected", langid_udf("text"))
        # keep verdict consistent with the UDF label
        lang_fires = F.col("text").isNotNull() & ~F.col(
            "lang_detected"
        ).isin(*cfg.rules.allowed_langs)
        if cfg.langid_model_path and cfg.langid_min_confidence > 0:
            # low-confidence reject: fires only when the artifact
            # actually carries confidence (NULL comparison -> false)
            # coalesce: NULL confidence (wordlist artifact) must make
            # this disjunct FALSE, not poison the rule flag to NULL
            lang_fires = lang_fires | (
                F.col("text").isNotNull()
                & F.coalesce(
                    F.col("lang_confidence")
                    < F.lit(cfg.langid_min_confidence),
                    F.lit(False),
                )
            )
        out = out.withColumn(f"{RULE_PREFIX}lang", lang_fires)
    if cfg.with_perplexity:
        out = out.withColumn("perplexity", perplexity_udf("text"))
    if cfg.gopher_quality:
        from data_quality_checker_spark.plans.gopher import (
            with_gopher_signals,
        )

        out = with_gopher_signals(out)
    out = with_verdict(out, rules)
    if cfg.langid_impl == "udf":
        out = out.withColumn(
            "keep", F.col("keep") & ~F.col(f"{RULE_PREFIX}lang")
        )
    # the opt-in webtext stages gate keep WITHOUT entering the frozen
    # fired_rules contract (RULE_NAMES ordering is pinned three ways)
    if cfg.c4_line_clean:
        out = out.withColumn("keep", F.col("keep") & F.col("c4_keep"))
    if cfg.gopher_quality:
        out = out.withColumn(
            "keep", F.col("keep") & F.col("gopher_keep")
        )
    out = with_scrub(out, "text")
    if cfg.c4_line_clean:
        # the preserved raw text must not leak PII into the scored
        # output either (review finding): scrub it with the same
        # patterns. The scrub_* counters deliberately reflect the
        # pipeline 'text' column only — text_raw is a provenance
        # column, not a second metrics surface.
        from data_quality_checker_spark.plans.scrub import scrub_expr

        out = out.withColumn("text_raw", scrub_expr("text_raw"))
    return out


def with_near_dup_verdict(
    scored: DataFrame,
    cfg: PipelineConfig | None = None,
    storage_path: str | None = None,
) -> DataFrame:
    """Corpus-level near-duplicate stage over the KEPT documents:
    MinHash-LSH pairs -> connected components -> every non-canonical
    cluster member gets ``near_dup_of`` (the canonical url, min of the
    component) and ``keep_final`` = keep AND not a near-dup loser.
    Non-destructive: rule verdicts and metrics columns are untouched;
    rows already dropped by rules never pay for sketching. Runs as its
    own jobs (clustering is iterative) — called by run_pipeline when
    cfg.near_dedup, after scoring.

    The left join back is on ``url``, so the sketch input is deduped on
    url first (score_pages with dedup_latest_capture already guarantees
    uniqueness; standalone callers may not) — otherwise a repeated url
    would fan out scored rows and mislabel distinct documents. The
    representative per url is the MIN-md5(text) capture — a
    DETERMINISTIC choice, unlike dropDuplicates whose pick depends on
    partition/file layout and would let the streaming and batch
    compositions (different sink layouts, same rows) sketch different
    texts for a multi-capture url and flakily diverge on near_dup_of.

    ``storage_path`` is forwarded to the MinHash sketcher: when set the
    shingle/signature intermediates are written as parquet (resumable,
    no executor-cache footprint — the crawl-scale form); when None they
    are persist()ed and released here after clustering."""
    from data_quality_checker_spark.operators.dedup import (
        duplicate_clusters,
        near_duplicates_minhash,
        release_cache,
    )

    cfg = cfg or PipelineConfig()
    kept = (
        scored.filter("keep")
        .select("url", "text")
        .groupBy("url")
        .agg(F.min_by("text", F.md5("text")).alias("text"))
    )
    pairs = near_duplicates_minhash(
        kept,
        id_col="url",
        text_col="text",
        threshold=cfg.near_dedup_threshold,
        storage_path=storage_path,
        one_permutation=cfg.near_dedup_oph,
    )
    clusters = duplicate_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("url"),
        F.col("cluster_id").alias("near_dup_of"),
    )
    out = scored.join(losers, "url", "left").withColumn(
        "keep_final", F.col("keep") & F.col("near_dup_of").isNull()
    )
    # clustering ran eagerly above (its convergence counts execute at
    # call time), so the pair-stage caches are already consumed; the
    # final label cache is still read lazily by `out` — hand its
    # release handle to the caller
    release_cache(pairs)
    out._cached_deps = getattr(clusters, "_cached_deps", ())
    return out


def with_semantic_dup_verdict(
    scored: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """SemDeDup semantic-duplicate stage over the KEPT documents, from
    TEXT alone: hashed TF-IDF doc vectors (plans/embed.py — pure
    Catalyst, deterministic, value-pinned by the doc_embed_hashing
    oracle) -> cell-blocked cosine pairs (operators/semdedup.py, never
    all-pairs) -> connected components -> every non-canonical member
    gets ``sem_dup_of`` (the canonical url, min of the component) and
    ``keep_final`` excludes the losers. Composes with
    with_near_dup_verdict: when the lexical stage already produced
    ``keep_final``, this stage folds into it (a doc must survive BOTH
    to keep ``keep_final``); standalone it folds into ``keep``.

    Same deterministic-representative rule as the lexical stage: the
    sketch input is deduped on url via min-md5(text), so batch and
    streaming compositions can never diverge on layout.

    Two scale/correctness properties of the sketch set:

    - only CURRENT survivors participate (``base_keep``, i.e.
      keep_final when a lexical stage ran first — NOT raw keep): a
      lexical near-dup loser allowed in could win the min-url
      canonical draw for its component and drop the component's only
      surviving copy with it, silently losing the whole cluster;
    - exact-text groups collapse to their min-url representative
      before the vector stages (the embed.semantic_dedup_text
      exact_group discipline): m identical texts otherwise form an
      m^2/2 cosine-1.0 clique inside one cell — measured 13% dup rows
      producing 63% of all tau-pairs. The expanded verdict is
      identical: non-representative members of token-BEARING groups
      are cosine-1.0 duplicates of their representative by
      construction (sem_dup_of = the component canonical), token-LESS
      groups embed to the zero vector which never pairs, so every
      member keeps. The IDF table is computed over representatives
      (dedup-before-stats, deliberate: duplicated boilerplate no
      longer inflates bucket document frequencies).

    CACHE RELEASE OBLIGATION: the returned frame's ``_cached_deps``
    carries TWO persisted frames (the kept-set and group-member
    tables) whose rows the lazy loser expansion still reads — any
    direct or streaming caller that consumes the verdict without going
    through run_pipeline must call ``dedup.release_cache(out)`` (or
    unpersist the deps) after consumption, or two cached RDDs
    accumulate per invocation (round-6 advisory)."""
    from data_quality_checker_spark.functions.text import tokens
    from data_quality_checker_spark.operators.dedup import (
        duplicate_clusters,
        release_cache,
    )
    from data_quality_checker_spark.operators.semdedup import (
        semantic_dedup_pairs,
    )
    from data_quality_checker_spark.plans.embed import (
        exact_text_groups,
        hashed_doc_vectors,
    )

    cfg = cfg or PipelineConfig()
    base_keep = (
        F.col("keep_final")
        if "keep_final" in scored.columns
        else F.col("keep")
    )
    # persisted: the survivor sketch set feeds the grouping, the
    # representative semi-join, and (through them) the embed — texts
    # materialize once instead of re-running the regex-heavy scoring
    # DAG per consumer (the repo's persist-when-fanout rule)
    kept = (
        scored.filter(base_keep)
        .select("url", "text")
        .groupBy("url")
        .agg(F.min_by("text", F.md5("text")).alias("text"))
    ).persist()
    # exact-text grouping (embed.exact_text_groups — the shared
    # collapse discipline): one row per distinct text enters the
    # vector stages. _z marks token-less groups Catalyst-side (zero
    # vector <=> no tokens for the hashing embedder: IDF smoothing
    # keeps every weight >= 1, so any token makes the vector
    # non-zero) — the expansion below then never has to re-read the
    # embed subtree after its cache is released. member is tiny
    # (url + 16-byte md5 + bool) and feeds both the rep derivation
    # and the loser expansion — persisted too.
    member, rep_of = exact_text_groups(
        kept,
        "url",
        "text",
        flags={
            "_z": F.size(
                tokens(F.coalesce(F.col("text"), F.lit("")))
            )
            == 0
        },
    )
    # rep_of's plan embeds member's, so the cache covers both (Spark's
    # cache manager matches plan fragments)
    member = member.persist()
    reps = kept.join(
        rep_of.select(F.col("_rid").alias("url")), "url", "left_semi"
    )
    # impl='arrow': numpy dense assembly, bit-identical to the
    # oracle-pinned Catalyst form (test_embed parity) at ~5x the
    # assembly rate — the interpreted map-probe/fold assembly was the
    # measured hot spot of the text->dedup path
    vecs = hashed_doc_vectors(
        reps,
        id_col="url",
        text_col="text",
        dim=cfg.semantic_dedup_dim,
        impl="arrow",
    ).persist()
    # persisted: the pair stage consumes the embed subtree three ways
    # (centroid draw, assignment, the cell-pairs vectors join);
    # released below once clustering has run eagerly
    pairs = semantic_dedup_pairs(
        vecs,
        id_col="url",
        vec_col="embedding",
        k=cfg.semantic_dedup_k,
        tau=cfg.semantic_dedup_tau,
        dim=cfg.semantic_dedup_dim,
        impl="arrow",
    )
    clusters = duplicate_clusters(
        pairs.select("id_a", "id_b")
    )
    # component canonical per group: the representative's cluster
    # label when it paired, else the representative itself (its group
    # is its own clique). Every group member except the canonical is
    # a loser — unless the group is token-less (never pairs).
    rep_label = rep_of.join(
        clusters.select(
            F.col("id").alias("_rid"), F.col("cluster_id").alias("_cl")
        ),
        "_rid",
        "left",
    ).select(
        "_tk",
        "_zg",
        F.coalesce("_cl", "_rid").alias("_canon"),
    )
    losers = (
        member.join(rep_label, "_tk")
        .filter(~F.col("_zg") & (F.col("_mid") != F.col("_canon")))
        .select(
            F.col("_mid").alias("url"),
            F.col("_canon").alias("sem_dup_of"),
        )
    )
    out = scored.join(losers, "url", "left").withColumn(
        "keep_final", base_keep & F.col("sem_dup_of").isNull()
    )
    # clustering ran eagerly (convergence counts execute at call
    # time); the pair stage's arrow path holds no persisted frames of
    # its own, the final label cache is read lazily by `out`. The
    # embed cache is fully consumed once the edge list materialized;
    # kept/member still feed the loser expansion `out` reads lazily,
    # so their caches ride _cached_deps to the caller.
    release_cache(pairs)
    release_cache(vecs)  # the embed persist + its internal TF cache
    vecs.unpersist()
    out._cached_deps = (kept, member) + tuple(
        getattr(clusters, "_cached_deps", ())
    )
    return out


def with_url_prefilter(
    pages: DataFrame,
    blocklist: DataFrame | None = None,
    blocked_words: tuple[str, ...] = (),
    max_docs_per_host: int | None = None,
) -> DataFrame:
    """C4-style URL pre-filter stage (plans/urlfilter.py), run BEFORE
    any text is parsed: drop blocklisted registrable domains
    (broadcast anti-join), drop urls failing the shape heuristics
    (static-asset extension / raw-IP host / oversized query /
    bad-word-in-url — one codegen'd projection), then optionally cap
    per-host contributions (windowless threshold form — skew-free).
    Cheapest-first ordering: every later pipeline stage pays per
    surviving row, and url-only predicates never touch html/text."""
    from data_quality_checker_spark.plans.urlfilter import (
        cap_per_host,
        filter_blocked_domains,
        url_quality_flags,
    )

    out = pages
    if blocklist is not None:
        out = filter_blocked_domains(out, blocklist, url_col="url")
    flags = url_quality_flags("url", blocked_words=blocked_words)
    bad = None
    for c in flags.values():
        # null urls make every flag NULL and filter(~NULL) would drop
        # the row silently — fold to False so malformed rows flow on
        # to scoring where they are counted, not vanished
        c = F.coalesce(c, F.lit(False))
        bad = c if bad is None else (bad | c)
    out = out.filter(~bad)
    if max_docs_per_host is not None:
        out = cap_per_host(
            out, "url", max_docs_per_host, exact=False
        ).drop("host_docs")
    return out


def with_decontam_verdict(
    scored: DataFrame,
    eval_df: DataFrame,
    cfg: PipelineConfig | None = None,
    eval_is_ngrams: bool = False,
    broadcast_max_bad: int = 5_000_000,
) -> DataFrame:
    """Benchmark-decontamination stage (operators/decontam.py): flags
    surviving documents whose raw ``text`` shares >= decontam_min_hits
    exact lowercased ``decontam_ngram``-grams with the eval corpus.
    Runs AFTER rules (and near-dedup when enabled) so already-dropped
    rows never pay for n-gram generation; adds ``contaminated`` and
    folds it into ``keep_final``. Non-destructive like the near-dedup
    stage: verdict/metrics columns are untouched. The contaminated-url
    set joins back under decontam.guarded_bad_set's row-count guard:
    contamination is rare by construction (eval suites are tiny next
    to a crawl) so the common case broadcasts, but a pathological eval
    set (eval_is_ngrams with common grams + min_hits=1) can make the
    set corpus-sized — above ``broadcast_max_bad`` rows the join is
    left unhinted and shuffles on url instead of OOMing the broadcast
    build. The guard's persist handle rides ``_cached_deps``."""
    from data_quality_checker_spark.operators.decontam import (
        contamination_report,
        guarded_bad_set,
    )

    cfg = cfg or PipelineConfig()
    keep_col = "keep_final" if "keep_final" in scored.columns else "keep"
    kept = scored.filter(F.col(keep_col)).select("url", "text")
    bad = (
        contamination_report(
            kept,
            eval_df,
            id_col="url",
            text_col="text",
            n=cfg.decontam_ngram,
            min_hits=cfg.decontam_min_hits,
            key_mode="xxhash64",
            eval_is_ngrams=eval_is_ngrams,
        )
        .filter(F.col("contaminated"))
        .select("url", F.lit(True).alias("contaminated"))
    )
    bad_side, handle = guarded_bad_set(bad, broadcast_max_bad)
    out = (
        scored.join(bad_side, "url", "left")
        .withColumn(
            "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
        )
        .withColumn(
            "keep_final", F.col(keep_col) & ~F.col("contaminated")
        )
    )
    out._cached_deps = (handle, *getattr(scored, "_cached_deps", ()))
    return out


def partition_metrics(scored: DataFrame, run_id: str) -> DataFrame:
    """Per-partition metrics rows (FIXTURES.md F6): rows scanned/kept,
    rule-level drop counts, scrub counts — one groupBy job."""
    rule_names = list(RULE_NAMES)
    aggs = [
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        *[
            F.sum(F.col(f"{RULE_PREFIX}{n}").cast("long")).alias(f"drop_{n}")
            for n in rule_names
        ],
        F.sum("scrub_email").alias("scrub_email"),
        F.sum("scrub_phone").alias("scrub_phone"),
        F.sum("scrub_ip").alias("scrub_ip"),
    ]
    # ALWAYS emit drop_contaminated (0 when the stage didn't run):
    # resuming the same out_dir with decontam toggled would otherwise
    # write parquet files with different schemas into one dynamically-
    # overwritten metrics directory, and plain readers would drop the
    # column or error without mergeSchema
    # coalesce the SUM, not just the column: a resumed run with the
    # stage toggled OFF reads mergeSchema'd scored files where the
    # stage column exists but is all-NULL for the new partitions —
    # sum(all NULL) is NULL, and the contract is ALWAYS 0 when the
    # stage didn't run (review finding, reproduced)
    contaminated = (
        F.col("contaminated").cast("long")
        if "contaminated" in scored.columns
        else F.lit(0)
    )
    aggs.append(
        F.coalesce(F.sum(contaminated), F.lit(0)).alias(
            "drop_contaminated"
        )
    )
    c4_drop = (
        (~F.col("c4_keep")).cast("long")
        if "c4_keep" in scored.columns
        else F.lit(0)
    )
    aggs.append(
        F.coalesce(F.sum(c4_drop), F.lit(0)).alias("drop_c4_clean")
    )
    gopher_drop = (
        (~F.col("gopher_keep")).cast("long")
        if "gopher_keep" in scored.columns
        else F.lit(0)
    )
    aggs.append(
        F.coalesce(F.sum(gopher_drop), F.lit(0)).alias("drop_gopher")
    )
    return scored.groupBy("partition_id").agg(*aggs).withColumn(
        "run_id", F.lit(run_id)
    )


def _completed_partitions(spark: SparkSession, lineage_path: str) -> set[int]:
    try:
        rows = (
            spark.read.parquet(lineage_path)
            .filter(F.col("status") == "done")
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}
    except Exception as ex:
        # ONLY path-not-found means "first run"; any other read error
        # (permissions, corrupted footer) must NOT silently report
        # zero completed partitions — that would reprocess the whole
        # corpus and duplicate the append-mode lineage history
        msg = str(ex)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "FileNotFound" in msg
        ):
            return set()
        raise


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    run_id: str = "run-0",
    limit_partitions: int | None = None,
    decontam_eval: DataFrame | None = None,
    url_blocklist: DataFrame | None = None,
    quality_model_path: str | None = None,
) -> dict:
    """Execute (or resume) the pipeline. ``limit_partitions`` processes
    only the first k incomplete partitions — the test harness uses it
    to simulate a killed run; production never sets it.

    Near-dedup scope on resume: cfg.near_dedup runs the MinHash stage
    over the partitions processed in THIS invocation (its sketch
    tables land under ``{out_dir}/near_dedup``). A run that was killed
    and resumed therefore never compared documents across the
    invocation boundary — after the last partition completes, re-run
    the stage corpus-wide over the scored table:
    ``with_near_dup_verdict(spark.read.parquet(f"{out_dir}/scored")
    .drop("near_dup_of", "keep_final"), cfg, storage_path=...)``
    (tests/test_pipeline.py pins that this reproduces the
    uninterrupted run's verdict exactly).

    Returns {"processed_partitions": [...], "skipped": n}."""
    cfg = cfg or PipelineConfig()
    if cfg.url_prefilter or url_blocklist is not None:
        pages = with_url_prefilter(
            pages,
            url_blocklist,
            cfg.url_blocked_words,
            cfg.max_docs_per_host,
        )
    scored_path = f"{out_dir}/scored"
    metrics_path = f"{out_dir}/metrics"
    lineage_path = f"{out_dir}/lineage"

    done = _completed_partitions(spark, lineage_path)
    with_bucket = pages.withColumn(
        "partition_id", bucket_id("url", cfg.num_buckets)
    )
    todo_rows = (
        with_bucket.select("partition_id")
        .distinct()
        .filter(~F.col("partition_id").isin(list(done)) if done else F.lit(True))
        .orderBy("partition_id")
        .collect()
    )
    todo = [r["partition_id"] for r in todo_rows]
    if limit_partitions is not None:
        todo = todo[:limit_partitions]
    if not todo:
        return {"processed_partitions": [], "skipped": len(done)}

    subset = pages.filter(
        bucket_id("url", cfg.num_buckets).isin(todo)
    )
    scored = score_pages(subset, cfg)
    nd_handle = None
    if cfg.near_dedup:
        # parquet-materialized sketch tables under the run's own out_dir:
        # resumable, inspectable, and no cached RDDs outlive the run
        scored = nd_handle = with_near_dup_verdict(
            scored, cfg, storage_path=f"{out_dir}/near_dedup"
        )
    sd_handle = None
    if cfg.semantic_dedup:
        scored = sd_handle = with_semantic_dup_verdict(scored, cfg)
    dc_handle = None
    if decontam_eval is not None:
        # keep the handle: guarded_bad_set's persist rides the
        # _cached_deps of THIS frame, and the quality-model transform
        # below returns a new frame without the attribute — releasing
        # only nd/sd would leak the bad-set cache for the session
        scored = dc_handle = with_decontam_verdict(
            scored, decontam_eval, cfg
        )
    if quality_model_path is not None:
        # learned-classifier scoring (plans/quality_model.py): load
        # the shipped PipelineModel artifact and add quality_prob —
        # a JVM-side transform, no Python in the scoring path
        from pyspark.ml import PipelineModel

        from data_quality_checker_spark.plans.quality_model import (
            score_quality,
        )

        scored = score_quality(
            scored, PipelineModel.load(quality_model_path)
        )
    write_partitioned(scored, scored_path, "partition_id")
    if any(h is not None for h in (nd_handle, sd_handle, dc_handle)):
        # scored is parquet-materialized now; free the clustering
        # label caches and the decontam bad-set persist (the caches
        # the verdict stages must keep alive until consumption)
        from data_quality_checker_spark.operators.dedup import (
            release_cache,
        )

        for h in (nd_handle, sd_handle, dc_handle):
            if h is not None:
                release_cache(h)

    # mergeSchema: resuming an out_dir with an opt-in stage TOGGLED
    # (c4/gopher/decontam) leaves scored files with and without the
    # stage columns; a single-footer schema sample could then hide
    # c4_keep/gopher_keep from partition_metrics and silently zero
    # their drop counters (review finding). Merged, the columns exist
    # with NULLs for stage-off partitions, which sum ignores.
    metrics = partition_metrics(
        spark.read.option("mergeSchema", "true")
        .parquet(scored_path)
        .filter(
            F.col("partition_id").isin(todo)
        ),
        run_id,
    )
    # dynamic-overwrite keyed by partition_id, NOT append: a crash
    # between this write and the lineage append would otherwise
    # double-count those partitions' metrics on resume (scored is
    # already idempotent the same way)
    write_partitioned(metrics, metrics_path, "partition_id")

    lineage = spark.createDataFrame(
        [(int(p), "done", run_id) for p in todo],
        "partition_id int, status string, run_id string",
    ).withColumn("completed_ts", F.current_timestamp())
    lineage.write.mode("append").parquet(lineage_path)
    return {"processed_partitions": todo, "skipped": len(done)}


def host_metrics_salted(
    scored: DataFrame, salt_buckets: int = 16
) -> DataFrame:
    """Per-host keep-rate metrics via two-stage salted aggregation
    (north rule: pathological hosts own large url shares — Zipf — so a
    plain groupBy(host) puts one host's entire corpus in one reduce
    task). Stage 1 aggregates on host#salt (spreads a hot host over
    salt_buckets tasks, map-side combine does most of the work);
    stage 2 merges the per-salt partials — its input is at most
    hosts x salt_buckets tiny rows. Returns
    (host, rows_scanned, rows_kept, keep_rate)."""
    from data_quality_checker_spark.sources.io import salted_key

    # lowercase first (scheme/host case must not split a host's rows),
    # never null (a null url would make concat_ws skip the host and
    # leave bare salt digits as phantom hosts), and label non-matching
    # urls explicitly instead of colliding on ''
    raw = F.regexp_extract(
        F.lower(F.coalesce(F.col("url"), F.lit(""))),
        r"^[a-z][a-z0-9+.-]*://([^/?#]+)",
        1,
    )
    host = F.when(raw == "", F.lit("(invalid)")).otherwise(raw)
    stage1 = (
        scored.withColumn(
            "_hs", salted_key(host, F.col("url"), salt_buckets)
        )
        .groupBy("_hs")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        )
    )
    return (
        stage1.withColumn(
            "host", F.substring_index(F.col("_hs"), "#", 1)
        )
        .groupBy("host")
        .agg(
            F.sum("n").alias("rows_scanned"),
            F.sum("k").alias("rows_kept"),
            (F.sum("k") / F.sum("n")).alias("keep_rate"),
        )
    )


def rule_drift_report(
    metrics_old: DataFrame, metrics_new: DataFrame
) -> DataFrame:
    """Run-over-run drift of per-rule drop rates (SURVEY.md §7 item 6,
    generalizing compute_population_stability_index
    stat_analyzer.py:467-509 to pipeline monitoring): one row per rule
    with old/new drop rates and the absolute delta. Inputs are
    partition_metrics outputs (possibly different runs)."""
    def rates(m: DataFrame, tag: str) -> DataFrame:
        aggs = [F.sum("rows_scanned").alias("n")] + [
            F.sum(f"drop_{r}").alias(f"drop_{r}") for r in RULE_NAMES
        ]
        total = m.agg(*aggs)
        return total.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("rule"),
                            (
                                F.col(f"drop_{r}") / F.col("n")
                            ).alias(f"rate_{tag}"),
                        )
                        for r in RULE_NAMES
                    ]
                )
            ).alias("s")
        ).select("s.*")

    return (
        rates(metrics_old, "old")
        .join(rates(metrics_new, "new"), "rule")
        .withColumn(
            "abs_delta", F.abs(F.col("rate_new") - F.col("rate_old"))
        )
    )
