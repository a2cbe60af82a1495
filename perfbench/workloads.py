"""The three workloads. Each one drives the package only through its
public functions; the seed reaches the program only as generated input.

A workload object goes through ``setup`` (inputs, index), then
``run_pass(k)`` for the ``unmeasured`` set-up passes (k < 0: the cold
pass) and once per timed pass (k >= 0), with ``after_pass``
outside the timed window after each, then ``check`` (output checks of the
timed passes, all outside the window) and, in a traced run, ``layers``
(per-layer metrics from spans and the event log).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import spans as T
from data_quality_checker_spark.operators import minhash_index as MI
from data_quality_checker_spark.operators import semdedup as SD
from data_quality_checker_spark.operators.dedup import release_cache
from data_quality_checker_spark.plans import embed as E
from data_quality_checker_spark.plans import pipeline as P
from data_quality_checker_spark.plans import synth
from data_quality_checker_spark.plans.sampling import hash_frac_predicate
from data_quality_checker_spark.sources import io as IO


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    ops_per_pass = 1
    unmeasured = 1  # set-up passes before the window (the cold pass)

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.leaked: list[int] = []

    def exhausted(self, k: int) -> bool:
        return False

    def log_layers(self, log, passes) -> dict[str, float]:
        return {}

    def after_pass(self) -> None:
        """Leak guard: record the persistent RDDs the operators' own
        release calls left behind, then drop every cache so the next
        pass starts from the same state."""
        jsc = self.spark.sparkContext._jsc
        self.leaked.append(int(jsc.getPersistentRDDs().size()))
        self.spark.catalog.clearCache()


class CrawlFilter(Workload):
    """run_pipeline over seeded v2 pages, written to a fresh out_dir."""

    N_PAGES = 30_000
    SAMPLE = 0.02  # hash-sampled share of urls checked against the oracle
    # the cold pass runs on a hash-sampled slice of the pages: it pays
    # the same class loading and code generation as a full pass, in
    # less set-up time
    WARM = 0.15

    def setup(self) -> None:
        path = f"{self.work}/pages"
        with self.tracer.span("plans.synth.generate"):
            synth.pages_df_distributed(
                self.spark, self.N_PAGES, seed=self.seed
            ).write.parquet(path)
        self.input_bytes = _dir_stats(path)[1]
        self.pages = self.spark.read.parquet(path)
        self.pages.filter(
            hash_frac_predicate(F.col("url"), self.WARM)
        ).write.parquet(f"{self.work}/warm")
        self.warm = self.spark.read.parquet(f"{self.work}/warm")
        self.cfg = P.PipelineConfig(num_buckets=64)
        self.outs: list[tuple[int, str, dict]] = []
        self.tracer.wrap(P, "score_pages",
                         "plans.pipeline.score_pages.construct")
        self.tracer.wrap(P, "partition_metrics",
                         "plans.pipeline.partition_metrics.construct")
        self.tracer.wrap(IO, "write_partitioned",
                         "sources.io.write_partitioned")

    def run_pass(self, k: int) -> int:
        # a fresh out_dir: a reused one would skip every partition
        # through the lineage table and time a no-op
        out = f"{self.work}/out/pass{k:+d}"
        with self.tracer.span("plans.pipeline.run_pipeline"):
            res = P.run_pipeline(self.spark,
                                 self.pages if k >= 0 else self.warm,
                                 out, self.cfg, run_id=f"pass{k:+d}")
        self.outs.append((k, out, res))
        return self.N_PAGES

    def _timed_outs(self) -> list[tuple[str, dict]]:
        return [(out, res) for k, out, res in self.outs if k >= 0]

    def check(self) -> dict:
        """Failed operations: ``{op key: first problem}``. The written
        tables are read back with pyarrow, so checking runs no Spark
        job beyond drawing the oracle's url sample."""
        from data_quality_checker_spark.plans.oracle import label_page

        truth = {}
        for r in self.pages.filter(
            hash_frac_predicate(F.col("url"), self.SAMPLE)
        ).select("url", "text").collect():
            lab = label_page(r["text"])
            s = lab["scrubbed"]
            truth[r["url"]] = (
                lab["keep"],
                lab["fired_rules"],
                None if s is None else hashlib.sha256(s.encode()).hexdigest(),
            )
        errors: dict[str, str] = {}
        for out, res in self._timed_outs():
            if len(res["processed_partitions"]) != 64 or res["skipped"]:
                errors.setdefault(out, f"processed {res}")
            scored = pq.read_table(f"{out}/scored", columns=[
                "url", "keep", "fired_rules", "scrubbed_text", "partition_id"])
            n = scored.num_rows
            parts = len(pc.unique(scored["partition_id"]))
            if n != self.N_PAGES or parts != 64:
                errors.setdefault(out, f"{n} rows over {parts} partitions")
            scanned = pc.sum(pq.read_table(
                f"{out}/metrics", columns=["rows_scanned"])["rows_scanned"])
            if scanned.as_py() != n:
                errors.setdefault(out, f"metrics rows_scanned {scanned} != {n}")
            lineage = pq.read_table(f"{out}/lineage").to_pylist()
            done = {r["partition_id"] for r in lineage if r["status"] == "done"}
            if len(done) != 64:
                errors.setdefault(out, f"lineage covers {len(done)} partitions")
            got = scored.filter(
                pc.is_in(scored["url"], pa.array(list(truth), pa.string()))
            ).to_pylist()
            if len(got) != len(truth):
                errors.setdefault(out, f"{len(got)} sampled urls, "
                                       f"expected {len(truth)}")
            for r in got:
                s = r["scrubbed_text"]
                have = (r["keep"], r["fired_rules"] or [], None if s is None
                        else hashlib.sha256(s.encode()).hexdigest())
                if have != truth[r["url"]]:
                    errors.setdefault(out, f"{r['url']}: {have} != "
                                           f"oracle {truth[r['url']]}")
        return errors

    def _probe(self, name: str, df) -> float:
        """Execute every column of ``df`` to the noop sink twice; the
        second (warm) run is the measurement."""
        for _ in range(2):
            with self.tracer.span(name) as sp:
                df.write.format("noop").mode("overwrite").save()
        return sp.duration

    def layers(self, passes) -> dict[str, float]:
        from data_quality_checker_spark.plans.rules import RuleConfig
        from data_quality_checker_spark.plans.scrub import with_scrub
        from data_quality_checker_spark.plans.udfs import langid_udf
        from data_quality_checker_spark.plans.verdict import with_rule_flags

        tr, n = self.tracer, len(passes)
        runs = tr.within(passes, "plans.pipeline.run_pipeline")
        writes = tr.within(passes, "sources.io.write_partitioned")
        # run_pipeline writes scored first, then the metrics table
        metric_writes = writes[1::2]
        files = size = 0
        for out, _ in self._timed_outs():
            for sub in ("scored", "metrics"):
                f, b = _dir_stats(f"{out}/{sub}")
                files, size = files + f, size + b
        self_s = sum(T.self_time(r, tr.children(r)) for r in runs) / n
        text = self.pages.select("url", "text")
        return {
            "plans.pipeline.score_pages.construct_s": tr.per_root(
                passes, "plans.pipeline.score_pages.construct"),
            "plans.pipeline.run_pipeline.self_s": self_s,
            "sources.io.write_partitioned.s": tr.per_root(
                passes, "sources.io.write_partitioned"),
            "sources.io.write_partitioned.files": files / n,
            "sources.io.write_partitioned.bytes_per_input_byte":
                size / n / self.input_bytes,
            "plans.pipeline.partition_metrics.s":
                sum(s.duration for s in metric_writes) / n
                + tr.per_root(passes,
                              "plans.pipeline.partition_metrics.construct"),
            "plans.pipeline.score_pages.exec_s": self._probe(
                "probe.score_pages", P.score_pages(self.pages, self.cfg)),
            "plans.rules.with_rule_flags.exec_s": self._probe(
                "probe.with_rule_flags", with_rule_flags(text, RuleConfig())),
            "plans.scrub.with_scrub.exec_s": self._probe(
                "probe.with_scrub", with_scrub(text, "text")),
            "plans.udfs.langid_udf.exec_s": self._probe(
                "probe.langid_udf", text.select(langid_udf("text"))),
        }


class DedupRolling(Workload):
    """Rolling-crawl loop against a MinHash index built in set-up."""

    N_INDEX = 3_000
    HALF = 200  # new docs per batch; as many planted clones ride along
    # a floor under a pass's time (passes take 6-10 s on a 4-core host);
    # set-up prepares one batch per pass the window can reach, no more
    MIN_PASS_S = 4.0
    CLONE_BASE = 1_000_000_000
    THRESHOLD = 0.8

    def setup(self) -> None:
        spark, w = self.spark, self.work
        self.n_batches = self.unmeasured + max(
            1, math.ceil(self.seconds / self.MIN_PASS_S))
        n_total = self.N_INDEX + self.n_batches * self.HALF
        with self.tracer.span("plans.synth.generate"):
            synth.pages_df_distributed(spark, n_total, seed=self.seed).select(
                F.regexp_extract("url", r"/p(\d+)$", 1)
                .cast("long").alias("doc_id"),
                "text",
            ).write.parquet(f"{w}/corpus")
        corpus = spark.read.parquet(f"{w}/corpus")
        index_docs = corpus.filter(F.col("doc_id") < self.N_INDEX)
        new = corpus.filter(F.col("doc_id") >= self.N_INDEX).select(
            "doc_id", "text",
            F.floor((F.col("doc_id") - self.N_INDEX) / self.HALF)
            .cast("int").alias("b"),
            F.lit(None).cast("long").alias("src"),
        )
        # clone sources: long, varied docs, so one appended token keeps
        # the clone's Jaccard near 0.98 and LSH recall is certain; each
        # batch draws its own hash-ranked set
        toks = F.split(F.col("text"), r"\s+")
        eligible = index_docs.filter(
            (F.size(toks) >= 50) & (F.size(F.array_distinct(toks)) >= 25)
        )
        ranked = eligible.crossJoin(
            spark.range(self.n_batches).select(
                F.col("id").cast("int").alias("b"))
        ).withColumn(
            "r",
            F.row_number().over(Window.partitionBy("b").orderBy(
                F.xxhash64("doc_id", "b", F.lit(self.seed)), "doc_id")) - 1,
        ).filter(F.col("r") < self.HALF)
        clones = ranked.select(
            (F.col("b") * self.HALF + F.col("r") + self.CLONE_BASE)
            .alias("doc_id"),
            F.concat("text", F.lit(" crawlmark"), F.col("b"), F.lit("x"),
                     F.col("r")).alias("text"),
            "b",
            F.col("doc_id").alias("src"),
        )
        new.unionByName(clones).write.parquet(f"{w}/batches")
        self.batches = spark.read.parquet(f"{w}/batches")
        self.planted: dict[int, set] = {}
        for r in self.batches.filter("src is not null").select(
                "b", "src", "doc_id").collect():
            self.planted.setdefault(r["b"], set()).add((r["src"], r["doc_id"]))
        self.index = f"{w}/index"
        with self.tracer.span("operators.minhash_index.build"):
            self.n_built = MI.build_minhash_index(index_docs, self.index)[
                "n_docs"]
        cfg = P.PipelineConfig()
        self.sd_kw = dict(dim=cfg.semantic_dedup_dim, k=cfg.semantic_dedup_k,
                          tau=cfg.semantic_dedup_tau, impl="arrow")
        self.tracer.wrap(E, "hashed_doc_vectors",
                         "plans.embed.hashed_doc_vectors")
        self.tracer.wrap(SD, "semantic_dedup",
                         "operators.semdedup.semantic_dedup")
        self.results: list[dict] = []

    def run_pass(self, k: int) -> int:
        b = k + self.unmeasured
        if b >= self.n_batches:
            raise RuntimeError("out of prepared batches")
        batch = self.batches.filter(F.col("b") == b).select("doc_id", "text")
        with self.tracer.span("operators.minhash_index.query"):
            pairs = MI.query_minhash_index(batch, self.index,
                                           threshold=self.THRESHOLD)
            rows = pairs.select("id_index", "id_new", "jaccard").collect()
            release_cache(pairs)
        with self.tracer.span("plans.embed.semantic_dedup_text"):
            with self.tracer.span("plans.embed.semantic_dedup_text.construct"):
                kept = E.semantic_dedup_text(batch, **self.sd_kw)
            n_kept = kept.count()
            release_cache(kept)
        # a fresh batch_id per append: a repeated one is an
        # exactly-once no-op
        with self.tracer.span("operators.minhash_index.append"):
            res = MI.append_minhash_index(batch, self.index,
                                          batch_id=f"s{self.seed}-b{b}")
        self.results.append(dict(k=k, b=b, pairs=rows, kept=n_kept,
                                 appended=res["n_appended"]))
        return 2 * self.HALF

    def exhausted(self, k: int) -> bool:
        return k + self.unmeasured >= self.n_batches

    def _timed(self) -> list[dict]:
        return [r for r in self.results if r["k"] >= 0]

    def check(self) -> dict:
        errors: dict = {}
        for r in self._timed():
            b = r["b"]
            missed = self.planted[b] - {(a, n) for a, n, _ in r["pairs"]}
            if missed:
                errors.setdefault(b, f"batch {b}: {len(missed)} planted "
                                     f"clones missed, e.g. {sorted(missed)[:3]}")
            low = [p for p in r["pairs"] if p[2] < self.THRESHOLD]
            if low:
                errors.setdefault(b, f"batch {b}: pair below threshold {low[0]}")
            if not 0 < r["kept"] <= 2 * self.HALF:
                errors.setdefault(b, f"batch {b}: semantic dedup kept {r['kept']}")
            # docs too short to shingle are not indexed; every clone is
            if not self.HALF <= r["appended"] <= 2 * self.HALF:
                errors.setdefault(b, f"batch {b}: appended {r['appended']}")
        ver = MI.verify_minhash_index(self.spark, self.index)
        want = self.n_built + sum(r["appended"] for r in self.results)
        if not ver["consistent"] or ver["signatures"] != want:
            errors["index"] = f"index {ver} != {want} docs"
        return errors

    def layers(self, passes) -> dict[str, float]:
        tr, n = self.tracer, len(passes)

        def per(name):
            return tr.per_root(passes, name)

        # candidate pairs of each timed batch, rebuilt from the index's
        # on-disk bands: (indexed id, batch id) sharing a band key, where
        # the indexed doc was in the index when that batch was queried
        timed = [r["b"] for r in self._timed()]
        # batch of every indexed doc; -1 for the docs of the build
        bands = self.spark.read.parquet(f"{self.index}/bands").join(
            self.batches.select(F.col("doc_id").alias("id"), "b"), "id", "left"
        ).fillna(-1, ["b"])
        cand = (bands.alias("i").join(bands.alias("n"), "bk")
                .filter((F.col("n.b").isin(timed))
                        & (F.col("i.b") < F.col("n.b"))
                        & (F.col("i.id") != F.col("n.id")))
                .select("i.id", "n.id").distinct().count())
        verified = sum(len(r["pairs"]) for r in self._timed())
        return {
            "operators.minhash_index.query.s": per(
                "operators.minhash_index.query"),
            "operators.minhash_index.append.s": per(
                "operators.minhash_index.append"),
            "operators.minhash_index.candidate_pairs": cand / n,
            "operators.minhash_index.verified_pairs": verified / n,
            "operators.minhash_index.verify_ratio": verified / cand
            if cand else 0.0,
            "plans.embed.hashed_doc_vectors.s": per(
                "plans.embed.hashed_doc_vectors"),
            "operators.semdedup.semantic_dedup.s": per(
                "operators.semdedup.semantic_dedup"),
            "plans.embed.semantic_dedup_text.s": per(
                "plans.embed.semantic_dedup_text"),
            "plans.embed.semantic_dedup_text.construct_s": per(
                "plans.embed.semantic_dedup_text.construct"),
        }

    def log_layers(self, log, passes) -> dict[str, float]:
        sdt = self.tracer.within(passes, "plans.embed.semantic_dedup_text")
        return {"plans.embed.semantic_dedup_text.jobs":
                T.span_totals(log, self.tracer, sdt).jobs / len(passes)}


class DqReport(Workload):
    """One pass runs every query of dqdata.QUERIES; each query is one
    operation."""

    def setup(self) -> None:
        import dqdata

        import __spark_entry__ as entry

        # the tool prepends its own checkout path; keep ours
        saved = list(sys.path)
        from tools.check_oracle import frame_fingerprint

        sys.path[:] = saved

        self.fingerprint = frame_fingerprint
        self.sf = f"{self.work}/sf"
        self.rows = dqdata.write_tables(self.sf, self.seed)
        self.queries = dqdata.QUERIES
        self.ops_per_pass = len(self.queries)
        self.oracle = dqdata.oracle_answers(self.sf, self.queries,
                                            frame_fingerprint)
        self.fns = entry.queries()
        self.results: list[tuple[int, str, list, list | None]] = []

    def run_pass(self, k: int) -> int:
        for q in self.queries:
            with self.tracer.span(f"dq.{q}"):
                try:
                    with self.tracer.span("dq.construct"):
                        df = self.fns[q](self.spark, self.sf)
                    with self.tracer.span("dq.exec"):
                        rows = [tuple(r) for r in df.collect()]
                    release_cache(df)
                    self.results.append((k, q, df.columns, rows))
                except Exception:  # noqa: BLE001 — one failed operation
                    print(f"perfbench: dq_report {q} raised:", file=sys.stderr)
                    traceback.print_exc()
                    self.results.append((k, q, [], None))
        # docs_per_s must be reported on every workload; here it counts
        # the rows of every generated table, once per pass
        return sum(self.rows.values())

    def check(self) -> dict:
        errors: dict = {}
        for i, (k, q, cols, rows) in enumerate(self.results):
            if k < 0:
                continue
            want = self.oracle[q]
            have = None if rows is None else (
                sorted(cols), len(rows), self.fingerprint(cols, rows))
            if have != want:
                errors[i] = f"{q}: {have} != oracle {want}"
        return errors

    def layers(self, passes) -> dict[str, float]:
        out = {f"dq.{q}.s": self.tracer.per_root(passes, f"dq.{q}")
               for q in self.queries}
        for part in ("construct", "exec"):
            out[f"dq.{part}_s"] = self.tracer.per_root(passes, f"dq.{part}")
        return out


WORKLOADS = {
    "crawl_filter": CrawlFilter,
    "dedup_rolling": DedupRolling,
    "dq_report": DqReport,
}
