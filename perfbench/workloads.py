"""The benchmark workloads.

Each workload has the same shape: ``setup`` builds its seeded inputs
under the run's work directory; ``warmup`` runs untimed work that pays
first-run costs; ``iteration`` runs the timed operations once and returns their
wall times plus the facts the correctness checks compare; ``check``
tests one iteration and compares its facts with a reference: the first
timed iteration's.
Spark's cache is cleared before every timed operation, so no operation
reuses another's materialized frames.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.plans import curation
from adaptive_pdf_extractor_spark.plans.evaluate import field_accuracy
from adaptive_pdf_extractor_spark.plans.pipeline import ExtractionPipeline, PipelineConfig
from adaptive_pdf_extractor_spark.operators import dedup
from adaptive_pdf_extractor_spark.sources import spark_io

from . import corpora

PARTITIONS = 8  # the flagship's floor: max(8, min(2 x cores, docs // 500))


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object = None  # trace.Tracer in the traced run

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class IterResult:
    main_s: float
    followup_s: float
    facts: dict = field(default_factory=dict)
    roots: list = field(default_factory=list)  # span indices (traced run)


def cached_bytes(spark) -> int:
    """Storage (memory + disk) still held by cached RDDs/frames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def output_digest(df: DataFrame) -> str:
    """sha256 over the sorted per-row hashes of (doc_id, spans)."""
    rows = df.select(
        F.sha2(F.to_json(F.struct("doc_id", "spans")), 256).alias("h")
    ).collect()
    return hashlib.sha256("".join(sorted(r["h"] for r in rows)).encode()).hexdigest()


def rules_digest(rows: list[dict]) -> str:
    keyed = sorted((r["rule_id"], r["label"], r["field"], r["rule"],
                    r["validation_regex"], int(r["weight"])) for r in rows)
    return hashlib.sha256(json.dumps(keyed).encode()).hexdigest()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class LearnTemplates:
    """Cold learn from scratch, then a converged resume from the committed
    manifest, over one corpus of the template family with a few giant
    noise-prefixed documents. The learn exercises the round loop, the
    miner, anchor discovery and checkpoint writes; the resume skips them
    and pays only checkpoint reads plus the final extraction pass under
    heavy-tailed document sizes (the production rerun)."""

    name = "learn_templates"
    main_name, followup_name = "learn_s", "resume_s"
    PER_TEMPLATE = 40
    GIANTS = 2

    def __init__(self):
        self.n_docs = self.PER_TEMPLATE * corpora.N_TEMPLATES + self.GIANTS
        self.config = PipelineConfig(max_rounds=3, num_partitions=PARTITIONS)

    def setup(self, ctx: Ctx) -> dict:
        corpora.template_corpus_df(
            ctx.spark, ctx.seed, self.PER_TEMPLATE, self.GIANTS
        ).write.mode("overwrite").parquet(ctx.path("learn", "corpus"))
        self.fields = int(
            self.docs(ctx).select(F.sum(F.size("schema_fields"))).first()[0]
        )
        return {"templates": corpora.N_TEMPLATES, "docs": self.n_docs,
                "fields": self.fields, "giants": self.GIANTS,
                "giant_bytes": corpora.GIANT_BYTES}

    def docs(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.path("learn", "corpus"))

    def run_pipeline(self, ctx: Ctx, run_dir: str, fresh: bool):
        """One timed ``ExtractionPipeline.run``; returns (seconds, span)."""

        def go():
            with ctx.span("op") as root:
                ExtractionPipeline(ctx.spark, run_dir, self.config).run(
                    self.docs(ctx),
                    initial_rules_rows=[] if fresh else None,
                    write_output=True,
                )
            return root

        return _timed(go)

    def warmup(self, ctx: Ctx) -> None:
        """One untimed cold learn, which takes each code path of the timed
        learn and resume, so their first-run costs stay out of the
        timings. (A one-round learn costs a third less but left the timed
        learn bimodal: IQR/median 0.24 over ten seeds against 0.10.)"""
        self.run_pipeline(ctx, _fresh(ctx.path("learn", "run_warmup")), fresh=True)

    def iteration(self, ctx: Ctx, tag: str) -> IterResult:
        run_dir = _fresh(ctx.path("learn", f"run_{tag}"))
        res = IterResult(0.0, 0.0, facts={"run_dir": run_dir})
        res.main_s, root = self.run_pipeline(ctx, run_dir, fresh=True)
        res.roots.append(root)
        out = spark_io.read_table(ctx.spark, os.path.join(run_dir, "output"))
        res.facts["digest"] = output_digest(out)
        pipe = ExtractionPipeline(ctx.spark, run_dir)
        rules = pipe.final_rules()
        res.facts["rounds"] = len(pipe.manifest.state["rounds"])
        res.facts["rules"] = len(rules)
        res.facts["rules_sha256"] = rules_digest(rules)
        res.facts["field_accuracy"] = float(
            field_accuracy(out, self.docs(ctx)).accuracy
        )
        ctx.spark.catalog.clearCache()
        res.followup_s, root = self.run_pipeline(ctx, run_dir, fresh=False)
        res.roots.append(root)
        out = spark_io.read_table(ctx.spark, os.path.join(run_dir, "output"))
        res.facts["resume_digest"] = output_digest(out)
        res.facts["giants_resolved"], res.facts["giant_fields_exact"] = \
            self.giants_resolved(ctx, out)
        return res

    def giants_resolved(self, ctx: Ctx, out: DataFrame) -> tuple[bool, float]:
        """Whether every field a giant document carries comes out with a
        value, and the share of those values that are exact. (Like an
        ordinary document, a giant can pick up a neighbouring label's
        words: about one field in a thousand, which ``field_accuracy``
        counts; one seed in thirty gives a giant such a field.)"""
        is_giant = F.col("doc_id").startswith("giant/")
        expected = {
            r["doc_id"]: r["expected"]
            for r in self.docs(ctx).filter(is_giant).select("doc_id", "expected").collect()
        }
        got = {
            r["doc_id"]: {s["kind"]: s["text"] for s in r["spans"]}
            for r in out.filter(is_giant).collect()
        }
        present = [(got.get(d, {}).get(e["name"]), e["value"])
                   for d, exp in expected.items() for e in exp if e["value"] is not None]
        resolved = len(got) == self.GIANTS == len(expected) and all(g for g, _ in present)
        return resolved, sum(g == v for g, v in present) / max(len(present), 1)

    def check(self, r: IterResult, ref: IterResult) -> list[str]:
        f = r.facts
        bad = []
        if f["field_accuracy"] < 0.9:
            bad.append(f"field_accuracy {f['field_accuracy']:.4f} < 0.9")
        if f["resume_digest"] != f["digest"]:
            bad.append("resume output differs from the learn output")
        if not f["giants_resolved"]:
            bad.append("a giant document has an unresolved field")
        return bad + _same(r, ref, ["digest", "rules_sha256", "rounds", "rules",
                                    "field_accuracy"])


class CurationSf01:
    """Guarded LSH curation of a 1,000-document table in the mega-cluster
    regime, then an incremental curation of a 150-document delta against
    the old corpus's signature table."""

    name = "curation_sf01"
    main_name, followup_name = "curation_s", "increment_s"
    n_docs = 1000
    MAX_BUCKET = 24  # under half the largest LSH bucket (50-75 over seeds): the guard fires
    DELTA = 50  # docs of each kind in the delta

    def setup(self, ctx: Ctx) -> dict:
        docs_pd = corpora.curation_documents(ctx.seed, self.n_docs)
        spark = ctx.spark
        # one parquet file, as a single writer leaves a documents table
        docs_path = ctx.path("curation", "documents.parquet")
        os.makedirs(os.path.dirname(docs_path), exist_ok=True)
        docs_pd.to_parquet(docs_path, index=False)
        old = spark.read.parquet(docs_path).select("doc_id", "text")
        # bench.py's delta shape (near-dup mutations + re-ingestions)
        # plus documents the corpus has not seen, DELTA of each
        k = self.DELTA
        fresh = corpora.curation_documents(ctx.seed + 1, k)
        fresh["doc_id"] += 700000
        delta = spark.createDataFrame(fresh[["doc_id", "text"]]).unionByName(
            old.filter(F.col("doc_id") < k).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.expr("substring(text, 11)").alias("text"),
        )).unionByName(
            old.filter((F.col("doc_id") >= k) & (F.col("doc_id") < 2 * k))
            .select((F.col("doc_id") + 600000).alias("doc_id"), "text")
        )
        delta.write.mode("overwrite").parquet(ctx.path("curation", "delta"))
        # the daily pipeline reads old signatures from a table
        dedup.minhash_signatures_df(old, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(ctx.path("curation", "old_sigs"))
        return {"docs": self.n_docs, "delta_docs": 3 * self.DELTA,
                "max_bucket_size": self.MAX_BUCKET}

    def _docs(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.path("curation", "documents.parquet"))

    def increment(self, ctx: Ctx, res: IterResult) -> int:
        spark = ctx.spark
        with ctx.span("op") as root, ctx.span("curation.increment"):
            res.roots.append(root)
            return curation.curate_increment(
                spark.read.parquet(ctx.path("curation", "delta")),
                self._docs(ctx).select("doc_id", "text"),
                old_sigs=spark.read.parquet(ctx.path("curation", "old_sigs")),
                threshold=0.8,
            ).count()

    def warmup(self, ctx: Ctx) -> None:
        """Nothing: the set-up's signature job has already started the JVM's
        and the Python workers' code paths, a timed curation after it
        measured only ~1.3x a warm one (a warm-up costs a whole curation
        on this overhead-bound workload), and the timed increment runs
        after the warm curation."""

    def iteration(self, ctx: Ctx, tag: str) -> IterResult:
        res = IterResult(0.0, 0.0)
        self.curate(ctx, tag, res)
        ctx.spark.catalog.clearCache()
        res.followup_s, res.facts["increment_kept"] = _timed(
            lambda: self.increment(ctx, res)
        )
        return res

    def curate(self, ctx: Ctx, tag: str, res: IterResult) -> None:
        run_dir = _fresh(ctx.path("curation", f"run_{tag}"))
        if ctx.tracer is None:
            res.main_s, summary = _timed(
                lambda: curation.curation_run(
                    self._docs(ctx), run_dir, max_bucket_size=self.MAX_BUCKET
                )
            )
        else:
            res.main_s, summary = _timed(lambda: self.staged(ctx, run_dir, res))
        res.facts["kept"] = summary["n_output"]
        res.facts["guard"] = summary["guard"]

    def staged(self, ctx: Ctx, run_dir: str, res: IterResult) -> dict:
        """curation_run's composition with each stage materialized on its
        own, so every stage gets its own span (traced run only)."""
        from adaptive_pdf_extractor_spark.functions import text as T

        spark = ctx.spark
        funnel = res.facts.setdefault("funnel", {})
        with ctx.span("op") as root:
            res.roots.append(root)
            docs = self._docs(ctx)
            funnel["in"] = self.n_docs
            with ctx.span("curation.gate"):
                scored = dedup._spread(docs).withColumn(
                    "quality", T.quality_score(F.col("text"))
                )
                passed = scored.filter(F.col("quality") >= 0.5).persist()
                funnel["quality_out"] = passed.count()
                kept = dedup.exact_dedup_keep(passed, "doc_id", "text").persist()
                funnel["exact_out"] = kept.count()
            with ctx.span("dedup.signatures"):
                sigs = dedup.minhash_signatures_df(kept, "doc_id", "text").persist()
                sigs.count()
            obs = Observation("lsh_guard")
            with ctx.span("dedup.pair_stage"):
                pairs = dedup.minhash_lsh_pairs_from_sigs(
                    sigs, kept, "doc_id", "text", threshold=0.8,
                    max_bucket_size=self.MAX_BUCKET, observation=obs,
                ).select("id_a", "id_b").persist()
                res.facts["verified_pairs"] = pairs.count()
            with ctx.span("dedup.clusters"):
                clusters = dedup.neardup_clusters(
                    kept.select(F.col("doc_id").alias("id")), pairs
                )
                canon = clusters.filter(
                    F.col("doc_id") == F.col("canonical_id")
                ).select("doc_id", "cluster_size").persist()
                funnel["neardup_out"] = canon.count()
            with ctx.span("curation.write"):
                out = kept.join(canon, "doc_id").select(
                    "doc_id", "cluster_size",
                    T.token_count(F.col("text")).cast("long").alias("n_tokens"),
                    "quality",
                )
                spark_io.write_table(out, os.path.join(run_dir, "curated.parquet"))
        with ctx.span("trace.probe"):
            # candidate pairs = the pair stage's output with verification
            # opened up (threshold 0 passes every candidate)
            res.facts["candidate_pairs"] = dedup.minhash_lsh_pairs_from_sigs(
                sigs, kept, "doc_id", "text", threshold=0.0,
                max_bucket_size=self.MAX_BUCKET,
            ).count()
        guard = obs.get
        for frame in (passed, kept, sigs, pairs, canon):
            frame.unpersist()
        return {
            "n_output": funnel["neardup_out"],
            "guard": {
                "max_bucket_size": self.MAX_BUCKET,
                "star_candidate_rows": int(guard.get("star_candidate_rows") or 0),
                "max_oversized_bucket": guard.get("max_oversized_bucket"),
                "flood_regime": bool(guard.get("star_candidate_rows")),
            },
        }

    def check(self, r: IterResult, ref: IterResult) -> list[str]:
        bad = [] if r.facts["guard"]["flood_regime"] else [
            "the LSH guard did not fire"
        ]
        return bad + _same(r, ref, ["kept", "guard", "increment_kept"])


def _same(r: IterResult, ref: IterResult, keys: list[str]) -> list[str]:
    """Facts that must repeat exactly across runs of the same inputs; a
    fact the reference lacks is not compared."""
    return [
        f"{k} {r.facts[k]!r} differs from the reference's {ref.facts[k]!r}"
        for k in keys
        if k in ref.facts
        and json.dumps(r.facts[k], sort_keys=True)
        != json.dumps(ref.facts[k], sort_keys=True)
    ]


WORKLOADS = {w.name: w for w in (LearnTemplates, CurationSf01)}
