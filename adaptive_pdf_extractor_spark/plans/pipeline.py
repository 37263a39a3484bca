"""The bounded-iterative-broadcast extraction pipeline.

This is the distributed recast of the reference's sequential adaptive loop
(src/main.py:179-325). Instead of mutating a cache document-by-document, the
corpus is scanned in **rounds**, each a stateless batch job over a frozen
broadcast rule set::

    round r:
      1. broadcast rules(r)  ->  fused extraction pass (operators.extract)
      2. one aggregate action: per-rule hit counts, summed into the rules
         table (replaces in-place bubble-up — end-state totals are
         order-independent, SURVEY §2.4), and the per-partition lineage
         whose sums are the round metrics
      3. unresolved (doc, field) pairs  ->  hash-sampled  ->  grouped
         applyInPandas rule mining (operators.miner); a round with no
         unresolved field mines nothing and submits no job
      4. accepted rules appended (weight=1, next rule_seq — matching the
         reference's add-at-tail, src/cache.py:182-199); rules snapshot +
         manifest committed (plans.checkpoint)
      until no new rules or max_rounds (analog of the reference's
      max_attempts feedback bound, src/main.py:62-67)

    final pass: extraction with the converged rules + the deterministic
      direct extractor as slow-path fallback for still-unresolved fields
      (the reference's answers for LLM-extracted fields come from the LLM
      directly, src/main.py:262 — the direct extractor is that analog).
      The run summary is an Observation on the output write, so the final
      pass is one job and caches nothing.

Convergence: the unresolved-pair count is monotonically non-increasing
across rounds (rules are only added, never removed, and extraction is
deterministic), so the loop terminates in <= max_rounds scans.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rules import RuleBook
from ..operators.extract import extract_documents, salted_repartition
from ..operators.miner import (
    ANCHOR_DDL,
    MINED_DDL,
    direct_extract_series,
    make_discover_fn,
    make_miner_fn,
)
from ..sources import spark_io
from .checkpoint import RunManifest


# Miner acceptance: a mined rule must pass its checks on at least this
# share of its examples; at most this many hash-smallest examples per
# (label, field) reach the miner.
MIN_PASS_RATE = 0.9
MAX_EXAMPLES_PER_GROUP = 64
# Corpus-driven anchor discovery (operators.miner.discover_label_anchors)
# learns each field's rendered label from the documents instead of
# assuming field.title(). It runs once, on this many hash-smallest
# unresolved docs per label of the first round; discovered anchors persist
# in the manifest so resumed runs replay identically.
ANCHOR_SAMPLE_PER_LABEL = 128
# strip_boilerplate: a text span is boilerplate when it recurs in at least
# this share of its label's docs and in at least this many docs.
BOILERPLATE_MIN_DOC_FRAC = 0.5
BOILERPLATE_MIN_DOCS = 5


@dataclass
class PipelineConfig:
    max_rounds: int = 5            # reference max_attempts default (src/main.py:62-67)
    # Fraction of unresolved docs shipped to the miner, selected by stable
    # doc_id hash (deterministic). At 10^12 docs the miner needs only a few
    # thousand examples per (label, field); everything else is wasted I/O.
    miner_sample_mod: int = 1      # 1 = all; K = ~1/K of unresolved docs
    num_partitions: Optional[int] = None
    direct_fallback: bool = True
    # Standalone keyword-contamination guard (miner.validate_no_other_keywords):
    # drop slow-path example values containing another field's keyword before
    # shape induction. Default OFF to match the reference, which defines the
    # check but leaves it disabled (src/rule.py:415-467, :235-241); the
    # always-on negative lookahead in mined validation regexes is separate.
    keyword_guard: bool = False
    # Main-content pre-stage: strip corpus-frequency boilerplate lines from
    # text spans before extraction (operators.layout.boilerplate_strip).
    # Off by default: the reference parity corpora are boilerplate-free and
    # the stage must reduce to identity there (SURVEY §2.11).
    strip_boilerplate: bool = False


_METRIC_KEYS = ["docs", "unresolved_fields", "rule_hits", "text_spans", "media_spans"]


def _rule_hits():
    return F.filter("hits", lambda h: h["path"] == F.lit("rule"))


def _metric_aggs() -> list:
    """The round metrics as aggregates over an extraction frame."""
    return [
        F.count("*").alias("docs"),
        F.sum(F.size("unresolved")).alias("unresolved_fields"),
        F.sum(F.size(_rule_hits())).alias("rule_hits"),
        F.sum("n_text_spans").alias("text_spans"),
        F.sum("n_media_spans").alias("media_spans"),
    ]


def _lineage(rows) -> list[dict]:
    """Per-partition metric rows, ordered by part_id (manifest bytes must
    not depend on collect order)."""
    out = [{"part_id": r["part_id"], **{k: r[k] for k in _METRIC_KEYS}} for r in rows]
    return sorted(out, key=lambda r: r["part_id"])


def _totals(lineage: list[dict]) -> dict:
    totals = {k: int(sum(r[k] or 0 for r in lineage)) for k in _METRIC_KEYS}
    totals["fast_path_doc_rate"] = None
    return totals


def aggregate_weights(
    rules_rows: list[dict], extracted: DataFrame
) -> tuple[list[dict], list[dict]]:
    """One aggregate action per round: weights += this round's per-rule hit
    counts, plus the per-partition lineage (whose sums are the round
    metrics). Each doc explodes to its rule hits (``posexplode_outer``, so
    a doc without hits keeps one row); only its first row carries the doc's
    own stats. ``groupingSets([part_id], [rule_id])`` then aggregates both
    keys in one shuffle, O(partitions + rules) result rows."""
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0

    def doc_sum(c):
        return F.sum(F.when(first, F.col(c)))

    rows = (
        extracted.select(
            "part_id",
            "n_text_spans",
            "n_media_spans",
            F.size("unresolved").alias("n_unresolved"),
            F.posexplode_outer(_rule_hits()).alias("pos", "h"),
        )
        .select("*", F.col("h.rule_id").alias("rule_id"))
        .groupingSets([["part_id"], ["rule_id"]], "part_id", "rule_id")
        .agg(
            F.grouping("part_id").alias("by_rule"),
            F.count(F.when(first, 1)).alias("docs"),
            doc_sum("n_unresolved").alias("unresolved_fields"),
            F.count("rule_id").alias("rule_hits"),
            doc_sum("n_text_spans").alias("text_spans"),
            doc_sum("n_media_spans").alias("media_spans"),
        )
        .collect()
    )
    by_id = {r["rule_id"]: r["rule_hits"] for r in rows if r["by_rule"]}
    out = []
    for row in rules_rows:
        row = dict(row)
        row["weight"] = int(row["weight"]) + int(by_id.get(row["rule_id"], 0))
        out.append(row)
    return out, _lineage(r for r in rows if not r["by_rule"])


def _next_ids(rules_rows: list[dict]) -> tuple[int, dict[tuple, int]]:
    next_id = max((r["rule_id"] for r in rules_rows), default=-1) + 1
    next_seq: dict[tuple, int] = {}
    for r in rules_rows:
        k = (r["label"], r["field"])
        next_seq[k] = max(next_seq.get(k, -1), r["rule_seq"])
    return next_id, {k: v + 1 for k, v in next_seq.items()}


class ExtractionPipeline:
    """Driver for the round loop with checkpointed exact resume."""

    def __init__(self, spark: SparkSession, run_dir: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.run_dir = run_dir
        self.config = config or PipelineConfig()
        self.manifest = RunManifest(run_dir)
        # (label, field) -> anchor row dict; loaded for exact resume.
        self.anchors: dict[tuple, dict] = {
            (a["label"], a["field"]): a
            for a in self.manifest.state.get("anchors", [])
        }

    # -- internals -----------------------------------------------------------

    def _anchor_map(self) -> dict[tuple, str]:
        return {k: a["anchor"] for k, a in self.anchors.items()}

    def _extract(self, docs: DataFrame, rules_rows: list[dict], final: bool) -> DataFrame:
        book = RuleBook.from_rows(rules_rows)
        direct = None
        if final and self.config.direct_fallback:
            by_label: dict[str, dict[str, str]] = {}
            for (label, fld), a in self.anchors.items():
                by_label.setdefault(label, {})[fld] = a["anchor"]

            def direct(lbl, fields, fld, texts, _by_label=by_label):
                return direct_extract_series(
                    lbl, fields, fld, texts, anchors=_by_label.get(lbl)
                )

        return extract_documents(docs, book, direct_extractor=direct)

    def _discover_anchors(self, extracted: DataFrame, docs: DataFrame) -> None:
        """One bounded pass of corpus-driven anchor discovery for labels not
        yet covered: take the ANCHOR_SAMPLE_PER_LABEL hash-smallest unresolved
        docs per label (deterministic at any parallelism), broadcast-join
        their schema/expected metadata from ``docs`` (streams the big side,
        no shuffle of docs), and mine anchors per label group. Results are
        driver state (KB-scale: labels x fields rows) persisted in the
        manifest, mirroring the rules table's lifecycle."""
        cfg = self.config
        covered = sorted({label for (label, _f) in self.anchors})
        need = extracted.filter(F.size("unresolved") > 0).select(
            "doc_id", "label", "norm_text"
        )
        # Same hash pre-sample as the miner: without it, the per-label
        # row_number window below shuffles EVERY unresolved row's norm_text
        # (few labels -> skewed reducers at corpus scale); with it, only
        # ~1/miner_sample_mod of them.
        if cfg.miner_sample_mod > 1:
            need = need.filter(
                F.pmod(F.xxhash64("doc_id"), F.lit(cfg.miner_sample_mod)) == 0
            )
        if covered:
            need = need.filter(~F.col("label").isin(covered))
        w = Window.partitionBy("label").orderBy(F.xxhash64("doc_id"), "doc_id")
        sample = (
            need.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= ANCHOR_SAMPLE_PER_LABEL)
            .drop("_rn")
        )
        meta_cols = [docs["doc_id"], docs["schema_fields"]]
        if "expected" in docs.columns:
            meta_cols.append(docs["expected"])
        else:
            meta_cols.append(
                F.lit(None)
                .cast("array<struct<name:string,value:string>>")
                .alias("expected")
            )
        meta = docs.select(*meta_cols)
        # Broadcast only the sampled doc_ids (bytes/label-row), not the
        # sample's norm_text payloads — at many-template scale the text
        # side is GBs and F.broadcast bypasses the auto threshold. The
        # second join is tiny-vs-tiny; AQE picks its strategy.
        keys = sample.select("doc_id")
        meta_small = meta.join(F.broadcast(keys), "doc_id")
        joined = meta_small.join(sample, "doc_id")
        rows = (
            joined.groupBy("label")
            .applyInPandas(
                make_discover_fn(max_texts=ANCHOR_SAMPLE_PER_LABEL),
                schema=ANCHOR_DDL,
            )
            .collect()
        )
        for r in rows:
            key = (r["label"], r["field"])
            if key not in self.anchors:  # first discovery wins (replay-stable)
                self.anchors[key] = r.asDict()

    def _round_metrics(self, extracted: DataFrame) -> dict:
        return _totals(extracted.groupBy().agg(*_metric_aggs()).collect())

    def _mine(self, extracted: DataFrame) -> list[dict]:
        cfg = self.config
        pairs = (
            extracted.filter(F.size("unresolved") > 0)
            .filter(
                (F.pmod(F.xxhash64("doc_id"), F.lit(cfg.miner_sample_mod)) == 0)
                if cfg.miner_sample_mod > 1
                else F.lit(True)
            )
            .select(
                "doc_id",
                "label",
                "norm_text",
                "all_fields",
                F.explode("unresolved").alias("field"),
            )
        )
        # Deterministic example selection: keep the max_examples hash-smallest
        # doc_ids per (label, field) BEFORE the grouped UDF, so (a) the mined
        # rule is independent of partition/arrival order at any cluster size
        # (checkpoint.py replay contract) and (b) only a bounded number of
        # norm_text payloads per group ever shuffle — the rest of the
        # unresolved corpus never leaves its scan partition.
        w = Window.partitionBy("label", "field").orderBy(
            F.xxhash64("doc_id"), "doc_id"
        )
        pairs = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= MAX_EXAMPLES_PER_GROUP)
            .drop("_rn")
        )
        mined = pairs.groupBy("label", "field").applyInPandas(
            make_miner_fn(
                min_pass_rate=MIN_PASS_RATE,
                max_examples=MAX_EXAMPLES_PER_GROUP,
                anchors=self._anchor_map(),
                keyword_guard=cfg.keyword_guard,
            ),
            schema=MINED_DDL,
        )
        return [r.asDict() for r in mined.collect()]

    def _accept(
        self, rules_rows: list[dict], mined: list[dict], round_no: int
    ) -> list[dict]:
        """Dedup mined candidates against the table and append accepted ones
        (weight=1 at tail — reference add_rule semantics)."""
        existing = {(r["label"], r["field"], r["rule"]) for r in rules_rows}
        next_id, next_seq = _next_ids(rules_rows)
        accepted = []
        for m in sorted(mined, key=lambda m: (m["label"], m["field"], m["kind"])):
            key = (m["label"], m["field"], m["rule"])
            if key in existing:
                continue
            existing.add(key)
            k = (m["label"], m["field"])
            seq = next_seq.get(k, 0)
            next_seq[k] = seq + 1
            accepted.append(
                {
                    "label": m["label"],
                    "field": m["field"],
                    "rule": m["rule"],
                    "validation_regex": m["validation_regex"],
                    "weight": 1,
                    "rule_seq": seq,
                    "round_added": round_no,
                    "rule_id": next_id,
                }
            )
            next_id += 1
        return accepted

    def _snapshot(self, rules_rows: list[dict], round_no: int) -> str:
        path = self.manifest.rules_snapshot_path(round_no)
        spark_io.write_table(
            spark_io.rules_df_from_rows(self.spark, rules_rows), path
        )
        return path

    @staticmethod
    def load_rules_snapshot(spark: SparkSession, path: str) -> list[dict]:
        rows = [r.asDict() for r in spark_io.read_table(spark, path).collect()]
        rows.sort(key=lambda r: r["rule_id"])
        return rows

    # -- entry ----------------------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        initial_rules_rows: Optional[list[dict]] = None,
        write_output: bool = True,
    ) -> DataFrame:
        """Run (or resume) the full pipeline; returns the output span table."""
        cfg = self.config
        start_round = self.manifest.last_completed_round() + 1
        # A finished run resumes straight to the final pass: its rules
        # are converged and committed; re-mining would append spurious
        # rounds to the manifest. Same for a run that crashed BETWEEN a
        # converged round's commit and finish(): the last committed
        # round's n_new_rules == 0 proves convergence, and an extra
        # resumed round would re-aggregate a whole pass of rule-weight
        # hits (which can flip priority order — not byte-identical).
        prev = next(
            (
                r
                for r in self.manifest.state.get("rounds", [])
                if r["round"] == start_round - 1
            ),
            None,
        )
        converged = prev is not None and prev.get("n_new_rules", 1) == 0
        round_range = (
            []
            if (self.manifest.complete or converged)
            else range(start_round, cfg.max_rounds)
        )

        spans_before = None
        if cfg.strip_boilerplate:
            from ..operators.layout import strip_boilerplate_spans

            spans_before = docs.select(
                F.sum(F.size("spans")).alias("n")
            ).first()["n"] or 0
            docs = strip_boilerplate_spans(
                docs,
                min_doc_frac=BOILERPLATE_MIN_DOC_FRAC,
                min_docs=BOILERPLATE_MIN_DOCS,
            )
        if cfg.num_partitions:
            docs = salted_repartition(docs, cfg.num_partitions)
        # Cache docs only when it is read more than once: by the rounds and
        # the final pass, or by the strip count and the final pass. A
        # converged resume reads it once.
        cached = bool(round_range) or spans_before is not None
        if cached:
            docs = docs.persist()
        try:
            if spans_before is not None:
                # AFTER persist: this first action materializes the cache,
                # so the two-shuffle strip plan executes exactly once
                # (counting before persisting re-ran it for round 0)
                spans_after = docs.select(
                    F.sum(F.size("spans")).alias("n")
                ).first()["n"] or 0
                # north_star metric: boilerplate strip rate
                self.manifest.state["boilerplate"] = {
                    "spans_before": int(spans_before),
                    "spans_after": int(spans_after),
                    "strip_rate": round(
                        1 - spans_after / spans_before, 6
                    ) if spans_before else 0.0,
                }
            if start_round > 0:
                rules_rows = self.load_rules_snapshot(
                    self.spark, self.manifest.latest_rules_path()
                )
            else:
                rules_rows = list(initial_rules_rows or [])

            for round_no in round_range:
                extracted = self._extract(docs, rules_rows, final=False).persist()
                try:
                    rules_rows, lineage = aggregate_weights(rules_rows, extracted)
                    metrics = _totals(lineage)
                    # no unresolved field: discovery and mining would read
                    # an empty sample, so neither runs a job
                    unresolved = metrics["unresolved_fields"] > 0
                    if not self.manifest.state.get("anchor_discovery_done"):
                        # Anchors are template properties: one discovery pass
                        # over the first executed round's unresolved docs
                        # covers every label that will ever reach the miner
                        # (unresolved labels shrink monotonically). The
                        # manifest flag (committed with the round) makes a
                        # RESUMED run skip re-discovery exactly like the
                        # uninterrupted run would — re-running on a later
                        # round's different sample could diverge.
                        if unresolved:
                            self._discover_anchors(extracted, docs)
                        self.manifest.state["anchors"] = sorted(
                            self.anchors.values(), key=lambda a: (a["label"], a["field"])
                        )
                        self.manifest.state["anchor_discovery_done"] = True
                    mined = self._mine(extracted) if unresolved else []
                finally:
                    extracted.unpersist()
                accepted = self._accept(rules_rows, mined, round_no)
                rules_rows = rules_rows + accepted
                path = self._snapshot(rules_rows, round_no)
                metrics["n_rules"] = len(rules_rows)
                self.manifest.commit_round(
                    round_no, path, metrics, lineage, n_new_rules=len(accepted)
                )
                if not accepted:
                    break  # converged: another scan cannot change anything

            final = self._extract(docs, rules_rows, final=True)
            out_path = f"{self.run_dir}/output"
            if write_output:
                # Final-pass metrics on BOTH paths (a persisted production
                # run must not finish with an empty summary). Here they
                # ride the output write as an Observation: one job, no
                # cache, no second scan.
                obs = Observation()
                spark_io.write_table(
                    final.observe(obs, *_metric_aggs()).select("doc_id", "spans"),
                    out_path,
                )
                summary = _totals([obs.get])
                output = spark_io.read_table(self.spark, out_path)
            else:
                output = final.select("doc_id", "spans")
                summary = self._round_metrics(final)
            self.manifest.finish(out_path if write_output else None, summary)
            return output
        finally:
            if cached:
                docs.unpersist()

    def final_rules(self) -> list[dict]:
        path = self.manifest.latest_rules_path()
        return self.load_rules_snapshot(self.spark, path) if path else []
