#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the machine's cores, as
session.get_spark). Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "docs_per_sec": ...}

The headline number for the north_star metric is ``docs_per_sec``:
sustained fast-path extraction throughput (converged rules, the steady
state of a 10^12-document run). ``adaptive_extract`` times the full
learn-from-scratch loop; the relational/dedup/similarity queries cover the
rest of the operator surface.

**Process-isolated query groups**: a single long-lived bench process
contaminates its own numbers — reused Python workers' RSS balloons through
the heavy pandas-UDF queries and everything measured afterwards reads
15-40% slow (reproduced and quantified in BENCH.md; the round-3 driver
artifact drifted exactly this way). Each group therefore runs in a FRESH
subprocess (fresh JVM + fresh Python worker pool); per-query timings are
measured inside the group, JVM startup is excluded, and the parent merges
the partial results into the single JSON line. BENCH_GROUPS=a,b filters
groups for local iteration; running a group inline:
``python3 bench.py --group fastpath``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
FASTPATH_DOCS = int(os.environ.get("BENCH_FASTPATH_DOCS", "100000"))

GROUPS = ["fastpath", "adaptive", "relational", "textops", "lsh"]


def _control_loop(n: int) -> float:
    """One pure-Python worker: n dependent integer ops, no Spark, no
    numpy — a hardware probe, not an engine benchmark."""
    t0 = time.time()
    x = 0
    for i in range(n):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
    return time.time() - t0


def noise_control(
    workers: int = min(8, os.cpu_count() or 1), n: int = 5_000_000
) -> tuple[float, float]:
    """No-Spark multiprocessing control (the BENCH.md methodology, now
    self-labeling in the artifact): per-proc efficiency of ``workers``
    concurrent pure-Python loops vs one, at most one worker per core (so
    a box with fewer than 8 cores does not always read as noisy).
    Healthy machine ~= 0.85+; hypervisor noise windows reproduce ~2x
    degradation on everything parallel (observed round 4: 0.45) — a low
    value here flags the whole run's parallel numbers as
    machine-noise-contaminated."""
    import multiprocessing as mp

    _control_loop(n // 10)  # frequency/cache ramp before the baseline
    t1 = _control_loop(n)
    with mp.Pool(workers) as pool:
        times = pool.map(_control_loop, [n] * workers)
    # (efficiency ratio, absolute 1-proc seconds): the ratio catches
    # multicore-collapse windows; the ABSOLUTE single-core time catches
    # frequency/throttling windows the ratio is blind to (observed: a
    # window where every query ran ~25% slow with the ratio at 0.98)
    return round(min(t1 / (sum(times) / len(times)), 1.0), 3), round(t1, 3)


def _get_spark():
    from adaptive_pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    spark.range(1000).select(F.sum("id")).collect()  # JVM warmup
    return spark


def _timed(timings: dict, name: str, fn, trials: int = 2) -> None:
    # warmup run first (first executions pay 8-30x JIT/classload), then
    # best-of-N: ambient machine noise swings single unpinned runs ~2x
    # (the pinned measurements in BENCH.md are the stable reference).
    # The long pandas-UDF queries (lsh group) use best-of-3 — measured
    # ±30% run-to-run GC/JIT wobble even with a healthy noise control.
    fn()
    best = float("inf")
    for _ in range(trials):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    timings[name] = round(best, 3)


# ---------------------------------------------------------------------------
# groups — each runs in its own subprocess (fresh JVM + Python workers)
# ---------------------------------------------------------------------------


def group_fastpath() -> dict:
    """Steady-state fast-path throughput: the 100k headline point and the
    1M sustained point, measured in a pristine process."""
    from pyspark.sql import functions as F

    from adaptive_pdf_extractor_spark.functions.rules import RuleBook
    from adaptive_pdf_extractor_spark.operators.extract import extract_documents
    from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
    from adaptive_pdf_extractor_spark.sources import spark_io

    spark = _get_spark()
    timings: dict = {}
    extra: dict = {}
    book = RuleBook.from_rows(
        corpus_mod.reference_cache_to_rule_rows(
            "/root/reference/data/fake/caches/fake_dataset_1000samples_seed_1_cache.json"
        )
    )
    corpus = spark_io.synthetic_corpus_df(
        spark, seed=99, count=FASTPATH_DOCS, partitions=CPUS * 2
    ).persist()
    corpus.count()  # materialize outside the timed section

    def fastpath():
        out = extract_documents(corpus, book)
        # realistic sink-side work: span count + rule-hit tally
        out.select(
            F.sum(F.size("spans")), F.sum(F.size("unresolved"))
        ).collect()

    _timed(timings, "fastpath_extract", fastpath)
    extra["docs_per_sec"] = round(
        FASTPATH_DOCS / timings["fastpath_extract"], 1
    )
    extra["fastpath_docs"] = FASTPATH_DOCS
    corpus.unpersist()

    sustained_docs = int(os.environ.get("BENCH_SUSTAINED_DOCS", "1000000"))
    extra["sustained_docs"] = sustained_docs
    extra["sustained_docs_per_sec"] = None
    if sustained_docs > 0:
        big_corpus = spark_io.synthetic_corpus_df(
            spark, seed=77, count=sustained_docs, partitions=CPUS * 4
        ).persist()
        big_corpus.count()
        t0 = time.time()
        extract_documents(big_corpus, book).select(
            F.sum(F.size("spans")), F.sum(F.size("unresolved"))
        ).collect()
        timings["fastpath_sustained_1m"] = round(time.time() - t0, 3)
        extra["sustained_docs_per_sec"] = round(
            sustained_docs / timings["fastpath_sustained_1m"], 1
        )
        big_corpus.unpersist()
    return {"queries": timings, **extra}


def group_adaptive() -> dict:
    """Learn-from-scratch + converged resume (same process: the resume
    point reuses the manifest the scratch run committed to this PID's run
    dir)."""
    import __spark_entry__ as entry_mod

    spark = _get_spark()
    timings: dict = {}
    _timed(
        timings,
        "adaptive_extract",
        lambda: entry_mod.q_adaptive_extract(spark, SF_DIR).count(),
    )
    _timed(
        timings,
        "adaptive_extract_resume",
        lambda: entry_mod._flagship(spark, SF_DIR, fresh=False).count(),
    )
    return {"queries": timings}


def group_relational() -> dict:
    """Relational / window / temporal operator surface — sub-second
    queries, no pandas UDFs; a fresh process keeps them free of worker-RSS
    contamination."""
    import __spark_entry__ as entry_mod

    spark = _get_spark()
    qs = entry_mod.queries()
    timings: dict = {}
    names = [
        "tpch_q1",
        "revenue_by_nation",
        "top_orders_window",
        "events_tumbling",
        "events_asof_join",
        "events_sessions",
        "events_rollup",
        "events_pivot",
        "events_grouping_sets",
        "events_range_window",
        "events_stratified_sample",
    ]
    # group-level warmup: run every query once uncounted so the young
    # JVM's JIT/classload/parquet-reader costs are paid before timing —
    # the long-warm state the pre-isolation bench measured sub-second
    # queries in, without its cross-group contamination
    for name in names:
        qs[name](spark, SF_DIR).count()
    for name in names:
        _timed(timings, name, lambda n=name: qs[n](spark, SF_DIR).count())
    return {"queries": timings}


def group_textops() -> dict:
    """Text analytics + exact dedup + exact embedding ops."""
    import __spark_entry__ as entry_mod

    spark = _get_spark()
    qs = entry_mod.queries()
    timings: dict = {}
    names = [
        "tf_idf_terms",
        "approx_top_terms",
        "doc_quality",
        "lang_id_dist",
        "exact_dedup",
        "decontaminate",
        "lm_quality",
        "doc_repetition",
        "pii_redact",
        "embedding_topk",
        "embedding_neardup",
        "embedding_knn_join",
    ]
    for name in names:  # group-level warmup (see group_relational)
        qs[name](spark, SF_DIR).count()
    for name in names:
        _timed(timings, name, lambda n=name: qs[n](spark, SF_DIR).count())
    return {"queries": timings}


def group_lsh() -> dict:
    """The heavy pandas-UDF block: curation pipelines, LSH families, IVF
    join — isolated last so their worker-RSS cost lands nowhere."""
    import __spark_entry__ as entry_mod
    from adaptive_pdf_extractor_spark.operators import similarity

    spark = _get_spark()
    qs = entry_mod.queries()
    timings: dict = {}
    extra: dict = {}
    for name in [
        "corpus_curation",
        "embedding_knn_join_ivf",
        "corpus_curation_lsh",
    ]:
        _timed(
            timings, name, lambda n=name: qs[n](spark, SF_DIR).count(),
            trials=3,
        )

    def minhash_full():
        # deliberately UNguarded: like-for-like with BENCH_r02/r03 (the
        # guarded pair stage is measured through corpus_curation_lsh)
        from adaptive_pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        minhash_lsh_pairs(d, "doc_id", "text", threshold=0.8).count()

    # trials=2 (NOT 3): minhash_lsh_full is one of the two DELIBERATELY
    # like-for-like bench points (CLAUDE.md invariant 6) — changing the
    # trial count would change the recorded statistic across rounds
    _timed(timings, "minhash_lsh_full", minhash_full)

    # Incremental batch curation: old corpus signatures are the PERSISTED
    # one-time cost (materialized outside the timed section — the daily
    # pipeline reads them from a table); the timed run curates a 200-doc
    # delta (100 near-dup mutations + 100 verbatim re-ingestions) against
    # the full documents table. Cost must scale with the delta: compare
    # against corpus_curation_lsh, which re-curates the whole corpus.
    from pyspark.sql import functions as F

    from adaptive_pdf_extractor_spark.operators.dedup import (
        minhash_signatures_df,
    )
    from adaptive_pdf_extractor_spark.plans.curation import curate_increment

    old_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .persist()
    )
    old_sigs = minhash_signatures_df(old_docs, "doc_id", "text").persist()
    extra["incremental_old_docs"] = old_docs.count()
    old_sigs.count()  # materialize the signature table outside the timer
    new_batch = (
        old_docs.filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.expr("substring(text, 11)").alias("text"),
        )
        .unionByName(
            old_docs.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
            ).select((F.col("doc_id") + 600000).alias("doc_id"), "text")
        )
    )

    def incremental():
        curate_increment(
            new_batch, old_docs, old_sigs=old_sigs, threshold=0.8
        ).count()

    _timed(timings, "incremental_curation_delta", incremental, trials=3)
    old_sigs.unpersist()
    old_docs.unpersist()

    # Bucketed embedding near-dup at 10x the exact query's N (materialized
    # outside the timed section). Deliberately UNguarded, like-for-like
    # with BENCH_r02/r03: at this N the hyperplane buckets legitimately
    # exceed any small cap, so the guard would change the measured
    # workload, not just its hygiene.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    big = emb
    for j in range(1, 5):
        big = big.unionByName(entry_mod.perturbed_embedding_copy(emb, j))
    big = big.persist()
    extra["lsh_vectors"] = big.count()

    def emb_lsh():
        similarity.embedding_neardup_pairs(
            big, "vec_id", "embedding", threshold=0.95, n_planes=8,
            n_tables=4,
        ).count()

    # trials=2: the other like-for-like comparability point (see above)
    _timed(timings, "embedding_neardup_lsh_10x", emb_lsh)
    big.unpersist()
    return {"queries": timings, **extra}


GROUP_FNS = {
    "fastpath": group_fastpath,
    "adaptive": group_adaptive,
    "relational": group_relational,
    "textops": group_textops,
    "lsh": group_lsh,
}


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--group":
        result = GROUP_FNS[sys.argv[2]]()
        print("BENCH_GROUP_JSON:" + json.dumps(result))
        return

    wanted = [
        g
        for g in os.environ.get("BENCH_GROUPS", ",".join(GROUPS)).split(",")
        if g
    ]
    timings: dict = {}
    extra: dict = {}
    control_pre, control_pre_sec = noise_control()
    for g in wanted:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--group", g],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        marker = [
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("BENCH_GROUP_JSON:")
        ]
        if proc.returncode != 0 or not marker:
            sys.stderr.write(
                f"group {g} failed (rc={proc.returncode}):\n"
                + proc.stdout[-2000:]
                + proc.stderr[-4000:]
            )
            sys.exit(1)
        result = json.loads(marker[-1].split(":", 1)[1])
        timings.update(result.pop("queries"))
        extra.update(result)

    control_post, control_post_sec = noise_control()
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (sum)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
                "docs_per_sec": extra.get("docs_per_sec"),
                "fastpath_docs": extra.get("fastpath_docs"),
                "sustained_docs": extra.get("sustained_docs"),
                "sustained_docs_per_sec": extra.get("sustained_docs_per_sec"),
                "lsh_vectors": extra.get("lsh_vectors"),
                "cpus": CPUS,
                # no-Spark hardware control bracketing the run (min of
                # before/after): < ~0.7 means a hypervisor noise window —
                # the parallel numbers above are machine-contaminated
                "control_efficiency": min(control_pre, control_post),
                "control_pre": control_pre,
                "control_post": control_post,
                # absolute single-core loop seconds (frequency probe);
                # compare across runs — a high value with a healthy
                # ratio means a slow-clock window
                "control_sec_1proc": max(control_pre_sec, control_post_sec),
            }
        )
    )


if __name__ == "__main__":
    main()
