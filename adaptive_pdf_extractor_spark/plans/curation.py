"""Training-data curation plans: the end-to-end composition (quality gate
-> optional benchmark decontamination -> exact dedup -> near-dup pair
stage -> connected components -> canonical keep -> per-doc stats) and the
manifest-committing run wrapper that persists throughput AND mega-cluster
guard telemetry next to the run's output table.

The composition is parametric in the pair stage: the exact quadratic
generator is the DuckDB oracle twin, minhash-LSH (guarded) is the 100 TB
path — one composition, verified equal on the oracled corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup
from .checkpoint import RunManifest


def _gate(
    docs: DataFrame,
    decontaminate_against: DataFrame | None,
    decon_n: int,
) -> DataFrame:
    """The curation gate of :func:`curation_pipeline` and
    :func:`curate_increment`: quality >= 0.5, the optional
    decontamination anti-join, and exact dedup (the min passing id per
    fingerprint). ONE definition: curate_increment's exactness contract
    holds only while both paths gate identically.

    The score is computed in one projection and the predicate is folded
    into the exact-dedup aggregate (``dedup._min_id_rows``), so each
    document is scored once. The predicate must filter before the min:
    the fingerprint ignores case and whitespace, the score does not, so
    one group can hold passing and failing docs. The decontamination
    flags are per document, so anti-joining them before the quality
    predicate keeps the same rows."""
    scored = docs.withColumn("quality", T.quality_score(F.col("text")))
    if decontaminate_against is not None:
        flagged = dedup.decontaminate(
            scored, decontaminate_against, "doc_id", "text", n=decon_n
        )
        scored = scored.join(
            flagged.filter(F.col("contaminated")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    return dedup._min_id_rows(
        scored, "doc_id", "text", F.col("quality") >= 0.5
    )


def _keep_canonicals(kept: DataFrame, pairs: DataFrame) -> DataFrame:
    """The curation tail of :func:`curation_pipeline`, :func:`curation_run`
    and :func:`curate_increment`: connected components over ``pairs``
    (``id_a``, ``id_b``) labelling the gated ``kept`` docs, then each doc
    that is its component's ``canonical_id`` (the min id), as the curated
    ``(doc_id, cluster_size, n_tokens, quality)``."""
    clusters = dedup.neardup_clusters(
        kept.select(F.col("doc_id").alias("id")), pairs
    )
    canon = clusters.filter(
        F.col("doc_id") == F.col("canonical_id")
    ).select("doc_id", "cluster_size")
    return kept.join(canon, "doc_id").select(
        "doc_id",
        "cluster_size",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        "quality",
    )


def _gated(
    docs: DataFrame, decontaminate_against: DataFrame | None, decon_n: int
) -> DataFrame:
    """The persisted gate of a full curation (:func:`curation_pipeline`,
    :func:`curation_run`)."""
    # Spread before the quality gate: the regex bank is compute-bound per
    # row and a small parquet input arrives as 1-2 splits (measured 23 s
    # on 2 cores vs 10.6 s spread for 100k docs at sf1.0 — the same
    # idle-core trap as dedup._spread, which only kicks in later, inside
    # the pair stage).
    #
    # Cache: kept feeds THREE consumers (the pair stage, the cluster id
    # set, and the final stats join) — without this the quality-score
    # regex bank and the dedup agg re-run per consumer (measured 2.6x on
    # the LSH variant at 10k docs). persist, NOT localCheckpoint: Spark's
    # CacheManager keys cache entries by canonical logical plan, so
    # repeated invocations of the same query (a) don't accumulate copies
    # (re-persisting an already-cached plan is a no-op hit on the existing
    # entry) and (b) REUSE the materialized gate across reruns — measured
    # 2x vs an eager localCheckpoint, which re-executes per invocation.
    # Entry count is bounded by distinct source frames, session-scoped.
    # At true corpus scale this is a table write (same role).
    return _gate(dedup._spread(docs), decontaminate_against, decon_n).persist()


def curation_pipeline(
    docs: DataFrame,
    pair_fn,
    decontaminate_against: DataFrame | None = None,
    decon_n: int = 13,
) -> DataFrame:
    """The end-to-end training-data curation composition: quality gate ->
    [optional benchmark decontamination] -> exact dedup (min-id keeper
    per fingerprint) -> near-dup pair stage (``pair_fn``: kept-docs frame
    -> (id_a, id_b, ...) pairs) -> connected components -> keep cluster
    canonicals -> per-doc token stats. ONE composition, two registered
    pair stages: the exact quadratic generator (the DuckDB oracle) and
    minhash-LSH (the 100 TB path).

    ``decontaminate_against``: an eval-set frame (``text`` column) —
    quality-passing docs sharing ``decon_n``-token n-grams with it are
    dropped before dedup (see dedup.decontaminate for the plan shape)."""
    kept = _gated(docs, decontaminate_against, decon_n)
    return _keep_canonicals(kept, pair_fn(kept))


def curate_increment(
    new_docs: DataFrame,
    old_docs: DataFrame,
    *,
    old_sigs: DataFrame | None = None,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    decontaminate_against: DataFrame | None = None,
    decon_n: int = 13,
) -> DataFrame:
    """Curate a NEW document batch against an EXISTING curated corpus —
    the daily form of the 100 TB pipeline: only new docs quality-score,
    fingerprint and minhash; the old corpus contributes a fingerprint
    anti-join and its (persisted) signature table, and pairs are
    new x new ∪ new x old (dedup.minhash_lsh_pairs_incremental).

    ``old_docs`` is the already-curated corpus (pairwise non-near-dup
    canonicals — what curation_pipeline keeps). ``old_sigs`` is its
    signature table; pass the persisted one so cost scales with the
    delta (it is computed from ``old_docs`` only as a convenience
    fallback).

    Returns kept NEW docs as (doc_id, cluster_size, n_tokens, quality).

    Connected components run over ONE pair graph, new x new ∪ new x old,
    and keep each new doc that is its component's ``canonical_id`` (the
    min id) — the same tail as :func:`curation_pipeline`. An old endpoint
    gets no row but still links its neighbours. So when every new id
    sorts after every old id, a component that reaches the old corpus
    (directly, through a chain of new docs, or with an old doc bridging
    two new-side clusters) is rooted at an old id and keeps no new doc,
    exactly as full re-curation of (old_docs ∪ new_docs) folds it under
    its least old id. Under that precondition a new doc is kept iff full
    re-curation would keep it (pinned by test and by the DuckDB oracle).
    A kept doc's component is all-new, so its ``cluster_size``, which
    counts new docs only, is its full-graph size. Old docs are never
    re-judged: two old canonicals chained through a new doc both stay,
    the old corpus being immutable here, which is the point of
    incremental.

    Outside the precondition, a new doc whose id sorts before an old
    near-dup's is its component's canonical and is kept: the doc full
    re-curation keeps. The old doc stays in the old corpus too."""
    # the gate runs WITHIN the batch, then a content-identity anti-join
    # against the old corpus (a re-ingested doc must not come back)
    kept = _gate(new_docs, decontaminate_against, decon_n)
    old_fp = old_docs.select(
        T.doc_fingerprint_md5(F.col("text")).alias("fp")
    ).distinct()
    kept = (
        kept.withColumn("fp", T.doc_fingerprint_md5(F.col("text")))
        .join(old_fp, "fp", "left_anti")
        .drop("fp")
        .persist()
    )
    if old_sigs is None:
        old_sigs = dedup.minhash_signatures_df(
            old_docs, "doc_id", "text",
            shingle_n=shingle_n, num_hashes=num_hashes,
        )
    docs_all = kept.select("doc_id", "text").unionByName(
        old_docs.select("doc_id", "text")
    )
    # the pair stage reads the new signatures in four branches of one job,
    # and each branch would rerun the signature UDF: materialized once,
    # perfbench curation_sf01's increment measured a median 5.9 s against
    # 8.1 s (4 cores). An eager local checkpoint (one job, released below)
    # rather than persist(), which measured 28 jobs against 24 on
    # test_curate_increment_job_count's corpus
    new_sigs = dedup.minhash_signatures_df(
        kept, "doc_id", "text", shingle_n=shingle_n, num_hashes=num_hashes
    ).localCheckpoint()
    try:
        pairs = dedup.minhash_lsh_pairs_incremental(
            new_sigs, old_sigs, docs_all, "doc_id", "text",
            shingle_n=shingle_n, num_hashes=num_hashes,
            bands=bands, threshold=threshold,
        )
        # ONE graph, new x new ∪ new x old: an old endpoint gets no row
        # but still links its neighbours, so a new-side cluster touching
        # the old corpus is rooted at an old id and keeps no doc
        return _keep_canonicals(kept, pairs)
    finally:
        # connected components ran the pair stage in their one bounded
        # collect, and the labels they return never read it again
        dedup._release_checkpoint(new_sigs)


def curation_run(
    docs: DataFrame,
    run_dir: str,
    *,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_size: int | None = 256,
    decontaminate_against: DataFrame | None = None,
    catalog: str = "parquet",
) -> dict:
    """Execute the guarded LSH curation composition as a COMMITTED run:
    the curated stats table lands at ``<run_dir>/curated.parquet``
    (catalog-dispatched) and the run manifest's summary persists the
    throughput metrics AND the mega-cluster guard telemetry
    (``star_candidate_rows`` / ``max_oversized_bucket``) — the
    template-flood signal, recorded next to the run it fired in instead
    of living only in a driver-side ``Observation.get``. Returns the
    summary dict.

    ``star_candidate_rows`` is 0 (and ``flood_regime`` False) on a clean
    corpus; nonzero means some band bucket blew the cap and the pair
    stage switched that bucket to O(m) star edges (still exactly
    verified — see dedup.minhash_lsh_pairs_from_sigs)."""
    from ..sources import spark_io

    # the Observation is only ever ATTACHED by the guarded pair stage —
    # with the guard off, obs.get would raise NO_OBSERVE_BEFORE_GET after
    # the output write, so skip the telemetry entirely in that case
    obs = Observation("lsh_guard") if max_bucket_size is not None else None
    kept = _gated(docs, decontaminate_against, decon_n=13)
    # the pair stage of dedup.minhash_lsh_pairs, composed here so that this
    # run owns the signature cache it releases once the guard telemetry is
    # read: the signatures feed banding and both prefilter sides, and the
    # guarded plan fans them out to five consumers, so they are filled
    # eagerly (see minhash_lsh_pairs)
    sigs = dedup.minhash_signatures_df(
        kept, "doc_id", "text", shingle_n=shingle_n, num_hashes=num_hashes
    ).select("id", "sig").persist()
    try:
        if max_bucket_size is not None:
            sigs.count()
        pairs = dedup.minhash_lsh_pairs_from_sigs(
            sigs,
            kept,
            "doc_id",
            "text",
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            observation=obs,
        ).select("id_a", "id_b")
        out = _keep_canonicals(kept, pairs)
        output_path = os.path.join(run_dir, "curated.parquet")
        # the guard observation has fired already, in neardup_clusters'
        # bounded collect of the edge list (the one action that runs the
        # observed pair stage); `written` fires on the write, which counts
        # its own rows
        written = Observation("curated")
        spark_io.write_table(
            out.observe(written, F.count("*").alias("n")), output_path,
            catalog=catalog,
        )
        n_output = written.get["n"]
        # a separate action: docs is consumed only inside the persisted
        # kept subtree, and an observation there never fires on a cache hit
        n_input = docs.count()
        guard = {}
        if obs is not None:
            guard = dedup.observed_metrics(obs)
        if guard is None:
            # no pair survived, so AQE emptied the pair stage's plan above
            # the observed star frame, which may still hold star edges (a
            # flood whose members all verify below the threshold): observe
            # the star frame again under a one-row count, which keeps it in
            # the plan
            banded = dedup._banded(sigs, bands, num_hashes // bands)
            recount = Observation("lsh_guard_recount")
            _, star, _ = dedup._guard_split(
                banded, ["band", "bucket"], max_bucket_size, recount
            )
            star.agg(F.count("*")).collect()
            guard = dedup.observed_metrics(recount)
    finally:
        sigs.unpersist()
    max_over = guard.get("max_oversized_bucket")
    summary = {
        "n_input": int(n_input),
        "n_output": int(n_output),
        "keep_rate": round(n_output / n_input, 4) if n_input else None,
        "guard": {
            "max_bucket_size": max_bucket_size,
            "star_candidate_rows": int(guard.get("star_candidate_rows") or 0),
            "max_oversized_bucket": (
                int(max_over) if max_over is not None else None
            ),
            "flood_regime": bool(guard.get("star_candidate_rows")),
        },
    }
    manifest = RunManifest(run_dir)
    manifest.finish(output_path, summary)
    return summary
