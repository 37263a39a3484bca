"""Mega-cluster guard for the LSH pair stages (minhash, simhash,
embedding): a template cluster of m mutually-NEAR-identical documents
(NOT exact duplicates — exact dedup must not be the shield) must flow
through the pair stages with O(m) candidate rows per oversized bucket
instead of O(m²), while corpora whose buckets stay under the cap produce
bit-identical output to the unguarded path."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.operators import dedup, similarity
from plumbing import placements

# ~640 chars, stopword-rich (passes the curation quality gate), shared by
# every member of a planted mega-cluster; each doc appends a unique marker
# so no two docs are EXACT duplicates but every pair has jaccard ~0.94.
BASE = (
    "the quick brown fox jumps over the lazy dog and then runs down to the "
    "river where it drinks some cool water before returning to the den "
    "for a long rest in the warm afternoon sun with many other foxes "
    "that share the same quiet forest and enjoy the calm shade of old "
    "oak trees near the gentle stream that flows past mossy stones and "
    "reeds while birds sing in the branches above and small fish swim "
    "between the smooth pebbles of the river bed as the light fades and "
    "the evening settles softly over the hills and the meadow grass bends "
    "in the mild wind that carries the scent of pine across the valley"
)


def _mega_docs(spark, m: int, partitions: int = 8):
    """m near-identical documents: shared base + unique marker suffix."""
    return spark.range(0, m, 1, partitions).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(BASE + " unique marker u"),
            F.lpad(F.col("id").cast("string"), 7, "0"),
        ).alias("text"),
    )


def _mixed_docs(spark):
    """Small-cluster corpus (pairs only): base docs + one near-dup each —
    no bucket comes near any cap, so guarded == unguarded must hold
    bit-for-bit."""
    rows = []
    for i in range(30):
        t = f"document number {i:03d} " + BASE[: 400 + i]
        rows.append({"doc_id": i, "text": t})
        rows.append({"doc_id": 1000 + i, "text": t[12:]})
    return spark.createDataFrame(rows)


def test_minhash_guard_bit_compatible_under_cap(spark):
    docs = _mixed_docs(spark)
    unguarded = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    )
    obs = Observation("cap_compat")
    guarded = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8,
            max_bucket_size=64, observation=obs,
        ).collect()
    )
    assert guarded == unguarded and len(guarded) >= 30
    got = obs.get
    assert got["star_candidate_rows"] == 0
    assert got["max_oversized_bucket"] is None


def test_minhash_guard_bounds_mega_cluster(spark):
    """m=400 near-identical docs: the unguarded path would enumerate
    ~m²/2 pairs per colliding band bucket; the guard emits star edges —
    O(m) candidates per oversized bucket — and the clustering consumer
    still sees ONE connected component covering every doc."""
    m, cap, bands = 400, 64, 32
    docs = _mega_docs(spark, m)
    obs = Observation("mega")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8,
        bands=bands, max_bucket_size=cap, observation=obs,
    )
    clusters = dedup.neardup_clusters(
        docs.select(F.col("doc_id").alias("id")), pairs.select("id_a", "id_b")
    ).collect()
    got = obs.get
    # loud metric: the template-flood regime is visible and bounded
    assert got["max_oversized_bucket"] > cap
    assert 0 < got["star_candidate_rows"] <= bands * (m - 1)
    # connectivity preserved: one component, min id canonical
    assert {r["canonical_id"] for r in clusters} == {0}
    assert all(r["cluster_size"] == m for r in clusters)


def test_minhash_guard_star_edges_are_verified_true_pairs(spark):
    """Guard output is a SUBSET of the exact jaccard>=t pair set (star
    edges still pass signature prefilter + exact verification — the guard
    never invents a pair)."""
    m = 150
    docs = _mega_docs(spark, m)
    guarded = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8, max_bucket_size=32
        ).collect()
    }
    # exact ground truth on a sample of guarded pairs: every emitted pair
    # must satisfy jaccard >= 0.8 by the brute-force definition
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert guarded and guarded <= exact


def test_curation_lsh_flows_5k_mega_cluster(spark):
    """The round-4 acceptance bar: 5,000 near-identical (non-exact-dup)
    docs flow through the LSH curation composition with candidate rows
    bounded by the star guard (metric-pinned), collapsing to a single
    canonical."""
    import __spark_entry__ as entry_mod

    m, cap, bands = 5000, 256, 32
    docs = _mega_docs(spark, m, partitions=16)
    obs = Observation("curation_mega")
    out = entry_mod.curation_pipeline(
        docs,
        lambda kept: dedup.minhash_lsh_pairs(
            kept, "doc_id", "text",
            shingle_n=5, num_hashes=128, bands=32, threshold=0.8,
            max_bucket_size=cap, observation=obs,
        ).select("id_a", "id_b"),
    ).collect()
    got = obs.get
    assert got["max_oversized_bucket"] > cap
    # bounded candidate generation: O(bands * m), nowhere near m²/2
    assert 0 < got["star_candidate_rows"] <= bands * (m - 1)
    # the whole flood collapses to (near-)one canonical; every kept doc is
    # accounted for in some cluster
    assert len(out) < 10
    assert sum(r["cluster_size"] for r in out) == m


def test_curation_run_manifest_persists_guard_metrics(
    spark, tmp_path, monkeypatch
):
    """curation_run commits the guard telemetry INTO the run manifest
    (round-5 ask): nonzero star_candidate_rows + flood_regime on a
    template flood, zero / False on a clean corpus — readable from
    manifest.json on disk, next to the committed output table. Both
    placements of the pair stage commit the same summaries and rows."""
    import json
    import os

    from adaptive_pdf_extractor_spark.plans.curation import curation_run

    got = {}
    for place in placements(monkeypatch):
        flood_dir = str(tmp_path / place / "flood")
        summary = curation_run(
            _mega_docs(spark, 1200, partitions=8), flood_dir,
            max_bucket_size=256,
        )
        on_disk = json.load(open(os.path.join(flood_dir, "manifest.json")))
        assert on_disk["status"] == "complete"
        g = on_disk["summary"]["guard"]
        assert g["star_candidate_rows"] > 0
        assert g["max_oversized_bucket"] > 256
        assert g["flood_regime"] is True
        assert on_disk["summary"] == summary
        curated = spark.read.parquet(on_disk["output_path"])
        # the flood collapses: few canonicals, every input doc accounted for
        assert curated.count() < 10
        assert on_disk["summary"]["n_input"] == 1200

        clean_dir = str(tmp_path / place / "clean")
        s2 = curation_run(_mixed_docs(spark), clean_dir, max_bucket_size=256)
        on2 = json.load(open(os.path.join(clean_dir, "manifest.json")))
        assert on2["summary"]["guard"]["star_candidate_rows"] == 0
        assert on2["summary"]["guard"]["flood_regime"] is False
        assert on2["summary"]["guard"]["max_oversized_bucket"] is None
        assert s2["n_output"] > 0

        # guard OFF: the run must still complete and commit its manifest
        # (no Observation is ever attached -> no telemetry, not a crash)
        off_dir = str(tmp_path / place / "guard_off")
        s3 = curation_run(_mixed_docs(spark), off_dir, max_bucket_size=None)
        on3 = json.load(open(os.path.join(off_dir, "manifest.json")))
        assert on3["status"] == "complete"
        assert on3["summary"]["guard"]["max_bucket_size"] is None
        assert on3["summary"]["guard"]["star_candidate_rows"] == 0
        assert s3["n_output"] == s2["n_output"]
        got[place] = [
            (s, sorted(spark.read.parquet(os.path.join(d, "curated.parquet")).collect()))
            for s, d in ((summary, flood_dir), (s2, clean_dir), (s3, off_dir))
        ]
    assert got["driver"] == got["spark"]


def _jobs_of(spark, group: str, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_curation_run_job_count_and_cached_frames(spark, tmp_path, monkeypatch):
    """Pinned Spark job count of one guarded curation_run on a small flood
    corpus under each placement of the pair stage, and the cached frames
    it leaves: ``kept`` only (the run releases the signature table it
    persisted, and neither placement leaves a local checkpoint). No job
    runs while a pair stage is built, and ``n_output`` is an Observation
    on the output write. The gate scores each document once, in one
    aggregate with no self semi-join.

    * ``driver``: one bounded count of text lengths (two jobs), one read
      of each doc's signature, shingles and band buckets, and union-find
      on the driver, whose labels are a broadcast frame (no window, no
      edge list, no persisted signatures).
    * ``spark`` (``BOUND`` 0, no bounded count): one eager count fills the
      signature cache, and connected components run one bounded collect
      of the persisted edge list (the cache's own query stage is one
      job) and label the small pair graph on the driver.

    The cache is cleared before each run, so both gate the corpus cold.
    Former formulations submitted 30 or 31 (the two-branch gate keeper),
    72 (a candidate-endpoint prune materialized at plan build,
    ``isEmpty`` + ``count``, the output table read back and counted) and
    58 (the star contraction on every graph, a ``localCheckpoint`` +
    ``count`` + ``isEmpty`` per round)."""
    from adaptive_pdf_extractor_spark.plans.curation import curation_run

    sc = spark.sparkContext

    def cached_ids():
        return set(sc._jsc.getPersistentRDDs().keys())

    # one input split per source: _spread repartitions at any core count
    docs = (
        _mega_docs(spark, 300, partitions=1)
        .withColumn("doc_id", F.col("doc_id") + 5000)
        .unionByName(_mixed_docs(spark).coalesce(1))
    )
    got = {}
    for place in placements(monkeypatch):
        spark.catalog.clearCache()
        before = cached_ids()
        summary, n_jobs = _jobs_of(
            spark, f"pin_curation_run_{place}",
            lambda: curation_run(
                docs, str(tmp_path / place), max_bucket_size=24
            ),
        )
        got[place] = (n_jobs, len(cached_ids() - before))
        assert summary["n_input"] == 360
        assert summary["n_output"] == 2  # the whole corpus shares BASE
        assert summary["guard"]["flood_regime"] is True
        out = spark.read.parquet(str(tmp_path / place / "curated.parquet"))
        assert out.count() == summary["n_output"]
    assert got == {"spark": (28, 1), "driver": (9, 1)}, got


def test_curate_increment_job_count(spark, monkeypatch):
    """Pinned Spark job count of ``curate_increment(...).count()`` on a
    small delta against a small flood corpus under each placement of the
    pair stage: 10 near-dup mutations of the flood, 10 re-ingestions, 10
    unseen documents and a near-dup twin of three of them. The only
    cache left behind is the gated batch ``kept``.

    * ``driver``: one bounded count of new and old text lengths (two
      jobs), one read of new ``(id, sig, shingles)`` and old ``(id, sig)``
      with their band buckets (the old signatures computed from the old
      docs here, as no table is passed), one ``isin`` read shingling the
      old candidates, union-find on the driver.
    * ``spark`` (``BOUND`` 0, no bounded count): the new-side signatures
      are an eager local checkpoint, released once the labels exist, and
      the incremental pair graph is labelled by numpy union-find after
      one bounded collect of the persisted edge list (the cache's own
      query stage is one of the jobs).

    The cache is cleared before each run, so both gate the batch cold.
    Former formulations submitted 24 jobs (the two-branch gate keeper),
    58 (the star contraction, a ``localCheckpoint`` + ``count`` +
    ``isEmpty`` per round) and 35 (new-new clustering plus an old-side
    taint: endpoint-flag joins over a persisted pair frame, distincts
    and an anti-join; that frame and the new-side signatures stayed
    cached)."""
    from adaptive_pdf_extractor_spark.plans.curation import curate_increment

    old = (
        _mega_docs(spark, 60, partitions=1)
        .withColumn("doc_id", F.col("doc_id") + 5000)
        .unionByName(_mixed_docs(spark).coalesce(1))
    )
    mutated = old.filter(F.col("doc_id") < 5010).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" appended tail")).alias("text"),
    )
    reingested = old.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    # unseen: word shuffles of BASE (pairwise jaccard well under 0.8),
    # the first three with a near-dup twin each
    import random

    shuffles = []
    for i in range(10):
        words = BASE.split()
        random.Random(i).shuffle(words)
        shuffles.append(" ".join(words))
    unseen = spark.createDataFrame(
        [(300000 + i, t) for i, t in enumerate(shuffles)]
        + [(400000 + i, shuffles[i] + " and more") for i in range(3)],
        "doc_id long, text string",
    )
    delta = mutated.unionByName(reingested).unionByName(unseen)
    sc = spark.sparkContext
    got = {}
    for place in placements(monkeypatch):
        spark.catalog.clearCache()
        before = set(sc._jsc.getPersistentRDDs().keys())
        n, n_jobs = _jobs_of(
            spark, f"pin_curate_increment_{place}",
            lambda: curate_increment(delta, old, threshold=0.8).count(),
        )
        n_cached = len(set(sc._jsc.getPersistentRDDs().keys()) - before)
        got[place] = (n, n_jobs, n_cached)
    assert got == {"spark": (10, 18, 1), "driver": (10, 12, 1)}, got


def test_neardup_clusters_build_job_count(spark):
    """Building ``neardup_clusters`` under the default ``CAP`` over cached
    pairs submits one job, the bounded collect of the edge list, whatever
    the graph's shape: here a 300-member flood star plus a chain (the
    star contraction ran a ``localCheckpoint`` + ``count`` + ``isEmpty``
    per round)."""
    ids = spark.range(400).cache()
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 301)] + [(i, i + 1) for i in range(320, 360)],
        "id_a long, id_b long",
    ).cache()
    ids.count(), pairs.count()
    try:
        clusters, n_jobs = _jobs_of(
            spark, "pin_cc_build", lambda: dedup.neardup_clusters(ids, pairs)
        )
        assert n_jobs == 1
        assert clusters.filter(F.col("canonical_id") == 0).count() == 301
    finally:
        ids.unpersist(), pairs.unpersist()


def test_minhash_pairs_observation_dropped_without_pairs(spark):
    """A direct caller of a guarded pair stage reads its telemetry
    through ``dedup.observed_metrics``: two dissimilar documents verify
    no pair, AQE empties the plan above the observed star frame, and the
    observation completes without metrics, which ``observed_metrics``
    reports as None instead of raising."""
    docs = spark.createDataFrame(
        [(1, BASE), (2, "ships and harbors where the tide rises and the "
          "gulls wheel over the quay while sailors mend their nets")],
        "doc_id long, text string",
    )
    obs = Observation("direct_no_pair")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", max_bucket_size=256, observation=obs
    )
    assert pairs.count() == 0
    assert dedup.observed_metrics(obs) is None


def test_curation_run_reports_guard_when_no_pair_survives(
    spark, tmp_path, monkeypatch
):
    """A guarded curation_run whose pair stage verifies no pair still
    commits its telemetry, under both placements of the pair stage. On
    the Spark plan, AQE empties that plan above the observed star frame,
    so its Observation completes without metrics, and the run sizes the
    band buckets in one action of its own instead. On the driver the
    telemetry is the placement's own dict, and no recount runs (no guard
    split is built at all). A 0- and a 1-document corpus give the
    unguarded run's summary with the cap recorded; a template flood whose
    members all verify below the threshold keeps its exact star count.
    The former code raised on all three at ``obs.get``."""
    import hashlib

    from adaptive_pdf_extractor_spark.plans.curation import curation_run

    splits = []
    split = dedup._guard_split
    monkeypatch.setattr(
        dedup, "_guard_split", lambda *a, **k: splits.append(1) or split(*a, **k)
    )
    # every doc = BASE + 20 random hex tokens: pairwise jaccard ~0.6, so
    # band buckets overflow a cap of 24 but no pair reaches 0.8
    rows = [
        (i, BASE + "".join(
            " " + hashlib.md5(f"{i}/{j}".encode()).hexdigest()[:8] for j in range(20)
        ))
        for i in range(300)
    ]
    flood = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures_df(flood, "doc_id", "text")
    sizes = [
        r["n"]
        for r in dedup._banded(sigs, 32, 4)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 24)
        .collect()
    ]
    got = {}
    for place in placements(monkeypatch):
        splits.clear()
        for rows in ([], [(1, BASE)]):
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            guarded = curation_run(
                docs, str(tmp_path / place / f"guarded{len(rows)}")
            )
            unguarded = curation_run(
                docs, str(tmp_path / place / f"unguarded{len(rows)}"),
                max_bucket_size=None,
            )
            assert guarded["guard"] == {
                "max_bucket_size": 256,
                "star_candidate_rows": 0,
                "max_oversized_bucket": None,
                "flood_regime": False,
            }
            assert guarded == {**unguarded, "guard": guarded["guard"]}
        summary = curation_run(
            flood, str(tmp_path / place / "flood"), max_bucket_size=24
        )
        assert summary["n_output"] == 300
        assert summary["guard"] == {
            "max_bucket_size": 24,
            "star_candidate_rows": sum(n - 1 for n in sizes),
            "max_oversized_bucket": max(sizes),
            "flood_regime": True,
        }
        got[place] = len(splits)
    # the Spark plan splits in each guarded pair stage and each recount;
    # the driver never builds a split
    assert got["driver"] == 0 and got["spark"] >= 3, got


def test_simhash_guard_bit_compatible_and_bounded(spark):
    docs = _mixed_docs(spark)
    unguarded = sorted(
        tuple(r)
        for r in dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=12, n_rotations=4
        ).collect()
    )
    guarded = sorted(
        tuple(r)
        for r in dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=12, n_rotations=4,
            max_bucket_size=64,
        ).collect()
    )
    assert guarded == unguarded and len(guarded) >= 30
    # mega cluster: bounded star candidates, connectivity preserved
    m, cap = 300, 48
    mega = _mega_docs(spark, m)
    obs = Observation("simhash_mega")
    pairs = dedup.simhash_pairs(
        mega, "doc_id", "text", max_hamming=12, n_rotations=4,
        max_bucket_size=cap, observation=obs,
    )
    clusters = dedup.neardup_clusters(
        mega.select(F.col("doc_id").alias("id")), pairs.select("id_a", "id_b")
    ).collect()
    got = obs.get
    assert got["max_oversized_bucket"] > cap
    assert 0 < got["star_candidate_rows"] <= 4 * (m - 1)
    assert {r["canonical_id"] for r in clusters} == {0}


def test_embedding_guard_bit_compatible_and_bounded(spark):
    # small-bucket corpus: deterministic spread-out vectors + one planted
    # near-dup pair; guarded == unguarded bit-for-bit
    import math

    import numpy as np

    def vec(i: int, eps: float = 0.0):
        return [
            math.sin(0.7 * i + 0.31 * d) + eps * (1 + d % 3)
            for d in range(16)
        ]

    rows = [(i, vec(i)) for i in range(80)] + [
        (1000 + i, vec(i, eps=1e-4)) for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.95, n_planes=6, n_tables=3)
    # the bucket kernel (blocked BLAS) and the star kernel (cosine_pairs_np)
    # sum in different orders, so exact equality below is about the guard
    # only while no pair of the corpus sits within rounding of threshold
    x = np.array([v for _, v in rows])
    nrm = np.linalg.norm(x, axis=1)
    cos = ((x @ x.T) / np.outer(nrm, nrm))[np.triu_indices(len(x), 1)]
    assert np.abs(cos - kw["threshold"]).min() > 1e-9
    unguarded = sorted(
        tuple(r)
        for r in similarity.embedding_neardup_pairs(
            docs, "vec_id", "embedding", **kw
        ).collect()
    )
    guarded = sorted(
        tuple(r)
        for r in similarity.embedding_neardup_pairs(
            docs, "vec_id", "embedding", max_bucket_size=64, **kw
        ).collect()
    )
    assert guarded == unguarded and len(guarded) >= 5
    # mega cluster: m near-identical embeddings land in one sign bucket
    # per table; the guard emits star candidates and the exact cosine
    # verify keeps them all (cosine ~1)
    m, cap = 300, 48
    mega_rows = [
        (i, [x * (1 + 1e-5 * ((i + d) % 7)) for d, x in enumerate(vec(3))])
        for i in range(m)
    ]
    mega = spark.createDataFrame(
        mega_rows, "vec_id long, embedding array<double>"
    )
    obs = Observation("embedding_mega")
    pairs = similarity.embedding_neardup_pairs(
        mega, "vec_id", "embedding", max_bucket_size=cap,
        observation=obs, **kw
    )
    clusters = dedup.neardup_clusters(
        mega.select(F.col("vec_id").alias("id")),
        pairs.select("id_a", "id_b"),
    ).collect()
    got = obs.get
    assert got["max_oversized_bucket"] > cap
    assert 0 < got["star_candidate_rows"] <= 3 * (m - 1)
    assert {r["canonical_id"] for r in clusters} == {0}


# unrelated to BASE: the topic of the split-evidence pair
SHIPS = ("completely different subject matter about ships and harbors "
         "where the tide rises and the gulls wheel over the quay while "
         "fishermen mend their nets beside weathered boats and the "
         "lighthouse keeper climbs the spiral stair to trim the lamp "
         "before night settles on the cold grey water of the bay")


def _split_evidence_rows(m: int = 300):
    """``(id, text, sig)`` rows with crafted signatures: a flood of ``m``
    identical signatures (ids 1000..) over mutually near-identical
    template texts, and a true pair 1 ~ 2 whose band collisions are
    SPLIT between the flood's bucket of band 3 and a private bucket of
    band 9."""
    S = [i * 1000 + 7 for i in range(128)]  # the flood's signature
    rows = [(1000 + i, BASE + f" flood u{i:04d}", list(S)) for i in range(m)]
    # a=1, b=2: texts near-identical to EACH OTHER, unrelated to the
    # flood; signatures share band 3 with the flood (slots 12..15) and a
    # private band 9 (slots 36..39), agree in 3 of 4 slots elsewhere (98
    # equal slots total -> passes the signature prefilter at j>=0.8)
    siga, sigb = [], []
    for slot in range(128):
        band = slot // 4
        if band == 3:
            siga.append(S[slot]); sigb.append(S[slot])
        elif band == 9:
            siga.append(5_000_000 + slot); sigb.append(5_000_000 + slot)
        elif slot % 4 == 0:  # one differing slot per remaining band
            siga.append(6_000_000 + slot); sigb.append(7_000_000 + slot)
        else:
            siga.append(8_000_000 + slot); sigb.append(8_000_000 + slot)
    return rows + [(1, SHIPS, siga), (2, SHIPS[10:], sigb)]


def test_minhash_guard_split_evidence_pair_survives(spark):
    """A true pair whose band collisions are SPLIT between an oversized
    bucket and a single small bucket must still be emitted: the oversized
    collision is invisible to the >=2-band count (those buckets emit star
    edges), so the cut relaxes to 1 band for pairs with an endpoint in
    any oversized bucket. Crafted signatures pin the scenario exactly;
    exact verification still gates the output on real text."""
    m, cap = 300, 256
    rows = _split_evidence_rows(m)
    sigs_df = spark.createDataFrame(
        [(i, s) for i, _, s in rows], "id long, sig array<bigint>"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs_from_sigs(
            sigs_df, docs, "id", "text",
            threshold=0.8, max_bucket_size=cap,
        ).collect()
    }
    # the split-evidence pair survives the guard
    assert (1, 2) in pairs
    # star edges to the flood's bucket-min were candidates but exact
    # verification rejected the cross-topic ones
    assert not any({a, b} & {1, 2} and {a, b} & set(range(1000, 1000 + m))
                   for a, b in pairs)
    # the flood itself stays connected through verified star edges
    assert sum(1 for a, b in pairs if a >= 1000 and b >= 1000) >= m - 1


def test_pair_stage_placements_agree_on_degenerate_inputs(
    spark, tmp_path, monkeypatch
):
    """Both placements of the curation plans' pair stage give identical
    rows and guard telemetry on the degenerate inputs:

    * 0- and 1-document batches against an old corpus;
    * an increment with string ids, whose old signature table holds a
      null signature (for a text shorter than ``shingle_n``) and shares
      the id ``dup`` with the batch. The Spark plan's verification drops
      every pair through an id on both sides (``size(sh) == 2`` sees
      three shingle arrays), so the new near-dup of the old ``dup`` and
      the batch's near-dup pair through the new ``dup`` are all kept;
    * a pair whose band evidence is split between a small and an
      oversized bucket (the co-flood relaxation of the guard), run through
      the driver stage and the guarded Spark stage directly.

    It also runs both curation plans where the bounded count of
    ``fits_on_driver`` runs and sends them to the Spark plan: over a
    positive ``BOUND`` and over ``BOUND_BYTES``. And it runs them with
    ``CAP`` 0, where the driver stage reads and bands the input, finds
    small-bucket pair-band rows over ``CAP`` and hands back None, so the
    Spark plan follows it."""
    import random

    from adaptive_pdf_extractor_spark.plans.curation import (
        curate_increment,
        curation_run,
    )

    def shuffled(seed):
        words = BASE.split()
        random.Random(seed).shuffle(words)
        return " ".join(words)

    old = spark.createDataFrame(
        [("a1", BASE), ("a2", SHIPS), ("dup", shuffled(1)), ("a3", "ab")],
        "doc_id string, text string",
    )
    old_sigs = dedup.minhash_signatures_df(
        old.filter(F.col("doc_id") != "a3"), "doc_id", "text"
    ).unionByName(
        spark.createDataFrame([("a3", None)], "id string, sig array<bigint>")
    )
    batches = {
        "empty": [],
        "one": [("n1", BASE + " with a tail")],
        "mixed": [
            ("n1", BASE + " with a tail"),  # near-dup of a1: dropped
            ("n2", shuffled(1) + " and more"),  # near-dup of the old dup
            ("dup", shuffled(2)),
            ("n3", shuffled(2) + " and more"),  # near-dup of the new dup
            ("n4", shuffled(3)),
        ],
    }
    got = {}

    def increments(place):
        for name, rows in batches.items():
            new = spark.createDataFrame(rows, "doc_id string, text string")
            got[place, name] = sorted(
                curate_increment(new, old, old_sigs=old_sigs).collect()
            )

    for place in placements(monkeypatch):
        increments(place)
    # the bounded count runs and finds too many rows or bytes; or the
    # driver stage runs and finds too many pair-band rows: every time the
    # Spark plan follows (under CAP 0 with the star contraction)
    on_driver = dedup.minhash_labels_on_driver
    placed = []
    monkeypatch.setattr(
        dedup, "minhash_labels_on_driver",
        lambda *a, **k: placed.append(on_driver(*a, **k)) or placed[-1],
    )
    flood = _mega_docs(spark, 300, partitions=2)
    runs = {}
    for place, patch in (
        ("over", {"BOUND": 1}),
        ("long", {"BOUND_BYTES": 1}),
        ("cap", {"CAP": 0}),
        ("driver", {}),
    ):
        with monkeypatch.context() as m:
            for k, v in patch.items():
                m.setattr(dedup, k, v)
            placed.clear()
            if place != "driver":
                increments(place)
            d = str(tmp_path / place)
            runs[place] = (
                curation_run(flood, d, max_bucket_size=24),
                sorted(spark.read.parquet(f"{d}/curated.parquet").collect()),
            )
            # over BOUND or BOUND_BYTES the driver stage never runs; under
            # CAP 0 it gives up on the flood, the last call
            if place in ("over", "long"):
                assert placed == [], place
            else:
                assert (placed[-1] is None) == (place == "cap"), place
    for place in ("over", "long", "cap"):
        assert runs[place] == runs["driver"], place
    assert runs["driver"][0]["guard"]["flood_regime"] is True
    for name in batches:
        assert (
            got["driver", name] == got["spark", name] == got["over", name]
            == got["long", name] == got["cap", name]
        ), name
    assert got["spark", "empty"] == got["spark", "one"] == []
    assert [r["doc_id"] for r in got["spark", "mixed"]] == [
        "dup", "n2", "n3", "n4"
    ]

    rows = _split_evidence_rows()
    sigs = spark.createDataFrame(rows, "id long, text string, sig array<bigint>")
    labels, guard = dedup.minhash_labels_on_driver(
        sigs, threshold=0.8, max_bucket_size=256
    )
    obs = Observation("split_placements")
    pairs = dedup.minhash_lsh_pairs_from_sigs(
        sigs, sigs, "id", "text", threshold=0.8, max_bucket_size=256,
        observation=obs,
    )
    on_spark = dedup.neardup_clusters(sigs.select("id"), pairs.select("id_a", "id_b"))
    assert sorted(labels.collect()) == sorted(on_spark.collect())
    assert guard == dedup.observed_metrics(obs)
    assert guard["star_candidate_rows"] > 0
    assert {tuple(r) for r in labels.filter(F.col("doc_id") < 1000).collect()} == {
        (1, 1, 2), (2, 1, 2)
    }


@pytest.mark.parametrize("stage", ["minhash", "simhash", "embedding"])
def test_guard_telemetry_is_exact_on_identical_flood(spark, stage):
    """Exact telemetry pin: m=100 members that hash identically fill ONE
    bucket per band / rotation / table, so at cap 24 every bucket is
    oversized and the guard emits exactly (m-1) star edges per bucket —
    32 bands x 99 = 3,168 (minhash), 4 rotations x 99 = 396 (simhash),
    3 tables x 99 = 297 (embedding) — counted once, and the output is
    exactly the star around the min id."""
    m, cap = 100, 24
    obs = Observation(f"exact_{stage}")
    if stage == "minhash":
        sig = [i * 1000 + 7 for i in range(128)]
        sigs_df = spark.createDataFrame(
            [(i, sig) for i in range(m)], "id long, sig array<bigint>"
        )
        docs = _mega_docs(spark, m, partitions=4).withColumnRenamed(
            "doc_id", "id"
        )
        pairs = dedup.minhash_lsh_pairs_from_sigs(
            sigs_df, docs, "id", "text", bands=32, threshold=0.8,
            max_bucket_size=cap, observation=obs,
        )
        expected_rows = 32 * (m - 1)
    elif stage == "simhash":
        docs = spark.range(0, m, 1, 4).select(
            F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
        )
        pairs = dedup.simhash_pairs(
            docs, "doc_id", "text", n_rotations=4,
            max_bucket_size=cap, observation=obs,
        )
        expected_rows = 4 * (m - 1)
    else:
        vec = [0.25 * (d % 5) - 0.4 for d in range(16)]
        docs = spark.createDataFrame(
            [(i, vec) for i in range(m)], "vec_id long, embedding array<double>"
        )
        pairs = similarity.embedding_neardup_pairs(
            docs, "vec_id", "embedding", threshold=0.95, n_planes=6,
            n_tables=3, max_bucket_size=cap, observation=obs,
        )
        expected_rows = 3 * (m - 1)
    got_pairs = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    got = obs.get
    assert got["star_candidate_rows"] == expected_rows
    assert got["max_oversized_bucket"] == m
    assert got_pairs == [(0, i) for i in range(1, m)]
