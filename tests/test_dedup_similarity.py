"""Dedup + similarity operators: planted-duplicate recall, LSH vs brute
force, exact dedup semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adaptive_pdf_extractor_spark.operators import dedup, similarity
from adaptive_pdf_extractor_spark.sources import corpus as corpus_mod
from specs import (
    banded_columns,
    lsh_bucket_expr,
    neardup_clusters_minlabel,
    quality_gate_two_branch,
    simhash64_columns,
)


@pytest.fixture(scope="module")
def corpus(spark):
    """60 base docs (synthetic OAB text) + planted near-dups + exact dups."""
    rows = []
    base = [
        corpus_mod.synth_record(seed=31, doc_id=f"c/{i}")["pdf_text"] for i in range(60)
    ]
    for i, t in enumerate(base):
        rows.append({"doc_id": i, "text": t})
    # exact duplicates of docs 0..4 (ids 100..104)
    for i in range(5):
        rows.append({"doc_id": 100 + i, "text": base[i]})
    # near-duplicates of docs 10..14: drop first 12 chars (ids 200..204)
    for i in range(5):
        rows.append({"doc_id": 200 + i, "text": base[10 + i][12:]})
    return spark.createDataFrame(rows).cache()


def test_exact_dedup(corpus):
    groups = dedup.exact_dedup_groups(corpus, "doc_id", "text").collect()
    sizes = sorted(g["group_size"] for g in groups)
    assert sizes.count(2) == 5  # five exact-dup groups
    dup_groups = [g for g in groups if g["group_size"] == 2]
    assert {g["canonical_id"] for g in dup_groups} == {0, 1, 2, 3, 4}
    kept = dedup.exact_dedup_keep(corpus, "doc_id", "text")
    assert kept.count() == 65  # 70 rows - 5 dups
    assert kept.filter(F.col("doc_id") >= 100).filter(F.col("doc_id") < 200).count() == 0


def test_minhash_recall_equals_bruteforce(corpus):
    """Planted near-dups: LSH-verified pairs == exact jaccard pairs at 0.8
    (recall ~1 with 128 hashes / 32 bands)."""
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.8
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert lsh == brute
    # exact dups (jaccard 1.0) and near-dups must both be found
    assert {(i, 100 + i) for i in range(5)} <= {(a, b) for a, b, _ in lsh}
    assert {(10 + i, 200 + i) for i in range(5)} <= {(a, b) for a, b, _ in lsh}


def test_minhash_md5_pairs_match_xxhash_pairs(corpus):
    """The md5 signature variant (the fully-oracled form, q_minhash_md5)
    must drive the SAME banded LSH machinery to the SAME verified pairs
    as the xxhash64 production path on the planted corpus — the two
    variants differ only in the per-shingle hash, and exact-Jaccard
    verification gates both, so any divergence is a real bug in the
    signature math (recall at 128/32 is ~1-5e-8 for both)."""
    kw = dict(shingle_n=5, num_hashes=128, bands=32, threshold=0.8)
    pairs = {
        fam: {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.minhash_lsh_pairs_from_sigs(
                dedup.minhash_signatures_df(
                    corpus, "doc_id", "text", shingle_n=5, num_hashes=128,
                    hash_family=fam,
                ),
                corpus, "doc_id", "text", **kw,
            ).collect()
        }
        for fam in ("xxhash64", "md5")
    }
    assert pairs["xxhash64"] == pairs["md5"]
    assert {(i, 100 + i) for i in range(5)} <= {
        (a, b) for a, b, _ in pairs["md5"]
    }


def test_unknown_hash_family_raises_before_any_job(spark, corpus):
    """An unknown hash_family fails while the query is BUILT — a
    ValueError from both sketch entry points, and no Spark job runs."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with pytest.raises(ValueError, match="hash_family"):
        dedup.minhash_signatures_df(
            corpus, "doc_id", "text", hash_family="sha1"
        )
    with pytest.raises(ValueError, match="hash_family"):
        dedup.simhash64(F.col("text"), hash_family="sha1")
    assert set(tracker.getJobIdsForGroup()) == before


def test_minhash_incremental_pairs_match_full(corpus):
    """The incremental pair stage (new x new ∪ new x old) must equal the
    full pair stage restricted to pairs touching a new id — banding,
    evidence cut, prefilter and exact verification are the same
    semantics, only the probe side shrinks. Split chosen so both
    new-new (3,103)/(4,104) and new-old (0,100)... pairs exist."""
    old = corpus.filter(F.col("doc_id") < 3)
    new = corpus.filter(F.col("doc_id") >= 3)
    kw = dict(shingle_n=5, num_hashes=128)
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs_incremental(
            dedup.minhash_signatures_df(new, "doc_id", "text", **kw),
            dedup.minhash_signatures_df(old, "doc_id", "text", **kw),
            corpus,
            "doc_id",
            "text",
            threshold=0.8,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.8
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (a, b, j) for a, b, j in full if a in new_ids or b in new_ids
    }
    assert inc == expected
    assert {(3, 103), (4, 104)} <= {(a, b) for a, b, _ in inc}  # new-new
    assert {(0, 100), (10, 200)} <= {(a, b) for a, b, _ in inc}  # new-old


def test_minhash_pair_stage_builds_without_jobs(spark, corpus):
    """Building the unguarded full pair stage (it persists the signatures
    it computes, but fills that cache only when guarded) and the
    incremental pair stage submits no Spark job: verification
    shingles the docs lazily, with no candidate materialization at plan
    build. The input is a fresh local frame, so ``_spread``'s partition
    probe has no shuffle or cache to plan (the former candidate-endpoint
    prune submitted 15 jobs here)."""
    rows = dedup.exact_dedup_keep(corpus, "doc_id", "text").collect()
    fresh = spark.createDataFrame(rows, "doc_id long, text string")
    assert len(rows) == 65
    kw = dict(shingle_n=5, num_hashes=128)
    sc = spark.sparkContext
    sc.setJobGroup("pin_pair_build", "pin_pair_build")
    try:
        dedup.minhash_lsh_pairs(fresh, "doc_id", "text", threshold=0.8)
        dedup.minhash_lsh_pairs_incremental(
            dedup.minhash_signatures_df(
                fresh.filter(F.col("doc_id") >= 3), "doc_id", "text", **kw
            ),
            dedup.minhash_signatures_df(
                fresh.filter(F.col("doc_id") < 3), "doc_id", "text", **kw
            ),
            fresh,
            "doc_id",
            "text",
            threshold=0.8,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("pin_pair_build") == []


def test_minhash_banding_matches_column_spec(spark, corpus):
    """``dedup._banded`` (band-index explode + ``slice``) is row-identical
    to the per-band Column formulation it replaced
    (``specs.banded_columns``): on random signatures and on the minhash
    signatures of a corpus with NULL and "" texts, at 32 x 4 and 16 x 8."""
    random_sigs = spark.range(400).select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.lit(128)), lambda i: F.xxhash64("id", i)
        ).alias("sig"),
    )
    edge = spark.createDataFrame(
        [(900, None), (901, ""), (902, None), (903, "")], "doc_id long, text string"
    )
    corpus_sigs = dedup.minhash_signatures_df(
        corpus.select("doc_id", "text").unionByName(edge), "doc_id", "text"
    ).select("id", "sig")
    for sigs in (random_sigs, corpus_sigs):
        for bands, rows_per_band in ((32, 4), (16, 8)):
            got = dedup._banded(sigs, bands, rows_per_band)
            ref = banded_columns(sigs, bands, rows_per_band)
            assert got.schema == ref.schema
            assert got.exceptAll(ref).count() == 0
            assert ref.exceptAll(got).count() == 0
            assert got.count() == sigs.count() * bands


def test_minhash_pair_stages_generated_code_bounded(spark, corpus):
    """No whole-stage-codegen subtree of the guarded full or the
    incremental MinHash pair stage exceeds 64 KB of Java source. The
    per-band Column list banding once made one 298 KB class, which
    compiled and ran slowly. Plans are listed with AQE off: an adaptive
    plan lists no subtree before it runs. Listing a broadcast join runs
    its build side, so the listing is not job-free."""
    kw = dict(shingle_n=5, num_hashes=128)
    sigs = dedup.minhash_signatures_df(corpus, "doc_id", "text", **kw).persist()
    new = sigs.filter(F.col("id") >= 100).persist()
    old = sigs.filter(F.col("id") < 100).persist()
    for frame in (sigs, new, old):
        frame.count()
    stages = {
        "guarded": dedup.minhash_lsh_pairs_from_sigs(
            sigs, corpus, "doc_id", "text", threshold=0.8, max_bucket_size=256
        ),
        "incremental": dedup.minhash_lsh_pairs_incremental(
            new, old, corpus, "doc_id", "text", threshold=0.8
        ),
    }
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sizes = {}
        for name, df in stages.items():
            subtrees = df._jdf.queryExecution().debug().codegenToSeq()
            sizes[name] = [
                len(subtrees.apply(i)._2()) for i in range(subtrees.size())
            ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        for frame in (new, old, sigs):
            frame.unpersist()
    assert all(sizes.values()), sizes
    assert max(max(s) for s in sizes.values()) <= 64 * 1024, sizes


def test_simhash_finds_planted_dups(corpus):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_pairs(
            corpus, "doc_id", "text", max_hamming=6
        ).collect()
    }
    # exact dups have hamming 0 and identical prefix -> always found
    assert {(i, 100 + i) for i in range(5)} <= pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(200):
        v = rng.randn(16)
        rows.append({"vec_id": i, "embedding": [float(x) for x in v]})
    # near-dup of vec 3: tiny perturbation (id 900)
    base = np.array(rows[3]["embedding"])
    rows.append(
        {"vec_id": 900, "embedding": [float(x) for x in base + rng.randn(16) * 0.01]}
    )
    return spark.createDataFrame(rows).cache()


def test_brute_force_topk(vectors):
    q = [r for r in vectors.collect() if r["vec_id"] == 3][0]["embedding"]
    top = similarity.brute_force_topk(vectors, "vec_id", "embedding", list(q), k=3).collect()
    assert top[0]["id"] == 3 and abs(top[0]["cosine"] - 1.0) < 1e-6
    assert top[1]["id"] == 900 and top[1]["cosine"] > 0.99


def test_embedding_neardup_pairs(vectors):
    pairs = similarity.embedding_neardup_pairs(
        vectors, "vec_id", "embedding", threshold=0.95
    ).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(3, 900)}


def test_ivf_topk_recall(vectors):
    """IVF with nprobe=4/16 centroids: the identical vector is always found
    (its bucket is the query's nearest centroid) and recall vs brute force
    is high on a 200-vector corpus."""
    q = [r for r in vectors.collect() if r["vec_id"] == 3][0]["embedding"]
    cents = similarity.train_ivf_centroids(vectors, "embedding", n_centroids=16)
    assert len(cents) == 16 and len(cents[0]) == 16
    top = similarity.ivf_topk(
        vectors, "vec_id", "embedding", list(q), k=5, centroids=cents, nprobe=4
    ).collect()
    ids = [r["id"] for r in top]
    assert ids[0] == 3  # exact match: same bucket as the query by definition
    assert 900 in ids  # the planted near-dup lands in the same region
    brute_ids = [
        r["id"]
        for r in similarity.brute_force_topk(
            vectors, "vec_id", "embedding", list(q), k=5
        ).collect()
    ]
    recall = len(set(ids) & set(brute_ids)) / 5
    assert recall >= 0.6
    # determinism: same call twice -> same result
    top2 = similarity.ivf_topk(
        vectors, "vec_id", "embedding", list(q), k=5, centroids=cents, nprobe=4
    ).collect()
    assert [r["id"] for r in top2] == ids


def test_lsh_topk_contains_query_neighbors(vectors):
    """LSH-bucketed search finds the identical vector (same bucket by
    construction) — approximate recall for others is evaluated vs brute."""
    q = [r for r in vectors.collect() if r["vec_id"] == 3][0]["embedding"]
    top = similarity.lsh_topk(
        vectors, "vec_id", "embedding", list(q), k=5, n_planes=4
    ).collect()
    ids = [r["id"] for r in top]
    assert 3 in ids  # exact match always shares the bucket
    brute = similarity.brute_force_topk(vectors, "vec_id", "embedding", list(q), k=5)
    brute_ids = [r["id"] for r in brute.collect()]
    recall = len(set(ids) & set(brute_ids)) / 5
    assert recall >= 0.4  # coarse bound: 4 planes halve the space 4x


def test_simhash_np_matches_column_reference(spark):
    """The Arrow/numpy SimHash (hot path) must be bit-identical to the
    Column-algebra reference formulation — pinned BEFORE the pairs query
    switched paths, so simhash_neardup's rows-only output is provably
    unchanged. Includes empty/whitespace/null/unicode/long-text edges."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumped over the lazy dog",
        "", "   ", None, "one", "a a a b", "páscoa é uma festa",
        "x" * 200 + " y z", " ".join(str(i) for i in range(500)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    rows = df.select(
        "id",
        dedup.simhash64(F.col("t")).alias("fast"),
        simhash64_columns(F.col("t")).alias("ref"),
    ).orderBy("id").collect()
    assert all(r["fast"] == r["ref"] for r in rows)
    by_id = {r["id"]: r["fast"] for r in rows}
    # literal pins: any change to tokenization/hash/fold breaks these
    assert by_id[1] == -7591894778356981510
    assert by_id[5] == 4979828377929325953
    assert by_id[2] == 0 and by_id[3] == 0 and by_id[4] == 0


def test_embedding_neardup_lsh_matches_exact(spark):
    """The bucketed path (n_planes/n_tables) is verified against the exact
    quadratic path: every returned pair exists in the exact result with an
    identical cosine (exact verification inside the operator), and planted
    near-dups are recovered with recall >= 0.9 (OR-amplified tables:
    1-(1-p^8)^4, p ~ 0.97 at cosine ~0.995)."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    for i in range(300):
        v = rng.randn(16)
        rows.append({"vec_id": i, "embedding": [float(x) for x in v]})
        if i < 20:  # planted near-dups
            rows.append(
                {
                    "vec_id": 1000 + i,
                    "embedding": [float(x) for x in v + rng.randn(16) * 0.01],
                }
            )
    df = spark.createDataFrame(rows).cache()
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.95, n_planes=8, n_tables=4
        ).collect()
    }
    assert set(lsh) <= set(exact)  # no false positives survive verification
    assert all(lsh[k] == exact[k] for k in lsh)  # identical cosines
    planted = {(i, 1000 + i) for i in range(20)} & set(exact)
    assert planted, "planted dups must clear the exact threshold"
    recall = len(set(lsh) & planted) / len(planted)
    assert recall >= 0.9, f"planted recall {recall:.2f}"


def test_lsh_topk_multiprobe_recall_dominates_single(vectors):
    """Multi-probe recall@k vs brute force is monotonically >= single-probe
    (probing more buckets only adds candidates), and with all 2^planes
    buckets probed it equals brute force exactly."""
    q = [r for r in vectors.collect() if r["vec_id"] == 3][0]["embedding"]
    brute = [
        r["id"]
        for r in similarity.brute_force_topk(
            vectors, "vec_id", "embedding", list(q), k=10
        ).collect()
    ]

    def recall(n_probes):
        got = {
            r["id"]
            for r in similarity.lsh_topk(
                vectors, "vec_id", "embedding", list(q),
                k=10, n_planes=4, n_probes=n_probes,
            ).collect()
        }
        return len(got & set(brute)) / len(brute)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5
    assert r3 >= r1  # multi-probe never loses candidates
    # probing every bucket = brute force (5 probes of 4 planes isn't all 16;
    # use the exhaustive bound explicitly)
    full = {
        r["id"]
        for r in similarity.lsh_topk(
            vectors, "vec_id", "embedding", list(q),
            k=10, n_planes=1, n_probes=2,  # 2 probes of 1 plane = everything
        ).collect()
    }
    assert full == set(brute)


def _cluster_rows(monkeypatch, ids, pairs, **kw):
    """``neardup_clusters``' rows under each plan, by plan name: ``CAP``
    0 runs the star contraction on any graph with an edge, the default
    runs driver union-find on every graph these tests build."""
    out = {}
    for plan, cap in (("star", 0), ("driver", dedup.CAP)):
        monkeypatch.setattr(dedup, "CAP", cap)
        out[plan] = {
            tuple(r) for r in dedup.neardup_clusters(ids, pairs, **kw).collect()
        }
    return out


def test_neardup_clusters_transitive(spark, monkeypatch):
    """Pairs (a,b),(b,c) must collapse into ONE cluster with canonical=min,
    even though (a,c) was never emitted; singletons stay their own cluster.
    Both plans (star contraction and driver union-find)."""
    ids = spark.createDataFrame([(i,) for i in range(8)], "id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (5, 7), (2, 4)], "id_a long, id_b long"
    )
    for plan, rows in _cluster_rows(monkeypatch, ids, pairs).items():
        got = {d: (c, n) for d, c, n in rows}
        # chain 1-3-5-7 (diameter 3 -> exercises >1 propagation round)
        for i in (1, 3, 5, 7):
            assert got[i] == (1, 4), plan
        for i in (2, 4):
            assert got[i] == (2, 2), plan
        for i in (0, 6):
            assert got[i] == (i, 1), plan


def test_neardup_clusters_on_planted_corpus(corpus, monkeypatch):
    """Planted exact dups form 2-clusters; the canonical keeps the min id
    (both plans)."""
    pairs = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.8)
    ids = corpus.select(F.col("doc_id").alias("id"))
    for plan, rows in _cluster_rows(monkeypatch, ids, pairs).items():
        got = {d: (c, n) for d, c, n in rows}
        for i in range(5):
            assert got[100 + i] == (i, 2) and got[i] == (i, 2), plan


def test_knn_join_matches_per_query_brute_force(vectors):
    """knn_join's per-query rankings equal independent brute_force_topk
    runs (same cosine, same deterministic tiebreak)."""
    queries = vectors.filter(F.col("vec_id").isin([3, 7]))
    corpus = vectors.filter(~F.col("vec_id").isin([3, 7]))
    joined = similarity.knn_join(corpus, queries, "vec_id", "embedding", k=5)
    got = {}
    for r in joined.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rk"], r["neighbor_id"], r["cosine"])
        )
    for qid in (3, 7):
        qvec = [
            float(x)
            for x in vectors.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        brute = similarity.brute_force_topk(
            corpus, "vec_id", "embedding", qvec, k=5
        ).collect()
        expect = [
            (i + 1, r["id"], r["cosine"]) for i, r in enumerate(brute)
        ]
        assert sorted(got[qid]) == expect, qid


def test_knn_join_ivf_full_probe_equals_exact(vectors):
    """With nprobe == n_centroids every bucket is probed, so the IVF
    bucket equi-join must reproduce knn_join exactly (each corpus vector
    lives in exactly one bucket — no pair is scored twice or missed)."""
    queries = vectors.filter(F.col("vec_id").isin([3, 7]))
    corpus = vectors.filter(~F.col("vec_id").isin([3, 7]))
    cents = similarity.train_ivf_centroids(corpus, "embedding", n_centroids=8)
    ivf = {
        tuple(r)
        for r in similarity.knn_join_ivf(
            corpus, queries, "vec_id", "embedding",
            k=5, centroids=cents, nprobe=8,
        ).collect()
    }
    exact = {
        tuple(r)
        for r in similarity.knn_join(
            corpus, queries, "vec_id", "embedding", k=5
        ).collect()
    }
    assert ivf == exact and len(ivf) == 10


def test_knn_join_ivf_pruned_recall(vectors):
    """nprobe=4 of 16 centroids: per-query recall vs the exact join stays
    high on the 200-vector corpus, and the planted near-dup pair is found
    (query 3's clone 900 shares its nearest-centroid bucket)."""
    queries = vectors.filter(F.col("vec_id").isin([3, 7]))
    corpus = vectors.filter(~F.col("vec_id").isin([3, 7]))
    cents = similarity.train_ivf_centroids(corpus, "embedding", n_centroids=16)
    ivf_rows = similarity.knn_join_ivf(
        corpus, queries, "vec_id", "embedding",
        k=5, centroids=cents, nprobe=4,
    ).collect()
    exact_rows = similarity.knn_join(
        corpus, queries, "vec_id", "embedding", k=5
    ).collect()
    got, exp = {}, {}
    for r in ivf_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact_rows:
        exp.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert 900 in got[3]  # planted clone of query 3
    for qid in (3, 7):
        assert len(got[qid] & exp[qid]) / 5 >= 0.6, qid
    # determinism: identical call -> identical rows
    again = similarity.knn_join_ivf(
        corpus, queries, "vec_id", "embedding",
        k=5, centroids=cents, nprobe=4,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, ivf_rows))


def test_neardup_clusters_minlabel_raises_on_unconverged_chain(spark):
    """The diameter-bound min-label spec must fail loudly (never return
    silently-split clusters) when a chain outlasts its round cap."""
    n = 8
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters_minlabel(ids, pairs, max_iterations=3)
    # and with enough rounds the same chain converges to one cluster
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in neardup_clusters_minlabel(
            ids, pairs, max_iterations=12
        ).collect()
    }
    assert set(got.values()) == {0}


def test_neardup_clusters_long_chain_log_rounds(spark, monkeypatch):
    """A planted chain LONGER than the old diameter cap (12): min-label
    propagation refuses it, star contraction resolves it — in O(log n)
    rounds (max_iterations=8 covers a 40-node chain only if rounds are
    logarithmic, not diameter-bound). ``CAP = 0`` forces the star plan:
    the driver plan has no rounds to cap."""
    monkeypatch.setattr(dedup, "CAP", 0)
    n = 40  # diameter 39
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters_minlabel(ids, pairs, max_iterations=12)
    got = {
        (r["doc_id"], r["canonical_id"], r["cluster_size"])
        for r in dedup.neardup_clusters(ids, pairs, max_iterations=8).collect()
    }
    assert got == {(i, 0, n) for i in range(n)}


def test_neardup_clusters_star_releases_round_checkpoints(spark, monkeypatch):
    """The star plan frees each contraction round's ``localCheckpoint``
    once the next round's exists: after a multi-round run at most one
    RDD (the fixpoint edges the result reads) stays registered as
    persistent. ``clearCache`` cannot free these, so a leak would grow by
    one RDD per round (a 40-node chain takes several)."""
    monkeypatch.setattr(dedup, "CAP", 0)
    sc = spark.sparkContext
    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    before = set(sc._jsc.getPersistentRDDs().keys())
    assert dedup.neardup_clusters(ids, pairs).count() == n
    assert len(set(sc._jsc.getPersistentRDDs().keys()) - before) <= 1


def test_neardup_clusters_runs_pair_stage_once(spark, monkeypatch):
    """Both plans evaluate an unpersisted pair stage once per row: the
    star plan reads the edge list the bounded collect materialized
    instead of running the pair stage again. ``CAP = n - 1`` picks the
    star plan after a collect that reads every edge."""
    n = 50
    for cap in (n - 1, dedup.CAP):
        monkeypatch.setattr(dedup, "CAP", cap)
        seen = spark.sparkContext.accumulator(0)

        def tick(x):
            seen.add(1)
            return x

        pair_id = F.udf(tick, "long").asNondeterministic()
        pairs = spark.range(n).select(
            pair_id("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        ids = spark.range(n + 1)
        assert dedup.neardup_clusters(ids, pairs).count() == n + 1
        assert seen.value == n, cap


def test_neardup_clusters_star_matches_minlabel_spec(spark, monkeypatch):
    """On a mixed graph (chain + clique + singleton + isolated edge) both
    plans are row-identical to the min-label executable spec."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (5, 7), (7, 9),  # chain
         (2, 4), (4, 6), (2, 6),          # triangle
         (10, 11)],                       # isolated edge
        "id_a long, id_b long",
    )
    minlabel = {
        tuple(r)
        for r in neardup_clusters_minlabel(ids, pairs).collect()
    }
    assert _cluster_rows(monkeypatch, ids, pairs) == {
        "star": minlabel, "driver": minlabel
    }


def test_neardup_clusters_degenerate_graphs_match_minlabel_spec(
    spark, monkeypatch
):
    """Both plans are row-identical to the min-label spec on an empty
    graph, a self-loop-only graph, a 300-member star (a template flood
    after the LSH guard) and pairs with dangling endpoints absent from
    ``ids``."""
    ids = spark.createDataFrame([(i,) for i in range(320)], "id long")
    schema = "id_a long, id_b long"
    graphs = {
        "empty": [],
        "self_loops": [(i, i) for i in range(0, 20, 3)],
        # star edges point both ways (min-first and member-first)
        "flood": [(5, i) if i % 2 else (i, 5) for i in range(6, 306)],
        # 900/901/950 are not ids: leaves hanging off ids 1, 2 and 4
        "absent": [(1, 900), (2, 3), (3, 901), (4, 950), (950, 6), (4, 6)],
    }
    for name, rows in graphs.items():
        pairs = spark.createDataFrame(rows, schema)
        minlabel = {
            tuple(r) for r in neardup_clusters_minlabel(ids, pairs).collect()
        }
        got = _cluster_rows(monkeypatch, ids, pairs)
        assert got == {"star": minlabel, "driver": minlabel}, name
        if name == "flood":
            assert {r for r in minlabel if r[1] == 5} == {
                (i, 5, 301) for i in range(5, 306)
            }


def test_neardup_clusters_absent_endpoint_links_its_neighbours(
    spark, monkeypatch
):
    """Components span the whole pair graph: an endpoint absent from
    ``ids`` still joins its neighbours and, as their minimum, becomes
    their ``canonical_id`` (the min-label spec propagates only from
    ``ids`` and would split them). Both plans agree."""
    ids = spark.createDataFrame([(i,) for i in (3, 5, 8, 9)], "id long")
    pairs = spark.createDataFrame(
        [(1, 3), (1, 5), (8, 20), (9, 20)], "id_a long, id_b long"
    )
    expected = {(3, 1, 2), (5, 1, 2), (8, 8, 2), (9, 8, 2)}
    assert _cluster_rows(monkeypatch, ids, pairs) == {
        "star": expected, "driver": expected
    }


def test_decontaminate_planted(spark):
    """Planted contamination tiers: a train doc copied VERBATIM into the
    eval set is fully hit (n_hit == n_grams), a train doc sharing only a
    13-token window is partially hit (0 < n_hit < n_grams), a clean doc
    and a sub-13-token doc are untouched (the short one through the
    zero-gram explode_outer path)."""
    w = [f"w{i}" for i in range(40)]
    v = [f"v{i}" for i in range(40)]
    train = spark.createDataFrame(
        [
            (0, " ".join(w[:30])),                     # verbatim in eval
            (1, " ".join(v[:13] + ["x1", "x2", "x3"])),  # partial overlap
            (2, " ".join(f"c{i}" for i in range(25))),   # clean
            (3, "tiny doc of five tokens"),              # < 13 tokens
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (0, " ".join(w[:30])),                     # verbatim copy
            (1, " ".join(["e1", "e2"] + v[:13])),      # carries v window
            (2, " ".join(f"z{i}" for i in range(20))),  # noise
        ],
        "eval_id long, text string",
    )
    got = {
        r["id"]: r
        for r in dedup.decontaminate(
            train, evals, "doc_id", "text", n=13
        ).collect()
    }
    assert got[0]["contaminated"] and got[0]["n_hit"] == got[0]["n_grams"] == 18
    assert got[1]["contaminated"] and 0 < got[1]["n_hit"] < got[1]["n_grams"]
    assert got[1]["n_hit"] == 1  # exactly the planted v window
    assert not got[2]["contaminated"] and got[2]["n_hit"] == 0
    assert got[3]["n_grams"] == 0 and got[3]["n_hit"] == 0
    assert not got[3]["contaminated"]


def test_curation_pipeline_decontaminate_flag(spark):
    """curation_pipeline(decontaminate_against=...) drops exactly the
    contaminated doc: baseline keep-set minus a singleton-cluster doc
    whose text the eval set carries."""
    import __spark_entry__ as entry_mod

    # originals only (no planted mutations) -> singleton clusters exist
    docs = entry_mod._docs(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id") < 30
    ).select("doc_id", "text")

    def pair_fn(kept):
        return dedup.ngram_jaccard_pairs(
            kept, "doc_id", "text", shingle_n=5, threshold=0.8
        )

    base = {r["doc_id"]: r for r in entry_mod.curation_pipeline(docs, pair_fn).collect()}
    # a singleton-cluster survivor with >= 13 tokens: dropping it cannot
    # promote a near-dup partner into the keep set
    k = min(
        d
        for d, r in base.items()
        if r["cluster_size"] == 1 and r["n_tokens"] >= 13
    )
    evals = docs.filter(F.col("doc_id") == k).select("text")
    got = {
        r["doc_id"]
        for r in entry_mod.curation_pipeline(
            docs, pair_fn, decontaminate_against=evals
        ).collect()
    }
    assert got == set(base) - {k}


# 7 tokens, 25 chars: stopwords and word length pass, length and punctuation
# fail, so the score is exactly 0.5; upper-cased, no stopword matches (0.25);
# upper-cased and padded past 50 chars, length and punctuation pass (0.75)
BORDER = "the !!! of ??? and ;;; to"
BORDER_UP = BORDER.upper()
BORDER_WIDE = BORDER_UP.replace(" ", "      ")


def _gate_corpus(spark):
    """Fingerprint groups (lower-cased, whitespace-collapsed text) that mix
    passing and failing case/whitespace variants, in a frame whose id is
    not its first column: the group's least id fails and a later id
    passes (ids 1-3 and a NULL id), the least id passes (4, 5), no id
    passes (6), exact duplicates (7, 8), a contaminable group (30, 31),
    singletons, a NULL text and a NULL id."""
    long_text = " ".join(
        f"the record {i} of the archive and its notes" for i in range(6)
    )
    rows = [
        (BORDER_UP, 1, "a"), (BORDER, 2, "b"), (BORDER_WIDE, 3, "c"),
        (BORDER.replace(" ", "\t"), None, "d"),
        (BORDER + " x", 4, "e"), (BORDER_UP + " X", 5, "f"),
        (BORDER_UP + " Y", 6, "g"),
        (long_text, 7, "h"), (long_text, 8, "i"),
        (long_text + " copy", 30, "j"), ((long_text + " copy").upper(), 31, "k"),
        ("a plain sentence about the weather in the hills and the sea", 9, "l"),
        (None, 20, "m"),
        ("the sentence with no id at all is long enough to pass", None, "n"),
    ]
    schema = "text string, doc_id long, src string"
    return spark.createDataFrame(rows, schema), long_text


def test_curation_gate_matches_two_branch_spec(spark):
    """The one-aggregate gate (score once, fold ``quality >= 0.5`` into the
    min-id aggregate) is row- and column-identical to the two-branch spec
    (filter, then semi-join the frame to its own min-id aggregate), with
    and without decontamination, on 0-row, 1-row and mixed-variant
    inputs. The predicate filters before the min: the group whose least
    id fails keeps its least passing id."""
    from adaptive_pdf_extractor_spark.plans.curation import _gate

    docs, long_text = _gate_corpus(spark)
    evals = spark.createDataFrame([(long_text + " copy",)], "text string")
    inputs = {
        "mixed": docs,
        "empty": docs.limit(0),
        "one_pass": docs.filter(F.col("doc_id") == 2),
        "one_fail": docs.filter(F.col("doc_id") == 1),
    }
    for name, df in inputs.items():
        for against in (None, evals):
            got = _gate(df, against, 13)
            spec = quality_gate_two_branch(df, against, 13)
            assert got.columns == spec.columns, (name, got.columns)
            assert sorted(got.collect()) == sorted(spec.collect()), name
    kept = {r["doc_id"]: r["quality"] for r in _gate(docs, None, 13).collect()}
    assert kept == {2: 0.5, 4: 0.5, 7: 1.0, 9: 1.0, 30: 1.0}
    # the eval text shares 13-grams with both long-text groups
    decon = {r["doc_id"] for r in _gate(docs, evals, 13).collect()}
    assert decon == {2, 4, 9}
    # and without a predicate: the same rows as the semi-join form
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    two_branch = docs.join(groups, "doc_id", "left_semi")
    one = dedup.exact_dedup_keep(docs, "doc_id", "text")
    assert one.columns == two_branch.columns
    assert sorted(one.collect()) == sorted(two_branch.collect())


def test_curation_gate_generated_code_bounded(spark):
    """No whole-stage-codegen subtree of the curation gate exceeds 64 KB
    of Java source, with or without decontamination. Ten unrolled
    stopword replace-counts, a score compiled into both a filter and a
    projection, and a semi-join branch that compiled it again once made
    subtrees of 246 and 227 KB. Plans are listed with AQE off (an
    adaptive plan lists no subtree before it runs)."""
    from adaptive_pdf_extractor_spark.plans.curation import _gate

    docs, long_text = _gate_corpus(spark)
    evals = spark.createDataFrame([(long_text,)], "text string")
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sizes = {}
        for name, against in (("plain", None), ("decontaminated", evals)):
            plan = _gate(docs, against, 13)._jdf.queryExecution()
            subtrees = plan.debug().codegenToSeq()
            sizes[name] = [
                len(subtrees.apply(i)._2()) for i in range(subtrees.size())
            ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    assert all(sizes.values()), sizes
    assert max(max(s) for s in sizes.values()) <= 64 * 1024, sizes


def test_curation_lsh_matches_exact_composition(spark):
    """The LSH-backed curation pipeline (minhash pair stage) is
    row-identical to the exact quadratic composition on the oracled
    planted corpus — the same verified-vs-exact pattern as
    embedding_neardup_lsh. This is the correctness pin behind the
    rows-only corpus_curation_lsh driver entry."""
    import __spark_entry__ as entry_mod

    docs = entry_mod._planted_dups(spark, "/root/testdata/sf0.001")
    exact = {
        tuple(r)
        for r in entry_mod.curation_pipeline(
            docs,
            lambda kept: dedup.ngram_jaccard_pairs(
                kept, "doc_id", "text", shingle_n=5, threshold=0.8
            ),
        ).collect()
    }
    lsh = {
        tuple(r)
        for r in entry_mod.curation_pipeline(
            docs,
            lambda kept: dedup.minhash_lsh_pairs(
                kept, "doc_id", "text", threshold=0.8
            ).select("id_a", "id_b"),
        ).collect()
    }
    assert lsh == exact and len(lsh) > 0


def test_curation_lsh_full_corpus_collapses_planted_mutations(spark):
    """The registered scale query (full documents table + mutations, no
    quadratic stage) actually collapses the planted near-dups: output rows
    (cluster canonicals) number fewer than the deduped survivors."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    out = entry_mod.q_corpus_curation_lsh(spark, sf)
    rows = out.collect()
    n_out = len(rows)
    assert n_out > 0
    # survivors of quality gate + exact dedup, before near-dup collapse
    docs = entry_mod._planted_dups(spark, sf, n=None)
    from adaptive_pdf_extractor_spark.functions import text as T

    kept = dedup.exact_dedup_keep(
        docs.filter(T.quality_score(F.col("text")) >= 0.5), "doc_id", "text"
    )
    assert n_out < kept.count()  # near-dup clustering collapsed something
    # every multi-doc cluster keeps its minimum id as the canonical
    assert all(r["cluster_size"] >= 1 for r in rows)


def test_embedding_neardup_lsh_null_and_ragged_vectors(spark):
    """Null / wrong-dimension embeddings drop out of the bucketed path the
    same way they drop out of the exact path (no executor crash)."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        v = rng.randn(16)
        rows.append({"vec_id": i, "embedding": [float(x) for x in v]})
        if i < 5:
            rows.append(
                {"vec_id": 1000 + i, "embedding": [float(x) for x in v + rng.randn(16) * 0.005]}
            )
    rows.append({"vec_id": 7777, "embedding": None})
    rows.append({"vec_id": 8888, "embedding": [1.0, 2.0]})  # ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.95, n_planes=8, n_tables=4
        ).collect()
    }
    assert all(a not in (7777, 8888) and b not in (7777, 8888) for a, b in lsh)
    assert len(lsh & {(i, 1000 + i) for i in range(5)}) >= 4


def test_cosine_pairs_np_mixed_dimensions_one_batch(spark):
    """One Arrow batch containing valid pairs of DIFFERENT vector
    dimensions (e.g. one malformed shorter embedding row alongside normal
    rows) must score every internally-consistent pair and null only the
    per-pair-ragged one — the length-grouped stacking; a naive np.array
    over all valid rows raises on the inhomogeneous shape and kills the
    whole job."""
    rows = [
        # dim-4 pair, dim-3 pair, per-pair ragged, and a null — one batch
        (1, [1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 2.0, 2.0], [1.0, 2.0, 2.0]),
        (3, [1.0, 0.0], [1.0, 0.0, 0.0]),
        (4, None, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    ).coalesce(1)
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", similarity.cosine_pairs_np()(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] is None and got[4] is None


def test_simhash_rotation_recall(corpus):
    """Rotated re-bucketing is pure OR-amplification: every single-prefix
    pair survives, new pairs may appear, and everything returned is exact
    (verified against all-pairs hamming ground truth)."""
    sigs = corpus.select(
        F.col("doc_id").alias("id"), dedup.simhash64(F.col("text")).alias("sig")
    ).cache()
    x, y = sigs.alias("x"), sigs.alias("y")
    ground = {
        (r["a"], r["b"]): r["h"]
        for r in x.crossJoin(y)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig"))).alias("h"),
        )
        .filter(F.col("h") <= 12)
        .collect()
    }

    def pairs(n_rot):
        return {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_pairs(
                corpus, "doc_id", "text",
                max_hamming=12, prefix_bits=16, n_rotations=n_rot,
            ).collect()
        }

    p1, p4 = pairs(1), pairs(4)
    assert set(p1) <= set(p4) <= set(ground)
    assert all(ground[k] == v for k, v in p4.items())
    assert len(p4) >= len(p1)


def test_lsh_bucket_np_matches_column_expr(vectors):
    """The numpy bucket assignment (hot path of lsh_topk and the multi-table
    near-dup) must agree with the Column-algebra reference formulation on
    every vector (sign ties at dot==0 are measure-zero for real data; any
    disagreement here is a real bug, not noise)."""
    planes = similarity.hyperplanes(16, 8, seed=42)
    rows = vectors.select(
        "vec_id",
        lsh_bucket_expr(F.col("embedding"), planes).alias("col_b"),
        F.element_at(
            similarity.lsh_table_buckets_np([planes])(F.col("embedding")), 1
        ).alias("np_b"),
    ).collect()
    assert rows and all(r["col_b"] == r["np_b"] for r in rows)


def test_knn_join_ivf_zero_norm_vector_matches_exact(spark):
    """A zero-norm corpus vector must behave identically on the numpy
    batch-cosine path (knn_join_ivf) and the Column path (knn_join):
    Spark's Divide yields NULL on 0/0 and nulls sort LAST under desc,
    while raw numpy would yield NaN which sorts FIRST — the mask in
    cosine_pairs_np pins the NULL behavior."""
    import math

    rows = [
        (i, [math.sin(0.3 * i + 0.1 * d) for d in range(8)])
        for i in range(20)
    ]
    rows.append((99, [0.0] * 8))  # zero-norm corpus vector
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 2)
    corpus = vecs.filter(F.col("vec_id") >= 2)
    cents = similarity.train_ivf_centroids(corpus, "embedding", n_centroids=4)
    ivf = sorted(
        tuple(r)
        for r in similarity.knn_join_ivf(
            corpus, queries, "vec_id", "embedding",
            k=19, centroids=cents, nprobe=4,
        ).collect()
    )
    exact = sorted(
        tuple(r)
        for r in similarity.knn_join(
            corpus, queries, "vec_id", "embedding", k=19
        ).collect()
    )
    assert ivf == exact
    # the zero vector ranks LAST with a null cosine on both paths
    zero_rows = [r for r in ivf if r[1] == 99]
    assert zero_rows and all(r[3] is None and r[2] == 19 for r in zero_rows)


def test_simhash_md5_hamming_tracks_similarity(corpus):
    """The engine-portable md5 simhash (every signature value is
    DuckDB-verified in the driver gate) must still behave like a simhash:
    planted near-dups land within a small hamming distance, unrelated
    docs far apart."""
    sigs = {
        r["doc_id"]: r["sig"]
        for r in corpus.select(
            "doc_id",
            dedup.simhash64(F.col("text"), hash_family="md5").alias("sig"),
        ).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for i in range(5):
        assert ham(sigs[i], sigs[100 + i]) == 0          # exact dups
        assert ham(sigs[10 + i], sigs[200 + i]) <= 12    # near-dups
    far = [ham(sigs[i], sigs[j]) for i in range(5) for j in range(30, 35)]
    assert min(far) > 12


def test_fuzzy_text_pairs_matches_bruteforce(spark):
    """q-gram + length candidate filters must lose NOTHING: output equals
    the quadratic levenshtein definition, including short strings (below
    the count-filter guarantee -> short bucket) and pairs straddling the
    short/long boundary."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, ("the quick brown fox jumps over the lazy dog " * 4)[7:]),
        (3, "a completely different long string about harbors and ships "
            "and tides and gulls wheeling over the quay at dusk " * 2),
        (10, "short a"),          # short bucket
        (11, "short b"),          # distance 1 from short a
        (12, "shrt a"),           # distance 1 from short a
        (13, ""),                 # empty: distance = |other|
        (14, "tiny"),
        # order sensitivity: same tokens, transposed halves —
        # jaccard-identical, edit-FAR (must NOT pair at d=16)
        (20, "alpha beta gamma delta " * 8 + "one two three four " * 8),
        (21, "one two three four " * 8 + "alpha beta gamma delta " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in dedup.fuzzy_text_pairs(
            df, "doc_id", "text", max_distance=16, q=5
        ).collect()
    }

    def lev(a, b):
        # iterative DP (strings are a few hundred chars)
        prev = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            cur = [i] + [0] * len(b)
            for j in range(1, len(b) + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[-1]

    texts = {i: t.lower() for i, t in rows}
    exp = {
        (a, b, lev(texts[a], texts[b]))
        for a in texts
        for b in texts
        if a < b and lev(texts[a], texts[b]) <= 16
    }
    assert got == exp
    found = {(a, b) for a, b, _ in got}
    assert (1, 2) in found and (10, 11) in found and (10, 12) in found
    assert (13, 14) in found  # empty vs 4-char: distance 4
    assert (20, 21) not in found  # transposition is edit-far


def test_gram_bloom_no_false_negatives_and_fpr():
    """build_gram_bloom: every inserted key tests positive (NO false
    negatives — the decontamination guarantee), and the false-positive
    rate on 50k random non-members stays within 3x the nominal fpr."""
    import hashlib

    import numpy as np

    from adaptive_pdf_extractor_spark.operators.dedup import (
        bloom_contains,
        build_gram_bloom,
    )

    keys = [
        hashlib.md5(f"member-{i}".encode()).hexdigest()[:16]
        for i in range(5000)
    ]
    bits, k, m = build_gram_bloom(keys, fpr=1e-3)
    kv = np.array([int(x, 16) for x in keys], dtype=np.uint64)
    assert bloom_contains(np, bits, k, m, kv).all()
    others = np.array(
        [
            int(hashlib.md5(f"non-{i}".encode()).hexdigest()[:16], 16)
            for i in range(50000)
        ],
        dtype=np.uint64,
    )
    fp = bloom_contains(np, bits, k, m, others).mean()
    assert fp <= 3e-3, fp
    # empty-key edge: nothing is ever a member
    bits0, k0, m0 = build_gram_bloom([], fpr=1e-3)
    assert not bloom_contains(np, bits0, k0, m0, others[:100]).any()


def test_curate_increment_transitive_taint(spark, monkeypatch):
    """A new doc connected to the old corpus only THROUGH another new doc
    (chain old-A ~ new-B ~ new-C, no direct A~C pair) must also drop:
    full re-curation folds the whole chain under A, and so does the one
    new x new ∪ new x old graph, whose component is rooted at A. Both
    connected-components plans (``CAP`` 0 forces the star contraction)."""
    from adaptive_pdf_extractor_spark.plans.curation import curate_increment

    w = [f"tok{i:03d}" for i in range(100)]
    # quality gate needs stopwords + sane lengths — pad with common words
    def mk(words):
        return " ".join(
            x for pair in zip(words, ["the", "of", "is", "to", "and"] * 40)
            for x in pair
        )

    a_txt, b_txt, c_txt = mk(w[0:60]), mk(w[20:80]), mk(w[40:100])
    thr = 0.45
    trio = spark.createDataFrame(
        [(1, a_txt), (500, b_txt), (600, c_txt)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            trio, "doc_id", "text", shingle_n=5, threshold=thr
        ).collect()
    }
    # the construction really is a chain: A~B, B~C, NOT A~C
    assert (1, 500) in pairs and (500, 600) in pairs
    assert (1, 600) not in pairs

    old = trio.filter(F.col("doc_id") == 1)
    new = trio.filter(F.col("doc_id") > 1)
    for cap in (0, dedup.CAP):
        monkeypatch.setattr(dedup, "CAP", cap)
        # B links to A directly, C only through B
        assert curate_increment(new, old, threshold=thr).collect() == [], cap


def _window_doc(start: int, n: int = 100) -> str:
    """Tokens ``start .. start + n - 1`` of one fixed vocabulary, each
    followed by a stopword chosen by its position in the vocabulary (so
    overlapping windows share their character grams and the quality gate
    passes). Windows ``d`` tokens apart have a 5-char-gram jaccard of
    0.892 at d = 8 and 0.796 at d = 16."""
    stop = ["the", "of", "is", "to", "and"]
    return " ".join(
        x for i in range(start, start + n) for x in (f"tok{i:03d}", stop[i % 5])
    )


def test_curate_increment_labels_one_graph(spark, monkeypatch):
    """``curate_increment`` keeps the min-id canonicals of ONE graph over
    new x new ∪ new x old pairs, under both connected-components plans:

    * two new clusters (101~102, 103~104) bridged only by old doc 1 both
      drop: the component is rooted at 1;
    * the all-new cluster 201~202~203 keeps 201 with its new-only
      ``cluster_size`` 3;
    * new doc 5 near-dup of old doc 1000 sorts BEFORE it (outside the
      documented id-order precondition) and is kept as its component's
      canonical, the doc full re-curation keeps, with ``cluster_size`` 1
      (only new docs are counted)."""
    from adaptive_pdf_extractor_spark.plans.curation import curate_increment

    thr = 0.85
    offsets = {1: 20, 1000: 200, 101: 4, 102: 12, 103: 28, 104: 36,
               201: 120, 202: 128, 203: 136, 5: 204}
    docs = spark.createDataFrame(
        [(i, _window_doc(o)) for i, o in offsets.items()],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=5, threshold=thr
        ).collect()
    }
    # windows 8 tokens apart pair, 16 apart do not
    assert pairs == {
        (1, 102), (1, 103), (101, 102), (103, 104),
        (201, 202), (202, 203), (5, 1000),
    }
    old = docs.filter(F.col("doc_id").isin(1, 1000))
    new = docs.filter(~F.col("doc_id").isin(1, 1000))
    for cap in (0, dedup.CAP):
        monkeypatch.setattr(dedup, "CAP", cap)
        kept = {
            (r["doc_id"], r["cluster_size"])
            for r in curate_increment(new, old, threshold=thr).collect()
        }
        assert kept == {(5, 1), (201, 3)}, cap
