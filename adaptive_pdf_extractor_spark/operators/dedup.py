"""Deduplication operators for web-scale corpora.

Four families, each a different cost/recall point at 100 TB:

* **exact** — hash-groupBy on a content fingerprint. One shuffle on a
  64-bit key; the cheapest and always the first pass.
* **MinHash + LSH** — shingle -> minhash signature -> banded bucket join ->
  exact-Jaccard verification of candidates. Near-dup detection whose cost
  is ~O(n · bands) instead of O(n²); the scale path. All hashing is
  JVM-side ``xxhash64`` (whole-stage codegen, deterministic across runs
  and cluster sizes); the sketches also take an ``md5`` hash family that
  a DuckDB oracle reproduces bit-for-bit.
* **SimHash** — 64-bit signature whose Hamming distance approximates
  cosine similarity of token multisets; near-dup via signature-prefix
  bucketing.
* **n-gram Jaccard brute force** — the exact quadratic reference
  implementation (explode + self-join); used as the oracle for the
  approximate families and directly on small candidate sets.

Embedding-cosine near-dup lives in operators.similarity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    _hash_family,
    char_grams_all,
    char_ngrams,
    doc_fingerprint_md5,
    token_ngram_keys,
    tokens,
)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition small-file inputs across the cluster before the
    compute-heavy shingling/signature stages. A 100 TB corpus arrives in
    thousands of splits, but a small parquet lands as ONE partition —
    leaving every core but one idle for the whole LSH job (measured: 30x
    on the bench corpus)."""
    target = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate groups by content fingerprint: one row per distinct
    content, with the canonical (min) id and the group size.

    Plan shape: project(fingerprint) -> hash-aggregate (partial+final) —
    a single shuffle on the fingerprint, no row data moved beyond the key
    and the aggregates."""
    return (
        df.select(
            doc_fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count("*").alias("group_size"),
        )
    )


def exact_dedup_keep(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative row per distinct content (min id wins —
    deterministic): one aggregate keyed on the fingerprint, see
    :func:`_min_id_rows`."""
    return _min_id_rows(df, id_col, text_col)


def _min_id_rows(
    df: DataFrame, id_col: str, text_col: str, where: Column | None = None
) -> DataFrame:
    """The row with the least ``id_col`` of each fingerprint group among
    the rows that satisfy ``where`` (all rows when None), as ONE aggregate:
    ``min(when(where, struct(id, row)))`` per fingerprint, with no join
    back to the input, so the input subtree (the curation gate's quality
    score) runs once per row. A semi-join of the frame to its own min-id
    aggregate would run it in both branches.

    The predicate filters BEFORE the min, so a group whose least id fails
    keeps its least passing id. ``min`` skips the NULL structs of failing
    rows, and a group with none passing yields NULL and is dropped. A row
    with a NULL id is never kept. Ids are unique keys (a repeated id comes
    back once) and every column must be orderable (no map column).
    Columns come out as a semi-join on ``id_col`` gives them: ``id_col``
    first, then the others in their order."""
    rest = [c for c in df.columns if c != id_col]
    passes = F.col(id_col).isNotNull()
    if where is not None:
        passes = passes & where
    best = F.min(F.when(passes, F.struct(id_col, *rest))).alias("_best")
    return (
        df.groupBy(doc_fingerprint_md5(F.col(text_col)).alias("_fp"))
        .agg(best)
        .filter(F.col("_best").isNotNull())
        .select("_best.*")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Permutation bank for the numpy signature path: sig_i = min over shingles
# of (a_i * h + b_i) mod 2^64, h = the shingle's decoded hash. Odd a makes
# the multiply a bijection on [0, 2^64) (multiply-shift family), so each
# (a_i, b_i) is a genuine pseudo-permutation — natural uint64 wraparound is
# the modulus. (A bounded-parameter variant that never wrapped its modulus
# turned out to be monotone in h — i.e. not a permutation at all, every
# slot won by the same global-min shingle. Caught by the planted-dup recall
# test; don't "simplify" the wraparound away.)


def _perm_params(num_hashes: int, seed: int = 1):
    """Deterministic (a odd, b) uint64 parameter vectors (splitmix64)."""
    import numpy as np

    vals = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(2 * num_hashes):
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        vals.append(z ^ (z >> 31))
    a = np.array([v | 1 for v in vals[:num_hashes]], dtype=np.uint64)
    b = np.array(vals[num_hashes:], dtype=np.uint64)
    return a, b


def _minhash_fold_udf(decode, num_hashes: int):
    """Shared Arrow-batched MinHash fold for every hash family:
    ``decode(np, hashes) -> uint64 ndarray`` supplies the per-gram hash
    values; the permutation bank (:func:`_perm_params`) and the min-reduce
    are ONE implementation, so the production and oracled signatures can
    never silently diverge. One uint64 numpy broadcast per document, ~10x
    faster than an interpreted Column-lambda formulation (measured).
    Null / empty gram arrays fold to a null signature."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    a, b = _perm_params(num_hashes)

    def sig(hashes):
        out = []
        with np.errstate(over="ignore"):
            for hs in hashes:
                if hs is None or len(hs) == 0:
                    out.append(None)
                    continue
                h = decode(np, hs)
                vals = a[:, None] * h[None, :] + b[:, None]  # mod 2^64 implicit
                out.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    # set real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pyspark's eval-type inference rejects
    sig.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf("array<bigint>")(sig)


def _shingled(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    # No size(shingles) > 0 filter: char_ngrams NEVER yields an empty
    # array (short text -> its whole lowered text as the one gram; "" ->
    # [""], NULL -> [NULL]), so the filter dropped nothing — but the
    # optimizer pushed the size(<whole gram expression>) predicate below
    # every join/repartition to the parquet SCAN, re-evaluating the gram
    # regex for the full corpus on the scan's 1-2 input splits (measured
    # 4.5 s vs 0.4 s for a 4.7k-doc pruned verify pass at sf1.0). The
    # same holds for every gram array in this module.
    return _spread(df).select(
        F.col(id_col).alias("id"),
        char_ngrams(F.col(text_col), shingle_n).alias("shingles"),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    num_hashes: int = 128,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig) minhash signature table — the per-corpus one-time cost.
    Materialize/persist this once (a parquet/Iceberg table at scale, the
    streaming state table in micro-batch mode) and feed it to
    :func:`minhash_lsh_pairs_from_sigs`; only NEW documents ever hash.

    ``hash_family``: ``"xxhash64"`` (the production fast path) or
    ``"md5"`` — the engine-portable variant whose every signature value a
    DuckDB oracle reproduces (q_minhash_md5). Both run the same
    permutation bank and fold (:func:`_minhash_fold_udf`); only the
    per-gram hash differs, and their band/pair behavior on one corpus is
    pinned equal in tests.

    Gram hashing is one codegen'd regex gram pass
    (functions.text.char_grams_all) + one SINGLE-LEVEL hashing transform.
    Two load-bearing properties:

    * No ``array_distinct``: min over a multiset equals min over its
      distinct set, so every signature slot is BIT-IDENTICAL to the
      shingle-set formulation — the distinct was pure cost here.
    * No nested lambdas: this array is a pandas-UDF input, and a
      PythonUDF whose input carries nested lambda bindings silently
      skips ExtractPythonUDFs on every query after a session's first
      (see the functions/text module docstring).

    An interpreted per-position substr form is O(len²) per row (39.7 s
    against ~1 s for the signature stage of 50k docs at sf1.0). No
    size(gh) > 0 filter: see :func:`_shingled`."""
    gram_hash, decode = _hash_family(hash_family)
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(char_grams_all(F.col(text_col), shingle_n), gram_hash).alias(
            "gh"
        ),
    )
    sig_udf = _minhash_fold_udf(decode, num_hashes)
    return base.select("id", sig_udf(F.col("gh")).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Stages: signature (narrow) -> explode bands -> shuffle on (band, band
    hash) -> within-bucket candidate pairs -> exact Jaccard verification on
    shingle sets. With 128/32x4 the recall at j=0.8 is 1-(1-0.8^4)^32
    ≈ 1-5e-8, so verified output equals the brute-force ground truth for
    practical purposes (tests plant dups and assert exact equality).

    Scale notes: candidate pairing joins only within buckets, carrying
    bare (id, id); exact verification shingles the docs in one lazy
    narrow pass and joins them to the few surviving pairs
    (:func:`_verified_pairs`). Composition of
    :func:`minhash_signatures_df` + :func:`minhash_lsh_pairs_from_sigs` —
    callers holding a persisted signature table use those directly.

    ``max_bucket_size`` and ``observation`` are the mega-cluster guard
    (:func:`minhash_lsh_pairs_from_sigs`). Read ``observation`` through
    :func:`observed_metrics` after the first action over the result: it
    returns None when AQE emptied the plan (no pair found), where
    ``observation.get`` raises.

    The signatures it computes feed three join branches (banding and
    both prefilter sides), so it persists them (~1 KB/doc). NOTE: with
    ``max_bucket_size`` set, building the plan also fills that cache
    with one count job: the guarded plan fans the signatures out to five
    consumers and Spark runs independent stages concurrently, so a
    lazily-filled cache gets recomputed per branch (measured 4x
    end-to-end at 10k docs). The cache is keyed by plan, so repeated
    invocations of the same query pay that job only while cold.
    """
    sigs = minhash_signatures_df(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes
    ).select("id", "sig").persist()
    if max_bucket_size is not None:
        sigs.count()
    return minhash_lsh_pairs_from_sigs(
        sigs,
        df,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        observation=observation,
    )


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) banding of a signature table: bucket = xxhash64
    of the band's signature slots — ONE formulation shared by the full and
    incremental pair stages so their buckets can never diverge.

    One explode of the band index and a ``slice`` on it: a per-band
    Column list cost ~2,800 py4j calls per build (32 x 4) and one 298 KB
    whole-stage class that compiled and ran slowly. Pinned row-identical
    to it (``tests/specs.banded_columns``)."""
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    slots = F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band)
    return sigs.select("id", "sig", band).select(
        "id", "band", F.xxhash64(F.concat_ws(",", slots)).alias("bucket")
    )


def _verified_pairs(
    cand: DataFrame,
    sigs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Verification tail shared by the full and incremental pair stages:
    candidate ``(id_a, id_b)`` pairs -> signature prefilter -> exact
    Jaccard on re-shingled ``docs`` -> ``(id_a, id_b, jaccard)``.
    ``sigs`` (``id``, ``sig``) must cover every candidate endpoint.

    Two stages. On homogeneous corpora (web text hovers around j~0.2
    pairwise) band collisions produce ~P(j^rows) x n^2 candidates —
    verifying each with array_intersect over hundreds of shingles
    dominated the job (measured ~80% of wall time). Stage 1 estimates
    jaccard from signature agreement (num_hashes int equality ops,
    E[est]=j, sigma=sqrt(j(1-j)/num_hashes)); only candidates within 4+
    sigma of the threshold proceed to exact verification.

    Stage 2 shingles all of ``docs``, not only the candidate endpoints:
    since grams come from one codegen'd pass (``text.char_grams_all``),
    shingling every doc costs less than materializing the candidate set
    at plan build to prune them (perfbench, 4 cores; at 50k old docs x a
    750-doc delta the two measured within ~4%). If a large-old-corpus
    workload ever shows that prune winning, it returns as a path chosen
    by input size, not as an option."""
    sig_margin = 4.5 * (0.25 / num_hashes) ** 0.5  # sigma at j=0.5 (max)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        / num_hashes
    )
    prefiltered = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(est >= threshold - sig_margin)
        .select("id_a", "id_b")
    )
    # Exact verification with ONE evaluation of the shingled docs: the
    # two-sided (a ⋈ b) form embeds the shingle subtree TWICE in the plan,
    # computing it twice per action (measured ~10% of the warm stage and
    # 3x of the cold one at 5k docs). Exploding each pair to one row per
    # endpoint joins the shingled docs once and regroups; the regroup
    # shuffle carries candidate-scaled shingle arrays only, and
    # intersect/union are symmetric so the jaccard is unchanged.
    cbase = _shingled(docs, id_col, text_col, shingle_n)
    sides = prefiltered.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id")
    )
    gathered = (
        sides.join(cbase, "id")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list("shingles").alias("sh"))
        .filter(F.size("sh") == 2)  # endpoint missing from docs -> no pair
    )
    jac = F.size(
        F.array_intersect(F.element_at("sh", 1), F.element_at("sh", 2))
    ) / F.size(F.array_union(F.element_at("sh", 1), F.element_at("sh", 2)))
    return (
        gathered.filter(jac >= threshold)  # exact check on the surviving few
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_lsh_pairs_incremental(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Pair stage for a NEW document batch against an existing signature
    table: candidates = new x new ∪ new x old — the batch twin of the
    streaming state pattern, and the form a daily 100 TB pipeline runs.
    Banding (:func:`_banded`) and verification (:func:`_verified_pairs`)
    are the SAME code as :func:`minhash_lsh_pairs_from_sigs`, and the
    output equals it restricted to pairs touching a new id (pinned by
    test), but the bucket join probes only the banded NEW side, so
    candidate-generation cost scales with the DELTA, not the corpus —
    old documents never re-hash and never re-band against each other.

    ``new_sigs`` is read by four branches of the one job that runs the
    stage, and this never caches it: pass a materialized table
    (``curation.curate_increment`` checkpoints the one it computes).
    ``docs`` must cover every id in either signature table (it feeds the
    re-shingle verification — ONE linear narrow pass, evaluated once).
    Per-batch cost: candidate generation probes only the banded NEW side
    (delta x bucket-density pairs), plus one linear narrow pass over the
    old corpus for banding and verification — no quadratic term, and
    crucially the EXPENSIVE per-doc work (the 128-hash signatures) runs
    for new docs only. No ``max_bucket_size`` guard here: an old-side
    flood bucket of size m costs O(|new ∩ bucket| x m) candidates —
    already delta-scaled; a flood INSIDE one batch is the full pair
    stage's regime. Building the plan submits no job of its own (only
    :func:`_spread`'s partition probe, on shuffled or cached inputs)."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    nsig = new_sigs.select("id", "sig")
    osig = old_sigs.select("id", "sig")
    banded_new = _banded(nsig, bands, rows_per_band)
    banded_all = banded_new.unionByName(_banded(osig, bands, rows_per_band))
    # normalize (least, greatest) then DISTINCT per (pair, band): each id
    # holds one bucket per band, so distinct band rows == colliding-band
    # count (a new-new pair arrives twice from the asymmetric join —
    # once per orientation — and must not double its evidence)
    min_bands = 2 if bands >= 8 else 1
    cand = (
        banded_new.alias("x")
        .join(banded_all.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
            "band",
        )
        .distinct()
        .groupBy("id_a", "id_b")
        .count()
        .filter(F.col("count") >= min_bands)
        .select("id_a", "id_b")
    )
    return _verified_pairs(
        cand,
        nsig.unionByName(osig),
        docs,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        threshold=threshold,
    )


def _guard_split(
    buck: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    observation=None,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The mega-cluster guard of the LSH pair stages (minhash, simhash,
    embedding): splits a bucketed frame ``buck`` (one row per member and
    bucket: ``id``, the bucket ``keys``, payload) at ``max_bucket_size``.

    A template cluster of m near-identical items (exact dedup does NOT
    catch near-identical) lands all m in the same buckets, and a
    within-bucket self-join emits O(m²) candidate pairs — at web scale m
    can be 10⁶⁺, the one quadratic regime of the bucketed formulation.
    One window over ``keys`` sizes every bucket; returns
    ``(small, star, flood_ids)``:

    * ``small`` — the rows of buckets at or under the cap, with
      ``buck``'s columns: the stage's exact all-pairs path. With no
      oversized bucket it is all of ``buck``, so the guarded output is
      identical to the unguarded one.
    * ``star`` — one STAR edge per member of an oversized bucket:
      ``(id_a = bucket-min id, id_b = member, <c>_a, <c>_b for c in
      carry)``. O(m) candidates per oversized bucket, connectivity-
      preserving for the clustering consumer. ``carry`` rides the
      bucket-min through ``min(struct(id, *carry))`` (struct ordering
      compares the unique id first), so a stage verifies star edges on
      its payload without a join back. Every stage still verifies star
      edges exactly, so the guard never ADDS a false pair; it can only
      omit non-spanning-tree pairs BETWEEN members of an oversized bucket
      (callers consuming raw pairs per pair, not as a graph, should size
      the cap above their largest expected true cluster).
    * ``flood_ids`` — distinct ids in some oversized bucket.

    With an ``observation``, ``star_candidate_rows`` (0 when no bucket
    was oversized) and ``max_oversized_bucket`` arrive at
    ``observation.get`` after the query's first action — the production
    signal that a corpus is in the template-flood regime. The observed
    frame is ``star``, so the stage must consume it exactly once
    (``flood_ids`` comes from the sized frame for that reason). A first
    action whose plan AQE empties above ``star`` reports nothing (see
    :func:`observed_metrics`)."""
    from pyspark.sql.window import Window

    wb = Window.partitionBy(*keys)
    sized = buck.withColumn("_bsz", F.count("*").over(wb)).withColumn(
        "_bmin", F.min(F.struct("id", *carry)).over(wb)
    )
    over = F.col("_bsz") > max_bucket_size
    small = sized.filter(~over).select(*buck.columns)
    star = sized.filter(over & (F.col("id") != F.col("_bmin.id"))).select(
        F.col("_bmin.id").alias("id_a"),
        F.col("id").alias("id_b"),
        *[F.col(f"_bmin.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(c).alias(f"{c}_b") for c in carry],
        "_bsz",
    )
    if observation is not None:
        star = star.observe(
            observation,
            F.count("*").alias("star_candidate_rows"),
            F.max("_bsz").alias("max_oversized_bucket"),
        )
    flood_ids = sized.filter(over).select("id").distinct()
    return small, star.drop("_bsz"), flood_ids


def observed_metrics(observation) -> dict | None:
    """``observation``'s metrics once its first action has run, or None
    when Spark completed it without any: once a shuffle stage below a
    query's result comes back empty, AQE replaces the plan with an empty
    relation, and a CollectMetrics node under that point is no longer in
    the executed plan (``Observation.get`` then fails in ``toPyRow``)."""
    return dict(observation._jo.getAsJava()) or None


def minhash_lsh_pairs_from_sigs(
    sigs_df: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """LSH pair stage over a PRECOMPUTED signature table ``sigs_df``
    (columns ``id``, ``sig``): banding, the >=2-band cut, and the
    signature prefilter never touch text; ``docs`` is re-shingled (narrow
    JVM projection) only for the exact-Jaccard check, hash-joined against
    the few surviving pairs. The incremental / streaming path: signatures
    persist, only new docs ever hash.

    ``sigs_df`` is read by several join branches (more when guarded), so
    pass a persisted table: this never caches it, and building the plan
    submits no job of its own. Whoever computes the signatures owns
    their cache (:func:`minhash_lsh_pairs`; the streaming loop persists
    and releases one per micro-batch).

    ``max_bucket_size`` is the mega-cluster guard (:func:`_guard_split`,
    which also documents ``observation``'s metrics; read them through
    :func:`observed_metrics`, None when AQE emptied the plan because no
    pair was found): a band bucket larger
    than the cap emits star edges instead of all pairs. Star edges bypass
    the >=2-band evidence cut (an oversized full-band collision is
    already overwhelming evidence) but still pass the signature prefilter
    and the exact-Jaccard verification. Pairs whose band evidence is
    SPLIT between small and oversized buckets are not lost: the
    >=min_bands cut relaxes to one band for pairs with BOTH endpoints in
    oversized buckets (co-occupying one is what makes collisions
    invisible to the count, and it implies both ids are flood members),
    and exact verification still gates the output."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    sigs = sigs_df.select("id", "sig")
    banded = _banded(sigs, bands, rows_per_band)

    # Candidates must collide in >= 2 bands (when bands allow): a true
    # j>=0.8 pair collides in E[bands x j^rows] ~ 13 of 32 bands
    # (P(<2) ~ 5e-6), while the homogeneous-corpus noise floor (j ~ 0.2,
    # P(collision) = j^rows per band) almost never collides twice. This
    # count-based cut happens BEFORE any data is joined to the pairs, so
    # the million-candidate shuffle carries only (id, id) + a count.
    min_bands = 2 if bands >= 8 else 1
    small, star = banded, None
    if max_bucket_size is not None:
        small, star, flood_ids = _guard_split(
            banded, ["band", "bucket"], max_bucket_size, observation
        )
    counted = (
        small.alias("x")
        .join(small.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .count()
    )
    if star is None:
        cand = counted.filter(F.col("count") >= min_bands).select("id_a", "id_b")
    else:
        # Evidence dilution: a true pair's band collisions inside
        # OVERSIZED buckets are invisible to this count (those buckets
        # emit star edges, not pairs), so a pair with one small-bucket
        # collision plus flood-bucket co-membership would miss the
        # >=min_bands cut that the unguarded path would have passed.
        # Relax the cut to 1 band for co-flood pairs — BOTH endpoints in
        # flood_ids: a hidden collision means the pair CO-OCCUPIED an
        # oversized bucket, so every pair whose evidence the guard could
        # have diluted is covered; requiring only one endpoint would keep
        # every 1-band noise pair that merely touches a flood member,
        # exactly the volume the min_bands cut exists to drop. The
        # signature prefilter + exact verify still reject every false
        # positive, and the relaxation is empty when no bucket is
        # oversized. ONE pass over counted (it holds the expensive
        # self-join + groupBy — consuming it per branch re-executed that
        # subtree and measured 2x on the curation bench): two left joins
        # attach the endpoint flags, one filter applies the cut.
        bia = flood_ids.select(F.col("id").alias("id_a"), F.lit(True).alias("_ba"))
        bib = flood_ids.select(F.col("id").alias("id_b"), F.lit(True).alias("_bb"))
        small_pairs = (
            counted.join(bia, "id_a", "left")
            .join(bib, "id_b", "left")
            .filter(
                (F.col("count") >= min_bands)
                | (F.col("_ba").isNotNull() & F.col("_bb").isNotNull())
            )
            .select("id_a", "id_b")
        )
        # distinct over the union: the same pair can arise as a small-
        # bucket pair in one band and a star edge in another — verifying
        # it twice would emit duplicate output rows
        cand = small_pairs.unionByName(star).distinct()

    return _verified_pairs(
        cand,
        sigs,
        docs,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        threshold=threshold,
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_text_col: str | None = None,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing token
    ``n``-grams with an evaluation set (the standard 13-gram membership
    test — a real curation pipeline runs this right after dedup).

    Returns one row per train document: ``(id, n_grams, n_hit,
    contaminated)`` — distinct n-gram count, how many of those grams
    appear anywhere in the eval set, and the ``n_hit >= min_hits`` flag.

    Plan shape (the 100 TB path): the EVAL side is the small side by
    construction (an eval suite, not a corpus) — its distinct gram keys
    broadcast; the train side streams once through a narrow gram
    projection + explode, the broadcast hash join marks matches, and the
    single shuffle is the per-doc groupBy carrying (id, n_grams, 0/1).
    No text ever shuffles, and the corpus is never joined to itself.
    Gram keys are md5-hex-16 (engine-portable — the DuckDB oracle
    reproduces every key; at extreme eval sizes a Bloom filter over the
    same keys would trade the exact broadcast set for a documented FPR,
    but exact membership is the right default at eval-suite scale)."""
    eval_text = eval_text_col or text_col
    eval_keys = (
        eval_df.select(
            F.explode(token_ngram_keys(F.col(eval_text), n)).alias("gram")
        )
        .distinct()
        .withColumn("_m", F.lit(True))
    )
    grams = _spread(train).select(
        F.col(id_col).alias("id"),
        token_ngram_keys(F.col(text_col), n).alias("grams"),
    )
    # explode_outer keeps zero-gram (short) docs in the output with
    # n_grams = n_hit = 0; null grams can't match the broadcast side
    exploded = grams.select(
        "id", F.size("grams").alias("n_grams"), F.explode_outer("grams").alias("gram")
    )
    return (
        exploded.join(F.broadcast(eval_keys), "gram", "left")
        .groupBy("id", "n_grams")
        .agg(
            F.sum(F.when(F.col("_m"), 1).otherwise(0))
            .cast("long")
            .alias("n_hit")
        )
        .select(
            "id",
            F.greatest("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            "n_hit",
            (F.col("n_hit") >= min_hits).alias("contaminated"),
        )
    )


def decontaminate_keys(
    eval_df: DataFrame, text_col: str = "text", n: int = 13
) -> list[str]:
    """Driver-side distinct gram keys of an eval set (bounded by
    construction — it's an eval suite, not a corpus): the closure /
    ``sc.broadcast`` form the STATELESS streaming filter needs
    (streaming.ingest.streaming_decontaminate), computed by the SAME
    ``token_ngram_keys`` definition the batch operator joins on — the
    two paths can never disagree on what a gram is."""
    rows = (
        eval_df.select(
            F.explode(token_ngram_keys(F.col(text_col), n)).alias("g")
        )
        .distinct()
        .collect()
    )
    return [r["g"] for r in rows]


def build_gram_bloom(keys, fpr: float = 1e-3):
    """Deterministic Bloom filter over md5-hex-16 gram keys — the
    extreme-eval-scale membership tier for decontamination: at ~10 bits
    per key (fpr 1e-3) a 100M-gram eval union broadcasts as ~120 MB of
    bits where the exact key set would be ~1.6 GB of strings. Standard
    sizing (m = -n ln fpr / ln²2, k = m/n ln 2) with Kirsch-Mitzenmacher
    double hashing over the key's uint64 value (h2 splitmix-mixed, forced
    odd; i*h2 wraps mod 2^64 by definition). Returns ``(bits: bytes,
    n_hashes, n_bits)``. NO false negatives ever; false positives inflate
    a doc's hit count at ~P(1-(1-fpr)^n_grams) — callers trading the
    exact set for this accept that a clean doc may be dropped at that
    rate (never the reverse)."""
    import math

    import numpy as np

    n = max(len(keys), 1)
    m = max(64, int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, int(round(m / n * math.log(2))))
    bits = np.zeros(m // 8, dtype=np.uint8)
    if keys:
        kv = np.array([int(x, 16) for x in keys], dtype=np.uint64)
        h1, h2 = _bloom_h1_h2(np, kv)
        with np.errstate(over="ignore"):
            for i in range(k):
                pos = ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(
                    np.int64
                )
                np.bitwise_or.at(
                    bits, pos // 8, (1 << (pos % 8)).astype(np.uint8)
                )
    return bits.tobytes(), k, m


def _bloom_h1_h2(np, kv):
    """Double-hashing pair for a uint64 key array: h1 = the key itself
    (md5-derived, already uniform), h2 = splitmix64 mix forced odd (odd
    stride visits all of Z_m for power-free m often enough; the textbook
    construction)."""
    with np.errstate(over="ignore"):
        z = kv + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)
    return kv, h2


def bloom_contains(np, bits, k: int, m: int, kv):
    """Vectorized membership test: uint64 key array in, bool array out."""
    arr = np.frombuffer(bits, dtype=np.uint8)
    h1, h2 = _bloom_h1_h2(np, kv)
    out = np.ones(len(kv), dtype=bool)
    with np.errstate(over="ignore"):
        for i in range(k):
            pos = ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)
            out &= (arr[pos // 8] >> (pos % 8).astype(np.uint8)) & 1 == 1
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_fold_udf(decode):
    """Shared Arrow-batched sign-sum fold for every hash family:
    ``decode(np, tokens) -> uint64 ndarray`` supplies the per-token hash
    values; the bit unpack, +-1 contribution sum, and signed 64-bit wrap
    are ONE implementation so the production and oracled paths can never
    silently diverge. Null / empty token arrays fold to signature 0 (the
    Column spec's when(null > 0) otherwise-branch behavior — pinned by
    test)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)
    weights = np.left_shift(np.uint64(1), shifts)

    def sim(hashes):
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append(0)
                continue
            h = decode(np, hs)
            n = len(h)
            bits = (h[:, None] >> shifts[None, :]) & np.uint64(1)
            contrib = 2 * bits.sum(axis=0, dtype=np.int64) - n
            sigu = int(weights[contrib > 0].sum(dtype=np.uint64))
            out.append(sigu - (1 << 64) if sigu >= (1 << 63) else sigu)
        return pd.Series(out)

    sim.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf("bigint")(sim)


def simhash64(text_col: Column, hash_family: str = "xxhash64") -> Column:
    """64-bit SimHash over whitespace tokens: bit k of the signature = sign
    of sum over tokens of bit k (+-1) of the token's hash. JVM hashes each
    token once; the 64-bit fold runs as one numpy unpack/sign-sum per
    document (:func:`_simhash_fold_udf`) — 64 interpreted ``F.aggregate``
    folds (``simhash64_columns``, to which the xxhash64 output is
    bit-identical, pinned by test; the spec lives in ``tests/specs.py``)
    cost ~64 x n_tokens lambda evals per row.

    ``hash_family``: ``"xxhash64"`` (the production fast path) or
    ``"md5"`` — the engine-portable variant (token hash = first 16 hex
    chars of md5, bits 63..60 in the first hex char) whose every
    signature a DuckDB oracle reproduces bit-for-bit (q_simhash_md5)."""
    token_hash, decode = _hash_family(hash_family)
    return _simhash_fold_udf(decode)(F.transform(tokens(text_col), token_hash))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    n_rotations: int = 1,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed by the top
    ``prefix_bits`` of the signature to avoid the full cross join.

    A single prefix misses pairs whose differing bits fall inside it;
    ``n_rotations > 1`` re-buckets on rotated signatures (rotation r shifts
    by r*64//n_rotations bits) so a pair is a candidate if ANY rotation
    agrees on its prefix — the OR-amplification that takes recall at
    hamming <= h from one prefix's (64-prefix_bits choose h)/(64 choose h)
    toward 1 while cost stays ~n_rotations buckets per row. Pairs dedupe as
    bare ids before the (verified, exact) hamming filter.

    ``max_bucket_size`` is the mega-cluster guard (:func:`_guard_split`,
    with ``observation``): a prefix bucket larger than the cap emits star
    edges, which carry both signatures and pass the same exact hamming
    filter. Read ``observation`` through :func:`observed_metrics` after
    the first action over the result: it returns None when AQE emptied
    the plan (no pair found), where ``observation.get`` raises."""
    sigs = _spread(df).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sig")
    )
    step = 64 // max(1, n_rotations)
    rot_buckets = []
    for r in range(n_rotations):
        k = r * step
        # Java shift amounts are mod 64: rotate-by-0 must bypass the
        # `x >>> 64` formulation (which is a no-op shift, not zero)
        rotated = (
            F.col("sig")
            if k == 0
            else F.shiftleft("sig", k).bitwiseOR(
                F.shiftrightunsigned("sig", 64 - k)
            )
        )
        rot_buckets.append(
            F.struct(
                F.lit(r).alias("rot"),
                F.shiftrightunsigned(rotated, 64 - prefix_bits).alias("bucket"),
            )
        )
    buck = sigs.select(
        "id", "sig", F.explode(F.array(*rot_buckets)).alias("rb")
    ).select("id", "sig", "rb.rot", "rb.bucket")
    small, star = buck, None
    if max_bucket_size is not None:
        small, star, _ = _guard_split(
            buck, ["rot", "bucket"], max_bucket_size, observation, carry=("sig",)
        )
        star = star.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
    x, y = small.alias("x"), small.alias("y")
    hamming = F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
    pairs = (
        x.join(y, ["rot", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming.alias("hamming"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------


# Most canonical edges (self-loops dropped, repeats counted) that
# :func:`neardup_clusters` labels on the driver (numpy union-find) instead
# of by star contraction: the largest measured size at which the driver
# plan is not slower and stays within a driver memory budget of 4 GB
# added peak RSS, Python and JVM together (half of ``get_spark``'s
# default 8 GB ``spark.driver.memory``; the rest is for broadcasts and
# the other stages). Sized with ``scripts/size_cc_cap.py``: a random
# graph from ``spark.range`` (both endpoints uniform over twice as many
# ids as edges, pair frame not persisted), 4 cores, one fresh warmed
# process per row; build + one aggregate over every id, median of 3; the
# peak RSS the runs added, in MB (local mode: the JVM is driver and
# executor at once, so its figure overstates a cluster driver's):
#
#   edges      driver s   star s   driver py + jvm MB   star jvm MB
#   10,000        1.02      8.18        1 +   241           667
#   100,000       1.64     11.24       14 +   348         1,554
#   1,000,000     7.34     67.42      135 + 2,920         2,456
#   2,000,000    17.04    115.04      269 + 3,323         3,296
#   3,000,000    23.75         -      402 + 4,604             -
#
# Rows were identical at every size run under both plans. The driver
# plan is faster at every size, so the budget bounds CAP: 3M edges add
# 5.0 GB. Larger graphs keep the star plan, whose rounds spread over
# executors on a cluster.
CAP = 2_000_000


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``-ed frame. They are not a
    CacheManager entry, so ``clearCache()`` never reaches them; without
    this they stay registered until a driver GC lets the ContextCleaner
    drop them. Only for a frame no live plan reads any more: its lineage
    is gone, so a later read fails.

    PySpark has no public call that frees a local checkpoint, hence the
    reach into the frame's ``LogicalRDD``. The public alternative,
    ``persist`` + ``count`` per round and ``unpersist`` of the previous
    one, does not cut the lineage: every round's plan nests all earlier
    rounds twice over. On a 2,000-node chain, which checkpointed rounds
    contract in 12 rounds, that variant ran the 8 GB driver heap out of
    memory rendering its plan's string before reaching the fixpoint."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _star_edges(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Contract a canonical edge list ``(u < v)``, distinct, to stars
    around each component's minimum id via alternating large-star/small-
    star rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm). Returns the fixpoint edge set
    ``(u, v)`` with ``u`` = the component minimum and one row per
    non-center node ``v``.

    Round count is O(log n) INDEPENDENT of component diameter — the
    property min-label propagation lacks (a length-d chain costs d
    propagation rounds but only ~log d contraction rounds). Each round is
    two edge-list shuffles (groupBy u / groupBy v) + a distinct; nothing
    corpus-sized iterates, and the per-round localCheckpoint keeps the
    plan from growing with the loop. Each round releases the previous
    round's checkpoint once its own exists, so one checkpoint (the
    returned frame's) outlives the call.
    """
    e = edges.localCheckpoint(eager=True)
    n_edges = e.count()
    if n_edges == 0:
        return e
    for _ in range(max_rounds):
        # large-star: for every node u, connect each LARGER neighbor v to
        # m(u) = min(N(u) ∪ {u}). Connectivity-preserving; strictly shrinks
        # tall structures.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e1 = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: direct edges large->small (key = the larger endpoint
        # v, neighbors = its smaller side u); connect each smaller neighbor
        # AND v itself to m(v) = min of that neighborhood. After e1 every
        # edge already has u < v, so e1 is that directed form.
        mins2 = e1.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            e1.join(mins2, "v")
            .select(F.col("m").alias("u"), F.col("u").alias("v"))
            .unionByName(
                mins2.select(F.col("m").alias("u"), F.col("v").alias("v"))
            )
        )
        new_e = (
            small.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_n = new_e.count()
        # fixpoint test on the canonical (u<v) distinct sets: equal counts
        # + empty one-sided difference <=> equal sets <=> stars reached
        done = (
            new_n == n_edges
            and new_e.join(e, ["u", "v"], "left_anti").isEmpty()
        )
        # new_e's lineage starts at its own checkpoint: e is unread now
        _release_checkpoint(e)
        if done:
            return new_e
        e, n_edges = new_e, new_n
    _release_checkpoint(e)
    # O(log n) rounds means 30 covers any graph that fits on Earth; if we
    # get here something is deeply wrong — never return a partial answer
    # (it would silently split components).
    raise RuntimeError(
        f"star contraction did not reach a fixpoint in {max_rounds} rounds"
    )


def _min_id_roots(u, v):
    """Union-find over the edge arrays ``u``, ``v`` (numpy, one edge per
    index): returns ``(nodes, roots)``, every distinct endpoint and its
    component's minimum id. Ids are compressed to their sorted rank, so
    the min rank is the min id. Hook-and-shortcut: every round hooks each
    edge's larger root under the smaller one (``np.minimum.at``), then
    pointer-jumps every label to its root. A round that leaves an edge
    with two labels lowers at least one root, so the loop ends; labels
    only ever fall and stay inside their component, so each component
    ends at its minimum."""
    import numpy as np

    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        split = la != lb
        if not split.any():
            return nodes, nodes[lab]
        np.minimum.at(
            lab,
            np.maximum(la[split], lb[split]),
            np.minimum(la[split], lb[split]),
        )
        while True:
            up = lab[lab]
            if (up == lab).all():
                break
            lab = up


def neardup_clusters(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 30
) -> DataFrame:
    """Connected components over a near-dup pair graph: each node gets
    ``canonical_id`` = min id in its component (plus the component size) —
    the step after pair detection in every dedup pipeline (keep one doc per
    duplicate CLUSTER, not per pair: pairs (a,b),(b,c) must collapse to one
    keeper even though (a,c) was never emitted).

    The plan is chosen at run time by ONE bounded action: the canonical
    edge list (``u = least``, ``v = greatest``, self-loops dropped) is
    persisted and collected up to ``CAP + 1`` rows, so ``pairs`` runs
    once whichever plan follows (and any Observation in it fires there).

    * At most ``CAP`` edges: union-find on the driver (:func:`_min_id_roots`)
      labels every endpoint with its component's min id; the labels become
      an Arrow-built frame broadcast-joined to ``ids``. A near-dup graph
      is usually tiny next to its corpus (52 edges for 1,000 perfbench
      docs), and a Spark job costs ~0.1-0.3 s whatever its size.
    * Over ``CAP``: alternating large-star/small-star contraction
      (:func:`_star_edges`, on the distinct edges) — O(log n) rounds
      regardless of component diameter (``max_iterations`` caps them), so
      web-scale chain components (which broke the diameter-bound
      min-label propagation kept as the spec ``neardup_clusters_minlabel``
      in ``tests/specs.py``) converge in a handful of edge-list shuffles.

    Both branches root a component at its min id by construction and
    give identical rows. Components span the whole pair graph: an
    endpoint absent from ``ids`` gets no row but still links its
    neighbours, and can be their ``canonical_id``.

    ids: one column ``id``; pairs: columns ``id_a``, ``id_b``.
    """
    from pyspark.sql.window import Window

    # persisted, so the pair stage runs once: the bounded collect fills
    # the cache (every partition is read whole) and the star plan reads
    # it. Not a lazy localCheckpoint, which costs no extra job but fires
    # a pair stage's Observation before the stage's last tasks run. No
    # distinct before the collect: union-find ignores repeated edges, and
    # a shuffle here would cost one more job on every graph
    edges = (
        pairs.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .persist()
    )
    try:
        head = edges.limit(CAP + 1).toArrow()
        if head.num_rows <= CAP:
            import pyarrow as pa

            nodes, roots = _min_id_roots(
                head.column("u").to_numpy(), head.column("v").to_numpy()
            )
            moved = nodes != roots
            t = head.schema.field("u").type
            centers = F.broadcast(
                ids.sparkSession.createDataFrame(
                    pa.table({
                        "id": pa.array(nodes[moved], type=t),
                        "lab": pa.array(roots[moved], type=t),
                    })
                )
            )
        else:
            stars = _star_edges(edges.distinct(), max_rounds=max_iterations)
            centers = stars.groupBy(F.col("v").alias("id")).agg(
                F.min("u").alias("lab")
            )
    finally:
        # neither plan reads it again: the labels come from the collected
        # table or from the contraction's own checkpoint
        edges.unpersist()
    labels = ids.join(centers, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("lab", "id").alias("canonical_id"),
    )
    return labels.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("canonical_id")),
    )


# ---------------------------------------------------------------------------
# edit-distance (fuzzy) text join
# ---------------------------------------------------------------------------


def fuzzy_text_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 16,
    q: int = 5,
) -> DataFrame:
    """All pairs with Levenshtein distance <= ``max_distance`` — the
    approximate STRING join (record linkage, OCR-noise dedup, title
    matching), a different similarity axis from Jaccard (ORDER matters:
    transposed halves are jaccard-identical but edit-far).

    Candidate generation is the classic q-gram count filter (Gravano et
    al., VLDB'01 — public algorithm): ``ed(a,b) <= d`` implies the q-gram
    MULTISETS share at least ``max(|a|,|b|) - q + 1 - d*q`` grams, and
    ``||a|-|b|| <= d``. Stages: per-doc q-gram counts (narrow) ->
    inverted-index equi-join on the gram -> per-pair multiset-intersection
    size ``sum(least(cnt_a, cnt_b))`` -> count + length filters -> exact
    ``levenshtein`` verification on the few survivors. Pairs where BOTH
    strings are shorter than ``q*(d+1)`` fall below the filter's guarantee
    (the bound goes nonpositive) and take a small all-pairs short-bucket
    instead — bounded by the short-doc population, and each verification
    there is on short strings.

    Scale notes: the inverted-index join shares the LSH stages' shape
    (bare ids + counts ride the shuffle; text joins back only for
    verification). Ubiquitous grams make hot buckets — the standard
    refinements are positional q-grams and prefix filtering (sort grams
    by global frequency, index only each doc's rarest ``d*q + 1``); at
    the gate scale the plain count filter is exact and sufficient.
    Levenshtein on the survivors is quadratic per PAIR in string length —
    bound ``max_distance`` accordingly (Spark's levenshtein(l, r, bound)
    threshold form short-circuits)."""
    d = int(max_distance)
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
    ).withColumn("len", F.length("t"))
    short_cut = q * (d + 1)
    # q-gram occurrence counts per doc (multiset — the bound needs counts,
    # not the distinct-set shingles the jaccard family uses)
    grams = (
        base.filter(F.col("len") >= 1)
        .select(
            "id",
            "len",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(length(t) - {q - 1}, 1)),"
                    f" i -> substring(t, i, {q}))"
                )
            ).alias("g"),
        )
        .groupBy("id", "len", "g")
        .agg(F.count("*").alias("cnt"))
    )
    ga = grams.select(
        F.col("id").alias("id_a"), F.col("len").alias("la"),
        "g", F.col("cnt").alias("ca"),
    )
    gb = grams.select(
        F.col("id").alias("id_b"), F.col("len").alias("lb"),
        "g", F.col("cnt").alias("cb"),
    )
    shared = (
        ga.join(gb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("la") - F.col("lb") <= d) & (F.col("lb") - F.col("la") <= d))
        .groupBy("id_a", "id_b", "la", "lb")
        .agg(F.sum(F.least("ca", "cb")).alias("shared"))
    )
    bound = F.greatest("la", "lb") - (q - 1) - d * q
    cand_qgram = shared.filter(
        (F.col("shared") >= F.greatest(bound, F.lit(1)))
        # below the guarantee line both strings are short -> short bucket
        & (F.greatest("la", "lb") >= short_cut)
    ).select("id_a", "id_b")
    shorts = base.filter(F.col("len") < short_cut)
    cand_short = (
        shorts.select(F.col("id").alias("id_a"), F.col("len").alias("la"))
        .crossJoin(
            shorts.select(F.col("id").alias("id_b"), F.col("len").alias("lb"))
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("la") - F.col("lb") <= d) & (F.col("lb") - F.col("la") <= d))
        .select("id_a", "id_b")
    )
    cand = cand_qgram.unionByName(cand_short).distinct()
    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    dist = F.levenshtein("ta", "tb", d)
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= d))
        .select("id_a", "id_b", "distance")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard brute force (the exact oracle)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via shingle inverted
    index (explode + equi-join on shingle, count shared, |A∪B| from set
    sizes). Quadratic in the worst case — use on candidate sets or small
    partitions; serves as ground truth for the LSH family."""
    base = _shingled(df, id_col, text_col, shingle_n)
    sizes = base.select("id", F.size("shingles").alias("n_sh"))
    inv = base.select("id", F.explode("shingles").alias("sh"))
    shared = (
        inv.alias("x")
        .join(inv.alias("y"), "sh")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)  # threshold on the exact value, round after
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )
