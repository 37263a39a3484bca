"""Similarity search over embedding columns (array<float>).

Two tiers:

* **Brute-force cosine top-k** — exact; one narrow pass computing dot/norms
  as JVM Column algebra (F.aggregate / F.zip_with — no Python, no shuffle
  until the top-k), then a global top-k. The baseline and the verifier.
* **LSH-bucketed (random hyperplane)** — signs of dot products with D
  deterministic pseudo-random hyperplanes form a bucket key; search only
  the query's bucket (optionally multi-probe neighbors). The 100 TB path:
  candidate set shrinks ~2^D-fold per probe.

Hyperplanes are generated from a seed via splitmix64 so driver and
executors agree without shipping arrays.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector gets a NULL cosine (ranks last, never
    # "similar") instead of an ANSI DIVIDE_BY_ZERO error — the same
    # contract cosine_pairs_np implements with its explicit mask.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_pairs_np():
    """Arrow-batched pairwise cosine: two array<double> columns in, one
    double out — a single numpy elementwise-multiply/row-sum per batch.
    This is the hot-path form for corpus-scaled candidate sets (the
    zip_with/aggregate Column folds above are interpreted per element —
    the banned interpreted-lambda pattern; :func:`cosine` stays as the
    executable spec and the small-N oracle twin). Numpy's pairwise
    summation and the Column fold's sequential summation differ only
    within float rounding — inside the round(…, 6) every consumer emits,
    pinned by the full-probe == exact test. Null / ragged vectors yield a
    null cosine (they fall out downstream exactly like a null Column
    cosine would), and so do zero-norm vectors: Spark's Divide returns
    NULL on 0/0 where numpy returns NaN — and NaN sorts FIRST under
    F.desc, which would rank a zero vector as everyone's top neighbor
    while the Column path ranks it last (nulls last). The explicit mask
    keeps both paths identical."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def cos(a, b):
        out: list = []
        for start in range(0, len(a), 4096):
            ca = list(a.iloc[start : start + 4096])
            cb = list(b.iloc[start : start + 4096])
            # group valid pairs by their (shared) vector length before
            # stacking: one malformed shorter embedding in a batch would
            # otherwise make np.array raise on the inhomogeneous shape
            # and fail the whole job instead of nulling that pair
            by_len: dict = {}
            for i in range(len(ca)):
                if (
                    ca[i] is not None
                    and cb[i] is not None
                    and len(ca[i]) == len(cb[i])
                ):
                    by_len.setdefault(len(ca[i]), []).append(i)
            res: list = [None] * len(ca)
            for valid in by_len.values():
                # stack the Arrow-backed ndarrays directly — a per-element
                # list() round-trip boxes every float through Python
                # (measured ~2x kernel overhead on small batches)
                ma = np.array([ca[i] for i in valid], dtype=np.float64)
                mb = np.array([cb[i] for i in valid], dtype=np.float64)
                dots = (ma * mb).sum(axis=1)
                na = np.sqrt((ma * ma).sum(axis=1))
                nb = np.sqrt((mb * mb).sum(axis=1))
                denom = na * nb
                ok = denom != 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    vals = dots / denom
                for j, i in enumerate(valid):
                    res[i] = float(vals[j]) if ok[j] else None
            out.extend(res)
        return pd.Series(out, dtype="float64")

    cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf("double")(cos)


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    Plan: project (codegen'd dot/norm) -> TakeOrderedAndProject — Spark
    pushes the limit into each partition (partial top-k) before the single
    final merge, so the shuffle carries k rows per partition, not the
    corpus."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("id")).limit(k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _splitmix(seed: int) -> float:
    z = (seed + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z = z ^ (z >> 31)
    return (z / 2**64) * 2.0 - 1.0  # uniform [-1, 1)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (unit-normalized)."""
    planes = []
    for p in range(n_planes):
        v = [_splitmix(seed * 1_000_003 + p * dim + i) for i in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_table_buckets_np(tables: list[list[list[float]]]):
    """Arrow-batched multi-table bucket assignment: embedding in, one
    bucket id per hyperplane table out (array<bigint>), computed as a
    single numpy matmul per batch (rows x dim @ dim x total_planes) —
    replaces n_tables x n_planes interpreted dot-product folds per row
    (the interpreted-lambda anti-pattern; corpus-sized input)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    n_tables = len(tables)
    n_planes = len(tables[0]) if tables else 0
    # dim x (tables*planes), column-blocked per table
    mat = np.array(
        [plane for table in tables for plane in table], dtype=np.float64
    ).T
    weights = np.left_shift(
        np.int64(1), np.arange(n_planes, dtype=np.int64)
    )

    dim = mat.shape[0]

    def buckets(vecs):
        out = []
        for start in range(0, len(vecs), 4096):
            chunk = list(vecs.iloc[start : start + 4096])
            # null / wrong-dimension vectors get a null bucket array (the
            # downstream posexplode drops them — matching the exact path,
            # where such rows fall out via a null cosine) instead of
            # crashing the whole batch in the matmul.
            valid = [
                i for i, v in enumerate(chunk)
                if v is not None and len(v) == dim
            ]
            res: list = [None] * len(chunk)
            if valid:
                m = np.array([chunk[i] for i in valid], dtype=np.float64)
                signs = (m @ mat) >= 0  # rows x (tables*planes)
                bits = signs.reshape(len(m), n_tables, n_planes).astype(
                    np.int64
                )
                bk = (bits * weights[None, None, :]).sum(axis=2)
                for j, i in enumerate(valid):
                    res[i] = bk[j].tolist()
            out.extend(res)
        return pd.Series(out)

    buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf("array<bigint>")(buckets)


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's hyperplane
    bucket plus the ``n_probes - 1`` nearest neighbor buckets (multi-probe:
    flip the sign bits with the smallest |query margin| — the planes a true
    neighbor most likely lands on the other side of). n_probes=1 is the
    single-bucket classic; raising it trades candidate volume for recall
    without re-hashing. The brute-force operator is the verifier."""
    import numpy as np

    planes = hyperplanes(len(query_vec), n_planes, seed)
    # query bucket via the SAME numpy matmul kernel the corpus side uses
    # (a sequential Python fold could disagree with BLAS on a dot within
    # rounding of 0 and probe the wrong bucket); residual kernel variance
    # is measure-zero for real data and multi-probe flips the lowest-
    # margin bits anyway
    qdot = (
        np.array([query_vec], dtype=np.float64)
        @ np.array(planes, dtype=np.float64).T
    )[0]
    qbucket = int(sum((1 << p) for p, d in enumerate(qdot) if d >= 0))
    by_margin = sorted(range(n_planes), key=lambda p: abs(qdot[p]))
    probes = [qbucket] + [
        qbucket ^ (1 << p) for p in by_margin[: max(0, n_probes - 1)]
    ]
    # corpus-side buckets via the Arrow/numpy matmul (interpreted
    # per-plane dot folds are the corpus-sized slow path; that Column form
    # is kept as the spec in tests/specs.py)
    bucket_col = F.element_at(
        lsh_table_buckets_np([planes])(F.col(vec_col)), 1
    )
    bucketed = df.withColumn("_bucket", bucket_col)
    return brute_force_topk(
        bucketed.filter(F.col("_bucket").isin(probes)), id_col, vec_col, query_vec, k
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
):
    """k-means centroids trained on a deterministic hash-sample of the
    corpus (driver-side numpy Lloyd iterations — centroids are KB-scale;
    the corpus-sized work stays distributed in :func:`ivf_probe_assign`).

    Returns a list[list[float]] of L2-normalized centroids."""
    import numpy as np
    from pyspark.sql import functions as F

    # Content-hash sampling instead of orderBy(hash).limit or Bernoulli
    # sample: pmod(xxhash64(vec), k) == 0 selects rows by their CONTENT, so
    # the training set is identical at any partitioning/parallelism (a
    # Bernoulli sample seeds per partition index; a bare limit() takes a
    # partition-prefix-biased subset), and the filter is embarrassingly
    # parallel — no global sort, no k-x-partitions driver merge. The
    # driver-side stable sort below makes the final truncation order-
    # independent too. Training runs once per corpus, so the count() is a
    # one-time column-pruned scan.
    import hashlib

    n = df.count()
    k = max(1, n // (4 * sample))
    key = F.pmod(
        F.xxhash64(F.col(vec_col).cast("array<double>").cast("string")),
        F.lit(k),
    )
    # distinct() before the safety limit: duplicate embeddings (dedup-shaped
    # corpora have many) all share the content hash, so one popular vector
    # could overflow the cap and make limit() take a partition-dependent
    # subset. Distinct vectors are also the better k-means training set.
    rows = (
        df.select(vec_col)
        .filter(key == 0)
        .distinct()
        .limit(16 * sample)
        .collect()
    )
    if not rows:  # tiny corpus edge: take what exists
        # same over-collect bound as the main path — the sha1 sort below is
        # what makes the truncation partition-independent, and it can only
        # do that if limit() didn't already take a partition-prefix subset
        rows = df.select(vec_col).distinct().limit(16 * sample).collect()
    rows.sort(
        key=lambda r: hashlib.sha1(str(list(r[0])).encode("utf-8")).digest()
    )
    rows = rows[:sample]
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True) + 1e-12
    rng_idx = [
        int(_splitmix(seed * 7919 + i) * 2**31) % len(x) for i in range(n_centroids)
    ]
    cent = x[sorted(set(rng_idx))[:n_centroids]]
    while len(cent) < n_centroids:  # dedup shortfall
        cent = np.vstack([cent, x[(len(cent) * 31) % len(x)]])
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / (np.linalg.norm(v) + 1e-12)
    return [[float(v) for v in c] for c in cent]


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    centroids=None,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: score only vectors in the ``nprobe`` buckets
    nearest the query. The 100 TB pattern: train once, assign once
    (persist `_ivf` as a partition column), probe per query — candidate
    set shrinks ~n_centroids/nprobe-fold."""
    import numpy as np
    from pyspark.sql import functions as F

    if centroids is None:
        centroids = train_ivf_centroids(
            df, vec_col, n_centroids=n_centroids, seed=seed
        )
    cent = np.array(centroids, dtype=np.float64)
    q = np.array(query_vec, dtype=np.float64)
    q = q / (np.linalg.norm(q) + 1e-12)
    order = (cent @ q).argsort()[::-1][:nprobe]
    probed = ivf_probe_assign(df, vec_col, centroids, 1).filter(
        F.col("_probes")[0].isin([int(c) for c in order])
    )
    return brute_force_topk(probed, id_col, vec_col, query_vec, k)


def ivf_probe_assign(
    df: DataFrame, vec_col: str, centroids, nprobe: int
) -> DataFrame:
    """Adds ``_probes``: the ``nprobe`` nearest centroid ids per vector
    (one Arrow-batched numpy matmul + stable argsort per batch) — the
    query side of the IVF join. ``nprobe=1`` is the corpus side's bucket
    assignment: a stable argsort's first entry is the argmax centroid,
    ties included (lowest id)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    cent = np.array(centroids, dtype=np.float64).T  # dim x k
    n_cent = cent.shape[1]
    p = min(nprobe, n_cent)

    def probes(vecs):
        out = []
        for batch_start in range(0, len(vecs), 4096):
            chunk = vecs.iloc[batch_start : batch_start + 4096]
            m = np.array(list(chunk), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True) + 1e-12
            sims = m @ cent
            # top-p by similarity, ties broken by centroid id for
            # determinism (argsort of (-sim, idx) lexicographic)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            out.extend(order.astype("int32").tolist())
        return pd.Series(out)

    probes.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    udf = pandas_udf("array<int>")(probes)
    return df.withColumn("_probes", udf(F.col(vec_col)))


def knn_join_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    centroids=None,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-pre-pruned batch k-NN join: each query scores only the corpus
    vectors in its ``nprobe`` probed buckets instead of the whole corpus —
    the composition :func:`knn_join`'s docstring promises for large query
    batches. Corpus side: one bucket per vector (argmax centroid,
    :func:`ivf_probe_assign` with ``nprobe=1``). Query side: ``nprobe``
    buckets per vector, exploded and broadcast. The bucket equi-join
    replaces the cross join, so the per-query candidate set (and the
    row_number window's shuffle) shrinks ~n_centroids/nprobe-fold vs
    exact.

    With ``nprobe >= n_centroids`` every bucket is probed and the result
    equals :func:`knn_join` exactly (each corpus vector lives in exactly
    one bucket) — the equality pin tests use this. Approximate otherwise;
    recall-vs-exact is tested."""
    from .dedup import _spread

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col, n_centroids=n_centroids, seed=seed
        )
    assigned = ivf_probe_assign(_spread(corpus), vec_col, centroids, 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
        F.col("_probes")[0].alias("_ivf"),
    )
    qx = (
        ivf_probe_assign(queries, vec_col, centroids, nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
            F.explode("_probes").alias("_ivf"),
        )
    )
    return _knn_ranked(assigned.join(F.broadcast(qx), "_ivf"), k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Batch k-NN join: the exact top-k corpus neighbors of EVERY query
    vector in one job (query set broadcast — one corpus scan regardless of
    query count; per-pair cosine; row_number window per query with a
    deterministic id tiebreak).

    Scale note: the window shuffles (query_id, neighbor_id, cosine) — 24
    bytes x |corpus| x |queries| — fine for batch scoring with a bounded
    query set; for large query batches over a huge corpus use
    :func:`knn_join_ivf`, which prunes each query's candidates to its
    probed IVF buckets before the window."""
    from .dedup import _spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    # corpus side spread (small-file single-partition inputs would score
    # every pair on one core)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    return _knn_ranked(c.crossJoin(F.broadcast(q)), k)


def _knn_ranked(pairs: DataFrame, k: int) -> DataFrame:
    """The ranking tail of :func:`knn_join` and :func:`knn_join_ivf` over
    candidate ``(neighbor_id, cvec, query_id, qvec)`` rows: cosine, then a
    ``row_number`` window per query with a deterministic id tiebreak,
    then the top ``k``. Candidate scoring is corpus-scaled, so the cosine
    is the Arrow/numpy batch kernel, not the interpreted zip_with/aggregate
    Column folds (those stay the executable spec in :func:`cosine`;
    agreement is pinned by the DuckDB oracle and the full-probe == exact
    test)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("_cos", cosine_pairs_np()(F.col("cvec"), F.col("qvec")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rk",
            F.round(F.col("_cos"), 6).alias("cosine"),
        )
    )


def _bucket_cosine_pairs_fn(threshold: float):
    """Per-bucket all-pairs cosine scoring for ``applyInPandas`` over
    (tab, bucket) groups: the group's vectors stack into one matrix, the
    pair dots run as blocked BLAS matmuls (row blocks bound memory for
    deep buckets), and ONLY pairs with cosine >= threshold are emitted —
    so output volume is survivor-scaled, never O(m²) rows. Rows are
    sorted by id first, so the upper triangle gives id_a < id_b (UTF-8
    byte order == code-point order, matching Spark's string ordering).
    Zero-norm vectors are masked out (the Column path's try_divide gives
    them a NULL cosine, which the threshold filter drops — identical)."""
    import numpy as np

    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        if m < 2:
            return empty
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        x = np.array(list(pdf["vec"]), dtype=np.float64)
        nrm = np.sqrt((x * x).sum(axis=1))
        ok = nrm != 0.0
        out_a, out_b, out_c = [], [], []
        # row-blocked upper-triangle scan: block x m dots per matmul
        block = max(1, min(2048, 8_000_000 // m))
        for s in range(0, m - 1, block):
            e = min(s + block, m - 1)
            dots = x[s:e] @ x.T  # (e-s) x m
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nrm[s:e, None] * nrm[None, :])
            # mask: j > i (upper triangle), both norms nonzero, >= threshold
            jj = np.arange(m)[None, :]
            ii = np.arange(s, e)[:, None]
            keep = (
                (jj > ii)
                & ok[None, :]
                & ok[s:e, None]
                & (cos >= threshold)
            )
            ai, bj = np.nonzero(keep)
            if len(ai):
                out_a.extend(ids[ai + s].tolist())
                out_b.extend(ids[bj].tolist())
                out_c.extend(cos[ai, bj].tolist())
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "_cos": out_c})

    return score


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 0,
    n_tables: int = 1,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """All pairs with cosine >= threshold.

    * ``n_planes=0`` — exact (self-join; quadratic). The small-N oracle and
      the verifier for the bucketed path.
    * ``n_planes>0`` — LSH-bucketed: pairs are candidates iff they share a
      sign-bucket in at least one of ``n_tables`` independent hyperplane
      tables (OR-amplification, the cosine analog of minhash banding:
      recall = 1-(1-p^planes)^tables with p = 1 - angle/pi). Candidates
      are scored IN THEIR BUCKET: each (table, bucket) group stacks its
      vectors once and runs blocked numpy matmuls, emitting only pairs
      that clear the threshold; per-pair duplicates across buckets
      collapse in a final (id_a, id_b) aggregate. This replaces the
      round-5 form (bare-id candidate pairs -> distinct -> two-sided
      vector join -> interpreted per-pair dot folds), which was
      candidate-PAIR-scaled: with b-bit buckets the candidate set is
      quadratic in bucket density (measured 92.7M pairs for 100k vectors
      at 8 planes — 26 s to dedupe and ~130 s of interpreted dots), while
      the bucket shuffle here carries each vector exactly n_tables times
      (corpus-LINEAR payload) and the scoring is one BLAS pass per
      bucket. Guide §2.3/§4.2: shuffle the linear thing, batch the math.

    ``max_bucket_size`` is the mega-cluster guard
    (:func:`dedup._guard_split`, with ``observation``): a sign bucket
    larger than the cap emits star candidates, which carry both vectors
    and pass the exact cosine verification. Under-cap buckets score
    bit-identically to the unguarded path (same kernel, same groups —
    pinned in tests). Read ``observation`` through
    :func:`dedup.observed_metrics` after the first action over the
    result: it returns None when AQE emptied the plan (no pair found),
    where ``observation.get`` raises.

    With ``max_bucket_size=None`` nothing bounds a bucket's memory: a
    bucket of m vectors is ONE ``applyInPandas`` group, which holds its
    pandas rows plus an m x dim float64 matrix, and scores it through
    ``block x m`` working arrays (dots, cosines, keep mask) with
    ``block = min(2048, 8_000_000 // m)``, so each array is capped near
    8M entries (~64 MB as float64; m entries once m passes 8M). One
    worker thus needs O(m * dim) memory for the largest bucket, however
    many executors there are: a template flood in one sign bucket is
    what the guard is for."""
    # _spread first: a small parquet input arrives as ONE partition and
    # would run the bucket matmul / pair dots on a single core.
    from .dedup import _guard_split, _spread

    if n_planes > 0:
        base = _spread(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        if dim is None:
            dim = len(base.first()["vec"])
        id_type = base.schema["id"].dataType.simpleString()
        out_schema = f"id_a {id_type}, id_b {id_type}, _cos double"
        bucket_udf = lsh_table_buckets_np(
            [hyperplanes(dim, n_planes, seed + 101 * t) for t in range(n_tables)]
        )
        buck = base.select(
            "id",
            "vec",
            F.posexplode(bucket_udf(F.col("vec"))).alias("tab", "bucket"),
        )
        small, star = buck, None
        if max_bucket_size is not None:
            small, star, _ = _guard_split(
                buck, ["tab", "bucket"], max_bucket_size, observation,
                carry=("vec",),
            )
        scored = small.groupBy("tab", "bucket").applyInPandas(
            _bucket_cosine_pairs_fn(threshold), schema=out_schema
        )
        if star is not None:
            scored = scored.unionByName(
                star.withColumn(
                    "_cos", cosine_pairs_np()(F.col("vec_a"), F.col("vec_b"))
                )
                .filter(F.col("_cos") >= threshold)
                .select("id_a", "id_b", "_cos")
            )
        # the same pair can surface in several buckets (and as both a
        # small pair and a star edge under the guard); one aggregate
        # collapses it — max is a deterministic pick should the BLAS
        # block shape ever wiggle the last ulp between occurrences
        return (
            scored.groupBy("id_a", "id_b")
            .agg(F.max("_cos").alias("_cos"))
            .select("id_a", "id_b", F.round(F.col("_cos"), 6).alias("cosine"))
        )

    # exact path (the oracle twin) — unchanged: hoisted norms, one
    # interpreted dot per pair, threshold pre-rounding (= the DuckDB SQL).
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nrm", _norm(F.col("vec")))
    xa = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a")
    )
    xb = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")
    )
    joined = xa.crossJoin(xb).filter(F.col("id_a") < F.col("id_b"))
    cos = F.try_divide(
        _dot(F.col("vec_a"), F.col("vec_b")), F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        joined.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)  # threshold pre-rounding (= oracle)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_cos"), 6).alias("cosine"),
        )
    )
