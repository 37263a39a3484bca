"""Streaming curation: the micro-batch twins of the batch dedup and
decontamination operators.

The reference is batch-only; its only streaming-like trait is the cache
evolving mid-scan (SURVEY §2.9), which the round loop already recasts.
Documents arriving as a stream are extracted by
``operators.extract.extract_documents`` itself: the fused operator is
stateless per batch and the rulebook broadcast is immutable within one,
so one operator serves batch and micro-batch. This module holds what a
stream needs beyond that: watermarked exact dedup, stateless
decontamination, and minhash near-dup dedup over a versioned state table.
The near-dup step keeps what incremental curation keeps: the min-id
canonicals of one pair graph over batch ∪ state, in components with no
state doc.

Rule evolution stays in the batch round loop: streams extract, batches
learn. (Mining inside the stream would reintroduce the order-dependent
mutable cache the north_rule explicitly recasts away.)
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    docs: DataFrame,
    text_expr: str | None = None,
    ts_col: str = "ingest_ts",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked streaming exact dedup: first-seen wins per content
    fingerprint (the streaming twin of operators.dedup.exact_dedup_keep).
    ``dropDuplicatesWithinWatermark`` bounds the dedup state store by event
    time — the only formulation that survives an unbounded stream; a plain
    dropDuplicates would grow state forever. Documents whose normalized
    text hashes equal within the watermark horizon emit once.

    If ``ts_col`` already exists it is used as-is (caller-supplied event
    time drives the watermark); only absent columns get a processing-time
    default."""
    from ..functions.text import doc_fingerprint_md5
    from ..operators.extract import span_text_expr

    # text assembly and content key are THE SAME definitions batch uses
    # (extract.span_text_expr; md5 like dedup.exact_dedup_groups) — batch
    # and streaming fingerprints are joinable, and the 128-bit key is
    # collision-safe on an unbounded stream where 64 bits would hit
    # birthday collisions around ~5B docs
    if text_expr is None:
        text_expr = span_text_expr()
    with_fp = docs.withColumn("_fp", doc_fingerprint_md5(F.expr(text_expr)))
    if ts_col not in docs.columns:
        with_fp = with_fp.withColumn(ts_col, F.current_timestamp())
    return (
        with_fp.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def streaming_decontaminate(
    docs: DataFrame,
    eval_keys,
    text_col: str = "text",
    *,
    n: int = 13,
    min_hits: int = 1,
    keep_contaminated: bool = False,
    bloom_fpr: float | None = None,
) -> DataFrame:
    """STATELESS streaming benchmark decontamination: drop (or, with
    ``keep_contaminated``, keep only) stream documents sharing at least
    ``min_hits`` token n-grams with a bounded eval key set — the
    streaming twin of ``operators.dedup.decontaminate`` (pinned equal by
    test). ``eval_keys`` are the md5-hex-16 gram keys from
    ``dedup.decontaminate_keys`` / ``functions.text.token_ngram_keys`` —
    the SAME key definition the batch operator broadcast-joins on.

    The decision is per-row, so there is no watermark, no state store
    and no output-mode constraint: the membership structure rides one
    ``sc.broadcast`` to every executor — the streaming analog of the
    batch broadcast hash join. ``bloom_fpr`` swaps the exact key set for
    a Bloom filter at that false-positive rate (dedup.build_gram_bloom —
    ~10 bits/key at 1e-3 vs ~16 bytes/key for the exact set; NO false
    negatives, so contamination is never missed, but a clean doc may be
    dropped at ~1-(1-fpr)^n_grams). Gram extraction stays JVM-side; only
    the membership count runs as an Arrow-batched kernel."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from ..functions.text import token_ngram_keys
    from ..operators.dedup import bloom_contains, build_gram_bloom

    sc = docs.sparkSession.sparkContext
    if bloom_fpr is not None:
        bbloom = sc.broadcast(build_gram_bloom(list(eval_keys), bloom_fpr))

        def hits(grams):
            bits, k, m = bbloom.value
            out = []
            for g in grams:
                if len(g) == 0:
                    out.append(0)
                    continue
                kv = np.array([int(x, 16) for x in g], dtype=np.uint64)
                out.append(int(bloom_contains(np, bits, k, m, kv).sum()))
            return pd.Series(out, dtype="int64")

    else:
        bkeys = sc.broadcast(set(eval_keys))

        def hits(grams):
            ks = bkeys.value
            return pd.Series(
                [sum(1 for x in g if x in ks) for g in grams], dtype="int64"
            )

    hits.__annotations__ = {"grams": pd.Series, "return": pd.Series}
    hit_udf = pandas_udf("long")(hits)
    flagged = docs.withColumn(
        "_n_hit", hit_udf(token_ngram_keys(F.col(text_col), n))
    )
    cond = F.col("_n_hit") >= min_hits
    return flagged.filter(cond if keep_contaminated else ~cond).drop("_n_hit")


def streaming_minhash_neardup(
    docs: DataFrame,
    state_dir: str,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark_seconds: int = 300,
    threshold: float = 0.8,
    shingle_n: int = 5,
    num_hashes: int = 128,
    bands: int = 32,
    max_bucket_size: Optional[int] = 256,
    checkpoint_dir: Optional[str] = None,
    state_catalog: str = "parquet",
):
    """Streaming minhash-LSH NEAR-dup dedup: the approximate twin of
    :func:`streaming_exact_dedup`. Inside ``foreachBatch``, each
    micro-batch runs the guarded LSH pair stage over batch ∪ state, then
    ``dedup.neardup_clusters`` once over that one pair graph. A batch doc
    is kept iff it is its component's ``canonical_id`` (the min id) and no
    state doc shares that ``canonical_id``: a component that reaches an
    emitted doc, directly or through a chain of batch docs, keeps nothing,
    whatever the id order. That is batch curation's transitive answer: a
    batch emits what ``plans.curation.curate_increment`` keeps of it
    against the state (pinned by test). Survivors append to ``out_dir``.

    State is the set of previously emitted docs within the event-time
    horizon: rows older than ``max(event_time seen) - watermark_seconds``
    are pruned every batch, so state size is bounded by arrival rate x
    watermark — the only formulation that survives an unbounded stream
    (exactly the bound ``dropDuplicatesWithinWatermark`` gives the exact
    path; near-dup needs a similarity join no built-in stateful operator
    expresses, hence foreachBatch + an explicit versioned state table).
    A near-dup arriving after its original aged out IS re-emitted — the
    same contract the built-in watermarked dedup has.

    State versions go through the ``spark_io`` catalog seam
    (``write_state_version`` / ``read_state_version_below``):
    ``state_catalog='parquet'`` (default, the sandbox form) writes
    ``state_dir/v=<batch_id>`` directories (write-new-then-read pattern:
    parquet can't overwrite a dir that feeds the same plan);
    ``state_catalog='iceberg'`` snapshot-REPLACES one table per commit
    when the runtime jar is present. Each batch reads the newest version
    STRICTLY BELOW its own batch id so checkpoint replay is idempotent,
    and EVERY batch — including empty ones on a fresh lineage — commits
    version batch_id, so a stale dead-run version can never be picked up
    by a later batch of this lineage. A state_dir belongs to one
    checkpoint lineage — pair them.

    The state table IS the signature table: each admitted doc's minhash
    signature persists alongside its text/ts, so the per-doc hashing runs
    for the NEW batch docs only — not arrival_rate x watermark — and
    banding/candidate-cut/prefilter run over persisted + fresh signatures
    (``dedup.minhash_lsh_pairs_from_sigs``). Text stays in state for the
    exact-Jaccard verification of the few surviving candidate pairs.

    Output writes are batch-id-keyed partitions of ``out_dir``
    (``batch=<id>``, mode overwrite), so a replayed batch overwrites its
    own partition instead of appending duplicates — emitted docs are
    exactly-once per batch id. Returns the started StreamingQuery.
    """
    import os

    from ..operators import dedup as dedup_ops
    from ..sources import spark_io

    # Reading v=batch_id itself would deadlock recovery: a batch replayed
    # after a crash between the state write and the checkpoint commit
    # would lazily read version batch_id while the overwrite deletes it
    # under the scan (observed: FAILED_READ_FILE on every restart). Read
    # below it, the replay rebuilds v=batch_id from v=batch_id-1.

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        batch0 = (
            batch_df.select(
                F.col(id_col).alias("id"),
                F.col(text_col).alias("text"),
                F.col(ts_col).alias("ts"),
            )
            .dropDuplicates(["id"])
            .persist()
        )
        batch = batch0
        # build a fresh StructType: StructType.add mutates in place and
        # df.schema may be a cached object
        state_schema = StructType(
            list(batch.schema.fields)
            + [StructField("sig", ArrayType(LongType()))]
        )
        if batch.isEmpty():
            # Still commit v=batch_id: the strictly-below read contract is
            # safe only if THIS lineage writes every version id — a
            # skipped id would let a stale dead-run version batch_id be
            # picked up by batch_id+1. With no predecessor (fresh lineage
            # whose first batches are empty), commit an EMPTY state frame:
            # leaving the slot unwritten would hand a dead run's v=0 to
            # batch 1 as if this lineage had produced it.
            prev = spark_io.read_state_version_below(
                spark, state_dir, below=int(batch_id), catalog=state_catalog
            )
            if prev is None:
                prev = spark.createDataFrame([], state_schema)
            spark_io.write_state_version(
                prev, state_dir, int(batch_id), catalog=state_catalog
            )
            batch0.unpersist()
            return
        state = spark_io.read_state_version_below(
            spark, state_dir, below=int(batch_id), catalog=state_catalog
        )
        if state is None:
            state = spark.createDataFrame([], state_schema)
        # Evict BEFORE matching: the horizon advances with this batch's max
        # event time, and an original older than (max_ts - watermark) must
        # no longer suppress anything — otherwise state is only pruned one
        # batch late and a post-horizon near-dup is wrongly dropped.
        max_ts = (
            batch.select(F.col("ts").alias("t"))
            .unionByName(state.select(F.col("ts").alias("t")))
            .agg(F.max("t"))
            .first()[0]
        )
        horizon = F.lit(max_ts) - F.expr(f"INTERVAL {watermark_seconds} SECOND")
        state = state.select("id", "text", "ts", "sig").filter(
            F.col("ts") >= horizon
        )
        # Identity dedup BEFORE similarity dedup: an id already emitted and
        # still in state (at-least-once source redelivery) must be dropped
        # outright — the pair stage cannot catch it because (x, x) pairs
        # are excluded by the id_a < id_b contract, and without this the
        # redelivered doc re-emits AND duplicates its id in state.
        batch = batch.join(state.select("id"), "id", "left_anti")
        # ONLY new batch docs pay the signature UDF — in-horizon state rows
        # carry their signature from the batch that admitted them (the
        # signature table IS the state table; per-batch hashing cost scales
        # with batch size, not arrival_rate x watermark). Left join keeps
        # empty-shingle docs (they can't pair; they still flow through).
        batch_sigs = dedup_ops.minhash_signatures_df(
            batch, "id", "text", shingle_n=shingle_n, num_hashes=num_hashes
        )
        batch = batch.join(batch_sigs, "id", "left").persist()
        union = batch.unionByName(state)
        # persisted HERE, where the signatures are assembled, and released
        # after the batch: each batch's plan is distinct, so a cache left
        # behind would strand one CacheManager entry per micro-batch
        all_sigs = (
            union.select("id", "sig").filter(F.col("sig").isNotNull()).persist()
        )
        # max_bucket_size: a template flood arriving on the stream would
        # otherwise cost O(m²) candidate pairs per micro-batch INSIDE the
        # state horizon (the guard is default-on here — streams can't
        # pre-inspect their corpus). Hence the full self-join stage: the
        # new x new ∪ new x old one curate_increment runs has no guard
        pairs = dedup_ops.minhash_lsh_pairs_from_sigs(
            all_sigs,
            union.select("id", "text"),
            "id",
            "text",
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
        )
        # ONE graph over batch ∪ state (its bounded collect runs the pair
        # stage once); a component holding a state doc keeps no batch doc
        labels = dedup_ops.neardup_clusters(union.select("id"), pairs)
        state_roots = labels.join(
            state.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        ).select("canonical_id")
        keep_ids = (
            labels.filter(F.col("doc_id") == F.col("canonical_id"))
            .join(state_roots, "canonical_id", "left_anti")
            .select(F.col("doc_id").alias("id"))
        )
        survivors = batch.join(keep_ids, "id", "left_semi").persist()

        # batch-id-keyed partition + overwrite = idempotent under
        # checkpoint replay (a blind append would duplicate every survivor
        # of a batch replayed after a crash before the checkpoint commit)
        survivors.select(
            F.col("id").alias(id_col),
            F.col("text").alias(text_col),
            F.col("ts").alias(ts_col),
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

        # new state = (live state ∪ survivors, each with its signature)
        # within the horizon (the state side is already filtered; a
        # late-arriving survivor older than the horizon must not re-enter)
        new_state = (
            state.unionByName(survivors.select("id", "text", "ts", "sig"))
            .filter(F.col("ts") >= horizon)
        )
        # catalog seam: parquet writes state_dir/v=<batch_id>; iceberg
        # snapshot-replaces one table (reads pinned their snapshot above,
        # so the self-overwrite is safe under Iceberg's isolation)
        spark_io.write_state_version(
            new_state, state_dir, int(batch_id), catalog=state_catalog
        )
        all_sigs.unpersist()
        survivors.unpersist()
        batch.unpersist()
        batch0.unpersist()

    writer = (
        docs.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


