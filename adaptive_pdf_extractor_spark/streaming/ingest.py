"""Streaming ingestion + extraction.

The reference is batch-only; its only streaming-like trait is the cache
evolving mid-scan (SURVEY §2.9), which the round loop already recasts. This
module adds the forward-looking leg: documents arriving as a stream are
extracted with the **current converged rulebook** (frozen per micro-batch —
the broadcast is immutable within a batch, exactly like one refinement
round), with watermarked windowed metrics for late data.

Rule evolution stays in the batch round loop: streams extract, batches
learn. (Mining inside the stream would reintroduce the order-dependent
mutable cache the north_rule explicitly recasts away.)
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rules import RuleBook
from ..operators.extract import extract_documents
from ..sources.corpus import INPUT_DDL


def streaming_extract(stream_docs: DataFrame, rulebook: RuleBook) -> DataFrame:
    """Streaming span-table -> streaming extraction output. The fused
    operator (JVM prep + mapInPandas + JVM struct build) is stateless per
    batch, so it works identically on streaming DataFrames — one code path,
    two execution modes."""
    return extract_documents(stream_docs, rulebook)


def with_event_time(extracted: DataFrame, ts_col: str = "ingest_ts") -> DataFrame:
    return extracted.withColumn(ts_col, F.current_timestamp())


def windowed_extraction_metrics(
    extracted: DataFrame,
    ts_col: str = "ingest_ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked tumbling-window metrics: docs, rule hits, unresolved
    fields per window — the streaming twin of the batch round metrics."""
    return (
        extracted.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(
                F.size(F.filter("hits", lambda h: h["path"] == F.lit("rule")))
            ).alias("rule_hits"),
            F.sum(F.size("unresolved")).alias("unresolved_fields"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "docs",
            "rule_hits",
            "unresolved_fields",
        )
    )


def stateful_label_hit_rate(extracted: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: cumulative per-label rule hit
    rate across micro-batches via ``applyInPandasWithState``.

    State per label = (docs, rule_hits, total_fields), carried across
    batches by the state store (checkpointable, exactly-once under a real
    sink). This is the streaming twin of the batch round metrics — and the
    engine's example of the ``applyInPandasWithState`` escape hatch for
    semantics neither windows nor joins express (a monotonically growing
    per-key counter over an unbounded stream)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    flat = extracted.select(
        "label",
        F.size(F.filter("hits", lambda h: h["path"] == F.lit("rule"))).alias(
            "rule_hits"
        ),
        F.size("hits").alias("n_fields"),
    )

    output_schema = (
        "label string, docs bigint, rule_hits bigint, total_fields bigint, "
        "hit_rate double"
    )
    state_schema = "docs bigint, rule_hits bigint, total_fields bigint"

    def update(key, pdfs, state: GroupState):
        docs, hits, fields = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            hits += int(pdf["rule_hits"].sum())
            fields += int(pdf["n_fields"].sum())
        state.update((docs, hits, fields))
        yield pd.DataFrame(
            [
                {
                    "label": key[0],
                    "docs": docs,
                    "rule_hits": hits,
                    "total_fields": fields,
                    "hit_rate": round(hits / fields, 6) if fields else 0.0,
                }
            ]
        )

    return flat.groupBy("label").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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


def streaming_interval_enrich(
    events: DataFrame,
    markers: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    marker_id_col: str = "event_id",
    window: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: each event paired with every marker
    event of the same key whose window ``[marker_ts, marker_ts + window)``
    contains it — the streaming twin of ``operators.joins.interval_join``
    (e.g. click-inside-error-window attribution, both sides live streams).

    Both sides carry a watermark and the join condition bounds the event
    time range, which is exactly what lets Structured Streaming evict join
    state: a marker older than (max event time - watermark - window) can
    never match again and is dropped. Without the time-range condition the
    state store grows forever — the stream-stream analog of the
    dropDuplicatesWithinWatermark bound. Inner join; output columns =
    events.* + ``interval_id``."""
    e = events.withWatermark(ts_col, watermark)
    iv = markers.select(
        F.col(key_col).alias("_ikey"),
        F.col(ts_col).alias("_its"),
        F.col(marker_id_col).alias("interval_id"),
    ).withWatermark("_its", watermark)
    cond = (
        (F.col(key_col) == F.col("_ikey"))
        & (F.col(ts_col) >= F.col("_its"))
        & (F.col(ts_col) < F.col("_its") + F.expr(f"INTERVAL {window}"))
    )
    return e.join(iv, cond, "inner").drop("_ikey", "_its")


def streaming_session_metrics(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: watermarked ``session_window`` aggregation
    per key — the streaming twin of the batch session query
    (``__spark_entry__.q_events_sessions``). Sessions merge as events
    arrive (the state store holds open sessions per key) and FINALIZE in
    append mode once the watermark passes their close — late events inside
    the watermark still extend or merge sessions; state for closed
    sessions is evicted, so the store is bounded by open sessions x keys,
    not stream length. Same output shape as the batch query: (key,
    session_start, session_end, n_events, sum_value)."""
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
    )
    return agg.select(
        key_col,
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


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
    :func:`streaming_exact_dedup`. Each micro-batch runs the batch LSH
    operator (``dedup.minhash_lsh_pairs`` — banded buckets, signature
    prefilter, exact-Jaccard verify, signatures via the numpy permutation
    bank) over batch ∪ state inside ``foreachBatch``; batch docs that
    near-match an already-emitted doc are dropped, one canonical (min id)
    survives per within-batch cluster, and survivors append to ``out_dir``.

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
    signature persists alongside its text/ts, so the expensive per-doc
    hashing (the 128-permutation numpy bank) runs for the NEW batch docs
    only (``minhash_signatures_df``) — not arrival_rate x watermark — and
    banding/candidate-cut/prefilter run over persisted + fresh signatures
    (``minhash_lsh_pairs_from_sigs``). Text stays in state for the
    exact-Jaccard verification, a narrow JVM re-shingling joined against
    the few surviving candidate pairs.

    Output writes are batch-id-keyed partitions of ``out_dir``
    (``batch=<id>``, mode overwrite), so a replayed batch overwrites its
    own partition instead of appending duplicates — emitted docs are
    exactly-once per batch id. Returns the started StreamingQuery.
    """
    import os

    from ..operators import dedup as dedup_ops
    from ..sources import spark_io

    # Reading v=batch_id itself would deadlock recovery: a replayed batch
    # (crash between the state write and the checkpoint commit) would
    # lazily read version batch_id while the overwrite deletes it under
    # the scan (observed: FAILED_READ_FILE on every restart). Keying reads
    # to < batch_id (spark_io.read_state_version_below) makes replay
    # idempotent — the replayed batch rebuilds v=batch_id from
    # v=batch_id-1, exactly as the original attempt did. (Consequence: a
    # state_dir belongs to ONE checkpoint lineage; a fresh checkpoint
    # restarts batch ids at 0 and commits every version id from there.)

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
        # pre-inspect their corpus)
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
        ).persist()
        state_ids = state.select(F.col("id").alias("sid"))
        # batch docs near-matching an already-emitted (state) doc drop out
        vs_state = (
            pairs.join(state_ids, pairs.id_a == F.col("sid"), "left_semi")
            .select(F.col("id_b").alias("id"))
            .unionByName(
                pairs.join(
                    state_ids, pairs.id_b == F.col("sid"), "left_semi"
                ).select(F.col("id_a").alias("id"))
            )
            .distinct()
        )
        survivors1 = batch.join(vs_state, "id", "left_anti")
        # within-batch clusters among the remaining docs: keep min id
        s1_ids = survivors1.select("id")
        s1_pairs = (
            pairs.join(
                survivors1.select(F.col("id").alias("id_a")), "id_a", "left_semi"
            )
            .join(
                survivors1.select(F.col("id").alias("id_b")), "id_b", "left_semi"
            )
            .select("id_a", "id_b")
        )
        clusters = dedup_ops.neardup_clusters(s1_ids, s1_pairs)
        keep_ids = clusters.filter(
            F.col("doc_id") == F.col("canonical_id")
        ).select(F.col("doc_id").alias("id"))
        survivors = survivors1.join(keep_ids, "id", "left_semi").persist()

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
        pairs.unpersist()
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


def file_stream_source(
    spark: SparkSession, path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """Span-table parquet directory as a stream (the Iceberg-shaped landing
    zone pattern: writers append files, the extractor tails them)."""
    reader = spark.readStream.schema(INPUT_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)
