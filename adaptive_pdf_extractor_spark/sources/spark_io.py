"""Spark DataFrame constructors and table I/O for the corpus model.

Storage is "Iceberg-shaped parquet" (SURVEY §7.1.5): no Iceberg runtime jar
ships in the sandbox, so tables are partitioned parquet + JSON manifests
giving snapshot ids, per-partition lineage and exact resume; the layout maps
1:1 onto Iceberg snapshots when the jar is available (the writer/reader here
is the only code that would change).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus as corpus_mod
from .corpus import INPUT_DDL

RULES_DDL = (
    "label string, field string, rule string, validation_regex string, "
    "weight bigint, rule_seq bigint, round_added int, rule_id bigint"
)


def rules_df_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(rows, schema=RULES_DDL) if rows else spark.createDataFrame([], schema=RULES_DDL)


def synthetic_corpus_df(
    spark: SparkSession,
    seed: int,
    count: int,
    partitions: Optional[int] = None,
    corpus: str = "synth",
) -> DataFrame:
    """Distributed synthetic corpus: ``spark.range(count)`` fanned out to a
    per-id deterministic generator (order-independent seeding — SURVEY §3.2),
    so the same (seed, id) yields the same document at any scale/parallelism.
    This is how the 10^12-notional corpus is synthesized small for tests
    (reference analog: scripts/generate_fake_data.py, global sequential
    seeding — deliberately NOT reproduced; see corpus._Rng docstring)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    rng_df = spark.range(0, count, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                doc_id = f"{corpus}/{int(i):09d}"
                rec = corpus_mod.synth_record(seed, doc_id)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "spans": corpus_mod.text_to_spans(doc_id, rec["pdf_text"]),
                        "label": rec["label"],
                        "schema_fields": rec["schema_fields"],
                        "expected": rec["expected"],
                    }
                )
            yield pd.DataFrame(rows)

    return rng_df.mapInPandas(gen, schema=INPUT_DDL)


def corpus_from_documents_df(
    docs_df: DataFrame,
    seed: int,
    corpus: str = "fromdocs",
    partitions: int | None = None,
) -> DataFrame:
    """Span-table corpus derived from a real documents table (columns
    ``doc_id``, ``text``): each row becomes an input record via
    ``corpus.record_from_text`` — field values drawn from the row's text,
    original text appended as body — chunked into spans. Distributed
    mapInPandas over the source scan (no driver materialization; same
    order-independent per-id determinism as :func:`synthetic_corpus_df`).

    The narrow (doc_id, text) input is spread across the cluster before
    the Python stage when it arrives under-partitioned: a small parquet
    lands as 1-2 splits and the per-doc record generation is
    CPU-bound in the Python worker (measured 7.4 s on 2 cores vs 1.6 s
    spread, 50k docs) — the guide §2 idle-core trap. Per-id seeding
    makes the output independent of partitioning. ``partitions``
    overrides the spread target (callers that know the corpus size pass
    a row-scaled value — tiny corpora over-schedule at 2x parallelism)
    and always repartitions: ``getNumPartitions()`` cannot see AQE's
    post-shuffle coalescing, so only the default target trusts it."""
    if partitions:
        docs_df = docs_df.repartition(partitions)
    else:
        target = 2 * max(docs_df.sparkSession.sparkContext.defaultParallelism, 4)
        if docs_df.rdd.getNumPartitions() < target:
            docs_df = docs_df.repartition(target)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = f"{corpus}/{int(did):09d}"
                rec = corpus_mod.record_from_text(seed, doc_id, text or "")
                rows.append(
                    {
                        "doc_id": doc_id,
                        "spans": corpus_mod.text_to_spans(doc_id, rec["pdf_text"]),
                        "label": rec["label"],
                        "schema_fields": rec["schema_fields"],
                        "expected": rec["expected"],
                    }
                )
            yield pd.DataFrame(rows)

    return docs_df.select("doc_id", "text").mapInPandas(gen, schema=INPUT_DDL)


CATALOGS = ("parquet", "iceberg")


def _require_iceberg(spark: SparkSession) -> None:
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    if "IcebergSparkSessionExtensions" not in ext:
        raise RuntimeError(
            "catalog='iceberg' requested but no Iceberg runtime is configured "
            "(spark.sql.extensions lacks IcebergSparkSessionExtensions). Ship "
            "the iceberg-spark-runtime jar and set spark.sql.extensions + a "
            "spark.sql.catalog.* entry; the parquet layout here maps 1:1 onto "
            "Iceberg snapshots (SURVEY §7.1.5)."
        )


def write_table(
    df: DataFrame, path: str, mode: str = "overwrite", catalog: str = "parquet"
) -> None:
    """Catalog-dispatched table writer (SURVEY §7.1.5's --catalog switch).
    'parquet' (default): plain parquet + the JSON manifests written by
    plans/checkpoint.py. 'iceberg': format('iceberg') path tables — requires
    the runtime jar (absent in this sandbox; fails with a clear error)."""
    if catalog == "parquet":
        df.write.mode(mode).parquet(path)
    elif catalog == "iceberg":
        _require_iceberg(df.sparkSession)
        df.write.format("iceberg").mode(mode).save(path)
    else:
        raise ValueError(f"unknown catalog {catalog!r}; expected one of {CATALOGS}")


def read_table(
    spark: SparkSession, path: str, catalog: str = "parquet"
) -> DataFrame:
    if catalog == "parquet":
        return spark.read.parquet(path)
    elif catalog == "iceberg":
        _require_iceberg(spark)
        return spark.read.format("iceberg").load(path)
    raise ValueError(f"unknown catalog {catalog!r}; expected one of {CATALOGS}")


# ---------------------------------------------------------------------------
# versioned state tables (micro-batch operator state through the catalog seam)
# ---------------------------------------------------------------------------

# Version marker columns used on catalogs that keep ONE table with snapshot
# replace (Iceberg) instead of one directory per version (parquet). Every
# commit includes one SENTINEL row (all payload columns null,
# _state_sentinel=true) so the committed version number is readable even
# when the state frame itself is EMPTY — without it, an empty commit would
# be version-indistinguishable and a history walk could resurrect a dead
# run's older snapshot (the exact stale-state bug the empty-batch
# contract exists to prevent). Readers drop sentinel rows and both
# marker columns.
STATE_VERSION_COL = "_state_version"
STATE_SENTINEL_COL = "_state_sentinel"


def write_state_version(
    df: DataFrame, state_dir: str, version: int, catalog: str = "parquet"
) -> None:
    """Commit one version of a micro-batch operator's state table.

    * ``parquet`` (sandbox fallback): ``state_dir/v=<version>`` directory,
      mode overwrite — the write-new-then-read layout (parquet can't
      overwrite a directory that feeds the same plan).
    * ``iceberg``: ONE table at ``state_dir``, snapshot-REPLACED per
      commit, with ``_state_version`` stamped on every row — the cluster
      form: old versions stay reachable through Iceberg snapshot history
      (no directory juggling, automatic expiry via snapshot retention).
    """
    if catalog == "parquet":
        import os

        df.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v={int(version)}")
        )
    elif catalog == "iceberg":
        _require_iceberg(df.sparkSession)
        spark = df.sparkSession
        stamped = df.withColumn(
            STATE_VERSION_COL, F.lit(int(version))
        ).withColumn(STATE_SENTINEL_COL, F.lit(False))
        sentinel = spark.range(1).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in df.schema.fields
            ],
            F.lit(int(version)).alias(STATE_VERSION_COL),
            F.lit(True).alias(STATE_SENTINEL_COL),
        )
        (
            stamped.unionByName(sentinel)
            .write.format("iceberg")
            .mode("overwrite")
            .save(state_dir)
        )
    else:
        raise ValueError(
            f"unknown catalog {catalog!r}; expected one of {CATALOGS}"
        )


def read_state_version_below(
    spark: SparkSession, state_dir: str, below: int, catalog: str = "parquet"
) -> Optional[DataFrame]:
    """Latest committed state version STRICTLY BELOW ``below``, or None.

    The strictly-below contract is what makes checkpoint replay
    idempotent: a replayed batch (crash between the state commit and the
    checkpoint commit) rebuilds its own version from its predecessor's,
    never reading the half-committed one (see
    streaming.ingest.streaming_minhash_neardup).

    * ``parquet``: newest ``v=<n>`` directory with n < below.
    * ``iceberg``: read every snapshot's version stamp via time travel
      and return the MAX qualifying version — snapshot-replace keeps
      each version as one snapshot, so this is exactly the parquet
      directory scan expressed through table metadata, and selecting by
      stamp (not commit-time order) is immune to same-millisecond
      committed_at ties. EVERY read is pinned to an explicit
      snapshot-id, so the returned frame is immune to a subsequent
      snapshot-replace of the same table. Every
      commit carries a sentinel row (see ``STATE_SENTINEL_COL``), so
      EMPTY state versions are still version-stamped and a dead run's
      older snapshot can never shadow a fresh lineage's empty commit.
    """
    if catalog == "parquet":
        import os

        if not os.path.isdir(state_dir):
            return None
        versions = sorted(
            v
            for d in os.listdir(state_dir)
            if d.startswith("v=")
            and (v := int(d.split("=", 1)[1])) < below
        )
        if not versions:
            return None
        return spark.read.parquet(
            os.path.join(state_dir, f"v={versions[-1]}")
        )
    elif catalog == "iceberg":
        _require_iceberg(spark)

        def _version_of(df: DataFrame):
            # the sentinel row guarantees a stamp even on empty versions
            return df.select(F.max(STATE_VERSION_COL)).first()[0]

        def _payload(df: DataFrame) -> DataFrame:
            # pre-sentinel snapshots (tables written before the sentinel
            # existed; Iceberg time travel reads each snapshot under its
            # own schema) have no sentinel column — drop-what-exists keeps
            # them readable instead of failing resume with an unresolved
            # column
            if STATE_SENTINEL_COL in df.columns:
                df = df.filter(~F.col(STATE_SENTINEL_COL)).drop(
                    STATE_SENTINEL_COL
                )
            return df.drop(STATE_VERSION_COL)

        # ONE pinned walk over the .snapshots metadata table: every read
        # carries an explicit snapshot-id, so the returned DataFrame can
        # never be re-planned against a LATER commit — the self-overwrite
        # safety the streaming loop's same-table snapshot-replace relies
        # on is true by construction on every path. Selection is by MAX
        # qualifying VERSION STAMP, not commit-time order: committed_at
        # has millisecond resolution and no tie-break, so two rapid
        # commits (empty micro-batches on a local FS) could otherwise
        # return the older version non-deterministically. Snapshot count
        # is bounded by retention, so stamping every snapshot is cheap.
        try:
            snaps = (
                spark.read.format("iceberg")
                .load(f"{state_dir}.snapshots")
                .select("snapshot_id")
                .collect()
            )
        except Exception:
            return None  # table does not exist yet
        best: tuple[int, DataFrame] | None = None
        for s in snaps:
            df = (
                spark.read.option("snapshot-id", s["snapshot_id"])
                .format("iceberg")
                .load(state_dir)
            )
            v = _version_of(df)
            if v is not None and int(v) < below:
                if best is None or int(v) > best[0]:
                    best = (int(v), df)
        return _payload(best[1]) if best is not None else None
    raise ValueError(f"unknown catalog {catalog!r}; expected one of {CATALOGS}")


