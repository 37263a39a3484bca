#!/usr/bin/env python3
"""Cluster job entrypoint: guarded LSH training-data curation as a
COMMITTED run (output table + manifest with guard telemetry).

Run via spark-submit::

    cd /root/repo && python3 -m zipfile -c engine.zip adaptive_pdf_extractor_spark

    spark-submit --driver-memory 16g --py-files engine.zip \
        scripts/run_curation.py \
        --input /data/corpus/documents.parquet   # (doc_id, text, ...) table
        --run-dir /data/runs/curation-001        # curated.parquet + manifest.json
        --threshold 0.8 --max-bucket-size 256 \
        --decontaminate /data/evals/eval_docs.parquet  # optional (text column)

The manifest's summary records n_input / n_output / keep_rate AND the
mega-cluster guard telemetry (star_candidate_rows, max_oversized_bucket,
flood_regime) — the production signal that the corpus is in the
template-flood regime (see plans/curation.py).

Incremental mode (the daily form): pass --old-docs and --old-sigs to
curate ONLY the --input batch against an existing curated corpus — new
docs alone compute signatures; the kept batch lands at
<run-dir>/curated.parquet without touching the old corpus.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--max-bucket-size", type=int, default=256)
    ap.add_argument("--shingle-n", type=int, default=5)
    ap.add_argument("--num-hashes", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument(
        "--decontaminate", help="optional eval-set parquet with a text column"
    )
    ap.add_argument(
        "--old-docs",
        help="incremental mode: parquet of the existing CURATED corpus "
        "(doc_id, text); --input becomes the new batch",
    )
    ap.add_argument(
        "--old-sigs",
        help="incremental mode: persisted signature table parquet (id, sig) "
        "for --old-docs; computed from --old-docs if absent",
    )
    ap.add_argument("--cpus", type=int, default=0, help="local[N] override")
    args = ap.parse_args()

    from adaptive_pdf_extractor_spark.plans.curation import (
        curate_increment,
        curation_run,
    )
    from adaptive_pdf_extractor_spark.session import get_spark

    spark = get_spark(
        app_name="curation", cpus=args.cpus if args.cpus > 0 else None
    )
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    evals = (
        spark.read.parquet(args.decontaminate) if args.decontaminate else None
    )

    if args.old_docs:
        old_docs = spark.read.parquet(args.old_docs).select("doc_id", "text")
        old_sigs = (
            spark.read.parquet(args.old_sigs) if args.old_sigs else None
        )
        kept = curate_increment(
            docs,
            old_docs,
            old_sigs=old_sigs,
            shingle_n=args.shingle_n,
            num_hashes=args.num_hashes,
            bands=args.bands,
            threshold=args.threshold,
            decontaminate_against=evals,
        )
        from adaptive_pdf_extractor_spark.plans.checkpoint import RunManifest
        from adaptive_pdf_extractor_spark.sources import spark_io

        out = os.path.join(args.run_dir, "curated.parquet")
        spark_io.write_table(kept, out)
        n = spark_io.read_table(spark, out).count()
        summary = {
            "mode": "incremental",
            "n_batch": docs.count(),
            "n_kept": n,
            "output_path": out,
        }
        # the manifest IS the production record for the daily run too —
        # a missing manifest must mean the run never completed
        RunManifest(args.run_dir).finish(out, summary)
    else:
        summary = {
            "mode": "full",
            **curation_run(
                docs,
                args.run_dir,
                shingle_n=args.shingle_n,
                num_hashes=args.num_hashes,
                bands=args.bands,
                threshold=args.threshold,
                max_bucket_size=args.max_bucket_size,
                decontaminate_against=evals,
            ),
        }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
