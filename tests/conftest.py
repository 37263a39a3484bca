"""Shared fixtures. A single local SparkSession is reused across the whole
test run (JVM startup dominates otherwise)."""

from __future__ import annotations

import os

import pytest

REFERENCE = "/root/reference"
TESTDATA = "/root/testdata"


def reference_available() -> bool:
    return os.path.isdir(os.path.join(REFERENCE, "data"))


# the shared gate of tests that check parity with the reference's own
# corpora, caches or published numbers (they run whenever it exists)
needs_reference = pytest.mark.skipif(
    not reference_available(),
    reason=f"reference corpora, caches and results absent ({REFERENCE})",
)


@pytest.fixture(scope="session")
def spark():
    from adaptive_pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def learned_rules(spark, tmp_path_factory):
    """Rules the repo's own miner learns from ``synth_rows(seed=1, 0, 400)``
    in at most 3 rounds (deterministic): an in-repo rule set for kernel
    tests that must not depend on reference caches."""
    from adaptive_pdf_extractor_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )
    from adaptive_pdf_extractor_spark.sources import corpus
    import plumbing

    docs = plumbing.input_df_from_rows(spark, corpus.synth_rows(seed=1, start=0, count=400))
    pipe = ExtractionPipeline(
        spark,
        str(tmp_path_factory.mktemp("learned_rules") / "run"),
        PipelineConfig(max_rounds=3, num_partitions=4),
    )
    pipe.run(docs, initial_rules_rows=[], write_output=False)
    return pipe.final_rules()
