"""PySpark-native adaptive document extraction engine.

A from-scratch, Spark-first reimplementation of the *capabilities* of
GustavoZiel/adaptive-PDF-extractor (reference at /root/reference, read-only):
adaptive rule-based field extraction over corpora of interleaved text+media
documents, with the reference's sequential LLM-feedback rule cache recast as
a bounded iterative broadcast (mine -> aggregate -> broadcast per round).

Layout:
    functions/   pure + vectorized scalar functions (normalize, rules, text)
    sources/     corpus model and ingestion (span tables, reference cache
                 import, synthetic generator, PDF byte-stream source)
    operators/   distributed operators (extract, miner, layout, dedup,
                 similarity)
    plans/       end-to-end pipeline driver, checkpoint/resume, metrics
    streaming/   micro-batch twins of the dedup/decontamination operators

Design invariant (verified in tests/): output span sequences are
span-sequence-equal (kind, text, media_ref, order) to the reference
extractor's golden outputs on its own corpora.
"""

__version__ = "0.1.0"
