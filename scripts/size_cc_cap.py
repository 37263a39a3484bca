"""Size the driver-side plans of near-dup curation: ``dedup.CAP`` (the
edge count up to which connected components run union-find on the driver
instead of the star contraction), and ``dedup.BOUND`` and
``dedup.BOUND_BYTES`` (the documents and UTF-8 bytes of text up to which
curation runs the whole MinHash pair stage on the driver).

Edges mode: for each edge count and plan, starts a fresh process that
builds a random graph from ``spark.range`` (endpoints uniform over twice
as many ids as edges; the pair frame is not persisted, so the cluster
build runs it) and times ``neardup_clusters(ids, pairs)`` + one aggregate
over its rows. ``CAP`` at the edge count forces the driver plan,
``CAP = 0`` the star plan. Each process first runs the plan on a
1,000-edge graph.

Curation mode (``--docs``): for each corpus size and placement, starts a
fresh process that writes the perfbench curation generator's corpus
(``perfbench.corpora.curation_documents``, seed 1) as one parquet file and
times ``curation_run`` on it with perfbench's guard cap (24), the cache
cleared before each run. ``BOUND`` at the corpus size (and no byte
budget) places the pair stage on the driver (``driver``), ``BOUND = 0``
on Spark (``spark``), and ``BOUND`` at half the corpus size runs the
bounded count of ``fits_on_driver`` and then the Spark plan (``over``:
what an input over ``BOUND`` pays; the gate keeps ~95% of the
documents). ``--chars C`` replaces the generator's ~300-byte
documents over a 30-word vocabulary with ``C``-character documents of
random words (``_long_documents``), whose shingles are nearly all
distinct, as in real text: the corpus that sizes ``BOUND_BYTES``. Each
process first runs one curation of a 1,000-document generator corpus
under the same plan.

Either way the JVM and the Python workers are warm and the memory
baseline is taken after the warm-up. Prints one row per size and plan:
median seconds, what the runs added to the peak resident size of the
Python driver and of the JVM (``VmHWM``; in local mode the JVM is driver
and executor at once, so its figure bounds what a cluster driver would
add), and an order-free digest of the rows, which must agree between the
plans.

    python3 scripts/size_cc_cap.py --edges 10000 100000 1000000 --reps 3
    python3 scripts/size_cc_cap.py --docs 1000 3000 10000 30000 --reps 3
    python3 scripts/size_cc_cap.py --docs 1000 3000 --chars 3000
"""

from __future__ import annotations

import argparse
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _child(m: int, plan: str, reps: int, cpus: int) -> None:
    """One plan at one edge count; prints a tab-separated result line."""
    from pyspark.sql import functions as F

    from adaptive_pdf_extractor_spark.operators import dedup
    from adaptive_pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="size_cc_cap", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def graph(k):
        n = 2 * k
        pairs = spark.range(k).select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n)).alias("id_a"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n)).alias("id_b"),
        )
        return spark.range(n), pairs

    def run(ids, pairs):
        out = dedup.neardup_clusters(ids, pairs)
        return out.select(
            F.sum(F.xxhash64("doc_id", "canonical_id", "cluster_size") % 1000003)
        ).first()[0]

    try:
        dedup.CAP = m if plan == "driver" else 0
        run(*graph(1000))
        py0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm0 = _kb(jvm_pid, "VmRSS")
        ids, pairs = graph(m)
        walls, digest = [], None
        for _ in range(reps):
            t0 = time.perf_counter()
            digest = run(ids, pairs)
            walls.append(time.perf_counter() - t0)
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - py0
        jvm = _kb(jvm_pid, "VmHWM") - jvm0
        print(
            f"RESULT\t{statistics.median(walls):.2f}\t{py / 1024:.0f}\t"
            f"{max(jvm, 0) / 1024:.0f}\t{digest}",
            flush=True,
        )
    finally:
        spark.stop()


def _long_documents(seed: int, n: int, chars: int):
    """``n`` documents of about ``chars`` characters of random words over a
    20,000-word vocabulary (one word in ten "the", so they pass the
    quality gate), so that nearly every 5-shingle of a document is
    distinct, as in real text; 5% of them are an earlier one plus " dup"."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    letters = rng.integers(97, 123, size=(20_000, 9)).astype(np.uint8)
    vocab = [
        bytes(row[:k]).decode() for row, k in
        zip(letters, rng.integers(3, 10, size=20_000))
    ]
    vocab[::10] = ["the"] * len(vocab[::10])
    per_doc = max(1, chars // 7)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(
                vocab[j] for j in rng.integers(0, len(vocab), per_doc)
            ))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def _child_curation(
    n: int, plan: str, reps: int, cpus: int, chars: int = 0
) -> None:
    """One placement at one corpus size; prints a tab-separated line."""
    import tempfile

    from pyspark.sql import functions as F

    from adaptive_pdf_extractor_spark.operators import dedup
    from adaptive_pdf_extractor_spark.plans.curation import curation_run
    from adaptive_pdf_extractor_spark.session import get_spark
    from perfbench.corpora import curation_documents

    spark = get_spark(app_name="size_bound", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    work = tempfile.mkdtemp(prefix="size_bound_")

    def corpus(k, chars=0):
        path = os.path.join(work, f"docs{k}x{chars}.parquet")
        docs = _long_documents(1, k, chars) if chars else curation_documents(1, k)
        docs.to_parquet(path, index=False)
        return path

    def run(path, tag):
        """The seconds of one curation_run, and a digest of its rows."""
        spark.catalog.clearCache()
        out = os.path.join(work, f"run_{tag}")
        t0 = time.perf_counter()
        summary = curation_run(spark.read.parquet(path), out, max_bucket_size=24)
        wall = time.perf_counter() - t0
        rows = spark.read.parquet(os.path.join(out, "curated.parquet"))
        digest = rows.select(
            F.sum(F.xxhash64("doc_id", "cluster_size", "n_tokens") % 1000003)
        ).first()[0]
        return wall, f"{summary['n_output']}/{digest}"

    # the BOUND of each plan, at the measured size and at the warm-up's
    bound = {"driver": (n, 1000), "spark": (0, 0), "over": (n // 2, 500)}[plan]
    dedup.BOUND_BYTES = 1 << 62
    try:
        dedup.BOUND = bound[1]
        run(corpus(1000), "warm")
        dedup.BOUND = bound[0]
        path = corpus(n, chars)
        py0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm0 = _kb(jvm_pid, "VmRSS")
        walls, digest = [], None
        for i in range(reps):
            wall, digest = run(path, str(i))
            walls.append(wall)
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - py0
        jvm = _kb(jvm_pid, "VmHWM") - jvm0
        print(
            f"RESULT\t{statistics.median(walls):.2f}\t{py / 1024:.0f}\t"
            f"{max(jvm, 0) / 1024:.0f}\t{digest}",
            flush=True,
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--edges", type=int, nargs="+", default=[10_000, 100_000, 1_000_000])
    ap.add_argument("--docs", type=int, nargs="+",
                    help="curation mode: corpus sizes, sizing dedup.BOUND")
    ap.add_argument("--chars", type=int, default=0,
                    help="curation mode: long random-word documents of this "
                    "many characters instead of the perfbench generator's")
    ap.add_argument("--plans", nargs="+",
                    help="edges: driver, star; docs: driver, spark, over")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--child", nargs=3, metavar=("MODE", "SIZE", "PLAN"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        if args.child[0] == "docs":
            _child_curation(
                int(args.child[1]), args.child[2], args.reps, args.cpus,
                args.chars,
            )
        else:
            _child(int(args.child[1]), args.child[2], args.reps, args.cpus)
        return

    mode, sizes = ("docs", args.docs) if args.docs else ("edges", args.edges)
    plans = args.plans or (
        ["driver", "spark", "over"] if args.docs else ["driver", "star"]
    )
    print(f"{mode}  plan  median_s  added_py_rss_mb  added_jvm_rss_mb  digest")
    for m in sizes:
        for plan in plans:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", mode,
                 str(m), plan, "--reps", str(args.reps), "--cpus", str(args.cpus),
                 "--chars", str(args.chars)],
                capture_output=True, text=True, check=True,
            )
            row = next(
                line for line in proc.stdout.splitlines() if line.startswith("RESULT")
            ).split("\t")[1:]
            print(f"{m}  {plan}  " + "  ".join(row), flush=True)


if __name__ == "__main__":
    main()
