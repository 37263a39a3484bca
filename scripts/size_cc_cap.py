"""Size ``dedup.CAP``: the edge count up to which connected components run
union-find on the driver instead of the star contraction.

For each edge count and plan, starts a fresh process that builds a random
graph from ``spark.range`` (endpoints uniform over twice as many ids as
edges; the pair frame is not persisted, so the cluster build runs it) and
times ``neardup_clusters(ids, pairs)`` + one aggregate over its rows.
``CAP`` at the edge count forces the driver plan, ``CAP = 0`` the star
plan. Each process first runs the plan on a 1,000-edge graph, so the JVM
and the Python workers are warm and the memory baseline is taken after
that. Prints one row per edge count and plan: median seconds, what the
runs added to the peak resident size of the Python driver and of the JVM
(``VmHWM``; in local mode the JVM is driver and executor at once, so its
figure bounds what a cluster driver would add), and an order-free digest
of the rows, which must agree between the plans.

    python3 scripts/size_cc_cap.py --edges 10000 100000 1000000 --reps 3
"""

from __future__ import annotations

import argparse
import os
import resource
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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--edges", type=int, nargs="+", default=[10_000, 100_000, 1_000_000])
    ap.add_argument("--plans", nargs="+", default=["driver", "star"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--child", nargs=2, metavar=("EDGES", "PLAN"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        _child(int(args.child[0]), args.child[1], args.reps, args.cpus)
        return

    print("edges  plan  median_s  added_py_rss_mb  added_jvm_rss_mb  digest")
    for m in args.edges:
        for plan in args.plans:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", str(m), plan,
                 "--reps", str(args.reps), "--cpus", str(args.cpus)],
                capture_output=True, text=True, check=True,
            )
            row = next(
                line for line in proc.stdout.splitlines() if line.startswith("RESULT")
            ).split("\t")[1:]
            print(f"{m}  {plan}  " + "  ".join(row), flush=True)


if __name__ == "__main__":
    main()
