#!/usr/bin/env python3
"""Extraction-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload learn_templates --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a source checkout on ``local[nproc]``, closed loop
(each timed operation starts after the previous one finished). A run:

1. starts one SparkSession and brackets the workload with a no-Spark
   control (``min(8, nproc)`` worker processes; run context only);
2. builds the seeded inputs several times and reports the median as
   ``setup_s``;
3. runs the workload's untimed warm-up, if it has one (a cold learn
   measured 2x slower than a warm one);
4. runs timed iterations until ``--seconds`` have passed and reports the
   median of each operation as ``main_s`` and ``followup_s``;
5. checks every iteration's outputs and prints human-readable lines, then
   one JSON object as the last line of stdout.

With ``--trace 1`` every timed iteration records layer spans (see
``trace.py``) with Spark's event log enabled, and the JSON carries the
per-layer metrics instead of the end-to-end ones.
All files go under ``.perfbench_work/`` in the checkout and are removed at
exit. Without the engine package next to this directory the run exits
with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
STARTED = time.monotonic()
DEADLINE_S = 140  # a run must end within 180 s; the 1-core pass yields


def _control_loop(n: int) -> float:
    """n dependent integer ops in pure Python: a hardware probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


_CONTROL_CHILD = (
    "import sys\n"
    "from perfbench.run import _control_loop\n"
    "n = int(sys.argv[1])\n"
    "_control_loop(n // 10)\n"
    "print('ready', flush=True)\n"
    "sys.stdin.readline()\n"
    "print(_control_loop(n), flush=True)\n"
)


def noise_control(workers: int, n: int = 500_000) -> dict:
    """Per-process efficiency of ``workers`` concurrent loops vs one
    (healthy ~0.85+), and the single-process seconds. The loops run in
    plain child processes that start together once all are ready, and
    every child is waited for before this returns."""
    _control_loop(n // 10)
    one = _control_loop(n)
    procs = []
    try:
        for _ in range(workers):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _CONTROL_CHILD, str(n)], cwd=ROOT,
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        for p in procs:
            p.stdout.readline()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        many = [float(p.communicate(timeout=60)[0]) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return {"workers": workers, "efficiency": round(min(one / statistics.mean(many), 1.0), 3),
            "sec_1proc": round(one, 3)}


def become_subreaper() -> None:
    """Make this process the parent of every orphan its descendants leave
    behind (Linux ``PR_SET_CHILD_SUBREAPER``), so ``reap_all`` can wait for
    processes whose own parent has already exited, such as a Spark
    worker outliving its JVM."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _process_tree() -> dict[int, list[int]]:
    """Parent pid -> child pids, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is in parentheses and may contain spaces
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def pin_descendants(cpus: set[int]) -> None:
    """``taskset`` for the running process tree below this process (the
    JVM, the Python worker daemon and its workers): every thread gets the
    affinity ``cpus``, and threads and processes they start inherit it."""
    tree, todo = _process_tree(), [os.getpid()]
    while todo:
        for pid in tree.get(todo.pop(), []):
            todo.append(pid)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass


def reap_all(grace_s: float = 20.0) -> None:
    """Wait until this process has no child left. Children still running
    after ``grace_s`` get SIGTERM, and SIGKILL five seconds later."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _process_tree().get(os.getpid(), []):
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5, signal.SIGKILL
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and its descendants, sampled
    from /proc: the Python side and the JVM apart. The JVM's heap is
    capped by ``spark.driver.memory`` and its resident size follows the
    garbage collector's sizing, so the gated figure is the Python side,
    where the engine's pandas batches live: the driver plus the
    ``slots + 1`` largest other Python processes (one worker per task
    slot, and the worker daemon). Surplus idle workers, whose number
    varies from run to run, are left out."""

    def __init__(self, slots: int, interval: float = 0.5):
        self.slots = slots
        self.interval = interval
        self.peak_python = 0
        self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> tuple[int, int]:
        children = _process_tree()
        own = jvm = 0
        others = []
        todo = [(os.getpid(), False)]
        while todo:
            pid, parent_is_jvm = todo.pop()
            try:
                # argv[0], not comm: a child the JVM has forked but not yet
                # exec'd runs the JVM's image under its thread's name
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    is_jvm = os.path.basename(f.read().split(b"\0")[0]) == b"java"
                with open(f"/proc/{pid}/statm", "rb") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            todo.extend((c, is_jvm) for c in children.get(pid, []))
            if is_jvm:
                if not parent_is_jvm:  # a forked copy shares the JVM's pages
                    jvm += rss
            elif pid == os.getpid():
                own = rss
            else:
                others.append(rss)
        others.sort(reverse=True)
        return own + sum(others[: self.slots + 1]), jvm

    def _loop(self) -> None:
        while not self._stop.is_set():
            python, jvm = self._sample()
            self.peak_python = max(self.peak_python, python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def start_spark(work: str, cores: int, event_log: str | None):
    from adaptive_pdf_extractor_spark.session import get_spark

    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the work directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = None
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def one_core_resume(wl, ctx, run_dir: str) -> tuple[float, str]:
    """The converged resume once more, from a copy of ``run_dir``, with the
    engine's processes pinned to one CPU; returns (seconds, output digest)."""
    from perfbench.workloads import output_digest

    copy = shutil.copytree(run_dir, run_dir + "_1cpu")
    cpus = os.sched_getaffinity(0)
    ctx.spark.catalog.clearCache()
    pin_descendants({min(cpus)})
    try:
        seconds, _ = wl.run_pipeline(ctx, copy, fresh=False)
    finally:
        pin_descendants(cpus)
    out = ctx.spark.read.parquet(os.path.join(copy, "output"))
    return seconds, output_digest(out)


def summary(values: list[float]) -> dict:
    out = {"n": len(values), "median": statistics.median(values)}
    if len(values) >= 2:
        q = statistics.quantiles(values, n=4)
        out.update(q1=q[0], q3=q[2])
    return out


def run(args, work: str) -> tuple[dict, list[str]]:
    from perfbench import workloads
    from perfbench.trace import Tracer

    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]()
    lines = [f"perfbench workload={wl.name} seed={args.seed} cores={cores} "
             f"seconds={args.seconds} trace={args.trace}"]
    control_pre = noise_control(min(8, cores))
    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(work, cores, event_log)
    session_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed)
    tracer = Tracer(spark.sparkContext) if args.trace else None
    untraced: list = []
    traced: list = []
    failures: list[str] = []
    attempted = failed = 0
    try:
        with RssSampler(cores) as rss:
            setup_times = []
            # setup_s is an end-to-end metric: the traced run builds once
            for _ in range(1 if args.trace else SETUP_REPS):
                t = time.perf_counter()
                inputs = wl.setup(ctx)
                setup_times.append(time.perf_counter() - t)
            t = time.perf_counter()
            spark.catalog.clearCache()
            wl.warmup(ctx)
            warmup_s = time.perf_counter() - t
            ref = None  # the first timed iteration's facts
            cached_after, iteration_s = [], []
            start = time.perf_counter()
            k = 0
            # run for --seconds, and until one iteration has passed; a run
            # whose iterations keep raising gives up after four
            while (time.perf_counter() - start < args.seconds
                   or (k < 4 and not (traced or untraced))):
                trace_this = bool(args.trace)
                spark.catalog.clearCache()
                attempted += 1
                if trace_this:
                    ctx.tracer = tracer
                    tracer.install()
                t = time.perf_counter()
                try:
                    r = wl.iteration(ctx, f"i{k}")
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    failures.append(f"iteration {k} raised")
                    k += 1
                    continue
                finally:
                    if trace_this:
                        tracer.uninstall()
                        ctx.tracer = None
                ref = ref or r
                bad = wl.check(r, ref)
                if bad:
                    failed += 1
                    failures += [f"iteration {k}: {m}" for m in bad]
                iteration_s.append(time.perf_counter() - t)
                cached_after.append(workloads.cached_bytes(spark))
                (traced if trace_this else untraced).append(r)
                k += 1
            layer_inputs = None
            if args.trace and traced:
                from perfbench import layers

                layer_inputs = layers.collect_driver_side(wl, ctx, traced)
            if args.trace and wl.name == "learn_templates" and traced:
                # the traced resume: its spans wrap a handful of driver calls
                four = statistics.median(r.followup_s for r in traced)
                if time.monotonic() - STARTED + 2 * cores * four < DEADLINE_S:
                    one, digest = one_core_resume(wl, ctx, traced[-1].facts["run_dir"])
                    layer_inputs["scaling.parallel_eff"] = one / (cores * four)
                    lines.append(f"scaling resume 1-core {one:.3f} s, "
                                 f"{cores}-core {four:.3f} s")
                    if digest != ref.facts["resume_digest"]:
                        failures.append("the 1-core resume output differs from "
                                        f"the {cores}-core output")
                else:
                    print("perfbench: 1-core pass skipped: no time left", file=sys.stderr)
    finally:
        stop_spark(spark)
    control_post = noise_control(min(8, cores))

    lines.append(f"context session_start_s={session_s:.3f} warmup_s={warmup_s:.3f} "
                 f"iteration_s={[round(x, 3) for x in iteration_s]} "
                 f"control_pre={json.dumps(control_pre)} "
                 f"control_post={json.dumps(control_post)}")
    lines.append(f"inputs {json.dumps(inputs, sort_keys=True)}")
    facts = ref.facts if ref else {}
    lines.append("facts " + json.dumps(
        {k: v for k, v in facts.items() if k != "run_dir"}, sort_keys=True))
    timings = {
        "setup_s": summary(setup_times),
        wl.main_name: summary([r.main_s for r in untraced]) if untraced else None,
        wl.followup_name: summary([r.followup_s for r in untraced]) if untraced else None,
    }
    for name, s in timings.items():
        if s:
            lines.append(f"timing {name} " + json.dumps(s))
    peak_rss_mb = rss.peak_python / 2**20
    if wl.name == "learn_templates":
        if untraced:
            lines.append("metric rerun_docs_per_s "
                         f"{wl.n_docs / timings['resume_s']['median']:.1f} docs/s")
        if "field_accuracy" in facts:
            lines.append(f"metric field_accuracy {facts['field_accuracy']:.6f} ratio")
    lines.append(f"metric peak_rss_mb {peak_rss_mb:.1f} MB (Python driver and workers; "
                 f"JVM peak {rss.peak_jvm / 2**20:.1f} MB)")
    lines.append(f"metric failed_frac {failed / max(attempted, 1):.4f} ratio "
                 f"({failed} of {attempted} iterations)")
    for f in failures:
        lines.append(f"check FAILED {f}")
    if not failures:
        lines.append("check ok: every iteration passed its correctness checks")

    if args.trace:
        from perfbench import layers

        metrics, table = layers.per_layer(
            wl, tracer, traced, event_log, cores, layer_inputs,
            cached_after,
        )
        lines += table
    else:
        metrics = {
            "setup_s": {"value": timings["setup_s"]["median"], "unit": "s"},
            "main_s": {"value": timings[wl.main_name]["median"], "unit": "s"},
            "followup_s": {"value": timings[wl.followup_name]["median"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    result = {"correct": not failures and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["learn_templates", "curation_sf01"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import adaptive_pdf_extractor_spark as engine
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    become_subreaper()
    # a SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, lines = run(args, work)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
