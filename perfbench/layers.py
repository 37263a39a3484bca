"""Per-layer metrics of the traced run.

Every metric is reported on every workload; a layer the workload does not
exercise reads 0. Timings are medians over traced iterations; span
self-times exclude child spans; Spark figures come from the event log,
attributed to the job groups of one iteration's spans.
"""

from __future__ import annotations

import os
import statistics
import time

from . import trace

# name -> unit; the order is the order of the printed table
UNITS = {
    "pipeline.rounds": "count",
    "pipeline.spark_jobs": "count",
    "pipeline.round_s": "s",
    "pipeline.final_pass_s": "s",
    "extract.pass_s": "s",
    "extract.rule_hit_rate": "ratio",
    "extract.direct_rate": "ratio",
    "extract.unresolved_rate": "ratio",
    "extract.task_skew": "ratio",
    "extract.python_share": "ratio",
    "rules.us_per_doc": "us/doc",
    "normalize.us_per_doc": "us/doc",
    "rules.rules_per_field": "count",
    "miner.discover_s": "s",
    "miner.mine_s": "s",
    "miner.groups": "count",
    "miner.accept_ratio": "ratio",
    "miner.rules_learned": "count",
    "checkpoint.snapshot_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.load_s": "s",
    "spark_io.output_write_s": "s",
    "curation.gate_s": "s",
    "curation.write_s": "s",
    "curation.increment_s": "s",
    "curation.funnel_in": "count",
    "curation.funnel_quality_out": "count",
    "curation.funnel_exact_out": "count",
    "curation.funnel_neardup_out": "count",
    "dedup.signatures_s": "s",
    "dedup.pair_stage_s": "s",
    "dedup.clusters_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "dedup.star_candidate_rows": "count",
    "dedup.max_oversized_bucket": "count",
    "spark.task_busy_share": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_share": "ratio",
    "spark.cached_bytes_after": "bytes",
    "scaling.parallel_eff": "ratio",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}


def collect_driver_side(wl, ctx, traced) -> dict:
    """Driver-side timings of ``functions.normalize`` and
    ``functions.rules`` on a pandas sample of the workload's documents,
    grouped by template the way the extraction kernel groups them, with
    the rules the traced run learned."""
    if wl.name != "learn_templates":
        return {}
    import pandas as pd

    from adaptive_pdf_extractor_spark.functions.normalize import normalize_series
    from adaptive_pdf_extractor_spark.functions.rules import (
        RuleBook,
        apply_rules_vectorized,
    )
    from adaptive_pdf_extractor_spark.plans.pipeline import ExtractionPipeline
    from adaptive_pdf_extractor_spark.sources.corpus import assemble_text

    rules = ExtractionPipeline(ctx.spark, traced[-1].facts["run_dir"]).final_rules()
    book = RuleBook.from_rows(rules)
    rows = wl.docs(ctx).select("label", "spans", "schema_fields").limit(2000).collect()
    raw = pd.Series([assemble_text(r["spans"]) for r in rows], dtype="object")
    groups: dict[tuple, list[int]] = {}
    for pos, r in enumerate(rows):
        key = (r["label"], tuple(f["name"] for f in r["schema_fields"]))
        groups.setdefault(key, []).append(pos)

    def best_of(fn, reps=3) -> float:
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    norm_s = best_of(lambda: normalize_series(raw))
    texts = normalize_series(raw)

    def apply_all():
        for (label, fields), pos in groups.items():
            gtexts = texts.iloc[pos]
            for f in fields:
                apply_rules_vectorized(gtexts, book.rules_for(label, f))

    rules_s = best_of(apply_all)
    pairs = {(r["label"], r["field"]) for r in rules}
    return {
        "normalize.us_per_doc": norm_s / len(rows) * 1e6,
        "rules.us_per_doc": rules_s / len(rows) * 1e6,
        "rules.rules_per_field": len(rules) / max(len(pairs), 1),
    }


def _med(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _iteration_metrics(wl, tracer, r, tasks_by_group, jobs_by_group, cores,
                       driver) -> tuple[dict, list[str]]:
    """Layer metrics of one traced iteration (roots: main, followup)."""
    spans = tracer.spans
    main, follow = r.roots[0], r.roots[1]
    sub_main = [spans[j] for j in tracer.subtree(main.idx)]
    sub_follow = [spans[j] for j in tracer.subtree(follow.idx)]
    named = lambda sub, n: [s for s in sub if s.name == n]  # noqa: E731
    total = lambda sub, n: sum(s.duration for s in named(sub, n))  # noqa: E731
    m = {k: 0.0 for k in UNITS}

    if wl.name == "learn_templates":
        passes = named(sub_main, "extract.pass")
        commits = named(sub_main, "checkpoint.commit")
        probes = named(sub_main, "trace.probe")

        def round_s(p, c):
            return c.end - p.start - sum(
                q.duration for q in probes if p.start <= q.start < c.end
            )

        m["pipeline.rounds"] = len(commits)
        m["pipeline.round_s"] = _med(round_s(p, c) for p, c in zip(passes, commits))
        writes = [s for s in named(sub_follow, "spark_io.write")
                  if s.attrs.get("path", "").endswith("/output")]
        finish = named(sub_follow, "checkpoint.finish")
        if writes and finish:
            m["pipeline.final_pass_s"] = finish[-1].end - writes[-1].start
            out_write = writes[-1]
            m["spark_io.output_write_s"] = out_write.duration
            m["extract.task_skew"] = trace.task_skew(tasks_by_group.get(out_write.group, []))
            summary = finish[-1].attrs.get("summary", {})
            fields = max(wl.fields, 1)
            hits = summary.get("rule_hits", 0) / fields
            unres = summary.get("unresolved_fields", 0) / fields
            m["extract.rule_hit_rate"] = hits
            m["extract.unresolved_rate"] = unres
            m["extract.direct_rate"] = 1.0 - hits - unres
            py_s = (driver.get("normalize.us_per_doc", 0) + driver.get("rules.us_per_doc", 0)) \
                * 1e-6 * wl.n_docs
            m["extract.python_share"] = py_s / (out_write.duration * cores)
        m["extract.pass_s"] = _med(p.duration for p in passes)
        m["miner.discover_s"] = total(sub_main, "miner.discover")
        mines = named(sub_main, "miner.mine")
        m["miner.mine_s"] = sum(tracer.self_time(s.idx) for s in mines)  # minus probes
        m["miner.groups"] = sum(s.attrs.get("groups", 0) for s in mines)
        mined = sum(s.attrs.get("mined", 0) for s in mines)
        accepted = sum(c.attrs.get("n_new_rules") or 0 for c in commits)
        m["miner.accept_ratio"] = accepted / mined if mined else 0.0
        m["miner.rules_learned"] = commits[-1].attrs.get("n_rules", 0) if commits else 0
        m["checkpoint.snapshot_s"] = total(sub_main, "checkpoint.snapshot")
        m["checkpoint.commit_s"] = total(sub_main, "checkpoint.commit") + total(
            sub_main, "checkpoint.finish")
        run_dir = r.facts["run_dir"]
        m["checkpoint.bytes_written"] = _dir_bytes(os.path.join(run_dir, "rules")) + \
            os.path.getsize(os.path.join(run_dir, "manifest.json"))
        m["checkpoint.load_s"] = total(sub_follow, "checkpoint.load")
        m.update(driver)
    else:
        for name in ("curation.gate", "curation.write", "dedup.signatures",
                     "dedup.pair_stage", "dedup.clusters"):
            m[f"{name}_s"] = total(sub_main, name)
        m["curation.increment_s"] = follow.duration
        f = r.facts
        for k, v in f["funnel"].items():
            m[f"curation.funnel_{k}"] = v
        m["dedup.candidate_pairs"] = f["candidate_pairs"]
        m["dedup.verified_pairs"] = f["verified_pairs"]
        m["dedup.verify_ratio"] = f["verified_pairs"] / max(f["candidate_pairs"], 1)
        m["dedup.star_candidate_rows"] = f["guard"]["star_candidate_rows"]
        m["dedup.max_oversized_bucket"] = f["guard"]["max_oversized_bucket"] or 0

    # the benchmark's own probe jobs are tracing overhead, not engine work
    measured = [s for s in sub_main + sub_follow if s.name != "trace.probe"]
    groups = {s.group for s in measured}
    m["pipeline.spark_jobs"] = sum(
        jobs_by_group.get(s.group, 0) for s in sub_main if s.name != "trace.probe"
    )
    tasks = [t for g in groups for t in tasks_by_group.get(g, [])]
    run_ms = sum(t.run_ms for t in tasks)
    wall = main.duration + follow.duration
    m["spark.task_busy_share"] = run_ms / 1000 / (wall * cores)
    m["spark.shuffle_bytes"] = sum(t.shuffle_bytes for t in tasks)
    m["spark.spill_bytes"] = sum(t.spill_bytes for t in tasks)
    m["spark.gc_share"] = sum(t.gc_ms for t in tasks) / run_ms if run_ms else 0.0
    root_self = tracer.self_time(main.idx) + tracer.self_time(follow.idx)
    m["trace.unattributed_share"] = root_self / wall

    table = [f"stage table ({wl.name}, traced iteration; self seconds, "
             "executor seconds, shuffle bytes, jobs)"]
    for root, label in ((main, wl.main_name), (follow, wl.followup_name)):
        table.append(f"  {label}: wall {root.duration:.3f} s")
        by_name: dict[str, list] = {}
        for j in tracer.subtree(root.idx):
            s = spans[j]
            row = by_name.setdefault(s.name, [0, 0.0, 0.0, 0, 0])
            row[0] += 1
            row[1] += tracer.self_time(j)
            g_tasks = tasks_by_group.get(s.group, [])
            row[2] += sum(t.run_ms for t in g_tasks) / 1000
            row[3] += sum(t.shuffle_bytes for t in g_tasks)
            row[4] += jobs_by_group.get(s.group, 0)
        for name, (n, self_s, exec_s, shuf, jobs) in by_name.items():
            table.append(f"    {name:<24} {trace.LAYER_OF[name]:<18} x{n:<3} self {self_s:8.3f} "
                         f"exec {exec_s:8.3f} shuffle {shuf:>11} jobs {jobs}")
    attributed = 1.0 - m["trace.unattributed_share"]
    table.append(f"  attributed share {attributed:.3f} "
                 + ("(ok: within 10% of wall)" if attributed >= 0.9
                    else "(GAP: more than 10% of wall unattributed)"))
    return m, table


def per_layer(wl, tracer, traced, event_log, cores, driver,
              cached_after) -> tuple[dict, list[str]]:
    events = trace.read_event_log(event_log)
    tasks_by_group: dict = {}
    for t in trace.task_records(events):
        tasks_by_group.setdefault(t.group, []).append(t)
    jobs_by_group: dict = {}
    for g in trace.job_groups(events):
        jobs_by_group[g] = jobs_by_group.get(g, 0) + 1
    per_iter, table = [], []
    for r in traced:
        m, t = _iteration_metrics(wl, tracer, r, tasks_by_group, jobs_by_group,
                                  cores, driver or {})
        per_iter.append(m)
        table = t
    metrics = {k: _med(m[k] for m in per_iter) for k in UNITS}
    metrics["spark.cached_bytes_after"] = _med(cached_after)
    # the benchmark's own probe jobs (the miner's group count, the
    # curation's candidate pairs); a span costs microseconds of driver time
    metrics["trace.overhead_s"] = sum(
        s.duration for s in tracer.spans if s.name == "trace.probe"
    ) / max(len(traced), 1)
    lines = table + [
        f"layer {k} {metrics[k]:.6g} {UNITS[k]}" for k in UNITS
    ]
    return {k: {"value": metrics[k], "unit": UNITS[k]} for k in UNITS}, lines
