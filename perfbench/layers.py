"""Per-layer measurements of the traced run (--trace 1).

The traced passes are the same passes the timed run makes, with a span
(and a Spark job group) on every pass, op, build and sink. After them the
benchmark calls each layer's public function once on inputs it cached
beforehand, and times every registered op with and without its
presentation tail. Isolated layer calls are listed beside the op they
belong to; they need not sum to it, because Catalyst fuses them.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import DataFrame

from perfbench import trace as TR
from perfbench import workloads as W

LAYER_CALLS = {
    "annotate": (W.annotate_layers, W.pit_layers),
    "curate": (W.curate_layers,),
}

# every per-layer metric and its unit, in report order
TIMES = (
    "queries.build_s", "queries.exec_s", "queries.present_s",
    "sources.scan_s", "sources.write_s",
    "text.annotate_s", "parse.panon_s",
    "features.exec_s", "dictionary.exec_s", "ner.exec_s",
    "natlog.exec_s", "coref.exec_s", "srl.exec_s", "trees.exec_s",
    "chunking.exec_s", "kernel.python_s", "dedup.cc_s",
    "similarity.exec_s", "curation.decide_s", "curation.budget_s",
    "lm.fit_score_s", "images.decode_s", "asof.join_s",
    "asof.incremental_s", "windows.exec_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.driver_only_s", "spark.fetch_wait_s",
    "spark.single_task_stage_s",
)
BYTES = ("sources.scan_bytes", "sources.bytes_written",
         "kernel.bytes_to_python", "kernel.bytes_from_python",
         "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
         "spark.spill_bytes")
COUNTS = ("queries.build_jobs", "sources.files_written",
          "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.cc_edges",
          "spark.jobs", "spark.tasks", "spark.storage_blocks")


def all_op_names() -> list[str]:
    seen: list[str] = []
    for wl in W.WORKLOADS.values():
        seen += [op.name for op in wl.ops if op.name not in seen]
    return seen


def metric_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    units.update({m: "s" for m in TIMES})
    units.update({f"queries.op.{n}.s": "s" for n in all_op_names()})
    units.update({m: "B" for m in BYTES})
    units.update({m: "count" for m in COUNTS})
    units.update({"dedup.verify_yield": "ratio", "spark.core_util": "ratio",
                  "spark.storage_mb": "MB", "host.control_s": "s",
                  "trace.overhead": "ratio", "trace.coverage": "ratio"})
    return units


def strip_presentation(spark, df: DataFrame) -> DataFrame | None:
    """The same plan without the final repartition(1) +
    sortWithinPartitions tail, or None when the op has no such tail."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "Sort" or getattr(plan, "global")():
        return None
    child = plan.children().apply(0)
    if child.nodeName() != "Repartition":
        return None
    bare = child.children().apply(0)
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, bare)
    return DataFrame(jdf, spark)


def measure(ctx, wl, tracer, runner) -> dict:
    """Presentation-tail and isolated layer calls, traced."""
    out: dict = {"calls": {}, "counts": {}, "present_s": 0.0}
    tracer.enabled = True
    for i, op in enumerate(op for op in wl.ops if op.registered):
        with tracer.span("present", op=op.name):
            df = op.build(ctx, ctx.data)
            bare = strip_presentation(ctx.spark, df)
            if bare is None:
                continue
            legs = [("registered", df), ("bare", bare)]
            if i % 2:
                legs.reverse()
            took = {}
            for leg, frame in legs:
                with tracer.span(f"present:{leg}") as s:
                    W.noop(frame)
                took[leg] = s.dur
            out["present_s"] += took["registered"] - took["bare"]
    calls = {}
    for layer_calls in LAYER_CALLS[wl.name]:
        calls.update(layer_calls(ctx, out["counts"]))
    for metric, call in calls.items():
        with tracer.span("layer", op=metric) as s:
            call()
        out["calls"][metric] = (s.dur, s.id)
    tracer.enabled = False
    return out


def finish(layer: dict, work: str, tracer, runner, k: int,
           session_s: float, control: float, timed: list[float],
           traced: list[float]) -> dict:
    """Assemble every per-layer metric from spans and the event log."""
    units = metric_units()
    vals = dict.fromkeys(units, 0.0)
    events = TR.read_event_log(os.path.join(work, "eventlog"))
    jobs = TR.job_stats(events)
    tracer.dump(os.path.join(os.path.dirname(work),
                             os.path.basename(work) + "-spans.json"))

    by_id = {s.id: s for s in tracer.spans}

    def ancestor(span_id, name):
        s = by_id.get(span_id)
        while s is not None and s.name != name:
            s = by_id.get(s.parent)
        return s

    passes = [s for s in tracer.spans
              if s.name == "pass" and s.pass_id is not None
              and s.pass_id >= 1000]
    n = max(len(passes), 1)
    pass_ids = {s.id for s in passes}
    per_pass = {}
    for s in passes:
        ops = [c for c in tracer.children(s) if c.name == "op"]
        per_pass[s.id] = (s, ops)

    # span-level timings of the traced passes
    op_durs: dict[str, list[float]] = {}
    build_s = exec_s = 0.0
    coverage = []
    for s, ops in per_pass.values():
        coverage.append(sum(o.dur for o in ops) / s.dur)
        for o in ops:
            op_durs.setdefault(o.op, []).append(o.dur)
            for c in tracer.children(o):
                if c.name == "build":
                    build_s += c.dur
                elif c.name == "sink":
                    exec_s += c.dur
    for name, ds in op_durs.items():
        vals[f"queries.op.{name}.s"] = statistics.median(ds)
    vals["queries.build_s"] = build_s / n
    vals["queries.exec_s"] = exec_s / n
    vals["queries.present_s"] = layer["present_s"]

    # job attribution: traced-pass jobs, build jobs, layer-call jobs
    task_iv: dict[str, list] = {pid: [] for pid in pass_ids}
    layer_input: dict[str, int] = {}
    agg = TR.JobStats(group=None)
    n_jobs = 0
    for j in jobs.values():
        p = ancestor(j.group, "pass")
        if p is not None and p.id in pass_ids:
            n_jobs += 1
            task_iv[p.id] += j.task_iv
            for f in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write",
                      "shuffle_read", "fetch_wait_s", "spill", "py_sent",
                      "py_recv", "py_time_s", "single_task_stage_s"):
                setattr(agg, f, getattr(agg, f) + getattr(j, f))
            b = by_id.get(j.group)
            if b is not None and b.name == "build":
                vals["queries.build_jobs"] += 1 / n
        lay = ancestor(j.group, "layer")
        if lay is not None:
            layer_input[lay.id] = layer_input.get(lay.id, 0) + j.input_bytes

    wall = sum(s.dur for s, _ in per_pass.values())
    driver_only = 0.0
    for s, _ in per_pass.values():
        lo = int(s.start_wall * 1000)
        hi = int(s.end_wall * 1000)
        driver_only += (hi - lo - TR.busy_ms(task_iv[s.id], lo, hi)) / 1e3
    vals.update({
        "spark.jobs": n_jobs / n, "spark.tasks": agg.tasks / n,
        "spark.task_run_s": agg.run_s / n, "spark.task_cpu_s": agg.cpu_s / n,
        "spark.gc_s": agg.gc_s / n,
        "spark.core_util": agg.run_s / (wall * k) if wall else 0.0,
        "spark.driver_only_s": driver_only / n,
        "spark.shuffle_write_bytes": agg.shuffle_write / n,
        "spark.shuffle_read_bytes": agg.shuffle_read / n,
        "spark.fetch_wait_s": agg.fetch_wait_s / n,
        "spark.spill_bytes": agg.spill / n,
        "spark.single_task_stage_s": agg.single_task_stage_s / n,
        "kernel.python_s": agg.py_time_s / n,
        "kernel.bytes_to_python": agg.py_sent / n,
        "kernel.bytes_from_python": agg.py_recv / n,
        "spark.storage_blocks": max(b for b, _ in runner.storage),
        "spark.storage_mb": max(m for _, m in runner.storage),
    })
    for metric, (dur, sid) in layer["calls"].items():
        if metric in vals:
            vals[metric] = dur
        if metric == "sources.scan_s":
            vals["sources.scan_bytes"] = layer_input.get(sid, 0)
    for metric, v in layer["counts"].items():
        vals[metric] = v
    vals["session.start_s"] = session_s
    vals["host.control_s"] = control
    vals["trace.overhead"] = statistics.median(traced) / statistics.median(
        timed)
    vals["trace.coverage"] = min(coverage) if coverage else 0.0
    return {m: {"value": vals[m], "unit": u} for m, u in units.items()}
