"""Per-layer metrics of a traced run.

Every workload prints every metric named here (``BENCHMARK.json``
``per_layer``); a layer the workload does not touch reads 0.  Spans are
recorded by wrapping the layers' public functions from the benchmark
for the traced window only; nothing under ``pu4spark_spark/`` changes.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from batch_mix import QUERIES_BY_MODULE
from core import Sample, Tracer
from sparkenv import JOB_FIELDS, nonjob_seconds

#: the registry modules ``batch_mix`` draws its queries from
MODULES = tuple(QUERIES_BY_MODULE)

LAKE_OPS = (
    "write",
    "delete",
    "merge",
    "compact",
    "checkpoint",
    "scan",
    "time_travel",
    "cdf",
    "history",
)

#: layers whose self time is reported, by span-name prefix
SELF_LAYERS = ("op", "pu", "query", "lake")


def per_layer_units() -> dict[str, str]:
    units = {"spark.jobs": "count"}
    for f in JOB_FIELDS:
        units[f"spark.{f}"] = (
            "count" if f in ("stages", "tasks") else "ms" if f.endswith("_ms") else "bytes"
        )
    units["driver.nonjob_s"] = "s"
    for k in ("zero_step", "fit", "score", "iteration_stats"):
        units[f"pu.{k}_s"] = "s"
    units["pu.iterations"] = "count"
    units["pu.jobs_per_weight"] = "count"
    for m in MODULES:
        units[f"{m}.build_s"] = "s"
        units[f"{m}.execute_s"] = "s"
        units[f"{m}.jobs"] = "count"
    for k in LAKE_OPS:
        units[f"lake.{k}_s"] = "s"
    units.update(
        {
            "lake.files_written": "count",
            "lake.bytes_written": "bytes",
            "lake.fsyncs": "count",
            "lake.renames": "count",
            "lake.scan_tasks_per_live_shard": "ratio",
            "host.calib_probe_s": "s",
            "host.calib_probe_end_s": "s",
            "setup.session_s": "s",
            "setup.inputs_s": "s",
            "setup.warmup_s": "s",
            "trace.pass_s_untraced": "s",
            "trace.pass_s_traced": "s",
            "trace.overhead_pct": "%",
        }
    )
    for layer in SELF_LAYERS:
        units[f"trace.self_{layer}_s"] = "s"
    return units


def instrument_pu(tracer: Tracer) -> None:
    """Spans around the two-step learners' steps and the fused
    convergence count, wherever a learner runs (``pu_learn``'s own calls
    and the registry's ``pu_*`` queries alike)."""
    from pu4spark_spark import gradual, traditional, two_step

    for cls in (traditional.TraditionalPULearner, gradual.GradualReductionPULearner):
        tracer.patch(cls, "weight", "pu.weight")
    step = two_step.TwoStepPULearner
    tracer.patch(step, "zero_step", "pu.zero_step")
    tracer.patch(step, "fit_on_current", "pu.fit")
    tracer.patch(step, "score_all", "pu.score")
    for mod in (traditional, gradual):
        tracer.patch(mod, "iteration_stats", "pu.iteration_stats")


def jobs_in(jobs: list[dict], intervals) -> list[dict]:
    """Jobs submitted inside any of the ``(start, end)`` intervals."""
    return [
        j for j in jobs if j["start"] is not None and any(a <= j["start"] <= b for a, b in intervals)
    ]


def span_intervals(tracer: Tracer, name: str) -> list[tuple[float, float]]:
    return [(s, e) for n, s, e, _, _ in tracer.spans if n == name and e is not None]


def layer_metrics(wl, tracer: Tracer, samples: list[Sample], jobs: list[dict]) -> dict:
    """Every per-layer metric of the traced window: Spark counters per
    op, PU steps per ``weight()`` call, self time per layer per op, then
    the workload's own (operator modules, lake)."""
    out = dict.fromkeys(per_layer_units(), 0.0)
    n_ops = len(samples)
    out["spark.jobs"] = len(jobs) / n_ops
    for f in JOB_FIELDS:
        out[f"spark.{f}"] = sum(j[f] for j in jobs) / n_ops
    by_op: dict[int, list] = defaultdict(list)
    for j in jobs:
        if j["start"] is not None and j["end"] is not None:
            by_op[j["op"]].append((j["start"], j["end"]))
    out["driver.nonjob_s"] = statistics.mean(
        nonjob_seconds(s.start, s.start + s.seconds, by_op[i]) for i, s in enumerate(samples)
    )

    weights = span_intervals(tracer, "pu.weight")
    if weights:
        n = len(weights)
        for k, span in (
            ("zero_step", "pu.zero_step"),
            ("fit", "pu.fit"),
            ("score", "pu.score"),
            ("iteration_stats", "pu.iteration_stats"),
        ):
            out[f"pu.{k}_s"] = sum(tracer.durations(span)) / n
        out["pu.iterations"] = tracer.count("pu.fit") / n
        out["pu.jobs_per_weight"] = len(jobs_in(jobs, weights)) / n

    self_s = tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"trace.self_{layer}_s"] = (
            sum(v for k, v in self_s.items() if k == layer or k.startswith(layer + ".")) / n_ops
        )
    out.update(wl.layer_metrics(tracer, samples, jobs))
    return out
