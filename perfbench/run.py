"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pu_learn --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of this repository.  One run:

1. sets the launch environment (temp files under ``.perfbench_tmp/``,
   the repository on the Python workers' path, driver memory below RAM);
2. set-up, timed as ``setup_s``: session start, plus the median of
   ``SETUP_ROUNDS`` input rounds (inputs generated from the seed into a
   fresh directory each time), plus one warm-up call of every op type;
3. the frozen calibration probe, the measured closed loop, the probe
   again;
4. the workload's output checks.

``--trace 1`` measures the loop untraced, traced, and untraced again (each
window half of ``--seconds``), and prints the per-layer metrics and the
tracing overhead.  Samples (and spans) are
written to ``.perfbench_out/``.  The last stdout line is one JSON
object; the exit code is 0 only if every check passed and no op failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import sparkenv  # noqa: E402

SETUP_ROUNDS = 3
WORKLOADS = ("pu_learn", "batch_mix")

#: end-to-end metrics every workload reports (BENCHMARK.json)
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}
#: workload-specific end-to-end metrics, printed as lines only: the JSON's
#: metric list is shared by every workload and may hold no metric that is
#: 0 on one of them
E2E_EXTRA_UNITS = {
    "pu_rows_per_s": "rows/s",
    "pu_f1": "ratio",
    "commit_s_p50": "s",
    "commit_s_tail": "s",
    "read_s_p50": "s",
    "read_s_tail": "s",
    "bytes_per_live_byte": "ratio",
}


def workload_class(name: str):
    if name == "pu_learn":
        from pu_learn import PuLearn

        return PuLearn
    from batch_mix import BatchMix

    return BatchMix


class Ctx:
    """What a workload gets: the session, its seed, a scratch dir, the
    tracer, and (traced window only) the status-store job ledger."""

    def __init__(self, spark, seed: int, tmp: str):
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.tracer = core.Tracer(enabled=False)
        self.ledger: sparkenv.JobLedger | None = None


def measure(wl, ctx: Ctx, seconds: float) -> tuple[list[core.Sample], list[dict]]:
    """The closed loop.  When tracing, each op runs inside an ``op`` span
    and its Spark jobs are read from the status store after it (outside
    its timing), tagged with the op's index."""
    jobs: list[dict] = []
    tracer = ctx.tracer
    tracer.op_id = 0
    ops = wl.ops()

    def on_op(op, sample):
        if ctx.ledger is not None:
            for j in ctx.ledger.take():
                j["op"] = tracer.op_id
                jobs.append(j)
        tracer.op_id += 1
        wl.after_op(sample)
        if op is ops[-1]:
            wl.after_pass()

    def in_span(fn):
        def run():
            with tracer.span("op"):
                fn()

        return run

    if tracer.enabled:
        ops = [core.Op(o.name, o.kind, in_span(o.fn)) for o in ops]
    if ctx.ledger is not None:
        ctx.ledger.take()  # jobs from before the loop belong to no op
    return core.run_loop(ops, seconds, on_op), jobs


def set_up(wl, tmp: str, session_s: float) -> tuple[dict, dict]:
    """Input rounds and warm-up; returns the set-up metrics and their
    raw timings."""
    rounds = []
    for r in range(SETUP_ROUNDS):
        round_dir = os.path.join(tmp, f"round{r}")
        os.makedirs(round_dir)
        t0 = time.perf_counter()
        wl.prepare(round_dir)
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warmup = run_side_by_side(wl.warmup_streams())
    warmup_s = time.perf_counter() - t0
    inputs_s = statistics.median(rounds)
    metrics = {
        "setup_s": session_s + inputs_s + warmup_s,
        "setup.session_s": session_s,
        "setup.inputs_s": inputs_s,
        "setup.warmup_s": warmup_s,
    }
    return metrics, {"setup_rounds": rounds, "warmup": warmup}


def run_side_by_side(streams: list[list[core.Op]]) -> list[dict]:
    """Run each op sequence in its own thread; returns each op's
    seconds.  The first op to raise is raised again here."""
    done: list[dict] = []
    errors: list[BaseException] = []

    def run(ops):
        try:
            for op in ops:
                t0 = time.perf_counter()
                op.fn()
                done.append({"name": op.name, "seconds": time.perf_counter() - t0})
        except BaseException as exc:  # re-raised in the calling thread
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(ops,)) for ops in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return done


def run_workload(args, ctx: Ctx, session_s: float, lineitem: str) -> dict:
    wl = workload_class(args.workload)(ctx)
    setup, setup_raw = set_up(wl, ctx.tmp, session_s)

    calib_start = sparkenv.calib_probe(ctx.spark, lineitem)
    # a traced run measures three windows of half the time each
    window = args.seconds / 2 if args.trace else args.seconds
    samples, _ = measure(wl, ctx, window)
    traced, jobs, after = [], [], []
    if args.trace:
        # untraced, traced, untraced: the overhead is read against both
        # neighbours, since a later window also runs warmer
        ctx.tracer.enabled = True
        ctx.ledger = sparkenv.JobLedger(ctx.spark)
        wl.instrument(ctx.tracer)
        layers.instrument_pu(ctx.tracer)
        try:
            traced, jobs = measure(wl, ctx, window)
        finally:
            ctx.tracer.unpatch_all()
            ctx.tracer.enabled = False
            ctx.ledger = None
        after, _ = measure(wl, ctx, window)
    calib_end = sparkenv.calib_probe(ctx.spark, lineitem)

    problems = wl.check()
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    attempted, failed = core.failure_counts(samples + traced + after)

    e2e = dict(setup)
    e2e["pass_s"] = core.pass_seconds(samples)
    e2e.update(core.latency_summary(samples, "op_s"))
    e2e["ok_op_ratio"] = 1.0 - failed / attempted
    e2e.update(wl.metrics(samples))
    per_layer = None
    if args.trace:
        per_layer = layers.layer_metrics(wl, ctx.tracer, traced, jobs)
        per_layer.update({k: v for k, v in setup.items() if k != "setup_s"})
        per_layer["host.calib_probe_s"] = calib_start
        per_layer["host.calib_probe_end_s"] = calib_end
        untraced_pass = statistics.mean([core.pass_seconds(samples), core.pass_seconds(after)])
        traced_pass = core.pass_seconds(traced)
        per_layer["trace.pass_s_untraced"] = untraced_pass
        per_layer["trace.pass_s_traced"] = traced_pass
        per_layer["trace.overhead_pct"] = 100.0 * (traced_pass / untraced_pass - 1.0)
        write_out(args, "spans", {"fields": core.SPAN_FIELDS, "spans": ctx.tracer.spans})
    write_out(
        args,
        "samples",
        {
            **setup_raw,
            "untraced": [vars(s) for s in samples],
            "traced": [vars(s) for s in traced],
            "untraced_after": [vars(s) for s in after],
            "traced_jobs": jobs,
        },
    )
    return {
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "per_layer": per_layer,
        "calib": (calib_start, calib_end),
    }


def run(args, tmp: str) -> dict:
    probe_dir = os.path.join(tmp, "calib")
    gen.write_tables(probe_dir, seed=0, sf=0.01, names=("lineitem",))
    t0 = time.perf_counter()
    spark = sparkenv.start_session()
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, args.seed, tmp)
        return run_workload(args, ctx, session_s, os.path.join(probe_dir, "lineitem.parquet"))
    finally:
        sparkenv.stop_session(spark)


def write_out(args, kind: str, payload: dict) -> None:
    """Record ``payload`` under ``.perfbench_out/`` (ignored by git)."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{kind}-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(payload, fh)
    print(f"{kind}: {path}")


def report(args, res: dict) -> dict:
    """Print every metric as a line; return the result object."""
    e2e = res["e2e"]
    units = {**E2E_UNITS, **E2E_EXTRA_UNITS, **layers.per_layer_units()}
    for k, v in e2e.items():
        if k.endswith(("_tail_pct", "_tail_n", "_tail_beyond")):
            continue
        line = f"{k}: {v:.6g} {units[k]}"
        if k.endswith("_tail"):
            line += f" (p{e2e[k + '_pct']:g}, n={e2e[k + '_n']}, {e2e[k + '_beyond']} beyond)"
        print(line)
    print(f"host.calib_probe_s: start {res['calib'][0]:.4f} s, end {res['calib'][1]:.4f} s")
    if args.trace:
        values = res["per_layer"]
        names = layers.per_layer_units()
    else:
        values = e2e
        names = E2E_UNITS
    metrics = {}
    for k, unit in names.items():
        v = float(values[k])
        if args.trace:
            print(f"{k}: {v:.6g} {unit}")
        metrics[k] = {"value": v if math.isfinite(v) else sys.float_info.max, "unit": unit}
    return {
        "correct": not res["problems"] and not res["failed"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pu4spark_spark")):
        print(f"no pu4spark_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    env = sparkenv.launch_env(ROOT, tmp)
    sys.path.insert(0, ROOT)
    print(
        f"workload {args.workload} seed {args.seed}: local[{env['SPARK_GRAFT_CPUS']}], "
        f"driver memory {env['SPARK_GRAFT_DRIVER_MEM']}"
    )
    try:
        with core.RssSampler() as rss:
            res = run(args, tmp)
        res["e2e"]["peak_rss_mb"] = rss.peak / (1 << 20)
        out = report(args, res)
    finally:
        killed = core.reap_children(timeout=30)
        if killed:
            print(f"killed leftover processes: {killed}", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
