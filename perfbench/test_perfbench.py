"""Fast self-checks of the benchmark's own pieces (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import core  # noqa: E402
import gen  # noqa: E402
from sparkenv import nonjob_seconds  # noqa: E402


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / k) for k in "abc")
    gen.write_tables(a, 7, 0.001)
    gen.write_tables(b, 7, 0.001)
    gen.write_tables(c, 8, 0.001)
    assert _files(a) == _files(b)
    assert _files(a)["lineitem.parquet"] != _files(c)["lineitem.parquet"]
    one = gen.pu_table(7, 500, 4, 0.3, 0.7)
    assert all((a == b).all() for a, b in zip(one, gen.pu_table(7, 500, 4, 0.3, 0.7)))
    assert (one[0] != gen.pu_table(8, 500, 4, 0.3, 0.7)[0]).any()
    assert gen.lake_docs(7, 0, 50, 3) == gen.lake_docs(7, 0, 50, 3)
    assert gen.lake_docs(7, 0, 50, 3) != gen.lake_docs(7, 0, 50, 4)


def test_benchmark_json_names_every_metric():
    import json

    import layers
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.per_layer_units()


def test_tail_percentile_and_n():
    assert core.tail(range(1, 101)) == (90, 90.0, 100, 10)
    assert core.tail(range(1, 21)) == (18, 90.0, 20, 2)
    # nearest rank: with 6 samples p90 is the largest
    assert core.tail([5, 1, 4, 2, 6, 3]) == (6, 90.0, 6, 0)
    # ties at the p90 value are not beyond it
    assert core.tail([1.0] * 85 + [2.0] * 15) == (2.0, 90.0, 100, 0)
    assert core.tail(range(1, 21), p=50) == (10, 50.0, 20, 10)
    assert core.percentile([3, 1, 2], 50) == 2


def test_pass_and_p50_per_op_type():
    def sample(name, pass_no, seconds):
        return core.Sample(name, "read", pass_no, 0.0, seconds)

    samples = [
        sample("a", 0, 1.0),
        sample("b", 0, 9.0),  # one slow call
        sample("a", 1, 1.2),
        sample("b", 1, 2.0),
        sample("a", 2, 1.1),
        sample("b", 2, 2.2),
    ]
    assert core.op_medians(samples) == {"a": 1.1, "b": 2.2}
    assert math.isclose(core.pass_seconds(samples), 3.3)
    summary = core.latency_summary(samples, "op_s")
    assert math.isclose(summary["op_s_p50"], (1.1 + 2.2) / 2)
    assert (summary["op_s_tail"], summary["op_s_tail_n"]) == (9.0, 6)


def test_raised_op_counts_as_failed():
    calls = []

    def ok():
        calls.append("ok")

    def boom():
        calls.append("boom")
        raise RuntimeError("broken op")

    ops = [core.Op("ok", "read", ok), core.Op("boom", "commit", boom), core.Op("ok", "read", ok)]
    samples = core.run_loop(ops, seconds=0.0)
    assert calls == ["ok", "boom", "ok"]  # one pass; the loop went on after the failure
    attempted, failed = core.failure_counts(samples)
    assert (attempted, failed) == (3, 1)
    bad = [s for s in samples if s.error]
    assert bad[0].name == "boom" and "broken op" in bad[0].error
    assert math.isinf(bad[0].latency)
    assert math.isinf(core.pass_seconds(samples))


def test_loop_runs_whole_passes_for_seconds():
    ops = [core.Op("nap", "read", lambda: time.sleep(0.01))] * 3
    t0 = time.perf_counter()
    samples = core.run_loop(ops, seconds=0.2)
    assert time.perf_counter() - t0 <= 0.2
    passes = {s.pass_no for s in samples}
    assert len(samples) == 3 * len(passes) and len(passes) >= 2
    # a pass longer than the window still runs once
    assert len(core.run_loop(ops, seconds=0.0)) == 3


def test_nonjob_seconds_subtracts_union_of_jobs():
    assert nonjob_seconds(0.0, 10.0, []) == 10.0
    # overlapping jobs count once; the part outside the op is clipped
    assert nonjob_seconds(0.0, 10.0, [(1, 3), (2, 4), (9, 12)]) == 10.0 - 3 - 1


def test_self_time_subtracts_children():
    tr = core.Tracer(enabled=True)
    with tr.span("op"):
        time.sleep(0.02)
        with tr.span("pu.fit"):
            time.sleep(0.03)
    st = tr.self_times()
    assert 0.015 < st["op"] < 0.045 and 0.025 < st["pu.fit"] < 0.06
    off = core.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []
