"""``batch_mix``: registry operators, then lake commits beside reads.

A fixed query set runs over star-schema tables generated from the seed:
TPC-H q1 (whole-stage codegen, a shuffle), two small PU-loop queries on
the 2000-row embeddings table (fused convergence counts and the
Gradual-Reduction driver loop: job-overhead-bound) and a streaming
query.  The order is fixed, not drawn from the seed: a query's time
depends on the one before it (one run after the streaming query took up
to twice as long), which spread the pass time across seeds.  Each query
op is build (construction, including any eager driver-loop jobs) then
execute (noop write).  The warm-up call of each query collects its
result, which the check compares with the query's ``oracle_sql`` under
DuckDB.

After the queries, each pass runs the lake cycle of
:class:`lake_txn.LakeTxn` on one ``sources.lake`` table: driver-side
commit protocol, Python data-source workers and the filesystem.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import core
import gen
import sparkenv
from lake_txn import LakeTxn

#: scale of the generated fact tables (lineitem 60k rows); documents
#: and embeddings keep their sf0.1 sizes (5000 and 2000 rows)
SF = 0.01

QUERIES_BY_MODULE = {
    "operators.pu_queries": ("pu_iteration_stats", "pu_gradual_trace"),
    "operators.relational": ("q1_pricing_summary",),
    "streaming.ingest": ("streaming_lang_router",),
}
MODULE_OF = {q: m for m, qs in QUERIES_BY_MODULE.items() for q in qs}


class BatchMix(core.Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.order = list(MODULE_OF)
        self.outputs: dict[str, tuple] = {}
        self.lake = LakeTxn(ctx)

    def prepare(self, round_dir: str) -> None:
        self.sf_dir = os.path.join(round_dir, "sf")
        gen.write_tables(self.sf_dir, self.ctx.seed, SF)
        self.lake.prepare(round_dir)

    def _build(self, name: str):
        from pu4spark_spark.queries import QUERIES

        return QUERIES[name](self.ctx.spark, self.sf_dir)

    def warmup_streams(self) -> list[list[core.Op]]:
        """Each query once, its result collected for :meth:`check`; beside
        them, the lake's warm-up."""
        from tools.check_oracle import spark_canon_type

        def collect(name):
            df = self._build(name)
            cols = sorted(df.columns)
            types = {f.name: spark_canon_type(f.dataType.simpleString()) for f in df.schema.fields}
            rows = [[r[c] for c in cols] for r in df.collect()]
            self.outputs[name] = (cols, types, rows)
            self._tidy(name)

        queries = [core.Op(n, MODULE_OF[n], lambda n=n: collect(n)) for n in self.order]
        return [queries, self.lake.warmup_ops()]

    def _tidy(self, name: str) -> None:
        """bench.py's between-query hygiene: drop cached frames and temp
        views, and unload the state stores a streaming query left."""
        spark = self.ctx.spark
        sparkenv.reset_session_state(spark)
        if MODULE_OF[name].startswith("streaming."):
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    def ops(self) -> list[core.Op]:
        tracer = self.ctx.tracer

        def op(name):
            def run():
                with tracer.span("query.build"):
                    df = self._build(name)
                with tracer.span("query.execute"):
                    df.write.format("noop").mode("overwrite").save()

            return core.Op(name, MODULE_OF[name], run)

        return [op(n) for n in self.order] + self.lake.ops()

    def after_op(self, sample: core.Sample) -> None:
        if sample.name in MODULE_OF:
            self._tidy(sample.name)
        else:
            self.lake.after_op(sample)

    def after_pass(self) -> None:
        self.lake.after_pass()

    def instrument(self, tracer: core.Tracer) -> None:
        self.lake.instrument(tracer)

    def metrics(self, samples: list[core.Sample]) -> dict[str, float]:
        return self.lake.metrics([s for s in samples if s.name not in MODULE_OF])

    def check(self) -> list[str]:
        return self._check_queries() + self.lake.check()

    def _check_queries(self) -> list[str]:
        import duckdb

        from pu4spark_spark.queries import ORACLE_SQL
        from tools.check_oracle import duck_canon_type, rowset

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            path = os.path.join(self.sf_dir, f)
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, (cols, types, rows) in self.outputs.items():
            if name not in ORACLE_SQL:
                if not rows:
                    bad.append(f"{name}: no rows")
                continue
            rel = con.sql(ORACLE_SQL[name])
            order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
            dcols = [rel.columns[i] for i in order]
            dtypes = {c: duck_canon_type(str(t)) for c, t in zip(rel.columns, rel.types)}
            drows = [[r[i] for i in order] for r in rel.fetchall()]
            if cols != dcols:
                bad.append(f"{name}: columns {cols} != oracle {dcols}")
            elif any(types[c] != dtypes[c] for c in cols):
                bad.append(f"{name}: types {types} != oracle {dtypes}")
            elif len(rows) != len(drows):
                bad.append(f"{name}: {len(rows)} rows != oracle {len(drows)}")
            elif rowset(rows) != rowset(drows):
                bad.append(f"{name}: values differ from the oracle")
        con.close()
        return bad

    def layer_metrics(self, tracer: core.Tracer, samples, jobs) -> dict:
        """Per module: summed over its queries, the median build and
        execute seconds and the median job count of one call; then the
        lake's."""
        build: dict[str, list] = defaultdict(list)
        execute: dict[str, list] = defaultdict(list)
        for name, s, e, _parent, op in tracer.spans:
            if name == "query.build":
                build[samples[op].name].append(e - s)
            elif name == "query.execute":
                execute[samples[op].name].append(e - s)
        n_jobs: dict[str, list] = defaultdict(list)
        per_op = [0] * len(samples)
        for j in jobs:
            per_op[j["op"]] += 1
        for i, s in enumerate(samples):
            n_jobs[s.name].append(per_op[i])
        out = {}
        for module, names in QUERIES_BY_MODULE.items():
            out[f"{module}.build_s"] = sum(statistics.median(build[q]) for q in names if build[q])
            out[f"{module}.execute_s"] = sum(
                statistics.median(execute[q]) for q in names if execute[q]
            )
            out[f"{module}.jobs"] = sum(statistics.median(n_jobs[q]) for q in names if n_jobs[q])
        out.update(self.lake.layer_metrics(tracer, samples, jobs))
        return out
