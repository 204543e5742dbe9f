"""The lake part of ``batch_mix``: commits beside reads on one
``sources.lake`` table of documents keyed on ``doc_id``.

One pass = three DML commits, each followed by one read (append → CDF
of the append, DELETE → latest scan, MERGE → time-travel read), then
compaction → DESCRIBE HISTORY and a checkpoint, so compaction and
checkpoint come every 3 data commits.  UPDATE is left out: at 5-10 s a
call on a 4-core host it would double the run and break the benchmark's
time budget.  The order is fixed (a read's cost depends on the commit
before it); the seed draws the rows and the keys each commit touches.
An in-memory model of the table follows every commit; the checks
compare the lake with it.
"""

from __future__ import annotations

import json
import os
import statistics
import zlib

import numpy as np

import core
import gen

N_START = 4_000  # rows of the table's first commit
N_APPEND = 400
N_DELETE = 100
N_MERGE_UPDATE = 100
N_MERGE_INSERT = 100
TRAVEL_BACK = 3  # the time-travel read looks this many versions back
DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def digest(rows) -> tuple[int, int, int]:
    """``(rows, key hash, value hash)`` of ``(doc_id, text, lang, source,
    n_chars)`` tuples: order-free sums of CRC-32s, the same sums
    :meth:`LakeTxn._read_check` has Spark compute over a snapshot."""
    keys = sum(zlib.crc32(str(r[0]).encode()) for r in rows)
    values = sum(zlib.crc32("|".join(map(str, r)).encode()) for r in rows)
    return len(rows), keys, values


def live_bytes(model: dict) -> int:
    """Bytes of the live rows written as compact JSON lines."""
    keys = ("doc_id", "text", "lang", "source", "n_chars")
    return sum(
        len(json.dumps(dict(zip(keys, r)), separators=(",", ":"))) + 1 for r in model.values()
    )


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class LakeTxn(core.Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = np.random.default_rng([ctx.seed, 202])
        self.problems: list[str] = []  # model mismatches the reads found
        self.live_shards: list[int] = []
        self.written: list[tuple[int, int]] = []
        self.bytes_ratio = None

    # -- the table and its model ------------------------------------------

    def _frame(self, rows):
        return self.ctx.spark.createDataFrame(rows, DOCS_DDL)

    def _commit(self, version: int, change: dict[str, int]) -> None:
        """Record a commit: its version, the model as of it, and the
        change feed it should produce (rows per change type)."""
        self.version = version
        self.last_change = change
        self.snapshots[version] = dict(self.model)
        for v in [v for v in self.snapshots if v < version - TRAVEL_BACK]:
            del self.snapshots[v]

    def prepare(self, round_dir: str) -> None:
        self.path = os.path.join(round_dir, "docs")
        self.rows = gen.lake_docs(self.ctx.seed, 0, N_START, version=0)

    def create(self) -> None:
        """The table's first commit: the set-up's warm-up call of the
        write path."""
        from pu4spark_spark.sources.lake.source import register_pyds

        register_pyds(self.ctx.spark)
        self.model = {r[0]: r for r in self.rows}
        self.next_id = N_START
        self.snapshots: dict[int, dict] = {}
        (
            self._frame(self.rows)
            .repartition(4)
            .write.format("jsonl_docs")
            .option("path", self.path)
            .mode("overwrite")
            .save()
        )
        self._commit(1, {"insert": N_START})

    # -- ops ----------------------------------------------------------------

    def append(self) -> None:
        rows = gen.lake_docs(self.ctx.seed, self.next_id, N_APPEND, version=self.version)
        with self.ctx.tracer.span("lake.write"):
            (
                self._frame(rows)
                .repartition(2)
                .write.format("jsonl_docs")
                .option("path", self.path)
                .option("base_version", self.version)
                .mode("append")
                .save()
            )
        self.next_id += N_APPEND
        self.model.update((r[0], r) for r in rows)
        self._commit(self.version + 1, {"insert": N_APPEND})

    def _pick(self, n: int) -> list[int]:
        ids = np.fromiter(self.model, dtype=np.int64)
        return sorted(int(i) for i in self.rng.choice(ids, n, replace=False))

    def delete(self) -> None:
        from pu4spark_spark.sources.lake import dml

        ids = self._pick(N_DELETE)
        keys = self.ctx.spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        with self.ctx.tracer.span("lake.delete"):
            v = dml.delete_from_jsonl_dir(self.path, keys, base_version=self.version)
        for i in ids:
            del self.model[i]
        self._commit(v, {"delete": N_DELETE})

    def merge(self) -> None:
        from pu4spark_spark.sources.lake import dml

        ids = self._pick(N_MERGE_UPDATE)
        fresh = gen.lake_docs(self.ctx.seed, 0, len(ids), version=1000 + self.version)
        updates = [(i, *r[1:]) for i, r in zip(ids, fresh)]
        inserts = gen.lake_docs(self.ctx.seed, self.next_id, N_MERGE_INSERT, version=self.version)
        self.next_id += N_MERGE_INSERT
        source = self._frame(updates + inserts).repartition(2, "doc_id")
        with self.ctx.tracer.span("lake.merge"):
            v = dml.merge_into_jsonl_dir(self.ctx.spark, source, self.path)
        self.model.update((r[0], r) for r in updates + inserts)
        n = len(updates)
        self._commit(v, {"update_preimage": n, "update_postimage": n, "insert": len(inserts)})

    def compact(self) -> None:
        from pu4spark_spark.sources.lake import maintenance

        with self.ctx.tracer.span("lake.compact"):
            v = maintenance.compact_jsonl_dir(self.ctx.spark, self.path, target_shards=4)
        self._commit(v, {})  # a rewrite: no data change

    def checkpoint(self) -> None:
        from pu4spark_spark.sources.lake import maintenance

        with self.ctx.tracer.span("lake.checkpoint"):
            maintenance.checkpoint_jsonl_dir(self.path)

    def _read(self, version: int | None = None):
        reader = self.ctx.spark.read.format("jsonl_docs").option("path", self.path)
        if version is not None:
            reader = reader.option("version", version)
        return reader.load()

    def _travel_version(self) -> int:
        return max(min(self.snapshots), self.version - TRAVEL_BACK)

    def _read_check(self, df, version: int) -> None:
        """Compare snapshot ``version``, read as ``df``, with the model:
        row count, key set and values (as :func:`digest`)."""
        from pyspark.sql import functions as F

        row_text = F.concat_ws("|", "doc_id", "text", "lang", "source", "n_chars")
        got = df.agg(
            F.count(F.lit(1)),
            F.sum(F.crc32(F.col("doc_id").cast("string"))),
            F.sum(F.crc32(row_text)),
        ).collect()[0]
        want = digest(self.snapshots[version].values())
        if tuple(got) != want:
            self.problems.append(f"read of v{version}: {tuple(got)}, model {want}")

    def scan(self) -> None:
        with self.ctx.tracer.span("lake.scan"):
            self._read_check(self._read(), self.version)
        if self.ctx.tracer.enabled:
            from pu4spark_spark.sources.lake.maintenance import describe_detail_jsonl_dir

            detail = describe_detail_jsonl_dir(self.ctx.spark, self.path).collect()[0]
            self.live_shards.append(detail["num_files"])

    def time_travel(self) -> None:
        v = self._travel_version()
        with self.ctx.tracer.span("lake.time_travel"):
            self._read_check(self._read(v), v)

    def cdf(self) -> None:
        from pu4spark_spark.sources.lake import cdf

        start = max(1, self.version - 1)
        with self.ctx.tracer.span("lake.cdf"):
            feed = cdf.table_changes_jsonl_dir(
                self.ctx.spark, self.path, starting_version=start, ending_version=self.version
            )
            rows = feed.groupBy("_change_type").count().collect()
        got = {r[0]: r[1] for r in rows}
        if got != self.last_change:
            self.problems.append(f"change feed of v{self.version}: {got}, model {self.last_change}")

    def history(self) -> None:
        from pu4spark_spark.sources.lake import maintenance

        with self.ctx.tracer.span("lake.history"):
            rows = maintenance.describe_history_jsonl_dir(self.ctx.spark, self.path).collect()
        latest = max(r["version"] for r in rows)
        if latest != self.version:
            self.problems.append(f"history ends at v{latest}, table is at v{self.version}")

    def ops(self) -> list[core.Op]:
        commits = [self.append, self.delete, self.merge, self.compact]
        reads = [self.cdf, self.scan, self.time_travel, self.history]
        seq: list[core.Op] = []
        for commit, read in zip(commits, reads):
            seq.append(core.Op(f"lake.{commit.__name__}", "commit", commit))
            seq.append(core.Op(f"lake.{read.__name__}", "read", read))
        seq.append(core.Op("lake.checkpoint", "commit", self.checkpoint))
        return seq

    def warmup_ops(self) -> list[core.Op]:
        """The table's first commit, then one pass."""
        return [core.Op("lake.create", "commit", self.create), *self.ops()]

    def after_pass(self) -> None:
        if self.bytes_ratio is None:
            on_disk = sum(dir_files(self.path).values())
            self.bytes_ratio = on_disk / live_bytes(self.model)

    # -- tracing ------------------------------------------------------------

    def instrument(self, tracer: core.Tracer) -> None:
        tracer.patch(os, "fsync", "lake.fsync")
        tracer.patch(os, "replace", "lake.rename")
        self._files = dir_files(self.path)

    def after_op(self, sample: core.Sample) -> None:
        if not self.ctx.tracer.enabled or sample.kind != "commit":
            return
        files = dir_files(self.path)
        new = {p: n for p, n in files.items() if self._files.get(p) != n}
        self.written.append((len(new), sum(new.values())))
        self._files = files

    def layer_metrics(self, tracer, samples, jobs) -> dict:
        from layers import LAKE_OPS, jobs_in, span_intervals

        out = {}
        for k in LAKE_OPS:
            d = tracer.durations(f"lake.{k}")
            out[f"lake.{k}_s"] = statistics.median(d) if d else 0.0
        commits = [i for i, s in enumerate(samples) if s.kind == "commit"]
        n = max(1, len(commits))
        out["lake.files_written"] = sum(f for f, _ in self.written) / n
        out["lake.bytes_written"] = sum(b for _, b in self.written) / n
        in_commit = set(commits)
        for span, key in (("lake.fsync", "lake.fsyncs"), ("lake.rename", "lake.renames")):
            hits = [1 for name, *_rest, op in tracer.spans if name == span and op in in_commit]
            out[key] = len(hits) / n
        scans = span_intervals(tracer, "lake.scan")
        if scans and self.live_shards:
            tasks = sum(j["tasks"] for j in jobs_in(jobs, scans))
            out["lake.scan_tasks_per_live_shard"] = tasks / sum(self.live_shards)
        return out

    # -- results --------------------------------------------------------------

    def check(self) -> list[str]:
        """Every read's mismatches with the model: the latest scan and the
        time-travel read by row count, key set and value hash, each change
        feed by rows per change type, the history by its head."""
        return self.problems

    def metrics(self, samples: list[core.Sample]) -> dict[str, float]:
        out = {}
        for kind in ("commit", "read"):
            s = core.latency_summary([x for x in samples if x.kind == kind], f"{kind}_s")
            out.update(s)
        out["bytes_per_live_byte"] = self.bytes_ratio
        return out
