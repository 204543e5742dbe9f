"""``pu_learn``: the paper's workload.  ``weight()`` calls rotate
through Traditional-LR, GradualReduction-LR and Traditional-RF over a
seed-generated positive-unlabeled table.  No lake or registry operator
is touched.  Each call ends in one aggregate over the scored rows (row
count, ``finalLabel`` range, confusion counts against the hidden
labels), which materialises the result and feeds the checks."""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from core import Op, Sample, Workload

N_ROWS = 20_000
DIM = 16
PRIOR = 0.3  # hidden share of positives
C = 0.7  # labelling frequency: P(labelled | positive)
#: F1 floor as a share of the Bayes-optimal rule's F1 on the same rows
F1_FLOOR_SHARE = 0.5


def learners() -> dict:
    from pu4spark_spark.config import (
        GradualReductionPULearnerConfig,
        LogisticRegressionConfig,
        RandomForestConfig,
        TraditionalPULearnerConfig,
    )

    lr = LogisticRegressionConfig(maxIter=2)
    return {
        "traditional_lr": TraditionalPULearnerConfig(maxIters=1, classifierConfig=lr),
        "gradual_lr": GradualReductionPULearnerConfig(classifierConfig=lr),
        "traditional_rf": TraditionalPULearnerConfig(
            maxIters=1, classifierConfig=RandomForestConfig(numTrees=2, seed=7)
        ),
    }


def bayes_f1(x: np.ndarray, truth: np.ndarray, shift: np.ndarray, prior: float) -> float:
    """F1 of the Bayes-optimal rule for the generator's two unit-variance
    Gaussians (the ceiling a linear PU learner approaches)."""
    norm = np.linalg.norm(shift)
    proj = x @ shift / norm
    cut = norm / 2 + np.log((1 - prior) / prior) / norm
    return f1(int(((proj > cut) & (truth == 1)).sum()), int((proj > cut).sum()), int(truth.sum()))


def f1(tp: int, predicted: int, actual: int) -> float:
    return 2.0 * tp / (predicted + actual) if predicted + actual else 0.0


class PuLearn(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        # a fixed rotation, not a seeded one: an op's time depends on
        # the op before it
        self.order = list(learners())
        self.results: dict[str, list[dict]] = {k: [] for k in self.order}
        self.path = None

    # -- set-up -----------------------------------------------------------

    def prepare(self, round_dir: str) -> None:
        ids, x, truth, labelled, shift = gen.pu_table(self.ctx.seed, N_ROWS, DIM, PRIOR, C)
        table = pa.table(
            {
                "id": pa.array(ids.astype(np.int64)),
                "pu_label": pa.array(labelled.astype(np.int32)),
                "features": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
                "truth": pa.array(truth.astype(np.int32)),
            }
        )
        self.path = os.path.join(round_dir, "pu.parquet")
        pq.write_table(table, self.path)
        self.floor = F1_FLOOR_SHARE * bayes_f1(x, truth, shift, PRIOR)

    def _frame(self):
        return self.ctx.spark.read.parquet(self.path)

    def _weigh(self, name: str, df) -> dict:
        from pyspark.sql import functions as F

        learner = learners()[name].build()
        out = learner.weight(df, "pu_label", "features", "finalLabel")
        pred = (F.col("finalLabel") >= 0.5).cast("long")
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("finalLabel").alias("lo"),
            F.max("finalLabel").alias("hi"),
            F.sum(pred * F.col("truth")).alias("tp"),
            F.sum(pred).alias("predicted"),
            F.sum("truth").alias("actual"),
        ).collect()[0]
        return row.asDict()

    def warmup_streams(self) -> list[list[Op]]:
        """One full-size call per learner, in one stream (three side by
        side took as long): after calls on a small slice the first
        measured pass still ran 30-120 % slower than later ones."""
        df = self._frame()
        return [[Op(f"pu.{n}", "weight", lambda n=n: self._weigh(n, df)) for n in self.order]]

    # -- measured ----------------------------------------------------------

    def ops(self) -> list[Op]:
        df = self._frame()

        def op(name):
            def run():
                self.results[name].append(self._weigh(name, df))

            return Op(f"pu.{name}", "weight", run)

        return [op(n) for n in self.order]

    def check(self) -> list[str]:
        bad = []
        for name, outs in self.results.items():
            for r in outs:
                if r["rows"] != N_ROWS:
                    bad.append(f"{name}: {r['rows']} rows out of {N_ROWS}")
                if not (0.0 <= r["lo"] <= r["hi"] <= 1.0):
                    bad.append(f"{name}: finalLabel outside [0, 1]: {r['lo']}..{r['hi']}")
                score = f1(r["tp"], r["predicted"], r["actual"])
                if score < self.floor:
                    bad.append(f"{name}: F1 {score:.3f} below floor {self.floor:.3f}")
        return bad

    def metrics(self, samples: list[Sample]) -> dict[str, float]:
        ok = [s for s in samples if not s.error]
        scores = [
            f1(outs[-1]["tp"], outs[-1]["predicted"], outs[-1]["actual"])
            for outs in self.results.values()
            if outs
        ]
        return {
            "pu_rows_per_s": N_ROWS * len(ok) / sum(s.seconds for s in ok),
            "pu_f1": statistics.median(scores),
        }
