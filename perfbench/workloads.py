"""The benchmark's workloads. Each builds its inputs from the seed in
``__init__`` (set-up) and exposes one closed-loop operation, ``op``,
plus the checks that decide whether an op's output is correct.

``tracer.span`` marks every call into the package; in untraced ops the
tracer is a ``NullTracer`` and the spans cost nothing.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import random
import re
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mindseye_dataframes_spark.featurize import CategorizingStrategy, DataframeModeler, ModelContext
from mindseye_dataframes_spark.featurize.layers import mlp
from mindseye_dataframes_spark.queries import load_all
from mindseye_dataframes_spark.repl import SqlRepl
from mindseye_dataframes_spark.sources.readers import TABLES
from mindseye_dataframes_spark.sources.staging import stage
from tests.helpers import canonicalize, duckdb_oracle

MB = 1e6


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


def spark_layer_metrics(spans, op_wall_s: float, cores: int, tot: dict[str, float]) -> dict[str, float]:
    run_s = tot["executorRunTime"] / 1e3
    cpu_s = tot["executorCpuTime"] / 1e9
    return {
        "spark.jobs": sum(s.jobs for s in spans),
        "spark.stages": tot["stages"],
        "spark.tasks": tot["numCompleteTasks"],
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": cpu_s,
        "spark.python_gap_s": run_s - cpu_s,
        "spark.busy_share": run_s / (op_wall_s * cores),
        "spark.shuffle_write_mb": tot["shuffleWriteBytes"] / MB,
        "spark.shuffle_read_mb": tot["shuffleReadBytes"] / MB,
        "spark.spill_mb": tot["diskBytesSpilled"] / MB,
        "sources.input_mb": tot["inputBytes"] / MB,
    }


class Headline:
    """The 8 headline registry queries, each drained through the
    ``noop`` sink; one op is one pass in a seed-chosen order."""

    QUERIES = (
        "q01_pricing_summary",
        "q05_revenue_by_region",
        "q13_zip_positional",
        "q22_asof_join",
        "q24_tumbling_window",
        "q26_text_stats",
        "q32_lsh_dup_pairs",
        "q35_cosine_topk",
    )
    trace_targets = ()

    def __init__(self, spark, seed: int, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        registry = load_all()
        self.queries = {n: registry[n] for n in self.QUERIES}
        self.order = list(self.QUERIES)
        random.Random(seed).shuffle(self.order)
        self.expected = self._expected_results()
        self.stated_rows = self._scanned_rows()

    def _expected_results(self) -> dict[str, tuple]:
        """Each query's canonical DuckDB oracle result. The results depend
        only on the tables and the oracle SQL, so they are computed once
        per table directory and kept next to it, keyed by that SQL."""
        path = self.sf_dir + ".expected.pkl"
        cache = {}
        if os.path.exists(path):
            with open(path, "rb") as fh:
                cache = pickle.load(fh)
        missing = {(n, q.oracle) for n, q in self.queries.items()} - set(cache)
        for name, sql in missing:
            cache[name, sql] = canonicalize(*duckdb_oracle(sql, self.sf_dir))
        if missing:
            with open(path + ".partial", "wb") as fh:
                pickle.dump(cache, fh)
            os.replace(path + ".partial", path)
        return {n: cache[n, q.oracle] for n, q in self.queries.items()}

    def _scanned_rows(self) -> int:
        """Rows of every table each query's oracle reads, summed over a
        pass: the stated input, independent of how the engine plans it."""
        total = 0
        for q in self.queries.values():
            for t in TABLES:
                if re.search(rf"\b(FROM|JOIN)\s+{t}\b", q.oracle, re.I):
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    total += sum(
                        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                        for f in os.listdir(path)
                        if f.endswith(".parquet")
                    )
        return total

    def op(self, tracer) -> None:
        self.spark.catalog.clearCache()
        for name in self.order:
            with tracer.span(f"queries.{name}.build"):
                df = self.queries[name].fn(self.spark, self.sf_dir)
            with tracer.span(f"queries.{name}.drain"):
                df.write.format("noop").mode("overwrite").save()

    def check_op(self) -> bool:
        return True  # a drained pass has no output; check_pass checks the queries

    def check_pass(self) -> list[str]:
        """Collect every query and compare with its DuckDB oracle;
        returns the names that differ."""
        self.spark.catalog.clearCache()
        bad = []
        for name in self.order:
            df = self.queries[name].fn(self.spark, self.sf_dir)
            got = canonicalize(df.columns, [tuple(r) for r in df.collect()])
            if got != self.expected[name]:
                bad.append(name)
        return bad

    def layer_metrics(self, tracer, spans, op_wall_s, cores, tot) -> dict[str, float]:
        out = spark_layer_metrics(spans, op_wall_s, cores, tot)
        by_name = {s.name: s for s in spans}
        out["queries.build_s"] = 0.0
        for name in self.QUERIES:
            build, drain = by_name[f"queries.{name}.build"], by_name[f"queries.{name}.drain"]
            q_tot = tracer.stage_totals(build.stage_ids | drain.stage_ids)
            out["queries.build_s"] += build.wall_s
            out[f"queries.{name}.wall_s"] = build.wall_s + drain.wall_s
            out[f"queries.{name}.build_s"] = build.wall_s
            out[f"queries.{name}.jobs"] = build.jobs + drain.jobs
            out[f"queries.{name}.stages"] = q_tot["stages"]
            out[f"queries.{name}.python_gap_s"] = (
                q_tot["executorRunTime"] / 1e3 - q_tot["executorCpuTime"] / 1e9
            )
            out[f"queries.{name}.shuffle_mb"] = q_tot["shuffleWriteBytes"] / MB
        return out


def covtype_raw(spark, n_rows: int, seed: int):
    """Synthetic covtype (55 integer columns, 40 of them Soil_Type*),
    hash-derived from the row id and the seed, label correlated with
    elevation so training has signal."""
    h = lambda i: F.abs(F.xxhash64("id", F.lit(i), F.lit(seed)))  # noqa: E731
    cols = [
        (h(1) % 2000 + 1000).cast("int").alias("Elevation"),
        (h(2) % 360).cast("int").alias("Aspect"),
        (h(3) % 60).cast("int").alias("Slope"),
        (h(4) % 1000).cast("int").alias("Horizontal_Distance_To_Hydrology"),
        (h(5) % 500).cast("int").alias("Vertical_Distance_To_Hydrology"),
        (h(6) % 4000).cast("int").alias("Horizontal_Distance_To_Roadways"),
        (h(7) % 255).cast("int").alias("Hillshade_9am"),
        (h(8) % 255).cast("int").alias("Hillshade_Noon"),
        (h(9) % 255).cast("int").alias("Hillshade_3pm"),
        (h(10) % 5000).cast("int").alias("Horizontal_Distance_To_Fire_Points"),
        *[(h(20 + i) % 2).cast("int").alias(f"Wilderness_Area{i}") for i in range(1, 5)],
        *[(h(30 + i) % 2).cast("int").alias(f"Soil_Type{i}") for i in range(1, 41)],
        F.least(
            F.greatest(((h(1) % 2000) * 7 / 2000 + 1).cast("int"), F.lit(1)), F.lit(7)
        ).alias("Cover_Type"),
    ]
    return spark.range(n_rows).select(*cols)


def params_digest(params: dict[str, np.ndarray]) -> str:
    h = hashlib.sha256()
    for key in sorted(params):
        h.update(key.encode())
        h.update(np.ascontiguousarray(params[key]).tobytes())
    return h.hexdigest()


class CovtypeTrain:
    """One op is one ``DataframeModeler.fit`` from a fresh modeler over
    the staged covtype table, on a fixed short schedule."""

    LABEL = "Cover_Type"
    FIT = dict(fractions=[0.05], max_iters=1, lr=0.3, max_probes=2)
    trace_targets = (
        (DataframeModeler, "init_keys", lambda kw: "featurize.init_keys"),
        (
            DataframeModeler,
            "eval",
            lambda kw: "featurize.probe" if kw.get("loss_only") else "featurize.grad_pass",
        ),
        (ModelContext, "apply_gradients", lambda kw: "featurize.apply"),
    )

    def __init__(self, spark, seed: int, n_rows: int):
        self.spark, self.seed = spark, seed
        raw = covtype_raw(spark, n_rows, seed)
        raw.createOrReplaceTempView("covtype_raw")
        # the generated staging view of Trainer.scala: drop Soil_Type*,
        # cast every other column but the label to DOUBLE
        select = [
            f"`{f.name}`" if f.name == self.LABEL else f"CAST(`{f.name}` AS DOUBLE) AS `{f.name}`"
            for f in raw.schema.fields
            if not f.name.startswith("Soil_Type")
        ]
        SqlRepl(spark).run(
            "%sql CREATE OR REPLACE TEMPORARY VIEW covtype AS SELECT "
            + ", ".join(select)
            + " FROM covtype_raw"
        )
        self.staged = stage(spark.table("covtype"), "raw")
        self.stated_rows = self.staged.count()
        self.initial_params: str | None = None
        self.reference: tuple | None = None
        self.outcome: tuple = ()

    def _fit(self, modeler, network) -> None:
        """Fit, then keep what the fit produced: its losses, the probes of
        each line search, and a digest of the trained parameters."""
        losses = modeler.fit(self.staged, network, self.LABEL, seed=self.seed, **self.FIT)
        self.outcome = (losses, list(modeler.probe_history), params_digest(modeler.context.all_params()))

    def op(self, tracer) -> None:
        self._fit(self.modeler(), mlp("covtype", 10, [20], 7))

    def modeler(self) -> DataframeModeler:
        return DataframeModeler(CategorizingStrategy(self.LABEL, categories=7, base=1, default_size=10))

    def check_op(self) -> bool:
        """Losses never rise within the epoch; the fit changed the
        parameters, which the line search allows only when a probe's loss
        fell below the first; and every fit of the run reproduces the
        first fit's losses, probes and parameters bit for bit."""
        if self.reference is None:
            self.reference = self.outcome
        losses, _, params = self.outcome
        monotone = bool(losses) and all(b <= a for a, b in zip(losses, losses[1:]))
        return monotone and params != self.initial_params and self.outcome == self.reference

    def check_pass(self) -> list[str]:
        """The first fit. ``init_keys`` is called ahead of ``fit``, which
        then skips it, so the parameters the fit starts from can be
        digested and compared with the ones it ends with."""
        modeler, network = self.modeler(), mlp("covtype", 10, [20], 7)
        modeler.init_keys(self.staged, self.LABEL)
        self.initial_params = params_digest({**modeler.context.all_params(), **network.init_params()})
        self._fit(modeler, network)
        return [] if self.check_op() else ["covtype_train fit"]

    def layer_metrics(self, tracer, spans, op_wall_s, cores, tot) -> dict[str, float]:
        out = spark_layer_metrics(spans, op_wall_s, cores, tot)
        walls: dict[str, list[float]] = {}
        for s in spans:
            walls.setdefault(s.name, []).append(s.wall_s)
        grads, probes = walls.get("featurize.grad_pass", []), walls.get("featurize.probe", [])
        out.update(
            {
                "featurize.grad_passes": len(grads),
                "featurize.grad_pass_s": statistics.fmean(grads) if grads else 0.0,
                "featurize.probes": len(probes),
                "featurize.probe_s": statistics.fmean(probes) if probes else 0.0,
                "featurize.steps_per_probe": (
                    len(walls.get("featurize.apply", [])) / len(probes) if probes else 0.0
                ),
                "featurize.apply_s": sum(walls.get("featurize.apply", [])),
                "featurize.init_keys_s": sum(walls.get("featurize.init_keys", [])),
                # the batch loss at the trained parameters: the best probe's
                "featurize.final_loss": min(s.result[0] for s in spans if s.name == "featurize.probe"),
            }
        )
        return out
