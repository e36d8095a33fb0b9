"""ModelContext — the driver-held parameter store.

Rebuild of the reference's ``ModelingData`` (`ModelingData.scala:26-29`):
two maps keyed by hierarchical path strings —

- ``representations``: categorical key ``path=value`` → embedding
  vector (F1)
- ``transforms``: numeric path → affine/FC weights (F2)

plus ``layers`` for network parameters. Parameters are plain numpy
arrays; param identity is the key string itself (the reference's
name-UUID, `DataframeModeler.scala:213-215`, is a 1:1 function of
it), so gradients are routed by key exactly like the reference's
DeltaSet accumulation
(`DataframeModeler.scala:192-211`).

Unlike the reference — which re-discovers keys on every eval
(`initKeys`, a known inefficiency, SURVEY §4.3a) — the context is
computed once and can persist to a parquet parameter table. For
distributed eval the dict is broadcast per job (broadcasts are
immutable, so re-broadcast after each optimizer step — SURVEY §7.3
risk 2)."""

from __future__ import annotations

import numpy as np


class ModelContext:
    def __init__(self) -> None:
        self.representations: dict[str, np.ndarray] = {}
        self.transforms: dict[str, np.ndarray] = {}
        self.layers: dict[str, np.ndarray] = {}
        self.stats: dict[str, tuple[float, float, float]] = {}  # path -> (n, mean, std)
        self.frozen: set[str] = set()

    # -- param access -------------------------------------------------
    def all_params(self) -> dict[str, np.ndarray]:
        return {**self.representations, **self.transforms, **self.layers}

    def apply_gradients(self, grads: dict[str, np.ndarray], lr: float) -> None:
        params = self.all_params()
        for key, g in grads.items():
            if key in self.frozen or key not in params:
                continue
            params[key] -= lr * g

    # -- persistence (parquet parameter table) ------------------------
    def to_rows(self) -> list[tuple[str, str, str, list[float]]]:
        rows = []
        for kind, store in (
            ("representation", self.representations),
            ("transform", self.transforms),
            ("layer", self.layers),
        ):
            for key, arr in store.items():
                rows.append((kind, key, str(arr.shape), [float(x) for x in arr.ravel()]))
        # stats and frozen-key markers are part of the model: without
        # them a loaded context crashes numeric channels (missing
        # moments) and silently unfreezes one-hot labels
        for path, (n, mean, std) in self.stats.items():
            rows.append(("stat", path, "", [float(n), float(mean), float(std)]))
        for key in sorted(self.frozen):
            rows.append(("frozen", key, "", []))
        return rows

    def save(self, spark, path: str) -> None:
        df = spark.createDataFrame(
            self.to_rows(), "kind string, key string, shape string, values array<double>"
        )
        df.write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str) -> "ModelContext":
        ctx = cls()
        for row in spark.read.parquet(path).collect():
            if row["kind"] == "stat":
                n, mean, std = row["values"]
                ctx.stats[row["key"]] = (n, mean, std)
                continue
            if row["kind"] == "frozen":
                ctx.frozen.add(row["key"])
                continue
            shape = tuple(int(x) for x in row["shape"].strip("(),").split(",") if x.strip())
            arr = np.array(row["values"], dtype=np.float64).reshape(shape or (-1,))
            store = {
                "representation": ctx.representations,
                "transform": ctx.transforms,
                "layer": ctx.layers,
            }[row["kind"]]
            store[row["key"]] = arr
        return ctx
