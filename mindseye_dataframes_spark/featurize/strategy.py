"""ModelingStrategy — the reference's extension surface
(`ModelingStrategy.scala:43-76`): override points for representation
size, initial values, and per-key editing. ``CategorizingStrategy``
mirrors `CategorizingModelingStrategy.scala:26-51`: keys under the
label column become frozen one-hot tensors instead of learned
embeddings."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

from mindseye_dataframes_spark.functions.hashing import (
    hmac_sha1_seed,
    seeded_unit_rms_tensor,
)

# Spark simpleStrings of the integer column types
INT_DTYPES = frozenset({"int", "bigint", "smallint", "tinyint"})


class ModelingStrategy:
    def __init__(self, default_size: int = 10, mapping_power: int = 2):
        # defaultSize/mappingPower mirror `Trainer.scala:65-72`
        self.default_size = default_size
        self.mapping_power = mapping_power

    def size(self, path: str) -> int:
        return self.default_size

    def key_for(self, path: str, value: str) -> str:
        """Parameter key for a categorical value — the override point
        that decides dictionary identity (see HashedBucketStrategy)."""
        return f"{path}={value}"

    def enumerate_keys(self, path: str) -> list[str] | None:
        """All possible parameter keys for a categorical path, or None
        when keys must be discovered from the data. Bounded-dictionary
        strategies return their full key set so ``init_keys`` needs no
        distinct-value scan or driver collect for that path."""
        return None

    def unencodable(self, path: str, dtype: str, value: Column) -> tuple[Column, str] | None:
        """For an enumerated path, ``(flag, requirement)``: ``flag`` is a
        Spark boolean over the column ``value`` (of simpleString
        ``dtype``) that is true for a value ``initial_representation``
        cannot encode, and ``requirement`` says what a value must be.
        ``init_keys`` counts the flagged values in its one aggregate and
        raises naming the column. None when every value is encodable."""
        return None

    def initial_representation(self, key: str) -> np.ndarray:
        """Deterministic unit-RMS embedding (`ModelingStrategy.scala:45-57`)."""
        return seeded_unit_rms_tensor(key, self.size(key.split("=", 1)[0]))

    def is_frozen(self, key: str) -> bool:
        return False


class HashedBucketStrategy(ModelingStrategy):
    """Bounded-dictionary embeddings for high-cardinality categoricals
    (SURVEY §7.3 risk 2): at 100 TB a raw `path=value` dictionary can
    exceed driver/broadcast capacity, so values hash into ``n_buckets``
    shared embeddings per path (the 'hashing trick'). Collisions trade
    a little model capacity for an O(n_buckets) parameter bound and a
    fixed-size broadcast."""

    def __init__(self, n_buckets: int = 1 << 16, **kwargs):
        super().__init__(**kwargs)
        self.n_buckets = n_buckets

    def key_for(self, path: str, value: str) -> str:
        bucket = hmac_sha1_seed(f"{path}={value}") % self.n_buckets
        return f"{path}#bucket={bucket}"

    def enumerate_keys(self, path: str) -> list[str]:
        # the whole dictionary exists a priori: no per-value discovery,
        # so init_keys never collects distinct values for this path
        return [f"{path}#bucket={b}" for b in range(self.n_buckets)]


class PathBucketedOverlay(ModelingStrategy):
    """Per-path hashing-trick overlay: delegate to ``base`` everywhere
    except the paths in ``bucketed_paths``, whose values hash into
    ``n_buckets`` shared embeddings (same key scheme as
    HashedBucketStrategy). This is what ``DataframeModeler.init_keys``
    auto-switches to when a discovered dictionary exceeds its driver
    cap — only the offending paths lose per-value identity; every
    other path keeps the base strategy's behavior."""

    def __init__(self, base: ModelingStrategy, bucketed_paths, n_buckets: int = 1 << 16):
        super().__init__(
            default_size=base.default_size, mapping_power=base.mapping_power
        )
        self.base = base
        self.bucketed_paths = frozenset(bucketed_paths)
        self._hashed = HashedBucketStrategy(
            n_buckets=n_buckets,
            default_size=base.default_size,
            mapping_power=base.mapping_power,
        )
        self.n_buckets = n_buckets

    def size(self, path: str) -> int:
        return self.base.size(path)

    def key_for(self, path: str, value: str) -> str:
        if path in self.bucketed_paths:
            return self._hashed.key_for(path, value)
        return self.base.key_for(path, value)

    def enumerate_keys(self, path: str) -> list[str] | None:
        if path in self.bucketed_paths:
            return self._hashed.enumerate_keys(path)
        return self.base.enumerate_keys(path)

    def unencodable(self, path: str, dtype: str, value: Column) -> tuple[Column, str] | None:
        if path in self.bucketed_paths:
            return None
        return self.base.unencodable(path, dtype, value)

    def initial_representation(self, key: str) -> np.ndarray:
        # bucketed keys are 'p#bucket=b': size them by the ORIGINAL
        # path p through the base (a base with per-path size overrides
        # would otherwise see the synthetic path 'p#bucket' and fall
        # back to default_size, handing downstream layers sized from
        # strategy.size(p) a mismatched representation). rsplit, not
        # split: a path that itself contains '=' must not be cut at
        # its first '=' (bucket ids are digits, never contain '=')
        path = key.rsplit("=", 1)[0]
        if path.endswith("#bucket"):
            orig = path[: -len("#bucket")]
            if orig in self.bucketed_paths:
                return seeded_unit_rms_tensor(key, self.base.size(orig))
        return self.base.initial_representation(key)

    def is_frozen(self, key: str) -> bool:
        return self.base.is_frozen(key)


class CategorizingStrategy(ModelingStrategy):
    """One-hot target encoding: for keys ``<label_path>=k`` emit a
    frozen tensor of length ``categories`` with 1.0 at index k-1
    (`CategorizingModelingStrategy.scala:27-50`; labels are 1-based in
    the covtype dataset — configurable here via ``base``).

    The label's keys are known before any scan, so ``enumerate_keys``
    lists them and ``init_keys`` runs no distinct-value discovery for
    the label. An integer label outside ``base … base+categories-1``
    has no key in the context; its vector is all zeros, which is what
    ``initial_representation`` builds when ``eval`` looks it up."""

    def __init__(
        self,
        category_column: str,
        categories: int,
        base: int = 1,
        value_index: dict | None = None,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.category_column = category_column
        self.categories = categories
        self.base = base
        self.value_index = value_index  # for non-integer labels: value -> index

    def _is_category_path(self, path: str) -> bool:
        """The label column itself, at the top level or nested under a
        struct (``a/label``); never a column whose name only ends with
        the label's (``prev_label``)."""
        col = self.category_column
        return path == col or path.endswith("/" + col)

    def _is_category_key(self, key: str) -> bool:
        return self._is_category_path(key.split("=", 1)[0])

    def size(self, path: str) -> int:
        if self._is_category_path(path):
            return self.categories
        return self.default_size

    def enumerate_keys(self, path: str) -> list[str] | None:
        if not self._is_category_path(path):
            return None
        if self.value_index is not None:
            values = list(self.value_index)
        else:
            values = [str(self.base + i) for i in range(self.categories)]
        return [self.key_for(path, v) for v in values]

    def unencodable(self, path: str, dtype: str, value: Column) -> tuple[Column, str] | None:
        if not self._is_category_path(path):
            return None
        text = value.cast("string")
        if self.value_index is not None:
            return ~text.isin(list(self.value_index)), "a key of value_index"
        if dtype in INT_DTYPES:
            return None
        # the values int() parses: optional sign, ASCII digits, outer
        # whitespace
        return ~text.rlike(r"^\s*[+-]?[0-9]+\s*$"), "an integer (or pass a value_index)"

    def initial_representation(self, key: str) -> np.ndarray:
        if not self._is_category_key(key):
            return super().initial_representation(key)
        value = key.split("=", 1)[1]
        if self.value_index is not None:
            idx = self.value_index[value]
        else:
            idx = int(value) - self.base
        out = np.zeros(self.categories)
        if 0 <= idx < self.categories:
            out[idx] = 1.0
        return out

    def is_frozen(self, key: str) -> bool:
        return self._is_category_key(key)
