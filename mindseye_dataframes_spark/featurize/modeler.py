"""DataframeModeler — schema-recursive differentiable featurization.

Rebuild of the reference's core (`DataframeModeler.scala`,
`ModelingStrategy.scala`) on idiomatic PySpark:

- **Schema recursion** (`DataframeModeler.scala:68-119`): walk the
  DataFrame schema; ``StructType`` recurses with path extension,
  int/string columns are categorical (F1), doubles are numeric (F2),
  struct children reduce by element-wise sum (F3,
  `ModelingStrategy.scala:84-89`).
- **Key discovery** (`initKeys`, `DataframeModeler.scala:163-178`)
  runs ONCE and is cached in the ModelContext, fixing the reference's
  per-eval rescan (SURVEY §4.3a). It is ONE aggregate query (A1): the
  numeric moments, the vector dimensions and the count of label values
  the strategy cannot encode, grouped over stacked ``(i, x, k)`` rows
  so the generated code has one width for any column count. The
  moments are exact: each value's decimal(14,4) unscaled long, summed
  as 24-bit limbs in long sums and rebuilt on the driver as Python
  ints, give the decimal sums' doubles bit for bit, so the derived
  parameters are reproducible. Keys a strategy can enumerate (one-hot
  labels, hashed buckets) need no scan; only the other categorical
  paths add a distinct-keys query (A2).
- **Batch inference** ``eval_to_dataframe`` (M1,
  `ModelingStrategy.scala:167-186`): broadcast params → Arrow-batched
  ``mapInPandas`` forward → ``name: array<double>`` column.
- **Executor kernels** (`DataframeModeler.scala:68-119,192-211`): the
  kernel encodes each categorical column once per batch (``_encode``:
  codes into its distinct values) and looks each distinct value's
  parameter row up once (``_value_table``). The forward pass gathers
  ``table[codes]``, the backward pass scatter-adds the rows' gradients
  with ``np.add.at`` in row order, and the label target is the same
  gather.
- **Distributed gradients** ``eval`` (M2,
  `ModelingStrategy.scala:188-236`): per-partition forward+backward
  emits (key, grad) rows; the merge is a *distributed* groupBy-key
  array sum (fixing the reference's flat reduce through the driver,
  SURVEY §4.3c) and only the final per-key gradients reach the driver.
- **Training** ``fit`` (M3/M4, `Trainer.scala:170-193`): epoch
  schedule over sample fractions, gradient descent with bisection
  line search; the mutated context re-broadcasts each step
  (broadcasts are immutable — SURVEY §7.3 risk 2).

Scale notes: the only driver-sized state is the parameter dict
(capped by dictionary size — hash-bucket embeddings if categorical
cardinality explodes); everything row-shaped stays on executors.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mindseye_dataframes_spark.compat import broadcast_value
from mindseye_dataframes_spark.featurize.context import ModelContext
from mindseye_dataframes_spark.featurize.layers import Network
from mindseye_dataframes_spark.featurize.strategy import (
    INT_DTYPES,
    ModelingStrategy,
    PathBucketedOverlay,
)
from mindseye_dataframes_spark.functions.hashing import seeded_unit_rms_tensor

LOSS_KEY = "__loss__"
_MERGED_SCHEMA = "key string, grad array<double>, loss double, n long"
_PARTIALS_SCHEMA = _MERGED_SCHEMA + ", part int"


@dataclass
class Channel:
    path: str  # hierarchical key path, e.g. "lineitem/l_quantity"
    col: str  # spark column accessor, e.g. "l_quantity" or "a.b"
    kind: str  # "categorical" | "numeric" | "vector"
    dtype: str = "string"  # spark simpleString of the source column


def _encode(col: pd.Series, dtype: str) -> tuple[np.ndarray, list[str]]:
    """A batch column as ``(codes, values)``: ``values`` are its distinct
    values in order of first appearance, rendered the way Spark's
    CAST(x AS STRING) does so executor keys match the keys init_keys
    found: booleans are 'true'/'false', integer columns that arrived as
    float64 (Arrow's NULL handling) lose the '.0'. Row i holds
    ``values[codes[i]]``; NULL and NaN rows hold code -1. Only the
    distinct values are rendered, and raw values that render alike
    (0.0 and -0.0) share one code."""
    codes, uniques = pd.factorize(col)
    if dtype == "boolean":
        rendered = ["true" if u else "false" for u in uniques]
    elif dtype in INT_DTYPES:
        rendered = [str(int(u)) for u in uniques]
    else:
        rendered = [str(u) for u in uniques]
    merged, values = pd.factorize(np.array(rendered, dtype=object))
    return np.append(merged, -1)[codes], values.tolist()


def _value_table(
    path: str, values: list[str], params: dict[str, np.ndarray], strat: ModelingStrategy, width: int
) -> np.ndarray:
    """The parameter row of each distinct value of a categorical path
    (the key's representation, or its deterministic initial one when
    the context lacks it), then a zero row for code -1: a NULL value
    contributes nothing."""
    table = np.zeros((len(values) + 1, width))
    for i, v in enumerate(values):
        key = strat.key_for(path, v)
        vec = params.get(key)
        table[i] = strat.initial_representation(key) if vec is None else vec
    return table


def _label_channel(chans: list[Channel], label_col: str) -> Channel:
    """The channel of ``label_col``, found from the schema alone, so a
    misspelled label fails before any Spark job runs."""
    found = next((c for c in chans if c.col == label_col), None)
    if found is None:
        raise ValueError(
            f"label column {label_col!r} not found; featurizable columns: "
            f"{[c.col for c in chans]}"
        )
    return found


# init_keys sums v, the unscaled decimal(14,4) value of each numeric
# input as a long, in 24-bit limbs: every summed term is below 2^24 in
# magnitude, so each long sum is exact up to 2^39 rows.
_LIMB_BITS = 24
_LIMB_MASK = (1 << _LIMB_BITS) - 1
MAX_MOMENT_ROWS = 1 << 39
_LIMB_SUMS = ("l", "h", "ll0", "ll1", "hl0", "hl1", "hh0", "hh1")
_EMPTY_GROUP = {"n": 0, "nv": 0, "kmax": None, "kcount": 0, **dict.fromkeys(_LIMB_SUMS)}


def merge_group(key, pdf):
    """Sum one key's per-partition partials of a gradient pass in
    partition order, not in the order the shuffle delivered them (a
    cluster's fetch order varies, and float addition is not
    associative). No type hints: ``applyInPandas`` would read them."""
    k = key[0]
    pdf = pdf.sort_values("part", kind="stable")
    if k == LOSS_KEY:
        row = (k, [], float(pdf["loss"].sum()), int(pdf["n"].sum()))
    else:
        row = (k, np.sum(np.stack(pdf["grad"].map(np.asarray)), axis=0).tolist(), 0.0, 0)
    return pd.DataFrame([row], columns=["key", "grad", "loss", "n"])


def _stacked_aggregate(
    df: DataFrame, entries: list[tuple[Column | None, Column | None]]
) -> list[Row | dict]:
    """ONE grouped aggregate over ``df`` for a list of ``(x, k)``
    entries: entry i stacks one ``(i, x, k)`` row per input row, and
    group i returns ``n = count(x)``, ``nv`` (the x that have an exact
    v), the limb sums of v (see ``_exact_sums``), ``kmax = max(k)`` and
    ``kcount = count(k)``, in entry order. A group with no input has no
    row; it reads as ``_EMPTY_GROUP``. The generated code has the same
    width for any number of entries; one aggregate column per entry and
    moment would leave whole-stage codegen past 100 buffer fields
    (``spark.sql.codegen.maxFields``)."""
    if not entries:
        return []
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (F.lit(None) if x is None else x).cast("double").alias("x"),
                (F.lit(None) if k is None else k).cast("int").alias("k"),
            )
            for i, (x, k) in enumerate(entries)
        ]
    )
    x = F.col("x")
    # v without a decimal: r = rint(x·1e4) is v when r / 1e4 == x, as
    # Double.toString(x), which the decimal cast rounds, then lies within
    # ulp(x) < 5e-5 of r / 1e4. The other values (more than 4 decimals)
    # take the decimal(14,4) cast; try_cast turns one that does not fit
    # into NULL under either ANSI setting, and n - nv reports it.
    r = F.rint(x * 1e4)
    v = F.when((F.abs(r) < 1e14) & (r / 1e4 == x), r.cast("long")).otherwise(
        (x.try_cast("decimal(14,4)") * 10**4).cast("long")
    )
    stacked = (
        df.select(F.inline(rows))
        .withColumn("v", v)
        .select(
            "i", "x", "k", "v",
            F.shiftright("v", _LIMB_BITS).alias("h"),
            F.col("v").bitwiseAND(_LIMB_MASK).alias("l"),
        )
    )
    h, lo = F.col("h"), F.col("l")
    # v = h·2^24 + l with |h| < 2^23 and 0 <= l < 2^24; each product
    # splits into its low 24 bits and the (signed) rest
    terms = {"l": lo, "h": h}
    for name, p in (("ll", lo * lo), ("hl", h * lo), ("hh", h * h)):
        terms[f"{name}0"] = p.bitwiseAND(_LIMB_MASK)
        terms[f"{name}1"] = F.shiftright(p, _LIMB_BITS)
    agg = stacked.groupBy("i").agg(
        F.count("x").alias("n"),
        F.count("v").alias("nv"),
        *[F.sum(terms[name]).alias(name) for name in _LIMB_SUMS],
        F.max("k").alias("kmax"),
        F.count("k").alias("kcount"),
    )
    found = {row["i"]: row for row in agg.collect()}
    return [found.get(i, _EMPTY_GROUP) for i in range(len(entries))]


def _exact_sums(group) -> tuple[int, int]:
    """Σv and Σv², exactly, from a group's limb sums:
    v = h·2^24 + l, so v² = h²·2^48 + 2·h·l·2^24 + l²."""
    s = {name: int(group[name] or 0) for name in _LIMB_SUMS}
    joined = lambda name: (s[f"{name}1"] << _LIMB_BITS) + s[f"{name}0"]  # noqa: E731
    sv = (s["h"] << _LIMB_BITS) + s["l"]
    sq = (joined("hh") << 2 * _LIMB_BITS) + (joined("hl") << _LIMB_BITS + 1) + joined("ll")
    return sv, sq


class DataframeModeler:
    """Facade mirroring `DataframeModeler.scala:48-50`."""

    def __init__(
        self,
        strategy: ModelingStrategy,
        context: ModelContext | None = None,
        root: str = "",
        max_dictionary_keys: int = 100_000,
        overflow_buckets: int = 1 << 16,
    ):
        self.strategy = strategy
        self.context = context or ModelContext()
        self.root = root
        # Guard for the init_keys dictionary collect (the reference
        # collects distinct values unconditionally,
        # `DataframeModeler.scala:163-178` — a driver OOM at 100 TB
        # cardinalities). Above the cap, the offending paths switch to
        # hashed-bucket embeddings (PathBucketedOverlay).
        self.max_dictionary_keys = max_dictionary_keys
        self.overflow_buckets = overflow_buckets
        # broadcasts created by eval_to_dataframe stay alive while the
        # (lazy) result DataFrame is unconsumed; they are released on
        # the next call or via release_broadcasts() (unpersist, not
        # destroy — a re-used broadcast re-ships lazily from the driver)
        self._live_broadcasts: list = []

    def release_broadcasts(self) -> None:
        """Drop executor copies of broadcasts from earlier
        ``eval_to_dataframe`` calls. Called automatically at the start
        of each new inference call so repeated inference on a
        long-lived session doesn't accumulate broadcast blocks."""
        for bc in self._live_broadcasts:
            try:
                bc.unpersist()
            except Exception:
                pass  # session already stopped
        self._live_broadcasts.clear()

    # -- schema recursion (P5 / F1-F3) ---------------------------------
    def channels(self, schema: T.StructType, path: str | None = None, col: str = "") -> list[Channel]:
        """Walk the schema exactly like `DataframeModeler.scala:68-119`:
        struct → recurse, int/string → categorical, double/float →
        numeric, anything else → explicit unsupported (the reference
        MatchError-ed; SURVEY §7.3 risk 3)."""
        out: list[Channel] = []
        base = self.root if path is None else path
        for field in schema.fields:
            p = f"{base}/{field.name}" if base else field.name
            c = f"{col}.{field.name}" if col else field.name
            dt = field.dataType
            if isinstance(dt, T.StructType):
                out.extend(self.channels(dt, p, c))
            elif isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.StringType, T.BooleanType)):
                out.append(Channel(p, c, "categorical", dt.simpleString()))
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                out.append(Channel(p, c, "numeric", dt.simpleString()))
            elif isinstance(dt, T.TimestampType):
                # SURVEY §1.2 extension: timestamp → epoch-seconds
                # double, then the standard z-score numeric channel
                out.append(Channel(p, c, "numeric", "timestamp"))
            elif isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, (T.DoubleType, T.FloatType)
            ):
                # SURVEY §1.2 extension: embedding column → learned
                # affine map [dim → default_size]
                out.append(Channel(p, c, "vector", dt.simpleString()))
            # other types are not featurized (documented type matrix)
        return out

    # -- key discovery: one aggregate query, cached (F1/F2/A1/A2) -----
    def init_keys(self, df: DataFrame, label_col: str | None = None) -> None:
        chans = self.channels(df.schema)
        nums = [ch for ch in chans if ch.kind == "numeric"]
        vecs = [ch for ch in chans if ch.kind == "vector"]

        keys: list[str] = []
        discover: list[Channel] = []
        checks: list[tuple[Channel, str]] = []
        # one (x, k) entry per aggregate group, in the order of
        # checks + nums + vecs (see _stacked_aggregate)
        entries: list[tuple[Column | None, Column | None]] = []
        for ch in chans:
            if ch.kind != "categorical":
                continue
            enumerated = self.strategy.enumerate_keys(ch.path)
            if enumerated is None:
                discover.append(ch)
                continue
            # keys known a priori (hashed buckets, one-hot labels): no
            # data scan, no driver collect; only the values the strategy
            # cannot encode are counted, in the aggregate below
            keys.extend(enumerated)
            check = self.strategy.unencodable(ch.path, ch.dtype, F.col(ch.col))
            if check is not None:
                flag, requirement = check
                entries.append((None, F.when(flag, 1)))
                checks.append((ch, requirement))
        for ch in nums:
            src = F.col(ch.col).cast("double") if ch.dtype == "timestamp" else F.col(ch.col)
            # NaN counts as missing, as in _featurize (z = 0); the
            # moments are exact sums of each value's decimal(14,4)
            entries.append((F.nanvl(src, F.lit(None)), None))
        # the vector dimension: the longest array seen (ragged rows
        # pad/truncate to it in _featurize)
        entries += [(None, F.size(F.col(ch.col))) for ch in vecs]

        # one query for every check, moment and dimension; it raises
        # before the context is touched
        groups = _stacked_aggregate(df, entries)
        num_groups = groups[len(checks) : len(checks) + len(nums)]
        for (ch, requirement), g in zip(checks, groups):
            if g["kcount"]:
                raise ValueError(
                    f"categorical column {ch.col!r} has {g['kcount']} "
                    f"value(s) {type(self.strategy).__name__} cannot encode: "
                    f"each must be {requirement}"
                )
        for ch, g in zip(nums, num_groups):
            if g["n"] - g["nv"]:
                raise ValueError(
                    f"numeric column {ch.col!r} has {g['n'] - g['nv']} "
                    "value(s) outside the exact-moment range: finite, "
                    "|x| < 1e10 at 4 decimals"
                )
            if g["n"] > MAX_MOMENT_ROWS:
                raise ValueError(
                    f"numeric column {ch.col!r} has {g['n']} non-null values, "
                    f"more than the {MAX_MOMENT_ROWS} the exact moments can sum"
                )

        if discover:
            keys.extend(self._discover_keys(df, discover))
        for key in keys:
            if key not in self.context.representations:
                self.context.representations[key] = (
                    self.strategy.initial_representation(key)
                )
            if self.strategy.is_frozen(key):
                self.context.frozen.add(key)

        for ch, g in zip(nums, num_groups):
            n = float(g["n"])
            sv, sq = _exact_sums(g)
            # int / int is correctly rounded, as is Spark's decimal →
            # double cast: these are the doubles of the decimal sums
            # Σx (scale 4) and Σx² (scale 8)
            s, q = sv / 10**4, sq / 10**8
            mean = s / n if n else 0.0
            std = float(np.sqrt(abs(q / n - mean * mean))) if n else 1.0  # F6
            self.context.stats[ch.path] = (n, mean, std if std > 0 else 1.0)
            tkey = f"transform/{ch.path}"
            if tkey not in self.context.transforms:
                size = self.strategy.size(ch.path)
                p = self.strategy.mapping_power
                init = seeded_unit_rms_tensor(tkey, p * size).reshape(p, size)
                self.context.transforms[tkey] = init / np.sqrt(p)

        for ch, g in zip(vecs, groups[len(checks) + len(nums) :]):
            # size(NULL) is -1 with ANSI off: an all-NULL column has no
            # dimension either way
            d = max(int(g["kmax"] or 0), 0)
            key = f"vector/{ch.path}"
            if d and key not in self.context.transforms:
                size = self.strategy.size(ch.path)
                init = seeded_unit_rms_tensor(key, d * size).reshape(d, size)
                # scale so the projected output stays unit-RMS for
                # unit-RMS inputs (same convention as transforms)
                self.context.transforms[key] = init / np.sqrt(d)

    def _discover_keys(self, df: DataFrame, chans: list[Channel]) -> list[str]:
        """The parameter keys of the categorical channels whose keys the
        strategy cannot enumerate: their distinct values, from ONE scan.
        A path whose dictionary exceeds ``max_dictionary_keys`` switches
        to hashed buckets."""
        # explode each row into its (path, value) pairs and distinct
        # once: one pass over the input for C dictionary columns, not C.
        # The distinct's map-side partial aggregation still dedupes
        # before the (path, value) exchange, so shuffle volume matches
        # per-channel distincts, and so does the key set.
        pair_structs = [
            F.struct(
                F.lit(ch.path).alias("path"),
                F.col(ch.col).cast("string").alias("value"),
            )
            for ch in chans
        ]
        keys = (
            df.select(F.explode(F.array(*pair_structs)).alias("pv"))
            .select(F.col("pv.path").alias("path"), F.col("pv.value").alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
        )
        # the cardinality probe and the value collect below are two jobs
        # over the same distinct — pin it so its shuffle runs once (the
        # overflow branch rebinds ``keys`` with a filter on top, so keep
        # the pinned handle for the unpersist)
        keys = pinned = keys.persist()
        out: list[str] = []
        try:
            # cardinality probe BEFORE any row collect: O(paths) rows to
            # the driver, never values. Paths over the cap auto-bucket
            # (hashing trick); only the survivors' values are ever
            # materialized.
            per_path = {
                r["path"]: r["c"]
                for r in keys.groupBy("path").agg(F.count(F.lit(1)).alias("c")).collect()
            }
            over = sorted(p for p, c in per_path.items() if c > self.max_dictionary_keys)
            if over:
                self.strategy = PathBucketedOverlay(
                    self.strategy, over, n_buckets=self.overflow_buckets
                )
                for p in over:
                    out.extend(self.strategy.enumerate_keys(p))
                keys = keys.filter(~F.col("path").isin(*over))
            out.extend(
                self.strategy.key_for(path, value)
                for path, value in sorted((r["path"], r["value"]) for r in keys.collect())
            )
        finally:
            # unpersist on EVERY exit — a probe failure must not leak a
            # cached RDD into a long-lived session
            pinned.unpersist()
        return out

    # -- featurization (executed inside mapInPandas) -------------------
    @staticmethod
    def _featurize(
        pdf: pd.DataFrame,
        chans: list[Channel],
        params: dict[str, np.ndarray],
        stats: dict[str, tuple[float, float, float]],
        skip_paths: set[str],
        strat: ModelingStrategy,
    ) -> tuple[np.ndarray, dict]:
        """Batch → summed feature tensor [n, default_size] (F1+F2 reduced
        by F3 sum). Returns per-channel caches for backward."""
        n, size = len(pdf), strat.default_size
        out = np.zeros((n, size))
        caches: dict = {}
        for ch in chans:
            if ch.path in skip_paths:
                continue
            col = pdf[ch.col.replace(".", "__")]
            if ch.kind == "categorical":
                codes, values = _encode(col, ch.dtype)
                out += _value_table(ch.path, values, params, strat, size)[codes]
                caches[ch.path] = (codes, values)
            elif ch.kind == "vector":
                w = params.get(f"vector/{ch.path}")
                if w is None:
                    continue  # no vectors seen at init (empty column)
                d = w.shape[0]
                mat = np.zeros((n, d))
                for i, v in enumerate(col):
                    if v is None:
                        continue  # null vector -> zero contribution
                    a = np.asarray(v, dtype=np.float64)
                    m = min(d, a.shape[0])
                    mat[i, :m] = a[:m]  # ragged rows pad/truncate
                out += mat @ w
                caches[ch.path] = mat
            else:
                if ch.dtype == "timestamp":
                    # epoch seconds — matches Spark CAST(ts AS DOUBLE),
                    # so executor features use the driver's moments
                    arr = pd.to_datetime(col).to_numpy(dtype="datetime64[ns]")
                    nat = np.isnat(arr)
                    vals_np = arr.astype("int64").astype(np.float64) / 1e9
                    vals_np[nat] = np.nan
                else:
                    vals_np = col.to_numpy(dtype=np.float64)
                _, mean, std = stats[ch.path]
                z = (vals_np - mean) / std
                # null numeric -> z=0 (the mean), mirroring the
                # null-categorical zero-contribution convention
                z = np.nan_to_num(z, nan=0.0)
                feats = np.stack([z**i for i in range(strat.mapping_power)], axis=1)  # [1, z, ...]
                out += feats @ params[f"transform/{ch.path}"]
                caches[ch.path] = feats
        return out, caches

    @staticmethod
    def _route_feature_grads(
        grad_in: np.ndarray,
        chans: list[Channel],
        caches: dict,
        strat: ModelingStrategy,
    ) -> dict[str, np.ndarray]:
        """Route d(loss)/d(features) into embedding and transform
        gradients (reference `DataframeModeler.accumulate`,
        `DataframeModeler.scala:192-211`)."""
        grads: dict[str, np.ndarray] = {}
        for ch in chans:
            if ch.path not in caches:
                continue  # skipped (the label) or an empty vector channel
            if ch.kind == "categorical":
                codes, values = caches[ch.path]
                # one gradient per distinct value, its rows summed in row
                # order; the last row takes code -1 (NULL) and is dropped.
                # Hashed-bucket keys accumulate across colliding values.
                acc = np.zeros((len(values) + 1, grad_in.shape[1]))
                np.add.at(acc, codes, grad_in)
                for v, g in zip(values, acc):
                    key = strat.key_for(ch.path, v)
                    prev = grads.get(key)
                    grads[key] = g if prev is None else prev + g
            elif ch.kind == "vector":
                grads[f"vector/{ch.path}"] = caches[ch.path].T @ grad_in
            else:
                feats = caches[ch.path]
                grads[f"transform/{ch.path}"] = feats.T @ grad_in
        return grads

    def _flat_select(self, df: DataFrame, chans: list[Channel], passthrough: list[str] = ()) -> DataFrame:
        """The ``passthrough`` columns, then the (possibly nested) channel
        columns flattened to top level, so the Arrow batches carry plain
        columns; pushes column pruning into the scan."""
        return df.select(
            *[F.col(c) for c in passthrough],
            *[F.col(ch.col).alias(ch.col.replace(".", "__")) for ch in chans],
        )

    # -- M1: batch inference ------------------------------------------
    def eval_to_dataframe(
        self, df: DataFrame | list[DataFrame], name: str = "features",
        network: Network | None = None,
        label_col: str | None = None, passthrough: list[str] | None = None,
        order_keys: list[list[str]] | None = None,
    ) -> DataFrame:
        """Featurize (plus optional network forward) into a new column
        ``name: array<double>`` (`ModelingStrategy.scala:167-186`).

        ``df`` may be a LIST of DataFrames — the reference's N-ary
        signature (`DataframeModeler.scala:48-50`): the frames are
        positionally zipped (`:246-258`) before featurization, which
        on an unordered relation requires one explicit unique
        ``order_keys`` list per frame (SURVEY §7.3 risk 1).

        ``passthrough`` columns are excluded from featurization and
        copied into the output unchanged — the keyed alternative to
        the reference's positional zip of results back onto inputs.
        """
        if isinstance(df, (list, tuple)):
            from mindseye_dataframes_spark.operators.zip_frames import zip_frames

            if len(df) == 1:
                df = df[0]
            else:
                if order_keys is None:
                    raise ValueError(
                        "zipping multiple frames needs one order_keys list per "
                        "frame: DataFrames are unordered (SURVEY §7.3 risk 1)"
                    )
                df = zip_frames(list(df), order_keys)
        self.release_broadcasts()
        passthrough = passthrough or []
        chans = self.channels(
            T.StructType([f for f in df.schema.fields if f.name not in passthrough])
        )
        skip = {_label_channel(chans, label_col).path} if label_col else set()
        if not self.context.stats and not self.context.representations:
            self.init_keys(df)
        spark = df.sparkSession
        bc = broadcast_value(
            spark,
            (
                self.context.all_params(),
                self.context.stats,
                chans,
                skip,
                network.layers if network else None,
                self.strategy,
            )
        )
        self._live_broadcasts.append(bc)

        featurize = DataframeModeler._featurize

        def infer(batches):
            params, stats, chans_b, skip_b, net_layers, strat = bc.value
            for pdf in batches:
                x, _ = featurize(pdf, chans_b, params, stats, skip_b, strat)
                if net_layers:
                    for layer in net_layers:
                        x, _ = layer.forward(params, x)
                out = pdf[passthrough].copy() if passthrough else pd.DataFrame(index=pdf.index)
                # bulk C-level conversion: ndarray.tolist() on the
                # whole matrix, not a Python loop over 10k rows/batch
                out[name] = x.tolist()
                yield out

        flat = self._flat_select(df, chans, passthrough)
        out_schema = ", ".join(
            [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in passthrough]
            + [f"{name} array<double>"]
        )
        return flat.mapInPandas(infer, schema=out_schema)

    # -- M2: distributed forward+backward ------------------------------
    def eval(
        self, df: DataFrame, network: Network, label_col: str,
        loss_only: bool = False,
        params_override: dict[str, np.ndarray] | None = None,
    ) -> tuple[float, dict[str, np.ndarray]]:
        """One distributed forward+backward pass: returns (mean loss,
        gradients by param key). Per-partition partial gradients are merged
        by a distributed groupBy-key array sum in partition order
        (``merge_group``); only final per-key gradients reach the driver.

        ``loss_only`` skips the backward pass and gradient shuffle — the
        cheap forward probe the bisection line search runs several times
        per optimizer step. It is one Spark job: the per-partition loss
        rows (one per partition) are summed on the driver, in partition
        order, by the same ``Series.sum`` the merge applies.
        ``params_override`` evaluates a trial parameter set without
        mutating the context."""
        chans = self.channels(df.schema)
        label_chan = _label_channel(chans, label_col)
        skip = {label_chan.path}
        spark = df.sparkSession
        eval_params = (
            params_override if params_override is not None
            else self.context.all_params()
        )
        bc = broadcast_value(
            spark,
            (
                eval_params,
                self.context.stats,
                chans,
                skip,
                network,
                label_chan,
                self.strategy,
                loss_only,
            )
        )
        featurize = DataframeModeler._featurize
        route = DataframeModeler._route_feature_grads

        def fwd_bwd(batches):
            params, stats, chans_b, skip_b, net, lchan, strat, fwd_only = bc.value
            acc: dict[str, np.ndarray] = {}
            loss_sum, n_rows = 0.0, 0
            for pdf in batches:
                # rows with a NULL label are left out of the loss
                codes, values = _encode(pdf[lchan.col.replace(".", "__")], lchan.dtype)
                keep = codes >= 0
                if not keep.any():
                    continue
                if not keep.all():
                    pdf, codes = pdf[keep].reset_index(drop=True), codes[keep]
                x, caches = featurize(pdf, chans_b, params, stats, skip_b, strat)
                target = _value_table(lchan.path, values, params, strat, strat.size(lchan.path))[codes]
                w = len(pdf)
                if fwd_only:
                    logits, _ = net.forward(params, x)
                    loss, _, _ = net.head.forward_loss(logits, target)
                    loss_sum += loss * w
                    n_rows += w
                    continue
                loss, grads, grad_x = net.loss_and_grads(params, x, target)
                grads.update(route(grad_x, chans_b, caches, strat))
                loss_sum += loss * w
                n_rows += w
                # loss_and_grads returns batch-MEAN gradients; convert
                # to sums so partitions of unequal size merge correctly
                # (global mean applied once, after the merge)
                for k, g in grads.items():
                    prev = acc.get(k)
                    gw = g * w
                    acc[k] = gw if prev is None else prev + gw
            part = TaskContext.get().partitionId()
            rows = [(k, v.ravel().tolist(), 0.0, 0, part) for k, v in acc.items()]
            rows.append((LOSS_KEY, [], loss_sum, n_rows, part))
            yield pd.DataFrame(rows, columns=["key", "grad", "loss", "n", "part"])

        flat = self._flat_select(df, chans)
        partials = flat.mapInPandas(fwd_bwd, schema=_PARTIALS_SCHEMA)
        if loss_only:
            loss_rows = partials.select("loss", "n").toPandas()
            bc.unpersist()
            n_total = max(int(loss_rows["n"].sum()), 1)
            return (float(loss_rows["loss"].sum()) / n_total, {})

        merged = partials.groupBy("key").applyInPandas(merge_group, schema=_MERGED_SCHEMA)
        loss_total, n_total = 0.0, 0
        grads: dict[str, np.ndarray] = {}
        params = eval_params
        for row in merged.collect():
            if row["key"] == LOSS_KEY:
                loss_total, n_total = row["loss"], row["n"]
            else:
                shape = params[row["key"]].shape if row["key"] in params else None
                g = np.array(row["grad"])
                grads[row["key"]] = g.reshape(shape) if shape else g
        bc.unpersist()
        n_total = max(n_total, 1)
        for k in grads:
            grads[k] = grads[k] / n_total
        return (loss_total / n_total, grads)

    # -- M3/M4: training loop ------------------------------------------
    def _line_search(
        self,
        batch: DataFrame,
        network: Network,
        label_col: str,
        grads: dict[str, np.ndarray],
        f0: float,
        t0: float,
        max_probes: int = 3,
    ) -> float:
        """Bisection line search over the step size (the reference's
        ``BisectionSearch``, `Trainer.scala:68-69,183-184`): ≥2
        loss-only distributed probes per optimizer step, each a forward
        pass over the SAME persisted batch (the probe cache — the
        featurized tensors themselves cannot be reused across probes
        because trial parameters change the featurization). Expands the
        step while the loss improves, halves it while it regresses;
        returns the best improving step, or 0.0 when none was found."""
        base = self.context.all_params()
        frozen = self.context.frozen

        def probe(t: float) -> float:
            trial = dict(base)
            for k, g in grads.items():
                if k in trial and k not in frozen:
                    trial[k] = trial[k] - t * g
            loss, _ = self.eval(
                batch, network, label_col, loss_only=True, params_override=trial
            )
            return loss

        probes: list[tuple[float, float]] = [(t0, probe(t0))]
        if probes[-1][1] < f0:
            while len(probes) < max(2, max_probes):
                t_next = probes[-1][0] * 2.0
                f_next = probe(t_next)
                probes.append((t_next, f_next))
                if f_next >= probes[-2][1]:
                    break
        else:
            while len(probes) < max(2, max_probes):
                t_next = probes[-1][0] / 2.0
                f_next = probe(t_next)
                probes.append((t_next, f_next))
                if f_next < f0:
                    break
        self.probe_history.append(len(probes))
        best_t, best_f = min(probes, key=lambda p: p[1])
        return best_t if best_f < f0 else 0.0

    def fit(
        self,
        df: DataFrame,
        network: Network,
        label_col: str,
        fractions: list[float] = (0.1, 0.2),
        max_iters: int = 10,
        lr: float = 0.1,
        seed: int = 42,
        max_probes: int = 3,
    ) -> list[float]:
        """Epoch schedule over sample fractions with gradient descent
        and a bisection line search per step, mirroring the reference's
        ``GradientDescent`` + ``BisectionSearch``
        (`Trainer.scala:68-71,170-193`). Each epoch's sampled batch is
        persisted once (MEMORY_ONLY serialized, the reference's working
        tier `Trainer.scala:174`) and shared by the gradient pass and
        every line-search probe. Seeded sampling — the reference left
        it unseeded (SURVEY §7.3 risk 4). Within an epoch the loss is
        monotone non-increasing: a step is taken only when a probe
        confirmed it improves the (deterministic) batch loss."""
        from mindseye_dataframes_spark.sources.staging import stage

        _label_channel(self.channels(df.schema), label_col)
        if not self.context.representations and not self.context.stats:
            self.init_keys(df, label_col)
        for key, arr in network.init_params().items():
            self.context.layers.setdefault(key, arr)
        losses: list[float] = []
        self.probe_history: list[int] = []
        for epoch, fraction in enumerate(fractions):
            batch = df.sample(fraction=min(fraction, 1.0), seed=seed + epoch)
            batch = stage(batch, "working")
            try:
                step = lr
                for _ in range(max_iters):
                    loss, grads = self.eval(batch, network, label_col)
                    losses.append(loss)
                    step = self._line_search(
                        batch, network, label_col, grads, loss, step, max_probes
                    )
                    if step == 0.0:
                        break  # no improving step on this batch
                    self.context.apply_gradients(grads, step)
            finally:
                batch.unpersist()
        return losses
