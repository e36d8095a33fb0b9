"""Positional zip of N DataFrames (SURVEY §2A J1).

The reference aligns rows of several DataFrames *by position*:
``rdd.zipWithIndex`` per input, re-key ``(idx → row)``, pairwise inner
equi-join on the index, schemas concatenated
(`DataframeModeler.scala:246-258`, used at `Trainer.scala:196-200`).

DataFrames are unordered, so positional semantics need a defined row
order. The public API therefore takes an explicit **unique, non-null**
order key per input (SURVEY §7.3 risk 1). The dense row index is
computed without a single-partition global sort, by one of two
strategies:

**Sampled-boundary path** (default when the input plan is only
scan/project/filter — i.e. cheap and deterministic to recompute):

1. one column-pruned pass collects a deterministic hash-sample of the
   order keys (md5-threshold, O(sample) to the driver) from which
   global range-boundary literals are derived,
2. every row's range bucket is then a *pure expression* (struct
   comparisons against those literals) — deterministic, so the
   per-bucket counts branch and the ``row_number`` branch can each
   recompute it from the scan with no persisted snapshot and no
   boundary-resampling hazard,
3. bucket counts → cumulative offsets (O(buckets) window) are
   broadcast back; ``index = offset + local_rank - 1``.

This shuffles the full rows exactly once (by bucket, for the local
rank) and never materializes a cache — at 100 TB the only wide cost
is that one shuffle, and the sample pass reads just the key columns.

**Persisted-range path** (fallback for expensive upstreams — joins,
aggregates, UDF stages): ``repartitionByRange`` + persist. Spark's
RangePartitioner seeds boundary sampling with the RDD id, so
re-computing the exchange can pick different boundaries; pinning the
materialized partitions is the only sound way to reference that
partitioning twice. This pays one materialization but evaluates the
upstream once instead of three times.

Both paths are what RDD ``zipWithIndex`` does physically, expressed in
the DataFrame API so the rest of the plan stays in Catalyst.
"""

from __future__ import annotations

import builtins
import re
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

ROW_INDEX = "_zip_index"

# logical-plan nodes that are cheap + deterministic to re-evaluate:
# anything else (Join/Aggregate/Window/Generate/Sample/...) makes the
# input worth persisting instead of recomputing per branch
_RESCAN_CHEAP_NODES = frozenset(
    {"Project", "Filter", "Relation", "LocalRelation", "InMemoryRelation", "Range"}
)
_NODE_RE = re.compile(r"[A-Za-z]+")


def _rescan_cheap(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan contains only scan / project /
    filter nodes, so evaluating it three times costs three pruned scans
    rather than three joins."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return False  # non-classic backend: be conservative
    for line in tree.splitlines():
        m = _NODE_RE.search(line)
        if m and m.group(0) not in _RESCAN_CHEAP_NODES:
            return False
    return True


def _default_partitions(df: DataFrame) -> int:
    # scale the exchange with the input, not the cluster: a single-file
    # local input doesn't need defaultParallelism-wide shuffles
    # (measured 30% faster at sf0.1), while a many-split cluster input
    # still fans out to full parallelism
    from mindseye_dataframes_spark.plans.parallelism import (
        default_parallelism,
        scan_partitions,
    )

    inp = scan_partitions(df)
    return min(default_parallelism(df.sparkSession), max(4, inp * 2))


# (applicationId, analyzed-plan semanticHash, order_keys, parts) →
# boundary tuples. Boundaries are a pure function of the (immutable)
# input data, so like ``plans.parallelism._PARTS_CACHE`` the two probe
# jobs are paid once per distinct plan per session, not per query run.
_BOUNDS_CACHE: dict[tuple, list[tuple]] = {}


def _sample_boundaries(
    df: DataFrame, order_keys: list[str], parts: int
) -> list[tuple]:
    """Deterministic range boundaries: hash-sample the key columns
    (pure function of the data — same rows every run, any partitioning)
    and take evenly spaced picks from the sorted sample. O(sample) on
    the driver; one column-pruned pass over the input."""
    try:
        from mindseye_dataframes_spark.compat import session_key

        # public API (3.1+, Connect since 3.5) — no JVM handle
        cache_key = (
            session_key(df.sparkSession),
            df.semanticHash(),
            tuple(order_keys),
            parts,
        )
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _BOUNDS_CACHE:
        return _BOUNDS_CACHE[cache_key]
    bounds = _compute_boundaries(df, order_keys, parts)
    if cache_key is not None:
        # bounded memo: a long-lived session zipping many distinct
        # plans must not grow the driver dict forever; dropping it all
        # only costs re-running the one keys-only probe per plan
        if len(_BOUNDS_CACHE) >= 256:
            _BOUNDS_CACHE.clear()
        _BOUNDS_CACHE[cache_key] = bounds
    return bounds


def _compute_boundaries(
    df: DataFrame, order_keys: list[str], parts: int
) -> list[tuple]:
    if parts <= 1:
        return []
    # Bottom-k sketch: the keys of the k smallest hash values are a
    # uniform without-replacement sample of exactly min(k, n) rows —
    # no count job to calibrate a sampling rate, so boundary
    # derivation is ONE keys-only TakeOrderedAndProject over the
    # pruned scan (was count + filtered collect, two driver jobs;
    # VERDICT r4 item 3). Ties on the hash break by the key itself,
    # keeping the sample deterministic at the k-th boundary.
    k = parts * 40
    # xxhash64 over the typed key columns: JVM-native, no string casts
    # — measured 3.5× cheaper than the previous md5-substring fold at
    # sf1, and boundary CHOICE doesn't affect output (the index is the
    # global key rank whatever the buckets are), only balance
    h = F.xxhash64(*[F.col(c) for c in order_keys])
    sample = [
        tuple(r)[1:]
        for r in df.select(h.alias("_zip_h"), *order_keys)
        .orderBy("_zip_h", *order_keys)
        .limit(k)
        .collect()
    ]
    if not sample:
        return []
    sample.sort()
    step = builtins.max(1, len(sample) // parts)
    picks = sample[step::step][: parts - 1]
    # drop duplicate boundaries (near-constant keys): fewer, valid buckets
    out: list[tuple] = []
    for b in picks:
        if not out or b != out[-1]:
            out.append(b)
    return out


def _bucket_expr(df: DataFrame, order_keys: list[str], boundaries: list[tuple]):
    """bucket = number of boundaries ≤ key (struct comparison against
    literals — lexicographic, deterministic, whole-stage codegen)."""
    if not boundaries:
        return F.lit(0)
    dtypes = dict(df.select(*order_keys).dtypes)
    key_struct = F.struct(*[F.col(k) for k in order_keys])
    acc = F.lit(0)
    for b in boundaries:
        lit_struct = F.struct(
            *[
                F.lit(v).cast(dtypes[k]).alias(k)
                for k, v in zip(order_keys, b)
            ]
        )
        acc = acc + F.when(key_struct >= lit_struct, 1).otherwise(0)
    return acc


def _attach_index(
    bucketed: DataFrame, order_keys: list[str], index_col: str
) -> DataFrame:
    """Shared tail: per-bucket counts → cumulative offsets (broadcast,
    O(buckets)) + local rank → dense global index.

    The counts branch is a SEPARATE pruned pass (scan + bucket expr +
    map-side partial agg shuffling O(buckets) rows). Folding it onto
    the rank window's exchange via ReuseExchange was tried and does
    NOT work: column pruning under the explicit repartition makes the
    two exchanges non-identical, so the "fold" silently becomes a
    full-width second shuffle — worse than the pruned scan it saves.
    An r14 variant ran the counts as an EAGER collect at plan-build
    time and embedded the offsets as an array literal (dropping the
    counts subtree, the cumulative window and the broadcast join from
    the plan) — measured a q13 REGRESSION at sf0.1 (1.51 → 1.92 s
    warm min-of-3 noop): the two per-frame collect jobs serialize
    driver round-trips that the single-action form overlaps inside
    one job DAG. Lazy subtree kept."""
    keys = [F.col(k) for k in order_keys]
    counts = bucketed.groupBy("_zip_part").agg(F.count(F.lit(1)).alias("_zip_n"))
    # This window is intentionally unpartitioned: the frame is the
    # O(buckets) counts table, tiny by construction. (A lit(0)
    # partition key would NOT silence the WindowExec warning — Spark
    # 4's EliminateWindowPartitions folds it away; the warning is
    # muted at the logger in session.py, and the real guardrail is
    # tests/test_plans.py::test_no_single_partition_exchange_on_data_paths.)
    cum = Window.orderBy("_zip_part").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_zip_part",
        F.coalesce(F.sum("_zip_n").over(cum), F.lit(0)).alias("_zip_offset"),
    )
    local = Window.partitionBy("_zip_part").orderBy(*keys)
    return (
        bucketed.withColumn("_zip_local", F.row_number().over(local))
        .join(F.broadcast(offsets), "_zip_part")
        .withColumn(index_col, (F.col("_zip_offset") + F.col("_zip_local") - 1))
        .drop("_zip_part", "_zip_local", "_zip_offset")
    )


def with_row_index(
    df: DataFrame,
    order_keys: list[str],
    index_col: str = ROW_INDEX,
) -> DataFrame:
    """Add a dense 0-based row index following ``order_keys`` order.

    ``order_keys`` must be a non-null key that is unique — OR whose
    tied rows are identical in every carried column. Equal keys have
    no defined position, so with distinct payloads behind a tie the
    (index → payload) mapping is engine/partition-arbitrary (a latent
    cross-engine flake); identical tied rows make every tie
    permutation the same output multiset, which is the determinism
    the oracle hash actually needs (the q13 lesson).

    The path follows the plan shape (``_rescan_cheap``): the
    sampled-boundary path evaluates the input once full-width plus two
    column-pruned passes, the persisted-range path evaluates it once
    and pays one materialization.
    """
    parts = _default_partitions(df)

    if _rescan_cheap(df):
        boundaries = _sample_boundaries(df, order_keys, parts)
        bucketed = df.withColumn(
            "_zip_part", _bucket_expr(df, order_keys, boundaries)
        )
        return _attach_index(bucketed, order_keys, index_col)

    keys = [F.col(k) for k in order_keys]
    ranged = (
        df.repartitionByRange(parts, *keys)
        .withColumn("_zip_part", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # This action materializes the cache, freezing partition boundaries
    # (see module docstring); only counts reach the driver, never rows.
    ranged.count()
    return _attach_index(ranged, order_keys, index_col)


def _strip_projects(df: DataFrame):
    """(core plan, {output name → base attribute name or None}) after
    removing the top chain of Project nodes from the optimized plan.
    Computed (non-rename) outputs map to None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    subst: dict[str, str | None] = {}
    first = True
    while plan.getClass().getSimpleName() == "Project":
        pl = plan.projectList()
        m: dict[str, str | None] = {}
        for i in range(pl.size()):
            ne = pl.apply(i)
            cls = ne.getClass().getSimpleName()
            if cls == "Alias":
                child = ne.child()
                m[ne.name()] = (
                    child.name()
                    if child.getClass().getSimpleName() == "AttributeReference"
                    else None
                )
            elif cls == "AttributeReference":
                m[ne.name()] = ne.name()
            else:
                m[ne.name()] = None
        if first:
            subst, first = m, False
        else:
            subst = {
                k: (m.get(v) if v is not None else None) for k, v in subst.items()
            }
        plan = plan.child()
    if first:  # no Project on top: identity mapping over the plan output
        out = plan.output()
        subst = {out.apply(i).name(): out.apply(i).name() for i in range(out.size())}
    return plan, subst


def _common_source_keys(
    frames: list[DataFrame], order_keys: list[list[str]]
) -> bool:
    """True iff every frame is a column-level projection of the SAME
    underlying relation (identical scans + filters, via Catalyst
    ``sameResult`` on the Project-stripped plans) and every frame's
    order keys are renames of the SAME base column sequence. Then row
    position under each frame's own order coincides with base-key
    equality, so the positional zip can join on the keys directly —
    no per-frame row indexes. Any doubt (computed keys, differing
    filters, py4j surprises) returns False → generic path."""
    try:
        cores, maps = [], []
        for df in frames:
            core, m = _strip_projects(df)
            cores.append(core)
            maps.append(m)
        if not all(cores[0].sameResult(c) for c in cores[1:]):
            return False
        base_seqs = []
        for m, keys in zip(maps, order_keys):
            seq = [m.get(k) for k in keys]
            if any(s is None for s in seq):
                return False
            base_seqs.append(seq)
        return all(seq == base_seqs[0] for seq in base_seqs[1:])
    except Exception:
        return False


def zip_frames(
    frames: list[DataFrame],
    order_keys: list[list[str]],
    index_col: str | None = None,
) -> DataFrame:
    """Inner-join N DataFrames on row position (reference J1 semantics,
    `DataframeModeler.scala:246-250`): row i of the result concatenates
    row i of every input under its own order. Column names must be
    disjoint across inputs. Keeps the index when ``index_col`` given.

    Common-source fusion: when every input is a projection of the same
    relation ordered by renames of the SAME base key sequence (the
    feature-subset shape ``eval_to_dataframe`` zips), the positional
    join IS a key equi-join, so the N per-frame index computations
    collapse to key joins plus (if an index is wanted) ONE narrow
    keys-only index. Detection is plan-exact (Catalyst ``sameResult``
    on Project-stripped plans) and falls back to the generic
    per-frame-index path on any uncertainty — including q13's shape,
    where each frame deliberately orders by a DIFFERENT key sequence
    and positional alignment is genuinely index-based.
    """
    if len(frames) != len(order_keys):
        raise ValueError("one order_keys list per frame")

    if len(frames) > 1 and _common_source_keys(frames, order_keys):
        # with_row_index's relaxed contract admits NON-unique keys whose
        # tied rows are payload-identical; a bare key equi-join would
        # fan a t-row tie group out to t² rows, silently diverging from
        # the generic path's t. A per-key-group row_number tie-breaker
        # on every side restores exact cardinality (t payload-identical
        # rows) and is plan-cheap: the window's hash exchange on the
        # keys is a subset of the join's clustering, so EnsureRequirements
        # adds no second shuffle — only the within-group sort.
        def _with_tie(df: DataFrame, keys: list[str], tie: str) -> DataFrame:
            w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
                *[F.col(k) for k in keys]
            )
            return df.withColumn(tie, F.row_number().over(w))

        joined = _with_tie(frames[0], order_keys[0], "_zip_tie_0")
        for i, (df, keys) in enumerate(zip(frames[1:], order_keys[1:]), start=1):
            tie_i = f"_zip_tie_{i}"
            df = _with_tie(df, keys, tie_i)
            cond = joined["_zip_tie_0"] == df[tie_i]
            for k0, ki in zip(order_keys[0], keys):
                cond = cond & (joined[k0] == df[ki])
            joined = joined.join(df, cond, "inner").drop(df[tie_i])
        if index_col:
            idx = with_row_index(
                frames[0].select(*order_keys[0]), order_keys[0], index_col
            )
            idx = idx.withColumn(
                "_zip_tie_idx",
                F.row_number().over(
                    Window.partitionBy(
                        *[F.col(k) for k in order_keys[0]]
                    ).orderBy(index_col)
                ),
            )
            cond = joined["_zip_tie_0"] == idx["_zip_tie_idx"]
            for k0 in order_keys[0]:
                cond = cond & (joined[k0] == idx[k0])
            joined = joined.join(idx, cond, "inner").drop(idx["_zip_tie_idx"])
            for k0 in order_keys[0]:
                joined = joined.drop(idx[k0])
        return joined.drop("_zip_tie_0")

    indexed = [
        with_row_index(df, keys, ROW_INDEX) for df, keys in zip(frames, order_keys)
    ]
    # A fixed join strategy: left to AQE, a small-input join here
    # broadcasts whichever indexed frame's stage finishes first, so the
    # executed plan (and its generated classes) would vary from run to
    # run. At scale AQE plans a shuffle join here anyway.
    joined = reduce(
        lambda a, b: a.join(b.hint("shuffle_merge"), ROW_INDEX, "inner"), indexed
    )
    if index_col:
        joined = joined.withColumnRenamed(ROW_INDEX, index_col)
    else:
        joined = joined.drop(ROW_INDEX)
    return joined
