"""Similarity search over embedding columns (north-star §2B ★).

- ``cosine_topk``: exact brute-force top-k — the baseline. Queries are
  broadcast (they're the small side by construction), so the corpus
  never shuffles: scan → per-row k-element heap via window rank.
- ``lsh_signs`` / ``ann_topk_lsh``: random-hyperplane LSH — the scale
  path. Bucket id = sign bits of ``planes · v``; candidates probe only
  their own bucket, turning O(|Q|·|C|) into O(|Q|·|bucket|).

Hyperplanes are derived deterministically from a seed so results are
reproducible and the oracle can inline the same planes as literals.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mindseye_dataframes_spark.functions.vectors import cosine_ranked, dot, norm


def lsh_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit-normal entries)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_signs(vec: F.Column | str, planes: list[list[float]]) -> F.Column:
    """Bucket id: bit i = 1 iff planes[i]·vec > 0."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = F.lit([float(x) for x in plane])
        bucket = bucket + F.when(dot(lit_plane, v) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def _scored_cosine_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    pair_filter: F.Column | None = None,
) -> DataFrame:
    """(query_id, corpus_id, cos_r) for every (broadcast query ×
    corpus-scan) pair — the exact scoring ``cosine_topk`` ranks on.
    ``pair_filter`` (optional) excludes pairs BEFORE ranking, e.g.
    ``F.col(corpus_id) != F.col(query_id)`` for self-exclusion in a
    shared id space. Norms are precomputed per ROW before the cross
    join (|Q| + |C| folds) instead of per PAIR inside ``cosine``
    (2·|Q|·|C| folds) — ~3× less arithmetic per candidate with a
    bitwise-identical result (same fold expression, same IEEE
    multiply/divide order)."""
    from mindseye_dataframes_spark.functions.vectors import norm

    q_n = queries.withColumn("_qn", norm(query_vec))
    c_n = corpus.withColumn("_cn", norm(corpus_vec))
    pairs = F.broadcast(q_n).crossJoin(c_n)
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    return pairs.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            dot(query_vec, corpus_vec) / (F.col("_qn") * F.col("_cn")), 9
        ).alias("cos_r"),
    )


def _rank_topk(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """The shared final ranking: (cos_r desc, corpus_id asc) per query
    — NaN scores rank FIRST (Spark treats NaN as greater than any
    double under desc)."""
    w = Window.partitionBy(query_id).orderBy(F.col("cos_r").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", corpus_id, "cos_r")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
) -> DataFrame:
    """Exact top-k by cosine; rank = (round(cos,9) desc, corpus_id) so
    results are deterministic and engine-comparable. Scoring and
    ranking live in ``_scored_cosine_pairs`` / ``_rank_topk``; the
    ranking is shared verbatim with ``cosine_topk_gemm``."""
    scored = _scored_cosine_pairs(
        queries, corpus, query_id, query_vec, corpus_id, corpus_vec
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def cosine_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    q_tag: str | None = None,
    c_tag: str | None = None,
    margin: float = 1e-6,
) -> DataFrame:
    """``cosine_topk`` with BLAS candidate generation and a
    partition-local prune — the block-GEMM scheme of
    ``allpairs_cosine_threshold`` applied to the bounded-queries top-k
    shape (VERDICT r13 item 5): identical results, but the per-pair
    scoring runs as ONE numpy matrix multiply per Arrow batch instead
    of a |Q|·|C| interpreted ``aggregate``-fold tree (HOFs are never codegen'd; measured
    ~10×/element slower than vectorized numpy).

    Exactness: per partition the UDF keeps, per query, every corpus
    row whose GEMM cosine is within ``margin`` of the partition's
    k-th best. GEMM (pairwise summation) differs from the engines'
    sequential fold by ~1e-13 relative and the ranking grid is
    round(·, 9), so any row excluded here sits > margin − 3ε below k
    true scores — strictly below them after rounding, hence provably
    outside the true top-k for ANY id tiebreak. Survivors (≤ |Q|·k
    plus margin-ties per partition, so the rank window's input no
    longer grows with |C|) are re-scored with the SAME
    ``cosine_ranked`` sequential fold and ranked by the shared
    ``_rank_topk`` window, so emitted values are bit-identical.
    Equality is property-pinned in tests/test_properties.py.

    NaN/NULL parity with the exact scorer: zero-norm corpus vectors
    (cosine NaN, ranks FIRST) are force-kept in every partition pool;
    a zero-norm QUERY scores NaN against everything, so its true
    top-k is the k smallest corpus ids — the pool keeps exactly
    those; NULL corpus vectors (cosine NULL, ranks LAST) are kept as
    a k-smallest-id backfill tail so under-filled queries still match.

    ``q_tag``/``c_tag`` express the pre-rank pair filter both callers
    use — a pair is EXCLUDED when its tags are equal (q184:
    tag = the shared id space, self-exclusion; q194: tag = label,
    hard-negative mining). Excluded pairs never enter a pool.

    The query side is collected to the driver (it is the bounded,
    broadcast-small side by construction — same posture as
    ``ivf_centroids``); the corpus is scanned once, never shuffled
    beyond the small-input parallelism widening."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from mindseye_dataframes_spark.plans.parallelism import (
        ensure_min_parallelism,
    )

    # dedupe: a tag may BE the id column (q184's self-exclusion) — a
    # duplicate name in select() gets mangled by the Arrow hop
    q_cols = list(dict.fromkeys(
        [query_id, query_vec] + ([q_tag] if q_tag else [])
    ))
    qrows = queries.select(*q_cols).collect()
    if not qrows:
        schema = T.StructType(
            [
                T.StructField(query_id, queries.schema[query_id].dataType),
                T.StructField("rank", T.IntegerType()),
                T.StructField(corpus_id, corpus.schema[corpus_id].dataType),
                T.StructField("cos_r", T.DoubleType()),
            ]
        )
        return queries.sparkSession.createDataFrame([], schema)
    qids = [r[query_id] for r in qrows]
    qmat = np.array([list(r[query_vec]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    # zero-norm AND NaN-component queries score NaN against every
    # corpus row under the exact fold — both take the zpool path
    qzero = (qnorm == 0.0) | np.isnan(qnorm)
    qunit = qmat / np.where(qzero, 1.0, qnorm)[:, None]
    qtags = [r[q_tag] for r in qrows] if q_tag else None
    nq = len(qids)
    lo_margin = float(margin)

    c_cols = list(dict.fromkeys(
        [corpus_id, corpus_vec] + ([c_tag] if c_tag else [])
    ))
    src = ensure_min_parallelism(corpus.select(*c_cols), corpus_id)

    # candidates leave the UDF as bare (query_id, corpus_id) PAIRS —
    # never vectors: the Arrow hop folds NaN into pandas' missing-value
    # sentinel (the round-6 NaN-divergence lesson), so a NaN-
    # component vector carried through Python would come back as NULL
    # elements and the exact re-verify would score NULL instead of
    # NaN. Vectors re-attach JVM-side via broadcast joins below.
    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            corpus.schema[corpus_id],
        ]
    )

    live_q = [q for q in range(nq) if not qzero[q]]

    def gen(batches):
        # per-query candidate pools: scores + corpus ids only
        pool_s = {q: np.empty(0, dtype=np.float64) for q in live_q}
        pool_c: dict = {q: [] for q in live_q}
        # a zero-norm QUERY cosines NaN against everything, so its
        # true top-k is the k smallest (non-excluded) corpus ids
        zpool: dict = {q: [] for q in range(nq) if qzero[q]}
        null_ids: list = []  # (id, tag): NULL-vector rank-last tail

        for pdf in batches:
            vv = pdf[corpus_vec]
            nonnull = vv.notna().to_numpy()
            ids_all = pdf[corpus_id].to_numpy()
            tags_all = pdf[c_tag].to_numpy() if c_tag else None
            if (~nonnull).any():
                null_ids = sorted(
                    null_ids
                    + [
                        (ids_all[i], tags_all[i] if c_tag else None)
                        for i in np.nonzero(~nonnull)[0]
                    ]
                )[: k]
            idx = np.nonzero(nonnull)[0]
            if len(idx) == 0:
                continue
            ids = ids_all[idx]
            ctags = tags_all[idx] if c_tag else None
            mat = np.vstack(vv.iloc[idx].to_list()).astype(np.float64)
            cnorm = np.linalg.norm(mat, axis=1)
            # zero-norm AND NaN-component corpus vectors cosine to NaN
            # under the exact fold, which ranks FIRST — force-keep both
            czero = (cnorm == 0.0) | np.isnan(cnorm)
            cunit = mat / np.where(czero, 1.0, cnorm)[:, None]
            sims = qunit @ cunit.T  # the O(|Q|·|C|) inner loop, in BLAS
            sims[:, czero] = np.inf  # NaN cosine ranks FIRST: force-keep
            for q in live_q:
                row, bids = sims[q], ids
                if ctags is not None:
                    keep = ctags != qtags[q]
                    if not keep.all():
                        row, bids = row[keep], bids[keep]
                s = np.concatenate((pool_s[q], row))
                c = pool_c[q] + list(bids)
                if len(s) > k:
                    kth = np.partition(s, -k)[-k]
                    sel = s >= kth - lo_margin
                    s = s[sel]
                    c = [c[i] for i in np.nonzero(sel)[0]]
                pool_s[q], pool_c[q] = s, c
            for q in zpool:
                bids = ids
                if ctags is not None:
                    bids = bids[ctags != qtags[q]]
                zpool[q] = sorted(zpool[q] + list(bids))[: k]

        out_q, out_c = [], []
        for q in range(nq):
            cand = zpool[q] if qzero[q] else pool_c[q]
            tail = [
                i
                for i, t in null_ids
                if (qtags is None or t != qtags[q]) and i not in cand
            ]
            cand = list(cand) + tail
            out_q.extend([qids[q]] * len(cand))
            out_c.extend(cand)
        if not out_q:
            return
        yield pd.DataFrame({query_id: out_q, corpus_id: out_c})

    cand = src.mapInPandas(gen, schema=out_schema)
    # exact re-verify: broadcast the O(|Q|·k·partitions) pair relation
    # against the corpus scan (corpus never shuffles) and the bounded
    # query side, then score with the engines' sequential fold
    qv_side = queries.select(query_id, query_vec)
    # fresh aliases on the re-scan: cand shares the corpus lineage, so
    # joining back on the original names would collide attribute ids
    cv_side = corpus.select(
        F.col(corpus_id).alias("_gv_cid"), F.col(corpus_vec).alias("_gv_cv")
    )
    scored = (
        cv_side.join(
            F.broadcast(cand), F.col("_gv_cid") == F.col(corpus_id)
        )
        .join(F.broadcast(qv_side), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine_ranked(query_vec, "_gv_cv").alias("cos_r"),
        )
    )
    return _rank_topk(scored, query_id, corpus_id, k)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.
    One equi-join on bucket id — no cross product. Recall is tunable
    via n_planes (fewer planes → bigger buckets → higher recall)."""
    probe = corpus.select(F.size(corpus_vec).alias("d")).limit(1).collect()
    if not probe:  # empty corpus → empty result, same as exact top-k
        spark = corpus.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(query_id, queries.schema[query_id].dataType),
                T.StructField("rank", T.IntegerType()),
                T.StructField(corpus_id, corpus.schema[corpus_id].dataType),
                T.StructField("cos_r", T.DoubleType()),
            ]
        )
        return spark.createDataFrame([], schema)
    dim = probe[0]["d"]
    planes = lsh_planes(dim, n_planes, seed)
    q = queries.select(
        F.col(query_id), F.col(query_vec), lsh_signs(query_vec, planes).alias("bucket")
    )
    c = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), lsh_signs(corpus_vec, planes).alias("bucket")
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine_ranked(query_vec, corpus_vec).alias("cos_r"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_r").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", corpus_id, "cos_r")
    )


def allpairs_cosine_threshold(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    rows_per_block: int = 1024,
    margin: float = 1e-6,
) -> DataFrame:
    """EXACT all-pairs cosine-threshold join with NO cartesian or
    theta-join in the plan (VERDICT r12 item 3): block-partitioned
    "triangle" candidate generation + exact re-verify.

    Why not LSH: at a loose threshold like 0.4 the per-hyperplane
    agreement probability is 1 - arccos(t)/π ≈ 0.63, so driving the
    miss probability of a boundary pair to ~0 needs so many tables
    that candidate volume exceeds all-pairs — provable coverage is
    impractical (the fixture has pairs AT the threshold). Exact
    θ-threshold listing is inherently O(n²) compare work; what a
    distributed engine can choose is HOW that work is shaped:

    - each row is hashed to one of B blocks (B = ⌈n/rows_per_block⌉)
      and replicated to the B block-pairs (i,j), i ≤ j, it belongs
      to — O(n·B) communication, vs. the old broadcast
      nested-loop theta-join whose probe side re-evaluated an
      interpreted 64-term fold per pair;
    - each block-pair group computes its pairwise cosines as ONE
      numpy/BLAS matrix multiply (Arrow batch in, C loop) with an
      ε-margin prefilter — ~2 orders of magnitude faster per pair
      than per-row JVM expression eval, and the B(B+1)/2 tasks
      spread evenly across executors (no skew: blocks are
      hash-sized);
    - survivors (≈ output size) are re-verified with the SAME
      ``cosine_ranked`` sequential fold the oracle agrees with, via
      two shuffle equi-joins back to the vectors — so emitted VALUES
      are bit-identical to the previous implementation and the 1-ulp
      GEMM-vs-fold difference cannot flip a round(·,9) boundary
      (margin 1e-6 ≫ 1e-13 double-dot error at fixture dims).

    Zero-norm vectors cosine to NaN, which both engines order ABOVE
    any threshold (Spark and DuckDB rank NaN greatest), so pairs
    involving them are force-included as candidates and the exact
    stage reproduces today's NaN semantics.

    The O(n²) FLOP frontier is irreducible for exact listing — the
    scale posture is that production near-dup runs at high τ through
    the bucketed families (q32/q36/q60/q163); this operator makes the
    exact-parity twin distribute instead of funneling through a
    nested-loop join."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = df.count()  # O(1) driver result — sizing only
    n_blocks = max(1, -(-n // rows_per_block))
    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_bid"),
    )
    # replicate each row to every block-pair (i,j), i<=j, containing
    # its block: (0,v)..(v,v) then (v,v+1)..(v,B-1) — exactly B keys.
    # The upper range goes through filter() over the ascending full
    # range, NEVER sequence(_bid+1, B-1): Spark's sequence counts
    # DOWN when start > stop (verify-skill gotcha), which would emit
    # phantom block-pairs for every row of the last block
    pairs_expr = (
        f"concat(transform(sequence(0, _bid), i -> struct(i AS i, _bid AS j)),"
        f" transform(filter(sequence(0, {n_blocks - 1}), j -> j > _bid),"
        f" j -> struct(_bid AS i, j AS j)))"
    )
    exploded = src.select(
        "_id", "_v", "_bid", F.explode(F.expr(pairs_expr)).alias("_bp")
    ).select("_id", "_v", "_bid", F.col("_bp.i").alias("_i"), F.col("_bp.j").alias("_j"))

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    )
    lo = threshold - margin

    def block_pair_candidates(key, pdf):
        i, j = key
        import numpy as np

        def side(block):
            part = pdf[pdf["_bid"] == block]
            ids = part["_id"].to_numpy()
            mat = np.array(part["_v"].to_list(), dtype=np.float64)
            if mat.size == 0:
                return ids, mat.reshape(0, 0), np.array([], dtype=bool)
            norms = np.linalg.norm(mat, axis=1)
            zero = norms == 0.0
            mat = mat / np.where(zero, 1.0, norms)[:, None]
            return ids, mat, zero

        ids_a, mat_a, zero_a = side(i)
        if i == j:
            ids_b, mat_b, zero_b = ids_a, mat_a, zero_a
        else:
            ids_b, mat_b, zero_b = side(j)
        if len(ids_a) == 0 or len(ids_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        sims = mat_a @ mat_b.T  # BLAS GEMM — the O(n²) inner loop
        mask = sims >= lo
        # zero-norm rows cosine to NaN = above-threshold in BOTH
        # engines: force-candidate every pair touching one
        mask[zero_a, :] = True
        mask[:, zero_b] = True
        ra, rb = np.nonzero(mask)
        pa, pb = ids_a[ra], ids_b[rb]
        keep = pa < pb if i == j else pa != pb
        out = pd.DataFrame(
            {"id_a": np.minimum(pa, pb)[keep], "id_b": np.maximum(pa, pb)[keep]}
        )
        return out if i == j else out.drop_duplicates()

    cand = exploded.groupBy("_i", "_j").applyInPandas(
        block_pair_candidates, schema=out_schema
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine_ranked("_va", "_vb").alias("cos_r"))
        .filter(F.col("cos_r") >= threshold)
    )


def ivf_centroids(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    n_centroids: int = 16,
) -> list[tuple[int, list[float], float]]:
    """Deterministic IVF coarse quantizer: one representative corpus
    vector per cell, chosen as the min-id vector of each id-modulo
    bucket. Data-derived (cells follow the corpus distribution, unlike
    random planes) yet needs no k-means iterations and no RNG — the
    same corpus always yields the same centroids, and the scheme is
    plain SQL so an oracle engine reproduces it exactly. Returns
    ``(cell, vector)`` pairs; only ``n_centroids`` rows ever reach the
    driver."""
    w = Window.partitionBy("_cell").orderBy(corpus_id)
    reps = (
        corpus.select(
            F.pmod(F.col(corpus_id).cast("long"), F.lit(n_centroids))
            .cast("int")
            .alias("_cell"),
            F.col(corpus_id),
            F.col(corpus_vec),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_cell", corpus_vec)
        .collect()
    )
    return sorted(
        (int(r["_cell"]), [float(x) for x in r[corpus_vec]]) for r in reps
    )


def _nearest_cells(
    vec: F.Column | str, centroids: list[tuple[int, list[float]]], n: int
) -> F.Column:
    """Array of the ``n`` nearest centroid cell-ids for a vector —
    pure JVM expression: rounded cosine against centroid literals,
    ``array_sort`` with a (similarity desc, cell asc) comparator.
    Centroid count is small (coarse quantizer), so the expression tree
    stays modest and whole-stage codegen handles it. Rounding matches
    ``cosine_ranked`` so an oracle reproduces the assignment."""
    import math

    if not centroids:
        # sequence(1, 0) yields the DESCENDING array [1, 0], so an
        # empty centroid list would silently probe element_at out of
        # bounds (null rows, or an ANSI error) instead of returning an
        # empty cell list — fail loudly at plan-build time instead
        raise ValueError("_nearest_cells requires a non-empty centroid list")
    v = F.col(vec) if isinstance(vec, str) else vec
    # ONE transform over a centroid-matrix literal instead of k
    # separate cosine trees: column CONSTRUCTION drops from O(k) HOF
    # builds (~2 s of driver time at k=16, measured — py4j-bound) to
    # O(1), and the per-row work drops too because each centroid's
    # norm is precomputed here with the IDENTICAL sequential fold the
    # engine would run (acc += x*x left-to-right in doubles, then
    # IEEE sqrt — bit-identical to norm(), which Catalyst does NOT
    # constant-fold through HOF lambdas). Division/multiply order
    # (dot / (norm_c * norm_v)) matches cosine() exactly, so scores —
    # and the DuckDB oracle parity — are unchanged bit-for-bit.
    def _py_norm(xs):
        acc = 0.0
        for x in xs:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    # literals rendered as ONE SQL text each: F.lit(nested list) still
    # expands element-wise over py4j (measured 1.2 s for 16×64), while
    # F.expr parses the same values JVM-side in ~7 ms, bit-identically
    # (repr() round-trips doubles; the D suffix accepts exponents)
    cells_lit = F.expr(
        "array(" + ",".join(str(int(c)) for c, _ in centroids) + ")"
    )
    mat_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in cvec) + ")"
            for _, cvec in centroids
        )
        + ")"
    )
    norms_lit = F.expr(
        "array("
        + ",".join(repr(_py_norm(cvec)) + "D" for _, cvec in centroids)
        + ")"
    )
    norm_v = norm(v)
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.round(
                dot(F.element_at(mat_lit, i), v)
                / (F.element_at(norms_lit, i) * norm_v),
                9,
            ).alias("s"),
            F.element_at(cells_lit, i).alias("cell"),
        ),
    )
    by_sim_desc = F.array_sort(
        scored,
        lambda a, b: F.when(a["s"] > b["s"], F.lit(-1))
        .when(a["s"] < b["s"], F.lit(1))
        .otherwise(a["cell"] - b["cell"]),
    )
    return F.transform(F.slice(by_sim_desc, 1, n), lambda x: x["cell"])


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k (inverted-file index): corpus vectors are
    assigned to their nearest coarse-quantizer cell once; each query
    probes its ``n_probe`` nearest cells and scores only those
    candidates. At scale the assignment is a narrow map (no shuffle),
    the probe join is an equi-join on cell id, and recall/cost trade
    via ``n_probe/n_centroids`` — the classic IVF-Flat layout, with
    cells doubling as a partition key for locality."""
    cents = ivf_centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if not cents:  # empty corpus
        return ann_topk_lsh(
            queries, corpus, query_id, query_vec, corpus_id, corpus_vec, k
        )
    c = corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec),
        _nearest_cells(corpus_vec, cents, 1)[0].alias("_cell"),
    )
    q = queries.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(_nearest_cells(query_vec, cents, n_probe)).alias("_cell"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "_cell")
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine_ranked(query_vec, corpus_vec).alias("cos_r"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_r").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", corpus_id, "cos_r")
    )


def ann_topk_ivf_postings(
    queries: DataFrame,
    postings: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """IVF probe against a PRE-BUILT posting list — the query half of
    ``ann_topk_ivf`` split out so the corpus-side work (centroid
    selection + cell assignment, the only corpus passes in the whole
    scheme) can be amortized into a standing index
    (``sources/bucketing.py:standing_table``): a warm session reads
    ``postings(_cell, corpus_id, corpus_vec)`` straight from its
    bucketed files and never scans the raw corpus at all. Same
    contract as ``ann_topk_ivf`` given the same centroids."""
    q = queries.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(_nearest_cells(query_vec, cents, n_probe)).alias("_cell"),
    )
    scored = (
        F.broadcast(q)
        .join(postings, "_cell")
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine_ranked(query_vec, corpus_vec).alias("cos_r"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_r").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", corpus_id, "cos_r")
    )


def mine_margin_pairs(
    anchors: DataFrame,
    targets: DataFrame,
    sources: DataFrame,
    k: int,
    tau_ppm: int,
) -> DataFrame:
    """Margin-criterion candidate-pair mining (Artetxe & Schwenk 2019,
    the CCMatrix/LASER rule): accept (x, y) when cos(x, y) clearly
    exceeds the LOCAL similarity level around both endpoints —
    margin = cos·2k / (Σ x's k-NN cos + Σ y's k-NN cos) ≥ tau. The
    ratio suppresses hubs (vectors similar to everything) that a raw
    cosine threshold floods on.

    Frames: ``anchors`` (src_id, qv) — the bounded mine batch;
    ``targets`` (tgt_id, cv) — the other-language corpus; ``sources``
    (nb_id, cv) — the anchor-language corpus the backward pass ranks
    against. Scores are integer nano-cosines on the round-9 grid (the
    q35 cross-engine contract), so sums are order-independent BIGINTs
    and the margin is exact integer arithmetic; the cos_n > 0 guard
    keeps divisors positive (floor vs truncate division only agree
    above zero). Returns (src_id, tgt_id, margin_ppm, rank).

    Scale shape: both k-NN passes are the broadcast-queries ×
    stationary-corpus scorer (corpus never shuffles); the backward
    pass ranks only the ≤ |anchors|·k surfaced candidates; the margin
    join is candidate-local against two O(batch) aggregates."""
    from pyspark.sql import Window

    scale = 2 * k * 1_000_000
    nano = F.round(F.col("cos_r") * 1e9).cast("long")
    fwd = (
        cosine_topk(anchors, targets, "src_id", "qv", "tgt_id", "cv", k)
        .withColumn("cos_n", nano)
        .filter(F.col("cos_n") > 0)
    )
    sum_fwd = fwd.groupBy("src_id").agg(F.sum("cos_n").alias("sum_fwd_n"))
    cand = (
        fwd.select("tgt_id")
        .distinct()
        .join(targets, "tgt_id")
        .select("tgt_id", F.col("cv").alias("qv"))
    )
    bwd = (
        cosine_topk(cand, sources, "tgt_id", "qv", "nb_id", "cv", k)
        .withColumn("cos_n", nano)
        .filter(F.col("cos_n") > 0)
    )
    sum_bwd = bwd.groupBy("tgt_id").agg(F.sum("cos_n").alias("sum_bwd_n"))
    scored = (
        fwd.select("src_id", "tgt_id", "cos_n")
        .join(sum_fwd, "src_id")
        .join(sum_bwd, "tgt_id")
        .withColumn(
            "margin_ppm",
            F.expr(f"cos_n * {scale} DIV (sum_fwd_n + sum_bwd_n)"),
        )
        .filter(F.col("margin_ppm") >= tau_ppm)
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("margin_ppm"), "tgt_id")
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "src_id", "tgt_id", "margin_ppm", "rank"
    )
