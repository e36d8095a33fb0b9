"""Deduplication operators (north-star §2B ★ rows).

Four tiers, all shuffle-bounded (no pairwise cross product outside a
candidate bucket):

- exact:    hash-groupBy on (normalized) content → canonical survivor
- MinHash:  salted-md5 signatures → LSH banding → bucket self-join →
            exact Jaccard verify on candidates only
- SimHash:  16-bit fingerprint equality clusters
- embedding: cosine threshold pairs (brute within LSH bucket at scale)

Scale analysis: LSH banding turns O(n²) near-dup search into
O(n·bands) + O(Σ bucket²); with b bands of r rows the candidate
probability for Jaccard j is 1-(1-j^r)^b, so bucket sizes stay small
unless the corpus truly is one giant dup cluster (then salting the
band key by a content prefix bounds the bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mindseye_dataframes_spark.functions.textfns import (
    LSH_BANDS,
    MINHASH_K,
    lsh_band_keys,
    py_distinct_tokens,
    py_minhash_many,
    py_shingles,
)
from mindseye_dataframes_spark.plans.parallelism import (
    ensure_min_parallelism,
    spread_for_compute,
)


def _py_features(feature: str):
    """Per-doc feature set for similarity: 'shingles' (word 3-grams —
    order-sensitive, discriminative even on tiny vocabularies) or
    'tokens' (order-insensitive bag). Shingles are the default: on a
    31-word vocabulary token-set jaccard has a ~0.65 baseline between
    *unrelated* docs, so token-level LSH degenerates to all-pairs."""
    if feature == "shingles":
        return py_shingles
    if feature == "tokens":
        return py_distinct_tokens
    raise ValueError(f"unknown feature: {feature}")


def _signature_udf(feature: str, k: int):
    fn = _py_features(feature)

    def sig(texts):
        import pandas as pd

        feats = [fn(t) for t in texts]
        return pd.Series(py_minhash_many(feats, k))

    return F.pandas_udf(sig, "array<string>")


def doc_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = MINHASH_K,
    feature: str = "shingles",
) -> DataFrame:
    """(id, feats, signature) per doc from ONE Arrow-batched UDF pass,
    persisted (memory, spill to disk): the LSH bucket self-join and
    the Jaccard verify both consume this relation twice — without
    pinning, Spark re-runs the UDF subtree once per plan branch."""
    import pandas as pd
    from pyspark.storagelevel import StorageLevel

    fn = _py_features(feature)

    def both(texts):
        feats = texts.map(fn)
        # batch minhash: one md5 per (band, distinct shingle) per
        # batch — shared shingles across docs hash once (textfns.
        # py_minhash_many, bit-identical to the per-doc fold)
        sigs = pd.Series(py_minhash_many(list(feats), k), index=feats.index)
        return pd.DataFrame({"feats": feats, "sig": sigs})

    udf = F.pandas_udf(both, "feats array<string>, sig array<string>")
    return (
        ensure_min_parallelism(df, id_col)
        .select(F.col(id_col), udf(F.col(text_col)).alias("_x"))
        .select(id_col, F.col("_x.feats").alias("feats"), F.col("_x.sig").alias("signature"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def dedup_exact(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one survivor (minimum id — deterministic, unlike
    ``dropDuplicates``) per distinct content. Map-side partial agg +
    one shuffle on the content hash."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("survivor_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = MINHASH_K,
    feature: str = "shingles",
) -> DataFrame:
    """Per-doc MinHash signature over the chosen feature set.

    Arrow-batched pandas UDF: shingling+hashing is doc-local, so this
    is a pure map — zero shuffle at any scale. (The SQL-expression
    form via nested transform() was measured 30× slower: higher-order
    functions run interpreted, re-evaluating the feature array k
    times per row; an explode+groupBy form was 5× slower and added a
    shuffle.)
    """
    sig = _signature_udf(feature, k)
    return ensure_min_parallelism(df, id_col).select(
        F.col(id_col), sig(F.col(text_col)).alias("signature")
    )


def _candidate_pairs(sigs: DataFrame, id_col: str, bands: int, k: int) -> DataFrame:
    """Bucket self-join over LSH band keys → distinct (id_a < id_b)."""
    buckets = sigs.select(
        F.col(id_col),
        F.explode(lsh_band_keys(F.col("signature"), bands, k)).alias("band_key"),
    )
    a = buckets.select(F.col("band_key"), F.col(id_col).alias("id_a"))
    b = buckets.select(F.col("band_key"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    feature: str = "shingles",
) -> DataFrame:
    """LSH candidates + exact feature-set Jaccard ≥ threshold.
    Jaccard is |A∩B| / (|A|+|B|-|A∩B|) — integer counts, so the double
    division is engine-exact for the oracle."""
    base = doc_features(df, text_col, id_col, k, feature)
    candidates = _candidate_pairs(base, id_col, bands, k)
    toks = base.select(F.col(id_col), F.col("feats").alias("toks")).withColumn(
        "n_toks", F.size("toks")
    )
    ta = toks.select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"), F.col("n_toks").alias("n_a")
    )
    tb = toks.select(
        F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"), F.col("n_toks").alias("n_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Dense dictionary cap for the common-gram bitmap (bits). Chosen from
# measured coverage: the top-4096 grams by df already carry 92% of all
# common-gram postings at sf1 (99.9% at sf0.1, where K=4121 fits
# entirely), so doubling to 8192 keeps the dense side authoritative
# while the width stays a bounded 1 KB/doc at ANY corpus size.
_DENSE_CAP = 8192


def _pair_parts_from_feats(feats: DataFrame, id_col: str, max_df: int):
    """Shared candidate + decomposed-intersection machinery for the
    exact-candidate pair operators (q80 Jaccard, q213 containment,
    q226's ground-truth side), over an ALREADY-PERSISTED
    ``(id, grams)`` relation (grams distinct per doc).

    Returns ``(pair_rare, sizes, n_common)``:

    - ``pair_rare``: (id_a, id_b, inter_rare) — candidate pairs
      sharing ≥1 rare gram (document frequency ≤ ``max_df``), with the
      EXACT count of shared rare grams. Grams are distinct per doc,
      so the posting equi-join emits exactly one row per shared rare
      gram and the groupBy count replaces the old ``distinct()`` on
      the same exchange.
    - ``sizes``: (id, n_grams, cbm, ctail) — per-doc total gram count
      and the doc's COMMON grams (df > ``max_df``) split TWO-LEVEL
      (ADVICE r13): a fixed-width bitmap over the ``_DENSE_CAP`` most
      frequent common grams (df-descending dictionary order), plus a
      SPARSE int array for the overflow tail. The dense side keeps
      the per-pair intersection a vectorized AND+popcount (an
      uncapped bitmap was the r13 form, but its width is O(K) on
      every doc however short); the tail keeps the payload O(|doc|)
      at any corpus size (a pure-sparse form was measured 12× SLOWER
      cold at sf0.1 — the per-pair merge does O(|common_a|+|common_b|)
      ≈ 480 elements of sort work where the capped AND does 65
      vectorized words, and avg common-grams/doc is 241 at sf0.1 /
      391 at sf1, so pairs dominate docs and compute beats payload).
      By measured coverage the tail is EMPTY below K=8192 (all gate
      SFs) and ~31 ints/doc at sf1-scale overflow.
    - ``n_common``: the dictionary size K (drives the tail-intersect
      row-key stride).

    Why: the full intersection decomposes exactly as
    ``inter = inter_rare + |common_a ∩ common_b|``, and the common
    half further splits exactly by dictionary rank:
    ``|dense_a ∩ dense_b| + |tail_a ∩ tail_b|`` (every common gram
    has exactly one rank). The old verify shuffled every candidate
    pair's full gram STRING arrays (~8 KB per pair at sf0.1) through
    two joins and ran a string ``array_intersect`` per pair —
    measured 45.7 s of q80's 52.7 s at sf0.1 for 1.24M candidates →
    256 survivors. Here the pair relation carries 24 bytes and the
    doc side ~1 KB. The dictionary is bounded by construction: each
    common gram has df > max_df, so K < total_postings / max_df —
    its index assignment is an O(K)-row metadata window, the
    zip-offsets precedent."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    postings = feats.select(F.col(id_col), F.explode("grams").alias("g"))
    # one document-frequency aggregate feeds BOTH the rare filter and
    # the common dictionary — persist it (O(distinct grams) rows)
    gcounts = postings.groupBy("g").agg(
        F.count(F.lit(1)).alias("doc_freq")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    rare_postings = postings.join(
        gcounts.filter(F.col("doc_freq") <= max_df).select("g"), "g"
    )
    a = rare_postings.select("g", F.col(id_col).alias("id_a"))
    b = rare_postings.select("g", F.col(id_col).alias("id_b"))
    pair_rare = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_rare"))
    )
    # dictionary rank = df DESCENDING (gram tiebreak): the most
    # frequent grams — the bulk of every doc's common hits — land in
    # the capped dense bitmap; the tail overflows to the sparse array
    common = gcounts.filter(F.col("doc_freq") > max_df).select(
        "g",
        (
            F.row_number().over(
                Window.orderBy(F.desc("doc_freq"), "g")
            )
            - 1
        ).alias("cidx"),
    )
    # K needs one count on the persisted doc-frequency relation
    # (O(1) to the driver, sizing only).
    n_common = common.count()
    width = max(1, -(-min(n_common, _DENSE_CAP) // 64))

    def _pack(idx_lists):
        import numpy as np
        import pandas as pd

        bms, tails = [], []
        for idxs in idx_lists:
            bm = np.zeros(width, dtype=np.int64)
            tail = []
            if idxs is not None and len(idxs):
                arr = np.asarray(idxs, dtype=np.int64)
                d = arr[arr < _DENSE_CAP]
                np.bitwise_or.at(
                    bm, d // 64, np.int64(1) << (d % 64).astype(np.int64)
                )
                t = arr[arr >= _DENSE_CAP]
                if len(t):
                    tail = np.sort(t).astype("int32").tolist()
            bms.append(bm.tolist())
            tails.append(tail)
        return pd.DataFrame({"cbm": bms, "ctail": tails})

    pack_udf = F.pandas_udf(_pack, "cbm array<bigint>, ctail array<int>")
    doc_common = (
        postings.join(common, "g")
        .groupBy(id_col)
        .agg(F.collect_list("cidx").alias("cidxs"))
        .select(F.col(id_col), pack_udf("cidxs").alias("_p"))
        .select(F.col(id_col), F.col("_p.cbm").alias("cbm"), F.col("_p.ctail").alias("ctail"))
    )
    zero_bm = F.array(*[F.lit(0).cast("bigint") for _ in range(width)])
    empty_tail = F.array().cast("array<int>")
    sizes = (
        feats.select(F.col(id_col), F.size("grams").alias("n_grams"))
        .join(doc_common, id_col, "left")
        .select(
            F.col(id_col),
            "n_grams",
            F.coalesce(F.col("cbm"), zero_bm).alias("cbm"),
            F.coalesce(F.col("ctail"), empty_tail).alias("ctail"),
        )
    )
    return pair_rare, sizes, n_common


def _gram_pair_parts(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int
):
    """Character-n-gram front end of ``_pair_parts_from_feats``: one
    Arrow-batched gram pass, persisted (candidates and both verify
    sides all consume it)."""
    from pyspark.storagelevel import StorageLevel

    from mindseye_dataframes_spark.functions.textfns import py_char_ngrams

    grams_udf = F.pandas_udf(
        lambda texts: texts.map(lambda t: py_char_ngrams(t, n)), "array<string>"
    )
    feats = (
        ensure_min_parallelism(df, id_col)
        .select(F.col(id_col), grams_udf(F.col(text_col)).alias("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _pair_parts_from_feats(feats, id_col, max_df)


def _inter_common_udf(n_common: int):
    """(cbm_a, ctail_a, cbm_b, ctail_b) → |common_a ∩ common_b| via
    whole-batch numpy, in two exact halves:

    - dense: stack bitmaps to (rows, W) int64, AND, SWAR popcount
      (numpy 1.x has no bitwise_count), row-sum — exact for any bit
      pattern incl. bit 63;
    - tail: both sides' tail values are distinct within a row, so the
      intersection size is the number of DUPLICATED (row, value) keys
      in the concatenation — one flatten, one sort, one adjacent-
      equality scan per batch, no per-row hash set. Row keys stride
      by ``n_common + 1`` so batch rows never collide (batch ≤ 10⁴
      rows × stride ≪ 2⁶³). Skipped outright when every tail in the
      batch is empty (all gate SFs: K ≤ the dense cap)."""
    import numpy as np
    import pandas as pd

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    stride = np.int64(n_common + 1)

    # no type hints: stringified annotations break pandas_udf
    # signature inference (the word_ngrams_udf lesson)
    def inter(a, ta, b, tb):
        m = len(a)
        if not m:
            return pd.Series([], dtype="int32")
        x = np.bitwise_and(
            np.stack(a.values).astype(np.int64).view(np.uint64),
            np.stack(b.values).astype(np.int64).view(np.uint64),
        )
        x = x - ((x >> np.uint64(1)) & m1)
        x = (x & m2) + ((x >> np.uint64(2)) & m2)
        x = (x + (x >> np.uint64(4))) & m4
        counts = ((x * h01) >> np.uint64(56)).sum(axis=1).astype(np.int64)
        la = np.fromiter((len(t) for t in ta), dtype=np.int64, count=m)
        lb = np.fromiter((len(t) for t in tb), dtype=np.int64, count=m)
        if la.sum() and lb.sum():
            rows_a = np.repeat(np.arange(m, dtype=np.int64), la)
            rows_b = np.repeat(np.arange(m, dtype=np.int64), lb)
            flat_a = np.concatenate(list(ta.values)).astype(np.int64)
            flat_b = np.concatenate(list(tb.values)).astype(np.int64)
            allk = np.concatenate(
                (rows_a * stride + flat_a, rows_b * stride + flat_b)
            )
            allk.sort()
            dup = allk[1:][allk[1:] == allk[:-1]]
            np.add.at(counts, dup // stride, 1)
        return pd.Series(counts.astype("int32"))

    # asNondeterministic (guide §4.4): the jaccard/containment FILTER
    # references a column computed from this UDF, and the optimizer's
    # filter pushdown otherwise duplicates the evaluation — the r13/r14
    # q80 plans carried TWO ArrowEvalPython nodes (one below the
    # pushed filter, one in the output projection), so every surviving
    # pair paid the intersect twice. The function is pure; the marker
    # only pins a single evaluation point.
    return F.pandas_udf(inter, "int").asNondeterministic()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs via an inverted-index
    candidate join (the prefix-filtering family — complements
    MinHash-LSH with exact candidate semantics).

    Spec: candidates are pairs sharing ≥1 *rare* n-gram (document
    frequency ≤ ``max_df``); survivors have exact n-gram-set Jaccard
    ≥ ``threshold`` over the FULL gram sets. The df cutoff is what
    makes the inverted index scale: without it, a stop-gram appearing
    in every doc turns the posting self-join into all-pairs. Near-dups
    share many grams, so requiring one *rare* shared gram costs recall
    only when every shared gram is corpus-common (then the pair is
    boilerplate, not duplication).

    Plan shape: one Arrow-batched gram pass (persisted), one
    document-frequency aggregate, posting-list self-join keyed on the
    gram folded straight into a per-pair shared-rare-gram COUNT, then
    a decomposed exact verify (``_gram_pair_parts``): the full
    intersection is ``inter_rare + |common_a ∩ common_b|`` over
    dictionary-encoded int arrays, so no gram strings ever travel
    with the pairs. An exact LENGTH filter (J ≥ t ⇒ min·1 ≥ t·max)
    prunes pairs before the int intersect. Shuffles are bounded by
    posting-list size, never O(n²).
    """
    pair_rare, sizes, n_common = _gram_pair_parts(
        df, text_col, id_col, n, max_df
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"),
        F.col("n_grams").alias("n_a"),
        F.col("cbm").alias("cbm_a"),
        F.col("ctail").alias("ctail_a"),
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"),
        F.col("n_grams").alias("n_b"),
        F.col("cbm").alias("cbm_b"),
        F.col("ctail").alias("ctail_b"),
    )
    # the candidate relation is byte-small but each verify row does
    # O(width + |tail|) intersect work — pin cluster-wide parallelism
    # AFTER the sizes joins and the length filter (r14: the pre-join
    # spread's repartition was immediately superseded by the SMJ's own
    # ENSURE_REQUIREMENTS exchange — a wasted shuffle of the full pair
    # relation — while the UDF stage above the join could still be
    # AQE-coalesced; post-filter, the spread moves only the surviving
    # pairs and sits directly under the intersect UDF)
    withsz = spread_for_compute(
        pair_rare.join(sa, "id_a")
        .join(sb, "id_b")
        # exact length filter: true J ≤ min/max and double rounding is
        # monotone, so computed(min/max) < t ⇒ computed(J) < t — the
        # division form can never prune a pair the verify would keep
        .filter(
            F.least("n_a", "n_b").cast("double")
            / F.greatest("n_a", "n_b").cast("double")
            >= F.lit(threshold)
        ),
        "id_a",
        "id_b",
    )
    inter = F.col("inter_rare") + _inter_common_udf(n_common)(
        "cbm_a", "ctail_a", "cbm_b", "ctail_b"
    )
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return (
        withsz.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    threshold_ppm: int = 800_000,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs: C(src→dst) =
    |grams(src) ∩ grams(dst)| / |grams(src)|, emitted as ordered
    (src_id, dst_id) rows for every direction with containment ≥
    ``threshold_ppm``. Containment is the metric Jaccard structurally
    misses: a short doc fully embedded in a much longer one (quote
    farms, boilerplate wrappers, chunk-of-a-book) has C(short→long)
    ≈ 1 while J = |short|/|long| ≈ 0 — so a Jaccard gate never fires.
    Broder's containment sketch is the classical form; here candidates
    are exact (shared rare gram), so the score is exact too.

    Same inverted-index candidate stage as :func:`ngram_jaccard_pairs`
    (one Arrow-batched gram pass, df ≤ ``max_df`` posting self-join —
    bounded buckets, never all-pairs); the verify computes the
    intersection ONCE per unordered pair via the decomposed exact form
    (``inter_rare`` from the posting join + an int-array intersect of
    dictionary-encoded common grams, ``_gram_pair_parts``) and fans
    out both directed scores with an array explode (no second join).
    No length prefilter — containment has none (a short doc fully
    inside a long one qualifies at any length ratio). Scores are
    integer ppm (``inter·1e6 DIV n_src``) — BIGINT-exact on every
    engine.
    """
    pair_rare, sizes, n_common = _gram_pair_parts(
        df, text_col, id_col, n, max_df
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"),
        F.col("n_grams").alias("n_a"),
        F.col("cbm").alias("cbm_a"),
        F.col("ctail").alias("ctail_a"),
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"),
        F.col("n_grams").alias("n_b"),
        F.col("cbm").alias("cbm_b"),
        F.col("ctail").alias("ctail_b"),
    )
    inter = (
        F.col("inter_rare")
        + _inter_common_udf(n_common)("cbm_a", "ctail_a", "cbm_b", "ctail_b")
    ).cast("long")
    # same AQE-coalescing guard as the Jaccard verify, post-join
    # (VERDICT r9 item 3 — the sf0.1 cold path serialized here; r14
    # moved the spread above the joins so it feeds the intersect UDF
    # directly instead of being superseded by the join exchanges)
    scored = spread_for_compute(
        pair_rare.join(sa, "id_a").join(sb, "id_b"), "id_a", "id_b"
    ).select("id_a", "id_b", inter.alias("inter"), "n_a", "n_b")
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.expr("inter * 1000000 DIV n_a").alias("containment_ppm"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.expr("inter * 1000000 DIV n_b").alias("containment_ppm"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return directed.filter(F.col("containment_ppm") >= threshold_ppm)
