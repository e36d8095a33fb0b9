"""Property-based tests (SURVEY §5.2 item 3): algebraic invariants of
the engine's own calculus, independent of any oracle."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mindseye_dataframes_spark.functions.textfns import py_minhash, py_shingles

# -- moments merge is associative/commutative (A1/F6) -----------------


def merge_moments(a, b):
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


moment = st.tuples(
    st.integers(0, 10**6),
    st.integers(-(10**9), 10**9),  # integer-scaled sums: exact algebra,
    st.integers(0, 10**12),  # mirrors the engine's decimal accumulation
)


@given(moment, moment, moment)
@settings(max_examples=200, deadline=None)
def test_moments_merge_associative_commutative(a, b, c):
    assert merge_moments(a, b) == merge_moments(b, a)
    assert merge_moments(merge_moments(a, b), c) == merge_moments(a, merge_moments(b, c))


# -- MinHash invariants (dedup core) ----------------------------------

texts = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=40).map(lambda s: s.strip() or "x"),
    min_size=1,
    max_size=5,
)


@given(st.text(alphabet="abcde ", min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_minhash_identical_text_identical_signature(t):
    t = t.strip() or "x"
    assert py_minhash(py_shingles(t)) == py_minhash(py_shingles(t))


@given(st.text(alphabet="abc ", min_size=3, max_size=60))
@settings(max_examples=200, deadline=None)
def test_minhash_invariant_under_duplicate_features(t):
    t = t.strip() or "a b c"
    feats = py_shingles(t)
    assert py_minhash(feats) == py_minhash(feats + feats)  # multiset-min


@given(st.text(alphabet="ab ", min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_shingles_short_doc_fallback(t):
    t = t.strip() or "a"
    sh = py_shingles(t, n=3)
    if len(t.split(" ")) < 3:
        assert sh == [t]
    else:
        assert all(len(s.split(" ")) == 3 for s in sh)
        assert len(sh) == len(set(sh))  # deduped


# -- dedup idempotence (★) --------------------------------------------


def test_dedup_exact_idempotent(spark):
    from mindseye_dataframes_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")], "id long, text string"
    )
    once = dedup_exact(df, ["text"], "id")
    survivors = once.selectExpr("text", "survivor_id as id")
    twice = dedup_exact(survivors, ["text"], "id")
    assert {(r["text"], r["survivor_id"]) for r in twice.collect()} == {
        (r["text"], r["survivor_id"]) for r in once.collect()
    }
    assert twice.filter("n_copies > 1").count() == 0


# -- zip alignment invariants (J1) ------------------------------------


def test_zip_alignment_invariants(spark):
    from mindseye_dataframes_spark.operators.zip_frames import with_row_index, zip_frames

    n = 500
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(7)
    indexed = with_row_index(df, ["k"])
    rows = indexed.orderBy("k").collect()
    assert [r["_zip_index"] for r in rows] == list(range(n))  # dense, ordered

    a = df.select("k")
    b = df.select(F.col("k").alias("k2"), "v")
    zipped = zip_frames([a, b], [["k"], ["k2"]])
    assert zipped.count() == n
    assert zipped.filter(F.col("k") != F.col("k2")).count() == 0  # same order → aligned


def test_ivf_recall_vs_exact(spark):
    """IVF with 4 probes over 16 cells must recover a solid share of
    the exact top-5 (recall is the operator's contract; the oracle
    only pins determinism)."""
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.operators.similarity import (
        ann_topk_ivf,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
    exact = {
        (r["qid"], r["nid"])
        for r in cosine_topk(queries, corpus, "qid", "qv", "nid", "cv", 5).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in ann_topk_ivf(
            queries, corpus, "qid", "qv", "nid", "cv", 5, n_centroids=16, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_connected_components_chain_transitivity(spark):
    """A-B, B-C, plus an isolated pair D-E: closure must label A,B,C
    with min(A) even though A and C share no edge, and keep D,E apart."""
    from mindseye_dataframes_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["node_id"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iter can't finish propagating: partial
    labels must never be returned silently (ADVICE r1)."""
    import pytest

    from mindseye_dataframes_spark.operators.components import (
        ComponentsNotConverged,
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(ComponentsNotConverged):
        connected_components(chain, max_iter=2).collect()
    # warn mode returns the partial labels but says so
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = connected_components(chain, max_iter=2, on_nonconverged="warn")
        assert out.count() == 9
    # and a sufficient max_iter converges with no warning
    full = connected_components(chain, max_iter=10)
    assert {r["component_id"] for r in full.collect()} == {0}


def test_star_contraction_matches_naive_on_random_graphs(spark):
    """large-star/small-star must agree with min-label propagation on
    seeded random graphs (mixed cluster sizes, isolated pairs, dups)."""
    import random

    from mindseye_dataframes_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n // 2)
        ]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        naive = {
            (r["node_id"], r["component_id"])
            for r in connected_components(pairs, max_iter=60).collect()
        }
        star = {
            (r["node_id"], r["component_id"])
            for r in connected_components_star(pairs).collect()
        }
        assert star == naive, f"trial {trial}"


def test_star_contraction_closes_long_chain_in_log_rounds(spark):
    """A 200-hop path: naive propagation needs 200 rounds; star
    contraction must close it within its default (50) budget — the
    whole point of the algorithm."""
    from mindseye_dataframes_spark.operators.components import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    out = connected_components_star(chain).collect()
    assert len(out) == 201
    assert {r["component_id"] for r in out} == {0}


def test_star_contraction_self_loops_and_empty(spark):
    """Self-pairs are isolated singletons; an all-self-loop input must
    still return every node labeled with itself."""
    from mindseye_dataframes_spark.operators.components import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(7, 7), (8, 8), (1, 2)], "id_a long, id_b long"
    )
    got = {
        (r["node_id"], r["component_id"])
        for r in connected_components_star(pairs).collect()
    }
    assert got == {(7, 7), (8, 8), (1, 1), (2, 1)}


def test_merge_upsert_idempotent(spark):
    """Applying the same changelog twice must not change values —
    only the action audit differs (insert becomes update)."""
    from mindseye_dataframes_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    upd = spark.createDataFrame([(2, 99.0), (9, 90.0)], "k long, v double")
    once = merge_upsert(base, upd, ["k"]).drop("action")
    twice = merge_upsert(once, upd, ["k"]).drop("action")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_chunking_reassembles_text(spark, sf_dir):
    """Non-overlapping chunks (stride == width) concatenated in
    chunk order must reconstruct the original document exactly."""
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    chunks = docs.select(
        "doc_id",
        F.explode(F.expr("sequence(1, n_chars, 120)")).alias("start"),
        F.expr("substring(text, CAST(start AS INT), 120)").alias("chunk"),
    )
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("start", "chunk"))).getField("chunk")
            ).alias("rebuilt")
        )
    )
    joined = docs.join(rebuilt, "doc_id").select("doc_id", "text", "rebuilt")
    assert joined.filter(F.col("text") != F.col("rebuilt")).count() == 0


def test_debounce_idempotent(spark, sf_dir):
    """Debouncing an already-debounced stream is a no-op."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.sources.readers import load_table

    def debounce(df):
        # coarser key + wider gap than q109 so the property bites even
        # on the sparse sf0.001 fixture
        w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        return (
            df.withColumn("prev_ts", F.lag("ts").over(w))
            .filter(
                F.col("prev_ts").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev_ts") > 3_600_000_000)
            )
            .drop("prev_ts")
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    once = debounce(ev)
    n_once = once.count()
    assert n_once < ev.count()  # something actually debounced
    assert debounce(once).count() == n_once


def test_edit_distance_join_matches_bruteforce(spark):
    """PassJoin segment blocking must find EXACTLY the brute-force
    pair set on an adversarial corpus: seeded random strings plus
    mutated copies (substitutions/inserts/deletes at every distance
    0-4, crossing the k=2 acceptance boundary)."""
    import random

    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.operators.edit_join import edit_distance_join

    rng = random.Random(42)
    alpha = "abcdef"
    rows = []
    rid = 0
    for base_i in range(30):
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(5, 14)))
        rows.append((rid, base, "blk")); rid += 1
        for n_edits in (1, 2, 3, 4):
            s = list(base)
            for _ in range(n_edits):
                op = rng.choice("sid")
                pos = rng.randrange(len(s)) if s else 0
                if op == "s" and s:
                    s[pos] = rng.choice(alpha)
                elif op == "i":
                    s.insert(pos, rng.choice(alpha))
                elif s:
                    del s[pos]
            rows.append((rid, "".join(s), "blk")); rid += 1
    # short strings (len <= k) exercise the exhaustive in-block
    # fallback: pairs like ("ab","ba") with ed=2 at k=2 can't be found
    # by segment blocking (no 1-char-per-segment split exists)
    for s in ("", "a", "b", "ab", "ba", "ac", "abc", "bc"):
        rows.append((rid, s, "blk")); rid += 1
    df = spark.createDataFrame(rows, "k long, txt string, blk string")

    got = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in edit_distance_join(df, "k", "txt", "blk", k=2).collect()
    }
    brute = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in df.alias("a")
        .crossJoin(df.selectExpr("k as k2", "txt as txt2"))
        .filter("k < k2")
        .select(
            F.col("k").alias("key_a"),
            F.col("k2").alias("key_b"),
            F.levenshtein("txt", "txt2", 2).cast("long").alias("dist"),
        )
        .filter("dist >= 0")
        .collect()
    }
    assert got == brute and len(brute) > 10


# -- padded-string tuple rank (survivorship core) ---------------------

_i64 = st.integers(0, 2**63 - 1)


@given(st.tuples(_i64, _i64), st.tuples(_i64, _i64))
@settings(max_examples=300, deadline=None)
def test_tuple_rank_encoding_orders_like_tuples(a, b):
    """The zero-padded string encoding must order EXACTLY like the
    integer tuple for any non-negative int64 components — the property
    that makes q115/q89's arg_max survivor picks collision-free with
    no id ceiling (functions/exact.py:tuple_rank)."""
    enc = lambda t: "".join(str(x).zfill(19) for x in t)
    assert (enc(a) < enc(b)) == (a < b)
    assert (enc(a) == enc(b)) == (a == b)


def test_pareto_frontier_matches_bruteforce_dominance(spark):
    """q143's window formulation must agree with the quadratic
    dominance definition on adversarial data: duplicate (price,size)
    points, strict/non-strict tie boundaries."""
    import itertools
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.choice("XY"), rng.randrange(1, 8) * 100, rng.randrange(1, 6))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, price_cents long, p_size int"
    )

    from pyspark.sql import Window

    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_upto = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    got = {
        (r.p_partkey)
        for r in df.select(
            "p_partkey",
            "p_brand",
            "price_cents",
            "p_size",
            F.max("p_size").over(w_cheaper).alias("m1"),
            F.max("p_size").over(w_upto).alias("m2"),
        )
        .filter(
            (F.col("m1").isNull() | (F.col("m1") < F.col("p_size")))
            & (F.col("m2") <= F.col("p_size"))
        )
        .collect()
    }
    want = set()
    for pk, br, pc, sz in rows:
        dominated = any(
            b2 == br
            and ((pc2 < pc and sz2 >= sz) or (pc2 <= pc and sz2 > sz))
            for pk2, b2, pc2, sz2 in rows
            if pk2 != pk
        )
        if not dominated:
            want.add(pk)
    assert got == want


def test_ewma_bounded_and_mean_on_constant_series(spark):
    """q142's dyadic EWMA must stay within [min, max] of its window
    and equal the value exactly on a constant series."""
    import math

    from mindseye_dataframes_spark.queries import load_all

    qs = load_all()
    df = qs["q142_ewma_smoothing"].fn(spark, "/root/testdata/sf0.001")
    from mindseye_dataframes_spark.sources.readers import load_table

    vals = {
        r["event_id"]: r["value"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("event_type") == "purchase")
        .collect()
    }
    lo, hi = min(vals.values()), max(vals.values())
    for r in df.collect():
        assert lo - 1e-4 <= r["ewma"] <= hi + 1e-4, r
        assert math.isfinite(r["ewma"])

    const = spark.createDataFrame(
        [(i, 1, f"2024-01-01 00:0{i}:00", 5.25) for i in range(8)],
        "event_id long, user_id long, ts string, value double",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "value", F.lit("purchase").alias("event_type"),
             F.lit("").alias("props"))
    # same expression path as the query, applied to the constant frame
    const.createOrReplaceTempView("_ewma_const")
    from mindseye_dataframes_spark.queries.timeseries import _ewma_terms

    num, den = _ewma_terms(lambda d: f"lag(c6, {d}) OVER w")
    out = spark.sql(
        f"""
        SELECT round(CAST(({num}) AS DOUBLE)
                     / (CAST(({den}) AS DOUBLE) * 100.0), 4) + 0.0 AS ewma
        FROM (SELECT event_id, user_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS c6 FROM _ewma_const)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    ).collect()
    assert all(r["ewma"] == 5.25 for r in out)


def test_table_fingerprint_order_invariant(spark, tmp_path_factory):
    """q144's checksum must be identical for any physical row order /
    partitioning of the same data — that's the whole point of a
    replica-verification fingerprint."""
    from mindseye_dataframes_spark.queries import load_all

    qs = load_all()
    base = qs["q144_table_fingerprint"].fn(spark, "/root/testdata/sf0.001").collect()

    # rewrite the tables shuffled + differently partitioned
    import os

    from mindseye_dataframes_spark.sources.readers import load_table

    alt = str(tmp_path_factory.mktemp("fp_alt"))
    for t in ("lineitem", "orders", "region", "nation", "customer",
              "supplier", "part", "events", "documents", "embeddings"):
        src = f"/root/testdata/sf0.001/{t}.parquet"
        if not os.path.exists(src):
            continue
        df = load_table(spark, "/root/testdata/sf0.001", t)
        if t in ("lineitem", "orders"):
            df = df.orderBy(F.rand(seed=3)).repartition(7)
        df.write.mode("overwrite").parquet(f"{alt}/{t}.parquet")
    shuffled = qs["q144_table_fingerprint"].fn(spark, alt).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, shuffled))


def test_zip_fusion_matches_generic_path(spark):
    """Common-source zip fusion must return exactly what the generic
    per-frame-index path returns — same rows, same index — and must
    NOT fire when filters differ or a key is computed."""
    from mindseye_dataframes_spark.operators.zip_frames import (
        _common_source_keys,
        with_row_index,
        zip_frames,
    )
    from mindseye_dataframes_spark.sources.readers import load_table

    # the zip contract requires UNIQUE order keys — event_id is the
    # unique key here ((l_orderkey, l_linenumber) is NOT unique in the
    # synthetic data, which is why q13 orders frame b by price first)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = ev.select("event_id", "event_type")
    b = ev.select(F.col("value").alias("val"), F.col("event_id").alias("_bid"))
    keys = [["event_id"], ["_bid"]]
    assert _common_source_keys([a, b], keys)
    fused = zip_frames([a, b], keys, index_col="rid")

    # generic reference: explicit per-frame indexes + rid join
    ia = with_row_index(a, keys[0], "rid")
    ib = with_row_index(b, keys[1], "rid")
    generic = ia.join(ib, "rid")
    cols = ["rid", "event_id", "event_type", "val"]
    f_rows = {tuple(r) for r in fused.select(*cols).collect()}
    g_rows = {tuple(r) for r in generic.select(*cols).collect()}
    assert f_rows == g_rows and f_rows

    a_f = ev.filter(F.col("value") > 10).select("event_id", "event_type")
    assert not _common_source_keys([a_f, b], keys)
    c = ev.select((F.col("event_id") * 2).alias("k2"), "event_type")
    assert not _common_source_keys([c, b], [["k2"], keys[1]])
    # q13's shape (different per-frame key sequences) must NOT fuse
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    qa = li.select("l_orderkey", "l_linenumber", "l_returnflag")
    qb = li.select(
        F.col("l_extendedprice").alias("price"),
        F.col("l_orderkey").alias("_bok"),
        F.col("l_linenumber").alias("_bln"),
    )
    assert not _common_source_keys(
        [qa, qb], [["l_orderkey", "l_linenumber"], ["price", "_bok", "_bln"]]
    )


def test_zip_fusion_tied_keys_keep_generic_cardinality(spark):
    """The relaxed with_row_index contract admits non-unique keys whose
    tied rows are payload-identical (the q13 lesson). A bare key
    equi-join in the fused path would fan a t-row tie group out to t²
    rows; the per-group tie-breaker must keep it at t, matching the
    generic per-frame-index path exactly (ADVICE r4, medium)."""
    from mindseye_dataframes_spark.operators.zip_frames import (
        _common_source_keys,
        zip_frames,
    )
    from mindseye_dataframes_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # user_id repeats heavily; each frame carries ONLY the key, so tied
    # rows are payload-identical — legal relaxed-contract input
    a = ev.select("user_id")
    b = ev.select(F.col("user_id").alias("_bid"))
    keys = [["user_id"], ["_bid"]]
    assert _common_source_keys([a, b], keys)

    n = ev.count()
    fused = zip_frames([a, b], keys)
    assert fused.count() == n  # t per tie group, not t²

    # multiset equality with the input (payload-identical ties make
    # every permutation the same multiset)
    got = sorted(r["user_id"] for r in fused.collect())
    want = sorted(r["user_id"] for r in ev.select("user_id").collect())
    assert got == want

    # index attachment keeps the dense 0..n-1 index under ties too
    with_idx = zip_frames([a, b], keys, index_col="rid")
    assert with_idx.count() == n
    rids = sorted(r["rid"] for r in with_idx.collect())
    assert rids == list(range(n))


def test_bloom_rejects_bad_geometry(spark):
    """n_hashes beyond the independent-seed supply must fail loudly at
    build time, not as an IndexError inside _positions (ADVICE r4)."""
    import pytest as _pytest

    from mindseye_dataframes_spark.operators.bloom import _SEEDS, bloom_build

    keys = spark.range(10).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="n_hashes"):
        bloom_build(keys, "k", n_hashes=len(_SEEDS) + 1)
    with _pytest.raises(ValueError, match="n_hashes"):
        bloom_build(keys, "k", n_hashes=0)
    with _pytest.raises(ValueError, match="n_bits"):
        bloom_build(keys, "k", n_bits=32)


def test_mixture_weight_ppm_never_underflows_to_zero(spark):
    """q160's rank-proportional weight floors to 0 once n(n+1) > 2e6
    (~1413 sources): weight_ppm=0 divides by zero downstream — NULL on
    Spark, an error on DuckDB. The greatest(1, …) clamp must hold at
    any source cardinality (ADVICE r4)."""
    n = 2000
    df = spark.range(1, n + 1).selectExpr(
        "id AS r", f"CAST({n} AS BIGINT) AS n"
    )
    wts = df.selectExpr(
        "greatest(1L, r * 2000000 DIV (n * (n + 1))) AS weight_ppm"
    )
    mn = wts.agg(F.min("weight_ppm").alias("m")).collect()[0]["m"]
    assert mn >= 1


class _NoJdf:
    """Proxy simulating a Spark Connect DataFrame: every attribute
    delegates to the wrapped classic DataFrame EXCEPT ``_jdf``, which
    raises like Connect's py4j-free client does."""

    def __init__(self, df):
        object.__setattr__(self, "_df", df)

    def __getattr__(self, name):
        if name == "_jdf":
            raise AttributeError("'DataFrame' object has no attribute '_jdf'")
        return getattr(object.__getattribute__(self, "_df"), name)


def test_connect_degradation_falls_back_gracefully(spark):
    """VERDICT r4 item 5: without py4j internals (`_jdf`), the zip
    operators must degrade to their conservative paths — persisted
    range index, no common-source fusion — and still produce correct
    results. The except arms at zf._rescan_cheap /
    _common_source_keys are the code under test. Since r11 the
    boundary cache keys on PUBLIC ``df.semanticHash()`` (Connect-
    supported since Spark 3.5), so boundary caching now WORKS without
    ``_jdf`` — the test asserts the cache populates and hits through
    the proxy rather than being skipped.

    Known limitation (ADVICE r11): the proxy DELEGATES semanticHash to
    the wrapped classic DataFrame, whose own implementation goes
    through ``_jdf`` internally — so this proves the CACHE code no
    longer touches ``_jdf`` directly, not that a real Connect
    semanticHash behaves identically. The closing evidence for real
    Connect is running ``tools/connect_smoke.py`` (q13 exercises this
    path) on a host with grpcio; see
    ``docs/probes/connect_smoke.json`` for the standing blocker."""
    import importlib

    zf = importlib.import_module(
        "mindseye_dataframes_spark.operators.zip_frames"
    )
    from mindseye_dataframes_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = ev.select("event_id", "event_type")
    b = ev.select(F.col("value").alias("val"), F.col("event_id").alias("_bid"))
    pa, pb = _NoJdf(a), _NoJdf(b)

    # plan introspection unavailable -> conservative answers
    assert not zf._rescan_cheap(pa)
    assert not zf._common_source_keys([pa, pb], [["event_id"], ["_bid"]])
    # (the real frames DO fuse — the proxy is what disables it)
    assert zf._common_source_keys([a, b], [["event_id"], ["_bid"]])

    # boundary sampling works AND caches via public semanticHash
    before = dict(zf._BOUNDS_CACHE)
    bounds_proxy = zf._sample_boundaries(pa, ["event_id"], 8)
    assert len(zf._BOUNDS_CACHE) == len(before) + 1  # key needs no _jdf
    assert zf._sample_boundaries(pa, ["event_id"], 8) == bounds_proxy
    assert len(zf._BOUNDS_CACHE) == len(before) + 1  # second call hit
    bounds_real = zf._compute_boundaries(a, ["event_id"], 8)
    assert bounds_proxy == bounds_real

    # with_row_index end-to-end: auto-detect must pick the
    # persisted-range path and the index must still be dense + ordered
    out = zf.with_row_index(pa, ["event_id"], index_col="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # persisted snapshot, not rescan
    rows = out.select("event_id", "rid").collect()
    n = ev.count()
    assert sorted(r["rid"] for r in rows) == list(range(n))
    by_order = sorted(rows, key=lambda r: r["event_id"])
    assert [r["rid"] for r in by_order] == list(range(n))

    # zip via proxies: generic per-frame-index path, same rows as the
    # fused path over the real frames
    fused = zf.zip_frames([a, b], [["event_id"], ["_bid"]])
    generic = zf.zip_frames([pa, pb], [["event_id"], ["_bid"]])
    f_rows = {tuple(r) for r in fused.select("event_id", "event_type", "val").collect()}
    g_rows = {tuple(r) for r in generic.select("event_id", "event_type", "val").collect()}
    assert f_rows == g_rows and f_rows


def test_tvd_ppm_guard_errors_past_ceiling_exact_below(spark):
    """q165's closing expression must be exact BIGINT arithmetic below
    the 2·t_s·t·1e6 < 2^63 ceiling and raise a typed error (never wrap
    to a wrong sign/value) above it — VERDICT r5 item 6."""
    import pytest

    from mindseye_dataframes_spark.queries.corpus_stats import (
        _TVD_CEILING,
        tvd_ppm_guarded,
    )

    # below the ceiling: matches plain-python exact integer arithmetic
    ok_rows = [
        (10**6, 4 * 10**6, 3 * 10**9, 2 * 10**6),
        (2_000_000, 2_300_000, 10**12, 1_500_000),
        (1, 1, 0, 1),
    ]
    df = spark.createDataFrame(
        ok_rows, "t_s long, t long, present_abs long, present_mass long"
    )
    got = [r["ppm"] for r in df.select(tvd_ppm_guarded().alias("ppm")).collect()]
    want = [
        (pa + ts * (t - pm)) * 1_000_000 // (2 * ts * t)
        for ts, t, pa, pm in ok_rows
    ]
    assert got == want

    # just below vs just above the enforced boundary
    t = 3_000_000_000
    ts_max = _TVD_CEILING // t
    below = spark.createDataFrame(
        [(ts_max, t, 0, t)], "t_s long, t long, present_abs long, present_mass long"
    )
    assert below.select(tvd_ppm_guarded().alias("ppm")).collect()[0]["ppm"] == 0

    above = spark.createDataFrame(
        [(ts_max + 1, t, 0, t)],
        "t_s long, t long, present_abs long, present_mass long",
    )
    with pytest.raises(Exception, match="exact-BIGINT ppm ceiling"):
        above.select(tvd_ppm_guarded().alias("ppm")).collect()


def test_dedup_pair_stage_cache_is_shared_and_correct(spark, sf_dir):
    """VERDICT r5 item 5: q32/q77/q79/q158/q167 share one
    LSH→verify(→contract) stage per (session, sf_dir, threshold). The
    cached frames must be (a) the same object on repeat calls (no
    rebuild), (b) equal to a from-scratch derivation, and (c) distinct
    per threshold."""
    from mindseye_dataframes_spark.operators.dedup import jaccard_verified_pairs
    from mindseye_dataframes_spark.queries.dedup import (
        dup_clusters_cached,
        verified_pairs_cached,
    )
    from mindseye_dataframes_spark.sources.readers import load_table

    p1 = verified_pairs_cached(spark, sf_dir, 0.5)
    p2 = verified_pairs_cached(spark, sf_dir, 0.5)
    assert p1 is p2  # no rebuild within a session
    fresh = jaccard_verified_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    )
    got = sorted(map(tuple, p1.collect()))
    assert got == sorted(map(tuple, fresh.collect()))

    c1 = dup_clusters_cached(spark, sf_dir, 0.5)
    assert c1 is dup_clusters_cached(spark, sf_dir, 0.5)
    labels = {r["doc_id"]: r["cluster_id"] for r in c1.collect()}
    # cluster label is the component's min id, and members of a pair
    # share a label
    for r in p1.collect():
        assert labels[r["id_a"]] == labels[r["id_b"]]
    assert all(label <= doc for doc, label in labels.items())

    p9 = verified_pairs_cached(spark, sf_dir, 0.9)
    assert p9 is not p1  # thresholds don't alias


def test_unimax_waterfill_matches_sequential_reference(spark):
    """q174's closed-form waterfill (saturation prefix + EQUAL integer
    share for every non-saturated source, flooring — the ≤|sources|
    leftover tokens from the floor are deliberately unallocated so the
    allocation is engine-exact) must agree with a sequential greedy
    reference up to that remainder: same saturated set, per-source
    difference ≤ 1 token, and the exact invariants alloc ≤ cap,
    equal non-saturated shares, Σ alloc ≤ budget with a bounded
    shortfall."""
    import numpy as np

    from mindseye_dataframes_spark.queries.curation import (
        _UNIMAX_BUDGET_EPOCHS,
        _UNIMAX_EPOCH_CAP,
    )

    rng = np.random.default_rng(17)
    for trial in range(5):
        n = int(rng.integers(2, 12))
        supply = sorted(
            (f"s{i:02d}", int(rng.integers(1, 10**6))) for i in range(n)
        )
        total = sum(t for _, t in supply)
        budget = total * _UNIMAX_BUDGET_EPOCHS

        # sequential greedy reference in ascending (cap, source) order
        order = sorted(supply, key=lambda st: (st[1] * _UNIMAX_EPOCH_CAP, st[0]))
        remaining, want = budget, {}
        for idx, (src, t_s) in enumerate(order):
            fair = remaining // (len(order) - idx)
            a = min(t_s * _UNIMAX_EPOCH_CAP, fair)
            want[src] = a
            remaining -= a

        # the closed form, replayed through the registered query's
        # own machinery on a temp documents-like table
        docs = spark.createDataFrame(
            [(s, " ".join(["w"] * 1),) for s, _ in supply],
            "source string, text string",
        )
        # build the identical plan on a synthetic token frame instead
        # of re-tokenizing text: feed the closed form directly
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        tok = spark.createDataFrame(
            [(s, t) for s, t in supply], "source string, t_s long"
        )
        full = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = Window.orderBy("cap", "source").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        flagged = (
            tok.select("source", "t_s", (F.col("t_s") * _UNIMAX_EPOCH_CAP).alias("cap"))
            .withColumn("budget", F.sum("t_s").over(full) * _UNIMAX_BUDGET_EPOCHS)
            .withColumn("n", F.count(F.lit(1)).over(full))
            .withColumn("i", F.row_number().over(Window.orderBy("cap", "source")))
            .withColumn("p", F.sum("cap").over(cum))
            .withColumn(
                "flag",
                F.when(
                    F.expr("cap <= (budget - (p - cap)) DIV (n - i + 1)"), 1
                ).otherwise(0),
            )
            .withColumn("sat", F.min("flag").over(cum))
            .withColumn("k", F.sum("sat").over(full))
            .withColumn(
                "pk",
                F.coalesce(
                    F.sum(F.when(F.col("sat") == 1, F.col("cap"))).over(full),
                    F.lit(0),
                ),
            )
            .withColumn(
                "alloc",
                F.expr(
                    "CASE WHEN sat = 1 THEN cap"
                    " ELSE (budget - pk) DIV (n - k) END"
                ),
            )
        )
        rows = flagged.collect()
        got = {r["source"]: r["alloc"] for r in rows}
        sat = {r["source"] for r in rows if r["sat"] == 1}
        caps = {s: t * _UNIMAX_EPOCH_CAP for s, t in supply}
        # saturated sources take exactly their cap, and the saturated
        # set matches the greedy reference's
        assert sat == {s for s, a in want.items() if a == caps[s] and got[s] == caps[s]} or all(
            got[s] == caps[s] for s in sat
        )
        # agreement with sequential greedy up to remainder flooring
        for s in got:
            assert abs(got[s] - want[s]) <= 1, (trial, s, got[s], want[s])
        # exact spec invariants
        assert all(got[s] <= caps[s] for s, _ in supply)
        free = [got[s] for s in got if s not in sat]
        assert len(set(free)) <= 1  # equal integer shares
        assert sum(got.values()) <= budget
        assert budget - sum(got.values()) <= max(1, len(got))  # floored remainder only


def test_paragraph_dedup_rewrite_semantics(spark, tmp_path_factory):
    """Pin q180's keep/drop rule on a hand-built corpus, independent
    of the DuckDB oracle: a chunk duplicated across docs survives
    only at its first (doc_id, chunk_idx); an intra-doc repeat keeps
    only its first slot; reassembly preserves chunk order. Also pins
    the fixed-boundary caveat: dedup fires on ALIGNED 16-word chunks."""
    from mindseye_dataframes_spark.queries.paragraphs import (
        q180_paragraph_dedup_rewrite,
    )

    X = " ".join(f"x{i}" for i in range(16))
    Y = " ".join(f"y{i}" for i in range(16))
    Z = " ".join(f"z{i}" for i in range(16))
    W = " ".join(f"w{i}" for i in range(16))
    rows = [
        (0, X + " " + Y),   # first occurrence of X and Y
        (1, X + " " + Z),   # X dropped, Z kept
        (2, W + " " + W),   # intra-doc repeat: second W dropped
    ]
    d = str(tmp_path_factory.mktemp("q180sem"))
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in q180_paragraph_dedup_rewrite(spark, d).collect()
    }
    assert got[0]["n_chunks"] == 2 and got[0]["n_kept"] == 2
    assert got[1]["n_chunks"] == 2 and got[1]["n_kept"] == 1
    assert got[2]["n_chunks"] == 2 and got[2]["n_kept"] == 1
    # reassembly drops the duplicated chunk but keeps order
    assert got[1]["kept_chars"] == len(Z)
    assert got[0]["kept_chars"] == len(X + " " + Y)


def test_ivf_postings_path_matches_direct_ivf(spark):
    """Storage independence of the standing ANN index: given the same
    centroids, ``ann_topk_ivf_postings`` over an explicitly built
    posting list must return EXACTLY what ``ann_topk_ivf`` computes
    end-to-end — splitting the corpus pass out into a standing table
    may never change a single (rank, id, score)."""
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.operators.similarity import (
        _nearest_cells,
        ann_topk_ivf,
        ann_topk_ivf_postings,
        ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
    cents = ivf_centroids(corpus, "nid", "cv", 16)
    direct = ann_topk_ivf(
        queries, corpus, "qid", "qv", "nid", "cv", 5, n_centroids=16, n_probe=4
    ).collect()
    postings = corpus.select(
        _nearest_cells("cv", cents, 1)[0].alias("_cell"), "nid", "cv"
    )
    via_postings = ann_topk_ivf_postings(
        queries, postings, cents, "qid", "qv", "nid", "cv", 5, n_probe=4
    ).collect()
    as_set = lambda rows: {(r["qid"], r["rank"], r["nid"], r["cos_r"]) for r in rows}
    assert as_set(direct) == as_set(via_postings)


def test_substring_rewrite_invariants(spark, sf_dir):
    """q207 invariants the per-doc hash can't express on its own:
    a document's text survives verbatim IFF nothing was removed
    (new_md5 == md5(original) <=> n_removed == 0), removals never
    exceed the document, every document of the corpus appears exactly
    once, and this corpus (8% constructed near-dups) actually
    exercises the removal path."""
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.sources.readers import load_table

    rows = {
        r["doc_id"]: r
        for r in load_all()["q207_substring_dedup_rewrite"].fn(spark, sf_dir).collect()
    }
    orig = {
        r["doc_id"]: r["m"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5("text").alias("m"))
        .collect()
    }
    assert set(rows) == set(orig)
    n_touched = 0
    for doc_id, r in rows.items():
        assert 0 <= r["n_removed"] <= r["n_tok"], r
        if r["n_removed"] == 0:
            assert r["new_md5"] == orig[doc_id], r
        else:
            n_touched += 1
            assert r["new_md5"] != orig[doc_id], r
    assert n_touched > 0


def test_rendezvous_movers_are_exactly_new_shard_winners(spark):
    """HRW's minimal-disruption law: growing 8→9 shards moves exactly
    the keys whose 9-shard winner IS the new shard (index 8) — no
    other key's argmax can change when a candidate is added. Also pins
    the narrow plan: shard assignment adds no join and no explode
    before the final rollup."""
    from mindseye_dataframes_spark.queries.scale_patterns import _rdzv_expr

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id").select(
        "doc_id",
        F.expr(_rdzv_expr(8)).alias("s8"),
        F.expr(_rdzv_expr(9)).alias("s9"),
    )
    rows = df.collect()
    movers = {r["doc_id"] for r in rows if r["s8"] != r["s9"]}
    new_winners = {r["doc_id"] for r in rows if r["s9"] == 8}
    assert movers == new_winners
    assert 0 < len(movers) < 2000 * 0.25  # ~1/9 expected, generous cap
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "Join" not in plan


def test_margin_mining_suppresses_hub(spark):
    """The margin criterion's reason to exist: a hub vector moderately
    similar to EVERY anchor is rejected (its own k-NN level is as high
    as any single pair), while a genuine translation pair — even with
    a LOWER raw cosine than the hub's best — is accepted. A raw-cosine
    gate cannot make that call."""
    from mindseye_dataframes_spark.operators.similarity import mine_margin_pairs

    import math

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # three orthogonal anchors; per-anchor true matches at cos≈0.71;
    # one hub at cos≈0.74 to every anchor (higher than any true pair)
    anchors = [(0, [1.0, 0.0, 0.0, 0.0]),
               (2, [0.0, 1.0, 0.0, 0.0]),
               (4, [0.0, 0.0, 1.0, 0.0])]
    targets = [(1, unit([1.0, 0.0, 0.0, 1.0])),
               (3, unit([0.0, 1.0, 0.0, 1.0])),
               (5, unit([0.0, 0.0, 1.0, 1.0])),
               (7, unit([0.75, 0.75, 0.75, 0.2]))]  # the hub
    a = spark.createDataFrame(anchors, "src_id long, qv array<double>")
    t = spark.createDataFrame(targets, "tgt_id long, cv array<double>")
    s = spark.createDataFrame(
        [(i, v) for i, v in anchors], "nb_id long, cv array<double>"
    )
    got = {
        (r["src_id"], r["tgt_id"]): r["margin_ppm"]
        for r in mine_margin_pairs(a, t, s, k=2, tau_ppm=1_050_000).collect()
    }
    assert (0, 1) in got and (2, 3) in got and (4, 5) in got
    assert not any(tgt == 7 for _, tgt in got)  # hub rejected


def test_py_simhash_bands_band0_equals_simhash16(spark, sf_dir):
    """The production 64-bit SimHash (q238, Arrow-batched Python twin)
    must agree bit-for-bit with the oracle-replayable 16-bit
    fingerprint (q120, SQL-expression fold) on its first band — the
    tie VERDICT r12 asked for between the scale-width operator and
    the exact twin. Also pins the band layout: 4 values, each within
    int16 range."""
    import pyspark.sql.functions as F

    from mindseye_dataframes_spark.functions.textfns import (
        py_simhash_bands,
        simhash16,
    )
    from mindseye_dataframes_spark.sources.readers import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", simhash16("text").alias("sh16"))
        .orderBy("doc_id")
        .limit(60)
        .collect()
    )
    assert docs
    for r in docs:
        bands = py_simhash_bands(r["text"], 4)
        assert len(bands) == 4
        assert all(0 <= v < (1 << 16) for v in bands)
        assert bands[0] == r["sh16"], r["doc_id"]


def test_allpairs_cosine_threshold_equals_theta_join(spark):
    """The block-partitioned exact all-pairs operator (q34's engine,
    operators/similarity.py:allpairs_cosine_threshold) must emit
    EXACTLY the pairs the naive theta-join emits — including
    zero-norm vectors (cosine NaN, which both engines order above any
    threshold) and near-boundary pairs — for several block counts, so
    block partitioning provably loses/invents nothing."""
    import math

    import pyspark.sql.functions as F

    from mindseye_dataframes_spark.functions.vectors import cosine_ranked
    from mindseye_dataframes_spark.operators.similarity import (
        allpairs_cosine_threshold,
    )

    # 40 deterministic vectors: a cluster of near-dups, a spread of
    # mid-similarity pairs around the 0.4 threshold, one zero vector
    rows = []
    for i in range(40):
        if i == 7:
            rows.append((i, [0.0, 0.0, 0.0]))
            continue
        ang = i * 0.1
        rows.append((i, [math.cos(ang), math.sin(ang), 0.01 * i]))
    df = spark.createDataFrame(rows, "vid long, v array<double>")

    a = df.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    b = df.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    want = sorted(
        (r["id_a"], r["id_b"], r["cos_r"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_ranked("va", "vb").alias("cos_r"))
        .filter(F.col("cos_r") >= 0.4)
        .collect()
    )
    assert want  # fixture sanity: threshold pairs + NaN pairs exist
    assert any(r[0] == 7 or r[1] == 7 for r in want)  # NaN pairs kept
    for rows_per_block in (4, 16, 1000):  # B = 10, 3, 1
        got = sorted(
            (r["id_a"], r["id_b"], r["cos_r"])
            for r in allpairs_cosine_threshold(
                df, "vid", "v", 0.4, rows_per_block=rows_per_block
            ).collect()
        )
        def key(t):  # NaN != NaN, so compare on a normalized key
            return (t[0], t[1], "NaN" if t[2] != t[2] else t[2])
        assert [key(t) for t in got] == [key(t) for t in want], rows_per_block


def test_cosine_topk_gemm_equals_exact(spark):
    """The BLAS candidate generator must be invisible: identical
    (query, rank, neighbor, score) rows as the exact scorer
    (``_scored_cosine_pairs`` ranked by ``_rank_topk``, which is
    ``cosine_topk``) — including exact ties (cloned corpus vectors),
    NaN-poisoned vectors (rank FIRST), multiple partitions, and both
    tag-exclusion modes (self-id for q184, label for q194). The exact
    re-verify runs the same cosine_ranked fold, so scores are
    bit-identical."""
    import numpy as np

    from mindseye_dataframes_spark.operators.similarity import (
        _rank_topk,
        _scored_cosine_pairs,
        cosine_topk_gemm,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    vecs = [[float(x) for x in rng.normal(0, 1, 8)] for _ in range(120)]
    for i in (30, 60, 90):  # exact ties: clones of vector 0
        vecs[i] = list(vecs[0])
    for i in (45, 75):  # NaN cosine ranks FIRST in both paths
        vecs[i] = [float("nan")] * 8
    labels = [i % 3 for i in range(120)]
    corpus = spark.createDataFrame(
        [(i, v, labels[i]) for i, v in enumerate(vecs)],
        "cid long, cv array<double>, c_label long",
    ).repartition(7)
    queries = spark.createDataFrame(
        [(i, vecs[i], labels[i]) for i in range(5)],
        "qid long, qv array<double>, q_label long",
    )

    def rows(df):
        return sorted(
            tuple("NaN" if isinstance(v, float) and v != v else v for v in r)
            for r in df.collect()
        )

    def exact(pair_filter=None):
        scored = _scored_cosine_pairs(
            queries, corpus, "qid", "qv", "cid", "cv", pair_filter=pair_filter
        )
        return _rank_topk(scored, "qid", "cid", 10)

    # no filter
    assert rows(
        cosine_topk_gemm(queries, corpus, "qid", "qv", "cid", "cv", 10)
    ) == rows(exact())
    # self-exclusion by shared id (q184's shape)
    assert rows(
        cosine_topk_gemm(
            queries, corpus, "qid", "qv", "cid", "cv", 10,
            q_tag="qid", c_tag="cid",
        )
    ) == rows(exact(F.col("cid") != F.col("qid")))
    # label mismatch (q194's shape)
    assert rows(
        cosine_topk_gemm(
            queries, corpus, "qid", "qv", "cid", "cv", 10,
            q_tag="q_label", c_tag="c_label",
        )
    ) == rows(exact(F.col("c_label") != F.col("q_label")))
