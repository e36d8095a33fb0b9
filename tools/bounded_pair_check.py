"""Aggregate-checksum parity for OUTPUT- or COMPARE-BOUND queries at
big SF.

Three registry queries outgrow the standard sweep comparison at sf1,
each for a size reason, none for a values reason:

- q120 (SimHash hamming pairs) emits ~N^2/2^16 qualifying pairs once
  the corpus dwarfs its 16-bit fingerprint space — ~6.5e8 rows at
  sf1. Collecting that to the driver dies on maxResultSize (the
  round-8 sf1 sweep recorded that honestly).
- q213 (n-gram containment pairs) is output-bounded, but its DuckDB
  oracle list-intersects every candidate pair — comparison-cost
  bound, and its full sorted result is still a driver collect.
- q226 (LSH dedup eval) already RETURNS one row, but its oracle's
  ground-truth CTE re-enumerates the exact shingle-pair relation —
  the same comparison-cost regime as q213.

The ENGINE paths are fine (bounded inverted-index joins), so what
needs sf1 evidence is the VALUES. This probe reduces each query's
pair relation to order-insensitive aggregates in BOTH engines and
compares those (VERDICT r9 item 2 generalizes the q120 pattern):

    n_rows                          exact cardinality
    sum_<metric>                    catches any verify-stage drift
    checksum = SUM(md5_32(col:col:...))   (2^32 buckets)
                                    order-insensitive value digest; any
                                    changed/missing/extra row moves it

q226's single row is compared value-for-value (it IS the bounded
aggregate — recall/precision ppm over the exact ground truth), so its
sf1 entry certifies the same thing the driver's hash gate certifies
at sf0.01.

Driver state is O(1); Spark runs one partial+final aggregate; DuckDB
replays the same relation + digest. 2^32 buckets keep the BIGINT sum
exact for any corpus under ~2^31 rows (6.5e8 * 2^32 ~= 2^61.4 < 2^63
— the repo's overflow-ceiling discipline; the first attempt used 2^40
buckets and Spark's sum overflowed at ~7e20, exactly the failure
class this ceiling exists to prevent).

Usage:  python tools/bounded_pair_check.py [sf_dir] [q120 q213 q226]
Merges results into docs/probes/bounded_pairs_<sfname>.json (one
entry per query under "queries"); exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _digest_cols_spark(cols):
    import pyspark.sql.functions as F

    joined = ", ".join(cols)
    return F.expr(
        f"CAST(conv(substr(md5(concat_ws(':', {joined})), 1, 8),"
        " 16, 10) AS BIGINT)"
    )


def _digest_cols_duck(cols):
    joined = " || ':' || ".join(cols)
    return (
        f"CAST(('0x' || substr(md5({joined}), 1, 8)) AS BIGINT)"
    )


# per-query probe spec: how to reduce the (identical) relation in both
# engines to O(1) aggregates. `metric` is the summed value column.
SPECS = {
    "q120": {
        "query": "q120_simhash_hamming_pairs",
        "cols": ["id_a", "id_b", "hamming"],
        "metric": "hamming",
    },
    "q213": {
        "query": "q213_ngram_containment_pairs",
        "cols": ["src_id", "dst_id", "containment_ppm"],
        "metric": "containment_ppm",
    },
    # q226 returns ONE row of exact eval aggregates — compared directly
    "q226": {"query": "q226_lsh_dedup_eval", "one_row": True},
}


def probe_pairs(spark, con, reg, spec, sf_dir):
    import pyspark.sql.functions as F

    name = spec["query"]
    cols, metric = spec["cols"], spec["metric"]

    t0 = time.time()
    srow = (
        reg[name]
        .fn(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(metric).alias("sum_metric"),
            F.sum(_digest_cols_spark(cols)).alias("checksum"),
        )
        .collect()[0]
    )
    t_spark = round(time.time() - t0, 1)
    got = (int(srow["n_rows"]), int(srow["sum_metric"]), int(srow["checksum"]))
    print(f"spark {name}: {got} ({t_spark}s)", flush=True)

    # the registered oracle ends with ORDER BY — irrelevant under
    # aggregation and a huge sort on the DuckDB side
    pair_sql = reg[name].oracle.rsplit("ORDER BY", 1)[0]
    agg_sql = f"""
    SELECT CAST(count(*) AS BIGINT),
           CAST(sum({metric}) AS BIGINT),
           CAST(sum({_digest_cols_duck(cols)}) AS BIGINT)
    FROM rel
    """
    t0 = time.time()
    orow = con.execute(f"WITH rel AS ({pair_sql}) {agg_sql}").fetchone()
    t_duck = round(time.time() - t0, 1)
    want = (int(orow[0]), int(orow[1]), int(orow[2]))
    print(f"duckdb {name}: {want} ({t_duck}s)", flush=True)

    return {
        "spark": {"n_rows": got[0], f"sum_{metric}": got[1],
                  "checksum": got[2], "sec": t_spark},
        "duckdb": {"n_rows": want[0], f"sum_{metric}": want[1],
                   "checksum": want[2], "sec": t_duck},
        "match": got == want,
    }


def probe_one_row(spark, con, reg, spec, sf_dir):
    name = spec["query"]
    t0 = time.time()
    sdf = reg[name].fn(spark, sf_dir)
    srows = sdf.collect()
    t_spark = round(time.time() - t0, 1)
    scols = sorted(sdf.columns)
    got = {c: int(srows[0][c]) for c in scols}
    print(f"spark {name}: {got} ({t_spark}s)", flush=True)

    t0 = time.time()
    ocur = con.execute(reg[name].oracle)
    ocols = [d[0] for d in ocur.description]
    orow = ocur.fetchone()
    t_duck = round(time.time() - t0, 1)
    want = {c: int(v) for c, v in zip(ocols, orow)}
    want = {c: want[c] for c in sorted(want)}
    print(f"duckdb {name}: {want} ({t_duck}s)", flush=True)

    return {
        "spark": {**got, "sec": t_spark},
        "duckdb": {**want, "sec": t_duck},
        "match": len(srows) == 1 and got == want,
    }


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    os.chdir(repo)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "benchdata/sf1"
    keys = sys.argv[2:] or list(SPECS)
    unknown = [k for k in keys if k not in SPECS]
    if unknown:
        sys.exit(f"unknown probe keys {unknown}; known: {sorted(SPECS)}")

    import duckdb

    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.session import get_session

    spark = get_session(app_name="bounded-pair-check")
    reg = load_all()

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    doc_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(doc_path):
        # Spark-written table = a DIRECTORY of part files (the
        # tools/make_benchdata.py layout) — DuckDB needs the glob
        doc_path = os.path.join(doc_path, "*.parquet")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc_path}')"
    )

    sfname = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(repo, "docs", "probes", f"bounded_pairs_{sfname}.json")
    out = {"sf_dir": sf_dir, "queries": {}}
    if os.path.exists(path):
        prev = json.load(open(path))
        if "queries" in prev:
            out["queries"] = prev["queries"]
        elif "query" in prev:  # migrate the round-9 single-query layout
            out["queries"][prev["query"]] = {
                "spark": prev["spark"],
                "duckdb": prev["duckdb"],
                "match": prev["match"],
            }

    all_ok = True
    for key in keys:
        spec = SPECS[key]
        fn = probe_one_row if spec.get("one_row") else probe_pairs
        res = fn(spark, con, reg, spec, sf_dir)
        out["queries"][spec["query"]] = res
        all_ok = all_ok and res["match"]
        print(spec["query"], "MATCH" if res["match"] else "MISMATCH", flush=True)
        with open(path, "w") as fh:  # persist incrementally
            json.dump(out, fh, indent=1)

    print("WROTE", path, "ALL MATCH" if all_ok else "MISMATCH", flush=True)
    spark.stop()
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
