"""Spark Connect smoke: run one query per compat-shim call-site family
under a REAL Connect session (one ``measure.passes`` pass: wall time
only) and write benchdata/probes/connect_smoke_run.json.

This container cannot run it (no grpcio, installs prohibited — see
docs/probes/connect_smoke.json for the captured failure evidence); on
an unrestricted host:

    pip install 'grpcio>=1.48.1' grpcio-status googleapis-common-protos protobuf
    $SPARK_HOME/sbin/start-connect-server.sh \
        --packages org.apache.spark:spark-connect_2.13:4.1.2
    python tools/connect_smoke.py [sc://localhost:15002] [sf_dir]

The subset covers every compat routing the shim claims to handle:
  q13  — zip_frames boundary cache (semanticHash key) + broadcast shim
  q163 — clustering centroid broadcast
  q78  — featurize modeler parameter broadcast + mapInPandas
  q144 — fingerprint lister (connect_lister binaryFile path)
"""

from __future__ import annotations

import sys

SUBSET = (
    "q13_zip_positional",
    "q163_semdedup",
    "q78_eval_identity",
    "q144_table_fingerprint",
)


def main() -> None:
    remote = sys.argv[1] if len(sys.argv) > 1 else "sc://localhost:15002"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.remote(remote).getOrCreate()
    # prove this is genuinely Connect, not a local fallback
    is_connect = type(spark).__module__.startswith("pyspark.sql.connect")

    from mindseye_dataframes_spark.measure import passes, write
    from mindseye_dataframes_spark.queries import load_all

    registry = load_all()
    results = passes(spark, {n: registry[n] for n in SUBSET}, sf_dir, 1)

    probe = {
        "probe": "spark-connect smoke",
        "remote": remote,
        "sf_dir": sf_dir,
        "session_is_connect": is_connect,
        "results": results,
        "ok": is_connect and not any(isinstance(r, str) for r in results.values()),
    }
    print("WROTE", write("connect_smoke_run", probe))


if __name__ == "__main__":
    main()
