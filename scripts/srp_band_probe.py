"""Standalone srp_incremental_batch band probe (round-14 attribution).

Stages ONLY the embeddings table at the x10 point with bench.py's own
stage_scaled (same orthogonal signed-permutation replica policy), then
runs bench.bench_srp_incremental exactly as the full run does —
isolating the series from the rest of the bench so band movement can
be attributed to box state vs code vs in-run interference.
"""
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mudah_spark.session import get_spark  # noqa: E402
import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark()
    scratch = tempfile.mkdtemp(prefix="srp_probe_")
    try:
        sc_dir, _ = bench.stage_scaled(
            spark, SF_DIR, scratch, factor=10, tables=["embeddings"]
        )
        out = {"srp_incremental_batch_band": bench.bench_srp_incremental(spark, sc_dir)}
        if os.environ.get("SRP_PROBE_STREAM", "1") != "0":
            out["stream_srp_ingest_band"] = bench.bench_stream_srp_ingest(
                spark, sc_dir
            )
        print(json.dumps(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
