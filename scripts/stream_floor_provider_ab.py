"""Round-14 probe: does the streaming-floor series' per-trigger cost
change under the RocksDB state-store provider?

BASELINE.md §13 decomposed the 1-file/trigger floor into the per-trigger
state-store commit ledger (one delta file per state partition per
trigger on the default HDFS-backed provider). RocksDB is the production
provider for LARGE state; at this series' tiny state (~800 groups) its
per-commit machinery (changelog/snapshot zip per partition) may cost
more, not less. This probe answers it empirically: the exact
bench_streaming floor pipeline (16 drop files, 1/trigger, watermark +
tumbling window + count/sum, update mode, foreachBatch noop), run
alternately under the HDFS and RocksDB providers in one session
(provider is read per-query at stream start), reps rotated.

Usage: python scripts/stream_floor_provider_ab.py [--reps N] [--parts P] [--files F]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench
from etl_mudah_spark.session import get_spark
from scripts import ab
from scripts.stream_floor_decomp import PROVIDERS, floor_drain


def main() -> None:
    ap = ab.parser(__doc__, reps=3)
    ap.add_argument("--parts", type=int, default=None,
                    help="state width of the stream (default: the "
                    "session's shuffle width)")
    ap.add_argument("--files", type=int, default=16)
    args = ap.parse_args()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    scratch = tempfile.mkdtemp(prefix="floor_provider_ab_")
    try:
        drop, schema, n_rows = bench.stage_drop(spark, args.sf_dir, scratch, args.files)
        logs: dict[str, list] = {t: [] for t in PROVIDERS}
        walls = ab.run(spark, lambda: {
            t: floor_drain(spark, drop, schema, p, logs[t], width=args.parts)
            for t, p in PROVIDERS.items()
        }, reps=args.reps)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    width = args.parts or spark.conf.get("spark.sql.shuffle.partitions")
    for tag, ts in walls.items():
        med = ab.stats(ts)[1]
        nb = ab.stats(n for n, _ in logs[tag])[1]
        print(
            f"FLOOR {tag} (parts={width}): rows/s at med {round(n_rows / med)}; "
            f"{med / max(1, nb):.3f} s/batch over {nb} batches"
        )


if __name__ == "__main__":
    main()
