"""Decompose the streaming per-trigger latency floor (VERDICT r10 item 4).

The bench's 1-file-per-trigger pass shows ~0.9 s per micro-batch at
sf0.1 (16 batches over ~14 s) while the saturated single-trigger run
moves the same rows in ~2 s — so the floor is per-trigger OVERHEAD,
not compute. This script attributes it using the engine's own
telemetry: StreamingQueryProgress.durationMs splits every micro-batch
into
    latestOffset   source listing (which new files?)
    getBatch       source batch DataFrame construction
    queryPlanning  incremental Catalyst planning (per batch!)
    addBatch       execution: scan + agg + state round trip + sink
    walCommit      offset log fsync
    commitOffsets  commit log fsync
plus stateOperators[*].commitTimeMs (state-store checkpoint inside
addBatch). The bench's floor pipeline (bench.hourly_event_agg) runs
under the default HDFSBackedStateStoreProvider and under
RocksDBStateStoreProvider, same drop dir, fresh checkpoints per run.

Run SOLO. Results recorded in BASELINE.md (round-11 notes).

    python scripts/stream_floor_decomp.py [--reps N] [--sf-dir DIR]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

import bench
from etl_mudah_spark.session import get_spark
from etl_mudah_spark.streaming import pipeline
from scripts import ab

N_FILES = 16
_STATE = "org.apache.spark.sql.execution.streaming.state."
PROVIDERS = {
    "hdfs": _STATE + "HDFSBackedStateStoreProvider",
    "rocksdb": _STATE + "RocksDBStateStoreProvider",
}


def floor_drain(spark, drop, schema, provider, log, width=None):
    """A variant: one 1-file-per-trigger drain of the bench's hourly
    rollup into a noop sink under state-store ``provider``; appends
    (micro-batch count, run id) of every drain to ``log``."""

    def drain():
        ids = []

        def sink(batch_df, batch_id):
            ab.noop(batch_df)
            ids.append(batch_id)

        pipeline.run_stream(
            spark,
            bench.hourly_event_agg(spark, drop, schema, 1),
            sink,
            width=width,
            output_mode="update",
        )
        log.append((len(ids), str(pipeline.LAST_PROGRESS["runId"])))

    return ab.with_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": provider}, drain
    )


class _Progress(StreamingQueryListener):
    """Every progress event, and the run ids that have terminated."""

    def __init__(self):
        self.events: list[dict] = []
        self.ended: set[str] = set()
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.ended.add(str(event.runId))


def durations(progress: list[dict]) -> dict[str, float]:
    """Median seconds per durationMs component (plus the state-store
    commit) over the batches that read input."""
    comp: dict[str, list[float]] = {}
    for p in progress:
        if p.get("numInputRows", 0) == 0:
            continue  # trailing empty trigger
        for k, v in (p.get("durationMs") or {}).items():
            comp.setdefault(k, []).append(v / 1000.0)
        for so in p.get("stateOperators") or []:
            comp.setdefault("state.commit", []).append(
                so.get("commitTimeMs", 0) / 1000.0
            )
    return {k: round(ab.stats(v)[1], 3) for k, v in comp.items()}


def main():
    args = ab.parser(__doc__, reps=2).parse_args()
    spark = get_spark("stream-floor-decomp")
    listener = _Progress()
    spark.streams.addListener(listener)
    scratch = tempfile.mkdtemp(prefix="stream_floor_")
    try:
        drop, schema, n_rows = bench.stage_drop(spark, args.sf_dir, scratch, N_FILES)
        logs: dict[str, list] = {t: [] for t in PROVIDERS}
        walls = ab.run(spark, lambda: {
            t: floor_drain(spark, drop, schema, p, logs[t])
            for t, p in PROVIDERS.items()
        }, reps=args.reps)
        deadline = time.monotonic() + 30
        want = {run_id for log in logs.values() for _, run_id in log}
        while not want <= listener.ended:
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"{len(want - listener.ended)} of {len(want)} streams "
                    "reported no termination within 30 s; their progress "
                    "events are incomplete"
                )
            time.sleep(0.2)
        for tag, log in logs.items():
            ids = {run_id for _, run_id in log}
            progress = [e for e in listener.events if e.get("runId") in ids]
            n_batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
            wall = ab.stats(walls[tag])[1]
            print(json.dumps({
                "label": tag,
                "median_wall_sec": wall,
                "batches_per_run": n_batches / len(ids),
                "rows_per_sec": round(n_rows / wall),
                "per_batch_sec": round(wall * len(ids) / max(1, n_batches), 3),
                "median_durations_sec": durations(progress),
            }, indent=2), flush=True)
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
