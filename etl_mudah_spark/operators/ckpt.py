"""Materialize-once checkpoint boundaries for multi-consumer subtrees.

Several operators compute an expensive subtree (a text/shingle pass, a
(doc, term, tf) aggregation, a per-row tokenize+hash projection) that
feeds two or more downstream consumers. Without a boundary, Catalyst
re-expands the subtree per consumer and the executed plan runs the
expensive pass once PER CONSUMER. A lazy ``localCheckpoint`` turns it
into one pass: the first action materializes the RDD blocks on the
executors and every consumer reads them.

``persist()`` is deliberately NOT used for this: the CacheManager
matches canonical plans across *calls*, so a second invocation of the
same query in one session would silently read the first call's cache —
cross-run result reuse, which the bench methodology forbids (and which
hides the query's real cost from any caller).

Fault-tolerance trade-off (the 100 TB story): ``localCheckpoint``
blocks are UNREPLICATED and the lineage is truncated. On a real
cluster, losing an executor after materialization fails the query —
there is no recompute path. For the adopted boundaries the stored rows
are narrow projections (ids + small arrays/counts), so re-running the
query is the recovery path, and that is the right default trade for
interactive/batch-retryable work. Jobs that cannot accept a restart
set ``spark.etl_mudah.reliableCheckpoint.dir`` to a durable
(HDFS/object-store) path and every boundary below becomes a RELIABLE
checkpoint: blocks are written to that storage and survive executor
loss, at the cost of a write+read round trip per boundary. The
session's ContextCleaner (``spark.cleaner.referenceTracking.
cleanCheckpoints``, set by session.get_spark) deletes a boundary's
checkpoint data once its DataFrame is unreachable; a session that does
not set it keeps every boundary's files for the life of the
application.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_DIR_CONF = "spark.etl_mudah.reliableCheckpoint.dir"


def materialize_once(df: DataFrame) -> DataFrame:
    """Lazy checkpoint boundary for a subtree with multiple consumers.

    Default: ``localCheckpoint(eager=False)`` — fast, unreplicated,
    query-restart recovery. With ``spark.etl_mudah.reliableCheckpoint.dir``
    set: a reliable ``checkpoint(eager=False)`` into that directory —
    survives executor loss.
    """
    spark = df.sparkSession
    reliable_dir = spark.conf.get(RELIABLE_DIR_CONF, "")
    if reliable_dir:
        sc = spark.sparkContext
        # setCheckpointDir makes a fresh UUID subdir on every call: set
        # it only when the live one is not already a subdir of the knob
        hpath = sc._jvm.org.apache.hadoop.fs.Path
        want = hpath(reliable_dir)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        cur = sc.getCheckpointDir()
        if cur is None or not hpath(cur).getParent().equals(want):
            sc.setCheckpointDir(reliable_dir)
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
