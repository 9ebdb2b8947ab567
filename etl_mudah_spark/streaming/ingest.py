"""Incremental ingest as Structured Streaming: file-source micro-batches
→ flatten → foreachBatch merge-upsert.

This is the reference's whole ETL contract (SURVEY.md §2.8) in one
streaming pipeline: the 12-hourly Airflow re-scrape becomes a stream of
raw listing files (in production: the REST DataSource output landed to
a drop zone, or Kafka); each micro-batch flattens the nested API shape
(operators/flatten.py) and merges into the target table with
last-write-wins-by-key semantics (operators/merge.py) — idempotent
under replay, exactly like the reference's ON CONFLICT upsert
(dags/dag.py:250-266) but with a deterministic survivor.

``foreachBatch`` is the right tool (vs a direct streaming sink)
because merge is not an append — it reads+rewrites target partitions.
Spark guarantees per-batch atomicity via the checkpoint; merge
idempotency (same batch applied twice → same table) covers the
at-least-once edge around failures.

Scale: each micro-batch's merge cost is bounded by the touched
partitions (merge_upsert prunes via partition_col), not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mudah_spark.operators.flatten import flatten_listings
from etl_mudah_spark.operators.merge import merge_upsert
from etl_mudah_spark.schemas import API_LISTING
from etl_mudah_spark.streaming.pipeline import _read_or_empty, run_stream


def _merge_listings(
    spark: SparkSession,
    table_path: str,
    partition_col: str | None,
    batch_ts,
    row_checks=None,
    quarantine_path: str | None = None,
):
    """The per-trigger body both listings pipelines share: flatten the
    API shape, pass the dead-letter gate when ``row_checks`` is given,
    then merge-upsert by listing_id (last write wins by listing_date)."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        flat = flatten_listings(batch)
        if row_checks is not None:
            from etl_mudah_spark.operators.checks import split_quarantine

            flat, rejects = split_quarantine(flat, row_checks)
            if not rejects.isEmpty():
                rejects.withColumn(
                    "violated", F.concat_ws(",", F.col("violated"))
                ).write.mode("append").parquet(quarantine_path)
        # One job yields both the empty-batch skip and the per-batch
        # stamp. The stamp is derived from the batch's own data (max
        # listing_date), not a single stream-start timestamp: each
        # micro-batch gets its own updated_at, and a replayed batch
        # reproduces the same stamp (idempotent under the at-least-once
        # edge). An explicit batch_ts overrides.
        n, max_date = flat.agg(F.count(F.lit(1)), F.max("listing_date")).first()
        if n:
            merge_upsert(
                spark,
                flat,
                table_path,
                key_cols=["listing_id"],
                order_cols=["listing_date", "listing_id"],
                partition_col=partition_col,
                batch_ts=max_date if batch_ts is None else batch_ts,
            )

    return apply_batch


def stream_ingest_listings(
    spark: SparkSession,
    drop_dir: str,
    table_path: str,
    checkpoint_dir: str,
    *,
    partition_col: str | None = None,
    batch_ts=None,
    max_files_per_trigger: int = 1,
    row_checks=None,
    quarantine_path: str | None = None,
    state_partitions: int | None = None,
) -> None:
    """Run the drop-zone → merged-table pipeline to completion
    (Trigger.AvailableNow semantics via processAllAvailable).

    ``state_partitions`` sizes spark.sql.shuffle.partitions — the
    state/merge-shuffle width fixed AT QUERY START — to state volume
    (streaming/pipeline.py state_partitions_for, BASELINE.md §13) for
    the run's span (pipeline.run_stream); the session keeps its width.

    ``drop_dir`` holds JSON-lines files of raw API listings (the
    ``data[]`` elements: ``{"id": ..., "attributes": {...}}``).

    With ``row_checks`` (operators/checks.py RowCheck list) +
    ``quarantine_path``, each micro-batch passes the dead-letter gate
    BEFORE the merge: clean rows merge into the table, violating rows
    (with their ``violated`` tag array) append to the quarantine
    parquet for triage — bad input neither blocks the stream nor
    reaches the published table. The quarantine log is at-least-once
    (a batch replayed across a crash re-appends its rejects); triage
    reads dedupe with operators/dedup.py exact_dedup on
    (listing_id, violated) — the merge path itself stays exactly-once
    by key as before.
    """
    if (row_checks is None) != (quarantine_path is None):
        raise ValueError(
            "row_checks and quarantine_path must be passed together"
        )
    stream = (
        spark.readStream.schema(API_LISTING)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(drop_dir)
    )
    run_stream(
        spark,
        stream,
        _merge_listings(
            spark, table_path, partition_col, batch_ts, row_checks, quarantine_path
        ),
        width=state_partitions,
        checkpoint_dir=checkpoint_dir,
    )


def stream_ingest_listings_live(
    spark: SparkSession,
    table_path: str,
    checkpoint_dir: str,
    source_options: dict,
    *,
    partition_col: str | None = None,
    batch_ts=None,
) -> None:
    """The reference's WHOLE pipeline as one streaming statement:
    paginated API → flatten → keyed upsert, exactly-once.

    Same per-batch merge as :func:`stream_ingest_listings`, but the
    source is the live listings stream
    (sources/rest.py:ListingsStreamReader) instead of a JSON
    drop-zone: per-region page cursors live in the checkpoint, each
    trigger ingests only the new tail, and the merge writer keeps the
    newest row per listing_id — so a listing that reappears in a later
    page window (bumped ad) UPDATES in place rather than duplicating.
    Where the reference re-extracts everything daily and overwrites
    its table (dags/dag.py:284-342, 243-266), this reads each item
    once and converges to the same table.

    Runs to completion (processAllAvailable) like its drop-zone twin —
    schedule it per-interval, or replace the trigger for a resident
    stream.
    """
    from etl_mudah_spark.sources.rest import ListingsDataSource

    spark.dataSource.register(ListingsDataSource)

    stream = (
        spark.readStream.format("mudah_listings").options(**source_options).load()
    )
    run_stream(
        spark,
        stream,
        _merge_listings(spark, table_path, partition_col, batch_ts),
        width=None,
        checkpoint_dir=checkpoint_dir,
    )


def stream_scd2_ingest(
    spark: SparkSession,
    drop_dir: str,
    schema_ddl: str,
    log_path: str,
    history_path: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
    state_partitions: int | None = None,
) -> None:
    """Maintain an SCD type-2 dimension history from a stream of change
    snapshots (CDC feed / periodic dimension dumps in ``drop_dir`` as
    JSON-lines matching ``schema_ddl``).

    ``state_partitions`` sizes spark.sql.shuffle.partitions — the
    state/merge-shuffle width fixed AT QUERY START — to state volume
    (streaming/pipeline.py state_partitions_for, BASELINE.md §13) for
    the run's span (pipeline.run_stream); the session keeps its width.

    Per micro-batch, foreachBatch does the incremental-history dance:

    1. append the batch to the persisted change LOG (immutable,
       append-only — the source of truth scd2_collapse derives from);
    2. rebuild version history for AFFECTED KEYS ONLY (semi-join of
       the log against the batch's distinct keys — O(touched keys'
       history), not O(dimension));
    3. publish the history with those keys' rows swapped (anti-join
       out the stale versions, union the recomputed ones).

    Because :func:`~etl_mudah_spark.operators.scd.scd2_collapse` is a
    pure function of a key's full log, the incremental result is
    IDENTICAL to a from-scratch collapse of the whole log — pinned by
    tests/test_stream_ingest.py — and replaying a batch is a no-op:
    the log append null-safe-dedups on (key, ts, attrs) against the
    existing log, and the history rebuild runs for the batch's keys
    REGARDLESS of whether the append added rows, so a retry of a batch
    that crashed after its append but before its history publish still
    repairs the history (at-least-once safe end to end).

    Each rebuilt history is a manifest publish (operators/manifest.py):
    it lands in a fresh versioned dir under ``history_path`` and one
    atomic ``_current`` pointer write makes it live. A crashed publish
    leaves only an unreferenced dir, pruned before the stream starts;
    a history that was never published (or was lost) is rebuilt from
    the log, the stated source of truth. Readers resolve via
    ``manifest_resolve(history_path)``.

    Scale: the history rewrite is full-table here (read + anti-join +
    rewrite); at 100 TB partition the history by a key bucket and make
    step 3 a dynamic partition overwrite of the touched buckets, as
    operators/merge.py does for facts.
    """
    import os

    from etl_mudah_spark.operators.manifest import (
        manifest_current,
        manifest_publish,
        manifest_recover,
    )
    from etl_mudah_spark.operators.scd import scd2_collapse

    def publish(out: DataFrame) -> None:
        manifest_publish(history_path, lambda d: out.write.parquet(d))

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        # one materialization of the micro-batch; reused for the dedup
        # anti-join, the append, and the affected-key set below
        batch = batch.localCheckpoint(eager=True)
        dedup_cols = [*key_cols, ts_col, *attr_cols]
        if os.path.exists(log_path):
            existing_log = spark.read.parquet(log_path)
            # at-least-once guard: don't re-append rows already logged.
            # eqNullSafe per column, NOT the column-name-list join form:
            # plain SQL equality would treat a replayed row with a NULL
            # attr/ts as never-matching and re-append it forever.
            cond = batch[dedup_cols[0]].eqNullSafe(
                existing_log[dedup_cols[0]]
            )
            for c in dedup_cols[1:]:
                cond = cond & batch[c].eqNullSafe(existing_log[c])
            fresh = batch.join(existing_log, cond, "left_anti")
        else:
            fresh = batch
        # SEVER the lineage before appending: the anti-join above reads
        # log_path, and the append below triggers Spark's
        # recacheByPath, which would RECOMPUTE any plan (cached or not)
        # over the grown log — the batch's own rows would then
        # anti-join themselves away. localCheckpoint materializes the
        # pre-append result as a plain rows snapshot (batch-sized; an
        # executor loss mid-batch fails the micro-batch and the
        # at-least-once log dedup makes the retry safe).
        fresh = fresh.localCheckpoint(eager=True)
        if not fresh.isEmpty():
            fresh.write.mode("append").parquet(log_path)
        # Rebuild history for the batch's keys even when fresh is
        # empty: an all-duplicate batch is exactly what the retry of a
        # crashed append-but-not-published batch looks like, and skipping
        # the rebuild would leave those keys' history stale forever.
        log = spark.read.parquet(log_path)
        keys = batch.select(*key_cols).distinct()
        affected = log.join(F.broadcast(keys), key_cols, "left_semi")
        hist = scd2_collapse(
            affected, key_cols, attr_cols, ts_col, tiebreak_cols
        )
        live = manifest_current(history_path)
        if live is not None:
            keep = spark.read.parquet(live).join(
                F.broadcast(keys), key_cols, "left_anti"
            )
            out = keep.unionByName(hist)
        else:
            out = hist
        publish(out)

    manifest_recover(history_path)
    if manifest_current(history_path) is None and os.path.exists(log_path):
        publish(
            scd2_collapse(
                spark.read.parquet(log_path),
                key_cols,
                attr_cols,
                ts_col,
                tiebreak_cols,
            )
        )

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(drop_dir)
    )
    run_stream(
        spark,
        stream,
        apply_batch,
        width=state_partitions,
        checkpoint_dir=checkpoint_dir,
    )


def stream_ivm_refresh(
    spark: SparkSession,
    diff_dir: str,
    diff_schema_ddl: str,
    agg_base: str,
    checkpoint_dir: str,
    *,
    group_cols: list[str],
    sum_cols: dict[str, str],
    cnt_col: str = "cnt",
    max_files_per_trigger: int = 1,
    keep: int = 2,
    state_partitions: int | None = None,
) -> None:
    """Streaming incremental view maintenance: a CDC change feed
    (JSON-lines ``table_diff``-shaped files landing in ``diff_dir``)
    keeps a manifest-versioned aggregate current — each micro-batch
    applies :func:`operators.ivm.incremental_agg` to the live version
    and publishes the refreshed aggregate as a new immutable version.
    The fact table is never read; per-refresh cost is O(|batch|) +
    aggregate size, at any fact scale.

    Exactly-once without idempotent math: delta application is NOT
    naturally idempotent (re-adding a batch double-counts), so each
    published version carries the id of the last applied batch in a
    ``_applied_batch`` sidecar INSIDE the version dir (underscore
    files are invisible to parquet readers, like ``_SUCCESS``). Data
    and marker become visible together via the atomic pointer flip —
    a replayed batch (at-least-once retry, crash between publish and
    checkpoint commit) sees ``batch_id <= marker`` on the live version
    and skips. One checkpoint per aggregate lineage is the contract:
    the marker orders batches WITHIN a checkpoint's id sequence
    (a fresh checkpoint over already-applied files is skipped, not
    re-applied). Pinned end-to-end in tests/test_ivm.py.

    Bootstrap: publish the base aggregate (``summing_agg`` of the
    initial snapshot) to ``agg_base`` before starting — this function
    raises if no live version exists rather than guessing a zero
    state.
    """
    import os

    from etl_mudah_spark.operators.ivm import incremental_agg
    from etl_mudah_spark.operators.manifest import (
        manifest_current,
        manifest_publish,
    )

    if manifest_current(agg_base) is None:
        raise ValueError(
            f"stream_ivm_refresh: no live aggregate version at {agg_base!r} "
            "— bootstrap with manifest_publish(summing_agg(snapshot)) first"
        )
    _MARKER = "_applied_batch"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        cur = manifest_current(agg_base)
        marker_path = os.path.join(cur, _MARKER)
        applied = -1
        if os.path.exists(marker_path):
            with open(marker_path) as fh:
                applied = int(fh.read().strip())
        if batch_id <= applied or batch.isEmpty():
            return
        stored = spark.read.parquet(cur)
        refreshed = incremental_agg(
            stored, batch, group_cols, sum_cols, cnt_col
        )

        def write(d: str) -> None:
            refreshed.write.parquet(d)
            with open(os.path.join(d, _MARKER), "w") as fh:
                fh.write(str(batch_id))

        manifest_publish(agg_base, write, keep=keep)

    stream = (
        spark.readStream.schema(diff_schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(diff_dir)
    )
    run_stream(
        spark,
        stream,
        apply_batch,
        width=state_partitions,
        checkpoint_dir=checkpoint_dir,
    )


def stream_srp_dedup_ingest(
    spark: SparkSession,
    batch_dir: str,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    *,
    dim: int,
    threshold: float = 0.45,
    n_planes: int = 12,
    n_tables: int = 16,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming embedding near-dup ingest: a file-source stream of
    embedding batches (in production: the drop zone an encoder job
    lands shards into, or Kafka) is deduped micro-batch by micro-batch
    against the persisted SRP index, and each deduped batch is then
    APPENDED to the index — the full daily-ingest loop of a 100 TB
    embedding corpus as one Structured Streaming query, instead of the
    externally-orchestrated batch calls of
    ``operators/similarity.srp_dedup_incremental``.

    Order of operations inside each micro-batch (micro-batches of one
    streaming query execute serially, so this sequencing is safe):

    1. ``srp_dedup_incremental(batch, index)`` — pairs of the batch
       against the corpus-so-far (base corpus + every earlier batch)
       plus the batch's internal pairs. O(batch) hashing; corpus
       projections are never recomputed.
    2. Append the found pairs to ``pairs_path``.
    3. ``srp_index_append(batch, index)`` — later batches now see this
       one, so every cross-batch pair surfaces exactly once (when its
       LATER side arrives); within-batch pairs come from step 1's
       internal self-join; nothing is reachable twice.

    The union over all micro-batches therefore equals the one-shot
    incremental result over the concatenated batch — the same
    deterministic hyperplane family scores the same collisions
    whichever side of a micro-batch boundary a pair lands on — which
    equality is pinned exactly in tests/test_similarity_batch.py.

    At-least-once note: step 2 is a blind append, so a crash between
    it and the checkpoint commit could duplicate a batch's pairs on
    replay — consumers read pairs with the same least/greatest +
    distinct normalization the overlap contract already requires
    (srp_dedup_incremental docstring); the index append is rerun-safe
    for the DEDUP result (duplicate bucket rows re-collide into
    already-emitted pairs, removed by the same normalization).

    Returns a lazy batch read of the accumulated pairs (never a
    driver-side collect).
    """
    from etl_mudah_spark.operators import similarity as sim

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        sim.srp_dedup_incremental(
            spark,
            batch,
            index_path,
            dim=dim,
            threshold=threshold,
            n_planes=n_planes,
            n_tables=n_tables,
        ).write.mode("append").parquet(pairs_path)
        sim.srp_index_append(
            batch,
            index_path,
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
        )

    stream = (
        spark.readStream.schema(
            "vec_id bigint, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(batch_dir)
    )
    run_stream(
        spark, stream, apply_batch, width=None, checkpoint_dir=checkpoint_dir
    )
    return _read_or_empty(
        spark, pairs_path, "id_a bigint, id_b bigint, cosine_sim double"
    )


def stream_minhash_dedup_ingest(
    spark: SparkSession,
    batch_dir: str,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming text near-dup ingest — the Jaccard-family twin of
    :func:`stream_srp_dedup_ingest`: document batches land as
    file-source micro-batches, each is deduped against the persisted
    MinHash index (``operators/dedup.minhash_dedup_incremental`` —
    O(batch) hashing, corpus signatures never recomputed; the
    ``partitionBy(band_id)`` index layout prunes the collision join at
    planning time) and then appended to the index
    (:func:`operators/dedup.minhash_index_append`), so cross-batch
    pairs surface exactly once when their later side arrives.

    Same serial-micro-batch sequencing, at-least-once append contract,
    and exactly-equals-the-one-shot-incremental guarantee as the SRP
    twin (the band hash family is deterministic, so a pair's candidate
    collision and its exact-Jaccard verification are identical
    whichever side of a micro-batch boundary each document lands on) —
    pinned in tests/test_dedup.py.

    Returns a lazy batch read of the accumulated
    ``(doc_a, doc_b, jaccard)`` pairs.
    """
    from etl_mudah_spark.operators import dedup as dd

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        dd.minhash_dedup_incremental(
            spark,
            batch,
            index_path,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            threshold=threshold,
        ).write.mode("append").parquet(pairs_path)
        dd.minhash_index_append(
            batch,
            index_path,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(batch_dir)
    )
    run_stream(
        spark, stream, apply_batch, width=None, checkpoint_dir=checkpoint_dir
    )
    return _read_or_empty(
        spark, pairs_path, "doc_a bigint, doc_b bigint, jaccard double"
    )


def stream_doc_curation_gate(
    spark: SparkSession,
    batch_dir: str,
    key_index: str,
    accepted_path: str,
    rejected_path: str,
    checkpoint_dir: str,
    *,
    min_tokens: int = 30,
    min_ttr: float = 0.35,
    max_dup3: float = 0.1,
    max_files_per_trigger: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Streaming corpus curation gate: document shards stream through
    the SAME rule set as the batch ``doc_clean_pipeline`` (token
    floor, type-token-ratio floor, 3-gram-repetition ceiling, exact
    dedup on the 40-char-prefix content key) with first-arrival-wins
    dedup against a persisted key index — the admission control a
    continuously-fed corpus runs at the door, instead of re-cleaning
    the accumulated corpus per batch.

    Per micro-batch (serial, like the dedup-ingest loops):

    1. Quality metrics are pure column algebra (map-side, scan speed);
       failures land in ``rejected_path`` with reason
       ``rejected_quality``.
    2. Passing docs dedup within the batch (min-doc_id survivor per
       key) and against the persisted key index (keys of every
       PREVIOUSLY ACCEPTED doc); losers land as ``rejected_dup``.
    3. Survivors append to ``accepted_path``; their keys append to the
       index. Quality-rejected keys are deliberately NOT indexed — a
       later clean duplicate of a rejected doc is new content.

    The index holds only accepted KEYS (16-byte md5 per accepted doc),
    so the per-batch dup probe is an equi-join of the batch against a
    key relation — at 100 TB corpus, still a key-shuffle of O(batch)
    probe rows against a bucketable key table, never a text rescan.

    When shards arrive in ascending doc_id order (the registered plan
    writes them sequentially, and the file source triggers oldest
    first), the accepted set equals the batch pipeline's global
    min-doc_id-survivor semantics exactly — which is what the DuckDB
    oracle of ``doc_stream_curation_gate`` verifies.

    Returns lazy reads ``(accepted, rejected)``:
    ``accepted(doc_id, source, n_tok)`` and
    ``rejected(doc_id, source, n_tok, reason)``.
    """
    from etl_mudah_spark.operators import dedup as dd
    from etl_mudah_spark.operators import text as tx
    from pyspark.sql import Window

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        w = tx.words("text")
        gr = dd.word_ngrams(F.col("text"), 3)
        n_gr = F.size(gr)
        dup3 = F.when(n_gr <= 0, F.lit(0.0)).otherwise(
            (n_gr - F.size(F.array_distinct(gr))) / n_gr
        )
        metered = batch.select(
            "doc_id",
            "source",
            F.size(w).alias("n_tok"),
            (F.size(F.array_distinct(w)) / F.size(w)).alias("ttr"),
            dup3.alias("dup3"),
            F.md5(F.substring("text", 1, 40)).alias("k"),
        )
        ok = (
            (F.col("n_tok") >= min_tokens)
            & (F.col("ttr") >= min_ttr)
            & (F.col("dup3") <= max_dup3)
        )
        metered.where(~ok).select(
            "doc_id",
            "source",
            "n_tok",
            F.lit("rejected_quality").alias("reason"),
        ).write.mode("append").parquet(rejected_path)
        passing = metered.where(ok).select("doc_id", "source", "n_tok", "k")
        seen = spark.read.parquet(key_index)
        rn = F.row_number().over(
            Window.partitionBy("k").orderBy(F.asc("doc_id"))
        )
        flagged = (
            passing.join(seen, "k", "left_semi")
            .select("doc_id")
            .withColumn("_dup", F.lit(True))
        )
        # materialize once: ranked feeds three writes (rejected_dup,
        # accepted, key append), and the key append must not hold a
        # live read of key_index in its lineage while appending to it
        ranked = (
            passing.join(flagged, "doc_id", "left")
            .withColumn("_rn", rn)
            .localCheckpoint()
        )
        accepted = ranked.where(
            F.col("_dup").isNull() & (F.col("_rn") == 1)
        )
        ranked.where(
            F.col("_dup").isNotNull() | (F.col("_rn") > 1)
        ).select(
            "doc_id",
            "source",
            "n_tok",
            F.lit("rejected_dup").alias("reason"),
        ).write.mode("append").parquet(rejected_path)
        accepted.select("doc_id", "source", "n_tok").write.mode(
            "append"
        ).parquet(accepted_path)
        accepted.select("k").write.mode("append").parquet(key_index)

    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, source string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(batch_dir)
    )
    run_stream(
        spark, stream, apply_batch, width=None, checkpoint_dir=checkpoint_dir
    )
    acc = _read_or_empty(
        spark, accepted_path, "doc_id bigint, source string, n_tok bigint"
    )
    rej = _read_or_empty(
        spark,
        rejected_path,
        "doc_id bigint, source string, n_tok bigint, reason string",
    )
    return acc, rej
