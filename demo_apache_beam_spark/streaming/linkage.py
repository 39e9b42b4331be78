"""Streaming entity resolution — incremental record linkage at ingest.

The fourth streaming accepted-history store (after the exact-digest,
MinHash-band, and Hamming-fingerprint dedup stores): every micro-batch
is one increment of ``operators.linkage.incremental_record_linkage``,
and the decision itself is the SHARED ``linkage_resolve_core`` — the
exact-dedup-core discipline, so batch and stream cannot drift:

1. within-batch match pairs → connected components → batch clusters;
2. clusters probe the persisted entity REGISTRY (every earlier epoch's
   records with their entity ids, ``_batch_id < epoch`` so a replayed
   epoch never sees its own writes) via the blocked two-table join;
3. matched clusters attach to the smallest matched entity id, unmatched
   clusters mint their representative's record id as a new entity;
4. the resolved records append to the registry and the
   ``(id, entity_id)`` assignments to the sink — both epoch-partitioned
   dynamic-overwrite writes, so at-least-once redelivery rewrites the
   same partition with the same bits (replay no-op, pinned in pytest).

State is the registry parquet, not Spark state-store memory: the stream
restarts from any checkpoint and the registry still holds every
accepted entity. At 100 TB the per-epoch cost is one blocked equi-join
of the batch against the registry's blocking/comparison columns —
Σ_b n_b·m_b candidate pairs, the same cardinality control as the batch
query (no all-pairs join exists anywhere in the path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def start_linkage_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str,
    block_cols: list[str],
    comparators,
    threshold: float,
    weights_store: str | None = None,
):
    """File-source streaming entity resolution: parquet batches of
    records (``schema`` — must include ``id_col``, the blocking and the
    comparison columns) resolve against the persisted registry at
    ``store_path``; assignments land in ``out_dir``.

    ``weights_store`` (r12, VERDICT r11 item 3) names a persisted EM
    weight store (``operators/linkage.py:write_linkage_weights``): the
    comparators' score weights and the decision threshold are then
    REBOUND to that store's current version — read ONCE here, at stream
    start, the k-means pinned-epoch discipline: the fitted values
    become plan literals, so a re-fit overwriting the store mid-run
    cannot reach this stream's decisions (one weight version per run,
    pinned in pytest), and the next start re-pins against the new
    version. Without it the caller-supplied constants + threshold
    stand."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    ingest = make_linkage_ingest(
        spark,
        out_dir,
        store_path,
        id_col=id_col,
        block_cols=block_cols,
        comparators=comparators,
        threshold=threshold,
        weights_store=weights_store,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def make_linkage_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str,
    block_cols: list[str],
    comparators,
    threshold: float,
    weights_store: str | None = None,
):
    """The foreachBatch callable behind :func:`start_linkage_stream`
    (exposed for the replay contract, like the dedup ingests): registry
    read (``_batch_id <`` epoch) → shared resolve core → epoch-
    partitioned idempotent writes of the resolved registry rows and the
    ``(id, entity_id)`` assignments. ``weights_store`` pins an EM
    weight version at FACTORY time (see :func:`start_linkage_stream`)."""
    from pyspark.sql import functions as F

    if weights_store is not None:
        from ..operators.linkage import (
            comparators_with_fitted_weights,
            fs_decision_threshold,
            read_linkage_weights,
        )

        fitted = read_linkage_weights(spark, weights_store)
        comparators = comparators_with_fitted_weights(comparators, fitted)
        threshold = fs_decision_threshold(fitted)

    from ..operators.checkpoints import stage, staged
    from ..operators.dedup import _hadoop_path_exists, tombstone_store_path
    from ..operators.linkage import linkage_resolve_core
    from .idempotent import write_windowed_idempotent

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # erasure tombstones: an erased record id must not be
        # resurrected by epoch replay, and a resubmission under the same
        # id is indistinguishable from a redelivery — both are filtered
        # on every (re)delivery (the dedup-store erasure semantics)
        ts_path = tombstone_store_path(store_path)
        if _hadoop_path_exists(spark, ts_path):
            tomb = spark.read.parquet(ts_path).select(
                F.col(id_col).alias("__tomb_id")
            )
            batch_df = batch_df.join(
                tomb, batch_df[id_col] == F.col("__tomb_id"), "left_anti"
            )
            if batch_df.isEmpty():
                return  # fully-tombstoned replay: nothing to resolve
        hist = None
        if _hadoop_path_exists(spark, store_path):
            hist = spark.read.parquet(store_path).filter(
                F.col("_batch_id") < F.lit(batch_id)
            )
            # first-seen-wins on the record id: a LATER epoch
            # resubmitting an accepted id must not mint a conflicting
            # second registry row (a REPLAYED epoch is unaffected —
            # its own rows are excluded by the _batch_id < epoch
            # filter, so the idempotent rewrite reproduces them)
            batch_df = batch_df.join(
                hist.select(F.col(id_col)), id_col, "left_anti"
            )
            if batch_df.isEmpty():
                return  # pure resubmission: nothing new to resolve
        with staged(spark):
            assigned = linkage_resolve_core(
                batch_df, hist, id_col, block_cols, comparators, threshold
            )
            # freeze the registry rows BEFORE the store-mutating
            # write (mirrors incremental_record_linkage, review
            # r10): the join plan embeds the live store read via
            # the hist/tombstone anti-joins, so a task retry during
            # the write would re-list the store mid-mutation
            rows = stage(batch_df.join(assigned, id_col))
            write_windowed_idempotent(
                rows.withColumn("_batch_id", F.lit(batch_id)),
                store_path,
                partition_col="_batch_id",
            )
            write_windowed_idempotent(
                assigned.withColumn("_batch_id", F.lit(batch_id)),
                out_dir,
                partition_col="_batch_id",
            )

    return ingest
