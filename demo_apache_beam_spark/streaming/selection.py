"""Streaming DSIR scoring — score a document stream from the persisted model.

The serving half of ``operators/selection.py``: the count model is
loaded once (≤ bucket-space rows), turned into the broadcast log-ratio
table, and every micro-batch of incoming documents is scored with one
pass over the batch — the model never recomputes and history is never
re-read. Scored epochs land under ``_batch_id`` partitions with dynamic
partition overwrite (the replay-idempotence pattern), so at-least-once
redelivery rewrites the same partition with the same deterministic
rows.

Because scoring is a pure per-document function of (text, model), the
union of streamed epoch scores equals the batch ``dsir_score`` over
everything streamed BIT-FOR-BIT — the weights are exact tf×decimal
sums, insensitive to batching. Refresh cadence at 100 TB: fold new
epochs into the model with ``dsir_merge_models`` on whatever schedule
drift demands; scoring keeps serving the pinned model version in the
meantime (scores are reproducible per model version by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.checkpoints import stage
from ..operators.selection import dsir_load_model, dsir_log_ratios, dsir_score


def make_dsir_scoring_ingest(
    spark,
    model_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
):
    """The foreachBatch callable: score the batch against the pinned
    model and write under this epoch's partition."""
    from .idempotent import write_windowed_idempotent

    # pin the model version for the stream's lifetime (built outside
    # any staged scope); never recompute per batch
    lam = stage(
        dsir_log_ratios(dsir_load_model(spark, model_path), hex_chars=hex_chars)
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = dsir_score(
            batch_df, lam, id_col=id_col, text_col=text_col,
            hex_chars=hex_chars, bigrams=bigrams,
        )
        write_windowed_idempotent(
            scored.withColumn("_batch_id", F.lit(batch_id)),
            out_path,
            partition_col="_batch_id",
        )

    return ingest


def start_dsir_scoring_stream(
    spark,
    input_dir: str,
    model_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
    schema: str | None = None,
):
    """Score a parquet document stream against a persisted DSIR model."""
    stream = spark.readStream.schema(
        schema or f"{id_col} long, {text_col} string"
    ).parquet(input_dir)
    ingest = make_dsir_scoring_ingest(
        spark, model_path, out_path, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars, bigrams=bigrams,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
