"""Streaming corpus-drift monitor — per-epoch JSD against a pinned
reference histogram.

The streaming half of ``corpus_drift_report``: the reference histogram
(the accepted corpus's hashed-n-gram distribution, built once with
``corpus_histogram`` + ``save_histogram``) is loaded and pinned at
stream start; every micro-batch of incoming documents — a crawl epoch —
is collapsed to its own ≤-bucket-space histogram and scored with
``jsd_of_histograms``, emitting one ``(_batch_id, n_a, n_b, jsd)`` row
per epoch under a ``_batch_id`` partition with dynamic partition
overwrite (the replay-idempotence pattern: at-least-once redelivery
rewrites the same partition with the same deterministic row).

This is the gate a training-data pipeline runs CONTINUOUSLY as crawl
epochs arrive: a JSD spike says the incoming distribution moved —
scrape breakage, a new spam campaign, an upstream format change —
before the epoch is folded into the training mixture. At 100 TB the
per-epoch cost is the feature scan (the same one DSIR scoring already
pays) plus constant-size histogram algebra; the monitor row is a few
bytes per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.checkpoints import stage
from ..operators.selection import corpus_histogram, jsd_of_histograms, load_histogram


def make_drift_ingest(
    spark,
    reference_hist_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
):
    """The foreachBatch callable: score the batch's histogram against
    the pinned reference and write this epoch's monitor row."""
    from .idempotent import write_windowed_idempotent

    # pinned for the stream's lifetime (built outside any staged scope)
    ref = stage(load_histogram(spark, reference_hist_path))

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hb = corpus_histogram(
            batch_df, id_col=id_col, text_col=text_col,
            hex_chars=hex_chars, bigrams=bigrams,
        )
        row = jsd_of_histograms(ref, hb, n_buckets=16 ** hex_chars)
        write_windowed_idempotent(
            row.withColumn("_batch_id", F.lit(batch_id)),
            out_path,
            partition_col="_batch_id",
        )

    return ingest


def start_drift_stream(
    spark,
    input_dir: str,
    reference_hist_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
    schema: str | None = None,
):
    """Monitor a parquet document stream against a persisted reference
    histogram."""
    stream = spark.readStream.schema(
        schema or f"{id_col} long, {text_col} string"
    ).parquet(input_dir)
    ingest = make_drift_ingest(
        spark, reference_hist_path, out_path, id_col=id_col,
        text_col=text_col, hex_chars=hex_chars, bigrams=bigrams,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
