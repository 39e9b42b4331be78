"""Composed streaming curation ingest — the production shape that
chains the per-operator epoch stores behind ONE stream (VERDICT r7
item 4).

Each of the engine's streaming stores (exact-digest store, near-dup
band store, budget enforcement, drift monitor, CMS frequencies,
quantile histograms, KMV distinct sketches, DSIR scoring) is
individually stream==batch-pinned; a real ingestion pipeline runs
them as ONE foreachBatch per epoch:

    documents ──▶ exact dedup ──▶ near-dedup ──▶ budget gate ──▶ drift
                  (digest store)  (band store)   (offset store)  / CMS
                                                    / length / KMV /
                                                    DSIR monitors
                                                    (5 stores)

The exact stage runs FIRST because it is the cheap gate: a
byte-identical re-crawl dies on an md5-digest probe (32-hex-char
column — store ``unhex`` if the 2× vs raw bytes matters) before
paying shingling + MinHash; the near-dup stage then only sees
genuinely new bytes. Its survivor sink carries IDS ONLY
(``sink_cols``): the stage is an intermediate handoff, so writing the
full document payload just to read it back next stage would double
per-epoch payload I/O — the next stage re-derives rows from the
source batch (replay-equivalent: foreachBatch redelivers the batch on
recovery, and the id partition is durable).

Stage chaining is DURABLE, not in-plan: each stage reads the previous
stage's just-written ``_batch_id`` partition back from parquet, exactly
as a restarted driver would. That makes the composition
replay-idempotent BY CONSTRUCTION: every stage keeps its own
``_batch_id`` partition overwrite + ``< epoch`` history probe, so a
redelivered epoch re-reads identical stage inputs and rewrites exactly
its own partitions across ALL stores at once — the cross-operator
axis (shared session, shared staging scopes, shared file-listing
caches) that per-store tests cannot exercise and that previously hid
the session-global RDD-unpersist and store-memo-poisoning bugs.

Scale shape: per-epoch cost is the sum of the member stages' (all
bounded-store, broadcast-probe designs — see each module's docstring);
no stage adds a shuffle beyond what its standalone form runs, and the
inter-stage handoff is an epoch-partition parquet scan, the same bytes
a downstream consumer would read anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def make_curation_ingest(
    spark,
    root: str,
    reference_hist_path: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    cms_w: int = 64,
    hist_bin_width: float = 10.0,
    dsir_model_path: str | None = None,
    kmv_k: int = 32,
):
    """The composed foreachBatch callable. Store layout under ``root``:
    ``exact_survivors``/``digest_store`` (exact dedup — the cheap
    first gate), ``survivors``/``band_store`` (near-dedup), ``admitted``/
    ``budget_store`` (budget gate, weight = ``length(text)``),
    ``drift`` (per-epoch JSD vs the pinned reference histogram),
    ``cms_store`` (source frequencies), ``len_hist_store`` (per-source
    length quantile histograms), ``kmv_store`` (per-source distinct-
    document bottom-k sketches — the live audience-overlap monitor),
    and, when ``dsir_model_path`` pins a persisted DSIR count model,
    ``dsir_scores`` (per-epoch importance scores against that frozen
    model version — the model never recomputes per batch). Exposed
    separately from :func:`start_curation_stream` so replay (same
    batch, same epoch id) is directly testable across every store at
    once."""
    from ..operators.dedup import _hadoop_path_exists
    from .budget import make_budget_ingest
    from .cms import make_cms_ingest
    from .dedup import make_exact_dedup_ingest, make_near_dedup_ingest
    from .drift import make_drift_ingest
    from .histograms import make_histogram_ingest
    from .kmv import make_kmv_ingest

    exact = make_exact_dedup_ingest(
        spark,
        f"{root}/exact_survivors",
        f"{root}/digest_store",
        id_col=id_col,
        key_cols=(text_col,),
        sink_cols=(id_col,),  # intermediate handoff: ids only
    )
    dedup = make_near_dedup_ingest(
        spark, f"{root}/survivors", f"{root}/band_store", id_col, text_col
    )
    budget_gate = make_budget_ingest(
        spark,
        f"{root}/admitted",
        f"{root}/budget_store",
        source_col,
        id_col,
        "__w",
        budget,
    )
    drift = make_drift_ingest(
        spark, reference_hist_path, f"{root}/drift", id_col=id_col, text_col=text_col
    )
    # CMS keys are integers; the source label maps through xxhash64
    # (cms_hash_structs reduces any 64-bit key safely), so the store
    # monitors per-source admitted-row frequencies
    cms = make_cms_ingest(spark, f"{root}/cms_store", "__cms_key", w=cms_w)
    hist = make_histogram_ingest(
        spark, f"{root}/len_hist_store", source_col, "__w", bin_width=hist_bin_width
    )
    kmv = make_kmv_ingest(
        spark, f"{root}/kmv_store", source_col, id_col, k=kmv_k
    )
    dsir = None
    if dsir_model_path is not None:
        from .selection import make_dsir_scoring_ingest

        dsir = make_dsir_scoring_ingest(
            spark,
            dsir_model_path,
            f"{root}/dsir_scores",
            id_col=id_col,
            text_col=text_col,
        )

    def _epoch_rows(path: str, batch_id: int) -> DataFrame | None:
        """This epoch's rows of a stage output, read back durably; None
        when the stage has never written (everything dropped upstream).
        The refresh matters: the session's shared file-status cache may
        hold the PRE-overwrite listing of a partition this very epoch
        just rewrote (the replay path)."""
        if not _hadoop_path_exists(spark, path):
            return None
        spark.catalog.refreshByPath(path)
        return (
            spark.read.parquet(path)
            .filter(F.col("_batch_id") == F.lit(batch_id))
            .drop("_batch_id")
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        exact(batch_df, batch_id)
        uniq_ids = _epoch_rows(f"{root}/exact_survivors", batch_id)
        if uniq_ids is None:
            return
        # re-derive surviving rows from the source batch (the durable
        # artifact is the id partition; payload bytes are written once,
        # by the near-dup stage's survivor sink)
        uniq = batch_df.join(uniq_ids, id_col, "left_semi")
        dedup(uniq, batch_id)
        survivors = _epoch_rows(f"{root}/survivors", batch_id)
        if survivors is None:
            return
        weighted = survivors.withColumn(
            "__w", F.length(F.col(text_col)).cast("long")
        )
        budget_gate(weighted, batch_id)
        admitted = _epoch_rows(f"{root}/admitted", batch_id)
        if admitted is None:
            return
        drift(admitted, batch_id)
        cms(
            admitted.withColumn("__cms_key", F.xxhash64(F.col(source_col))),
            batch_id,
        )
        hist(admitted, batch_id)
        kmv(admitted, batch_id)
        if dsir is not None:
            dsir(admitted, batch_id)

    return ingest


def start_curation_stream(
    spark,
    input_dir: str,
    root: str,
    reference_hist_path: str,
    checkpoint_dir: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    schema: str | None = None,
    dsir_model_path: str | None = None,
):
    """Run the composed curation pipeline over a parquet document
    stream; every member store lands under ``root``."""
    stream = spark.readStream.schema(
        schema or f"{id_col} long, {text_col} string, {source_col} string"
    ).parquet(input_dir)
    ingest = make_curation_ingest(
        spark,
        root,
        reference_hist_path,
        budget,
        id_col=id_col,
        text_col=text_col,
        source_col=source_col,
        dsir_model_path=dsir_model_path,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
