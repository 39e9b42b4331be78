"""Streaming deduplication — the ingestion-side sibling of the batch
dedup operators (``operators/dedup.py``).

Two variants, matching Spark's two stateful-dedup contracts:

- :func:`dedup_event_stream` — **identity dedup**: the event-time column
  is part of the key, so state for a key is evicted as soon as the
  watermark passes its event time. Use when duplicates are exact replays
  (at-least-once sources re-delivering the same record). Stream output
  over any prefix of the input equals batch ``dropDuplicates`` over the
  same rows.

- :func:`dedup_event_stream_within_watermark` — **content dedup**: the
  key omits event time (a retransmission may carry a fresh timestamp);
  ``dropDuplicatesWithinWatermark`` keeps the first arrival and drops
  any duplicate whose key reappears within the watermark delay, evicting
  state afterwards. This is the unbounded-stream answer: per-key state
  lives O(watermark), not O(stream history).

At the 100 TB design point both run with RocksDB state stores; state
size is (keys in flight within the watermark horizon) × ~32 bytes — the
same budget as the windowed aggregates, far below the raw stream volume.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_event_stream(
    events: DataFrame,
    keys: Sequence[str] = ("user", "team", "score", "event_time"),
    allowed_lateness_minutes: int = 120,
) -> DataFrame:
    """Exact-replay dedup: first occurrence of each identity key passes,
    replays are dropped. ``event_time`` must be one of ``keys`` so the
    engine can evict state at the watermark (otherwise state grows with
    distinct keys forever — use the within-watermark variant instead).
    """
    keys = list(keys)
    if "event_time" not in keys:
        raise ValueError(
            "identity dedup requires event_time in the key for state "
            "eviction; use dedup_event_stream_within_watermark for "
            "content keys"
        )
    return events.withWatermark(
        "event_time", f"{int(allowed_lateness_minutes)} minutes"
    ).dropDuplicates(keys)


def dedup_event_stream_within_watermark(
    events: DataFrame,
    keys: Sequence[str] = ("user", "team", "score"),
    allowed_lateness_minutes: int = 120,
) -> DataFrame:
    """Content dedup with bounded state: duplicates of a key arriving
    within the watermark delay of the first arrival are dropped; the
    first-arriving row (with its timestamp) is the one emitted."""
    return events.withWatermark(
        "event_time", f"{int(allowed_lateness_minutes)} minutes"
    ).dropDuplicatesWithinWatermark(list(keys))


def start_near_dedup_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
):
    """Streaming **near-dup** ingestion: every micro-batch of documents
    is one increment of :func:`operators.dedup.incremental_minhash_dedup`
    — probe the accepted-history band store, collapse within-batch LSH
    clusters to their min-id winner, drop clusters already represented,
    append survivors (and their bands) — so a document stream lands in
    the corpus already near-deduplicated against everything previously
    accepted. Micro-batches are serialized by the engine, which IS the
    serial-increments contract the batch operator documents.

    Replay idempotence (foreachBatch is at-least-once): the band store
    and the survivor sink are both keyed by the epoch and written with
    dynamic partition overwrite (``_batch_id`` directories — the
    ``idempotent.py`` contract), and the history probe reads ONLY
    partitions with ``_batch_id <`` the current epoch. A replayed epoch
    therefore sees exactly the history it saw the first time and
    rewrites exactly its own partitions — bit-identical outcome, no
    double-append, no self-collision (a naive flat append would find
    the replayed batch's own bands in the store and drop everything).

    ``input_dir`` holds parquet files of (``id_col`` long, ``text_col``
    string) rows. Survivor documents land under ``out_dir``
    partitioned by ``_batch_id``.
    """
    stream = spark.readStream.schema(
        f"{id_col} long, {text_col} string"
    ).parquet(input_dir)
    ingest = make_near_dedup_ingest(
        spark, out_dir, store_path, id_col, text_col, num_hashes, bands, shingle_n
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def make_near_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
):
    """The foreachBatch callable behind :func:`start_near_dedup_stream`,
    exposed so the replay contract is directly testable: calling it
    twice with the same (batch, batch_id) must leave the store and the
    sink bit-identical to one call — the exactly-once property the
    epoch-partitioned layout plus the ``_batch_id < epoch`` history
    probe exist to provide."""
    from pyspark.sql import functions as F

    from ..operators.checkpoints import stage, staged
    from ..operators.dedup import (
        _hadoop_path_exists,
        band_rows,
        minhash_near_dedup_core,
        minhash_signatures,
        tombstone_store_path,
    )
    from .idempotent import write_windowed_idempotent

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # The core localCheckpoints its intermediates (correctness: the
        # survivor set must be FROZEN before the store mutates, and a
        # lost block must fail, never silently recompute against the
        # mutated store). Checkpoint blocks are not auto-freed, so a
        # long-running stream would accumulate them without bound — the
        # staged scope releases exactly the blocks THIS batch staged
        # (foreachBatch runs the body on one thread) once the writes
        # are durable, and never a concurrent job's.
        with staged(spark):
            # erasure tombstones (review r10): a replayed epoch
            # re-derives its rows from the redelivered SOURCE batch,
            # so a compliance delete on the store alone would be
            # silently resurrected by crash recovery. Documents
            # whose band rows ALL match the tombstone set (i.e.
            # exactly the erased content — a fresh near-dup shares
            # only some bands and passes to the normal decision) are
            # removed from the increment before anything else, on
            # every delivery, first or replayed. The band rows are
            # checkpointed ONCE and the filtered remainder feeds the
            # core — without the handoff the dominant shingle+
            # MinHash pass ran twice per epoch (review r10).
            banded_in = None
            ts_path = tombstone_store_path(store_path)
            if _hadoop_path_exists(spark, ts_path):
                tomb = spark.read.parquet(ts_path)
                bb = stage(
                    band_rows(
                        minhash_signatures(
                            batch_df, id_col, text_col, num_hashes,
                            shingle_n,
                        ),
                        id_col,
                        num_hashes,
                        bands,
                    )
                )
                per_doc = bb.groupBy(id_col).agg(
                    F.count(F.lit(1)).alias("_n")
                )
                matched = (
                    bb.join(tomb, ["band_idx", "band_hash"], "left_semi")
                    .groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("_m"))
                )
                blocked = (
                    per_doc.join(matched, id_col)
                    .filter(F.col("_n") == F.col("_m"))
                    .select(id_col)
                )
                batch_df = batch_df.join(blocked, id_col, "left_anti")
                if batch_df.isEmpty():
                    return
                banded_in = bb.join(blocked, id_col, "left_anti")
            hist = None
            if _hadoop_path_exists(spark, store_path):
                hist = spark.read.parquet(store_path).filter(
                    F.col("_batch_id") < F.lit(batch_id)
                )
            survivors, banded = minhash_near_dedup_core(
                batch_df, hist, id_col, text_col, num_hashes, bands,
                shingle_n, banded=banded_in,
            )
            write_windowed_idempotent(
                banded.join(survivors, id_col, "left_semi")
                .select("band_idx", "band_hash")
                .withColumn("_batch_id", F.lit(batch_id)),
                store_path,
                partition_col="_batch_id",
            )
            write_windowed_idempotent(
                batch_df.join(survivors, id_col, "left_semi").withColumn(
                    "_batch_id", F.lit(batch_id)
                ),
                out_dir,
                partition_col="_batch_id",
            )

    return ingest



def _start_payload_hamming_stream(
    spark, input_dir: str, checkpoint_dir: str, ingest, id_col: str
):
    """Shared stream scaffolding for the perceptual dedup modalities:
    a parquet payload stream (``id_col`` long, ``payload`` binary) fed
    through one foreachBatch ingest — the stream-wiring half of
    :func:`make_hamming_near_dedup_ingest`, factored once so a new
    modality adds only its fingerprint (review r10)."""
    stream = spark.readStream.schema(
        f"{id_col} long, payload binary"
    ).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_image_near_dedup_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """Streaming **perceptual image near-dup** ingestion — the Hamming-
    fingerprint sibling of :func:`start_near_dedup_stream` (VERDICT r9
    item 2): every micro-batch of images is one increment of
    :func:`operators.dedup.incremental_hamming_dedup` — decode the PNG
    payloads and dHash them (``operators.media.image_dhash``, real
    pixels), probe the accepted-history store with an in-join
    ``bit_count(xor) <= max_hamming`` verification (a probe-bucket
    collision is not membership evidence — the one structural
    difference from the MinHash flow), collapse within-batch clusters
    to their min-id winner, drop clusters already represented, append
    survivors' probe rows — so an image stream lands in the corpus
    already perceptually deduplicated against everything previously
    accepted (a re-encoded/brightened/upscaled copy of an accepted
    image is dropped even though its bytes are fresh).

    Replay idempotence: identical to the MinHash stream — store and
    sink are ``_batch_id``-partitioned with dynamic partition
    overwrite, and the history probe reads ONLY ``_batch_id <`` the
    current epoch, so a redelivered epoch sees exactly the history it
    saw first and rewrites exactly its own partitions.

    ``input_dir`` holds parquet files of (``id_col`` long, ``payload``
    binary) rows — PNG bytes; undecodable payloads are dropped by the
    codec seam (fail-closed rejection, counted by the media rejected
    counter when wired). Survivors land under ``out_dir`` partitioned
    by ``_batch_id``.
    """
    ingest = make_image_near_dedup_ingest(
        spark, out_dir, store_path, id_col, max_hamming
    )
    return _start_payload_hamming_stream(
        spark, input_dir, checkpoint_dir, ingest, id_col
    )


def make_hamming_near_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    fingerprint,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    max_hamming: int = 10,
):
    """The modality-agnostic foreachBatch callable behind the perceptual
    dedup streams (:func:`start_image_near_dedup_stream`,
    :func:`start_audio_near_dedup_stream`,
    :func:`start_video_near_dedup_stream`) — the decision flow is
    identical for any 64-bit fingerprint, only ``fingerprint`` (a
    ``batch_df -> (id, sig)`` DataFrame function) differs per modality.
    Exposed so the replay contract is directly testable (same shape as
    :func:`make_near_dedup_ingest`): calling it twice with the same
    (batch, batch_id) must leave the store and the sink bit-identical
    to one call."""
    from pyspark.sql import functions as F

    from ..operators.checkpoints import staged
    from ..operators.dedup import (
        _hadoop_path_exists,
        incremental_hamming_dedup_core,
        tombstone_store_path,
    )
    from .idempotent import write_windowed_idempotent

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = None
        if _hadoop_path_exists(spark, store_path):
            hist = spark.read.parquet(store_path).filter(
                F.col("_batch_id") < F.lit(batch_id)
            )
        # the staged scope of make_near_dedup_ingest: the core
        # stages the (id, sig) rows (freezing the survivor decision
        # AND pinning the decode to one pass); release exactly this
        # batch's blocks once the writes are durable
        with staged(spark):
            sigs = fingerprint(batch_df)
            # erasure tombstones (review r10): items whose signature
            # EXACTLY matches an erased one are removed from the
            # increment on every delivery — a replayed epoch would
            # otherwise re-derive the erased rows from the redelivered
            # payloads and resurrect them in store and sink; a fresh
            # near-dup variant (nonzero Hamming) passes to the normal
            # decision.
            ts_path = tombstone_store_path(store_path)
            if _hadoop_path_exists(spark, ts_path):
                tomb = spark.read.parquet(ts_path).select(sig_col)
                # filtering the DECISION input is sufficient for the
                # sink too: survivors ⊆ sigs ids, and the sink write
                # semi-joins batch_df by survivors
                sigs = sigs.join(tomb, sig_col, "left_anti")
                if sigs.isEmpty():
                    return
            survivors, banded = incremental_hamming_dedup_core(
                sigs, hist, id_col=id_col, sig_col=sig_col,
                max_hamming=max_hamming,
            )
            write_windowed_idempotent(
                banded.join(survivors, id_col, "left_semi")
                .select(sig_col, "band_idx", "band_val")
                .withColumn("_batch_id", F.lit(batch_id)),
                store_path,
                partition_col="_batch_id",
            )
            write_windowed_idempotent(
                batch_df.join(survivors, id_col, "left_semi").withColumn(
                    "_batch_id", F.lit(batch_id)
                ),
                out_dir,
                partition_col="_batch_id",
            )

    return ingest


def make_image_near_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """:func:`make_hamming_near_dedup_ingest` with the image dHash
    fingerprint. The fingerprint is pinned to the full 64-bit dHash: the
    probe machinery buckets 64-bit words and ``max_hamming=10`` is
    calibrated to hash_size=8 — a smaller grid (16 meaningful bits at
    hash_size=4) would classify most DISTINCT images as near-dups under
    the same threshold and silently drop the stream (review r10)."""
    from pyspark.sql import functions as F

    from ..operators.media import image_dhash

    def fingerprint(batch_df: DataFrame) -> DataFrame:
        return image_dhash(
            batch_df.withColumn("kind", F.lit("image")), id_col=id_col
        )

    return make_hamming_near_dedup_ingest(
        spark, out_dir, store_path, fingerprint,
        id_col=id_col, sig_col="dhash", max_hamming=max_hamming,
    )


def start_audio_near_dedup_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """Streaming **perceptual audio near-dup** ingestion — the third
    modality on the shared Hamming decision flow (text MinHash stream,
    image dHash stream, now audio): each micro-batch's WAV payloads are
    decoded and fingerprinted by the chromaprint-shaped spectral
    construction (``operators.media.audio_fingerprint`` — a re-encoded,
    gain-scaled, DC-shifted, or trailing-padded copy of an accepted clip
    fingerprints bit-identically and is dropped against history even
    though its bytes are fresh), then probed/clustered/appended exactly
    as :func:`start_image_near_dedup_stream` documents. Replay
    idempotence and the ``_batch_id < epoch`` history contract are the
    shared ingest's. ``input_dir`` holds parquet files of (``id_col``
    long, ``payload`` binary) rows — WAV bytes."""
    ingest = make_audio_near_dedup_ingest(
        spark, out_dir, store_path, id_col, max_hamming
    )
    return _start_payload_hamming_stream(
        spark, input_dir, checkpoint_dir, ingest, id_col
    )


def make_audio_near_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """:func:`make_hamming_near_dedup_ingest` with the spectral audio
    fingerprint (fixed 9×512 analysis window — the same calibration
    note as the image ingest: the 64-bit word and ``max_hamming`` are
    a matched pair)."""
    from pyspark.sql import functions as F

    from ..operators.media import audio_fingerprint

    def fingerprint(batch_df: DataFrame) -> DataFrame:
        return audio_fingerprint(
            batch_df.withColumn("kind", F.lit("audio")), id_col=id_col
        )

    return make_hamming_near_dedup_ingest(
        spark, out_dir, store_path, fingerprint,
        id_col=id_col, sig_col="afp", max_hamming=max_hamming,
    )


def start_video_near_dedup_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """Streaming **perceptual video near-dup** ingestion — the fourth
    modality on the shared Hamming decision flow: each micro-batch's
    GIF payloads decode to frame stacks and fingerprint via the
    majority-vote per-frame dHash (``operators.media.video_dhash`` — a
    re-encoded, brightened, or frame-repeated copy of accepted footage
    fingerprints bit-identically and is dropped against history), then
    probe/cluster/append exactly as the image and audio streams do.
    ``input_dir`` holds parquet files of (``id_col`` long, ``payload``
    binary) rows — GIF bytes."""
    ingest = make_video_near_dedup_ingest(
        spark, out_dir, store_path, id_col, max_hamming
    )
    return _start_payload_hamming_stream(
        spark, input_dir, checkpoint_dir, ingest, id_col
    )


def make_video_near_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str = "media_id",
    max_hamming: int = 10,
):
    """:func:`make_hamming_near_dedup_ingest` with the majority-vote
    video dHash fingerprint (full 64-bit word — the same
    threshold-calibration note as the image ingest)."""
    from pyspark.sql import functions as F

    from ..operators.media import video_dhash

    def fingerprint(batch_df: DataFrame) -> DataFrame:
        return video_dhash(
            batch_df.withColumn("kind", F.lit("video")), id_col=id_col
        )

    return make_hamming_near_dedup_ingest(
        spark, out_dir, store_path, fingerprint,
        id_col=id_col, sig_col="vdhash", max_hamming=max_hamming,
    )


def start_exact_dedup_stream(
    spark,
    input_dir: str,
    out_dir: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_cols: tuple[str, ...] | list[str] | None = None,
):
    """Streaming **exact** dedup against the persisted digest store —
    the third member of the streaming accepted-history set (MinHash
    bands, Hamming fingerprints, now exact digests, each mirroring its
    batch incremental operator): every micro-batch is one increment of
    :func:`operators.dedup.incremental_exact_dedup` — within-batch
    min-id winner per content digest, anti-join against every earlier
    epoch's accepted digests, append survivors. Replay idempotence,
    the ``_batch_id < epoch`` history contract, and erasure-tombstone
    filtering (exact digest match) are the same as the near-dup
    streams. ``input_dir`` holds parquet files of (``id_col`` long,
    ``text_col`` string) rows; ``key_cols`` defaults to
    ``(text_col,)``."""
    stream = spark.readStream.schema(
        f"{id_col} long, {text_col} string"
    ).parquet(input_dir)
    ingest = make_exact_dedup_ingest(
        spark, out_dir, store_path, id_col=id_col,
        key_cols=key_cols or (text_col,),
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def make_exact_dedup_ingest(
    spark,
    out_dir: str,
    store_path: str,
    id_col: str = "doc_id",
    key_cols: tuple[str, ...] | list[str] = ("text",),
    sink_cols: tuple[str, ...] | list[str] | None = None,
):
    """The foreachBatch callable behind :func:`start_exact_dedup_stream`
    (exposed for the replay contract, like its near-dup siblings):
    digest → tombstone filter → within-batch min-id winner → history
    anti-join (``_batch_id <`` epoch) → epoch-partitioned idempotent
    writes of the surviving digests and documents. The decision itself
    is :func:`operators.dedup.exact_dedup_core` — shared with the batch
    operator so the winner/anti-join logic cannot drift between the two
    (review r10). ``sink_cols`` restricts the survivor sink's columns
    (e.g. ``(id_col,)`` when the sink is an intermediate stage handoff
    and a downstream consumer re-derives rows from the source batch —
    the curation capstone — so the full document payload isn't written
    and re-read per epoch just to carry ids)."""
    from pyspark.sql import functions as F

    from ..operators.checkpoints import staged
    from ..operators.dedup import (
        _hadoop_path_exists,
        content_key,
        exact_dedup_core,
        tombstone_store_path,
    )
    from .idempotent import write_windowed_idempotent

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # erasure tombstones: an erased digest must not be resurrected
        # by epoch replay — and an exact resubmission is, by
        # construction, indistinguishable from a redelivery, so it is
        # blocked too (the documented streaming-erasure semantics)
        ts_path = tombstone_store_path(store_path)
        if _hadoop_path_exists(spark, ts_path):
            tomb = spark.read.parquet(ts_path).select("_ck")
            batch_df = batch_df.join(
                tomb,
                content_key(key_cols) == F.col("_ck"),
                "left_anti",
            )
            if batch_df.isEmpty():
                return  # fully-tombstoned replay: nothing to decide
        hist = None
        if _hadoop_path_exists(spark, store_path):
            hist = spark.read.parquet(store_path).filter(
                F.col("_batch_id") < F.lit(batch_id)
            )
        with staged(spark):
            firsts = exact_dedup_core(batch_df, hist, key_cols, id_col)
            out = batch_df.join(
                firsts.select(id_col), id_col, "left_semi"
            )
            if sink_cols is not None:
                out = out.select(*sink_cols)
            write_windowed_idempotent(
                firsts.select("_ck").withColumn(
                    "_batch_id", F.lit(batch_id)
                ),
                store_path,
                partition_col="_batch_id",
            )
            write_windowed_idempotent(
                out.withColumn("_batch_id", F.lit(batch_id)),
                out_dir,
                partition_col="_batch_id",
            )

    return ingest
