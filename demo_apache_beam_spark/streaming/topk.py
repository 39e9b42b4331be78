"""Live windowed top-k leaderboard view — the product-facing read side of
the LeaderBoard pipeline (the reference renders "top teams right now";
its pipeline only materializes all totals and leaves ranking to the
dashboard — this operator closes that gap).

Design: ranking inside the streaming aggregation would need a windowed
rank over an updating aggregate — not expressible as one streaming plan
(Spark disallows chained stateful aggregations in update mode). The
standard shape is CQRS: the update-mode totals stream upserts a compact
(window, team) → score store in ``foreachBatch`` (exactly the K4 table
sink), and the top-k view ranks the store on read. State is
one row per live (window, team) — watermark-bounded — and each
micro-batch touches only changed keys; the rank runs over a
dashboard-sized store, never the event stream.
"""

from __future__ import annotations

import heapq
from threading import Lock

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException


class WindowedTopKView:
    """In-memory upsert store + top-k reader for (window, team) totals.

    The in-memory dict stands in for the K4 table sink of a production
    deployment (same upsert contract); a Lock guards the micro-batch
    writer vs dashboard readers. ``topk`` ties break lexicographically on
    team for determinism.
    """

    def __init__(self, k: int = 3):
        self.k = int(k)
        self._totals: dict[tuple[str, str], int] = {}
        self._lock = Lock()

    def upsert_batch(self, batch_df: DataFrame) -> None:
        rows = batch_df.select("window_start", "team", "total_score").collect()
        with self._lock:
            for r in rows:
                self._totals[(str(r["window_start"]), r["team"])] = r["total_score"]

    def topk(self) -> dict[str, list[tuple[str, int]]]:
        """window_start → [(team, total_score)] best-first, ≤ k entries."""
        with self._lock:
            per_window: dict[str, list[tuple[int, str]]] = {}
            for (w, team), score in self._totals.items():
                per_window.setdefault(w, []).append((score, team))
        return {
            w: [
                (team, score)
                for score, team in heapq.nsmallest(
                    self.k, entries, key=lambda e: (-e[0], e[1])
                )
            ]
            for w, entries in per_window.items()
        }


def start_windowed_topk(
    team_scores: DataFrame,
    checkpoint_dir: str,
    k: int = 3,
) -> tuple[StreamingQuery, WindowedTopKView]:
    """Attach a live top-k view to an update-mode windowed team-score
    stream (``calculate_team_scores`` output). Returns (query, view);
    read ``view.topk()`` at any time for the current leaderboard."""
    view = WindowedTopKView(k)
    query = (
        team_scores.writeStream.outputMode("update")
        .foreachBatch(lambda df, _epoch: view.upsert_batch(df))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, view


class TableTopKStore:
    """Parquet-table-backed upsert store for (window, team) totals — the
    K4 table sink made real, so the CQRS read side's state lives in the
    warehouse, not in driver memory.

    Upsert = per-micro-batch merge + dynamic partition overwrite: the
    store is partitioned by ``window_start``; a batch touches only the
    partitions whose windows appear in it (update-mode emits changed
    keys only). Unchanged teams inside a touched window are preserved by
    anti-joining the existing partition rows against the batch before
    the overwrite. The merged slice is ``localCheckpoint``-materialized
    first so the overwrite never races its own input scan.

    Scale shape: executors do all row work; the driver handles only the
    O(windows-per-batch) partition list. Store size is one row per live
    (window, team) — watermark-bounded — and the rank-on-read runs as a
    window function over that dashboard-sized table, never the event
    stream. Readers see parquet snapshots; on a real deployment the
    same contract maps onto any upsert/MERGE table format.
    """

    def __init__(self, spark: SparkSession, path: str, k: int = 3):
        self.spark = spark
        self.path = path
        self.k = int(k)

    def _existing(self):
        try:
            df = self.spark.read.parquet(self.path)
        except AnalysisException:
            return None  # first batch: store not created yet
        # partition-column type inference may surface window_start as a
        # timestamp; normalize to the store's string contract
        return df.select(
            F.col("window_start").cast("string").alias("window_start"),
            "team",
            F.col("total_score").cast("long").alias("total_score"),
        )

    def upsert_batch(self, batch_df: DataFrame) -> None:
        changed = batch_df.select(
            F.col("window_start").cast("string").alias("window_start"),
            "team",
            F.col("total_score").cast("long").alias("total_score"),
        )
        windows = [
            r[0] for r in changed.select("window_start").distinct().collect()
        ]
        if not windows:
            return
        existing = self._existing()
        if existing is not None:
            keep = existing.filter(
                F.col("window_start").isin(windows)
            ).join(
                changed.select("window_start", "team"),
                ["window_start", "team"],
                "left_anti",
            )
            merged = keep.unionByName(changed)
        else:
            merged = changed
        # cut lineage off the store files before overwriting them; the
        # scope releases the staged blocks once the write is durable —
        # one pinned RDD per micro-batch would otherwise accumulate for
        # the stream's lifetime
        from ..operators.checkpoints import stage, staged

        with staged(self.spark):
            (
                stage(merged)
                .coalesce(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("window_start")
                .parquet(self.path)
            )

    def totals_df(self) -> DataFrame | None:
        return self._existing()

    def topk_df(self) -> DataFrame | None:
        """Rank-on-read: (window_start, team, total_score, rank ≤ k)."""
        df = self._existing()
        if df is None:
            return None
        w = Window.partitionBy("window_start").orderBy(
            F.desc("total_score"), F.asc("team")
        )
        return df.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= self.k
        )

    def topk(self) -> dict[str, list[tuple[str, int]]]:
        """Same read contract as :class:`WindowedTopKView` for drop-in use."""
        ranked = self.topk_df()
        if ranked is None:
            return {}
        out: dict[str, list[tuple[str, int]]] = {}
        for r in ranked.orderBy("window_start", "rank").collect():
            out.setdefault(str(r["window_start"]), []).append(
                (r["team"], r["total_score"])
            )
        return out


def start_windowed_topk_table(
    team_scores: DataFrame,
    checkpoint_dir: str,
    store_path: str,
    k: int = 3,
) -> tuple[StreamingQuery, TableTopKStore]:
    """Table-backed variant of :func:`start_windowed_topk`: the upsert
    store is a window-partitioned parquet table (K4 sink), top-k is a
    rank-on-read query. Returns (query, store)."""
    store = TableTopKStore(team_scores.sparkSession, store_path, k)
    query = (
        team_scores.writeStream.outputMode("update")
        .foreachBatch(lambda df, _epoch: store.upsert_batch(df))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return query, store
