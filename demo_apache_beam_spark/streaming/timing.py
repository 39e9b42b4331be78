"""W8 — pane-timing annotation (EARLY / ON_TIME / LATE).

The reference records each firing's pane timing in its output rows
(``c.pane().getTiming()``, LeaderBoard.java:101-104). Spark has no pane
metadata, but the same classification is derivable in the sink
(SURVEY.md §4.3):

- a row emitted while ``beam_watermark < window_end`` is an **EARLY**
  (speculative) firing;
- the first emission at-or-after the watermark passed the window end is
  **ON_TIME**;
- any further emission for that (key, window) is **LATE** (a refinement
  triggered by late data inside the lateness horizon).

**The watermark that classifies panes is Beam's, not Spark's delayed
one.** The leaderboard declares ``withWatermark(event_time, lateness)``,
so Spark's internal watermark is ``max_event_time − lateness`` and state
for a window is evicted once ``spark_wm ≥ window_end`` — which is
*exactly* Beam's drop horizon ``beam_wm ≥ window_end + lateness`` under
a perfect watermark (``beam_wm = max_event_time``). Classifying against
``spark_wm`` directly would label every admitted row EARLY (a row can
only be admitted while ``spark_wm < window_end``); the pane boundary
Beam defines is ``beam_wm = spark_wm + lateness`` vs window end. This
delay/lateness identification is what makes the whole Beam triggering
model land on Spark update mode losslessly:

====================  =========================================
Beam                  Spark (update mode, delay = lateness)
====================  =========================================
EARLY pane            emission while ``spark_wm + lateness < end``
ON_TIME pane          first emission with ``spark_wm + lateness ≥ end``
LATE pane             later emissions, until state eviction
drop after lateness   eviction at ``spark_wm ≥ end``
====================  =========================================

Three design points, all scale-critical:

- **Watermark is read synchronously** from the query's ``lastProgress``
  inside ``foreachBatch``. The progress published at the end of batch
  N-1 carries exactly the watermark the engine uses to gate batch N's
  state, so the classification matches what the state store did — an
  async listener (the round-1 design) could lag a batch and mislabel
  panes.
- **``record`` rides the sink write.** ``observe_on_time`` attaches an
  ``Observation`` of ``collect_set(struct(team, window_end))`` over the
  batch's ON_TIME rows, so the set of panes that just fired arrives with
  the board's one parquet write. ``record`` only files that set: it runs
  no Spark job of its own, and the annotated plan (the markers broadcast
  join and the upstream state-store read) executes once without a
  ``persist()``.
- **First-emission markers live in their own compact table** (sibling
  ``<sink>_markers`` path), not in the ever-growing data sink. Each
  batch appends only the (key, window_end) pairs that just fired
  ON_TIME — a pair is appended exactly once. The HOT path never reads
  that table: a driver-side set mirrors it (hydrated once, on the first
  batch after start/restart) and feeds the classification join as a
  local relation, so per batch the stream pays one tiny local-relation
  broadcast instead of a parquet scan, and batches with no new ON_TIME
  firings skip the marker write entirely. The mirror is bounded by the
  LIVE marker set — O(open windows) = lateness × key cardinality, the
  same bound the compactor enforces on the table (dead markers,
  ``window_end ≤ spark_wm``, are pruned at compaction; they can never
  classify a row since evicted windows never fire again).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MARKER_SCHEMA = T.StructType(
    [
        T.StructField("team", T.StringType()),
        T.StructField("window_end", T.TimestampType()),
    ]
)


def active_query(spark: SparkSession, name: str):
    """The active StreamingQuery called ``name``, or None.

    Pass the session the query was started on, NOT a micro-batch
    DataFrame's session: ``foreachBatch`` hands its batch a cloned
    session whose StreamingQueryManager lists no active queries.
    """
    for q in spark.streams.active:
        if q.name == name:
            return q
    return None


class TimingAnnotator:
    """Adds a ``timing`` column to windowed sink batches.

    Usage inside ``foreachBatch``::

        out, on_time = annotator.observe_on_time(annotator.annotate(batch_df))
        out.write.mode("append").parquet(sink)
        annotator.record(on_time.get["panes"])
    """

    def __init__(
        self,
        sink_path: str,
        allowed_lateness_minutes: int = 120,
        compact_every: int = 64,
    ) -> None:
        self._markers_path = f"{sink_path}_markers"
        self._lateness_min = int(allowed_lateness_minutes)
        self._compact_every = int(compact_every)
        self._query_name: str | None = None
        self._spark: SparkSession | None = None
        self._recorded = 0  # record() calls, the compaction clock
        # driver-side mirror of the marker table: (team, window_end) pairs.
        # None = not yet hydrated (first batch after start/restart reads
        # the durable table once); afterwards the hot path is memory-only.
        self._marker_cache: set[tuple[str, object]] | None = None

    def attach(self, spark: SparkSession, query_name: str) -> None:
        self._spark = spark
        self._query_name = query_name

    # -- watermark ---------------------------------------------------------

    def _current_watermark(self, spark: SparkSession) -> str | None:
        """The previous batch's published watermark — the exact value the
        engine used to gate this batch's state updates.

        The lookup runs against the session ``attach()`` captured (see
        ``active_query``): resolving through the micro-batch's cloned
        session would silently yield None (= everything EARLY).
        """
        if self._query_name is None:
            return None
        q = active_query(self._spark or spark, self._query_name)
        progress = q.lastProgress if q is not None else None
        if progress:
            return (progress.get("eventTime") or {}).get("watermark")
        return None

    # -- markers -----------------------------------------------------------

    def _hydrate_cache(self, spark: SparkSession) -> set:
        """Load the marker mirror from the durable table — runs ONCE per
        annotator lifetime (start or restart); every later batch is
        memory-only."""
        if self._marker_cache is not None:
            return self._marker_cache
        # cheap existence probe for local paths so the reader doesn't log a
        # WARN + FileNotFoundException on every pre-marker batch
        if "://" not in self._markers_path and not os.path.exists(self._markers_path):
            self._marker_cache = set()
            return self._marker_cache
        try:
            rows = (
                spark.read.schema(_MARKER_SCHEMA)
                .parquet(self._markers_path)
                .distinct()
                .collect()
            )
            self._marker_cache = {(r["team"], r["window_end"]) for r in rows}
        except Exception:  # remote path that doesn't exist yet
            self._marker_cache = set()
        return self._marker_cache

    def _seen_markers(self, spark: SparkSession) -> DataFrame | None:
        """The fired-window set as a local relation for the broadcast
        join — O(open windows) rows from driver memory, no file scan."""
        cache = self._hydrate_cache(spark)
        if not cache:
            return None
        return spark.createDataFrame(
            sorted(cache), _MARKER_SCHEMA
        ).withColumn("_seen", F.lit(True))

    def annotate(self, batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        wm = self._current_watermark(spark)
        wm_col = F.lit(wm).cast("timestamp") if wm else None
        # Beam's pane boundary: beam_wm (= spark_wm + lateness, see module
        # docstring) vs window end
        early = (
            F.lit(True)
            if wm_col is None
            else (
                wm_col + F.expr(f"INTERVAL {self._lateness_min} MINUTES")
                < F.col("window_end")
            )
        )

        emitted = self._seen_markers(spark)
        if emitted is None:
            return batch_df.withColumn(
                "timing", F.when(early, F.lit("EARLY")).otherwise(F.lit("ON_TIME"))
            )
        joined = batch_df.join(F.broadcast(emitted), ["team", "window_end"], "left")
        if wm_col is None:
            # query restart: lastProgress is gone but the marker table
            # survives — a window whose ON_TIME marker exists has fired,
            # so this emission is a LATE refinement, not EARLY
            return joined.withColumn(
                "timing",
                F.when(F.col("_seen").isNull(), F.lit("EARLY")).otherwise(
                    F.lit("LATE")
                ),
            ).drop("_seen")
        return joined.withColumn(
            "timing",
            F.when(early, F.lit("EARLY"))
            .when(F.col("_seen").isNull(), F.lit("ON_TIME"))
            .otherwise(F.lit("LATE")),
        ).drop("_seen")

    @staticmethod
    def observe_on_time(annotated_df: DataFrame) -> tuple[DataFrame, Observation]:
        """Attach the observation of this batch's ON_TIME panes to an
        annotated batch. After the batch's one write, ``.get["panes"]``
        of the returned Observation holds the distinct (team, window_end)
        rows labelled ON_TIME, the argument ``record`` takes."""
        on_time = Observation()
        observed = annotated_df.observe(
            on_time,
            F.collect_set(
                F.when(
                    F.col("timing") == "ON_TIME", F.struct("team", "window_end")
                )
            ).alias("panes"),
        )
        return observed, on_time

    def record(self, panes) -> None:
        """Record this batch's first ON_TIME firings, the (team,
        window_end) rows ``observe_on_time`` collected: update the driver
        mirror and append to the durable marker table.

        Each (team, window_end) lands at most once across the stream's
        lifetime (later firings classify LATE and are not re-recorded), so
        the table grows by closed windows only; batches with no new
        ON_TIME firings — the overwhelming majority in steady state —
        write NOTHING (the pre-cache design paid an empty parquet append
        per batch). Every ``compact_every``-th call compacts, which keeps
        the file set bounded by the live window count.
        """
        spark = self._spark or SparkSession.active()
        fired = [tuple(p) for p in panes]
        if fired:
            self._hydrate_cache(spark).update(fired)
            spark.createDataFrame(fired, _MARKER_SCHEMA).write.mode(
                "append"
            ).parquet(self._markers_path)
        self._recorded += 1
        if self._compact_every and self._recorded % self._compact_every == 0:
            self._compact(spark)

    def _compact(self, spark: SparkSession) -> None:
        """Rewrite the marker table (and the driver mirror) down to the
        live set — markers for evicted windows (window_end ≤ spark_wm)
        can never classify a row again. The live set is O(open windows) —
        bounded by lateness × key cardinality — so the driver round-trip
        is a metadata-sized operation."""
        import datetime as _dt

        wm = self._current_watermark(spark)
        cache = self._hydrate_cache(spark)
        if not cache:
            return
        if wm:
            wm_ts = _dt.datetime.fromisoformat(wm.replace("Z", "+00:00"))
            wm_naive = wm_ts.replace(tzinfo=None)
            cache = {
                (team, we)
                for team, we in cache
                if (we if we.tzinfo is None else we.replace(tzinfo=None))
                > wm_naive
            }
            self._marker_cache = cache
        spark.createDataFrame(
            sorted(cache), _MARKER_SCHEMA
        ).write.mode("overwrite").parquet(self._markers_path)
