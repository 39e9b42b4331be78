"""LeaderBoard — streaming team/user score boards
(reference entry point: LeaderBoard.main, LeaderBoard.java:136-175).

Beam semantics → Structured Streaming mapping (SURVEY.md §4.3):

- ``FixedWindows(teamWindowDuration)`` + early/late firings +
  ``accumulatingFiredPanes`` (LeaderBoard.java:188-200) →
  ``withWatermark(...)`` + ``groupBy(window, team)`` in **update** output
  mode: every micro-batch re-emits the updated cumulative aggregate per
  (window, team) — accumulating panes by construction, with trigger cadence
  standing in for the 5-min early-firing clock.
- ``withAllowedLateness(120 min)`` (LeaderBoard.java:197,218) →
  ``withWatermark(event_time, "120 minutes")`` — rows later than the
  watermark horizon are dropped and their window state evicted.
- Global-window user totals with the 10-min repeated trigger
  (LeaderBoard.java:211-220) → unwindowed ``groupBy(user)`` in update mode
  with ``trigger(processingTime=...)``, and no watermark: a global window
  never closes, so nothing is ever late for it.
- Pane timing (EARLY/ON_TIME/LATE, LeaderBoard.java:101-104) — no Spark
  built-in; annotated in the sink from the query's synchronous
  ``lastProgress`` watermark + a compact first-emission marker table
  (``streaming/timing.py``).

State backend: the default HDFS-backed state store, with **one** state
partition per query (``start_leaderboard(state_partitions=1)``). Team
state is per (team, window), exactly Beam's windowed GroupByKey state,
and is GC'd when the watermark passes window end + lateness (SURVEY.md
§3.3); user state is one row per user. The keys are few (15-odd live
teams with at most 3 open windows each, a few hundred users), while each
state partition costs a fixed amount every micro-batch: one state task,
and four checkpoint files (delta, checksum, and a Hadoop ``.crc``
sidecar for each), each of which forks ``/bin/chmod`` when ``libhadoop``
is absent. One partition per core (``spark.sql.shuffle.partitions``)
would multiply that cost for no parallelism the keys could use. Pass a
larger ``state_partitions`` when the key domain outgrows one task.
RocksDB (``spark.sql.streaming.stateStore.providerClass``) with
changelog checkpointing was measured at this size, one partition each,
and used as much CPU per micro-batch with a larger live heap; it is the
backend for a state that no longer fits the executor heap.

Micro-batches: a file that moves event time on costs three. The team
query runs its data batch, then a no-data batch in which the advanced
watermark evicts closed windows; that batch emits no rows in update
mode, so its sink only drives the plan through a ``noop`` write (the
state store still evicts and commits) and writes no board file. The
user query runs one batch: without a watermark it has no state to
evict, so Spark schedules no no-data batch for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import parse_game_events
from ..operators.windows import with_event_time

FIVE_MINUTES = "5 minutes"  # early-firing cadence, LeaderBoard.java:45
TEN_MINUTES = "10 minutes"  # late/global firing cadence, LeaderBoard.java:46


def read_game_event_lines(
    spark: SparkSession, input_dir: str, format: str = "text"
) -> DataFrame:
    """S2 equivalent: unbounded read of game events from a file-source
    directory (tests / local runs; Kafka in production — same downstream
    plan either way). ``format``: ``text`` parses injector CSV lines
    (reference wire format), ``json``/``csv`` use the schema'd native
    readers (``sources/formats.py``) — all three produce the same
    (user, team, score, timestamp, event_time) shape."""
    if format == "text":
        events = parse_game_events(spark.readStream.text(input_dir))
    elif format == "json":
        from ..sources.formats import read_events_json

        events = read_events_json(spark, input_dir, streaming=True)
    elif format == "csv":
        from ..sources.formats import read_events_csv

        events = read_events_csv(spark, input_dir, streaming=True)
    else:
        raise ValueError(f"unknown event format: {format!r}")
    return with_event_time(events)


def calculate_team_scores(
    events: DataFrame,
    team_window_minutes: int = 60,
    allowed_lateness_minutes: int = 120,
) -> DataFrame:
    """A3 ``CalculateTeamScores`` (LeaderBoard.java:177-201): windowed team
    sums with watermark-bounded lateness, accumulating emission.

    Input must carry an ``event_time`` timestamp column. Output columns:
    ``window_start``, ``window_end``, ``team``, ``total_score``.
    """
    return (
        events.withWatermark("event_time", f"{int(allowed_lateness_minutes)} minutes")
        .groupBy(
            F.window("event_time", f"{int(team_window_minutes)} minutes").alias("w"),
            F.col("team"),
        )
        .agg(F.sum("score").cast("long").alias("total_score"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "team",
            "total_score",
        )
    )


def calculate_user_scores(events: DataFrame) -> DataFrame:
    """A4 ``CalculateUserScores`` (LeaderBoard.java:202-221): global-window
    running user totals — one state row per user (W3 GlobalWindows).

    Late-data note: because ``event_time`` is not part of the grouping
    key, Spark applies **no** late-row dropping or state eviction here —
    arbitrarily late rows still accumulate. That matches Beam's
    GlobalWindows (a global window never closes; LeaderBoard.java:213
    relies on the repeated trigger, not window expiry). So no watermark
    is declared: it would not gate the aggregate, and only make Spark run
    a no-data batch after every data batch. The query reports no
    watermark either (``stream_health(user_q).watermark_ms`` is None).
    """
    return events.groupBy("user").agg(F.sum("score").cast("long").alias("total_score"))


def drain_no_data_batch(batch_df: DataFrame) -> None:
    """Execute a no-data micro-batch's plan with a ``noop`` write, so the
    state store still evicts and commits, without writing a board.

    An update-mode aggregate emits no rows in a no-data batch. The write
    counts them anyway and raises if there are any, so a batch taken for
    a no-data one by mistake fails the query instead of losing its rows.
    """
    rows = Observation()
    batch_df.observe(rows, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    n = rows.get["n"]
    if n:
        raise RuntimeError(f"no-data micro-batch emitted {n} rows")


def start_leaderboard(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    team_window_minutes: int = 60,
    allowed_lateness_minutes: int = 120,
    with_timing: bool = True,
    team_trigger: str | None = FIVE_MINUTES,
    user_trigger: str | None = TEN_MINUTES,
    table_prefix: str = "leaderboard",
    format: str = "text",
    state_partitions: int = 1,
):
    """Run both LeaderBoard queries over one shared parsed stream
    (LeaderBoard.java:144-171: one source, two sinks). Returns the two
    StreamingQuery handles.

    Each query appends to a parquet "table" (K3/K4 semantics) via
    ``foreachBatch``; the team sink adds ``processing_time`` and the pane
    ``timing`` column (P4/W8) through the timing annotator.

    ``state_partitions`` (default 1) is each query's state-partition
    count. It is set as ``spark.sql.shuffle.partitions`` for query START
    only, then the session value is restored. The count is baked into the
    checkpoint's offset log at first start, so a restart on an existing
    checkpoint keeps the old count whatever is passed. Every state
    partition costs one task and four checkpoint files per micro-batch,
    the team query's no-data batches included (see "State backend"
    above), so pass a larger value only when the key domain outgrows one
    task: when a partition's per-batch work, not its fixed cost, bounds
    the micro-batch.
    """
    from .timing import TimingAnnotator, active_query

    events = read_game_event_lines(spark, input_dir, format=format)

    team = calculate_team_scores(events, team_window_minutes, allowed_lateness_minutes)
    user = calculate_user_scores(events)
    team_query = "leaderboard_team"

    annotator = (
        TimingAnnotator(
            f"{output_dir}/{table_prefix}_team",
            allowed_lateness_minutes=allowed_lateness_minutes,
        )
        if with_timing
        else None
    )

    def team_sink(batch_df: DataFrame, epoch_id: int) -> None:
        # resolved through ``spark``: batch_df's cloned session lists no
        # active queries
        q = active_query(spark, team_query)
        if q is not None and not q.status["isDataAvailable"]:
            drain_no_data_batch(batch_df)
            return
        out = batch_df.withColumn("processing_time", F.current_timestamp())
        if annotator is None:
            out.write.mode("append").parquet(f"{output_dir}/{table_prefix}_team")
            return
        # the ON_TIME panes are observed on the one board write, so the
        # annotated plan executes once with no persist and no second job
        out, on_time = annotator.observe_on_time(annotator.annotate(out))
        out.write.mode("append").parquet(f"{output_dir}/{table_prefix}_team")
        annotator.record(on_time.get["panes"])

    def user_sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("processing_time", F.current_timestamp()).write.mode(
            "append"
        ).parquet(f"{output_dir}/{table_prefix}_user")

    if annotator is not None:
        annotator.attach(spark, team_query)

    prior_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
    try:
        team_writer = (
            team.writeStream.outputMode("update")
            .foreachBatch(team_sink)
            .option("checkpointLocation", f"{checkpoint_dir}/team")
            .queryName(team_query)
        )
        if team_trigger:
            team_writer = team_writer.trigger(processingTime=team_trigger)
        team_q = team_writer.start()

        user_writer = (
            user.writeStream.outputMode("update")
            .foreachBatch(user_sink)
            .option("checkpointLocation", f"{checkpoint_dir}/user")
            .queryName("leaderboard_user")
        )
        if user_trigger:
            user_writer = user_writer.trigger(processingTime=user_trigger)
        user_q = user_writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_shuffle)
    return team_q, user_q


def main(argv: list[str] | None = None) -> None:
    """CLI entry point (LeaderBoard.main, LeaderBoard.java:136-175):
    ``python -m demo_apache_beam_spark.streaming.leaderboard --input <dir>
    --output <dir>``. Runs both queries with the reference's trigger
    cadences (5-min early firings, 10-min global-window firings) until
    terminated (M2: ExampleUtils.waitToFinish, LeaderBoard.java:173-174).
    """
    from ..config import parse_leaderboard_args
    from ..session import get_spark

    opts = parse_leaderboard_args(argv)
    spark = get_spark("leaderboard")
    start_leaderboard(
        spark,
        input_dir=opts.input,
        output_dir=opts.output,
        checkpoint_dir=opts.checkpoint,
        team_window_minutes=opts.team_window_duration,
        allowed_lateness_minutes=opts.allowed_lateness,
        table_prefix=opts.leader_board_table_name,
        format=opts.format,
    )
    spark.streams.awaitAnyTermination()


if __name__ == "__main__":
    main()
