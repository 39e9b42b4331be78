"""Streaming equivalence + late-data semantics (SURVEY.md §5.2 item 2).

Drives the LeaderBoard queries with a file-source readStream; batch
boundaries are made deterministic by writing one file, draining with
``processAllAvailable()``, then writing the next.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from demo_apache_beam_spark.operators.aggregate import sum_scores, windowed_sum_scores
from demo_apache_beam_spark.operators.parse import parse_game_events
from demo_apache_beam_spark.operators.windows import with_event_time
from demo_apache_beam_spark.streaming.leaderboard import (
    calculate_team_scores,
    calculate_user_scores,
    read_game_event_lines,
)

BASE_MS = 1700000000000  # 2023-11-14 22:13:20 UTC


def _line(user, team, score, ts_ms):
    return f"{user},{team},{score},{ts_ms},ignored"


def _write_lines(dirpath, name, lines):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def stream_dirs(tmp_path):
    return str(tmp_path / "in"), str(tmp_path / "chk")


def _drain_updates(spark, stream_df, checkpoint, state: dict, key_cols):
    """Start an update-mode query whose foreachBatch upserts into ``state``
    (final accumulated view == Beam's accumulating panes)."""

    def sink(batch_df, _epoch):
        for row in batch_df.collect():
            d = row.asDict()
            state[tuple(d[k] for k in key_cols)] = d["total_score"]

    return (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_team_scores_stream_equals_batch(spark, stream_dirs):
    in_dir, chk = stream_dirs
    lines = [
        _line(f"user{i % 4}_T{i % 3}", f"T{i % 3}", i % 20, BASE_MS + i * 60_000)
        for i in range(120)
    ]
    _write_lines(in_dir, "a.txt", lines[:60])
    _write_lines(in_dir, "b.txt", lines[60:])

    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(events, team_window_minutes=60)
    state: dict = {}
    q = _drain_updates(spark, team, chk, state, ("window_start", "team"))
    q.processAllAvailable()
    q.stop()

    # Batch answer over the same lines.
    batch_lines = spark.createDataFrame([(s,) for s in lines], "value string")
    batch = with_event_time(parse_game_events(batch_lines))
    expect = {
        (r["window_start"], r["team"]): r["total_score"]
        for r in windowed_sum_scores(batch, "team", 60).collect()
    }
    assert state == expect


def test_user_scores_stream_equals_batch(spark, stream_dirs):
    in_dir, chk = stream_dirs
    lines = [
        _line(f"user{i % 7}", f"T{i % 3}", (i * 3) % 20, BASE_MS + i * 30_000)
        for i in range(100)
    ]
    _write_lines(in_dir, "a.txt", lines)

    events = read_game_event_lines(spark, in_dir)
    user = calculate_user_scores(events)
    state: dict = {}
    q = _drain_updates(spark, user, chk, state, ("user",))
    q.processAllAvailable()
    q.stop()

    batch_lines = spark.createDataFrame([(s,) for s in lines], "value string")
    batch = parse_game_events(batch_lines)
    expect = {(r["user"],): r["total_score"] for r in sum_scores(batch, "user").collect()}
    assert state == expect


def test_late_data_beyond_horizon_dropped(spark, stream_dirs):
    """W5: a row later than the 120-min watermark horizon is dropped; a row
    late but within the horizon is accumulated (LeaderBoard.java:65-68,197)."""
    in_dir, chk = stream_dirs
    hours = 10 * 3600 * 1000

    # Batch 1: advance event time (and thus the watermark) to BASE+10h.
    batch1 = [
        _line("u1", "team_a", 5, BASE_MS),
        _line("u1", "team_a", 7, BASE_MS + hours),
    ]
    _write_lines(in_dir, "a.txt", batch1)

    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(events, team_window_minutes=60, allowed_lateness_minutes=120)
    state: dict = {}
    q = _drain_updates(spark, team, chk, state, ("window_start", "team"))
    q.processAllAvailable()

    # Batch 2: one row ~10h late (beyond horizon → dropped), one row 30min
    # late relative to max event time (within horizon → accumulated).
    batch2 = [
        _line("u2", "team_a", 100, BASE_MS + 60_000),          # way beyond horizon
        _line("u3", "team_a", 3, BASE_MS + hours - 1_800_000),  # 30 min late: ok
    ]
    _write_lines(in_dir, "b.txt", batch2)
    q.processAllAvailable()
    q.stop()

    first_window_totals = [v for (ws, team_), v in state.items() if team_ == "team_a" and v >= 100]
    assert not first_window_totals, f"late row beyond horizon must be dropped: {state}"
    assert sum(state.values()) == 5 + 7 + 3


def test_stateful_streak_operator(spark, stream_dirs):
    """applyInPandasWithState: per-user streak state must persist across
    micro-batches and match a pure-python reference over the full stream."""
    from demo_apache_beam_spark.streaming.stateful import user_score_streaks

    in_dir, chk = stream_dirs
    # u1: scores 12,15,3,11,14,18 → longest streak 3 (last three)
    batch1 = [
        _line("u1", "t", 12, BASE_MS),
        _line("u1", "t", 15, BASE_MS + 60_000),
        _line("u1", "t", 3, BASE_MS + 120_000),
        _line("u2", "t", 9, BASE_MS),
    ]
    batch2 = [
        _line("u1", "t", 11, BASE_MS + 180_000),
        _line("u1", "t", 14, BASE_MS + 240_000),
        _line("u1", "t", 18, BASE_MS + 300_000),
        _line("u2", "t", 10, BASE_MS + 60_000),
    ]
    _write_lines(in_dir, "a.txt", batch1)

    events = read_game_event_lines(spark, in_dir)
    streaks = user_score_streaks(events, threshold=10)
    state: dict = {}

    def sink(batch_df, _epoch):
        for row in batch_df.collect():
            state[row["user"]] = (
                row["current_streak"], row["longest_streak"], row["n_events"]
            )

    q = (
        streaks.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    assert state["u1"] == (0, 2, 3)  # 12,15 streak broken by 3
    assert state["u2"] == (0, 0, 1)
    _write_lines(in_dir, "b.txt", batch2)
    q.processAllAvailable()
    q.stop()

    # state carried across batches: the 11,14,18 run continues from zero
    assert state["u1"] == (3, 3, 6)
    assert state["u2"] == (1, 1, 2)


def test_stateful_streak_group_spanning_arrow_chunks(spark, stream_dirs):
    """A hot key whose micro-batch exceeds one Arrow chunk must still be
    processed in global event-time order: rows arrive reverse-ordered and
    spark.sql.execution.arrow.maxRecordsPerBatch=2 forces the group to be
    delivered as 3 chunks. A per-chunk sort (the old bug) would yield
    longest=2; the true event-time order 11,3,12,13,14 gives longest=3."""
    from demo_apache_beam_spark.streaming.stateful import user_score_streaks

    in_dir, chk = stream_dirs
    scores_by_time = [11, 3, 12, 13, 14]
    lines = [
        _line("u1", "t", s, BASE_MS + i * 60_000)
        for i, s in enumerate(scores_by_time)
    ]
    _write_lines(in_dir, "a.txt", list(reversed(lines)))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        events = read_game_event_lines(spark, in_dir)
        streaks = user_score_streaks(events, threshold=10)
        state: dict = {}

        def sink(batch_df, _epoch):
            for row in batch_df.collect():
                state[row["user"]] = (
                    row["current_streak"], row["longest_streak"], row["n_events"]
                )

        q = (
            streaks.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert state["u1"] == (3, 3, 5)


def test_session_window_streaming_equals_batch(spark, stream_dirs):
    """Session windows run under watermarked streaming aggregation too:
    sessions finalized by the watermark (append mode — Spark does not
    support update mode for session aggregations) must equal the batch
    sessionization of the same rows."""
    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.windows import session_window

    in_dir, chk = stream_dirs
    lines = []
    # u1: two bursts separated by > gap → 2 sessions; u2: one burst
    for i in range(5):
        lines.append(_line("u1", "t", 1, BASE_MS + i * 60_000))
    for i in range(3):
        lines.append(_line("u1", "t", 1, BASE_MS + 2 * 3600_000 + i * 60_000))
    for i in range(4):
        lines.append(_line("u2", "t", 1, BASE_MS + i * 120_000))
    _write_lines(in_dir, "a.txt", lines)

    events = read_game_event_lines(spark, in_dir)
    sessions = (
        events.withWatermark("event_time", "120 minutes")
        .groupBy(session_window(30).alias("w"), "user")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user", F.unix_millis("w.start").alias("s"), F.unix_millis("w.end").alias("e"), "n_events")
    )
    state: dict = {}

    def sink(batch_df, _epoch):
        for row in batch_df.collect():
            state[(row["user"], row["s"])] = (row["e"], row["n_events"])

    q = (
        sessions.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    assert state == {}, "no session can finalize before the watermark moves"
    # a far-future event pushes the watermark past every earlier session
    _write_lines(in_dir, "b.txt", [_line("u3", "t", 1, BASE_MS + 24 * 3600_000)])
    q.processAllAvailable()
    q.stop()

    batch_lines = spark.createDataFrame([(s,) for s in lines], "value string")
    batch = with_event_time(parse_game_events(batch_lines))
    expect = {
        (r["user"], r["s"]): (r["e"], r["n_events"])
        for r in batch.groupBy(session_window(30).alias("w"), "user")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user", F.unix_millis("w.start").alias("s"), F.unix_millis("w.end").alias("e"), "n_events")
        .collect()
    }
    # u3's own session is still open and therefore absent from append output
    assert state == expect
    assert len({k[1] for k in state if k[0] == "u1"}) == 2  # two u1 sessions


def test_checkpoint_restart_resumes_state(spark, stream_dirs):
    """Stop the user-totals query mid-stream and restart it from the same
    checkpoint: aggregation state must resume (not reset), and already-
    processed files must not double-count — Structured Streaming's
    exactly-once state contract that replaces Beam's runner snapshotting."""
    in_dir, chk = stream_dirs
    _write_lines(in_dir, "a.txt", [_line("u1", "t", 5, BASE_MS), _line("u2", "t", 3, BASE_MS)])

    events = read_game_event_lines(spark, in_dir)
    user = calculate_user_scores(events)
    state: dict = {}
    q = _drain_updates(spark, user, chk, state, ("user",))
    q.processAllAvailable()
    q.stop()
    assert state == {("u1",): 5, ("u2",): 3}

    # second incarnation: same checkpoint, new data + an already-seen file
    _write_lines(in_dir, "b.txt", [_line("u1", "t", 7, BASE_MS + 60_000)])
    events2 = read_game_event_lines(spark, in_dir)
    user2 = calculate_user_scores(events2)
    state2: dict = {}
    q2 = _drain_updates(spark, user2, chk, state2, ("user",))
    q2.processAllAvailable()
    q2.stop()

    # only u1 changed in the new batch; its total includes pre-restart state
    assert state2 == {("u1",): 12}


def _state_partition_count(checkpoint: str) -> int:
    """Numeric partition directories of a query's operator-0 state."""
    return len([d for d in os.listdir(f"{checkpoint}/state/0") if d.isdigit()])


def _run_leaderboard(spark, root, files, **kwargs):
    """Run the LeaderBoard over ``files`` (lists of lines), one file and
    one drain of both queries at a time. Returns the team board's
    (window_start, team, total_score, timing) rows and the user board's
    (user, total_score) rows, sorted. Boards and checkpoints are under
    ``root``/out and ``root``/chk."""
    from demo_apache_beam_spark.streaming.leaderboard import start_leaderboard

    in_dir, out_dir, chk = f"{root}/in", f"{root}/out", f"{root}/chk"
    _write_lines(in_dir, "f0.txt", files[0])
    team_q, user_q = start_leaderboard(
        spark, in_dir, out_dir, chk, team_trigger=None, user_trigger=None, **kwargs
    )
    try:
        team_q.processAllAvailable(); user_q.processAllAvailable()
        for i, lines in enumerate(files[1:], 1):
            _write_lines(in_dir, f"f{i}.txt", lines)
            team_q.processAllAvailable(); user_q.processAllAvailable()
    finally:
        team_q.stop(); user_q.stop()

    team = sorted(
        tuple(r) for r in spark.read.parquet(f"{out_dir}/leaderboard_team")
        .select("window_start", "team", "total_score", "timing").collect()
    )
    user = sorted(
        tuple(r) for r in spark.read.parquet(f"{out_dir}/leaderboard_user")
        .select("user", "total_score").collect()
    )
    return team, user


def _run_three_file_leaderboard(spark, root, **kwargs):
    """``_run_leaderboard`` over three files. The second file moves the
    watermark 10 hours on; the third refines the first window, now past
    the 120-minute lateness horizon (the team board drops it, the
    global-window user board keeps it), and opens a new window."""
    hours = 10 * 3600 * 1000
    return _run_leaderboard(spark, root, [
        [_line("u1", "team_a", 5, BASE_MS), _line("u2", "team_b", 9, BASE_MS + 120_000)],
        [_line("u1", "team_a", 7, BASE_MS + hours)],
        [_line("u9", "team_a", 2, BASE_MS + 60_000),
         _line("u1", "team_a", 4, BASE_MS + hours + 60_000)],
    ], **kwargs)


def _batch_ids(log_dir: str) -> list[int]:
    """Batch ids in a query's offsets/ or commits/ log."""
    return sorted(int(f) for f in os.listdir(log_dir) if f.isdigit())


def test_start_leaderboard_end_to_end(spark, tmp_path):
    """Full two-sink LeaderBoard with pane-timing annotation (W8/K4).

    Watermark batches write nothing: the user query, which has no
    watermark, runs one batch per file, no board holds an empty part file,
    and the team query's no-data batch, driven through a ``noop`` write,
    still commits the eviction of the 22:00 windows."""
    import glob

    import pyarrow.parquet as pq

    team, user = _run_three_file_leaderboard(spark, str(tmp_path))

    team_out = spark.read.parquet(f"{tmp_path}/out/leaderboard_team")
    assert {"window_start", "window_end", "team", "total_score", "processing_time", "timing"} <= set(team_out.columns)
    assert "EARLY" in {t for *_, t in team}  # batch-1 emissions precede any watermark
    # final accumulated user totals present in the append log
    assert ("u1", 16) in user, user

    chk = f"{tmp_path}/chk"
    assert _batch_ids(f"{chk}/user/commits") == [0, 1, 2]
    parts = glob.glob(f"{tmp_path}/out/leaderboard_*/part-*.parquet")
    assert parts
    empty = [p for p in parts if pq.ParquetFile(p).metadata.num_rows == 0]
    assert not empty, empty
    # a no-data batch ran after the 10-hour jump and evicted the 22:00
    # windows; only the 08:00 window is left in the committed state
    assert len(_batch_ids(f"{chk}/team/commits")) > 3
    state = spark.read.format("statestore").load(f"{chk}/team")
    windows = sorted(
        (r["key"]["window"]["start"].hour, r["key"]["team"]) for r in state.collect()
    )
    assert windows == [(8, "team_a")], windows


def test_start_leaderboard_labels_late_pane(spark, tmp_path):
    """One team window through the real sink: EARLY before the watermark
    reaches its end, ON_TIME at the first emission after, LATE at the
    next. The ON_TIME label must be recorded from the sink's write (the
    ``_markers`` table holds that window), or the LATE emission would read
    ON_TIME again."""
    root = str(tmp_path)
    hour = 3600 * 1000
    w22_end_ms = (BASE_MS // hour) * hour + hour  # [22:00, 23:00)
    team, _ = _run_leaderboard(spark, root, [
        [_line("u1", "team_a", 5, BASE_MS)],
        # max event 23:10: Beam's watermark passes 23:00, Spark's is 21:10
        [_line("u2", "team_b", 9, w22_end_ms + 10 * 60_000)],
        [_line("u3", "team_a", 2, BASE_MS + 7 * 60_000)],
        [_line("u4", "team_a", 3, BASE_MS + 17 * 60_000)],
    ])
    assert [(w.hour, t, n, timing) for w, t, n, timing in team] == [
        (22, "team_a", 5, "EARLY"),
        (22, "team_a", 7, "ON_TIME"),
        (22, "team_a", 10, "LATE"),
        (23, "team_b", 9, "EARLY"),
    ], team
    markers = spark.read.parquet(f"{root}/out/leaderboard_team_markers").collect()
    assert [(r["team"], r["window_end"].timestamp() * 1000) for r in markers] == [
        ("team_a", float(w22_end_ms))
    ], markers


def test_drain_no_data_batch_raises_on_rows(spark):
    """A batch taken for a no-data one must fail, not lose its rows."""
    from demo_apache_beam_spark.streaming.leaderboard import drain_no_data_batch

    drain_no_data_batch(spark.createDataFrame([], "team string, total_score long"))
    with pytest.raises(RuntimeError, match="emitted 2 rows"):
        drain_no_data_batch(
            spark.createDataFrame([("a", 1), ("b", 2)], "team string, total_score long")
        )


def test_streaming_near_dedup_equals_batch_increments(spark, tmp_path):
    """The streaming band-store near-dedup must accept exactly the ids
    the batch incremental operator accepts over the same increments
    (micro-batch == increment), including a near-dup straddling
    batches; the store must be batch-id partitioned (replay contract)."""
    import os
    import time

    from demo_apache_beam_spark.operators.dedup import incremental_minhash_dedup
    from demo_apache_beam_spark.streaming.dedup import start_near_dedup_stream

    base_a = ("the quick brown fox jumps over the lazy dog while rain falls "
              "on the quiet town and children play in the green park near "
              "the old stone bridge every single afternoon")
    base_b = ("data pipelines shuffle terabytes of text across executors "
              "while schedulers balance partitions and optimizers prune "
              "columns from scans to keep the cluster busy at all times")
    near = lambda t: t.rsplit(" ", 1)[0] + " tonight"  # noqa: E731
    incs = [
        [(1, base_a), (2, base_b), (3, near(base_a))],
        [(4, near(base_a)), (5, near(base_b))],
    ]

    # batch reference over a separate store
    batch_store = str(tmp_path / "batch_store")
    expect: list[int] = []
    for inc in incs:
        df = spark.createDataFrame(inc, "doc_id long, text string")
        expect += [
            r["doc_id"]
            for r in incremental_minhash_dedup(df, batch_store).collect()
        ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_near_dedup_stream(
        spark,
        in_dir,
        str(tmp_path / "out"),
        str(tmp_path / "store"),
        str(tmp_path / "chk"),
    )
    try:
        for i, inc in enumerate(incs):
            spark.createDataFrame(inc, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{tmp_path}/stage_{i}")
            # one file move per increment -> one micro-batch per increment
            part = next(
                f for f in os.listdir(f"{tmp_path}/stage_{i}")
                if f.endswith(".parquet")
            )
            os.rename(
                f"{tmp_path}/stage_{i}/{part}", f"{in_dir}/inc_{i}.parquet"
            )
            q.processAllAvailable()
            time.sleep(0.1)
    finally:
        q.stop()

    got = [
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    assert sorted(got) == sorted(expect) == [1, 2]
    # the store is epoch-partitioned (the replay-idempotence layout)
    store_parts = {
        d for d in os.listdir(str(tmp_path / "store")) if d.startswith("_batch_id=")
    }
    assert store_parts  # at least the first accepted increment's partition


def test_near_dedup_replay_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch against the
    epoch-partitioned store must leave store AND sink exactly as after
    the first delivery (a flat-append store would self-collide with the
    replayed batch's own bands and drop everything)."""
    from demo_apache_beam_spark.streaming.dedup import make_near_dedup_ingest

    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_near_dedup_ingest(spark, out_dir, store)

    t1 = ("the quick brown fox jumps over the lazy dog while rain falls "
          "on the quiet town and children play near the old stone bridge")
    t2 = ("data pipelines shuffle terabytes of text across executors "
          "while schedulers balance partitions and optimizers prune scans")
    b0 = spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string")
    # epoch 1: a near-dup of an epoch-0 winner plus a fresh doc
    b1 = spark.createDataFrame(
        [(3, t1.rsplit(" ", 1)[0] + " tonight"),
         (4, "an entirely different document about sailing ships and "
             "stars guiding captains across vast oceans at night")],
        "doc_id long, text string",
    )

    def snapshot():
        sink = sorted(
            (r["doc_id"], r["_batch_id"])
            for r in spark.read.parquet(out_dir).collect()
        )
        st = sorted(
            (r["band_idx"], r["band_hash"], r["_batch_id"])
            for r in spark.read.parquet(store).collect()
        )
        return sink, st

    ingest(b0, 0)
    ingest(b1, 1)
    first = snapshot()
    assert [d for d, _ in first[0]] == [1, 2, 4]  # 3 dropped vs history

    # replay epoch 1 (crash-recovery delivery) — must be a no-op
    ingest(b1, 1)
    assert snapshot() == first
    # and replaying epoch 0 must also be a no-op (history probe reads
    # only _batch_id < 0 = nothing, same as the first delivery)
    ingest(b0, 0)
    assert snapshot() == first


def test_start_leaderboard_state_partitions_override(spark, tmp_path):
    """One state partition per query by default; ``state_partitions``
    bakes another count into the query checkpoints. Both give the same
    boards (the too-late refinement and the new window included), and the
    session's shuffle setting is restored after each start."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    boards = {}
    for label, kwargs, want in (("default", {}, 1), ("four", {"state_partitions": 4}, 4)):
        root = str(tmp_path / label)
        team, user = _run_three_file_leaderboard(spark, root, **kwargs)
        assert spark.conf.get("spark.sql.shuffle.partitions") == prior
        chk = f"{root}/chk"
        assert _state_partition_count(f"{chk}/team") == want
        assert _state_partition_count(f"{chk}/user") == want
        boards[label] = (team, user)

    assert boards["default"] == boards["four"]
    team, user = boards["default"]
    assert [(w.hour, t, n, timing) for w, t, n, timing in team] == [
        (22, "team_a", 5, "EARLY"),
        (22, "team_b", 9, "EARLY"),
        (8, "team_a", 7, "EARLY"),
        (8, "team_a", 11, "EARLY"),
    ], team
    assert user == [("u1", 5), ("u1", 12), ("u1", 16), ("u2", 9), ("u9", 2)], user


def test_start_leaderboard_restart_keeps_checkpoint_partitions(spark, tmp_path):
    """A checkpoint made with 4 state partitions restarts under the
    1-partition default: Spark takes the count from the checkpoint's
    offset log, and the totals after the restart build on the state from
    before it (no reset, no re-read of the drained file)."""
    from demo_apache_beam_spark.streaming.leaderboard import start_leaderboard

    in_dir, out_dir, chk = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "chk")
    )

    def drain(**kwargs):
        team_q, user_q = start_leaderboard(
            spark, in_dir, out_dir, chk, team_trigger=None, user_trigger=None,
            **kwargs,
        )
        try:
            team_q.processAllAvailable(); user_q.processAllAvailable()
        finally:
            team_q.stop(); user_q.stop()

    _write_lines(in_dir, "a.txt", [
        _line("u1", "team_a", 5, BASE_MS),
        _line("u2", "team_b", 9, BASE_MS + 120_000),
    ])
    drain(state_partitions=4)
    _write_lines(in_dir, "b.txt", [_line("u1", "team_a", 7, BASE_MS + 60_000)])
    drain()

    for query in ("team", "user"):
        assert _state_partition_count(f"{chk}/{query}") == 4, query
    team = sorted(
        (r["team"], r["total_score"])
        for r in spark.read.parquet(f"{out_dir}/leaderboard_team").collect()
    )
    user = sorted(
        tuple(r) for r in spark.read.parquet(f"{out_dir}/leaderboard_user")
        .select("user", "total_score").collect()
    )
    # 12 = 5 before the restart + 7 after; a reset would read 7, a re-read
    # of a.txt 17 (and a second u2 row)
    assert team == [("team_a", 5), ("team_a", 12), ("team_b", 9)], team
    assert user == [("u1", 5), ("u1", 12), ("u2", 9)], user


def test_streaming_dedup_equals_batch(spark, stream_dirs):
    """Identity dedup on the stream: replayed lines (same identity key,
    re-delivered in a later file) are dropped; the stream's append output
    equals batch dropDuplicates over the same rows."""
    from demo_apache_beam_spark.streaming.dedup import dedup_event_stream

    in_dir, chk = stream_dirs
    keys = ["user", "team", "score", "event_time"]
    base = [_line(f"u{i % 3}", "t", 5 + i, BASE_MS + i * 60_000) for i in range(6)]
    # in-file duplicate + cross-batch replays
    _write_lines(in_dir, "a.txt", base + [base[1]])
    _write_lines(in_dir, "b.txt", [base[2], base[4], _line("u9", "t", 1, BASE_MS + 999_000)])

    events = read_game_event_lines(spark, in_dir)
    seen: list = []

    def sink(batch_df, _epoch):
        seen.extend(
            (r["user"], r["team"], r["score"], r["timestamp"])
            for r in batch_df.collect()
        )

    q = (
        dedup_event_stream(events, keys=keys)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    all_lines = base + [base[1], base[2], base[4], _line("u9", "t", 1, BASE_MS + 999_000)]
    batch_lines = spark.createDataFrame([(s,) for s in all_lines], "value string")
    batch = with_event_time(parse_game_events(batch_lines)).dropDuplicates(keys)
    expect = {
        (r["user"], r["team"], r["score"], r["timestamp"]) for r in batch.collect()
    }
    assert len(seen) == len(expect), (seen, expect)
    assert set(seen) == expect


def test_streaming_dedup_within_watermark_keeps_first_arrival(spark, stream_dirs):
    """Content dedup (key omits event time): a retransmission with a fresh
    timestamp arriving within the watermark delay is dropped, and the
    surviving row carries the FIRST arrival's timestamp."""
    from demo_apache_beam_spark.streaming.dedup import (
        dedup_event_stream_within_watermark,
    )

    in_dir, chk = stream_dirs
    _write_lines(in_dir, "a.txt", [
        _line("u1", "t", 5, BASE_MS),
        _line("u2", "t", 7, BASE_MS + 60_000),
    ])

    events = read_game_event_lines(spark, in_dir)
    seen: list = []

    def sink(batch_df, _epoch):
        seen.extend(
            (r["user"], r["team"], r["score"], r["timestamp"])
            for r in batch_df.collect()
        )

    q = (
        dedup_event_stream_within_watermark(events, keys=["user", "team", "score"])
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    # retransmissions 10 min later (inside the 120-min watermark delay)
    _write_lines(in_dir, "b.txt", [
        _line("u1", "t", 5, BASE_MS + 600_000),
        _line("u3", "t", 9, BASE_MS + 600_000),
    ])
    q.processAllAvailable()
    q.stop()

    assert sorted(seen) == [
        ("u1", "t", 5, BASE_MS),          # first arrival's timestamp survives
        ("u2", "t", 7, BASE_MS + 60_000),
        ("u3", "t", 9, BASE_MS + 600_000),
    ]


def test_timing_annotator_compaction(spark, tmp_path):
    """compact_every=1: every record() rewrites the marker table down to the
    watermark-live set — a window evicted beyond the lateness horizon loses
    its marker, while timing labels stay correct across compactions."""
    from demo_apache_beam_spark.streaming.leaderboard import calculate_team_scores
    from demo_apache_beam_spark.streaming.timing import TimingAnnotator

    in_dir = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    sink_path = str(tmp_path / "team")
    lateness = 60
    hour = 3600 * 1000
    # W1 = [22:00, 23:00) around BASE_MS (22:13:20 UTC)
    w1_end_ms = (BASE_MS // hour) * hour + hour

    os.makedirs(in_dir, exist_ok=True)
    annotator = TimingAnnotator(
        sink_path, allowed_lateness_minutes=lateness, compact_every=1
    )

    def team_sink(batch_df, epoch_id):
        out = annotator.annotate(batch_df).persist()
        out.write.mode("append").parquet(sink_path)
        annotator.record(
            out.filter(F.col("timing") == "ON_TIME")
            .select("team", "window_end").distinct().collect()
        )
        out.unpersist()

    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(
        events, team_window_minutes=60, allowed_lateness_minutes=lateness
    )
    annotator.attach(spark, "compact_test")
    q = (
        team.writeStream.outputMode("update")
        .foreachBatch(team_sink)
        .option("checkpointLocation", chk)
        .queryName("compact_test")
        .start()
    )

    def drain(name, lines):
        _write_lines(in_dir, name, lines)
        q.processAllAvailable()

    # W1 EARLY (no watermark yet)
    drain("b1.txt", [_line("u1", "team_a", 5, BASE_MS)])
    # max event 23:10 → spark wm 22:10, beam wm 23:10 ≥ W1 end
    drain("b2.txt", [_line("u2", "team_b", 1, w1_end_ms + 10 * 60_000)])
    # late W1 refinements: admitted (spark wm 22:10 < 23:00), beam wm past
    # the window end → first is ON_TIME, second LATE
    drain("b3.txt", [_line("u3", "team_a", 2, BASE_MS + 7 * 60_000)])
    drain("b4.txt", [_line("u4", "team_a", 3, BASE_MS + 17 * 60_000)])
    markers = spark.read.parquet(f"{sink_path}_markers").collect()
    assert {(r["team"], r["window_end"].timestamp() * 1000) for r in markers} == {
        ("team_a", float(w1_end_ms))
    }
    # spark wm → 01:00 ≥ W1 end: state evicted; the marker dies at the next
    # epoch's compaction (b5's own epoch still reads the pre-advance wm)
    drain("b5.txt", [_line("u2", "team_b", 1, w1_end_ms + 3 * hour)])
    drain("b6.txt", [_line("u2", "team_b", 1, w1_end_ms + 3 * hour + 60_000)])
    q.stop()

    live = spark.read.parquet(f"{sink_path}_markers").collect()
    assert not any(
        r["team"] == "team_a" and r["window_end"].timestamp() * 1000 == w1_end_ms
        for r in live
    ), f"dead marker survived compaction: {live}"

    out = spark.read.parquet(sink_path)
    w1 = [
        r["timing"]
        for r in out.collect()
        if r["team"] == "team_a" and r["window_end"].timestamp() * 1000 == w1_end_ms
    ]
    assert sorted(w1) == ["EARLY", "LATE", "ON_TIME"], w1


def test_timing_annotator_restart_recovery(spark, tmp_path):
    """After a query restart lastProgress is gone (watermark None) but the
    marker table survives: a window whose ON_TIME marker exists must label
    LATE, not EARLY (the pane already fired)."""
    from demo_apache_beam_spark.streaming.timing import TimingAnnotator

    sink_path = str(tmp_path / "team")
    seen_end = "2023-11-14 23:00:00"
    spark.createDataFrame(
        [("team_a", seen_end)], "team string, window_end string"
    ).select(
        "team", F.col("window_end").cast("timestamp").alias("window_end")
    ).write.parquet(f"{sink_path}_markers")

    annotator = TimingAnnotator(sink_path)  # never attached → watermark None
    batch = spark.createDataFrame(
        [("team_a", seen_end, 7), ("team_b", "2023-11-15 01:00:00", 3)],
        "team string, window_end string, total_score int",
    ).select(
        "team", F.col("window_end").cast("timestamp").alias("window_end"), "total_score"
    )
    rows = {r["team"]: r["timing"] for r in annotator.annotate(batch).collect()}
    assert rows == {"team_a": "LATE", "team_b": "EARLY"}


def test_leaderboard_with_rocksdb_state_store(spark, stream_dirs):
    """The documented 100 TB state backend actually runs: user-totals
    aggregation state lives in RocksDB state stores and accumulates
    across micro-batches exactly like the default HDFS-backed provider."""
    in_dir, chk = stream_dirs
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _write_lines(in_dir, "a.txt", [_line("u1", "t", 5, BASE_MS)])
        events = read_game_event_lines(spark, in_dir)
        user = calculate_user_scores(events)
        state: dict = {}
        q = _drain_updates(spark, user, chk, state, ("user",))
        q.processAllAvailable()
        _write_lines(in_dir, "b.txt", [_line("u1", "t", 7, BASE_MS + 60_000),
                                       _line("u2", "t", 3, BASE_MS + 60_000)])
        q.processAllAvailable()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    assert state == {("u1",): 12, ("u2",): 3}


def test_stream_stream_interval_join_equals_batch(spark, stream_dirs):
    """Stream-stream interval join (purchase ← view attribution within 30
    min, same user): streamed matches must equal the batch interval join
    of the same rows."""
    from demo_apache_beam_spark.streaming.joins import interval_join_streams

    in_dir, chk = stream_dirs
    minute = 60_000
    lines = [
        _line("u1", "view", 0, BASE_MS),                    # matched by p@+10m
        _line("u1", "purchase", 5, BASE_MS + 10 * minute),
        _line("u1", "view", 0, BASE_MS + 11 * minute),      # matched by p@+15m
        _line("u1", "purchase", 7, BASE_MS + 15 * minute),
        _line("u2", "purchase", 9, BASE_MS + 20 * minute),  # no view: no match
        _line("u3", "view", 0, BASE_MS),
        _line("u3", "purchase", 4, BASE_MS + 50 * minute),  # view too old (>30m)
    ]
    _write_lines(in_dir, "a.txt", lines[:3])
    _write_lines(in_dir, "b.txt", lines[3:])

    events = read_game_event_lines(spark, in_dir)
    views = events.filter(F.col("team") == "view")
    purchases = events.filter(F.col("team") == "purchase")
    joined = interval_join_streams(
        purchases, views, on="user", max_lag_minutes=30,
        left_prefix="p", right_prefix="v",
    ).select("p_user", "p_timestamp", "v_timestamp", "p_score")

    got: set = set()

    def sink(batch_df, _epoch):
        got.update(
            (r["p_user"], r["p_timestamp"], r["v_timestamp"], r["p_score"])
            for r in batch_df.collect()
        )

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # batch equivalent over the same rows
    batch_lines = spark.createDataFrame([(s,) for s in lines], "value string")
    be = with_event_time(parse_game_events(batch_lines))
    bv = be.filter(F.col("team") == "view").select(
        F.col("user"), F.col("timestamp").alias("v_timestamp")
    )
    bp = be.filter(F.col("team") == "purchase").select(
        F.col("user").alias("p_user"), F.col("timestamp").alias("p_timestamp"),
        F.col("score").alias("p_score"),
    )
    expect = {
        (r["p_user"], r["p_timestamp"], r["v_timestamp"], r["p_score"])
        for r in bp.join(
            bv,
            (bp.p_user == bv.user)
            & (bv.v_timestamp <= bp.p_timestamp)
            & (bv.v_timestamp >= bp.p_timestamp - 30 * minute),
        ).collect()
    }
    # u1 p@+10m ← v@0; u1 p@+15m ← both views; u2/u3 unmatched
    assert len(expect) == 3
    assert got == expect


def test_stream_stream_interval_left_outer_join(spark, stream_dirs):
    """LEFT OUTER stream-stream interval join: unmatched left (purchase)
    rows must emit null-padded once the right watermark provably rules
    out a future match — the outer-emission semantics the inner test
    cannot see. Matched rows must equal the inner join's."""
    from demo_apache_beam_spark.streaming.joins import interval_join_streams

    in_dir, chk = stream_dirs
    minute = 60_000
    lines = [
        _line("u1", "view", 0, BASE_MS),                    # matched by p@+10m
        _line("u1", "purchase", 5, BASE_MS + 10 * minute),
        _line("u2", "purchase", 9, BASE_MS + 20 * minute),  # no view ever
        _line("u3", "view", 0, BASE_MS),
        _line("u3", "purchase", 4, BASE_MS + 50 * minute),  # view too old (>30m)
    ]
    _write_lines(in_dir, "a.txt", lines)

    events = read_game_event_lines(spark, in_dir)
    views = events.filter(F.col("team") == "view")
    purchases = events.filter(F.col("team") == "purchase")
    joined = interval_join_streams(
        purchases, views, on="user", max_lag_minutes=30,
        how="left_outer", left_prefix="p", right_prefix="v",
    ).select("p_user", "p_timestamp", "v_timestamp", "p_score")

    got: set = set()

    def sink(batch_df, _epoch):
        got.update(
            (r["p_user"], r["p_timestamp"], r["v_timestamp"], r["p_score"])
            for r in batch_df.collect()
        )

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    # push BOTH side watermarks far past every purchase + lag + allowed
    # lateness (watermark 120m): right-side view events at +400m for a
    # user that matches nothing on the left
    # (the GLOBAL watermark is the min across both sides, so the pusher
    # must appear on the purchase side too; u9's lone purchase stays in
    # state unemitted — nothing ever advances the watermark past it)
    _write_lines(in_dir, "b.txt", [
        _line("u9", "view", 0, BASE_MS + 400 * minute),
        _line("u9", "purchase", 1, BASE_MS + 400 * minute),
    ])
    q.processAllAvailable()
    # outer results emit in the batch AFTER the watermark advances — one
    # more micro-batch to flush them
    _write_lines(in_dir, "c.txt", [
        _line("u9", "view", 0, BASE_MS + 401 * minute),
        _line("u9", "purchase", 1, BASE_MS + 401 * minute),
    ])
    q.processAllAvailable()
    q.stop()

    expect = {
        # inner matches (u9's pusher purchases match u9's pusher views)
        ("u1", BASE_MS + 10 * minute, BASE_MS, 5),
        ("u9", BASE_MS + 400 * minute, BASE_MS + 400 * minute, 1),
        ("u9", BASE_MS + 401 * minute, BASE_MS + 400 * minute, 1),
        ("u9", BASE_MS + 401 * minute, BASE_MS + 401 * minute, 1),
    }
    # u9 purchase@+400m also sees view@+401m? no: the interval is
    # [p-30m, p] so a LATER view never matches. Outer null-padded rows:
    expect |= {
        ("u2", BASE_MS + 20 * minute, None, 9),
        ("u3", BASE_MS + 50 * minute, None, 4),
    }
    assert got == expect


def test_stream_stream_interval_full_outer_join(spark, stream_dirs):
    """FULL OUTER stream-stream interval join: BOTH sides' unmatched
    rows emit null-padded once the global watermark rules out a future
    match — unmatched purchases (left) AND the view that no purchase
    ever attributed (right)."""
    from demo_apache_beam_spark.streaming.joins import interval_join_streams

    in_dir, chk = stream_dirs
    minute = 60_000
    lines = [
        _line("u1", "view", 0, BASE_MS),                    # matched by p@+10m
        _line("u1", "purchase", 5, BASE_MS + 10 * minute),
        _line("u2", "purchase", 9, BASE_MS + 20 * minute),  # no view: left-outer
        _line("u4", "view", 0, BASE_MS + 5 * minute),       # no purchase: right-outer
    ]
    _write_lines(in_dir, "a.txt", lines)

    events = read_game_event_lines(spark, in_dir)
    views = events.filter(F.col("team") == "view")
    purchases = events.filter(F.col("team") == "purchase")
    joined = interval_join_streams(
        purchases, views, on="user", max_lag_minutes=30,
        how="full_outer", left_prefix="p", right_prefix="v",
    ).select("p_user", "p_timestamp", "v_user", "v_timestamp")

    got: set = set()

    def sink(batch_df, _epoch):
        got.update(
            (r["p_user"], r["p_timestamp"], r["v_user"], r["v_timestamp"])
            for r in batch_df.collect()
        )

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    # advance BOTH watermarks far past all data + lag + lateness, then
    # one more micro-batch to flush the outer rows
    for i, fname in ((400, "b.txt"), (401, "c.txt")):
        _write_lines(in_dir, fname, [
            _line("u9", "view", 0, BASE_MS + i * minute),
            _line("u9", "purchase", 1, BASE_MS + i * minute),
        ])
        q.processAllAvailable()
    q.stop()

    expect = {
        ("u1", BASE_MS + 10 * minute, "u1", BASE_MS),
        ("u2", BASE_MS + 20 * minute, None, None),          # left outer
        (None, None, "u4", BASE_MS + 5 * minute),           # right outer
        # u9 pushers match themselves (view at the same instant)
        ("u9", BASE_MS + 400 * minute, "u9", BASE_MS + 400 * minute),
        ("u9", BASE_MS + 401 * minute, "u9", BASE_MS + 401 * minute),
        ("u9", BASE_MS + 401 * minute, "u9", BASE_MS + 400 * minute),
    }
    assert got == expect


def test_stream_static_enrichment(spark, stream_dirs):
    """Stream-static join: each micro-batch broadcasts the dimension and
    enriches in flight."""
    from demo_apache_beam_spark.streaming.joins import enrich_stream

    in_dir, chk = stream_dirs
    _write_lines(in_dir, "a.txt", [
        _line("u1", "team_a", 5, BASE_MS),
        _line("u2", "team_b", 3, BASE_MS),
        _line("u3", "team_x", 1, BASE_MS),   # no dimension row
    ])
    dim = spark.createDataFrame(
        [("team_a", "NA"), ("team_b", "EU")], "team string, region string"
    )
    events = read_game_event_lines(spark, in_dir)
    enriched = enrich_stream(events, dim, on="team")
    rows: dict = {}

    def sink(batch_df, _epoch):
        for r in batch_df.collect():
            rows[r["user"]] = r["region"]

    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert rows == {"u1": "NA", "u2": "EU", "u3": None}


def test_streaming_sessions_equal_batch(spark, stream_dirs):
    """Streaming session windows (append mode): sessions closed by the
    watermark must exactly equal the batch session_window aggregate over
    the same rows — boundaries (last event + gap), merged multi-event
    sessions, per-key isolation, and scores all agree."""
    from demo_apache_beam_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    in_dir, chk = stream_dirs
    gap_min, lateness_min = 30, 120
    # u1: two events 10 min apart -> ONE merged session; a third 40 min
    # later -> separate session. u2: single-event session.
    closing = [
        _line("u1", "t", 3, BASE_MS),
        _line("u1", "t", 4, BASE_MS + 10 * 60_000),
        _line("u1", "t", 5, BASE_MS + 50 * 60_000),
        _line("u2", "t", 7, BASE_MS + 5 * 60_000),
    ]
    _write_lines(in_dir, "a.txt", closing)

    events = read_game_event_lines(spark, in_dir)
    seen: list = []

    def sink(batch_df, _epoch):
        seen.extend(
            (r["user"], r["session_start"], r["session_end"], r["total_score"], r["n_events"])
            for r in batch_df.collect()
        )

    q = (
        sessionize_stream(events, gap_min, lateness_min)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    assert seen == []  # nothing closes before the watermark moves
    # sentinel far enough ahead to close every session above
    # (watermark = max event time - lateness)
    _write_lines(in_dir, "b.txt", [
        _line("u9", "t", 1, BASE_MS + (50 + 30 + lateness_min + 60) * 60_000),
    ])
    q.processAllAvailable()
    q.stop()

    batch_lines = spark.createDataFrame([(s,) for s in closing], "value string")
    batch = sessionize_batch(
        with_event_time(parse_game_events(batch_lines)), gap_min
    )
    expect = {
        (r["user"], r["session_start"], r["session_end"], r["total_score"], r["n_events"])
        for r in batch.collect()
    }
    assert len(expect) == 3  # merged u1 session + separate u1 + u2
    assert set(seen) == expect
    assert len(seen) == len(expect)


def test_streaming_session_merges_across_batches(spark, stream_dirs):
    """An event arriving in a LATER micro-batch inside the gap must extend
    the open session (state-store merge), not open a second one."""
    from demo_apache_beam_spark.streaming.sessions import sessionize_stream

    in_dir, chk = stream_dirs
    _write_lines(in_dir, "a.txt", [_line("u1", "t", 3, BASE_MS)])

    events = read_game_event_lines(spark, in_dir)
    seen: list = []

    def sink(batch_df, _epoch):
        seen.extend(
            (r["user"], r["total_score"], r["n_events"])
            for r in batch_df.collect()
        )

    q = (
        sessionize_stream(events, 30, 120)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    q.processAllAvailable()
    # 20 min after the first event: inside the 30-min gap -> same session
    _write_lines(in_dir, "b.txt", [_line("u1", "t", 4, BASE_MS + 20 * 60_000)])
    q.processAllAvailable()
    # close it
    _write_lines(in_dir, "c.txt", [_line("u9", "t", 1, BASE_MS + 400 * 60_000)])
    q.processAllAvailable()
    q.stop()

    assert seen == [("u1", 7, 2)], seen


def test_transform_with_state_running_totals(spark, stream_dirs):
    """transformWithStateInPandas (the modern stateful API): named
    ValueState must persist across micro-batches and the final state must
    equal the batch groupBy sum — same contract as the legacy
    applyInPandasWithState streak operator."""
    from demo_apache_beam_spark.streaming.modern_state import (
        HAS_TRANSFORM_WITH_STATE,
        ROCKSDB_PROVIDER,
        user_running_totals_tws,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip("transformWithState not available in this runtime")

    in_dir, chk = stream_dirs
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        _write_lines(in_dir, "a.txt", [
            _line("u1", "t", 5, BASE_MS),
            _line("u1", "t", 2, BASE_MS + 1000),
            _line("u2", "t", 9, BASE_MS),
        ])
        events = read_game_event_lines(spark, in_dir)
        totals = user_running_totals_tws(events)
        state: dict = {}

        def sink(batch_df, _epoch):
            for row in batch_df.collect():
                state[row["user"]] = (row["total_score"], row["n_events"])

        q = (
            totals.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        assert state == {"u1": (7, 2), "u2": (9, 1)}
        # second micro-batch: state carries, new key appears
        _write_lines(in_dir, "b.txt", [
            _line("u1", "t", 4, BASE_MS + 2000),
            _line("u3", "t", 1, BASE_MS + 2000),
        ])
        q.processAllAvailable()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    assert state == {"u1": (11, 3), "u2": (9, 1), "u3": (1, 1)}


def test_windowed_topk_view_matches_batch(spark, stream_dirs):
    """The live top-k view must converge to the batch per-window top-k
    after each drain, including a rank change caused by late-but-within-
    watermark data in a second micro-batch."""
    from demo_apache_beam_spark.streaming.leaderboard import (
        calculate_team_scores,
        read_game_event_lines,
    )
    from demo_apache_beam_spark.streaming.topk import start_windowed_topk

    in_dir, chk = stream_dirs
    batch1 = [
        _line("u1", "alpha", 10, BASE_MS),
        _line("u2", "beta", 8, BASE_MS + 60_000),
        _line("u3", "gamma", 6, BASE_MS + 120_000),
        _line("u4", "delta", 1, BASE_MS + 120_000),
    ]
    # same hour window: beta overtakes alpha; delta overtakes gamma
    batch2 = [
        _line("u2", "beta", 5, BASE_MS + 180_000),
        _line("u4", "delta", 9, BASE_MS + 60_000),
    ]
    _write_lines(in_dir, "a.txt", batch1)
    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(events)
    q, view = start_windowed_topk(team, chk, k=2)
    try:
        q.processAllAvailable()
        (w1,) = view.topk().keys()
        assert view.topk()[w1] == [("alpha", 10), ("beta", 8)]
        _write_lines(in_dir, "b.txt", batch2)
        q.processAllAvailable()
        assert view.topk()[w1] == [("beta", 13), ("alpha", 10)]
    finally:
        q.stop()


def test_windowed_topk_table_store_matches_batch(spark, stream_dirs, tmp_path):
    """The parquet-table-backed top-k store (K4 sink + rank-on-read) must
    converge to the same answers as the in-memory view: initial ranking,
    then a rank flip from a second micro-batch, with unchanged teams in a
    touched window preserved across the dynamic partition overwrite."""
    from demo_apache_beam_spark.streaming.leaderboard import (
        calculate_team_scores,
        read_game_event_lines,
    )
    from demo_apache_beam_spark.streaming.topk import start_windowed_topk_table

    in_dir, chk = stream_dirs
    store_path = str(tmp_path / "topk_store")
    batch1 = [
        _line("u1", "alpha", 10, BASE_MS),
        _line("u2", "beta", 8, BASE_MS + 60_000),
        _line("u3", "gamma", 6, BASE_MS + 120_000),
        _line("u4", "delta", 1, BASE_MS + 120_000),
    ]
    # same hour window: beta overtakes alpha; delta overtakes gamma.
    # alpha and gamma do NOT appear in batch2 — they must survive the
    # partition overwrite via the anti-join merge.
    batch2 = [
        _line("u2", "beta", 5, BASE_MS + 180_000),
        _line("u4", "delta", 9, BASE_MS + 60_000),
    ]
    _write_lines(in_dir, "a.txt", batch1)
    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(events)
    q, store = start_windowed_topk_table(team, chk, store_path, k=2)
    try:
        q.processAllAvailable()
        (w1,) = store.topk().keys()
        assert store.topk()[w1] == [("alpha", 10), ("beta", 8)]
        _write_lines(in_dir, "b.txt", batch2)
        q.processAllAvailable()
        assert store.topk()[w1] == [("beta", 13), ("alpha", 10)]
        # full store state: every team's latest total survived the merge
        totals = {
            (r["window_start"], r["team"]): r["total_score"]
            for r in store.totals_df().collect()
        }
        assert totals == {
            (w1, "alpha"): 10,
            (w1, "beta"): 13,
            (w1, "gamma"): 6,
            (w1, "delta"): 10,
        }
    finally:
        q.stop()


def test_stream_health_reports_watermark_and_state(spark, stream_dirs):
    """stream_health must surface batch counts, the advancing event-time
    watermark, and nonzero windowed-aggregation state after a drain."""
    from demo_apache_beam_spark.streaming.leaderboard import (
        calculate_team_scores,
        read_game_event_lines,
    )
    from demo_apache_beam_spark.streaming.metrics import stream_health

    in_dir, chk = stream_dirs
    _write_lines(in_dir, "a.txt", [
        _line("u1", "alpha", 5, BASE_MS),
        _line("u2", "beta", 7, BASE_MS + 3_600_000),
    ])
    events = read_game_event_lines(spark, in_dir)
    team = calculate_team_scores(events)
    q = (
        team.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # one more empty drain so the watermark from batch 1 is committed
        q.processAllAvailable()
        h = stream_health(q)
        assert h is not None
        assert h.state_rows >= 2  # two live (window, team) aggregates
        assert h.state_bytes > 0
        assert h.watermark_ms is not None
        # watermark = max event time - 120 min lateness
        assert h.watermark_ms == BASE_MS + 3_600_000 - 120 * 60_000
        assert h.watermark_lag_ms(BASE_MS + 7_200_000) == 120 * 60_000 + 3_600_000
        assert h.batch_id is not None
    finally:
        q.stop()


def test_streaming_knn_equals_batch(spark, tmp_path):
    """A query-embedding stream answered from the persisted IVF index
    must produce exactly the batch ivf_topk answers, across multiple
    micro-batches."""
    from demo_apache_beam_spark.operators.similarity import (
        ivf_build,
        ivf_save,
        ivf_topk,
    )
    from demo_apache_beam_spark.sources.tables import load_table
    from demo_apache_beam_spark.streaming.vector_search import start_streaming_knn

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = ivf_build(emb, nlist=8, corpus_size_hint=500)
    ivf_save(index, str(tmp_path / "ivf"))

    queries = (
        emb.limit(30)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qdir = tmp_path / "q"
    qdir.mkdir()
    # two files -> the file source picks both up (maxFilesPerTrigger keeps
    # them in separate micro-batches)
    for i, half in enumerate((queries[:15], queries[15:])):
        spark.createDataFrame(
            half, "query_id long, embedding array<float>"
        ).coalesce(1).write.parquet(str(qdir / f"part{i}"))

    q = start_streaming_knn(
        spark,
        query_dir=str(qdir / "part*"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "chk"),
        corpus=emb,
        index_path=str(tmp_path / "ivf"),
        k=5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 10), r["rank"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<float>")
    # serving semantics: NO self-exclusion — stream query ids share no
    # namespace with corpus ids, so an id collision must not drop a hit
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 10), r["rank"])
        for r in ivf_topk(emb, qdf, k=5, index=index, exclude_self=False).collect()
    )
    assert got == want
    # these queries ARE corpus vectors, so each must retrieve itself at
    # rank 1 — the serving path would silently lose that hit if it
    # inherited the kNN-graph self-filter
    rank1 = {r[0]: r[1] for r in got if r[3] == 1}
    assert all(qid == nid for qid, nid in rank1.items())


def test_streaming_budget_fill_equals_batch_and_replays(spark, tmp_path):
    """Streamed per-source budget enforcement must equal the batch
    sequential-fill over the concatenated epochs (epochs arrive in
    order_col order), and a redelivered epoch is a bit-identical no-op."""
    import random

    from demo_apache_beam_spark.streaming.budget import (
        make_budget_ingest,
        start_budget_stream,
    )

    rng = random.Random(99)
    rows = [
        (("srcA", "srcB", "srcC")[i % 3], i, rng.randint(1, 30))
        for i in range(300)
    ]
    budget = 350  # srcA/B/C fill mid-stream at different epochs
    epochs = [rows[:100], rows[100:200], rows[200:]]

    out_dir = str(tmp_path / "out")
    store = str(tmp_path / "store")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_budget_stream(
        spark, in_dir, out_dir, store, str(tmp_path / "chk"),
        "src", "k", "w", budget,
        schema="src string, k long, w long",
    )
    try:
        for b, chunk in enumerate(epochs):
            spark.createDataFrame(chunk, "src string, k long, w long").coalesce(
                1
            ).write.parquet(f"{tmp_path}/stage_{b}")
            part = next(
                f for f in os.listdir(f"{tmp_path}/stage_{b}")
                if f.endswith(".parquet")
            )
            os.rename(f"{tmp_path}/stage_{b}/{part}", f"{in_dir}/b{b}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    # sequential batch reference over the full concatenation
    acc: dict = {}
    want = {}
    for src, k, w in sorted(rows, key=lambda r: r[1]):
        prior = acc.get(src, 0)
        if prior < budget:
            want[k] = (src, w, prior)
        acc[src] = prior + w
    assert any(acc[s] > budget for s in acc)  # the cap actually bit

    got = {
        r["k"]: (r["src"], r["w"], r["prior"])
        for r in spark.read.parquet(out_dir).drop("_batch_id").collect()
    }
    assert got == want

    # redelivery: same epoch, same rows -> partition overwrite, no-op
    out2 = str(tmp_path / "out2")
    store2 = str(tmp_path / "store2")
    ingest = make_budget_ingest(
        spark, out2, store2, "src", "k", "w", budget
    )
    dfs = [
        spark.createDataFrame(chunk, "src string, k long, w long").coalesce(1)
        for chunk in epochs
    ]
    for b, df in enumerate(dfs):
        ingest(df, b)
    before = sorted(
        tuple(r) for r in spark.read.parquet(out2).collect()
    )
    ingest(dfs[1], 1)  # redeliver epoch 1
    after = sorted(
        tuple(r) for r in spark.read.parquet(out2).collect()
    )
    assert after == before
    assert {
        r["k"]: (r["src"], r["w"], r["prior"])
        for r in spark.read.parquet(out2).drop("_batch_id").collect()
    } == want


def test_curation_capstone_stream_equals_batch_and_replays(spark, tmp_path):
    """The composed production ingest (VERDICT r7 item 4): ONE stream
    feeding exact dedup -> near-dedup -> budget gate -> drift/CMS/length
    monitors in a single session. The streamed run must leave every member store
    bit-identical to the sequential batch composition of the same
    epochs, and a redelivered epoch must be a no-op across ALL stores
    at once — the cross-operator session-interference axis (shared
    checkpoint ledger, shared file-status caches) that per-store tests
    cannot exercise."""
    import os

    from demo_apache_beam_spark.operators.selection import (
        corpus_histogram,
        dsir_histograms,
        dsir_save_model,
        save_histogram,
    )
    from demo_apache_beam_spark.streaming.curation import (
        make_curation_ingest,
        start_curation_stream,
    )

    import random

    vocab = [f"tok{i:04d}" for i in range(2000)]

    def text_for(n):
        # per-doc independent token draw: distinct docs share almost no
        # 3-shingles (a deterministic arithmetic progression would make
        # every doc a window of one cycle — the whole corpus one
        # near-dup cluster)
        return " ".join(random.Random(n).sample(vocab, 12))

    # reference corpus pins the drift monitor's baseline
    ref_hist = str(tmp_path / "ref_hist")
    ref = spark.createDataFrame(
        [(i, text_for(i)) for i in range(40)], "doc_id long, text string"
    )
    save_histogram(corpus_histogram(ref), ref_hist)
    # the DSIR scoring stage serves a PINNED persisted model version —
    # target = the first 20 reference docs, pool = the rest
    dsir_model = str(tmp_path / "dsir_model")
    from pyspark.sql import functions as SF

    dsir_save_model(
        dsir_histograms(ref, is_target=SF.col("doc_id") < 20), dsir_model
    )

    # three epochs with planted duplicates: within-epoch exact dup
    # (doc 10 repeats doc 9's text) and cross-epoch near-dups (epoch>0
    # docs 0-4 reuse epoch 0's text + a short suffix)
    sources = ("a", "b", "c")
    epochs = []
    for e in range(3):
        rows = []
        for i in range(45):
            n = e * 45 + i
            if i == 10:
                t = text_for(e * 45 + 9)
            elif e > 0 and i < 5:
                t = text_for(i) + " extra suffix"
            else:
                t = text_for(n)
            rows.append((e * 100 + i, t, sources[i % 3]))
        epochs.append(rows)
    schema = "doc_id long, text string, source string"
    budget = 2500  # per-source cumulative char budget — bites mid-stream

    # ---- stream drive: one file per epoch, drained as one micro-batch
    root_s = str(tmp_path / "root_stream")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_curation_stream(
        spark, in_dir, root_s, ref_hist, str(tmp_path / "chk"), budget,
        dsir_model_path=dsir_model,
    )
    try:
        for b, chunk in enumerate(epochs):
            stage = str(tmp_path / f"stage_{b}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(f"{stage}/{part}", f"{in_dir}/b{b}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    # ---- sequential batch composition of the same epochs
    root_b = str(tmp_path / "root_batch")
    ingest_b = make_curation_ingest(
        spark, root_b, ref_hist, budget, dsir_model_path=dsir_model
    )
    for b, chunk in enumerate(epochs):
        ingest_b(spark.createDataFrame(chunk, schema), b)

    stores = (
        "exact_survivors", "digest_store",
        "survivors", "band_store", "admitted", "budget_store",
        "drift", "cms_store", "len_hist_store", "kmv_store", "dsir_scores",
    )

    def snap(root):
        out = {}
        for s in stores:
            spark.catalog.refreshByPath(f"{root}/{s}")
            out[s] = sorted(
                map(tuple, spark.read.parquet(f"{root}/{s}").collect())
            )
        return out

    snap_s, snap_b = snap(root_s), snap(root_b)
    assert snap_s == snap_b

    # non-degeneracy: the dedup dropped the planted dups (within-epoch
    # exact + cross-epoch near), the budget actually bit, and every
    # epoch produced a drift row and monitor partials
    surv_ids = {r[0] for r in snap_s["survivors"]}
    assert 10 not in {i % 100 for i in surv_ids} or all(
        (e * 100 + 10) not in surv_ids for e in range(3)
    )
    # the byte-identical within-epoch dup dies at the EXACT stage (the
    # cheap first gate), before the near-dup stage ever shingles it
    exact_ids = {r[0] for r in snap_s["exact_survivors"]}
    assert all((e * 100 + 10) not in exact_ids for e in range(3))
    assert surv_ids <= exact_ids
    for e in (1, 2):
        assert all(e * 100 + i not in surv_ids for i in range(5)), e
    n_admitted = len(snap_s["admitted"])
    assert 0 < n_admitted < len(surv_ids)  # gate passed some, stopped some
    assert len(snap_s["drift"]) == 3  # one JSD row per epoch
    assert snap_s["cms_store"] and snap_s["len_hist_store"]
    # KMV sketched every admitted source; DSIR scored every admitted doc
    assert {r[0] for r in snap_s["kmv_store"]} <= set(sources)
    assert len({r[0] for r in snap_s["kmv_store"]}) >= 2
    assert {r[0] for r in snap_s["dsir_scores"]} == {
        r[0] for r in snap_s["admitted"]
    }

    # ---- replay: redeliver epoch 1 against the STREAM's stores via the
    # exposed callable — every store must be byte-identical after
    ingest_s = make_curation_ingest(
        spark, root_s, ref_hist, budget, dsir_model_path=dsir_model
    )
    ingest_s(spark.createDataFrame(epochs[1], schema), 1)
    assert snap(root_s) == snap_s


def _png_rows(seed_ids):
    """(media_id, REAL PNG payload) rows; ids >= 1000 are planted
    perceptual variants (brightness +5) of base id % 1000."""
    import numpy as np

    from demo_apache_beam_spark.operators import codecs

    def raster(seed):
        rng = np.random.RandomState(3000 + seed)
        return rng.randint(0, 200, size=(40, 32)).astype(np.uint8)

    rows = []
    for i in seed_ids:
        img = raster(i % 1000)
        if i >= 1000:
            img = img + np.uint8(5)
        rows.append((i, bytearray(codecs.png_encode(img))))
    return rows


def test_streaming_image_near_dedup_equals_batch_increments(spark, tmp_path):
    """The streaming perceptual image dedup must accept exactly the ids
    the batch incremental operator accepts over the same increments
    (micro-batch == increment), including a perceptual dup STRADDLING
    batches; the store must be batch-id partitioned (replay layout)."""
    import os

    from demo_apache_beam_spark.operators.dedup import (
        incremental_hamming_dedup,
    )
    from demo_apache_beam_spark.operators.media import image_dhash
    from demo_apache_beam_spark.streaming.dedup import (
        start_image_near_dedup_stream,
    )
    from pyspark.sql import functions as F

    incs = [
        [1, 2, 1001],        # 1001 is a brightness dup of 1 (in-batch)
        [1002, 3],           # 1002 straddles: dup of batch-0's winner 1
        [2003, 4],           # 2003 dup of batch-1's winner 3
    ]

    # batch reference over a separate store (same core, same semantics)
    batch_store = str(tmp_path / "batch_store")
    expect: list[int] = []
    for inc in incs:
        df = spark.createDataFrame(
            _png_rows(inc), "media_id long, payload binary"
        )
        sigs = image_dhash(df.withColumn("kind", F.lit("image")))
        expect += [
            int(r["media_id"])
            for r in incremental_hamming_dedup(sigs, batch_store).collect()
        ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_image_near_dedup_stream(
        spark,
        in_dir,
        str(tmp_path / "out"),
        str(tmp_path / "store"),
        str(tmp_path / "chk"),
    )
    try:
        for i, inc in enumerate(incs):
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(
                _png_rows(inc), "media_id long, payload binary"
            ).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            os.rename(f"{stage}/{part}", f"{in_dir}/inc_{i}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = [
        int(r["media_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    assert sorted(got) == sorted(expect) == [1, 2, 3, 4]
    store_parts = {
        d
        for d in os.listdir(str(tmp_path / "store"))
        if d.startswith("_batch_id=")
    }
    assert store_parts


def test_image_near_dedup_replay_epoch_is_idempotent(spark, tmp_path):
    """Replaying an epoch against the epoch-partitioned probe store must
    leave store AND sink exactly as after the first delivery (the
    at-least-once foreachBatch contract; a flat-append store would
    self-collide with the replayed batch's own probe rows)."""
    from demo_apache_beam_spark.streaming.dedup import (
        make_image_near_dedup_ingest,
    )

    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_image_near_dedup_ingest(spark, out_dir, store)

    b0 = spark.createDataFrame(
        _png_rows([1, 2]), "media_id long, payload binary"
    )
    # epoch 1: a perceptual dup of an epoch-0 winner plus a fresh image
    b1 = spark.createDataFrame(
        _png_rows([1001, 3]), "media_id long, payload binary"
    )

    def snapshot():
        sink = sorted(
            (int(r["media_id"]), int(r["_batch_id"]))
            for r in spark.read.parquet(out_dir).collect()
        )
        st = sorted(
            (int(r["dhash"]), int(r["band_idx"]), int(r["band_val"]),
             int(r["_batch_id"]))
            for r in spark.read.parquet(store).collect()
        )
        return sink, st

    ingest(b0, 0)
    ingest(b1, 1)
    first = snapshot()
    assert [m for m, _ in first[0]] == [1, 2, 3]  # 1001 dropped vs history

    # replay epoch 1 (crash-recovery delivery) — must be a no-op
    ingest(b1, 1)
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    assert snapshot() == first


def test_kmeans_retrain_trigger_flips_on_planted_shift(spark, tmp_path):
    """The assignment stream's retrain monitor (VERDICT r9 item 7): an
    epoch drawn from the training distribution must score calm
    (retrain_recommended false); a planted distribution shift — vectors
    from a region no pinned centroid covers, skewing both the cluster
    mix and the mean assign distance — must flip the signal; a replayed
    epoch must rewrite its monitor row to identical bytes."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import (
        incremental_kmeans_assign,
    )
    from demo_apache_beam_spark.streaming.kmeans import (
        make_kmeans_drift_ingest,
    )

    def blob(center, n, seed, base_id):
        r = np.random.RandomState(seed)
        return [
            (base_id + i, [float(x) for x in center + 0.5 * r.randn(2)])
            for i in range(n)
        ]

    # train on two well-separated blobs and persist the store
    train = blob(np.array([0.0, 0.0]), 40, 1, 0) + blob(
        np.array([20.0, 0.0]), 40, 2, 1000
    )
    store = str(tmp_path / "kstore")
    incremental_kmeans_assign(
        spark.createDataFrame(train, "vec_id long, embedding array<double>"),
        store,
        k=2,
        iters=2,
    )

    out = str(tmp_path / "monitor")
    ingest = make_kmeans_drift_ingest(spark, store, out)

    # epoch 0: same distribution -> calm
    calm = blob(np.array([0.0, 0.0]), 20, 3, 5000) + blob(
        np.array([20.0, 0.0]), 20, 4, 6000
    )
    ingest(
        spark.createDataFrame(calm, "vec_id long, embedding array<double>"), 0
    )
    # epoch 1: planted shift — a new region far from both centroids,
    # all landing in one cluster (mix skew) at huge distances (fit skew)
    shifted = blob(np.array([0.0, 80.0]), 40, 5, 7000)
    ingest(
        spark.createDataFrame(shifted, "vec_id long, embedding array<double>"),
        1,
    )

    rows = {
        int(r["_batch_id"]): r
        for r in spark.read.parquet(out).collect()
    }
    assert rows[0]["retrain_recommended"] is False
    assert rows[1]["retrain_recommended"] is True
    assert rows[1]["jsd"] > rows[0]["jsd"]
    assert rows[1]["mean_dist_ratio"] > rows[0]["mean_dist_ratio"]

    # replay epoch 1: the monitor row rewrites to identical bytes
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    ingest(
        spark.createDataFrame(shifted, "vec_id long, embedding array<double>"),
        1,
    )
    spark.catalog.refreshByPath(out)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_kmeans_retrain_acts_on_signal_and_repins_stream(spark, tmp_path):
    """ACTING on the retrain trigger (VERDICT r10 item 7): a planted
    shift flips the monitor, retrain_kmeans_store rebuilds the store
    with NEW centroids (one covering the new region) and bumps the
    epoch marker; the RUNNING assignment stream keeps its pinned old
    version (its already-written partitions stay byte-identical and a
    late batch still scores against the old literals), while a
    restarted stream re-pins against the new centroids and assigns the
    shifted points at small distance."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import (
        incremental_kmeans_assign,
        kmeans_store_epoch,
        read_kmeans_store,
        retrain_kmeans_store,
    )
    from demo_apache_beam_spark.streaming.kmeans import (
        make_kmeans_assign_ingest,
        make_kmeans_drift_ingest,
    )

    def blob(center, n, seed, base_id, step=1):
        r = np.random.RandomState(seed)
        return [
            (base_id + step * i, [float(x) for x in center + 0.5 * r.randn(2)])
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<double>"
    train = blob(np.array([0.0, 0.0]), 40, 1, 0) + blob(
        np.array([20.0, 0.0]), 40, 2, 1000
    )
    store = str(tmp_path / "kstore")
    incremental_kmeans_assign(
        spark.createDataFrame(train, schema), store, k=2, iters=2
    )
    assert kmeans_store_epoch(spark, store) == 0
    _, old_cents = read_kmeans_store(spark, store)

    # serving stream v1 pins the bootstrap centroids; epoch 0 is calm
    assign_out = str(tmp_path / "assign_out")
    ingest_v1 = make_kmeans_assign_ingest(
        spark, f"{store}/centroids", assign_out
    )
    calm = blob(np.array([0.0, 0.0]), 20, 3, 5000) + blob(
        np.array([20.0, 0.0]), 20, 4, 6000
    )
    ingest_v1(spark.createDataFrame(calm, schema), 0)
    epoch0_rows = sorted(map(tuple, spark.read.parquet(assign_out).collect()))

    # the monitor flips on the planted shift
    monitor_out = str(tmp_path / "monitor")
    monitor = make_kmeans_drift_ingest(spark, store, monitor_out)
    shifted = blob(np.array([0.0, 80.0]), 40, 5, 7000)
    monitor(spark.createDataFrame(shifted, schema), 1)
    mrow = spark.read.parquet(monitor_out).collect()[0]
    assert mrow["retrain_recommended"] is True

    # ACT: retrain on the current corpus (ids interleaved so the
    # deterministic smallest-id seeding draws one seed per blob)
    corpus = (
        [(3 * i, v) for i, (_, v) in enumerate(train[:40])]
        + [(3 * i + 1, v) for i, (_, v) in enumerate(train[40:])]
        + [(3 * i + 2, v) for i, (_, v) in enumerate(shifted)]
    )
    res = retrain_kmeans_store(
        spark, store, spark.createDataFrame(corpus, schema), k=3, iters=2
    )
    assert res["epoch"] == 1
    assert kmeans_store_epoch(spark, store) == 1
    new_cents = res["centroids"]
    assert new_cents != old_cents
    # one new centroid covers the shifted region
    assert any(
        (c[0] - 0.0) ** 2 + (c[1] - 80.0) ** 2 < 25.0 for c in new_cents
    )
    _, stored_cents = read_kmeans_store(spark, store)
    assert stored_cents == new_cents

    # the RUNNING v1 stream is untouched: epoch-0 partitions identical,
    # and a late batch still scores against the OLD pinned literals
    # (shifted points land far from both old centroids)
    spark.catalog.refreshByPath(assign_out)
    assert (
        sorted(
            map(
                tuple,
                spark.read.parquet(assign_out)
                .filter("_batch_id = 0")
                .collect(),
            )
        )
        == epoch0_rows
    )
    ingest_v1(spark.createDataFrame(shifted, schema), 1)
    spark.catalog.refreshByPath(assign_out)
    v1_dists = [
        r["dist"]
        for r in spark.read.parquet(assign_out).filter("_batch_id = 1").collect()
    ]
    assert min(v1_dists) > 50.0

    # a RESTARTED stream re-pins the new version: the same shifted
    # batch now assigns at small distance
    ingest_v2 = make_kmeans_assign_ingest(
        spark, f"{store}/centroids", assign_out
    )
    ingest_v2(spark.createDataFrame(shifted, schema), 2)
    spark.catalog.refreshByPath(assign_out)
    v2_dists = [
        r["dist"]
        for r in spark.read.parquet(assign_out).filter("_batch_id = 2").collect()
    ]
    assert max(v2_dists) < 5.0


def test_streaming_audio_near_dedup_equals_batch_and_replays(spark, tmp_path):
    """The audio perceptual dedup stream (third modality on the shared
    Hamming ingest): accepted ids must equal the batch incremental
    operator over the same increments — including a gain-scaled dup
    STRADDLING epochs — and a replayed epoch must be a no-op."""
    import os

    import numpy as np

    from demo_apache_beam_spark.operators import codecs
    from demo_apache_beam_spark.operators.dedup import (
        incremental_hamming_dedup,
    )
    from demo_apache_beam_spark.operators.media import audio_fingerprint
    from demo_apache_beam_spark.streaming.dedup import (
        make_audio_near_dedup_ingest,
        start_audio_near_dedup_stream,
    )
    from pyspark.sql import functions as F

    def clip(seed, n=6000):
        r = np.random.RandomState(4000 + seed)
        t = np.arange(n)
        x = np.zeros(n)
        for seg in range(8):
            fq = r.uniform(0.01, 0.45)
            a = r.uniform(0.3, 1.0)
            x += a * np.sin(2 * np.pi * fq * t + r.uniform(0, 6)) * np.exp(
                -((t - seg * n / 8) / (n / 6)) ** 2
            )
        x += 0.05 * r.randn(n)
        return np.round(x * 4000).astype(np.int16)

    def rows(ids):
        out = []
        for i in ids:
            c = clip(i % 1000)
            if i >= 1000:  # planted perceptual variant: gain x2
                c = (c.astype(np.int32) * 2).astype(np.int16)
            out.append((i, bytearray(codecs.wav_encode(c))))
        return out

    incs = [
        [1, 2, 1001],   # 1001 gain-dup of 1 (in-batch)
        [1002, 3],      # straddles: dup of epoch-0 winner 1
    ]

    # batch reference (same core, separate store)
    batch_store = str(tmp_path / "batch_store")
    expect: list[int] = []
    for inc in incs:
        df = spark.createDataFrame(rows(inc), "media_id long, payload binary")
        sigs = audio_fingerprint(df.withColumn("kind", F.lit("audio")))
        expect += [
            int(r["media_id"])
            for r in incremental_hamming_dedup(
                sigs, batch_store, sig_col="afp"
            ).collect()
        ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_audio_near_dedup_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "store"),
        str(tmp_path / "chk"),
    )
    try:
        for i, inc in enumerate(incs):
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(
                rows(inc), "media_id long, payload binary"
            ).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(f"{stage}/{part}", f"{in_dir}/inc_{i}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = [
        int(r["media_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    assert sorted(got) == sorted(expect) == [1, 2, 3]

    # replay epoch 1 via the exposed callable — bit-identical store+sink
    out_dir2, store2 = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_audio_near_dedup_ingest(spark, out_dir2, store2)
    before = (
        sorted(map(tuple, spark.read.parquet(out_dir2).collect())),
        sorted(map(tuple, spark.read.parquet(store2).collect())),
    )
    ingest(
        spark.createDataFrame(rows(incs[1]), "media_id long, payload binary"),
        1,
    )
    spark.catalog.refreshByPath(out_dir2)
    spark.catalog.refreshByPath(store2)
    after = (
        sorted(map(tuple, spark.read.parquet(out_dir2).collect())),
        sorted(map(tuple, spark.read.parquet(store2).collect())),
    )
    assert after == before


def test_streaming_video_near_dedup_equals_batch_and_replays(spark, tmp_path):
    """The video perceptual dedup stream (fourth modality on the shared
    Hamming ingest): accepted ids must equal the batch incremental
    operator over the same increments — including a brightness dup
    STRADDLING epochs — and a replayed epoch must be a no-op."""
    import os

    import numpy as np

    from demo_apache_beam_spark.operators import codecs
    from demo_apache_beam_spark.operators.dedup import (
        incremental_hamming_dedup,
    )
    from demo_apache_beam_spark.operators.media import video_dhash
    from demo_apache_beam_spark.streaming.dedup import (
        make_video_near_dedup_ingest,
        start_video_near_dedup_stream,
    )
    from pyspark.sql import functions as F

    def scene(seed, n=16, fh=12, fw=16):
        r = np.random.RandomState(6000 + seed)
        base = r.randint(20, 160, size=(fh, fw)).astype(np.float64)
        drift = r.randn(fh, fw) * 1.5
        return np.stack(
            [np.clip(base + t * drift, 10, 240) for t in range(n)]
        ).astype(np.uint8)

    def rows(ids):
        out = []
        for i in ids:
            fr = scene(i % 1000)
            if i >= 1000:  # planted perceptual variant: brightness +8
                fr = fr + np.uint8(8)
            out.append((i, bytearray(codecs.gif_encode(fr))))
        return out

    incs = [
        [1, 2, 1001],   # 1001 brightness-dup of 1 (in-batch)
        [1002, 3],      # straddles: dup of epoch-0 winner 1
    ]

    batch_store = str(tmp_path / "batch_store")
    expect: list[int] = []
    for inc in incs:
        df = spark.createDataFrame(rows(inc), "media_id long, payload binary")
        sigs = video_dhash(df.withColumn("kind", F.lit("video")))
        expect += [
            int(r["media_id"])
            for r in incremental_hamming_dedup(
                sigs, batch_store, sig_col="vdhash"
            ).collect()
        ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    q = start_video_near_dedup_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "store"),
        str(tmp_path / "chk"),
    )
    try:
        for i, inc in enumerate(incs):
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(
                rows(inc), "media_id long, payload binary"
            ).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(f"{stage}/{part}", f"{in_dir}/inc_{i}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = [
        int(r["media_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    ]
    assert sorted(got) == sorted(expect) == [1, 2, 3]

    # replay epoch 1 — bit-identical store+sink
    out_dir2, store2 = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_video_near_dedup_ingest(spark, out_dir2, store2)
    before = (
        sorted(map(tuple, spark.read.parquet(out_dir2).collect())),
        sorted(map(tuple, spark.read.parquet(store2).collect())),
    )
    ingest(
        spark.createDataFrame(rows(incs[1]), "media_id long, payload binary"),
        1,
    )
    spark.catalog.refreshByPath(out_dir2)
    spark.catalog.refreshByPath(store2)
    after = (
        sorted(map(tuple, spark.read.parquet(out_dir2).collect())),
        sorted(map(tuple, spark.read.parquet(store2).collect())),
    )
    assert after == before


def test_erasure_tombstones_survive_epoch_replay_hamming(spark, tmp_path):
    """Review r10: a replayed epoch re-derives its rows from the
    redelivered source batch, so erasing from a streaming store without
    a tombstone would be silently resurrected by crash recovery. With
    the (auto-enabled) tombstone: after erasing an accepted image and
    replaying its epoch, neither the store nor the sink regains it,
    other docs in the epoch survive the rewrite, and a fresh submission
    of the same content stays blocked (an at-least-once stream cannot
    distinguish redelivery from resubmission)."""
    from demo_apache_beam_spark.operators.dedup import (
        erase_from_hamming_store,
        tombstone_store_path,
    )
    from demo_apache_beam_spark.operators.media import image_dhash
    from demo_apache_beam_spark.streaming.dedup import (
        make_image_near_dedup_ingest,
    )
    from pyspark.sql import functions as F

    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_image_near_dedup_ingest(spark, out_dir, store)
    b0 = spark.createDataFrame(
        _png_rows([1, 2]), "media_id long, payload binary"
    )
    ingest(b0, 0)
    assert sorted(
        int(r["media_id"]) for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2]

    # DSR: erase doc 1 — sink rows by id, store rows by signature
    sig1 = image_dhash(
        spark.createDataFrame(_png_rows([1]), "media_id long, payload binary")
        .withColumn("kind", F.lit("image"))
    )
    res = erase_from_hamming_store(spark, store, sig1)  # auto-tombstones
    assert res["rows_erased"] > 0
    import os

    assert os.path.isdir(tombstone_store_path(store))
    from demo_apache_beam_spark.operators.layout import erase_rows

    erase_rows(
        spark, out_dir,
        spark.createDataFrame([(1,)], "media_id long"), key_col="media_id",
    )

    # crash recovery: epoch 0 is redelivered in full
    ingest(b0, 0)
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    sink_ids = sorted(
        int(r["media_id"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert sink_ids == [2]  # doc 1 NOT resurrected; doc 2 survives
    sig1_val = int(sig1.collect()[0]["dhash"])
    store_sigs = {int(r["dhash"]) for r in spark.read.parquet(store).collect()}
    assert sig1_val not in store_sigs

    # a fresh submission of the SAME content (new id) stays blocked
    ingest(
        spark.createDataFrame(
            [(99, _png_rows([1])[0][1])], "media_id long, payload binary"
        ),
        1,
    )
    spark.catalog.refreshByPath(out_dir)
    assert 99 not in {
        int(r["media_id"]) for r in spark.read.parquet(out_dir).collect()
    }


def test_erasure_tombstones_survive_epoch_replay_minhash(spark, tmp_path):
    """The MinHash sibling of the Hamming tombstone contract, plus the
    precision property: only EXACT erased content (every band
    tombstoned) is blocked — a fresh NEAR-dup shares some bands, passes
    to the normal decision, and with the history rows erased is now
    admissible."""
    from demo_apache_beam_spark.operators.dedup import (
        erase_from_minhash_store,
    )
    from demo_apache_beam_spark.streaming.dedup import make_near_dedup_ingest

    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_near_dedup_ingest(spark, out_dir, store)
    t1 = ("the quick brown fox jumps over the lazy dog while rain falls "
          "on the quiet town and children play near the old stone bridge")
    t2 = ("data pipelines shuffle terabytes of text across executors "
          "while schedulers balance partitions and optimizers prune scans")
    b0 = spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string")
    ingest(b0, 0)

    res = erase_from_minhash_store(
        spark, store,
        spark.createDataFrame([(1, t1)], "doc_id long, text string"),
    )  # epoch-partitioned -> tombstone auto-on
    assert res["rows_erased"] > 0
    from demo_apache_beam_spark.operators.layout import erase_rows

    erase_rows(
        spark, out_dir,
        spark.createDataFrame([(1,)], "doc_id long"), key_col="doc_id",
    )

    # replay epoch 0: doc 1 must not come back; doc 2 must survive
    ingest(b0, 0)
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    assert sorted(
        int(r["doc_id"]) for r in spark.read.parquet(out_dir).collect()
    ) == [2]

    # fresh EXACT content blocked; fresh NEAR-dup admissible (history
    # erased, only some bands shared with the tombstones)
    near = t1.rsplit(" ", 1)[0] + " tonight"
    ingest(
        spark.createDataFrame(
            [(50, t1), (51, near)], "doc_id long, text string"
        ),
        1,
    )
    spark.catalog.refreshByPath(out_dir)
    got = sorted(
        int(r["doc_id"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert 50 not in got  # exact erased content stays out
    assert 51 in got  # near variant is fresh content post-erasure


def test_streaming_exact_dedup_equals_batch_replays_and_tombstones(
    spark, tmp_path
):
    """The exact-digest dedup stream (third streaming accepted-history
    store): accepted ids must equal the batch incremental operator over
    the same increments, a replayed epoch must be a no-op, and an
    erased digest must survive epoch replay via the tombstone filter."""
    import os

    from demo_apache_beam_spark.operators.dedup import (
        erase_from_exact_store,
        incremental_exact_dedup,
    )
    from demo_apache_beam_spark.operators.layout import erase_rows
    from demo_apache_beam_spark.streaming.dedup import (
        make_exact_dedup_ingest,
        start_exact_dedup_stream,
    )

    t = [f"document number {i} with unique content {i * 37}" for i in range(6)]
    incs = [
        [(1, t[0]), (2, t[1]), (3, t[0])],  # 3 is an exact in-batch dup
        [(4, t[0]), (5, t[2])],             # 4 replays epoch-0 content
    ]

    # batch reference
    batch_store = str(tmp_path / "batch_store")
    expect: list[int] = []
    for inc in incs:
        df = spark.createDataFrame(inc, "doc_id long, text string")
        expect += [
            int(r["doc_id"])
            for r in incremental_exact_dedup(df, batch_store).collect()
        ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    q = start_exact_dedup_stream(
        spark, in_dir, out_dir, store, str(tmp_path / "chk")
    )
    try:
        for i, inc in enumerate(incs):
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(
                inc, "doc_id long, text string"
            ).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(f"{stage}/{part}", f"{in_dir}/inc_{i}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        int(r["doc_id"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == sorted(expect) == [1, 2, 5]
    store_parts = {
        d for d in os.listdir(store) if d.startswith("_batch_id=")
    }
    assert store_parts

    # replay epoch 1 via the exposed callable — bit-identical
    ingest = make_exact_dedup_ingest(spark, out_dir, store)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))  # noqa: E731
    before = (snap(out_dir), snap(store))
    ingest(
        spark.createDataFrame(incs[1], "doc_id long, text string"), 1
    )
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    assert (snap(out_dir), snap(store)) == before

    # erase doc 1's digest (streaming store -> tombstone auto-on), erase
    # its sink row, replay epoch 0: not resurrected, doc 2 survives
    res = erase_from_exact_store(
        spark, store, spark.createDataFrame([(t[0],)], "text string")
    )
    assert res["rows_erased"] == 1
    erase_rows(
        spark, out_dir,
        spark.createDataFrame([(1,)], "doc_id long"), key_col="doc_id",
    )
    ingest(
        spark.createDataFrame(incs[0], "doc_id long, text string"), 0
    )
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    assert sorted(
        int(r["doc_id"]) for r in spark.read.parquet(out_dir).collect()
    ) == [2, 5]


def test_streaming_record_linkage_equals_batch_and_replay(spark, tmp_path):
    """Streaming entity resolution (fourth streaming accepted-history
    store): assignments must equal the batch incremental operator over
    the same increments AND a hand-computed sequential reference —
    including a cluster that attaches to history TRANSITIVELY through a
    batch-internal match — and a replayed epoch must be a no-op."""
    import os

    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.linkage import (
        FieldComparator,
        incremental_record_linkage,
    )
    from demo_apache_beam_spark.streaming.linkage import (
        make_linkage_ingest,
        start_linkage_stream,
    )

    comps = [
        FieldComparator(
            "name", lambda a, b: a("name_norm") == b("name_norm"), 3.0, -1.0
        ),
        FieldComparator(
            "val", lambda a, b: F.abs(a("val") - b("val")) <= F.lit(0.1),
            2.0, -0.5,
        ),
    ]
    schema = "rid long, blk string, name_norm string, val double"
    incs = [
        # epoch 0: in-batch cluster {1,2}; singletons 3, 10
        [(1, "b1", "alice", 10.0), (2, "b1", "alice", 10.05),
         (3, "b1", "bob", 10.0), (10, "b2", "dan", 50.0)],
        # epoch 1: 4 attaches to entity 1; 5 to entity 10; 6 mints
        [(4, "b1", "alice", 10.08), (5, "b2", "dan", 50.05),
         (6, "b3", "eve", 1.0)],
        # epoch 2: 7 matches history entity 6; 8 matches 7 in-batch but
        # NOT 6 directly (|1.12-1.0|>0.1) -> transitively entity 6;
        # 9 attaches to entity 3
        [(7, "b3", "eve", 1.05), (8, "b3", "eve", 1.12),
         (9, "b1", "bob", 10.01)],
    ]
    expect = {
        1: 1, 2: 1, 3: 3, 10: 10,
        4: 1, 5: 10, 6: 6,
        7: 6, 8: 6, 9: 3,
    }

    kw = dict(
        id_col="rid", block_cols=["blk"], comparators=comps, threshold=4.0
    )

    # batch incremental reference
    batch_store = str(tmp_path / "batch_store")
    batch_got = {}
    for inc in incs:
        df = spark.createDataFrame(inc, schema)
        for r in incremental_record_linkage(df, batch_store, **kw).collect():
            batch_got[r["rid"]] = r["entity_id"]
    assert batch_got == expect

    # stream over the same increments
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    q = start_linkage_stream(
        spark, in_dir, out_dir, store, str(tmp_path / "chk"),
        schema=schema, **kw,
    )
    try:
        for i, inc in enumerate(incs):
            stage = str(tmp_path / f"stage_{i}")
            spark.createDataFrame(inc, schema).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(f"{stage}/{part}", f"{in_dir}/inc_{i}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["rid"]: r["entity_id"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expect
    # the registry carries full records + entity ids, epoch-partitioned
    reg = spark.read.parquet(store)
    assert sorted(reg.columns) == sorted(
        ["rid", "blk", "name_norm", "val", "entity_id", "_batch_id"]
    )
    assert reg.count() == len(expect)

    # replayed epoch is bit-identical (no-op)
    ingest = make_linkage_ingest(spark, out_dir, store, **kw)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))  # noqa: E731
    before = (snap(out_dir), snap(store))
    ingest(spark.createDataFrame(incs[1], schema), 1)
    spark.catalog.refreshByPath(out_dir)
    spark.catalog.refreshByPath(store)
    assert (snap(out_dir), snap(store)) == before


def test_linkage_registry_erasure_survives_replay(spark, tmp_path):
    """Right-to-erasure on the entity registry: the erased record's
    attributes stop influencing matching (a fresh record that would
    only have matched IT mints a new entity), other members of its
    entity keep their ids, and an epoch replay cannot resurrect the
    erased row in store or sink (tombstone filter)."""
    import os

    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.layout import erase_rows
    from demo_apache_beam_spark.operators.linkage import (
        FieldComparator,
        erase_from_linkage_store,
    )
    from demo_apache_beam_spark.streaming.linkage import make_linkage_ingest

    comps = [
        FieldComparator(
            "name", lambda a, b: a("name_norm") == b("name_norm"), 3.0, -1.0
        ),
        FieldComparator(
            "val", lambda a, b: F.abs(a("val") - b("val")) <= F.lit(0.1),
            2.0, -0.5,
        ),
    ]
    schema = "rid long, blk string, name_norm string, val double"
    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_linkage_ingest(
        spark, out_dir, store,
        id_col="rid", block_cols=["blk"], comparators=comps, threshold=4.0,
    )
    # epoch 0: 6 mints entity 6; epoch 1: 7 and 8 attach to entity 6
    # (8 only matches 6 through 7? no: |1.05-1.0| and |1.05-1.12| both
    # within 0.1 of 7; 8 vs 6 is 0.12 — via 7 transitively in epoch 1)
    ingest(spark.createDataFrame([(6, "b3", "eve", 1.0)], schema), 0)
    ingest(
        spark.createDataFrame(
            [(7, "b3", "eve", 1.05), (8, "b3", "eve", 1.12)], schema
        ),
        1,
    )
    assigns = lambda: {  # noqa: E731
        r["rid"]: r["entity_id"] for r in spark.read.parquet(out_dir).collect()
    }
    assert assigns() == {6: 6, 7: 6, 8: 6}

    # erase record 6 from registry and sink (streaming store -> tombstone
    # auto-on)
    res = erase_from_linkage_store(
        spark, store, spark.createDataFrame([(6,)], "rid long"), id_col="rid"
    )
    assert res["rows_erased"] == 1
    erase_rows(
        spark, out_dir, spark.createDataFrame([(6,)], "rid long"),
        key_col="rid",
    )
    spark.catalog.refreshByPath(store)
    spark.catalog.refreshByPath(out_dir)
    # other entity members keep their (opaque) entity id
    assert assigns() == {7: 6, 8: 6}
    reg_ids = {r["rid"] for r in spark.read.parquet(store).collect()}
    assert reg_ids == {7, 8}

    # replay epoch 0: the tombstoned record must NOT be resurrected
    ingest(spark.createDataFrame([(6, "b3", "eve", 1.0)], schema), 0)
    spark.catalog.refreshByPath(store)
    spark.catalog.refreshByPath(out_dir)
    assert assigns() == {7: 6, 8: 6}
    assert {r["rid"] for r in spark.read.parquet(store).collect()} == {7, 8}

    # evidence removal: 11 (val 0.92) would only have matched the erased
    # 6 (|0.92-1.0|=0.08; vs 7 it's 0.13, vs 8 it's 0.20) -> mints a new
    # entity instead of attaching to entity 6
    ingest(spark.createDataFrame([(11, "b3", "eve", 0.92)], schema), 2)
    spark.catalog.refreshByPath(out_dir)
    assert assigns() == {7: 6, 8: 6, 11: 11}


def test_linkage_resubmitted_id_is_immutable(spark, tmp_path):
    """First-seen-wins on the RECORD ID: a later epoch resubmitting an
    accepted id with drifted attributes must not mint a conflicting
    second registry row (batch incremental AND streaming ingest)."""
    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.linkage import (
        FieldComparator,
        incremental_record_linkage,
    )
    from demo_apache_beam_spark.streaming.linkage import make_linkage_ingest

    comps = [
        FieldComparator(
            "name", lambda a, b: a("name_norm") == b("name_norm"), 3.0, -1.0
        ),
        FieldComparator(
            "val", lambda a, b: F.abs(a("val") - b("val")) <= F.lit(0.1),
            2.0, -0.5,
        ),
    ]
    schema = "rid long, blk string, name_norm string, val double"
    kw = dict(
        id_col="rid", block_cols=["blk"], comparators=comps, threshold=4.0
    )

    # batch incremental
    store = str(tmp_path / "bstore")
    df0 = spark.createDataFrame([(1, "b1", "alice", 10.0)], schema)
    incremental_record_linkage(df0, store, **kw)
    # same id, attributes drifted far from its own entity
    df1 = spark.createDataFrame([(1, "b1", "zed", 99.0)], schema)
    out = incremental_record_linkage(df1, store, **kw)
    assert out.count() == 0
    reg = spark.read.parquet(store).collect()
    assert len(reg) == 1 and reg[0]["name_norm"] == "alice"

    # streaming ingest
    out_dir, sstore = str(tmp_path / "out"), str(tmp_path / "sstore")
    ingest = make_linkage_ingest(spark, out_dir, sstore, **kw)
    ingest(df0, 0)
    ingest(df1, 1)
    spark.catalog.refreshByPath(sstore)
    sreg = spark.read.parquet(sstore).collect()
    assert len(sreg) == 1 and sreg[0]["name_norm"] == "alice"
    assert {
        (r["rid"], r["entity_id"])
        for r in spark.read.parquet(out_dir).collect()
    } == {(1, 1)}


def test_geofence_stream_equals_batch_and_bruteforce(spark, tmp_path):
    """Streaming geofence enrichment: stream output == the same callable
    on the batch rows == an all-(point, fence) haversine reference —
    including a fence straddling the antimeridian and near-miss points;
    a pole-crossing fence fails loud."""
    import math
    import os

    import pytest

    from demo_apache_beam_spark.streaming.geo import (
        fence_cover_cells,
        geofence_points,
    )

    fences = [
        (1, 10.0, 20.0, 120.0),
        (2, 0.0, 179.95, 80.0),   # straddles the antimeridian
        (3, -45.0, -60.0, 30.0),
    ]
    pts = [
        (1, 10.3, 20.3),     # inside fence 1
        (2, 11.2, 20.0),     # ~133 km: outside fence 1
        (3, 0.1, -179.8),    # inside fence 2 across the seam
        (4, 0.0, 179.4),     # ~61 km: inside fence 2 same side
        (5, -45.1, -60.1),   # inside fence 3
        (6, -46.0, -60.0),   # ~111 km: outside fence 3
        (7, 0.0, 180.0),     # lon==+180 normalization: inside fence 2
    ]
    schema = "point_id long, lat double, lon double"

    def hav(la, lo, lb, lo2):
        dlat = math.radians(lb - la) / 2
        dlon = math.radians(lo2 - lo) / 2
        h = (
            math.sin(dlat) ** 2
            + math.cos(math.radians(la)) * math.cos(math.radians(lb))
            * math.sin(dlon) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(h))

    expect = set()
    for pid, la, lo in pts:
        for fid, fla, flo, rad in fences:
            if hav(la, lo, fla, flo) <= rad:
                expect.add((pid, fid))
    assert expect == {(1, 1), (3, 2), (4, 2), (5, 3), (7, 2)}

    batch = geofence_points(spark.createDataFrame(pts, schema), fences)
    got_b = {(r["point_id"], r["fence_id"]) for r in batch.collect()}
    assert got_b == expect

    # stream: same callable over a file-source readStream
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    stage = str(tmp_path / "stage")
    spark.createDataFrame(pts, schema).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(f"{stage}/{part}", f"{in_dir}/p0.parquet")
    stream = spark.readStream.schema(schema).parquet(in_dir)
    got_s: set = set()
    q = (
        geofence_points(stream, fences)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, _e: got_s.update(
                (r["point_id"], r["fence_id"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert got_s == expect

    with pytest.raises(ValueError, match="pole"):
        fence_cover_cells([(9, 89.9, 0.0, 100.0)], 1.0)


def test_polygon_geofence_stream_equals_batch_and_reference(spark, tmp_path):
    """Polygon geofences (VERDICT r10 item 6): stream output == the same
    callable on the batch rows == an independent pure-Python
    ray-crossing reference over every (point, polygon) — including a
    CONCAVE polygon (point in the notch is outside) and a fence
    straddling ±180° expressed unwrapped; degenerate polygons fail
    loud; the plan is a broadcast equi-join, no cartesian."""
    import os

    import pytest

    from demo_apache_beam_spark.streaming.geo import (
        geofence_points_polygon,
        polygon_cover_cells,
    )

    polys = [
        # concave "L": bottom bar lat 10-11 lon 20-23, vertical arm
        # lat 11-13 lon 22-23 — the notch (lat>11, lon<22) is OUTSIDE
        (1, [(10.0, 20.0), (10.0, 23.0), (13.0, 23.0), (13.0, 22.0),
             (11.0, 22.0), (11.0, 20.0)]),
        # antimeridian quad, unwrapped 179 → 181
        (2, [(-1.0, 179.0), (-1.0, 181.0), (1.0, 181.0), (1.0, 179.0)]),
    ]
    pts = [
        (1, 10.5, 20.5),   # inside L bottom bar
        (2, 12.0, 20.5),   # concave notch → outside
        (3, 12.5, 22.5),   # inside L vertical arm
        (4, 0.0, -179.5),  # inside the seam quad via the +360 frame
        (5, 0.0, 179.5),   # inside the seam quad same side
        (6, 0.0, 178.5),   # outside
        (7, 0.5, 180.0),   # lon==+180 normalization: inside
        (8, 20.0, 20.0),   # far away
    ]
    schema = "point_id long, lat double, lon double"

    def ray(plat, plon, verts):
        inside = False
        for i in range(len(verts)):
            la1, lo1 = verts[i]
            la0, lo0 = verts[i - 1]
            if (la1 > plat) != (la0 > plat):
                xint = lo1 + (lo0 - lo1) * (plat - la1) / (la0 - la1)
                if plon < xint:
                    inside = not inside
        return inside

    expect = set()
    for pid, la, lo in pts:
        lon_n = lo - 360.0 if lo >= 180.0 else lo
        for fid, verts in polys:
            if any(
                ray(la, lon_n - shift, verts) for shift in (0.0, -360.0, 360.0)
            ):
                expect.add((pid, fid))
    assert expect == {(1, 1), (3, 1), (4, 2), (5, 2), (7, 2)}

    batch = geofence_points_polygon(spark.createDataFrame(pts, schema), polys)
    got_b = {(r["point_id"], r["fence_id"]) for r in batch.collect()}
    assert got_b == expect
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    stage = str(tmp_path / "stage")
    spark.createDataFrame(pts, schema).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(f"{stage}/{part}", f"{in_dir}/p0.parquet")
    stream = spark.readStream.schema(schema).parquet(in_dir)
    got_s: set = set()
    q = (
        geofence_points_polygon(stream, polys)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, _e: got_s.update(
                (r["point_id"], r["fence_id"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert got_s == expect

    with pytest.raises(ValueError, match=">= 3 vertices"):
        polygon_cover_cells([(9, [(0.0, 0.0), (1.0, 1.0)])], 1.0)
    with pytest.raises(ValueError, match="valid latitude"):
        polygon_cover_cells(
            [(9, [(90.0, 0.0), (89.0, 1.0), (89.5, 2.0)])], 1.0
        )
    with pytest.raises(ValueError, match="lon jump"):
        polygon_cover_cells(
            [(9, [(0.0, 179.0), (0.0, -179.0), (1.0, 179.0)])], 1.0
        )
    with pytest.raises(ValueError, match="too wide"):
        # continuous lons (every jump < 180°) but a 340° extent vs the
        # 360 − 2·30 = 300° bound at cell_deg=30
        polygon_cover_cells(
            [(9, [(0.0, -170.0), (0.0, -60.0), (0.0, 60.0),
                  (0.0, 170.0), (1.0, 0.0)])],
            30.0,
        )


def test_polygon_geofence_with_holes(spark):
    """Multi-ring fences: a square with a square HOLE — points between
    the outer ring and the hole are inside, points in the hole or
    beyond the outer ring are outside (even-odd over all rings'
    edges); the edge list closes each ring independently, so the
    wraparound edge never spans rings."""
    from demo_apache_beam_spark.streaming.geo import geofence_points_polygon

    outer = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
    hole = [(3.0, 3.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0)]
    polys = [(1, [outer, hole])]
    pts = [
        (1, 1.0, 1.0),    # in the ring (outside the hole)
        (2, 5.0, 5.0),    # in the hole → outside
        (3, 5.0, 1.5),    # between outer and hole edges → inside
        (4, 11.0, 5.0),   # outside outer
        (5, 3.5, 3.5),    # just inside the hole → outside
    ]
    got = {
        r["point_id"]
        for r in geofence_points_polygon(
            spark.createDataFrame(pts, "point_id long, lat double, lon double"),
            polys,
        ).collect()
    }
    assert got == {1, 3}


def test_linkage_weight_store_pins_one_version_per_run(spark, tmp_path):
    """EM weight store + streaming pin (VERDICT r11 item 3): the weight
    store versions like the k-means centroid store (epoch bumps per
    write), and a linkage ingest built with ``weights_store`` reads ONE
    version at factory time — a re-fit overwriting the store mid-run
    cannot change a running stream's decisions; the next factory
    re-pins against the new version."""
    import math
    import os

    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.linkage import (
        FieldComparator,
        read_linkage_weights,
        write_linkage_weights,
    )
    from demo_apache_beam_spark.streaming.linkage import make_linkage_ingest

    def fitlike(p, m, u):
        return {
            "p": p,
            "fields": {
                name: {
                    "m": m,
                    "u": u,
                    "w_agree": math.log2(m / u),
                    "w_disagree": math.log2((1 - m) / (1 - u)),
                }
                for name in ("name", "val")
            },
        }

    wstore = str(tmp_path / "weights")
    # v0: discriminating weights, prior 0.5 -> threshold 0: same-name,
    # same-val pairs match
    assert write_linkage_weights(spark, wstore, fitlike(0.5, 0.9, 0.1)) == 0
    rt = read_linkage_weights(spark, wstore)
    assert rt["epoch"] == 0 and rt["p"] == 0.5
    assert rt["fields"]["name"]["w_agree"] == math.log2(9.0)

    comps = [
        FieldComparator(
            "name", lambda a, b: a("name_norm") == b("name_norm"), 99.0, -99.0
        ),
        FieldComparator(
            "val", lambda a, b: F.abs(a("val") - b("val")) <= F.lit(0.1),
            99.0, -99.0,
        ),  # absurd constants: the store must override them
    ]
    schema = "rid long, blk string, name_norm string, val double"
    out_dir = str(tmp_path / "out")
    store = str(tmp_path / "registry")
    ingest = make_linkage_ingest(
        spark, out_dir, store, id_col="rid", block_cols=["blk"],
        comparators=comps, threshold=123.0, weights_store=wstore,
    )

    def assigned(batch, bid):
        ingest(spark.createDataFrame(batch, schema), bid)
        return {
            r["rid"]: r["entity_id"]
            for r in spark.read.parquet(out_dir)
            .filter(F.col("_batch_id") == bid)
            .collect()
        }

    got0 = assigned([(1, "b", "alice", 1.0), (2, "b", "alice", 1.02)], 0)
    assert got0[1] == got0[2]  # matched under the pinned v0 weights

    # a re-fit lands: near-zero prior -> threshold ~ +10, nothing matches
    assert write_linkage_weights(spark, wstore, fitlike(0.001, 0.11, 0.1)) == 1
    assert read_linkage_weights(spark, wstore)["epoch"] == 1

    # the RUNNING ingest still decides with its pinned v0 version
    got1 = assigned([(3, "c", "bob", 2.0), (4, "c", "bob", 2.03)], 1)
    assert got1[3] == got1[4]

    # a fresh factory re-pins against v1: identical twins now split
    ingest2 = make_linkage_ingest(
        spark, str(tmp_path / "out2"), str(tmp_path / "registry2"),
        id_col="rid", block_cols=["blk"], comparators=comps,
        threshold=123.0, weights_store=wstore,
    )
    ingest2(
        spark.createDataFrame(
            [(5, "d", "carol", 3.0), (6, "d", "carol", 3.01)], schema
        ),
        0,
    )
    got2 = {
        r["rid"]: r["entity_id"]
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert got2[5] != got2[6]


def test_kmeans_check_and_retrain_orchestration(spark, tmp_path):
    """The schedulable monitor→retrain loop (VERDICT r11 item 4):
    check_and_retrain_kmeans reads the drift monitor's latest epoch row
    and acts on it — a no-recommendation run is a NO-OP (epoch
    unchanged, store bytes identical), a planted shift retrains (epoch
    bumps, a centroid covers the new region), a re-run against the same
    monitor state is a no-op (acted marker), and a calm epoch after the
    retrain is again a no-op. The CLI twin produces the same decision
    from a cron-shaped invocation."""
    import json
    import os
    import subprocess
    import sys

    import numpy as np

    from demo_apache_beam_spark.operators.similarity import (
        check_and_retrain_kmeans,
        incremental_kmeans_assign,
        kmeans_store_epoch,
        read_kmeans_store,
    )
    from demo_apache_beam_spark.streaming.kmeans import (
        make_kmeans_drift_ingest,
    )

    def blob(center, n, seed, base_id, step=1):
        r = np.random.RandomState(seed)
        return [
            (base_id + step * i, [float(x) for x in center + 0.5 * r.randn(2)])
            for i in range(n)
        ]

    def store_listing(path):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                p = os.path.join(root, f)
                out.append((os.path.relpath(p, path), os.path.getsize(p),
                            os.path.getmtime(p)))
        return sorted(out)

    schema = "vec_id long, embedding array<double>"
    train = blob(np.array([0.0, 0.0]), 40, 1, 0) + blob(
        np.array([20.0, 0.0]), 40, 2, 1000
    )
    store = str(tmp_path / "kstore")
    incremental_kmeans_assign(
        spark.createDataFrame(train, schema), store, k=2, iters=2
    )
    monitor_out = str(tmp_path / "monitor")
    monitor = make_kmeans_drift_ingest(spark, store, monitor_out)

    corpus = spark.createDataFrame(train, schema)

    # 0. no monitor output at all -> no-op
    res = check_and_retrain_kmeans(
        spark, store, str(tmp_path / "nowhere"), corpus, k=2
    )
    assert res == {
        "retrained": False, "reason": "no monitor output",
        "epoch": 0, "checked_batch_id": None,
    }

    # 1. calm epoch -> recommended False -> no-op, store bytes identical
    calm = blob(np.array([0.0, 0.0]), 20, 3, 5000) + blob(
        np.array([20.0, 0.0]), 20, 4, 6000
    )
    monitor(spark.createDataFrame(calm, schema), 0)
    before = store_listing(store)
    res = check_and_retrain_kmeans(spark, store, monitor_out, corpus, k=2)
    assert res["retrained"] is False and res["epoch"] == 0
    assert res["checked_batch_id"] == 0
    assert store_listing(store) == before  # byte-identical no-op

    # 2. planted shift -> recommended True -> retrain, epoch bumps,
    #    a new centroid covers the shifted region
    shifted = blob(np.array([0.0, 80.0]), 40, 5, 7000)
    monitor(spark.createDataFrame(shifted, schema), 1)
    retrain_corpus = spark.createDataFrame(
        [(3 * i, v) for i, (_, v) in enumerate(train[:40])]
        + [(3 * i + 1, v) for i, (_, v) in enumerate(train[40:])]
        + [(3 * i + 2, v) for i, (_, v) in enumerate(shifted)],
        schema,
    )
    res = check_and_retrain_kmeans(
        spark, store, monitor_out, retrain_corpus, k=3
    )
    assert res["retrained"] is True and res["epoch"] == 1
    assert kmeans_store_epoch(spark, store) == 1
    _, cents = read_kmeans_store(spark, store)
    assert any((c[0]) ** 2 + (c[1] - 80.0) ** 2 < 25.0 for c in cents)

    # 3. re-run against the SAME monitor state -> acted marker no-op
    before = store_listing(store)
    res = check_and_retrain_kmeans(
        spark, store, monitor_out, retrain_corpus, k=3
    )
    assert res["retrained"] is False
    assert "already acted" in res["reason"]
    assert kmeans_store_epoch(spark, store) == 1
    assert store_listing(store) == before

    # 4. calm epoch against the NEW baseline -> no-op again
    monitor2 = make_kmeans_drift_ingest(spark, store, monitor_out)
    monitor2(retrain_corpus, 2)
    before = store_listing(store)
    res = check_and_retrain_kmeans(
        spark, store, monitor_out, retrain_corpus, k=3
    )
    assert res["retrained"] is False and res["epoch"] == 1
    assert res["checked_batch_id"] == 2
    assert store_listing(store) == before

    # 5. CLI twin: cron-shaped invocation reproduces the no-op decision
    corpus_path = str(tmp_path / "corpus_parquet")
    retrain_corpus.write.parquet(corpus_path)
    proc = subprocess.run(
        [sys.executable, "-m",
         "demo_apache_beam_spark.pipelines.maintain_kmeans",
         "--store", store, "--monitor", monitor_out,
         "--corpus", corpus_path, "--k", "3"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["retrained"] is False and out["epoch"] == 1


def test_streaming_ivm_equals_batch_and_replay_noop(spark, tmp_path):
    """Streaming IVM (r12): each micro-batch is one replay-safe
    increment of the persisted join view. The streamed store must equal
    a serial batch-increment reference over the same deltas; a
    REDELIVERED epoch must be a byte-identical no-op (the applied-epoch
    ledger, written inside the increment's durability marker window);
    and the file-source wrapper drives the same ingest end-to-end."""
    import os

    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.ivm import (
        apply_join_increment,
        ivm_applied_epochs,
        read_join_view,
    )
    from demo_apache_beam_spark.streaming.ivm import (
        make_ivm_ingest,
        start_ivm_stream,
    )

    schema = "k long, v string"

    def right_of(batch):
        # per-key batch profile — both sides of the increment derive
        # from the same epoch
        return batch.groupBy("k").agg(F.count(F.lit(1)).alias("rv"))

    epochs = [
        [(1, "a"), (2, "b"), (1, "c")],
        [(2, "d"), (3, "e")],
        [(1, "f")],
    ]

    # serial batch reference
    ref = str(tmp_path / "ref")
    for rows in epochs:
        b = spark.createDataFrame(rows, schema)
        apply_join_increment(spark, ref, b, right_of(b), on="k")

    # streamed store: the foreachBatch ingest with explicit epoch ids
    store = str(tmp_path / "stream_store")
    ingest = make_ivm_ingest(spark, store, on="k", right_deltas=right_of)
    for i, rows in enumerate(epochs):
        ingest(spark.createDataFrame(rows, schema), i)

    def view_rows(p):
        return sorted(
            map(tuple, read_join_view(spark, p).select("k", "v", "rv").collect())
        )

    assert view_rows(store) == view_rows(ref)
    assert ivm_applied_epochs(spark, store) == {0, 1, 2}

    # redelivered epoch: byte-identical no-op
    def listing(p):
        out = []
        for root, _d, files in os.walk(p):
            for f in sorted(files):
                fp = os.path.join(root, f)
                out.append((os.path.relpath(fp, p), os.path.getsize(fp),
                            os.path.getmtime(fp)))
        return sorted(out)

    before = listing(store)
    ingest(spark.createDataFrame(epochs[1], schema), 1)
    assert listing(store) == before
    assert view_rows(store) == view_rows(ref)

    # empty-right fact-stream shape + the file-source wrapper e2e
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(epochs[0] + epochs[1], schema).write.parquet(in_dir)
    store2 = str(tmp_path / "wrap_store")
    q = start_ivm_stream(
        spark,
        in_dir,
        store2,
        checkpoint_dir=str(tmp_path / "chk"),
        schema=schema,
        on="k",
        empty_right_schema="k long, rv long",
    )
    q.processAllAvailable()
    q.stop()
    # right side empty forever -> view exists but is empty; the left
    # side accumulated every streamed row
    from demo_apache_beam_spark.operators.ivm import _attach_side

    _, left = _attach_side(spark, store2, "left", ["k"], 8)
    assert left.count() == 5
    assert read_join_view(spark, store2).count() == 0

    import pytest

    with pytest.raises(ValueError, match="right_deltas"):
        make_ivm_ingest(spark, str(tmp_path / "x"), on="k")


def test_streaming_ivm_delete_equals_batch_and_replay_noop(spark, tmp_path):
    """Streaming DELETE propagation (r13, VERDICT r12 item 1): a CDC
    stream carrying tombstones maintains the view without stopping —
    make_ivm_delete_ingest drains each micro-batch of delete keys
    through apply_delete_increment under the shared applied-epoch
    ledger. The streamed insert+delete sequence must equal a serial
    batch reference row-for-row; a REDELIVERED delete epoch must be a
    byte-identical no-op — and in particular must NOT re-delete a key
    that a LATER insert epoch re-inserted (the correctness reason the
    ledger exists for deletes, not just a cost saving)."""
    import os

    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.ivm import (
        apply_delete_increment,
        apply_join_increment,
        ivm_applied_epochs,
        read_join_view,
    )
    from demo_apache_beam_spark.streaming.ivm import (
        make_ivm_delete_ingest,
        make_ivm_ingest,
    )

    schema = "k long, v string"

    def right_of(batch):
        return batch.groupBy("k").agg(F.count(F.lit(1)).alias("rv"))

    inserts = {
        0: [(1, "a"), (2, "b"), (1, "c")],
        1: [(2, "d"), (3, "e")],
        3: [(1, "f"), (3, "g")],  # k=1 RE-INSERTED after its deletion
    }
    delete_keys = [(1,)]  # epoch 2: tombstone for k=1

    # serial batch reference over the same epoch sequence
    ref = str(tmp_path / "ref")
    for e in (0, 1):
        b = spark.createDataFrame(inserts[e], schema)
        apply_join_increment(spark, ref, b, right_of(b), on="k")
    apply_delete_increment(
        spark, ref, spark.createDataFrame(delete_keys, "k long"), "k", on="k"
    )
    b = spark.createDataFrame(inserts[3], schema)
    apply_join_increment(spark, ref, b, right_of(b), on="k")

    # streamed store: ONE logical CDC stream identity, dispatched by op
    store = str(tmp_path / "cdc_store")
    ins = make_ivm_ingest(
        spark, store, on="k", right_deltas=right_of, stream_id="cdc"
    )
    dele = make_ivm_delete_ingest(spark, store, "k", on="k", stream_id="cdc")
    ins(spark.createDataFrame(inserts[0], schema), 0)
    ins(spark.createDataFrame(inserts[1], schema), 1)
    dele(spark.createDataFrame(delete_keys, "k long"), 2)
    ins(spark.createDataFrame(inserts[3], schema), 3)

    def view_rows(p):
        return sorted(
            map(tuple, read_join_view(spark, p).select("k", "v", "rv").collect())
        )

    assert view_rows(store) == view_rows(ref)
    assert ivm_applied_epochs(spark, store, "cdc") == {0, 1, 2, 3}
    # k=1 rows of epoch 3 are alive (the delete hit only epochs 0-1)
    assert any(r[0] == 1 for r in view_rows(store))

    def listing(p):
        out = []
        for root, _d, files in os.walk(p):
            for f in sorted(files):
                fp = os.path.join(root, f)
                out.append((os.path.relpath(fp, p), os.path.getsize(fp),
                            os.path.getmtime(fp)))
        return sorted(out)

    # redelivered DELETE epoch: byte-identical no-op — the re-inserted
    # k=1 rows survive because the ledger skips, not because the delete
    # happens to miss them
    before = listing(store)
    dele(spark.createDataFrame(delete_keys, "k long"), 2)
    assert listing(store) == before
    assert view_rows(store) == view_rows(ref)

    # redelivered INSERT epoch too
    ins(spark.createDataFrame(inserts[1], schema), 1)
    assert listing(store) == before

    # empty tombstone batch: early return, store untouched
    dele(spark.createDataFrame([], "k long"), 4)
    assert listing(store) == before


def test_ivm_ledger_stream_identity_guard(spark, tmp_path):
    """ADVICE r12 (medium): batch ids are checkpoint-scoped, so a
    ledger keyed on the bare id would silently skip genuinely new
    micro-batches after a checkpoint loss. The ledger binds each epoch
    to a stream identity; an ingest running under a FOREIGN identity is
    refused loudly (both insert and delete ingests), and a legacy r12
    ledger (epoch-only schema) reads as identity "" so pre-upgrade
    stores keep replay-skipping under the default identity."""
    import pytest
    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.ivm import (
        ivm_applied_epochs,
        ivm_ledger_guard,
        read_join_view,
    )
    from demo_apache_beam_spark.streaming.ivm import (
        make_ivm_delete_ingest,
        make_ivm_ingest,
    )

    schema = "k long, v string"

    def right_of(batch):
        return batch.groupBy("k").agg(F.count(F.lit(1)).alias("rv"))

    store = str(tmp_path / "store")
    ins_a = make_ivm_ingest(
        spark, store, on="k", right_deltas=right_of, stream_id="chk-A"
    )
    ins_a(spark.createDataFrame([(1, "a"), (2, "b")], schema), 0)
    ins_a(spark.createDataFrame([(2, "c")], schema), 1)
    assert ivm_applied_epochs(spark, store, "chk-A") == {0, 1}
    assert ivm_applied_epochs(spark, store, "chk-B") == set()
    assert ivm_applied_epochs(spark, store) == {0, 1}  # inspection: all

    # a fresh checkpoint (batch ids restart at 0) pointed at the same
    # store: refused loudly instead of silently skipping batch 0/1 as
    # completed replays
    ins_b = make_ivm_ingest(
        spark, store, on="k", right_deltas=right_of, stream_id="chk-B"
    )
    with pytest.raises(RuntimeError, match="stream identity"):
        ins_b(spark.createDataFrame([(9, "z")], schema), 0)
    del_b = make_ivm_delete_ingest(spark, store, "k", on="k", stream_id="chk-B")
    with pytest.raises(RuntimeError, match="stream identity"):
        del_b(spark.createDataFrame([(1,)], "k long"), 0)
    assert ivm_ledger_guard(spark, store, "chk-A") == {0, 1}

    # legacy r12 ledger: epoch-only rows == identity "" — the default
    # (non-streaming) identity keeps skipping, a named one is refused
    legacy = str(tmp_path / "legacy")
    ins0 = make_ivm_ingest(spark, legacy, on="k", right_deltas=right_of)
    ins0(spark.createDataFrame([(1, "a")], schema), 0)
    import os

    led = os.path.join(legacy, "applied")
    legacy_rows = [
        (int(r["epoch"]),) for r in spark.read.parquet(led).collect()
    ]
    spark.createDataFrame(legacy_rows, "epoch long").write.mode(
        "overwrite"
    ).parquet(led)
    # (rewrite the ledger to the r12 single-column schema in place)
    assert ivm_applied_epochs(spark, legacy, "") == {0}
    n_before = read_join_view(spark, legacy).count()
    ins0(spark.createDataFrame([(1, "a")], schema), 0)  # replay skips
    assert read_join_view(spark, legacy).count() == n_before
    with pytest.raises(RuntimeError, match="stream identity"):
        ivm_ledger_guard(spark, legacy, "chk-C")


def test_left_ivm_streaming_equals_batch_with_late_dimension(spark, tmp_path):
    """LEFT OUTER streaming IVM (r13, VERDICT r12 item 7): facts stream
    as micro-batches, dimension rows arrive with their epoch's batch —
    a LATE dimension row in epoch N retracts the fact rows it matches
    from the unmatched set built in earlier epochs. The streamed store
    must equal a serial batch reference AND a from-scratch LEFT OUTER
    recompute; a redelivered epoch is a byte-identical no-op."""
    import os

    from demo_apache_beam_spark.operators.ivm import (
        apply_left_join_increment,
        ivm_applied_epochs,
        read_left_join_view,
    )
    from demo_apache_beam_spark.streaming.ivm import make_left_ivm_ingest

    lschema = "k long, v string"
    rschema = "k long, d string"
    epochs = [
        # (facts, dimension rows) — k=1's dimension row arrives LATE
        ([(1, "a"), (2, "b")], [(2, "dim2")]),
        ([(3, "c"), (1, "e")], [(1, "dim1")]),  # retracts epoch-0's k=1
        ([(4, "f")], []),
    ]

    ref = str(tmp_path / "ref")
    for facts, dims in epochs:
        apply_left_join_increment(
            spark,
            ref,
            spark.createDataFrame(facts, lschema),
            spark.createDataFrame(dims, rschema),
            on="k",
        )

    # the streamed store: right_deltas pulls the epoch's dimension rows
    # (test-scoped holder; a real stream derives them from the batch)
    holder = {}
    store = str(tmp_path / "stream_store")
    ingest = make_left_ivm_ingest(
        spark,
        store,
        on="k",
        right_deltas=lambda _b: holder["dims"],
        stream_id="lchk",
    )
    for i, (facts, dims) in enumerate(epochs):
        holder["dims"] = spark.createDataFrame(dims, rschema)
        ingest(spark.createDataFrame(facts, lschema), i)

    def rows(p):
        return sorted(
            map(
                tuple,
                read_left_join_view(spark, p).select("k", "v", "d").collect(),
            )
        )

    assert rows(store) == rows(ref)
    # from-scratch recompute: all facts LEFT JOIN all dims
    all_facts = spark.createDataFrame(
        [t for f, _ in epochs for t in f], lschema
    )
    all_dims = spark.createDataFrame(
        [t for _, d in epochs for t in d], rschema
    )
    expect = sorted(
        map(
            tuple,
            all_facts.join(all_dims, "k", "left").select("k", "v", "d").collect(),
        )
    )
    assert rows(store) == expect
    # the late k=1 dimension row retracted BOTH k=1 facts (epoch 0's
    # and its own epoch's) from the unmatched set
    um = spark.read.parquet(os.path.join(store, "unmatched"))
    assert sorted(r["k"] for r in um.collect()) == [3, 4]
    assert ivm_applied_epochs(spark, store, "lchk") == {0, 1, 2}

    def listing(p):
        out = []
        for root, _d, files in os.walk(p):
            for f in sorted(files):
                fp = os.path.join(root, f)
                out.append((os.path.relpath(fp, p), os.path.getsize(fp),
                            os.path.getmtime(fp)))
        return sorted(out)

    # redelivery of the late-dimension epoch: byte-identical no-op
    before = listing(store)
    holder["dims"] = spark.createDataFrame(epochs[1][1], rschema)
    ingest(spark.createDataFrame(epochs[1][0], lschema), 1)
    assert listing(store) == before
    assert rows(store) == expect


def test_check_and_retrain_catches_skipped_spike(spark, tmp_path):
    """ADVICE r12: a retrain_recommended row at batch N must still fire
    when a CALMER epoch N+1 lands before the scheduler wakes — the
    orchestration scans every unacted monitor row, not just the latest,
    and acting records the MAX scanned batch id so the spike is handled
    exactly once at any scheduler cadence."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import (
        check_and_retrain_kmeans,
        incremental_kmeans_assign,
        kmeans_store_epoch,
    )
    from demo_apache_beam_spark.streaming.kmeans import (
        make_kmeans_drift_ingest,
    )

    def blob(center, n, seed, base_id):
        r = np.random.RandomState(seed)
        return [
            (base_id + i, [float(x) for x in center + 0.5 * r.randn(2)])
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<double>"
    train = blob(np.array([0.0, 0.0]), 40, 1, 0)
    store = str(tmp_path / "kstore")
    incremental_kmeans_assign(
        spark.createDataFrame(train, schema), store, k=2, iters=2
    )
    monitor_out = str(tmp_path / "monitor")
    monitor = make_kmeans_drift_ingest(spark, store, monitor_out)

    # batch 0: drift spike (recommends). batch 1: calm again (doesn't).
    monitor(spark.createDataFrame(blob(np.array([0.0, 80.0]), 40, 5, 7000),
                                  schema), 0)
    monitor(spark.createDataFrame(blob(np.array([0.0, 0.0]), 20, 6, 9000),
                                  schema), 1)

    # the scheduler wakes AFTER both epochs: the spike must still fire
    res = check_and_retrain_kmeans(spark, store, monitor_out,
                                   spark.createDataFrame(train, schema), k=2)
    assert res["retrained"] is True
    assert res["checked_batch_id"] == 1  # acted marker = max scanned id
    assert "monitor batch 0" in res["reason"]  # the spike drove it
    assert kmeans_store_epoch(spark, store) == 1

    # re-run: both rows are now below the acted mark -> no-op
    res = check_and_retrain_kmeans(spark, store, monitor_out,
                                   spark.createDataFrame(train, schema), k=2)
    assert res["retrained"] is False
    assert "already acted on batch 1" in res["reason"]
    assert kmeans_store_epoch(spark, store) == 1


def test_left_ivm_stream_wrapper_e2e(spark, tmp_path):
    """start_left_ivm_stream (r13): the file-source wrapper drives the
    LEFT OUTER ingest end-to-end — streamed fact batches with an
    empty-forever right side all land in the unmatched set, the view
    reads them NULL-extended, and the unmatched swap leaves no
    __rewriting aside residue."""
    import os

    from demo_apache_beam_spark.operators.ivm import read_left_join_view
    from demo_apache_beam_spark.streaming.ivm import start_left_ivm_stream

    lschema = "k long, v string"
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], lschema
    ).write.parquet(in_dir)
    store = str(tmp_path / "store")
    q = start_left_ivm_stream(
        spark,
        in_dir,
        store,
        checkpoint_dir=str(tmp_path / "chk"),
        schema=lschema,
        on="k",
        empty_right_schema="k long, d string",
    )
    q.processAllAvailable()
    q.stop()
    view = read_left_join_view(spark, store)
    assert view.count() == 3
    assert all(r["d"] is None for r in view.collect())
    # swap hygiene: no aside residue next to the unmatched dataset
    assert not any("__rewriting" in f for f in os.listdir(store))
