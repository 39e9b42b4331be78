"""Seeded inputs for the benchmark, and the answers they imply.

The game model follows the engine's Injector (``sources/injector.py``) but
is written out here so the program under test only ever sees the files:

- 15 live teams named colour + animal, 5-19 members each, replaced 20-39
  virtual minutes after they form;
- about one team in three carries a "Robot-<n>" user who plays far more
  often than the team's members (the hot key);
- scores are uniform 0-19;
- one event in ``LATE_EVERY`` carries an event time 5-10 minutes before
  the virtual clock (late data);
- one line in ``CORRUPT_EVERY`` is corrupt, in one of three shapes the
  parser must drop.

The virtual clock is compressed (``ms_per_event``) so that a short stream
run crosses several 60-minute windows.

Everything here is pure Python over the generated lines: the expected
UserScore, HourlyTeamScore and LeaderBoard answers are plain sums that
skip the corrupt lines.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict
from datetime import datetime, timedelta, timezone

COLORS = [
    "Magenta", "AliceBlue", "Almond", "Amaranth", "Amber", "Amethyst",
    "AndroidGreen", "AntiqueBrass", "Fuchsia", "Ruby", "AppleGreen", "Apricot",
    "Aqua", "ArmyGreen", "Asparagus", "Auburn", "Azure", "Banana", "Beige",
    "Bisque", "BarnRed", "BattleshipGrey",
]
ANIMALS = [
    "Echidna", "Koala", "Wombat", "Marmot", "Quokka", "Kangaroo", "Dingo",
    "Numbat", "Emu", "Wallaby", "CaneToad", "Bilby", "Possum", "Cassowary",
    "Kookaburra", "Platypus", "Bandicoot", "Cockatoo", "Antechinus",
]
LIVE_TEAMS = 15
MAX_SCORE = 20
LATE_EVERY = 200
CORRUPT_EVERY = 500
CORRUPT_SHAPES = (
    "THIS LINE REPRESENTS CORRUPT DATA AND WILL CAUSE A PARSE ERROR",
    "short,row",
    "{user},{team},not-a-score,{ts}",
)
# 2024-01-01 00:00:00 UTC: the registry's fixed time bounds sit in January 2024
JAN_2024_MS = 1704067200000
_PST = timezone(timedelta(hours=-8))


class _Team:
    __slots__ = ("name", "end_ms", "robot", "members")

    def __init__(self, rng: random.Random, now_ms: int) -> None:
        self.name = rng.choice(COLORS) + rng.choice(ANIMALS)
        self.end_ms = now_ms + (20 + rng.randrange(20)) * 60_000
        self.robot = f"Robot-{rng.randrange(20)}" if rng.randrange(3) == 0 else None
        self.members = 5 + rng.randrange(15)


def game_events(seed: int, n: int, start_ms: int, ms_per_event: int):
    """Yield ``n`` events as (user, team, score, event_ms, corrupt, now_ms).

    ``corrupt`` is None for a good event and the raw line otherwise; corrupt
    events carry no score in any answer. ``now_ms`` is the virtual clock."""
    rng = random.Random(seed)
    now = start_ms
    teams = [_Team(rng, now) for _ in range(LIVE_TEAMS)]
    for i in range(n):
        k = rng.randrange(LIVE_TEAMS)
        if teams[k].end_ms < now:
            teams[k] = _Team(rng, now)
        team = teams[k]
        if team.robot and rng.randrange(max(1, team.members // 2)) == 0:
            user = team.robot
        else:
            user = f"user{rng.randrange(team.members)}_{team.name}"
        score = rng.randrange(MAX_SCORE)
        delay = 300_000 + rng.randrange(300_000) if i % LATE_EVERY == LATE_EVERY // 2 else 0
        event_ms = (now - delay) // 1000 * 1000
        corrupt = None
        if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            shape = CORRUPT_SHAPES[(i // CORRUPT_EVERY) % len(CORRUPT_SHAPES)]
            corrupt = shape.format(user=user, team=team.name, ts=event_ms)
        yield user, team.name, score, event_ms, corrupt, now
        now += ms_per_event


def to_line(ev) -> str:
    user, team, score, event_ms, corrupt, now = ev
    if corrupt is not None:
        return corrupt
    readable = datetime.fromtimestamp(now / 1000, tz=_PST).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    return f"{user},{team},{score},{event_ms},{readable}"


def write_lines(path: str, events) -> None:
    with open(path, "w") as f:
        f.write("\n".join(to_line(e) for e in events) + "\n")


# -- answers -----------------------------------------------------------------


def user_totals(events) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for user, _team, score, _ms, corrupt, _now in events:
        if corrupt is None:
            out[user] += score
    return dict(out)


def team_window_totals(events, window_ms: int = 3_600_000) -> dict[tuple[str, int], int]:
    """(team, window start ms) -> summed score over 60-minute windows."""
    out: dict[tuple[str, int], int] = defaultdict(int)
    for _user, team, score, event_ms, corrupt, _now in events:
        if corrupt is None:
            out[(team, event_ms - event_ms % window_ms)] += score
    return dict(out)


def window_label(start_ms: int) -> str:
    """HourlyTeamScore's formatted window start (UTC session)."""
    dt = datetime.fromtimestamp(start_ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%d %H:%M:%S.") + f"{dt.microsecond // 1000:03d}"


# -- parquet tables for the registry queries ----------------------------------


def write_events_table(path: str, seed: int, n: int) -> None:
    """The engine's ``events`` table in the game role mapping
    (user_id -> user, event_type -> team, floor(value) -> score): ``n``
    injector-model events spread over January 2024, so the registry's fixed
    time bounds (10-20 Jan, mid-month) cut through the data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed ^ 0x5EED)
    span_ms = 30 * 86_400_000
    ids: dict[str, int] = {}
    rows = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for i, (user, team, score, event_ms, _c, _now) in enumerate(
        game_events(seed, n, JAN_2024_MS, span_ms // n)
    ):
        rows["event_id"].append(i)
        rows["ts"].append(event_ms * 1000 + rng.randrange(1000) * 1000)
        rows["user_id"].append(ids.setdefault(user, len(ids)))
        rows["event_type"].append(team)
        rows["value"].append(score + rng.randrange(100) / 100)
        rows["props"].append(f'{{"k": {rng.randrange(100)}}}')
    table = pa.table(
        {
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "value": pa.array(rows["value"], pa.float64()),
            "props": pa.array(rows["props"], pa.string()),
        }
    )
    pq.write_table(table, path)


VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def write_documents_table(path: str, seed: int, n: int) -> None:
    """``documents``: random text over a 30-word vocabulary; one document in
    twenty repeats an earlier one with a short edit, so dedup has work."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.randrange(20) == 0:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(8 + rng.randrange(90))]
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def makedirs(*paths: str) -> None:
    for p in paths:
        os.makedirs(p, exist_ok=True)
