"""Seeded replay arrivals and the Showdown API simulator the daily_ingest
workload serves them from.

Each simulated day publishes ``per_day`` replays per format, uploaded
in whole seconds inside a noon-to-noon UTC window (so one day's
arrivals land in two ``date`` partitions and compaction rewrites an
already-compacted day). Ties are part of the input:

- one planted tie group of four replays straddles the first search
  page boundary of every (day, format): descending positions 49-52
  share one upload time. Discovery pages with ``before=<last row's
  time>`` and the API's ``before`` is strict, so two of the four are
  never returned. This is a known program fault; those replays are the
  workload's failed operations, exactly ``TIE_LOST`` per (day, format)
  whatever the seed.
- seeded harmless ties: adjacent pairs that never include a page's
  last row, so they cost nothing.

``ShowdownSim`` is the transport: picklable (it rides into Spark tasks
inside the API client), O(1) per replay lookup, and an ``outage`` set
of ids that answer 503 on every attempt. The download stage gets a
simulator with the outage set, the retry stage one without it, so every
outage replay fails download and is recovered by retry. No id ever
answers 404.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlparse

from pokemon_showdown_airflow_etl_spark.sources.api import PAGE_SIZE

FORMATS = ("gen9ou", "gen9randombattle")
DAY0 = 1_704_110_400  # 2024-01-01 12:00:00 UTC
DAY_S = 86_400
TIE_AT = 49  # descending position of the planted tie group's first row
TIE_SIZE = 4
TIE_LOST = TIE_SIZE - (PAGE_SIZE - TIE_AT)  # group rows past the page end

MONS = (
    "Garchomp", "Kingambit", "Gholdengo", "Dragapult", "Great Tusk",
    "Iron Valiant", "Toxapex", "Corviknight", "Skeledirge", "Dondozo",
    "Rillaboom", "Heatran", "Landorus", "Zamazenta", "Ogerpon",
)
MOVES = (
    "Earthquake", "Kowtow Cleave", "Make It Rain", "Draco Meteor",
    "Headlong Rush", "Moonblast", "Toxic", "Roost", "Torch Song",
    "Wave Crash", "Grassy Glide", "Magma Storm", "U-turn", "Protect",
)


def no_sleep(_seconds: float) -> None:
    """Client backoff sleeper: the simulator answers at once."""


def _battle_log(rng: random.Random, ts: int, p1: str, p2: str, winner: str) -> str:
    """Variable-length protocol log: header, lead switches, 1-30 turns
    of stamped moves with occasional switches, then ``|win|``."""
    a, b = rng.sample(MONS, 2)
    lines = [
        f"|player|p1|{p1}",
        f"|player|p2|{p2}",
        f"|t:|{ts}",
        "|start",
        f"|switch|p1a: {a}|{a}, L50|100/100",
        f"|switch|p2a: {b}|{b}, L50|100/100",
    ]
    t = ts
    for turn in range(1, rng.randint(1, 30) + 1):
        t += rng.randint(5, 90)
        lines.append(f"|turn|{turn}")
        lines.append(f"|t:|{t}")
        if rng.random() < 0.15:
            a = rng.choice(MONS)
            lines.append(f"|switch|p1a: {a}|{a}, L50|{rng.randint(1, 100)}/100")
        lines.append(f"|move|p1a: {a}|{rng.choice(MOVES)}|p2a: {b}")
        lines.append(f"|move|p2a: {b}|{rng.choice(MOVES)}|p1a: {a}")
    lines.append(f"|win|{winner}")
    return "\n".join(lines)


def _page_last_positions(n: int) -> set[int]:
    """Descending positions that end a search page, given the planted
    tie group drops ``TIE_LOST`` rows after the first page."""
    last = {PAGE_SIZE - 1}
    pos = PAGE_SIZE + TIE_LOST + PAGE_SIZE - 1
    while pos < n:
        last.add(pos)
        pos += PAGE_SIZE
    return last


def day_replays(seed: int | str, day: int, fmt: str, per_day: int) -> list[dict]:
    """The replays of one format published on ``day``, ascending by
    upload time (ties within a group in id order)."""
    if per_day < PAGE_SIZE + TIE_LOST + 1:
        raise ValueError(f"per_day must exceed {PAGE_SIZE + TIE_LOST}")
    rng = random.Random(f"{seed}:{fmt}:{day}")
    start = DAY0 + day * DAY_S
    times = sorted(rng.sample(range(start, start + DAY_S), per_day), reverse=True)
    tie_end = TIE_AT + TIE_SIZE
    times[TIE_AT:tie_end] = [times[tie_end - 1]] * TIE_SIZE
    page_last = _page_last_positions(per_day)
    i = 0
    while i < per_day - 1:
        # a pair (i, i+1) loses i+1 only when i ends a page
        if (i not in page_last and not TIE_AT - 2 <= i < tie_end
                and rng.random() < 0.08):
            times[i + 1] = times[i]
            i += 3
        else:
            i += 1
    out = []
    for j, ts in enumerate(reversed(times)):
        rid = f"{fmt}-{day:03d}{j:05d}"
        p1, p2 = (f"trainer{k}" for k in rng.sample(range(400), 2))
        out.append({
            "id": rid,
            "format": fmt,
            "uploadtime": ts,
            "players": [p1, p2],
            "p1": p1,
            "p2": p2,
            "rating": rng.randint(1000, 2000),
            "log": _battle_log(rng, ts, p1, p2, rng.choice((p1, p2))),
        })
    return out


def outage_ids(seed: int | str, day: int, replays: list[dict], share: float) -> frozenset[str]:
    """A seeded share of the day's replays that answer 503 during the
    download stage. Rows tied with another row are excluded, so every
    outage id is one discovery returns."""
    rng = random.Random(f"{seed}:outage:{day}")
    seen: dict[int, int] = {}
    for r in replays:
        seen[r["uploadtime"]] = seen.get(r["uploadtime"], 0) + 1
    pool = [r["id"] for r in replays if seen[r["uploadtime"]] == 1]
    return frozenset(rng.sample(pool, round(share * len(replays))))


@dataclass
class ShowdownSim:
    """Transport ``(url, connect_timeout, read_timeout) -> (status, body)``
    over a fixed set of published replays."""

    bodies: dict[str, str]  # replay id -> JSON document
    listing: dict[str, tuple[list[int], list[dict]]]  # fmt -> (-times, rows), descending
    outage: frozenset[str] = field(default_factory=frozenset)

    @classmethod
    def publish(cls, replays: list[dict], outage: frozenset[str] = frozenset()) -> "ShowdownSim":
        bodies = {r["id"]: cls.body(r) for r in replays}
        listing: dict[str, tuple[list[int], list[dict]]] = {}
        by_fmt: dict[str, list[dict]] = {}
        for r in replays:
            by_fmt.setdefault(r["format"], []).append(r)
        for fmt, rows in by_fmt.items():
            rows = sorted(rows, key=lambda r: (r["uploadtime"], r["id"]), reverse=True)
            listing[fmt] = (
                [-r["uploadtime"] for r in rows],
                [{k: r[k] for k in ("id", "uploadtime", "p1", "p2", "format", "rating")}
                 for r in rows],
            )
        return cls(bodies, listing, outage)

    @staticmethod
    def body(doc: dict) -> str:
        return json.dumps(doc)

    def without_outage(self) -> "ShowdownSim":
        return ShowdownSim(self.bodies, self.listing)

    def __call__(self, url: str, connect_timeout: float, read_timeout: float) -> tuple[int, str]:
        u = urlparse(url)
        if u.path.endswith("/search.json"):
            q = parse_qs(u.query)
            neg, rows = self.listing.get(q["format"][0], ([], []))
            start = bisect.bisect_right(neg, -int(q["before"][0])) if "before" in q else 0
            return 200, json.dumps(rows[start:start + PAGE_SIZE])
        rid = u.path.rsplit("/", 1)[-1][: -len(".json")]
        if rid in self.outage:
            return 503, "service unavailable"
        body = self.bodies.get(rid)
        return (200, body) if body is not None else (404, "not found")
