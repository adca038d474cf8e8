"""Deterministic in-memory Showdown API simulator.

No network exists in this container, so the pipeline is exercised
against a seeded fake that reproduces the API's observable behavior:
descending-uploadtime search pages of up to 51 rows honoring the
``before`` cursor, full replay JSON documents with ``|t:|``-stamped
battle logs, plus configurable failure modes (flaky 500s that heal
after N attempts — exercising retry/backoff — and permanent 404s).

The object is picklable, so it rides into Spark tasks as the transport
of a ReplayApiClient.
"""

from __future__ import annotations

import bisect
import json
import re
from dataclasses import dataclass, field

from .api import PAGE_SIZE


def make_replays(format_id: str, n: int, t0: int = 1_700_000_000, step: int = 3600) -> list[dict]:
    """n deterministic replay docs, uploadtime ascending from t0."""
    out = []
    for i in range(n):
        ts = t0 + i * step
        rid = f"{format_id}-{1000 + i}"
        p1, p2 = f"player{i % 17}", f"player{(i * 7 + 3) % 23}"
        log = "\n".join(
            [
                f"|player|p1|{p1}",
                f"|player|p2|{p2}",
                f"|t:|{ts}",
                "|start",
                f"|move|p1a: Mon{i % 9}|Tackle",
                f"|t:|{ts + 30}",
                f"|move|p2a: Mon{(i + 4) % 9}|Growl",
                f"|win|{p1 if i % 2 == 0 else p2}",
            ]
        )
        out.append(
            {
                "id": rid,
                "format": format_id,
                "uploadtime": ts,
                "p1": p1,
                "p2": p2,
                "players": [p1, p2],
                "rating": 1000 + (i * 37) % 800,
                "log": log,
            }
        )
    return out


@dataclass
class FakeShowdownTransport:
    """Transport callable serving a seeded replay corpus.

    The heal counter lives in the object, and every Spark task gets its
    own pickled copy: with ``heal_after >= max_retries`` a flaky replay
    never heals across stages (download's attempts do not count toward
    retry's)."""

    replays_by_format: dict[str, list[dict]]
    flaky_every: int = 0  # every k-th replay 500s until attempts exhaust heal_after
    heal_after: int = 2
    dead_every: int = 0  # every k-th replay permanently 404s
    _attempts: dict[str, int] = field(default_factory=dict)
    # memoized per-format views (a real API serves pages and point
    # lookups from an index; re-sorting per page or scanning per fetch
    # would dominate large-corpus benchmarks): (key, rows by descending
    # uploadtime, their negated uploadtimes for bisect, id -> (doc,
    # position in the source list)). Invalidated when the list object
    # or its length changes.
    _sorted_cache: dict[str, tuple] = field(default_factory=dict)

    def __call__(self, url: str, connect_timeout: float, read_timeout: float) -> tuple[int, str]:
        if "/search.json" in url:
            return self._search(url)
        m = re.search(r"/([^/]+)\.json$", url)
        return self._replay(m.group(1)) if m else (404, "not found")

    def _view(self, fmt: str) -> tuple:
        source = self.replays_by_format.get(fmt, [])
        key = (id(source), len(source))
        cached = self._sorted_cache.get(fmt)
        if cached is None or cached[0] != key:
            rows = sorted(source, key=lambda r: r["uploadtime"], reverse=True)
            index: dict[str, tuple[dict, int]] = {}
            for i, r in enumerate(source):
                index.setdefault(r["id"], (r, i))
            cached = (key, rows, [-r["uploadtime"] for r in rows], index)
            self._sorted_cache[fmt] = cached
        return cached

    def _search(self, url: str) -> tuple[int, str]:
        fmt = re.search(r"format=([^&]+)", url).group(1)
        before = re.search(r"before=(\d+)", url)
        _, rows, keys, _ = self._view(fmt)
        if before:
            # rows are sorted descending: binary-search the cutoff
            rows = rows[bisect.bisect_right(keys, -int(before.group(1))) :]
        page = [
            {k: r[k] for k in ("id", "uploadtime", "p1", "p2", "format", "rating")}
            for r in rows[:PAGE_SIZE]
        ]
        return 200, json.dumps(page)

    def _index_of(self, rid: str) -> tuple[dict | None, int]:
        for fmt in self.replays_by_format:
            hit = self._view(fmt)[3].get(rid)
            if hit is not None:
                return hit
        return None, -1

    def _replay(self, rid: str) -> tuple[int, str]:
        doc, i = self._index_of(rid)
        if doc is None:
            return 404, "not found"
        if self.dead_every and i % self.dead_every == 0 and i > 0:
            return 404, "gone"
        if self.flaky_every and i % self.flaky_every == 0 and i > 0:
            seen = self._attempts.get(rid, 0)
            self._attempts[rid] = seen + 1
            if seen < self.heal_after:
                return 500, "flaky"
        return 200, json.dumps(doc)
