"""daily_ingest: simulated days of replay arrivals through
discover -> download -> retry_failed -> compact per format, then the
battle-log analysis refresh, into a fresh lake per round.

A round is ``DAYS`` days; the run repeats whole rounds while another one
fits in its time. Every published replay is one operation; it fails when
it is absent from the compacted lake at the end of its round.
"""

from __future__ import annotations

import os
import statistics
import time

from pokemon_showdown_airflow_etl_spark.jobs import pipeline as P
from pokemon_showdown_airflow_etl_spark.jobs.battlelog_lake import (
    analysis_paths,
    refresh_battlelog_layer,
)
from pokemon_showdown_airflow_etl_spark.jobs.lake import ReplayLake
from pokemon_showdown_airflow_etl_spark.sources.api import PAGE_SIZE, ReplayApiClient

from .check import check_ingest
from .lakefiles import data_files, read_rows, tree_bytes
from .loop import whole_rounds
from .sim import FORMATS, ShowdownSim, day_replays, no_sleep, outage_ids

PER_DAY = 100  # replays per format per day
DAYS = 2
OUTAGE_SHARE = 0.06
# every distinct plan compiles on first use, so the warm-up runs one
# empty-lake day of one format at the smallest size the planted tie allows
WARMUP = {"per_day": 60, "days": 1, "formats": FORMATS[:1]}

# per-day layer values: name -> (span name, attribute or "seconds")
DAY_LAYERS = {
    "discover_s": ("discover", "seconds"),
    "discover_pages": ("discover", "pages"),
    "download_s": ("download", "seconds"),
    "download_docs": ("download", "docs"),
    "retry_s": ("retry", "seconds"),
    "retry_recovered": ("retry", "recovered"),
    "compact_s": ("compact", "seconds"),
    "compact_days_rewritten": ("compact", "days"),
    "compact_bytes_written": ("compact", "bytes_written"),
    "analysis_refresh_s": ("analysis_refresh", "seconds"),
    "analysis_days_refreshed": ("analysis_refresh", "days"),
    "replays_bytes": ("lake_size", "replays_bytes"),
    "compacted_bytes": ("lake_size", "compacted_bytes"),
    "metadata_bytes": ("lake_size", "metadata_bytes"),
    "analysis_bytes": ("lake_size", "analysis_bytes"),
    "lake_files": ("lake_size", "lake_files"),
}
LAYER_UNITS = {
    f"{name}{suffix}": "s" if name.endswith("_s") else "bytes" if "bytes" in name else "count"
    for name in DAY_LAYERS for suffix in ("", "_first_day", "_last_day")
}


def _parts(lake: ReplayLake) -> dict[str, str]:
    return {
        "replays": lake.replays_path,
        "compacted": lake.compacted_path,
        "metadata": lake.metadata_path,
        "analysis": os.path.dirname(analysis_paths(lake)["lines"]),
    }


def _day(ctx, lake: ReplayLake, sim: ShowdownSim, r: int, d: int, per_day: int,
         formats: tuple[str, ...]) -> None:
    spark, tr = ctx.spark, ctx.tracer
    pages = -(-per_day // PAGE_SIZE) + 2
    down = ReplayApiClient(transport=sim, sleeper=no_sleep)
    healed = ReplayApiClient(transport=sim.without_outage(), sleeper=no_sleep)
    for fmt in formats:
        with tr.span("discover", round=r, day=d, fmt=fmt) as s:
            st = P.discover(spark, lake, down, fmt, max_pages=pages)
            s.set(pages=st["pages_fetched"])
        with tr.span("download", round=r, day=d, fmt=fmt) as s:
            st = P.download(spark, lake, down, fmt)
            s.set(docs=st["downloaded"])
        with tr.span("retry", round=r, day=d, fmt=fmt) as s:
            st = P.retry_failed(spark, lake, healed, fmt)
            s.set(recovered=st["recovered"])
        before = data_files(lake.compacted_path) if tr.enabled else {}
        with tr.span("compact", round=r, day=d, fmt=fmt) as s:
            st = P.compact(spark, lake, fmt)
            s.set(days=st["dates_processed"])
        if tr.enabled:
            after = data_files(lake.compacted_path)
            s.set(bytes_written=sum(n for p, n in after.items() if p not in before))
    with tr.span("analysis_refresh", round=r, day=d) as s:
        st = refresh_battlelog_layer(spark, lake)
        s.set(days=st["partitions_refreshed"])


def _round(ctx, seed, r: int, per_day: int = PER_DAY, days: int = DAYS,
           formats: tuple[str, ...] = FORMATS) -> dict:
    lake = ReplayLake(str(ctx.tmp / f"lake-{seed}-{r}"))
    published: dict[str, dict] = {}
    outage: set[str] = set()
    day_s = []
    for d in range(days):
        arrivals = [x for fmt in formats for x in day_replays(seed, d, fmt, per_day)]
        published.update((x["id"], x) for x in arrivals)
        today = frozenset().union(*(
            outage_ids(seed, d, [x for x in arrivals if x["format"] == fmt], OUTAGE_SHARE)
            for fmt in formats))
        outage |= today
        sim = ShowdownSim.publish(list(published.values()), today)
        t0 = time.perf_counter()
        _day(ctx, lake, sim, r, d, per_day, formats)
        day_s.append(time.perf_counter() - t0)
        if ctx.tracer.enabled:
            with ctx.tracer.span("lake_size", round=r, day=d) as s:
                files = {k: data_files(p) for k, p in _parts(lake).items()}
                s.set(lake_files=sum(len(f) for f in files.values()),
                      **{f"{k}_bytes": sum(f.values()) for k, f in files.items()})
    return {"lake": lake, "published": published, "outage": outage, "day_s": day_s}


def _check(res: dict) -> dict:
    """Adds the lost-replay count, problems and sizes to a finished round."""
    lake, published = res["lake"], res["published"]
    compacted = read_rows(lake.compacted_path, ("format", "date"))
    metadata = read_rows(
        lake.metadata_path, ("format_id", "um"),
        ["replay_id", "is_downloaded", "is_compacted", "is_retry_attempted"])
    lines = [
        (x["replay_id"], x["line_no"], x["command"], x["event_ts"])
        for x in read_rows(analysis_paths(lake)["lines"], ("format", "date"),
                           ["replay_id", "line_no", "command", "event_ts"])
    ]
    res["problems"] = check_ingest(published, compacted, metadata, res["outage"], lines)
    res["lost"] = len(set(published) - {x["id"] for x in compacted})
    res["lake_bytes"] = sum(tree_bytes(p) for p in _parts(lake).values())
    res["served_bytes"] = sum(len(ShowdownSim.body(published[x["id"]]).encode()) for x in compacted)
    res["compacted"] = len(compacted)
    return res


def warmup(ctx) -> None:
    _round(ctx, f"warmup-{ctx.seed}", 0, **WARMUP)


def measure(ctx) -> dict:
    rounds = whole_rounds(ctx.seconds, lambda r: _check(_round(ctx, ctx.seed, r)))
    e2e = {
        "build_s": statistics.median(r["day_s"][0] for r in rounds),
        "step_s": statistics.median(s for r in rounds for s in r["day_s"][1:]),
        "docs_per_s": sum(r["compacted"] for r in rounds) / sum(sum(r["day_s"]) for r in rounds),
        "lake_bytes_per_input_byte": statistics.median(
            r["lake_bytes"] / r["served_bytes"] for r in rounds),
    }
    return {"attempted": sum(len(r["published"]) for r in rounds),
            "failed": sum(r["lost"] for r in rounds),
            "problems": [p for r in rounds for p in r["problems"]],
            "e2e": e2e, "layers": _layers(ctx.tracer) if ctx.tracer.enabled else {}}


def _layers(tr) -> dict[str, float]:
    out = {}
    for name, (span, attr) in DAY_LAYERS.items():
        per_day: dict[tuple[int, int], float] = {}
        for s in tr.find(span):
            key = (s.attrs["round"], s.attrs["day"])
            per_day[key] = per_day.get(key, 0) + (s.seconds if attr == "seconds" else s.attrs[attr])
        out[name] = statistics.median(per_day.values())
        out[f"{name}_first_day"] = statistics.median(v for (r, d), v in per_day.items() if d == 0)
        out[f"{name}_last_day"] = statistics.median(
            v for (r, d), v in per_day.items() if d == DAYS - 1)
    return out
