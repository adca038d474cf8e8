"""Parallel backfill: distributed cursor-range discovery.

The reference's backfill pages the search API strictly sequentially —
one cursor, 0.1 s between pages (tasks/discovery.py:159-211) — and its
own optimization notes propose parallel page fetching as future work
(docs/airflow_backfill_optimization.md:36-137). This implements that
proposal Spark-first:

the time axis below the current low watermark is split into disjoint
half-open ranges [start, end); each range becomes one task of a
mapInPandas stage that runs the same page loop the sequential backfill
runs, bounded to its range (fetch before=end, keep rows >= start, stop
at the first row < start or a short page). Ranges are disjoint, so no
replay appears twice across tasks; the anti-join MERGE dedups against
history exactly like sequential discovery. Rate limits stay per-task
(the client's request_pause_s), so total request rate = tasks x pace —
size n_ranges to the API budget.

Two scale/correctness properties the naive version got wrong:

- fetched rows never round-trip through the driver: the mapInPandas
  stage emits row JSON, the rows are parsed with from_json and fed to
  the metadata MERGE as a DataFrame, and the driver keeps only scalar
  aggregates (counts + the min-uploadtime watermark).
- a transport failure inside one range must NOT create a permanent
  history gap. Each range worker fetches pages in strict mode and
  reports per-range completion; rows from ranges OLDER than the first
  incomplete range are discarded before the MERGE, so the metadata MIN
  (the next run's low watermark) never jumps past unfetched territory.
  Partial rows from the first incomplete range itself are safe to keep:
  the page walk is contiguous downward from the range's top, so their
  MIN is exactly where the next run must resume. Failed ranges are
  retried once in-job before this cut is applied.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import metadata as M
from ..schemas import REPLAY_STATUS
from ..sources.api import PageFetchError, ReplayApiClient
from .lake import MetadataStore, ReplayLake, save_state
from .pipeline import _batch_id, _walk_pages

RANGE_SCHEMA = "range_start long, range_end long"
# one stream carries both data rows (row_json set) and exactly one
# terminal status row per range (row_json null, ok/err set)
FETCH_SCHEMA = "row_json string, range_start long, range_end long, ok boolean, err string"

_KNOWN_KEYS = ("id", "uploadtime", "p1", "p2", "format", "players")
_ROW_STRUCT = "id string, uploadtime long, p1 string, p2 string, players array<string>"


def _fetch_range(
    client: ReplayApiClient, format_id: str, start: int, end: int, max_pages: int
) -> tuple[list[dict], bool, str | None]:
    """The sequential page walk (pipeline._walk_pages), bounded to
    [start, end). Returns the rows plus whether the range was drained
    to its floor (a transport error or an exhausted page budget both
    leave it incomplete)."""
    out: list[dict] = []
    try:
        for rows, full in _walk_pages(client, format_id, end, max_pages, strict=True):
            for row in rows:
                if int(row["uploadtime"]) < start:
                    return out, True, None
                out.append(row)
            if not full:
                return out, True, None
    except PageFetchError as exc:
        return out, False, str(exc)
    return out, False, f"page budget exhausted ({max_pages})"


def _fetch_stage(
    spark: SparkSession,
    bounds: list[tuple[int, int]],
    client: ReplayApiClient,
    format_id: str,
    max_pages: int,
) -> DataFrame:
    """Run the range workers as one mapInPandas stage (one range per
    partition) and pin the result so it is fetched exactly once."""
    ranges_df = spark.createDataFrame(bounds, RANGE_SCHEMA).repartition(len(bounds))

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["row_json", "range_start", "range_end", "ok", "err"]
        for pdf in batches:
            recs = []
            for start, end in zip(pdf["range_start"], pdf["range_end"]):
                rows, ok, err = _fetch_range(
                    client, format_id, int(start), int(end), max_pages
                )
                for row in rows:
                    recs.append((json.dumps(row), int(start), int(end), None, None))
                recs.append((None, int(start), int(end), ok, err))
            yield pd.DataFrame(recs, columns=cols)

    return ranges_df.mapInPandas(fetch, FETCH_SCHEMA).localCheckpoint(eager=True)


def _parse_status_rows(rows: DataFrame, format_id: str, batch_id: str) -> DataFrame:
    """row_json -> replay_status insert rows, entirely JVM-side: the
    distributed twin of pipeline._status_rows (db.py:853-912 semantics —
    known columns split out, remainder kept as additional_info,
    players rendered as 'p1 vs p2')."""
    s = F.from_json("row_json", _ROW_STRUCT)
    full = F.from_json("row_json", "map<string,string>")
    extra = F.map_filter(
        full, lambda k, v: (~k.isin(*_KNOWN_KEYS)) & v.isNotNull()
    )
    players = F.when(
        s["players"].isNotNull() & (F.size(s["players"]) > 0),
        F.array_join(s["players"], " vs "),
    ).otherwise(
        F.array_join(
            F.filter(F.array(s["p1"], s["p2"]), lambda x: x.isNotNull()), " vs "
        )
    )
    parsed = rows.select(
        s["id"].alias("replay_id"),
        F.lit(format_id).alias("format_id"),
        F.current_timestamp().alias("discovered_at"),
        F.lit(batch_id).alias("discovered_batch"),
        F.lit(False).alias("is_downloaded"),
        F.lit(False).alias("is_compacted"),
        s["uploadtime"].alias("uploadtime"),
        players.alias("players"),
        F.when(F.size(F.map_keys(extra)) > 0, extra).alias("additional_info"),
    )
    missing = [
        f.name for f in REPLAY_STATUS.fields if f.name not in parsed.columns
    ]
    for name in missing:
        parsed = parsed.withColumn(
            name, F.lit(None).cast(REPLAY_STATUS[name].dataType)
        )
    return parsed.select(*[f.name for f in REPLAY_STATUS.fields])


def discover_backfill_parallel(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    window_s: int = 86_400,
    n_ranges: int = 8,
    max_pages_per_range: int = 50,
) -> dict:
    """Backfill ``n_ranges`` windows of ``window_s`` seconds below the
    current low watermark, all ranges fetched concurrently on executors.

    Without a low watermark (empty metadata) the newest page seeds it
    first. Returns the same stats shape as sequential backfill plus
    per-range failure accounting.
    """
    meta = MetadataStore(spark, lake.metadata_path)
    oldest = M.low_watermark(meta.read(), format_id)
    if oldest is None:
        seed = client.fetch_page(format_id)
        if not seed:
            return {"ranges": 0, "replays_found": 0, "new_replays": 0}
        oldest = int(seed[-1]["uploadtime"]) + 1

    bounds = [
        (oldest - (i + 1) * window_s, oldest - i * window_s) for i in range(n_ranges)
    ]
    fetched = _fetch_stage(spark, bounds, client, format_id, max_pages_per_range)

    # per-range completion: n_ranges rows, scalar-sized by construction
    status = {
        (r["range_start"], r["range_end"]): (r["ok"], r["err"])
        for r in fetched.filter(F.col("row_json").isNull()).collect()
    }
    failed = [b for b in bounds if not status[b][0]]
    if failed:  # one in-job retry round for incomplete ranges
        retried = _fetch_stage(spark, failed, client, format_id, max_pages_per_range)
        for r in retried.filter(F.col("row_json").isNull()).collect():
            status[(r["range_start"], r["range_end"])] = (r["ok"], r["err"])
        # keep first-attempt rows only for ranges still failed (their
        # partial walk is contiguous); retried-ok ranges use the retry rows
        ok_after_retry = [b for b in failed if status[b][0]]
        keep_first = ~(
            F.concat_ws("_", "range_start", "range_end").isin(
                [f"{s}_{e}" for s, e in ok_after_retry]
            )
        )
        fetched = fetched.filter(keep_first).unionByName(
            retried.filter(
                F.concat_ws("_", "range_start", "range_end").isin(
                    [f"{s}_{e}" for s, e in ok_after_retry]
                )
            )
        )

    # contiguity cut: walk shallowest -> deepest; keep complete ranges
    # until the first incomplete one, plus that range's partial rows
    keep: list[tuple[int, int]] = []
    failed_ranges: list[dict] = []
    blocked = False
    for b in sorted(bounds, key=lambda x: -x[1]):
        ok, err = status[b]
        if blocked:
            if not ok:
                failed_ranges.append(
                    {"range_start": b[0], "range_end": b[1], "error": err}
                )
            continue
        keep.append(b)
        if not ok:
            failed_ranges.append(
                {"range_start": b[0], "range_end": b[1], "error": err}
            )
            blocked = True

    keep_keys = [f"{s}_{e}" for s, e in keep]
    rows = fetched.filter(
        F.col("row_json").isNotNull()
        & F.concat_ws("_", "range_start", "range_end").isin(keep_keys)
    )

    batch = _batch_id(format_id, prefix="backfill_parallel_")
    incoming = _parse_status_rows(rows, format_id, batch)
    new_count = meta.insert_new(incoming)

    agg = rows.agg(
        F.count("*").alias("n"),
        F.min(F.get_json_object("row_json", "$.uploadtime").cast("long")).alias("lo"),
    ).collect()[0]
    found = int(agg["n"])
    if found and agg["lo"] is not None:
        save_state(lake, format_id, oldest_ts=int(agg["lo"]))
    return {
        "batch_id": batch,
        "ranges": n_ranges,
        "replays_found": found,
        "new_replays": new_count,
        "failed_ranges": failed_ranges,
        "dropped_ranges": max(0, len(bounds) - len(keep)),
    }
