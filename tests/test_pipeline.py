"""End-to-end pipeline tests against the deterministic fake API:
discover -> download -> retry -> compact over a temp lake, asserting the
reference's lifecycle semantics (idempotence, watermark stop, failure
dead-lettering, compaction dedup) hold in the Spark formulation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pokemon_showdown_airflow_etl_spark.jobs import (
    MetadataStore,
    ReplayLake,
    compact,
    deduplicate_metadata,
    discover,
    discover_backfill,
    download,
    fix_compacted_status,
    import_existing,
    load_state,
    retry_failed,
)
from pokemon_showdown_airflow_etl_spark.sources.api import ReplayApiClient
from pokemon_showdown_airflow_etl_spark.sources.fake import (
    FakeShowdownTransport,
    make_replays,
)

FMT = "gen9ou"
N = 130  # 2 full pages + 1 short page


@pytest.fixture
def lake(tmp_path):
    return ReplayLake(str(tmp_path / "lake"))


def healthy_client(n=N):
    return ReplayApiClient(
        transport=FakeShowdownTransport({FMT: make_replays(FMT, n)}),
        sleeper=lambda s: None,
    )


def test_discover_ingests_and_is_idempotent(spark, lake):
    client = healthy_client()
    stats = discover(spark, lake, client, FMT, max_pages=10)
    assert stats["new_replays"] == N
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.count() == N
    assert meta.filter(F.col("is_downloaded")).count() == 0
    # second run: watermark stops paging on the first stale row
    stats2 = discover(spark, lake, client, FMT, max_pages=10)
    assert stats2["new_replays"] == 0 and stats2["pages_fetched"] == 1
    assert MetadataStore(spark, lake.metadata_path).read().count() == N
    assert load_state(lake, FMT)["last_seen_ts"] is not None


def test_discover_picks_up_only_new_rows(spark, lake):
    corpus = make_replays(FMT, N)
    transport = FakeShowdownTransport({FMT: corpus})
    client = ReplayApiClient(transport=transport, sleeper=lambda s: None)
    discover(spark, lake, client, FMT, max_pages=10)
    # 9 fresh replays appear with later uploadtimes
    transport.replays_by_format[FMT] = make_replays(FMT, N + 9)
    stats = discover(spark, lake, client, FMT, max_pages=10)
    assert stats["new_replays"] == 9
    assert MetadataStore(spark, lake.metadata_path).read().count() == N + 9


def test_backfill_walks_to_oldest(spark, lake):
    client = healthy_client()
    # incremental first sees everything; wipe nothing — backfill from MIN
    discover(spark, lake, client, FMT, max_pages=1)  # only newest 51
    stats = discover_backfill(spark, lake, client, FMT, max_pages=10)
    assert stats["new_replays"] == N - 51
    assert MetadataStore(spark, lake.metadata_path).read().count() == N
    assert load_state(lake, FMT)["oldest_ts"] is not None


def _tied_client(corpus, lo, hi):
    # corpus[lo:hi] (ascending uploadtime) all take corpus[lo]'s second
    for r in corpus[lo:hi]:
        r["uploadtime"] = corpus[lo]["uploadtime"]
    return ReplayApiClient(
        transport=FakeShowdownTransport({FMT: corpus}), sleeper=lambda s: None
    )


def test_discover_keeps_replays_tied_across_a_page_boundary(spark, lake):
    """Five replays share one upload time at descending positions 49-53,
    straddling the first page's end. The API's ``before`` is strict, so
    a cursor at the last row's time would skip the three past the page
    end; every replay must be discovered, each once."""
    corpus = make_replays(FMT, 120)
    client = _tied_client(corpus, 66, 71)
    stats = discover(spark, lake, client, FMT, max_pages=10)
    assert stats["new_replays"] == 120 and stats["replays_found"] == 120
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert {r["replay_id"] for r in meta.select("replay_id").collect()} == {
        r["id"] for r in corpus
    }


def test_discover_ends_on_a_full_page_of_one_second_ties(spark, lake):
    """The newest 51 replays share one second: re-asking from just
    above it returns the same page with nothing new, so the walk falls
    back to the strict cursor, reaches the older rows and ends."""
    corpus = make_replays(FMT, 60)
    client = _tied_client(corpus, 9, 60)
    stats = discover(spark, lake, client, FMT, max_pages=100)
    assert stats["pages_fetched"] == 3
    assert stats["new_replays"] == 60 and stats["replays_found"] == 60


def test_download_lands_docs_and_flags(spark, lake):
    # every 13th replay 404s permanently -> dead-lettered with Failed: prefix
    transport = FakeShowdownTransport({FMT: make_replays(FMT, N)}, dead_every=13)
    client = ReplayApiClient(transport=transport, sleeper=lambda s: None)
    discover(spark, lake, client, FMT, max_pages=10)
    stats = download(spark, lake, client, FMT, parallelism=4)
    assert stats["total"] == N
    assert stats["failed"] == len([i for i in range(N) if i % 13 == 0 and i > 0])
    assert stats["downloaded"] == N - stats["failed"]

    docs = spark.read.parquet(lake.replays_path)
    assert docs.count() == stats["downloaded"]
    assert set(docs.select("format").distinct().toPandas()["format"]) == {FMT}
    assert docs.filter(F.col("log").contains("|t:|")).count() == stats["downloaded"]

    meta = MetadataStore(spark, lake.metadata_path).read()
    failed = meta.filter(~F.coalesce("is_downloaded", F.lit(False)))
    assert failed.count() == stats["failed"]
    assert failed.filter(F.col("download_details").startswith("Failed:")).count() == stats["failed"]
    # second run re-attempts only the failures (F2 keeps them in the
    # work list — db.py:505-509) and they fail again (still 404)
    stats2 = download(spark, lake, client, FMT)
    assert stats2["total"] == stats["failed"] and stats2["downloaded"] == 0


def test_retry_recovers_healed_failures(spark, lake):
    dead = FakeShowdownTransport({FMT: make_replays(FMT, N)}, dead_every=13)
    sick = ReplayApiClient(transport=dead, sleeper=lambda s: None)
    discover(spark, lake, sick, FMT, max_pages=10)
    dl = download(spark, lake, sick, FMT, parallelism=4)
    assert dl["failed"] > 1

    # outage heals for all but replay index 26 before the retry stage
    still_dead = FakeShowdownTransport({FMT: make_replays(FMT, N)}, dead_every=26)
    healed = ReplayApiClient(transport=still_dead, sleeper=lambda s: None)
    stats = retry_failed(spark, lake, healed, FMT, parallelism=4)
    assert stats["total"] == dl["failed"]
    assert stats["failed"] == len([i for i in range(N) if i % 26 == 0 and i > 0])
    assert stats["recovered"] == dl["failed"] - stats["failed"]

    meta = MetadataStore(spark, lake.metadata_path).read()
    retried = meta.filter(F.coalesce("is_retry_attempted", F.lit(False)))
    assert retried.count() == dl["failed"]  # exactly-once retry flag
    # a second retry run finds nothing (is_retry_attempted=TRUE excluded)
    assert retry_failed(spark, lake, healed, FMT)["total"] == 0


def test_compact_groups_by_day_and_dedups(spark, lake):
    client = healthy_client()
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    stats = compact(spark, lake, FMT)
    assert stats["compacted"] == N
    assert stats["skipped_existing"] == 0

    compacted = spark.read.parquet(lake.compacted_path)
    assert compacted.count() == N
    assert compacted.select("id").distinct().count() == N
    # replays span 130 hours => 6-7 calendar days
    assert stats["dates_processed"] == compacted.select("date").distinct().count()

    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.filter(F.col("is_compacted")).count() == N
    # idempotent: re-run compacts nothing, loses nothing
    stats2 = compact(spark, lake, FMT)
    assert stats2["compacted"] == 0
    assert spark.read.parquet(lake.compacted_path).count() == N


def test_compact_incremental_day_merge(spark, lake):
    """New replays landing on an already-compacted day must merge into
    that day's partition without duplicating it (compaction.py:149-225)."""
    transport = FakeShowdownTransport({FMT: make_replays(FMT, 40)})
    client = ReplayApiClient(transport=transport, sleeper=lambda s: None)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)
    # 8 more replays, interleaved into the same days (step stays 3600)
    transport.replays_by_format[FMT] = make_replays(FMT, 48)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    stats = compact(spark, lake, FMT)
    assert stats["compacted"] == 8
    compacted = spark.read.parquet(lake.compacted_path)
    assert compacted.count() == 48
    assert compacted.select("id").distinct().count() == 48


def test_import_existing_and_fix_status(spark, lake):
    client = healthy_client(40)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)

    # wipe metadata: import_existing must rebuild it from the lake (O10)
    import shutil

    shutil.rmtree(lake.metadata_path)
    stats = import_existing(spark, lake)
    assert stats["imported"] == 40
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.filter(F.col("is_downloaded")).count() == 40
    assert meta.filter(F.col("is_compacted")).count() == 40
    # re-run: nothing new (J6 anti-join)
    assert import_existing(spark, lake)["imported"] == 0


def test_fix_compacted_status_dry_run_then_execute(spark, lake):
    client = healthy_client(40)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)

    # forge stale status: clear the compacted flag on every row (O11 setup)
    meta = MetadataStore(spark, lake.metadata_path)
    broken = (
        MetadataStore._with_month(meta.read().withColumn("is_compacted", F.lit(False)))
        .localCheckpoint(eager=True)
    )
    broken.write.partitionBy(*MetadataStore.PARTITION_COLS).mode("overwrite").parquet(
        lake.metadata_path
    )

    dry = fix_compacted_status(spark, lake, FMT, execute=False)
    assert dry == {"would_fix": 40, "fixed": 0}
    run = fix_compacted_status(spark, lake, FMT, execute=True)
    assert run["fixed"] == 40
    assert meta.read().filter(F.col("is_compacted")).count() == 40


def test_deduplicate_metadata(spark, lake):
    client = healthy_client(20)
    discover(spark, lake, client, FMT, max_pages=10)
    meta = MetadataStore(spark, lake.metadata_path)
    # forge duplicates by double-appending
    MetadataStore._with_month(meta.read()).localCheckpoint(eager=True).write.partitionBy(
        *MetadataStore.PARTITION_COLS
    ).mode("append").parquet(lake.metadata_path)
    assert meta.read().count() == 40
    stats = deduplicate_metadata(spark, lake)
    assert stats["duplicate_keys"] == 20 and stats["rows_removed"] == 20
    assert meta.read().count() == 20


def test_two_formats_stay_partition_isolated(spark, lake):
    """Jobs for one format must not disturb another format's partitions
    (the property dynamic partition overwrite is there to protect)."""
    t1 = FakeShowdownTransport({"gen9ou": make_replays("gen9ou", 30)})
    t2 = FakeShowdownTransport({"gen9uu": make_replays("gen9uu", 20, t0=1_700_500_000)})
    c1 = ReplayApiClient(transport=t1, sleeper=lambda s: None)
    c2 = ReplayApiClient(transport=t2, sleeper=lambda s: None)

    discover(spark, lake, c1, "gen9ou", max_pages=10)
    discover(spark, lake, c2, "gen9uu", max_pages=10)
    download(spark, lake, c1, "gen9ou", parallelism=4)
    compact(spark, lake, "gen9ou")
    # second format's full run must leave gen9ou's lake + flags intact
    download(spark, lake, c2, "gen9uu", parallelism=4)
    compact(spark, lake, "gen9uu")

    meta = MetadataStore(spark, lake.metadata_path).read()
    by_fmt = {r["format_id"]: r for r in meta.groupBy("format_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_compacted").cast("int")).alias("n_comp"),
    ).collect()}
    assert by_fmt["gen9ou"]["n"] == 30 and by_fmt["gen9ou"]["n_comp"] == 30
    assert by_fmt["gen9uu"]["n"] == 20 and by_fmt["gen9uu"]["n_comp"] == 20
    compacted = spark.read.parquet(lake.compacted_path)
    assert compacted.filter(F.col("format") == "gen9ou").count() == 30
    assert compacted.filter(F.col("format") == "gen9uu").count() == 20


def test_timing_instrumentation_wraps_stage(spark, lake, capsys):
    from pokemon_showdown_airflow_etl_spark.functions.metrics import (
        throughput,
        time_process,
    )

    client = healthy_client(20)
    with time_process("discover", spark=spark, format_id=FMT) as stats:
        out = discover(spark, lake, client, FMT, max_pages=10)
        stats.update(out)
    err = capsys.readouterr().err.strip().splitlines()
    import json

    rec = json.loads(err[-1])
    assert rec["section"] == "discover" and rec["new_replays"] == 20
    assert rec["seconds"] > 0
    tp = throughput(rec["new_replays"], rec["seconds"])
    assert tp["per_second"] > 0


def test_parallel_backfill_partitions_time_ranges(spark, lake):
    """Distributed cursor-range backfill: disjoint [start, end) windows
    fetched concurrently must find exactly the sequential result —
    everything below the low watermark, no duplicates."""
    from pokemon_showdown_airflow_etl_spark.jobs import discover_backfill_parallel

    n = 300  # 300 hourly replays ~ 12.5 days
    client = healthy_client(n)
    discover(spark, lake, client, FMT, max_pages=1)  # newest 51 seed the watermark
    stats = discover_backfill_parallel(
        spark, lake, client, FMT, window_s=3 * 86_400, n_ranges=5
    )
    assert stats["new_replays"] == n - 51
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.count() == n
    assert meta.select("replay_id").distinct().count() == n
    # idempotent: the same windows re-fetch but insert nothing
    stats2 = discover_backfill_parallel(
        spark, lake, client, FMT, window_s=3 * 86_400, n_ranges=5
    )
    assert stats2["new_replays"] == 0


def test_discover_ignore_history_rescans_but_stays_idempotent(spark, lake):
    """ignore_history=True disables the watermark cutoff (full re-page,
    discovery.py params) but the anti-join still inserts nothing twice."""
    client = healthy_client(60)
    discover(spark, lake, client, FMT, max_pages=10)
    stats = discover(spark, lake, client, FMT, max_pages=10, ignore_history=True)
    assert stats["replays_found"] == 60  # re-paged everything
    assert stats["new_replays"] == 0  # inserted nothing
    assert MetadataStore(spark, lake.metadata_path).read().count() == 60


def test_audit_lake_detects_and_clears_violations(spark, lake):
    from pokemon_showdown_airflow_etl_spark.jobs import (
        audit_lake,
        fix_compacted_status,
        reset_format_state,
        load_state,
    )

    client = healthy_client(30)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)
    audit = audit_lake(spark, lake)
    assert audit["ok"], audit

    # forge corruption: clear every is_downloaded flag -> two invariants break
    meta = MetadataStore(spark, lake.metadata_path)
    broken = meta.read().withColumn("is_downloaded", F.lit(False)).localCheckpoint(eager=True)
    broken.write.partitionBy("format_id").mode("overwrite").parquet(lake.metadata_path)
    audit = audit_lake(spark, lake)
    assert not audit["ok"]
    assert audit["compacted_not_downloaded"] == 30

    # state reset clears the cursor checkpoint
    assert load_state(lake, FMT)["last_seen_ts"] is not None
    assert reset_format_state(lake, FMT) == {"reset": True}
    assert load_state(lake, FMT)["last_seen_ts"] is None
    assert reset_format_state(lake, FMT) == {"reset": False}


def test_sql_surface_over_lake_views(spark, lake):
    """The reference queries SQLite with raw SQL; the engine exposes the
    same surface — its literal queries (translated) run via spark.sql
    over the registered lake views."""
    from pokemon_showdown_airflow_etl_spark.jobs import register_lake_views

    client = healthy_client(40)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)
    views = register_lake_views(spark, lake)
    assert views == ["replay_status", "replays", "compacted_replays"]

    # db.py:505-509 (undownloaded work list)
    n_undl = spark.sql(
        f"SELECT count(*) FROM replay_status WHERE format_id = '{FMT}' AND NOT is_downloaded"
    ).first()[0]
    assert n_undl == 0
    # db.py:642-651 (lifecycle stats)
    row = spark.sql("""
        SELECT count(*) AS total,
               sum(CASE WHEN is_downloaded THEN 1 ELSE 0 END) AS downloaded,
               sum(CASE WHEN is_compacted THEN 1 ELSE 0 END) AS compacted
        FROM replay_status
    """).first()
    assert (row["total"], row["downloaded"], row["compacted"]) == (40, 40, 40)
    # db.py:590-594 (high watermark) against the raw lake join
    hw = spark.sql("""
        SELECT max(s.uploadtime) FROM replay_status s
        JOIN replays r ON s.replay_id = r.id
    """).first()[0]
    assert hw == spark.sql("SELECT max(uploadtime) FROM compacted_replays").first()[0]


def test_metadata_upsert_rows_full_row_replace(spark, lake):
    """K3 INSERT OR REPLACE (db.py:230-236): same-key rows are replaced
    whole (unspecified columns become the new row's values, here NULL),
    new keys append, other partitions untouched."""
    from pokemon_showdown_airflow_etl_spark.jobs import discover
    from pokemon_showdown_airflow_etl_spark.schemas import REPLAY_STATUS

    client = healthy_client(10)
    discover(spark, lake, client, FMT, max_pages=5)
    meta = MetadataStore(spark, lake.metadata_path)

    def status_row(rid, fmt, uploadtime, players):
        base = {f.name: None for f in REPLAY_STATUS.fields}
        base.update(
            replay_id=rid, format_id=fmt, uploadtime=uploadtime, players=players,
            is_downloaded=True, download_details="Replaced",
        )
        return tuple(base[f.name] for f in REPLAY_STATUS.fields)

    rows = spark.createDataFrame(
        [status_row("gen9ou-1000", FMT, 999, "x vs y"),       # replaces
         status_row("gen9ou-9999", FMT, 1_800_000_000, "a vs b")],  # appends
        REPLAY_STATUS,
    )
    meta.upsert_rows(rows)
    out = meta.read()
    assert out.count() == 11
    replaced = out.filter(F.col("replay_id") == "gen9ou-1000").first()
    assert replaced["uploadtime"] == 999
    assert replaced["download_details"] == "Replaced"
    assert replaced["discovered_batch"] is None  # full-row replace, not patch
    assert out.filter(F.col("replay_id") == "gen9ou-9999").count() == 1


def test_two_scheduled_daily_runs(spark, lake):
    """Simulate the daily schedule (O1): day-1 run processes the initial
    corpus; overnight 24 more replays appear; the day-2 run ingests,
    downloads and compacts exactly the delta, merging into existing day
    partitions without touching finished ones."""
    transport = FakeShowdownTransport({FMT: make_replays(FMT, 72)})
    client = ReplayApiClient(transport=transport, sleeper=lambda s: None)
    from pokemon_showdown_airflow_etl_spark.jobs import run_daily_pipeline

    day1 = run_daily_pipeline(spark, lake, client, FMT, max_pages=10)
    assert day1["discover"]["new_replays"] == 72
    assert day1["compact"]["compacted"] == 72

    transport.replays_by_format[FMT] = make_replays(FMT, 96)  # +24 hours
    day2 = run_daily_pipeline(spark, lake, client, FMT, max_pages=10)
    assert day2["discover"]["new_replays"] == 24
    assert day2["download"]["total"] == 24
    assert day2["compact"]["compacted"] == 24
    assert day2["compact"]["skipped_existing"] == 0

    compacted = spark.read.parquet(lake.compacted_path)
    assert compacted.count() == 96
    assert compacted.select("id").distinct().count() == 96
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.filter(F.col("is_compacted")).count() == 96


def test_compact_survives_duplicate_raw_docs(spark, lake):
    """Crash-recovery property: if a download attempt dies between the
    lake append and the metadata patch, a rerun re-fetches and appends
    the same documents again. The raw lake tolerates duplicates; the
    compaction dropDuplicates + anti-join guarantees the compacted lake
    never does."""
    client = healthy_client(20)
    discover(spark, lake, client, FMT, max_pages=5)
    download(spark, lake, client, FMT, parallelism=4)
    # simulate the re-appended docs of an interrupted run
    docs = spark.read.parquet(lake.replays_path).localCheckpoint(eager=True)
    docs.write.partitionBy("format", "date").mode("append").parquet(lake.replays_path)
    assert spark.read.parquet(lake.replays_path).count() == 40  # duplicated

    stats = compact(spark, lake, FMT)
    assert stats["compacted"] == 20
    compacted = spark.read.parquet(lake.compacted_path)
    assert compacted.count() == 20
    assert compacted.select("id").distinct().count() == 20


def test_parallel_backfill_failed_range_never_creates_gaps(spark, lake):
    """A transport outage inside one backfill range must not let older
    ranges advance the low watermark past the un-fetched window: rows
    below the first incomplete range are dropped, the failure is
    reported, and a healthy re-run recovers the full history."""
    from pokemon_showdown_airflow_etl_spark.jobs import discover_backfill_parallel

    n = 300
    replays = make_replays(FMT, n)
    base = FakeShowdownTransport({FMT: replays})
    window_s = 3 * 86_400
    # watermark seeds to the newest page first
    discover(spark, lake, client=ReplayApiClient(transport=base, sleeper=lambda s: None),
             format_id=FMT, max_pages=1)
    oldest = (
        MetadataStore(spark, lake.metadata_path)
        .read().agg(F.min("uploadtime")).collect()[0][0]
    )
    # range index 1 ([oldest-2w, oldest-1w)) permanently 500s on search
    lo, hi = oldest - 2 * window_s, oldest - 1 * window_s

    class RangeOutage:
        def __init__(self, inner):
            self.inner = inner

        def __call__(self, url, ct, rt):
            if "/search.json" in url and "before=" in url:
                before = int(url.rsplit("before=", 1)[1])
                if lo < before <= hi:
                    return 500, "outage"
            return self.inner(url, ct, rt)

    client = ReplayApiClient(transport=RangeOutage(base), sleeper=lambda s: None)
    stats = discover_backfill_parallel(
        spark, lake, client, FMT, window_s=window_s, n_ranges=5
    )
    assert stats["failed_ranges"], "outage range must be reported"
    assert stats["dropped_ranges"] >= 1
    meta = MetadataStore(spark, lake.metadata_path).read()
    # nothing below the failed range may have landed: the low watermark
    # (MIN uploadtime) must still sit at-or-above the failed range floor
    low = meta.agg(F.min("uploadtime")).collect()[0][0]
    assert low >= lo, f"history gap: watermark {low} jumped below failed range floor {lo}"
    # healthy re-run drains everything the outage withheld
    healthy = ReplayApiClient(transport=base, sleeper=lambda s: None)
    for _ in range(4):
        discover_backfill_parallel(spark, lake, healthy, FMT, window_s=window_s, n_ranges=5)
    meta = MetadataStore(spark, lake.metadata_path).read()
    assert meta.count() == n
    assert meta.select("replay_id").distinct().count() == n


def test_patch_rewrites_only_touched_month_partitions(spark, lake):
    """The metadata table is sub-partitioned by (format_id, uploadtime
    month); a lifecycle patch must rewrite ONLY the month partitions
    its keys live in — untouched months' files stay byte-identical —
    and the swap must leave no staging/backup litter behind."""
    import hashlib
    import os

    # 90 hourly-ish replays spread across ~4 months (step 1 day)
    n = 90
    client = ReplayApiClient(
        transport=FakeShowdownTransport({FMT: make_replays(FMT, n, step=86_400)}),
        sleeper=lambda s: None,
    )
    discover(spark, lake, client, FMT, max_pages=10)
    meta = MetadataStore(spark, lake.metadata_path)

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
        return out

    month_dirs = sorted(
        d for d in os.listdir(os.path.join(lake.metadata_path, f"format_id={FMT}"))
        if d.startswith("um=")
    )
    assert len(month_dirs) >= 3, f"test premise: multi-month table, got {month_dirs}"
    before = snapshot(lake.metadata_path)

    # patch exactly the replays of the NEWEST month
    newest = month_dirs[-1]
    raw = spark.read.parquet(lake.metadata_path)
    keys = raw.filter(F.col("um") == newest.split("=")[1]).select("replay_id")
    n_keys = keys.count()  # materialize before the swap replaces the files
    patch = keys.localCheckpoint(eager=True).withColumn("is_downloaded", F.lit(True))
    meta.patch(patch, FMT)

    after = snapshot(lake.metadata_path)
    touched_prefix = os.path.join(f"format_id={FMT}", newest)
    for rel, digest in before.items():
        if rel.startswith(touched_prefix) or os.path.basename(rel) == "_SUCCESS":
            continue
        assert after.get(rel) == digest, f"untouched partition file changed: {rel}"
    # the patched month did change, and the patch took effect
    assert any(
        rel.startswith(touched_prefix) and before.get(rel) != after.get(rel)
        for rel in set(before) | set(after)
    )
    got = meta.read().filter(F.col("is_downloaded")).count()
    assert got == n_keys
    # no litter from the swap
    assert not os.path.exists(lake.metadata_path + "__staging")
    leftovers = [
        os.path.join(dp, d)
        for dp, dirs, _f in os.walk(lake.metadata_path)
        for d in dirs
        if d.startswith(".swap-")
    ]
    assert leftovers == []


def test_cleanup_lake_removes_litter_and_restores_lost_swaps(spark, lake):
    """cleanup_lake must sweep crashed-write litter (_temporary,
    __staging, .swap-*) and restore a partition stranded mid-swap,
    after which the audit comes back clean."""
    import os

    from pokemon_showdown_airflow_etl_spark.jobs import audit_lake, cleanup_lake

    client = healthy_client(30)
    discover(spark, lake, client, FMT, max_pages=10)
    download(spark, lake, client, FMT, parallelism=4)
    compact(spark, lake, FMT)
    meta = MetadataStore(spark, lake.metadata_path)
    n_before = meta.read().count()

    # forge crash litter
    os.makedirs(os.path.join(lake.replays_path, "_temporary", "0"), exist_ok=True)
    os.makedirs(lake.metadata_path + "__staging", exist_ok=True)
    fmt_dir = os.path.join(lake.metadata_path, f"format_id={FMT}")
    months = [d for d in os.listdir(fmt_dir) if d.startswith("um=")]
    # a swap that died between rename-away and rename-in: live dir gone
    lost = os.path.join(fmt_dir, months[0])
    os.rename(lost, os.path.join(fmt_dir, ".swap-" + months[0]))
    # and one stale backup whose live partition still exists
    if len(months) > 1:
        import shutil

        shutil.copytree(
            os.path.join(fmt_dir, months[1]),
            os.path.join(fmt_dir, ".swap-" + months[1]),
        )

    stats = cleanup_lake(lake)
    assert stats["restored"] == 1
    assert stats["removed"] >= 2  # _temporary + __staging (+ stale swap)
    assert not os.path.exists(lake.metadata_path + "__staging")
    assert not any(d.startswith(".swap-") for d in os.listdir(fmt_dir))
    # the stranded partition is back and the table is whole again
    assert meta.read().count() == n_before
    audit = audit_lake(spark, lake)
    assert audit["duplicate_keys"] == 0


def test_optimize_lake_coalesces_files_per_partition(spark, lake):
    import glob
    import os

    from pokemon_showdown_airflow_etl_spark.jobs import optimize_lake

    client = healthy_client(40)
    discover(spark, lake, client, FMT, max_pages=10)
    # two append rounds -> multiple files per (format, date) partition
    download(spark, lake, client, FMT, parallelism=4)
    n_docs = spark.read.parquet(lake.replays_path).count()
    stats = optimize_lake(spark, lake, target_files_per_partition=1)
    assert stats["rewritten"] == n_docs
    assert stats["partitions"] > 0
    # every leaf partition now holds exactly one data file
    for day_dir in glob.glob(os.path.join(lake.replays_path, "format=*", "date=*")):
        files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
        assert len(files) == 1, f"{day_dir} has {len(files)} files"
    assert spark.read.parquet(lake.replays_path).count() == n_docs
