"""The signature lake's sketch facet (VERDICT r9 item 7): per-batch
HLL registers + KMV bottom-k rows persist at ingest, compaction REDUCES
them by the merge laws (max per register / bottom-k of unions), and the
merged stored sketch always equals the sketch computed from scratch
over everything ingested."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
    SKETCH_TABLE,
    batch_sketch_rows,
    compact_signature_corpus,
    ingest_signature_batch,
    merge_sketch_rows,
    read_corpus_sketch,
)


def _docs(spark, lo, hi, salt=""):
    rows = [
        (i, f"{salt}tok{i}a tok{i}b tok{i}c shared words here {i}")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ingest_persists_sketch_and_merge_equals_from_scratch(spark, tmp_path):
    root = str(tmp_path / "sig")
    a, b = _docs(spark, 0, 40), _docs(spark, 40, 75, salt="x")
    ingest_signature_batch(spark, a, root, "day1")
    ingest_signature_batch(spark, b, root, "day2")
    assert os.path.exists(
        os.path.join(root, SKETCH_TABLE, "batch=day1", "_SUCCESS")
    )
    merged = read_corpus_sketch(spark, root, k=32)
    scratch = batch_sketch_rows(a.unionAll(b), k=32)
    assert _rows(merged) == _rows(scratch)
    # merging is idempotent: re-merging the merged sketch is a no-op
    assert _rows(merge_sketch_rows(merged, k=32)) == _rows(merged)


def test_compaction_reduces_sketches_without_changing_the_merge(spark, tmp_path):
    root = str(tmp_path / "sig")
    parts = [(0, 30), (30, 55), (55, 90)]
    for i, (lo, hi) in enumerate(parts):
        ingest_signature_batch(spark, _docs(spark, lo, hi), root, f"day{i}")
    before = _rows(read_corpus_sketch(spark, root, k=32))

    st = compact_signature_corpus(spark, root, min_batches=2)
    assert st["n_batches_consolidated"] == 3
    # one consolidated sketch partition, bounded (<= 64 HLL + k KMV
    # rows), the per-day partitions gone
    sk_parts = sorted(os.listdir(os.path.join(root, SKETCH_TABLE)))
    assert len(sk_parts) == 1 and sk_parts[0].startswith("batch=compact-")
    stored = spark.read.parquet(os.path.join(root, SKETCH_TABLE, sk_parts[0]))
    assert stored.count() <= 64 + 512
    assert _rows(read_corpus_sketch(spark, root, k=32)) == before

    # and the lake keeps growing after compaction: a new batch's sketch
    # merges with the consolidated one
    ingest_signature_batch(spark, _docs(spark, 90, 120, salt="z"), root, "day9")
    grown = read_corpus_sketch(spark, root, k=32)
    scratch = batch_sketch_rows(
        _docs(spark, 0, 90).unionAll(_docs(spark, 90, 120, salt="z")), k=32
    )
    assert _rows(grown) == _rows(scratch)


def test_pre_facet_batches_without_sketches_are_tolerated(spark, tmp_path):
    """A lake whose early batches predate the sketch facet has no
    sketches/ partition for them — readers merge what exists and
    compaction must not crash on the gap."""
    import shutil

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _docs(spark, 0, 20), root, "old")
    shutil.rmtree(os.path.join(root, SKETCH_TABLE, "batch=old"))
    assert read_corpus_sketch(spark, root) is None

    ingest_signature_batch(spark, _docs(spark, 20, 45), root, "new")
    got = read_corpus_sketch(spark, root, k=32)
    assert _rows(got) == _rows(batch_sketch_rows(_docs(spark, 20, 45), k=32))

    st = compact_signature_corpus(spark, root, min_batches=2)
    assert st["n_batches_consolidated"] == 2
    assert _rows(read_corpus_sketch(spark, root, k=32)) == _rows(
        batch_sketch_rows(_docs(spark, 20, 45), k=32)
    )


def test_sketch_covers_considered_docs_not_just_survivors(spark, tmp_path):
    """Intake statistics are a pure function of what ARRIVED: a batch
    full of near-dups of the corpus still contributes its docs to the
    sketch even though none of them register as survivors."""
    root = str(tmp_path / "sig")
    a = _docs(spark, 0, 25)
    ingest_signature_batch(spark, a, root, "day1")
    # day2 re-sends day1's texts under NEW ids -> all dup_of_corpus
    dups = a.select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
    )
    st = ingest_signature_batch(spark, dups, root, "day2")
    assert st["n_accepted"] == 0 and st["n_dup_of_corpus"] == 25
    merged = read_corpus_sketch(spark, root, k=64)
    scratch = batch_sketch_rows(a.unionAll(dups), k=64)
    assert _rows(merged) == _rows(scratch)
    # the KMV leg saw all 50 considered docs
    assert merged.filter(F.col("kind") == "kmv").count() == 50


def test_corpus_sketch_stats_serves_estimates_from_stored_rows(spark, tmp_path):
    """The operational read (cli sketch-stats): distinct-content
    estimate within HLL error of the true count, and — because the
    corpus is smaller than k — EXACT nearest-rank length quantiles."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        corpus_sketch_stats,
    )

    root = str(tmp_path / "sig")
    assert corpus_sketch_stats(spark, root)["has_sketch"] is False

    docs = _docs(spark, 0, 60).unionAll(_docs(spark, 60, 100, salt="y"))
    ingest_signature_batch(spark, docs.filter("doc_id < 50"), root, "d1")
    ingest_signature_batch(spark, docs.filter("doc_id >= 50"), root, "d2")
    st = corpus_sketch_stats(spark, root)
    assert st["has_sketch"] and st["n_kmv_sample"] == 100
    est = st["distinct_content_est_milli"] / 1000.0
    assert abs(est - 100) / 100 < 0.45, f"HLL estimate {est} too far from 100"
    lens = sorted(
        len(r["text"]) for r in docs.select("text").collect()
    )
    for q_bp, got in st["len_quantiles_bp"].items():
        assert got == lens[(int(q_bp) * 99) // 10000]


def test_kmv_merge_dedupes_crash_window_duplicates(spark, tmp_path):
    """During the compaction crash window the consolidated partition's
    rows are read alongside the not-yet-removed partitions they replaced,
    so every KMV row arrives twice. HLL is idempotent under max, but the
    KMV rank must dedupe identical (h, k, v) rows or the sample
    degenerates to ~bottom-k/2-each-twice (ADVICE r10)."""
    a, b = _docs(spark, 0, 40), _docs(spark, 40, 75, salt="x")
    sk_a, sk_b = batch_sketch_rows(a, k=32), batch_sketch_rows(b, k=32)
    clean = merge_sketch_rows(sk_a.unionAll(sk_b), k=32)
    # the crash-window read: both originals AND their merge
    window = sk_a.unionAll(sk_b).unionAll(clean)
    assert _rows(merge_sketch_rows(window, k=32)) == _rows(clean)
    kmv = merge_sketch_rows(window, k=32).filter(F.col("kind") == "kmv")
    assert kmv.count() == 32
    assert kmv.select("h").distinct().count() == 32


# --- additive facets: bigram LM (lm/) and count-min (cms/) ------------------


def test_lm_facet_merged_equals_from_scratch_and_serves_same_nll(spark, tmp_path):
    """The LM facet's whole point (VERDICT r10 item 4): per-batch
    bigram counts merged by SUM + distinct vocab must equal training
    from scratch on everything ingested, and scoring under the stored
    model must be BIT-identical to t25's self-trained scoring."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        read_corpus_lm,
    )
    from pokemon_showdown_airflow_etl_spark.operators.text import (
        bigram_lm_rows,
        bigram_logprob,
        bigram_nll_with_lm,
        merge_lm_rows,
    )

    root = str(tmp_path / "sig")
    a, b = _docs(spark, 0, 40), _docs(spark, 40, 75, salt="x")
    ingest_signature_batch(spark, a, root, "day1")
    ingest_signature_batch(spark, b, root, "day2")
    union = a.unionAll(b)
    lm = read_corpus_lm(spark, root)
    assert _rows(lm) == _rows(bigram_lm_rows(union))
    # merging the merged rows again is a no-op (single-count sums)
    assert _rows(merge_lm_rows(lm)) == _rows(lm)
    assert _rows(bigram_nll_with_lm(union, lm)) == _rows(bigram_logprob(union))


def test_lm_scoring_smooths_unseen_bigrams_and_contexts(spark, tmp_path):
    """Docs OUTSIDE the training corpus score under add-one smoothing:
    seen bigram -> (c2+1)/(c1+V), unseen bigram with seen context ->
    1/(c1+V), unseen context -> 1/V — each quantized to micro-units
    exactly like the trained table."""
    import math

    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        read_corpus_lm,
    )
    from pokemon_showdown_airflow_etl_spark.operators.text import (
        bigram_nll_with_lm,
    )

    def round_half_away(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _docs(spark, 0, 40), root, "day1")
    lm = read_corpus_lm(spark, root)
    rows = lm.collect()
    c2 = {(r["w1"], r["w2"]): r["n"] for r in rows if r["kind"] == "bigram"}
    c1: dict[str, int] = {}
    for (w1, _), n in c2.items():
        c1[w1] = c1.get(w1, 0) + n
    v = sum(1 for r in rows if r["kind"] == "vocab")

    def micro(w1, w2):
        return round_half_away(
            math.log((c2.get((w1, w2), 0) + 1.0) / (c1.get(w1, 0) + v))
            * 1_000_000
        )

    probe = spark.createDataFrame(
        [
            (1, "shared words here"),          # both bigrams seen
            (2, "shared unseenzz"),            # seen context, unseen bigram
            (3, "unseenaa unseenbb unseenaa"), # nothing seen
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_micro"])
        for r in bigram_nll_with_lm(probe, lm).collect()
    }
    assert got[1] == (2, -(micro("shared", "words") + micro("words", "here")))
    assert got[2] == (1, -micro("shared", "unseenzz"))
    assert got[3] == (
        2,
        -(micro("unseenaa", "unseenbb") + micro("unseenbb", "unseenaa")),
    )
    # sanity on the smoothing ladder: seen bigram is likelier than
    # unseen-with-seen-context, which is likelier than unseen context
    assert micro("shared", "words") > micro("shared", "unseenzz")


def test_cms_facet_merged_equals_from_scratch_with_sound_estimates(
    spark, tmp_path
):
    """Per-batch md5-variant CMS cells merged by SUM equal the sketch
    built from scratch over everything ingested, and the stored
    estimates obey the CMS laws for a known heavy gram."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        CMS_DEPTH,
        CMS_WIDTH,
        batch_cms_rows,
        corpus_sketch_stats,
        read_corpus_cms,
    )
    from pokemon_showdown_airflow_etl_spark.operators.sketches import (
        cms_estimate_md5,
        merge_cms_rows,
    )

    root = str(tmp_path / "sig")
    a, b = _docs(spark, 0, 40), _docs(spark, 40, 75, salt="x")
    ingest_signature_batch(spark, a, root, "day1")
    ingest_signature_batch(spark, b, root, "day2")
    union = a.unionAll(b)
    cms = read_corpus_cms(spark, root)
    assert _rows(cms) == _rows(batch_cms_rows(union))
    assert _rows(merge_cms_rows(cms)) == _rows(cms)
    # every doc contributes one 'shared words' bigram occurrence
    cand = spark.createDataFrame([("shared words",)], "gram string")
    est = cms_estimate_md5(cand, cms, "gram", CMS_DEPTH, CMS_WIDTH).collect()[0][
        "est"
    ]
    n_total = cms.agg(F.sum("cnt")).collect()[0][0] / CMS_DEPTH
    assert 75 <= est <= 75 + (4.0 / CMS_WIDTH) * n_total
    # the operational read serves the same number
    st = corpus_sketch_stats(spark, root, grams=["shared words"])
    assert st["gram_est"]["shared words"] == est


def _lang_docs(spark, lo, hi, salt=""):
    # with the segment column, so ingest writes the hllg facet too
    return _docs(spark, lo, hi, salt).withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de")
    )


def _facet_reads(spark, root):
    """Every registered facet's served rows by table — estats is the
    embedding lake's facet and has no partition here."""
    from pokemon_showdown_airflow_etl_spark.jobs import doc_signature_lake as L

    readers = {
        L.SKETCH_TABLE: L.read_corpus_sketch,
        L.LM_TABLE: L.read_corpus_lm,
        L.CMS_TABLE: L.read_corpus_cms,
        L.HH_TABLE: L.read_corpus_hh,
        L.BLOOM_TABLE: L.read_corpus_bloom,
        L.HLLG_TABLE: L.read_corpus_grouped_hll,
        L.HIST_TABLE: L.read_corpus_hist,
    }
    assert set(readers) == set(L.FACETS) - {L.ESTATS_TABLE}
    return {t: _rows(read(spark, root)) for t, read in readers.items()}


def test_compaction_reduces_additive_facets_without_changing_the_merge(
    spark, tmp_path
):
    """Every facet the lake holds ends as exactly one consolidated
    partition whose served rows equal the pre-compaction merge."""
    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _lang_docs(spark, 0, 40), root, "day1")
    ingest_signature_batch(
        spark, _lang_docs(spark, 40, 75, salt="x"), root, "day2"
    )
    clean = _facet_reads(spark, root)
    st = compact_signature_corpus(spark, root, min_batches=2)
    assert st["n_batches_consolidated"] == 2
    for table in clean:
        parts = [
            d for d in os.listdir(os.path.join(root, table))
            if d.startswith("batch=")
        ]
        assert len(parts) == 1 and parts[0].startswith("batch=compact-")
    assert _facet_reads(spark, root) == clean


def test_additive_facets_exclude_crash_window_batches(spark, tmp_path):
    """The compaction crash window (consolidated batch committed, old
    partitions not yet removed) would DOUBLE additive counts — unlike
    the max/bottom-k sketch, summing can't heal by idempotence, so the
    readers must exclude manifest-replaced batches explicitly. Every
    facet reads the same partitions and serves its clean rows."""
    import shutil

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _lang_docs(spark, 0, 40), root, "day1")
    ingest_signature_batch(
        spark, _lang_docs(spark, 40, 75, salt="x"), root, "day2"
    )
    clean = _facet_reads(spark, root)
    snap = str(tmp_path / "snap")
    shutil.copytree(root, snap)
    compact_signature_corpus(spark, root, min_batches=2)
    # restore the replaced batches' partitions as the crash left them
    for b in ("day1", "day2"):
        for table in ("members", *clean):
            shutil.copytree(
                os.path.join(snap, table, f"batch={b}"),
                os.path.join(root, table, f"batch={b}"),
            )
    assert _facet_reads(spark, root) == clean


def test_hh_facet_serves_heavy_hitters_from_stored_rows(spark, tmp_path):
    """The end-to-end stored-row serve (a8): a planted heavy gram that
    dominates BOTH batches must come out of lake_heavy_hitters rank-1
    with a CMS-law-sound estimate, with no corpus access on the read
    path (both facets are tiny stored row sets)."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        batch_hh_rows,
        lake_heavy_hitters,
        merge_hh_rows,
        read_corpus_hh,
    )

    root = str(tmp_path / "sig")
    a, b = _docs(spark, 0, 40), _docs(spark, 40, 75, salt="x")
    ingest_signature_batch(spark, a, root, "day1")
    ingest_signature_batch(spark, b, root, "day2")
    union = a.unionAll(b)
    # merged candidates = distinct union of per-batch top-m, n by max
    merged = read_corpus_hh(spark, root)
    scratch = merge_hh_rows(
        batch_hh_rows(a).unionAll(batch_hh_rows(b))
    )
    assert _rows(merged) == _rows(scratch)
    # idempotent: re-merging (the compaction crash window) is a no-op
    assert _rows(merge_hh_rows(merged.unionAll(merged))) == _rows(merged)

    hh = lake_heavy_hitters(spark, root, topk=5).orderBy("rank").collect()
    assert len(hh) == 5
    # 'shared words' / 'words here' appear once per doc (75x) — the
    # corpus-wide heavy hitters; CMS never underestimates
    top_grams = {r["gram"] for r in hh[:2]}
    assert top_grams == {"shared words", "words here"}
    assert all(r["est"] >= 75 for r in hh[:2])

    # the operational read serves the same rows
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        corpus_sketch_stats,
    )

    st = corpus_sketch_stats(spark, root, top_grams=5)
    assert st["top_grams"] == [
        [r["gram"], r["est"], r["rank"]] for r in hh
    ]

    # pre-facet corpus: no hh/ partitions -> None / empty serve
    import shutil

    shutil.rmtree(os.path.join(root, "hh"))
    assert lake_heavy_hitters(spark, root) is None
    assert corpus_sketch_stats(spark, root, top_grams=5)["top_grams"] == []


def test_ingest_facets_off_commits_like_a_pre_facet_batch(spark, tmp_path):
    """facets=False skips the intake facets but changes NOTHING about
    admission: the batch commits, dedup still sees its survivors, and
    every facet reader simply skips it."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        lake_heavy_hitters,
        read_corpus_cms,
        read_corpus_lm,
    )

    root = str(tmp_path / "sig")
    st = ingest_signature_batch(
        spark, _docs(spark, 0, 30), root, "lean", facets=False
    )
    assert st["n_accepted"] == 30
    for table in ("sketches", "lm", "cms", "hh"):
        assert not os.path.exists(os.path.join(root, table, "batch=lean"))
    assert read_corpus_sketch(spark, root) is None
    assert read_corpus_lm(spark, root) is None
    assert read_corpus_cms(spark, root) is None
    assert lake_heavy_hitters(spark, root) is None
    # a later faceted batch serves ITS facet while dedup covers both
    st2 = ingest_signature_batch(spark, _docs(spark, 30, 50), root, "full")
    assert st2["n_accepted"] == 20
    assert read_corpus_lm(spark, root) is not None
    dup = ingest_signature_batch(
        spark,
        _docs(spark, 0, 30).select(
            (F.col("doc_id") + 900).alias("doc_id"), "text"
        ),
        root,
        "resend",
    )
    assert dup["n_dup_of_corpus"] == 30


def test_cms_estimate_reports_zero_for_absent_keys_with_untouched_cells(
    spark, tmp_path
):
    """Canonical CMS: an absent key with ANY untouched cell estimates
    0 — the row-set join must coalesce missing cells to 0 instead of
    taking the min over collision counts only (review finding r11)."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        CMS_DEPTH,
        CMS_WIDTH,
        batch_cms_rows,
    )
    from pokemon_showdown_airflow_etl_spark.operators.sketches import (
        cms_estimate_md5,
    )

    tiny = _docs(spark, 0, 3)  # ~18 gram types -> ~93% of cells untouched
    cms = batch_cms_rows(tiny)
    cand = spark.createDataFrame(
        [("never seen",), ("shared words",)], "gram string"
    )
    est = {
        r["gram"]: r["est"]
        for r in cms_estimate_md5(cand, cms, "gram", CMS_DEPTH, CMS_WIDTH).collect()
    }
    assert est["never seen"] == 0
    assert est["shared words"] >= 3


def test_facet_coverage_tracks_pre_facet_batches(spark, tmp_path):
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        corpus_sketch_stats,
        facet_coverage,
    )

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _docs(spark, 0, 20), root, "old", facets=False)
    assert facet_coverage(root, "lm") == (0, 1)
    ingest_signature_batch(spark, _docs(spark, 20, 40), root, "new")
    assert facet_coverage(root, "lm") == (1, 2)
    st = corpus_sketch_stats(spark, root)
    assert st["facet_coverage"] == {
        "sketches": [1, 2], "lm": [1, 2], "cms": [1, 2], "hh": [1, 2],
        "bloom": [1, 2], "hist": [1, 2],
        # these docs carry no lang column, so no batch wrote hllg/
        "hllg": [0, 2],
    }


def _gdocs(spark, lo, hi, salt=""):
    rows = [
        (
            i,
            f"{salt}gtok{i}a gtok{i}b gtok{i}c grouped words {i}",
            ["en", "fr", "es"][i % 3],
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_hllg_facet_merged_equals_from_scratch_and_serves_overlap(
    spark, tmp_path
):
    """The grouped-HLL facet (VERDICT r11 item 6): per-batch per-segment
    registers persist at ingest, merge by max-per-(group, register) to
    the from-scratch grouped sketch, compaction reduces without
    changing the merge, and the pairwise-overlap serve reads STORED
    rows only. Docs without the group column simply write no hllg
    partition (pre-facet tolerance)."""
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        HLLG_TABLE,
        batch_hllg_rows,
        corpus_segment_overlap,
        corpus_sketch_stats,
        merge_hllg_rows,
        read_corpus_grouped_hll,
    )
    from pokemon_showdown_airflow_etl_spark.operators.sketches import (
        hll_pairwise_overlap,
    )

    root = str(tmp_path / "sig")
    a, b = _gdocs(spark, 0, 30), _gdocs(spark, 30, 60, salt="x")
    ingest_signature_batch(spark, a, root, "day1")
    ingest_signature_batch(spark, b, root, "day2")
    assert os.path.exists(
        os.path.join(root, HLLG_TABLE, "batch=day1", "_SUCCESS")
    )
    merged = read_corpus_grouped_hll(spark, root)
    scratch = batch_hllg_rows(a.unionAll(b))
    assert _rows(merged) == _rows(scratch)
    # idempotent: re-merging the merged rows is a no-op
    assert _rows(merge_hllg_rows(merged)) == _rows(merged)

    # compaction reduces to one bounded partition, merge unchanged
    st = compact_signature_corpus(spark, root, min_batches=2)
    assert st["n_batches_consolidated"] == 2
    parts = sorted(os.listdir(os.path.join(root, HLLG_TABLE)))
    assert len(parts) == 1 and parts[0].startswith("batch=compact-")
    assert _rows(read_corpus_grouped_hll(spark, root)) == _rows(scratch)

    # the serve: pairwise overlaps from stored rows == the operator
    # over the from-scratch registers
    served = corpus_segment_overlap(spark, root)
    assert _rows(served) == _rows(hll_pairwise_overlap(scratch))
    stats = corpus_sketch_stats(spark, root, segment_overlap=True)
    assert len(stats["segment_overlap"]) == 3  # C(3 langs, 2)
    assert stats["facet_coverage"][HLLG_TABLE] == [1, 1]

    # a batch WITHOUT the group column commits fine and writes no
    # hllg partition; the merge then covers the faceted batches only
    plain = spark.createDataFrame(
        [(100 + i, f"nolang doc {i} some words") for i in range(5)],
        "doc_id long, text string",
    )
    ingest_signature_batch(spark, plain, root, "day3")
    assert not os.path.exists(os.path.join(root, HLLG_TABLE, "batch=day3"))
    assert _rows(read_corpus_grouped_hll(spark, root)) == _rows(scratch)


def _hist_docs(spark, lo, hi, tokens_fn):
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(tokens_fn(i))))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hist_model(counts):
    from collections import Counter

    def lohi(x):
        s = str(x)
        d = len(s)
        if d <= 3:
            return (x, x)
        lo = int(s[:3] + "0" * (d - 3))
        return (lo, lo + 10 ** (d - 3) - 1)

    return sorted(
        (lo, hi, n) for (lo, hi), n in Counter(lohi(c) for c in counts).items()
    )


def test_hist_facet_merged_equals_from_scratch_and_serves_quantiles(
    spark, tmp_path
):
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        HIST_TABLE,
        corpus_token_quantiles,
        read_corpus_hist,
    )

    root = str(tmp_path / "sig")
    # day1: short docs (singleton buckets); day2: token counts beyond
    # 10^3 so 3-significant-digit bucketing actually engages
    f1 = lambda i: i % 5 + 3  # noqa: E731
    f2 = lambda i: (i % 7) * 300 + 2  # noqa: E731
    ingest_signature_batch(spark, _hist_docs(spark, 0, 40, f1), root, "day1")
    ingest_signature_batch(spark, _hist_docs(spark, 40, 75, f2), root, "day2")
    assert os.path.exists(
        os.path.join(root, HIST_TABLE, "batch=day1", "_SUCCESS")
    )
    counts = [f1(i) for i in range(40)] + [f2(i) for i in range(40, 75)]
    assert _rows(read_corpus_hist(spark, root)) == _hist_model(counts)

    # the quantile serve brackets the exact discrete quantile
    qt = corpus_token_quantiles(spark, root).collect()
    svals = sorted(counts)
    assert [r["q_ppm"] for r in qt] == [250000, 500000, 750000, 900000, 990000]
    for r in qt:
        target = -(-r["q_ppm"] * len(svals) // 1_000_000)
        exact = svals[target - 1]
        assert r["est_lo"] <= exact <= r["est_hi"]
        assert r["n_total"] == len(svals)


def test_hist_facet_survives_compaction_and_crash_window(spark, tmp_path):
    import shutil

    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        HIST_TABLE,
        read_corpus_hist,
    )

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _docs(spark, 0, 40), root, "day1")
    ingest_signature_batch(spark, _docs(spark, 40, 75, salt="x"), root, "day2")
    clean = _rows(read_corpus_hist(spark, root))
    assert clean  # the facet exists before compaction
    snap = str(tmp_path / "snap")
    shutil.copytree(root, snap)
    compact_signature_corpus(spark, root, min_batches=2)
    parts = [
        d
        for d in os.listdir(os.path.join(root, HIST_TABLE))
        if d.startswith("batch=")
    ]
    assert len(parts) == 1 and parts[0].startswith("batch=compact-")
    assert _rows(read_corpus_hist(spark, root)) == clean
    # crash window: consolidated batch committed, old partitions not
    # yet removed — additive counts must not double
    for b in ("day1", "day2"):
        for table in ("members", HIST_TABLE):
            shutil.copytree(
                os.path.join(snap, table, f"batch={b}"),
                os.path.join(root, table, f"batch={b}"),
            )
    assert _rows(read_corpus_hist(spark, root)) == clean


def test_sketch_stats_serves_token_quantiles_from_stored_rows(spark, tmp_path):
    from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
        corpus_sketch_stats,
    )

    root = str(tmp_path / "sig")
    ingest_signature_batch(spark, _docs(spark, 0, 30), root, "day1")
    st = corpus_sketch_stats(spark, root, token_quantiles=True)
    # every _docs text is exactly 7 whitespace tokens
    assert st["token_quantiles"] == [
        [q, 7, 7, 30, 30]
        for q in (250000, 500000, 750000, 900000, 990000)
    ]
    # off by default (it is an extra facet read)
    assert corpus_sketch_stats(spark, root)["token_quantiles"] == []
