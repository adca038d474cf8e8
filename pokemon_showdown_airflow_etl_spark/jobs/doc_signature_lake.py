"""Materialized content-signature layer over the documents table —
compute shingles, MinHash signatures, and SimHash fingerprints ONCE and
let every dedup query read the columnar result.

This is the dedup analogue of the battle-log lake (battlelog_lake.py):
at 100 TB the raw text column dominates, and signature computation
(normalize -> tokenize -> shingle -> k hashes per shingle) is the
expensive map stage every near-dup pass repays. Production systems
compute signatures AT INGEST and store them beside the document — the
dedup jobs then touch only the signature columns (a few hundred bytes
per doc instead of the text). Two tables:

- ``signatures``: doc, shingles (distinct word 3-grams), mh0..mh7
  (the 8 seeded MinHash values) — the fact side of d2 (PPJoin prefix
  filter + exact verify), d3 (band candidates), d7/d8 (candidates +
  verify edges). Short docs (< n tokens) have no row, exactly like the
  on-the-fly ``_shingle_df``.
- ``fingerprints``: doc, simhash (16-bit frequency-weighted) — d4/d5.

Every stored column is the byte-identical output of the same
deterministic formulas the DuckDB oracles replicate, so routing queries
through the layer cannot change results — the driver's hash checks
verify the WRITE PATH end-to-end, same as the b-queries prove the
battle-log lake.

Build is idempotent + atomic via the shared lake-cache machinery
(jobs/_lake.py); the cache key embeds a hash of the formula SOURCE
(normalize/tokenize/shingle/minhash/simhash), so an edit to any of
those functions invalidates the cache automatically — VERSION covers
layout changes only.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import merge_bloom_rows, merge_cms_rows, merge_hist_rows
from ..operators.text import merge_lm_rows
from ._lake import ensure_lake, formula_tag, keyed_dir

VERSION = 1
SHINGLE_N = 3
NUM_HASHES = 8


def _tag() -> str:
    from ..operators import dedup

    return formula_tag(
        dedup.normalize_text,
        dedup.tokens,
        dedup.shingles_from_tokens,
        dedup._shingle_df,
        dedup.minhash_signature,
        dedup._token_hash16,
        dedup.simhash16,
    )


def lake_dir(sf_dir: str) -> Path:
    return keyed_dir("signature_lake", VERSION, sf_dir, _tag())


def compute_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, shingles, mh0..mh{k-1}) — the exact frame the lake stores,
    shared by the full build and the incremental batch ingest so the
    two paths cannot drift."""
    from ..operators.dedup import _shingle_df, minhash_signature

    sh = _shingle_df(docs, id_col, text_col, SHINGLE_N)
    return sh.select(
        "doc", "shingles", *minhash_signature(F.col("shingles"), NUM_HASHES)
    )


def build_signature_lake(spark: SparkSession, sf_dir: str, out_dir: Path) -> None:
    from ..io import table
    from ..operators.dedup import simhash16

    docs = table(spark, sf_dir, "documents")
    compute_signatures(docs).write.parquet(str(out_dir / "signatures"))
    simhash16(docs, "doc_id", "text").write.parquet(str(out_dir / "fingerprints"))


def ensure_signature_lake(spark: SparkSession, sf_dir: str) -> Path:
    """Build the layer for ``sf_dir`` if absent (atomic, race-benign,
    self-repairing — see jobs/_lake.py)."""
    return ensure_lake(
        lake_dir(sf_dir), lambda tmp: build_signature_lake(spark, sf_dir, tmp)
    )


def signature_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(signatures, fingerprints) of the materialized layer, building on
    first use."""
    out = ensure_signature_lake(spark, sf_dir)
    return (
        spark.read.parquet(str(out / "signatures")),
        spark.read.parquet(str(out / "fingerprints")),
    )


# ---------------------------------------------------------------------------
# Incremental batch ingest over a LIVE, growing signature corpus
# ---------------------------------------------------------------------------
#
# The sf-keyed lake above is a read-only cache for the bench corpus. A
# production corpus grows daily: each drop is admitted AGAINST the
# signatures already registered (catalog d9's decision) and only the
# accepted docs' signatures join the corpus — so tomorrow's batch
# dedups against today's survivors without ever re-signing or
# re-scanning the existing corpus. Layout under ``sig_root``:
#
#   signatures/batch=<id>/   accepted docs' (doc, shingles, mh*) —
#                            ONLY survivors define near-dup identity
#   admissions/batch=<id>/   the full per-doc decision audit
#   members/batch=<id>/      every DECIDED doc id (accepted or not,
#                            incl. short docs with no signature row) —
#                            the re-run guard: a rejected doc must not
#                            be re-classified on the next run
#   sketches/batch=<id>/     the batch's intake SKETCH facet (VERDICT
#                            r9 item 7): HLL registers over normalized
#                            content + KMV bottom-k (doc-length
#                            values) over the CONSIDERED docs — both
#                            mergeable (max per register / bottom-k of
#                            unions, laws property-tested), so corpus-
#                            wide distinct-content and length-quantile
#                            monitoring reads a few hundred stored
#                            rows instead of re-scanning 100 TB of
#                            text; compaction REDUCES many per-batch
#                            sketches to one merged partition
#   lm/batch=<id>/           the batch's bigram-LM facet (VERDICT r10
#                            item 4): additive bigram-type counts +
#                            distinct vocab rows over the CONSIDERED
#                            docs (operators/text.py::bigram_lm_rows),
#                            merged by SUM/DISTINCT — curate's
#                            perplexity band reads the stored LM
#                            instead of retraining per run
#   cms/batch=<id>/          the batch's count-min facet (VERDICT r10
#                            item 5): additive md5-variant CMS cells
#                            over the considered docs' token bigrams
#                            (<= 1024 rows/batch), merged by SUM —
#                            corpus-wide heavy-hitter estimates served
#                            from stored rows (cli sketch-stats --gram)
#   hh/batch=<id>/           the batch's heavy-hitter CANDIDATE facet:
#                            the exact top-m token bigrams of the
#                            batch (deterministic, <= m rows), merged
#                            by distinct-union/max (idempotent) — with
#                            cms/ this serves corpus-wide top-k heavy
#                            hitters ENTIRELY from stored rows: stored
#                            candidates ranked by stored-cell
#                            estimates, no corpus scan anywhere
#   bloom/batch=<id>/        the batch's DECONTAMINATION facet: a Bloom
#                            filter over the considered docs' word
#                            4-grams (t9's collision key) as (w, bits)
#                            rows, <= BLOOM_WORDS rows/batch, merged by
#                            bitwise OR — "does the corpus possibly
#                            contain this gram" answered from stored
#                            rows, the probe an eval-benchmark intake
#                            runs without re-scanning 100 TB of text
#   hllg/batch=<id>/         per-segment HLL registers (segments by
#                            HLLG_GROUP_COL), merged by max per
#                            (group, register) — segment overlaps
#   hist/batch=<id>/         additive token-length histogram buckets,
#                            merged by SUM — corpus token quantiles
#   estats/batch=<id>/       (embedding lake roots only) per-dimension
#                            additive drift statistics — see
#                            jobs/embedding_index_lake.py; the same
#                            compaction reduction + sweep covers it
#
# The FACETS registry below is the one place a facet is declared: its
# table name and merge law. Compaction reduces every registered table,
# the retired-batch sweep removes them, sketch-stats reports their
# coverage, and every facet read goes through _read_facet. Adding a
# facet means one registry entry plus its writer in
# ingest_signature_batch.
#
# Idempotency + crash-safety (the K3/T5 contract, file-level here; a
# table format with transactions takes over at deploy time): members/
# is written LAST and is the batch's COMMIT MARKER. Readers only ever
# see committed state: both the corpus view and the dedup guard are
# assembled from the partitions whose members/ marker exists, so a
# crashed batch's partial signatures are invisible to every later
# batch (not just to its own re-run) until the re-run repairs them in
# place. A committed batch is immutable: re-running its id with the
# same docs is a no-op, re-running it with DIFFERENT docs raises
# instead of silently overwriting the committed partitions.


def _committed_batches(mem_dir: str) -> list[str]:
    """Batch ids whose members/ commit marker landed (parquet _SUCCESS
    in the partition dir). Driver-side listing is fine: one entry per
    ingested batch (daily drops), not per document."""
    import os

    if not os.path.isdir(mem_dir):
        return []
    return sorted(
        name[len("batch="):]
        for name in os.listdir(mem_dir)
        if name.startswith("batch=")
        and os.path.exists(os.path.join(mem_dir, name, "_SUCCESS"))
    )


def read_committed(
    spark: SparkSession,
    sig_root: str,
    table: str = "signatures",
    exclude: tuple[str, ...] = (),
) -> DataFrame | None:
    """DataFrame over the COMMITTED batches' partitions of ``table``
    ('signatures' or 'members'), or None when nothing is committed.
    The one place the committed-corpus read is assembled — ingest,
    curate's cross-corpus dedup, and any future reader share it, so a
    layout change (or a move to a real table format) lands once.
    Reading explicit committed partition paths (not the root) keeps
    crashed batches' phantom partials invisible."""
    import os

    committed = [
        b
        for b in _committed_batches(os.path.join(sig_root, "members"))
        if b not in exclude
    ]
    if not committed:
        return None
    return spark.read.parquet(
        *[os.path.join(sig_root, table, f"batch={b}") for b in committed]
    )


SKETCH_TABLE = "sketches"
SKETCH_KMV_K = 512  # operators/sketches.py::A5_SAMPLE_K, pinned here so
#                     a default change there can't silently re-key lakes
LM_TABLE = "lm"
CMS_TABLE = "cms"
CMS_DEPTH = 4
CMS_WIDTH = 256
HH_TABLE = "hh"
HH_TOP_M = 64
BLOOM_TABLE = "bloom"
BLOOM_GRAM_N = 4  # t9's decontamination key: word 4-grams
HLLG_TABLE = "hllg"
HLLG_GROUP_COL = "lang"  # the segment key for the grouped-HLL facet;
#                          a lake should group every batch by ONE
#                          column — rows store group VALUES only, so
#                          mixing keys across batches would merge
#                          apples with oranges silently
HIST_TABLE = "hist"  # additive token-length histogram facet (decimal
#                      buckets, operators/sketches.py::hist_rows) —
#                      a14's quantile serve
ESTATS_TABLE = "estats"  # embedding-drift facet (embedding lake only —
#                          jobs/embedding_index_lake.py writes it; the
#                          merge law and compaction reduction live here
#                          beside the other facets')


def merge_estats_rows(rows: DataFrame) -> DataFrame:
    """Merge per-batch embedding-drift rows by SUM per dimension —
    (d, n, s_milli, ss_milli) are additive sufficient statistics
    (count, sum, sum-of-squares of milli-quantized coordinates).
    Same additive contract as lm/cms: NOT idempotent, so readers use
    the crash-window-excluding committed paths."""
    return rows.groupBy("d").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s_milli").cast("long").alias("s_milli"),
        F.sum("ss_milli").cast("long").alias("ss_milli"),
    )


def batch_hllg_rows(
    docs: DataFrame,
    group_col: str = HLLG_GROUP_COL,
    text_col: str = "text",
) -> DataFrame:
    """One batch's GROUPED-HLL facet rows: (grp, reg, max_rank) — a11's
    per-segment registers over the batch docs' normalized content,
    <= HLL_M rows per group value. Merged across batches by
    max-per-(group, register) this serves 'distinct contents per
    segment' and — through the a12 union/inclusion-exclusion math —
    every pairwise segment overlap, without re-scanning a byte of
    corpus text. Covers the CONSIDERED docs (the batch_sketch_rows
    rule: intake statistics are a pure function of what arrived)."""
    from ..operators.dedup import normalize_text
    from ..operators.sketches import hll_registers_by

    return hll_registers_by(docs, group_col, normalize_text(F.col(text_col)))


def merge_hllg_rows(rows: DataFrame) -> DataFrame:
    """Merge per-batch grouped-HLL rows: max per (group, register) —
    the a11 day-split merge law (property-tested). Idempotent like the
    global HLL/bloom legs, so the compaction crash window's double
    read cannot corrupt the merge and readers use the plain
    committed-batch paths."""
    return rows.groupBy("grp", "reg").agg(F.max("max_rank").alias("max_rank"))


def read_corpus_grouped_hll(
    spark: SparkSession, sig_root: str
) -> DataFrame | None:
    """The corpus-wide merged grouped-HLL registers over every live
    batch's stored hllg/ partition, or None when no batch carries the
    facet (batches whose docs lacked the group column, or that predate
    it, simply have no partition and drop out)."""
    return _read_facet(spark, sig_root, HLLG_TABLE)


def corpus_segment_overlap(
    spark: SparkSession, sig_root: str
) -> DataFrame | None:
    """Every pairwise segment overlap served from the STORED grouped-
    HLL facet alone (cli sketch-stats --segment-overlap): per-segment
    distinct-content estimates, union by register max, intersection by
    inclusion-exclusion — k segments cost k^2 x 64-row merges, the
    corpus text stays cold. Returns None on a pre-facet corpus."""
    from ..operators.sketches import hll_pairwise_overlap

    regs = read_corpus_grouped_hll(spark, sig_root)
    if regs is None:
        return None
    return hll_pairwise_overlap(regs)


def _crash_window_replaced(
    sig_root: str, committed: list[str], data_table: str = "signatures"
) -> set[str]:
    """Batch ids still committed but already replaced by a COMMITTED
    consolidated batch — the compaction crash window between the
    consolidated partition's members marker and the removals. Facet
    reads exclude them: an additive facet (LM bigram counts, CMS
    cells, histogram buckets, drift statistics) would count every
    replaced batch twice."""
    import json
    import os

    out: set[str] = set()
    for b in committed:
        if not b.startswith("compact-"):
            continue
        mp = os.path.join(sig_root, data_table, f"batch={b}", "_replaces.json")
        if os.path.exists(mp):
            with open(mp) as f:
                replaced = json.load(f)
            out.update(x for x in replaced if x in committed)
    return out


def _live_batches(
    sig_root: str, data_table: str = "signatures", exclude: tuple[str, ...] = ()
) -> list[str]:
    """Committed batch ids minus those replaced in a compaction crash
    window and those named in ``exclude``."""
    import os

    committed = _committed_batches(os.path.join(sig_root, "members"))
    skip = _crash_window_replaced(sig_root, committed, data_table)
    return [b for b in committed if b not in skip and b not in exclude]


def _committed_facet_paths(
    sig_root: str,
    facet_table: str,
    data_table: str = "signatures",
    exclude: tuple[str, ...] = (),
) -> list[str]:
    """The live batches' ``facet_table`` partitions that carry a
    _SUCCESS marker (batches predating the facet, or ingested with
    facets off, have no partition and drop out)."""
    import os

    paths = (
        os.path.join(sig_root, facet_table, f"batch={b}")
        for b in _live_batches(sig_root, data_table, exclude)
    )
    return [p for p in paths if os.path.exists(os.path.join(p, "_SUCCESS"))]


def _read_facet(
    spark: SparkSession,
    sig_root: str,
    facet_table: str,
    data_table: str = "signatures",
    exclude: tuple[str, ...] = (),
    **merge_kw,
) -> DataFrame | None:
    """Every facet read: ``facet_table``'s live partitions merged by
    its FACETS law (``merge_kw`` forwards to it), or None when no live
    batch carries the facet. Idempotent merges (sketch, hh, bloom,
    hllg) would survive a crash-window double read, additive ones
    would not; all read the same partitions, which gives the same rows
    either way — a consolidated partition already holds the merge of
    the batches it replaced."""
    paths = _committed_facet_paths(sig_root, facet_table, data_table, exclude)
    if not paths:
        return None
    return FACETS[facet_table](spark.read.parquet(*paths), **merge_kw)


def facet_coverage(
    sig_root: str, facet_table: str, data_table: str = "signatures"
) -> tuple[int, int]:
    """(n_batches_with_facet, n_committed_batches) for ``facet_table``.
    Facet reads serve the FACETED batches only, so on a corpus mixing
    pre-facet (or facets=False) batches with faceted ones the served
    model/sketch/candidates cover a SUBSET of the corpus — callers that
    promise corpus-wide numbers (curate --lm-root, sketch-stats) check
    this and surface partial coverage instead of implying the whole
    corpus was summarized."""
    return (
        len(_committed_facet_paths(sig_root, facet_table, data_table)),
        len(_live_batches(sig_root, data_table)),
    )


def batch_sketch_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SKETCH_KMV_K,
) -> DataFrame:
    """One batch's intake sketch as (kind, reg, h, k, v) rows:

    - ``kind='hll'``: the a4 deterministic HLL registers over the
      batch docs' NORMALIZED CONTENT (reg = register index, v = max
      first-1-bit rank) — merged across batches by max-per-register,
      this estimates how many distinct texts the corpus has SEEN.
    - ``kind='kmv'``: the a5 bottom-k rows keyed on the doc id with
      the doc's text length as the value — merged by
      bottom-k-of-union, this is the exact deterministic uniform
      sample corpus length-quantiles read from.

    Sketches cover the CONSIDERED docs (not just accepted survivors):
    intake statistics must be a pure function of what arrived, not of
    dedup decisions, so the stored facet re-derives from the raw batch
    inputs alone (what the a6 oracle checks). Both shapes are a few
    hundred rows per batch regardless of batch size."""
    from ..operators.dedup import normalize_text
    from ..operators.sketches import bottomk_rows, hll_registers

    null_s = F.lit(None).cast("string")
    hll = hll_registers(docs, normalize_text(F.col(text_col))).select(
        F.lit("hll").alias("kind"),
        F.col("reg").cast("long").alias("reg"),
        null_s.alias("h"),
        null_s.alias("k"),
        F.col("max_rank").cast("long").alias("v"),
    )
    lengths = docs.select(
        F.col(id_col),
        F.coalesce(F.length(F.col(text_col)), F.lit(0)).cast("long").alias("_len"),
    )
    kmv = bottomk_rows(
        lengths, F.col(id_col).cast("string"), "_len", k=k
    ).select(
        F.lit("kmv").alias("kind"),
        F.lit(None).cast("long").alias("reg"),
        "h",
        "k",
        "v",
    )
    return hll.unionByName(kmv)


def merge_sketch_rows(rows: DataFrame, k: int = SKETCH_KMV_K) -> DataFrame:
    """Merge any union of per-batch sketch rows back to ONE sketch in
    the same (kind, reg, h, k, v) shape: max per HLL register,
    bottom-k of the KMV rows under their total order. Merging is
    associative and idempotent, so merged-then-stored partitions merge
    again with fresh batches — read path and compaction share this.

    The KMV leg dedupes identical (h, k, v) rows BEFORE ranking: a KMV
    sample is a set of distinct keys, but the same key can arrive
    twice — the same doc considered in two ingest batches, or (the
    compaction crash window) a consolidated partition's rows read
    alongside the not-yet-removed partitions it replaced. Without the
    dedupe those duplicates each hold a rank and the sample degenerates
    to ~bottom-k/2-each-twice, skewing the served quantiles; HLL is
    already idempotent under max so only the KMV leg needs it."""
    from ..operators.sketches import bottomk_of_rows

    null_s = F.lit(None).cast("string")
    hll = (
        rows.filter(F.col("kind") == "hll")
        .groupBy("reg")
        .agg(F.max("v").alias("v"))
        .select(
            F.lit("hll").alias("kind"),
            "reg",
            null_s.alias("h"),
            null_s.alias("k"),
            "v",
        )
    )
    kmv = bottomk_of_rows(
        rows.filter(F.col("kind") == "kmv")
        .select("h", "k", "v")
        .dropDuplicates(["h", "k", "v"]),
        k,
    ).select(
        F.lit("kmv").alias("kind"),
        F.lit(None).cast("long").alias("reg"),
        "h",
        "k",
        "v",
    )
    return hll.unionByName(kmv)


def read_corpus_sketch(
    spark: SparkSession, sig_root: str, k: int = SKETCH_KMV_K
) -> DataFrame | None:
    """The corpus-wide merged sketch over every live batch's stored
    sketch partition, or None when no batch carries it. Batches
    ingested before the sketch facet existed simply have no sketches/
    partition and drop out of the merge (the facet then summarizes
    the batches that carry it)."""
    return _read_facet(spark, sig_root, SKETCH_TABLE, k=k)


def _batch_grams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    _occ: DataFrame | None = None,
) -> DataFrame:
    """The batch's token-bigram occurrence stream as (gram) rows (a2's
    key: 'w1 w2') — the ONE place the facet gram key is constructed,
    shared by the cms/ and hh/ facets (and by ingest via ``_occ``, so
    the pinned occurrence stream is exploded once per batch)."""
    if _occ is None:
        from ..operators.text import _bigram_occurrences, _bigram_staged

        _occ = _bigram_occurrences(
            _bigram_staged(docs, id_col, text_col), id_col
        )
    return _occ.select(
        F.concat(F.col("w1"), F.lit(" "), F.col("w2")).alias("gram")
    )


def batch_cms_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    _grams: DataFrame | None = None,
) -> DataFrame:
    """One batch's count-min facet: md5-variant CMS cells (cell, cnt)
    over the batch docs' token-bigram occurrence stream (a2's gram
    key: 'w1 w2'). <= depth * width rows however large the batch;
    additive, so per-batch partitions merge by SUM at compaction and
    read time. Covers the CONSIDERED docs, same contract as the
    sketch/LM facets. ``_grams`` lets ingest share one pinned gram
    stream across the gram-keyed facets."""
    from ..operators.sketches import cms_rows_md5

    grams = _grams if _grams is not None else _batch_grams(docs, id_col, text_col)
    return cms_rows_md5(grams, "gram", depth, width)


def batch_hh_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = HH_TOP_M,
    _grams: DataFrame | None = None,
) -> DataFrame:
    """One batch's heavy-hitter CANDIDATE facet: the exact top-``m``
    token bigrams of the batch by (count desc, gram asc), as
    (gram, n) rows — n is the gram's count WITHIN this batch (a lower
    bound on its corpus count, not the corpus count). Deterministic
    (exact batch-level counts, total tie order) — unlike per-partition
    Misra-Gries (a3's production proposal) this is independent of
    partition layout, which is what lets the a8 oracle re-derive the
    stored candidates from raw parquet.

    Coverage argument (the SpaceSaving/local-HH law): a gram with
    corpus count N_g has count >= N_g / n_batches in some batch, so
    every true corpus top-k heavy hitter is proposed as long as its
    per-batch share clears that batch's rank-m count — with m
    comfortably above k (64 vs top-10) this holds for any near-Zipfian
    gram distribution; widen m if a deployment's batches are tiny.

    Scale shape: one combinable count aggregation over the batch's
    gram types + a TakeOrdered(m) — per-partition top-m then a single
    m-row reduce, never a global sort."""
    grams = _grams if _grams is not None else _batch_grams(docs, id_col, text_col)
    return (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(m)
    )


def merge_hh_rows(rows: DataFrame) -> DataFrame:
    """Merge any union of per-batch candidate rows: distinct grams,
    n = MAX of the per-batch counts (still a lower bound on the corpus
    count; ranking for SERVING comes from the CMS estimate, not n).
    Max is IDEMPOTENT, so — like the HLL/KMV facet and unlike the
    additive lm/cms legs — the compaction crash window cannot corrupt
    this merge even without the committed-path exclusion."""
    return rows.groupBy("gram").agg(F.max("n").cast("long").alias("n"))


# every intake facet's table -> the merge law its per-batch rows reduce
# by (the layout comment of the incremental section lists its users)
FACETS = {
    SKETCH_TABLE: merge_sketch_rows,
    LM_TABLE: merge_lm_rows,
    CMS_TABLE: merge_cms_rows,
    HH_TABLE: merge_hh_rows,
    BLOOM_TABLE: merge_bloom_rows,
    HLLG_TABLE: merge_hllg_rows,
    HIST_TABLE: merge_hist_rows,
    ESTATS_TABLE: merge_estats_rows,
}


def read_corpus_lm(spark: SparkSession, sig_root: str) -> DataFrame | None:
    """The corpus-wide MERGED bigram LM over every live batch's stored
    lm/ partition (kind, w1, w2, n rows), or None when no batch carries
    the facet. On a corpus mixing pre-facet and faceted batches the
    model covers the faceted subset only — check ``facet_coverage``
    before treating it as corpus-wide."""
    return _read_facet(spark, sig_root, LM_TABLE)


def read_corpus_cms(spark: SparkSession, sig_root: str) -> DataFrame | None:
    """The corpus-wide MERGED count-min sketch over every live batch's
    stored cms/ partition ((cell, cnt) rows, <= depth * width), or None
    when no batch carries the facet. Same partial-coverage caveat as
    the LM facet: only faceted batches contribute."""
    return _read_facet(spark, sig_root, CMS_TABLE)


def batch_gram4_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = BLOOM_GRAM_N,
) -> DataFrame:
    """The batch docs' word n-gram stream as (gram) rows — t9's
    decontamination key (space-joined token n-grams), the ONE place
    the bloom facet's key is constructed so the probe side and the
    build side cannot drift. explode_outer + null filter, not explode:
    InferFiltersFromGenerate would otherwise push a size() filter
    below the projections and re-run split() per element
    (operators/dedup.py::eval_overlap documents the 12x measurement)."""
    from ..operators.dedup import shingles_from_tokens, tokens

    return (
        docs.select(tokens(F.col(text_col)).alias("tk"))
        .select(F.explode_outer(shingles_from_tokens(F.col("tk"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def batch_bloom_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = BLOOM_GRAM_N,
) -> DataFrame:
    """One batch's decontamination facet: Bloom-filter (w, bits) rows
    over the CONSIDERED docs' word n-grams (same coverage contract as
    the other intake facets — a pure function of what arrived).
    <= BLOOM_WORDS rows however large the batch; words merge by
    bitwise OR, so per-batch partitions reduce at compaction and read
    time without rescanning any text."""
    from ..operators.sketches import bloom_rows

    return bloom_rows(batch_gram4_stream(docs, id_col, text_col, n), "gram")


def read_corpus_bloom(
    spark: SparkSession, sig_root: str, exclude: tuple = ()
) -> DataFrame | None:
    """The corpus-wide MERGED Bloom filter over every live batch's
    stored bloom/ partition, or None when no batch carries the facet.
    ``exclude`` drops named batch ids from the merge — a decon check
    that runs AFTER its own drop was admitted passes the drop's
    batch_id here so the probe sees only PRIOR batches (ADVICE r11:
    otherwise every drop doc trivially flags against itself)."""
    return _read_facet(spark, sig_root, BLOOM_TABLE, exclude=exclude)


def corpus_gram_probe(
    spark: SparkSession,
    sig_root: str,
    candidates: DataFrame,
    gram_col: str = "gram",
) -> DataFrame | None:
    """Probe candidate grams against the STORED corpus Bloom filter:
    adds ``maybe_present``. The serving read an eval-benchmark intake
    runs — the filter is <= BLOOM_WORDS stored rows (broadcast), the
    candidate grams never shuffle, and no corpus text is touched.
    Returns None on a pre-facet corpus (caller falls back to the exact
    t9 scan)."""
    from ..operators.sketches import bloom_maybe_contains

    bloom = read_corpus_bloom(spark, sig_root)
    if bloom is None:
        return None
    return bloom_maybe_contains(candidates, bloom, gram_col)


def eval_contamination(
    spark: SparkSession,
    sig_root: str,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude: tuple = (),
) -> DataFrame | None:
    """Per-document contamination verdicts for an EVAL benchmark
    against the STORED corpus Bloom facet: (id, n_grams,
    n_maybe_contaminated, contaminated) — a doc is flagged when ANY of
    its word 4-grams possibly appears in the training corpus. The
    serving read an eval-set intake runs before a training job: the
    filter is <= BLOOM_WORDS stored rows; the corpus text is never
    touched (its 100 TB stay cold) and never re-scanned per benchmark.
    A true overlap ALWAYS flags (no false negatives); a clean doc can
    flag spuriously at the stored filter's fill^k rate — the gauge
    sketch-stats reports as bloom_fp_ppm. Returns None on a pre-facet
    corpus (caller falls back to the exact t9 scan). ``exclude``
    forwards to :func:`read_corpus_bloom` so a post-admit check can
    probe only the batches that PRECEDED its own drop."""
    from ..operators.dedup import shingles_from_tokens, tokens

    bloom = read_corpus_bloom(spark, sig_root, exclude=exclude)
    if bloom is None:
        return None
    from ..operators.sketches import bloom_maybe_contains
    from ..pinning import pin

    pairs = pin(
        eval_docs.select(
            F.col(id_col), tokens(F.col(text_col)).alias("tk")
        )
        .select(
            id_col,
            F.explode_outer(
                shingles_from_tokens(F.col("tk"), BLOOM_GRAM_N)
            ).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        # shingles are distinct within a doc already; distinct grams
        # across docs feed ONE probe each
    )
    verdict = bloom_maybe_contains(
        pairs.select("gram").distinct(), bloom, "gram"
    )
    per_doc = (
        pairs.join(verdict, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.col("maybe_present").cast("long"))
            .cast("long")
            .alias("n_maybe_contaminated"),
        )
    )
    return (
        eval_docs.select(id_col)
        .distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_maybe_contaminated"), F.lit(0)).alias(
                "n_maybe_contaminated"
            ),
            (F.coalesce(F.col("n_maybe_contaminated"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def batch_hist_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    _staged: DataFrame | None = None,
) -> DataFrame:
    """One batch's token-length HISTOGRAM facet: deterministic decimal
    buckets (operators/sketches.py::hist_rows) over each considered
    doc's whitespace token count (the t3 counting convention — the
    size of the pinned tokenize, so ingest shares its ONE staged token
    array via ``_staged`` instead of re-tokenizing the batch).
    Additive like the lm/cms facets: compaction merges by plain SUM
    and readers exclude crash-window partitions. Null-text docs have
    no length and contribute no row."""
    from ..operators.dedup import tokens
    from ..operators.sketches import hist_rows

    staged = (
        _staged
        if _staged is not None
        else docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    )
    counts = staged.filter(F.col("_tk").isNotNull()).select(
        F.size("_tk").cast("long").alias("n_tokens")
    )
    return hist_rows(counts, "n_tokens")


def read_corpus_hist(spark: SparkSession, sig_root: str) -> DataFrame | None:
    """The corpus-wide merged token-length histogram over every live
    batch's stored hist/ partition, or None when no batch carries the
    facet. Partial coverage caveat applies: only faceted batches
    contribute."""
    return _read_facet(spark, sig_root, HIST_TABLE)


def corpus_token_quantiles(
    spark: SparkSession,
    sig_root: str,
    qs_ppm: tuple[int, ...] = (250_000, 500_000, 750_000, 900_000, 990_000),
) -> DataFrame | None:
    """Corpus token-length quantiles served from the stored hist/
    facet alone (a14; cli sketch-stats --token-quantiles): the corpus
    text stays cold, the answer comes from the few-thousand-row merged
    bucket table, and est_lo <= exact quantile <= est_hi is guaranteed
    by the bucketing (exact below 10^3 where buckets are singletons,
    < 1% relative width above). The per-doc planning number every
    packing / budget decision starts from — "how long are my
    documents" — without a corpus scan. None on a pre-facet corpus."""
    rows = read_corpus_hist(spark, sig_root)
    if rows is None:
        return None
    from ..operators.sketches import hist_quantiles

    return hist_quantiles(rows, qs_ppm)


def read_corpus_hh(spark: SparkSession, sig_root: str) -> DataFrame | None:
    """The corpus-wide merged heavy-hitter candidate set over every
    live batch's stored hh/ partition, or None when no batch carries
    the facet."""
    return _read_facet(spark, sig_root, HH_TABLE)


def lake_heavy_hitters(
    spark: SparkSession,
    sig_root: str,
    topk: int = 10,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame | None:
    """Corpus-wide top-``topk`` heavy hitters served ENTIRELY from
    stored rows — the end-to-end read the hh/ + cms/ facets exist for:
    the merged stored candidates (<= m * n_batches grams) estimate
    against the merged stored cells (<= depth * width rows, broadcast)
    and rank by (est desc, gram asc). No corpus scan anywhere; at
    100 TB this touches a few thousand stored rows. Returns
    (gram, est, rank) or None when either facet is missing."""
    from pyspark.sql.window import Window

    from ..operators.sketches import cms_estimate_md5

    hh = read_corpus_hh(spark, sig_root)
    cms = read_corpus_cms(spark, sig_root)
    if hh is None or cms is None:
        return None
    est = cms_estimate_md5(hh.select("gram"), cms, "gram", depth, width)
    return (
        est.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("est"), F.asc("gram")))
            .cast("int"),
        )
        .filter(F.col("rank") <= topk)
        .select("gram", F.col("est").cast("long").alias("est"), "rank")
    )


def ingest_signature_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    sig_root: str,
    batch_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    facets: bool = True,
    hllg_group_col: str = HLLG_GROUP_COL,
) -> dict:
    """Admit ``new_docs`` against the signatures under ``sig_root`` and
    register the accepted docs. Returns counts only (the O5 stats
    rule): n_batch, n_already_registered, n_considered, n_accepted,
    n_dup_of_corpus, n_dup_in_batch.

    ``facets=False`` skips the intake facets (sketches/lm/cms/hh/bloom/
    hllg) — the admission protocol is identical, the batch simply
    behaves like a pre-facet one (readers skip it per facet). The
    facets cost a handful of bounded aggregations + small writes per
    batch: a fixed overhead that looms at small batch sizes and
    amortizes at production drops (bench.py records both legs).

    ``hllg_group_col`` names the segment column for the grouped-HLL
    facet (default lang); a batch without the column writes no hllg
    partition. One lake must use ONE column across batches — the
    stored rows carry group values only, so mixing keys would merge
    unrelated segments silently.
    """
    import os

    from ..operators.dedup import dedup_against_corpus
    from ..pinning import pin

    sig_dir = os.path.join(sig_root, "signatures")
    mem_dir = os.path.join(sig_root, "members")
    adm_dir = os.path.join(sig_root, "admissions")

    ids = new_docs.select(F.col(id_col).alias("doc")).distinct()
    n_batch = ids.count()

    committed = _committed_batches(mem_dir)
    members = read_committed(spark, sig_root, "members")
    fresh_ids = (
        ids if members is None else ids.join(members.select("doc"), "doc", "left_anti")
    )
    n_fresh = fresh_ids.count()
    if n_fresh == 0:
        return {
            "n_batch": n_batch,
            "n_already_registered": n_batch,
            "n_considered": 0,
            "n_accepted": 0,
            "n_dup_of_corpus": 0,
            "n_dup_in_batch": 0,
        }
    if batch_id in committed:
        # the id committed with a different doc set than this run's —
        # overwriting would unregister the originally decided docs
        # (their future dups would be admitted). Batches are immutable.
        raise ValueError(
            f"batch_id {batch_id!r} already committed but this run carries "
            f"{n_fresh} undecided docs — a committed batch is immutable; "
            "submit the amended docs under a NEW batch_id"
        )
    if batch_id in retired_batches(sig_root):
        # compaction removed the id's members/signatures partitions but
        # its admissions/ audit survives; without this guard the id
        # would look fresh again and a re-ingest would overwrite that
        # audit history
        raise ValueError(
            f"batch_id {batch_id!r} was retired by compaction — its "
            "admission audit is immutable; use a NEW batch_id"
        )

    # id-dedupe first: a drop carrying the same doc id twice (re-sent
    # row in an at-least-once feed) must produce ONE signature row per
    # accepted doc, not two riding into the corpus. Pinned: three
    # consumers derive from it — the signature lineage and BOTH legs
    # (HLL + KMV) of the sketch facet's union — so unpinned the
    # scan + dedupe + members anti-join would run three times
    fresh_docs = pin(
        new_docs.dropDuplicates([id_col]).join(
            fresh_ids.withColumnRenamed("doc", id_col), id_col
        )
    )
    # pinned: the signature lineage (members anti-join + tokenize +
    # shingle + 8 MinHashes) feeds the band frame, the shingle-verify
    # frame AND the registration write — unpinned it would run 3x
    batch_sig = compute_signatures(fresh_docs, id_col, text_col).transform(pin)
    # corpus = committed batches only; a crashed OTHER batch's partial
    # signatures must not reject docs against phantom survivors (its
    # docs are not in members/, so they are not registered)
    corpus_sig = read_committed(spark, sig_root, "signatures", exclude=(batch_id,))
    if corpus_sig is None:
        corpus_sig = batch_sig.limit(0)

    decision = dedup_against_corpus(
        fresh_ids,
        batch_sig,
        corpus_sig,
        threshold=threshold,
        num_hashes=NUM_HASHES,
    )
    decision.write.mode("overwrite").parquet(
        os.path.join(adm_dir, f"batch={batch_id}")
    )
    decision = spark.read.parquet(os.path.join(adm_dir, f"batch={batch_id}"))

    accepted = decision.filter(F.col("status") == "accepted").select("doc")

    def _sig_write():
        # the accepted signatures' registration — independent of the
        # facet writes below, so it joins the same overlap pool
        spark.sparkContext.setJobDescription("ingest: register signatures")
        batch_sig.join(accepted, "doc").write.mode("overwrite").parquet(
            os.path.join(sig_dir, f"batch={batch_id}")
        )
        spark.sparkContext.setJobDescription(None)

    if not facets:
        _sig_write()
    # the batch's intake facets — before the members marker, so the
    # marker commits the whole batch including them; each facet's own
    # _SUCCESS additionally lets readers skip pre-facet batches
    if facets:
        # the three bigram-keyed facets (lm counts, cms cells, hh
        # candidates) share ONE pinned occurrence stream — unshared,
        # each would re-tokenize and re-explode the batch. coalesce(1)
        # fits the bounded/O(batch-types) row sets at daily-drop sizes;
        # a deployment with very large drops sizes the lm files like
        # compaction does
        from ..operators.text import (
            _bigram_occurrences,
            _bigram_staged,
            bigram_lm_rows,
        )

        staged = _bigram_staged(fresh_docs, id_col, text_col)
        occ = pin(_bigram_occurrences(staged, id_col))
        # materialize the shared occurrence pin ONCE before the pool:
        # three facet jobs would otherwise race to compute it
        # concurrently (cache puts are idempotent but the compute is
        # duplicated inside the overlap window)
        occ.count()
        grams = _batch_grams(fresh_docs, id_col, text_col, _occ=occ)

        # The seven facet writes are INDEPENDENT jobs over shared
        # pinned inputs writing to disjoint directories; running them
        # sequentially left the cluster idle through each job's tail
        # (optimization guide §2.6: overlap independent jobs — actions
        # are only sequential because driver code calls them
        # sequentially). A small pool overlaps them; any failure
        # propagates before the members/ commit marker below, so crash
        # semantics are unchanged (facets-then-marker ordering holds).
        # Shared lazy pins (occ/grams) may materialize concurrently —
        # cache puts are idempotent, so that trades a little duplicate
        # compute inside the overlap, still strictly faster than the
        # serial chain (measured in OPTIMIZATION_r12.md).
        def _facet_writes():
            yield (
                # sketches: HLL registers + KMV bottom-k (CONSIDERED docs)
                "sketch",
                batch_sketch_rows(fresh_docs, id_col, text_col),
                SKETCH_TABLE,
            )
            # lm: additive bigram-type counts + distinct vocab rows
            yield (
                "lm",
                bigram_lm_rows(
                    fresh_docs, id_col, text_col, _staged=staged, _occ=occ
                ),
                LM_TABLE,
            )
            # cms: additive md5-variant cells over the token-bigram stream
            yield (
                "cms",
                batch_cms_rows(fresh_docs, id_col, text_col, _grams=grams),
                CMS_TABLE,
            )
            # hh: the batch's exact top-m candidate grams
            yield (
                "hh",
                batch_hh_rows(fresh_docs, id_col, text_col, _grams=grams),
                HH_TABLE,
            )
            # bloom: the decontamination membership facet over the
            # batch's word 4-grams (a DIFFERENT key than the bigram
            # facets — t9's collision gram — so it builds its own stream)
            yield (
                "bloom",
                batch_bloom_rows(fresh_docs, id_col, text_col),
                BLOOM_TABLE,
            )
            # hist: the additive token-length histogram facet (decimal
            # buckets — a14's quantile serve), riding the staged tokens
            yield (
                "hist",
                batch_hist_rows(fresh_docs, id_col, text_col, _staged=staged),
                HIST_TABLE,
            )
            # hllg: per-segment distinct-content registers (a11/a12
            # served from storage) — only when the batch carries the
            # segment key. One lake must group every batch by ONE
            # column (the HLLG_GROUP_COL contract) — rows store group
            # VALUES only
            if hllg_group_col in fresh_docs.columns:
                yield (
                    "hllg",
                    batch_hllg_rows(fresh_docs, hllg_group_col, text_col),
                    HLLG_TABLE,
                )

        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, df, table_name = item
            spark.sparkContext.setJobDescription(f"ingest facet: {name}")
            df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sig_root, table_name, f"batch={batch_id}")
            )
            spark.sparkContext.setJobDescription(None)

        with ThreadPoolExecutor(max_workers=8) as pool:
            sig_fut = pool.submit(_sig_write)
            # list() drains the iterator: any facet failure raises HERE,
            # before the members marker commits the batch
            list(pool.map(_write, _facet_writes()))
            sig_fut.result()
    counts = {
        r["status"]: r["n"]
        for r in decision.groupBy("status")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # members LAST: its presence is the batch's commit marker, and it
    # records every DECIDED id so a re-run skips rejected docs too
    fresh_ids.write.mode("overwrite").parquet(
        os.path.join(mem_dir, f"batch={batch_id}")
    )
    return {
        "n_batch": n_batch,
        "n_already_registered": n_batch - n_fresh,
        "n_considered": n_fresh,
        "n_accepted": counts.get("accepted", 0),
        "n_dup_of_corpus": counts.get("dup_of_corpus", 0),
        "n_dup_in_batch": counts.get("dup_in_batch", 0),
    }


def compact_signature_corpus(
    spark: SparkSession,
    sig_root: str,
    min_batches: int = 8,
    data_table: str = "signatures",
) -> dict:
    """Consolidate many per-batch signature partitions into one — the
    O12 small-file maintenance for the ingest layout. After N daily
    drops the corpus is N small partitions; every band join pays N
    file-listings and N row-group opens, so periodic consolidation
    keeps the scan cost flat while the PROTOCOL stays identical (the
    consolidated partition is just another committed batch).

    ``data_table`` names the per-batch data directory riding the
    members/ markers — 'signatures' for the lexical corpus,
    'assignments' when the embedding-index lake reuses this exact
    machinery (jobs/embedding_index_lake.py::compact_embedding_index);
    the marker/manifest/ledger protocol is table-agnostic.

    Crash-safe by the same members/ marker rules as ingest, plus
    deterministic resume: the consolidated id is a digest of the ids
    it replaces, so a re-run after any crash point recomputes the same
    id, finds what already landed, and finishes the removals. Between
    the consolidated commit and the removals docs exist in two
    committed partitions — harmless for admission (candidate pairs are
    distinct and membership is a semi-join; only the cosmetic
    n_corpus_dups count could briefly double). Single-writer, like
    every maintenance job here: do not run concurrently with ingest.

    Returns counts: n_batches_consolidated, n_signature_rows,
    n_member_rows (zeros when below ``min_batches``).
    """
    import hashlib
    import json
    import os

    sig_dir = os.path.join(sig_root, data_table)
    mem_dir = os.path.join(sig_root, "members")

    def _manifest_path(b: str) -> str:
        # underscore-prefixed files inside a parquet dir are invisible
        # to readers — the manifest rides the data it describes
        return os.path.join(sig_dir, f"batch={b}", "_replaces.json")

    committed = _committed_batches(mem_dir)
    # resume detection: each consolidated partition records WHICH ids it
    # replaced in a _replaces.json manifest (written before its commit
    # marker). Any replaced id still committed is a leftover of a crash
    # between the consolidated commit and the removals — remove it,
    # never re-consolidate (that would double every doc's rows). A
    # digest-of-current-committed heuristic breaks as soon as a NEW
    # ingest lands between crash and re-run; the manifest does not.
    cid, old = None, []
    for b in committed:
        if b.startswith("compact-") and os.path.exists(_manifest_path(b)):
            with open(_manifest_path(b)) as f:
                replaced = json.load(f)
            leftovers = [x for x in replaced if x in committed]
            if leftovers:
                cid, old = b, leftovers
                break
    if cid is not None:
        # belt and braces before deleting anything: the consolidated
        # members must cover every doc of the partitions about to be
        # removed (a corrupt manifest must fail loudly, not drop rows)
        mems_cid = spark.read.parquet(os.path.join(mem_dir, f"batch={cid}"))
        mems_old = spark.read.parquet(
            *[os.path.join(mem_dir, f"batch={b}") for b in old]
        )
        # the members id column: 'doc' (signature corpus) or 'vec'
        # (embedding index) — whatever the layout registered
        member_col = mems_cid.columns[0]
        uncovered = mems_old.join(mems_cid, member_col, "left_anti").count()
        if uncovered:
            raise RuntimeError(
                f"refusing to finish compaction: {cid} does not cover "
                f"{uncovered} docs of the partitions it would replace"
            )
        n_sig = spark.read.parquet(os.path.join(sig_dir, f"batch={cid}")).count()
        n_mem = mems_cid.count()
    else:
        old = committed
        # at least 2 regardless of the floor: consolidating one batch
        # (or none — reading zero parquet paths throws) does nothing
        if len(old) < max(2, min_batches):
            _sweep_retired(sig_root, data_table)
            return {
                "n_batches_consolidated": 0,
                "n_signature_rows": 0,
                "n_member_rows": 0,
            }
        cid = (
            "compact-"
            + hashlib.md5("|".join(sorted(old)).encode()).hexdigest()[:8]
        )
        sigs = spark.read.parquet(
            *[os.path.join(sig_dir, f"batch={b}") for b in old]
        )
        mems = spark.read.parquet(
            *[os.path.join(mem_dir, f"batch={b}") for b in old]
        )
        n_sig = sigs.count()
        n_mem = mems.count()
        # one file per ~256k signature rows; always at least one
        n_files = max(1, n_sig // 262_144)
        sigs.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(sig_dir, f"batch={cid}")
        )
        # the facets consolidate by REDUCTION, not concatenation: each
        # table's old partitions merge by its FACETS law (merged ==
        # from-scratch by the property-tested laws), so a stored facet
        # stays bounded however many batches fold in. Batches predating
        # a facet have no partition and contribute nothing; written
        # before the members marker like every other part of the
        # consolidated batch. No crash window is open on this branch
        # (the resume branch above closes one), so the live batches
        # _read_facet merges are exactly ``old``.
        for table in FACETS:
            merged = _read_facet(spark, sig_root, table, data_table)
            if merged is not None:
                merged.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(sig_root, table, f"batch={cid}")
                )
        with open(_manifest_path(cid), "w") as f:
            json.dump(sorted(old), f)
        # members commit marker LAST — until it lands, the consolidated
        # partition is an invisible phantom and the old ones still serve
        mems.write.mode("overwrite").parquet(
            os.path.join(mem_dir, f"batch={cid}")
        )

    # Retire the old ids FIRST (atomic append to the _retired.json
    # ledger), then remove: members/ (uncommit — the partition becomes
    # an invisible phantom) before signatures/. The ledger is what
    # makes every crash point recoverable: a retired id's leftover
    # directories are swept by ANY later compaction run (including the
    # no-op path), and ingest refuses to reuse a retired id — without
    # the ledger, removing a batch's members would silently re-arm its
    # id and let a re-ingest overwrite the admissions audit history.
    _retire(sig_root, old)
    _sweep_retired(sig_root, data_table)
    return {
        "n_batches_consolidated": len(old),
        "n_signature_rows": n_sig,
        "n_member_rows": n_mem,
    }


def corpus_sketch_stats(
    spark: SparkSession,
    sig_root: str,
    quantiles_bp: tuple[int, ...] = (2500, 5000, 9000, 9900),
    grams: list[str] | None = None,
    top_grams: int | None = None,
    segment_overlap: bool = False,
    token_quantiles: bool = False,
) -> dict:
    """The number a corpus operator actually asks the sketch facet for
    (counts only, the O5 rule): the HLL distinct-content estimate and
    nearest-rank doc-length quantiles, served entirely from the stored
    sketch rows — the corpus text is never touched. Returns zeros/empty
    when no sketch is committed. ``grams`` (optional) additionally
    reports the STORED count-min estimate per requested token bigram —
    corpus-wide heavy-hitter point lookups from the <= depth*width
    persisted cells (a gram none of whose cells were ever touched, or
    a corpus predating the cms facet, estimates 0). ``top_grams``
    serves the corpus-wide top-K heavy hitters entirely from the
    stored hh/ + cms/ facets (lake_heavy_hitters; empty list on a
    pre-facet corpus). ``segment_overlap`` additionally serves every
    pairwise segment-overlap estimate from the stored hllg/ registers
    (a13's serve — k^2 pairs of milli-unit estimates, k = segment
    count, so the collect is bounded by segments squared; empty list
    on a pre-facet corpus). ``token_quantiles`` serves corpus
    token-length quantiles from the stored hist/ facet
    (corpus_token_quantiles — a bounded bucket-table read; empty list
    on a pre-facet corpus)."""
    from ..operators.sketches import hll_summary_of_registers
    from ..pinning import pin

    def _gram_estimates() -> dict:
        if not grams:
            return {}
        cms = read_corpus_cms(spark, sig_root)
        if cms is None:
            return {g: 0 for g in grams}
        from ..operators.sketches import cms_estimate_md5

        cand = spark.createDataFrame(
            [(g,) for g in grams], "gram string"
        )
        est = {
            r["gram"]: int(r["est"])
            for r in cms_estimate_md5(
                cand, cms, "gram", CMS_DEPTH, CMS_WIDTH
            ).collect()
        }
        return {g: est.get(g, 0) for g in grams}

    def _top_grams() -> list:
        if not top_grams:
            return []
        hh = lake_heavy_hitters(spark, sig_root, topk=top_grams)
        if hh is None:
            return []
        return [
            [r["gram"], int(r["est"]), int(r["rank"])]
            for r in hh.orderBy("rank").collect()
        ]

    def _segment_overlap() -> list:
        if not segment_overlap:
            return []
        ov = corpus_segment_overlap(spark, sig_root)
        if ov is None:
            return []
        return [
            [
                r["grp_a"],
                r["grp_b"],
                int(r["est_a_milli"]),
                int(r["est_b_milli"]),
                int(r["union_est_milli"]),
                int(r["overlap_est_milli"]),
            ]
            for r in ov.orderBy("grp_a", "grp_b").collect()
        ]

    def _token_quantiles() -> list:
        if not token_quantiles:
            return []
        qt = corpus_token_quantiles(spark, sig_root)
        if qt is None:
            return []
        return [
            [
                int(r["q_ppm"]),
                int(r["est_lo"]),
                int(r["est_hi"]),
                int(r["n_le"]),
                int(r["n_total"]),
            ]
            for r in qt.collect()
        ]

    def _bloom_stats() -> dict:
        bloom = read_corpus_bloom(spark, sig_root)
        if bloom is None:
            return {"has_bloom": False}
        from ..operators.sketches import BLOOM_K, BLOOM_M_BITS

        row = bloom.agg(
            F.count("*").cast("long").alias("words"),
            F.sum(F.bit_count("bits")).cast("long").alias("set_bits"),
        ).collect()[0]
        set_bits = int(row["set_bits"] or 0)
        fill_ppm = (set_bits * 1_000_000) // BLOOM_M_BITS
        return {
            "has_bloom": True,
            "bloom_words": int(row["words"]),
            "bloom_set_bits": set_bits,
            # fill ratio and the implied false-positive rate
            # (~ fill^k), both in integer ppm — the operational
            # saturation gauge: fp climbing toward 1e6 says the
            # corpus outgrew m and the facet needs a wider rebuild
            "bloom_fill_ppm": fill_ppm,
            "bloom_fp_ppm": (fill_ppm**BLOOM_K)
            // (1_000_000 ** (BLOOM_K - 1)),
        }

    coverage = {
        t: list(facet_coverage(sig_root, t)) for t in FACETS if t != ESTATS_TABLE
    }
    sk = read_corpus_sketch(spark, sig_root)
    if sk is None:
        return {
            "has_sketch": False,
            "distinct_content_est_milli": 0,
            "s_sum": 0,
            "v_zero": 0,
            "n_kmv_sample": 0,
            "len_quantiles_bp": {},
            "gram_est": _gram_estimates(),
            "top_grams": _top_grams(),
            "segment_overlap": _segment_overlap(),
            "token_quantiles": _token_quantiles(),
            "facet_coverage": coverage,
            **_bloom_stats(),
        }
    sk = pin(sk)
    regs = sk.filter(F.col("kind") == "hll").select(
        F.col("reg").cast("int").alias("reg"),
        F.col("v").cast("int").alias("max_rank"),
    )
    summ = hll_summary_of_registers(regs).collect()[0]
    vals = sorted(
        int(r["v"])
        for r in sk.filter(F.col("kind") == "kmv").select("v").collect()
    )
    return {
        "has_sketch": True,
        "distinct_content_est_milli": int(summ["est_milli"]),
        "s_sum": int(summ["s_sum"]),
        "v_zero": int(summ["v_zero"]),
        "n_kmv_sample": len(vals),
        # an empty KMV leg (conceivable only on a hand-built sketch —
        # ingest always has considered docs) degrades to no quantiles
        # rather than indexing vals[-1] on an empty list
        "len_quantiles_bp": (
            {str(q): vals[(q * (len(vals) - 1)) // 10000] for q in quantiles_bp}
            if vals
            else {}
        ),
        "gram_est": _gram_estimates(),
        "top_grams": _top_grams(),
        "segment_overlap": _segment_overlap(),
        "token_quantiles": _token_quantiles(),
        # [n_batches_with_facet, n_committed] per facet: estimates
        # above cover the FACETED batches only — partial coverage
        # means the numbers summarize a subset of the corpus
        "facet_coverage": coverage,
        **_bloom_stats(),
    }


# ---------------------------------------------------------------------------
# sf-keyed DEMO sketch lake (catalog a6): the sf documents table pushed
# through the REAL incremental protocol — two ingest batches, then one
# compaction — so the a6 entry's hash check covers the whole facet end
# to end: ingest persisted per-batch sketch rows, compaction REDUCED
# them to one merged partition, and read_corpus_sketch serves that
# stored state; the oracle re-derives the merged sketch from the raw
# parquet alone.
# ---------------------------------------------------------------------------

SF_SKETCH_VERSION = 1


def _sketch_tag() -> str:
    from ..operators import dedup, sketches, text

    return formula_tag(
        batch_sketch_rows,
        merge_sketch_rows,
        batch_hllg_rows,
        merge_hllg_rows,
        sketches.hll_registers_by,
        batch_cms_rows,
        batch_hh_rows,
        merge_hh_rows,
        batch_bloom_rows,
        batch_gram4_stream,
        batch_hist_rows,
        _batch_grams,
        sketches.bloom_positions,
        sketches.bloom_rows,
        sketches.merge_bloom_rows,
        sketches.hll_rank,
        sketches.hll_registers,
        sketches.bottomk_of_rows,
        sketches.bottomk_rows,
        sketches.cms_cells_md5,
        sketches.cms_rows_md5,
        sketches.merge_cms_rows,
        sketches.hist_bucket_lo,
        sketches.hist_bucket_hi,
        sketches.hist_rows,
        sketches.merge_hist_rows,
        text.bigram_lm_rows,
        text.merge_lm_rows,
        text._bigram_staged,
        text._bigram_occurrences,
        dedup.normalize_text,
    )


def sf_sketch_lake_dir(sf_dir: str) -> Path:
    return keyed_dir("signature_sketch_lake", SF_SKETCH_VERSION, sf_dir, _sketch_tag())


def build_sf_sketch_lake(spark: SparkSession, sf_dir: str, out_dir: Path) -> None:
    from ..io import table

    docs = table(spark, sf_dir, "documents")
    root = str(out_dir / "root")
    ingest_signature_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 0), root, "even"
    )
    ingest_signature_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), root, "odd"
    )
    compact_signature_corpus(spark, root, min_batches=2)


def sf_sketch_root(spark: SparkSession, sf_dir: str) -> str:
    """Root of the materialized demo sketch lake, building on first use
    (atomic, race-benign — jobs/_lake.py)."""
    out = ensure_lake(
        sf_sketch_lake_dir(sf_dir),
        lambda tmp: build_sf_sketch_lake(spark, sf_dir, tmp),
    )
    return str(out / "root")


def _retired_path(sig_root: str) -> str:
    import os

    return os.path.join(sig_root, "_retired.json")


def retired_batches(sig_root: str) -> list[str]:
    """Ids consolidated away by compaction — permanently unusable for
    new ingests (their admissions/ audit dirs survive and must never be
    overwritten)."""
    import json
    import os

    p = _retired_path(sig_root)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _retire(sig_root: str, ids: list[str]) -> None:
    """Atomically add ``ids`` to the retired ledger (tmp + rename)."""
    import json
    import os

    merged = sorted(set(retired_batches(sig_root)) | set(ids))
    tmp = _retired_path(sig_root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(merged, f)
    os.replace(tmp, _retired_path(sig_root))


def _sweep_retired(sig_root: str, data_table: str = "signatures") -> None:
    """Remove every retired id's partitions: members/ first (uncommit),
    then the data table, then every registered facet. Compaction's own
    removals run here, and so does the finish of any interrupted one (a
    crash between two removals would otherwise orphan the rest forever
    — the id is gone from the committed set, so the manifest-driven
    resume can't see it)."""
    import os
    import shutil

    for b in retired_batches(sig_root):
        for table in ("members", data_table, *FACETS):
            shutil.rmtree(
                os.path.join(sig_root, table, f"batch={b}"), ignore_errors=True
            )
