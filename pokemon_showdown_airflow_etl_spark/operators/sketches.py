"""Count-min sketch heavy hitters (SURVEY.md §2.11 sketch path).

a1 covers the BUILT-IN sketches (HLL++, KLL quantiles); this module is
the "novel sketch as a composition of DataFrame ops" case the engine
needs when Spark lacks the summary: a count-min sketch (Cormode &
Muthukrishnan 2005) built entirely from JVM-side expressions — no
Python, no driver-side sketch state.

The CMS is a depth x width counter matrix; cell (r, h_r(key) % width)
increments per occurrence, and est(key) = min over rows r. Counters are
ADDITIVE, so the distributed build is just an aggregation: explode each
key occurrence into its ``depth`` cell ids and count per cell —
map-side partial aggregation collapses the stream to <= depth * width
partial rows per task before the one exchange, which is exactly how a
hand-rolled mergeable sketch would shuffle. The materialized sketch is
a <= depth * width row table (constant size, broadcastable), queried by
joining candidate keys' cell ids against it and taking min(count).

est >= exact always (collisions only ADD); est <= exact + eps * N with
eps = e / width at the usual CMS confidence — the audit columns bound
both sides per reported key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pinning import pin


def cms_cells(key: Column, depth: int, width: int) -> Column:
    """The ``depth`` cell ids of ``key``: row r hashes with xxhash64
    seeded by r (independent-enough row hashes), cell = r*width + h%width
    so one flat id addresses the whole matrix."""
    return F.array(
        *[
            F.lit(r * width) + F.pmod(F.xxhash64(key, F.lit(r)), F.lit(width))
            for r in range(depth)
        ]
    )


def cms_sketch(keys: DataFrame, key_col: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Build the merged corpus-wide sketch: (cell long, cnt long),
    <= depth * width rows. One pass, one bounded-key shuffle."""
    return (
        keys.select(F.explode(cms_cells(F.col(key_col), depth, width)).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate counts for a candidate-key frame against a built sketch:
    explode each candidate into its cells, broadcast-join the constant-
    size sketch, min over rows. Adds ``est`` to ``candidates``."""
    cells = candidates.select(
        key_col, F.explode(cms_cells(F.col(key_col), depth, width)).alias("cell")
    )
    return (
        cells.join(F.broadcast(sketch), "cell")
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est"))
        .join(candidates, key_col)
    )


def cms_heavy_hitters(
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    topk: int = 10,
    eps_mult: float = 4.0,
) -> DataFrame:
    """Heavy hitters with a per-key sketch-accuracy audit.

    ``keys`` is the pre-exploded occurrence stream (one row per key
    occurrence). The reported keys are the EXACT top-``topk`` (count
    desc, key asc) — the verification path, same role as d2's exact
    Jaccard next to d7's LSH: at 100 TB production swaps the exact
    audit for per-partition local-top-m candidate proposal (a global
    heavy hitter is a local one in some partition) and keeps only the
    sketch pass; the plan shape of the sketch build/query is identical.

    Returns (key, exact_n, rank, est_ge_exact, est_within_eps):
    est >= exact is the CMS no-underestimate law; est <= exact +
    eps_mult/width * N is the width bound (eps_mult=4 > e covers the
    standard confidence with slack so the boolean is stable).
    """
    exact = (
        keys.groupBy(key_col)
        .agg(F.count("*").cast("long").alias("exact_n"))
        .transform(pin)
    )
    total = exact.agg(F.sum("exact_n").alias("n_total"))
    top = exact.orderBy(F.desc("exact_n"), F.asc(key_col)).limit(topk)
    ranked = top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("exact_n"), F.asc(key_col)))
        .cast("int"),
    )
    sketch = cms_sketch(keys, key_col, depth, width)
    est = cms_estimate(ranked, sketch, key_col, depth, width)
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "exact_n",
            "rank",
            (F.col("est") >= F.col("exact_n")).alias("est_ge_exact"),
            (
                F.col("est")
                <= F.col("exact_n")
                + F.lit(eps_mult / width) * F.col("n_total")
            ).alias("est_within_eps"),
        )
        .orderBy("rank")
    )


def cms_cells_md5(key: Column, depth: int, width: int) -> Column:
    """Engine-PORTABLE CMS cells — same role as ``cms_cells`` but the
    row hashes are md5-based (row r's hash = first 15 hex chars of
    md5('r:' || key), 60 bits < 2^63) so ANSI SQL / DuckDB can
    re-derive every cell bit-exactly. The signature lake's stored CMS
    facet uses this variant: stored cells themselves then sit under
    the driver's oracle hash check (the a6/a7 pattern), which
    xxhash64 cells can't (a2's oracle had to fall back to audit
    booleans)."""
    return F.array(
        *[
            F.lit(r * width).cast("long")
            + F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{r}:"), key)), 1, 15),
                16,
                10,
            ).cast("long")
            % width
            for r in range(depth)
        ]
    )


def cms_rows_md5(
    keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the md5-variant sketch from an occurrence stream:
    (cell long, cnt long), <= depth * width rows. One pass, map-side
    partial aggregation, one bounded-key shuffle — cells are ADDITIVE,
    so per-batch row sets merge by SUM (``merge_cms_rows``)."""
    return (
        keys.select(
            F.explode(cms_cells_md5(F.col(key_col), depth, width)).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def merge_cms_rows(rows: DataFrame) -> DataFrame:
    """Merge any union of per-batch CMS row sets to ONE sketch: SUM per
    cell (the CMS merge law — counter matrices add). Associative;
    merging disjoint batches equals building from scratch on their
    union. NOT idempotent: a batch's rows must enter exactly once (the
    lake's committed-partition read + crash-window exclusion guarantee
    that, jobs/doc_signature_lake.py::_committed_facet_paths)."""
    return rows.groupBy("cell").agg(F.sum("cnt").cast("long").alias("cnt"))


def cms_estimate_md5(
    candidates: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate counts for a candidate-key frame against an md5-variant
    sketch (stored facet or ``cms_rows_md5`` output): explode each
    candidate into its cells, broadcast-join the <= depth*width-row
    sketch, min over rows. Adds ``est`` to ``candidates``. Canonical
    CMS semantics: the row-set form stores only touched cells, so an
    absent cell coalesces to count 0 before the min — a key with ANY
    untouched cell correctly estimates 0 (an inner join would instead
    report the min of its collision counts, inflating absent keys).
    Corpus-drawn candidates are unaffected — every cell of a seen key
    holds at least its own count."""
    cells = candidates.select(
        key_col,
        F.explode(cms_cells_md5(F.col(key_col), depth, width)).alias("cell"),
    )
    return (
        cells.join(F.broadcast(sketch), "cell", "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est")
        )
        .join(candidates, key_col)
    )


def mg_merge(counters, vc, m: int):
    """One mergeable-summary reduction step (Agarwal et al. 2012): add
    the new counts, and if more than ``m`` counters survive, subtract
    the (m+1)-th largest from all and drop non-positives. ``counters``
    may be None (first batch); both args are pandas Series keyed by the
    summary key. Shared by the batch operator below and the streaming
    trending-terms state update."""
    merged = vc if counters is None else counters.add(vc, fill_value=0)
    if len(merged) > m:
        cut = merged.nlargest(m + 1).iloc[-1]
        merged = (merged - cut)[lambda s: s > 0]
    return merged


def misra_gries_candidates(
    keys: DataFrame, key_col: str, m: int = 64
) -> DataFrame:
    """Per-partition Misra-Gries summary: at most ``m`` candidate keys
    per partition, O(m) memory regardless of partition size — the
    bounded-state candidate proposal that replaces a2's exact-audit
    candidates at 100 TB (an exact per-key count is feasible for word
    keys; it is NOT for open-ended n-gram spaces).

    Guarantee (Misra & Gries 1982; mergeable form Agarwal et al. 2012):
    any key with frequency > n_partition / (m + 1) survives its
    partition's summary, so a global heavy hitter above that floor is
    proposed by at least one partition. Batches merge by summing
    counters then subtracting the (m+1)-th largest and dropping
    non-positives — the standard mergeable-summary reduction, applied
    vectorized per Arrow batch instead of per row.

    Returns (key, lb) with lb the surviving counter (a LOWER bound on
    the partition-local frequency minus decrements); downstream ranks
    candidates by the CMS estimate, never by lb.
    """
    import pandas as pd

    def summarize(batches):
        counters: "pd.Series | None" = None
        for pdf in batches:
            if not len(pdf):
                continue
            counters = mg_merge(counters, pdf["key"].value_counts(), m)
        if counters is None or not len(counters):
            return
        yield pd.DataFrame(
            {"key": counters.index.astype(str), "lb": counters.values.astype("int64")}
        )

    return keys.select(F.col(key_col).alias("key")).mapInPandas(
        summarize, "key string, lb long"
    )


def cms_heavy_hitters_approx(
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    topk: int = 10,
    m: int = 64,
) -> DataFrame:
    """The production heavy-hitters path: Misra-Gries candidate proposal
    (<= m rows per partition) + count-min estimates + top-k by estimate.
    No exact per-key aggregation anywhere — total state is O(partitions
    * m + depth * width) regardless of key cardinality. Ties break on
    key so the result is deterministic given the data and geometry.

    Returns (key, est, rank).
    """
    # The MG pass summarizes keys AS STRINGS (its output schema is
    # `key string`), but the CMS sketch hashes the ORIGINAL column
    # type — for a non-string key the candidate cell ids would hash
    # different bytes than the sketch's cells and estimates would be
    # silently wrong. Require string keys so the two hash domains are
    # the same by construction (callers cast first).
    from pyspark.sql.types import StringType

    ktype = keys.schema[key_col].dataType
    if not isinstance(ktype, StringType):
        raise TypeError(
            f"cms_heavy_hitters_approx requires a string key column; "
            f"{key_col!r} is {ktype.simpleString()} — cast it first so the "
            "Misra-Gries candidates and the CMS sketch hash the same bytes"
        )
    # pinned: cms_estimate consumes the candidate frame twice (cell
    # explode + the trailing re-join) — unpinned, the whole MG
    # mapInPandas pass would execute twice
    cands = (
        misra_gries_candidates(keys, key_col, m)
        .select("key")
        .distinct()
        .withColumnRenamed("key", key_col)
        .transform(pin)
    )
    sketch = cms_sketch(keys, key_col, depth, width)
    est = cms_estimate(cands, sketch, key_col, depth, width)
    ranked = est.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("est"), F.asc(key_col)))
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= topk).select(key_col, "est", "rank")


# --- deterministic HyperLogLog (a4) ------------------------------------------

HLL_M = 64       # registers (md5's first hex byte % 64 is uniform)
HLL_RANK_CAP = 40  # 2^(cap-rank) keeps the register sum int64-exact
# Flajolet et al. 2007 bias constant for m=64; evaluated the same way
# (literal IEEE ops) the oracle SQL evaluates it, so both engines carry
# the identical double
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_rank(hash_hex: Column) -> Column:
    """Position of the first 1-bit (+1) in the 60-bit tail of an md5,
    computed from STRING ops only — integer hex parsing of a 60-bit
    value is engine-dependent, but `strip leading zero hex chars, then
    classify the first nonzero nibble` is exact everywhere. Range
    1..61 (61 = all-zero tail)."""
    nz = F.regexp_replace(F.substring(hash_hex, 3, 15), "^0*", "")
    first = F.substring(nz, 1, 1)
    bits_first = (
        F.when(first.isin(*"89abcdef"), 4)
        .when(first.isin("4", "5", "6", "7"), 3)
        .when(first.isin("2", "3"), 2)
        .when(first == "1", 1)
        .otherwise(0)
    )
    bitlen = F.when(F.length(nz) == 0, 0).otherwise(
        (F.length(nz) - 1) * 4 + bits_first
    )
    return (F.lit(61) - bitlen).cast("int")


# SQL-string forms of the register route and capped rank (r13, guide
# §1.2 step 2 applied to the DRIVER: the Column-API builders cost one
# py4j round trip per expression node, ~0.3-0.5 s of build time per
# sketch leg; one selectExpr string parses the whole tree JVM-side in
# a single call). Semantics are op-for-op the Column versions' —
# hll_rank stays as the reference implementation and the equivalence
# is pinned by tests/test_hll_and_bigram.py and the a4/a6/a11-13
# oracle parity sweeps.
_HLL_NZ_SQL = "regexp_replace(substring(h, 3, 15), '^0*', '') AS nz"
_HLL_REG_SQL = (
    f"(CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % {HLL_M}) AS reg"
)
_HLL_RANK_SQL = (
    "least(CAST(61 - (CASE WHEN length(nz) = 0 THEN 0 "
    "ELSE (length(nz) - 1) * 4 + "
    "(CASE WHEN substring(nz, 1, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 4 "
    "WHEN substring(nz, 1, 1) IN ('4','5','6','7') THEN 3 "
    "WHEN substring(nz, 1, 1) IN ('2','3') THEN 2 "
    "WHEN substring(nz, 1, 1) = '1' THEN 1 "
    "ELSE 0 END) END) AS INT), "
    f"{HLL_RANK_CAP}) AS rank"
)


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """The HLL register table of a key expression: md5 the key string,
    route on the first hex byte % 64, keep max(first-1-bit rank) per
    register. One map-side-combinable max aggregation over at most
    ``HLL_M`` groups — THE mergeable distinct sketch (Flajolet et al.
    2007), built as plain DataFrame ops so the registers themselves
    (not just an error bound, cf. a1's built-in HLL++) are
    deterministic and cross-engine hash-checkable."""
    h = F.md5(key.cast("string"))
    return (
        df.select(h.alias("h"))
        .filter(F.col("h").isNotNull())
        .selectExpr("h", _HLL_NZ_SQL)
        .selectExpr(_HLL_REG_SQL, _HLL_RANK_SQL)
        .groupBy("reg")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_summary(df: DataFrame, key: Column) -> DataFrame:
    """One-row HLL summary: integer register sum
    S = sum(2^(cap - max_rank)) with absent registers at 2^cap (exact in
    int64 by the cap), zero-register count V, and the standard estimate
    — raw = alpha * m^2 * 2^cap / S, linear counting m*ln(m/V) when
    raw <= 2.5m and V > 0. S and V hash-check exactly; the estimate is
    emitted in milli-units (one division + one ln — far coarser than
    any cross-libm ulp)."""
    return hll_summary_of_registers(hll_registers(df, key))


def hll_summary_of_registers(regs: DataFrame) -> DataFrame:
    """:func:`hll_summary` over an ALREADY-BUILT (reg, max_rank) frame —
    the serving path for registers persisted by the signature lake's
    sketch facet (jobs/doc_signature_lake.py): merged stored registers
    estimate the corpus cardinality without touching the corpus.
    An EMPTY register frame (nothing hashed — e.g. a lake of all-null
    texts) is a valid zero sketch, not an error: the sum coalesces to
    0 so S = m * 2^cap and V = m, which the linear-counting branch
    maps to estimate 0."""
    # one-parse SQL forms of the same expressions (see _HLL_REG_SQL's
    # rationale); literals embed via repr, which round-trips doubles,
    # and the D suffix keeps them DoubleType (a bare decimal literal
    # parses as DECIMAL)
    m = HLL_M
    cap = HLL_RANK_CAP
    summ = regs.agg(
        F.expr(
            f"CAST(coalesce(sum(CAST(pow(2.0, {cap} - max_rank) AS BIGINT)), "
            f"CAST(0 AS BIGINT)) + ({m} - count(*)) * {2**cap} AS BIGINT)"
        ).alias("s_sum"),
        F.expr(f"CAST({m} - count(*) AS BIGINT)").alias("v_zero"),
    )
    raw = f"({HLL_ALPHA * m * m * float(2**cap)!r}D / s_sum)"
    est = (
        f"(CASE WHEN {raw} <= {2.5 * m!r}D AND v_zero > 0 "
        f"THEN {float(m)!r}D * ln({float(m)!r}D / v_zero) "
        f"ELSE {raw} END)"
    )
    return summ.selectExpr(
        f"CAST({m} AS BIGINT) AS n_registers",
        "s_sum",
        "v_zero",
        f"CAST(round({est} * 1000, 0) AS BIGINT) AS est_milli",
    )


# --- deterministic bottom-k sample + quantile audit (a5) ---------------------

A5_SAMPLE_K = 512


def bottomk_sample(
    df: DataFrame,
    key: Column,
    value_col: str,
    k: int = A5_SAMPLE_K,
    n_shards: int = 16,
) -> list[float]:
    """Deterministic uniform sample: the ``k`` rows whose md5(key) sorts
    lowest (KMV — the k-minimum-values construction; Bar-Yossef et al.
    2002). The sort is TOTAL over rows, not just hashes: (md5 asc, key
    string asc, value asc) — duplicate keys hash identically, so
    without the key/value legs a row_number tie at the k boundary
    would break by partition order and the sample would be
    run-dependent whenever duplicate keys carry different values
    (tools/scale_probe.py samples on a duplicable text key). With
    them, the sample is a pure function of the data — two runs, two
    engines, or two merged partitions agree exactly. This is THE
    mergeable uniform sample: per-partition bottom-k then bottom-k of
    the union, which is what the t15 two-phase shard rank computes
    (never a global sort of the corpus). Only the k sampled values
    reach the driver (the codebook pattern). Returns the values sorted
    ascending."""
    rows = bottomk_rows(df, key, value_col, k=k, n_shards=n_shards)
    return sorted(float(r["v"]) for r in rows.select("v").collect())


def bottomk_of_rows(rows: DataFrame, k: int, n_shards: int = 16) -> DataFrame:
    """Bottom-``k`` of an (h, k, v) frame under the total order
    (h asc, k asc, v asc) — the KMV merge step itself: because
    bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B))
    (property-tested in tests/test_hll_and_bigram.py), this one
    function serves both the fresh sample (over per-row hashes) and
    re-merging previously persisted bottom-k partitions (the lake
    facet, jobs/doc_signature_lake.py::merge_sketch_rows). Two-phase
    shard rank — never a global sort of the input."""
    from pyspark.sql.window import Window

    shard = F.conv(F.substring(F.md5("h"), 1, 2), 16, 10).cast("int") % n_shards
    order = [F.asc("h"), F.asc("k"), F.asc("v")]
    w_shard = Window.partitionBy("_shard").orderBy(*order)
    w = Window.orderBy(*order)
    return (
        rows.withColumn("_shard", shard)
        .withColumn("_sr", F.row_number().over(w_shard))
        .filter(F.col("_sr") <= k)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("h", "k", "v")
    )


def bottomk_rows(
    df: DataFrame,
    key: Column,
    value_col: str,
    k: int = A5_SAMPLE_K,
    n_shards: int = 16,
) -> DataFrame:
    """The KMV bottom-k ROWS (h = md5(key), k = key string, v = value)
    as a DataFrame — the persistable form of :func:`bottomk_sample`
    (which collects just the values): per-batch bottom-k rows stored
    in a lake merge to the exact global sample via
    :func:`bottomk_of_rows`."""
    keyed = df.select(
        F.md5(key).alias("h"),
        key.cast("string").alias("k"),
        F.col(value_col).alias("v"),
    )
    return bottomk_of_rows(keyed, k, n_shards=n_shards)


def sampled_quantile_audit(
    df: DataFrame,
    key: Column,
    value_col: str,
    quantiles_bp: tuple[int, ...] = (2500, 5000, 9000, 9900),
    k: int = A5_SAMPLE_K,
) -> DataFrame:
    """Quantile estimates from the deterministic bottom-k sample, with
    their MEASURED rank error against the full data — the quantile twin
    of a4's distinct sketch: because the sample is deterministic, the
    estimates themselves (raw data values, no arithmetic) and the
    integer rank audit hash-check cross-engine, unlike engine-specific
    KLL/GK summaries whose internals differ by construction.

    Estimate: nearest-rank on the sorted sample, index
    floor(q * (k-1)). Audit: one aggregation over the data counts rows
    strictly below each estimate (the estimates ride as literals — the
    constant-size broadcast pattern), emitting the achieved rank in
    integer basis points and its absolute error vs the target. At
    100 TB the cost is the sampling pass (map-side bottom-k + a
    k*shards re-rank) plus ONE combinable count aggregation.

    Returns one row per quantile:
    (q_bp, est_value, n_rows, n_below, rank_bp, err_bp)."""
    vals = bottomk_sample(df, key, value_col, k=k)
    if len(vals) < k:
        # the a5 oracle hard-codes nearest-rank indices against a FULL
        # k-row sample ((q*(k-1)) div 10000 + 1, r <= k); a short sample
        # would silently drop its quantile rows there and produce a
        # parity break downstream — fail loudly here instead
        raise ValueError(
            f"sampled_quantile_audit needs >= k={k} input rows for its "
            f"fixed-k rank arithmetic; got a {len(vals)}-row sample — "
            "lower k or use the full-data quantile path"
        )
    ests = {q: vals[(q * (len(vals) - 1)) // 10000] for q in quantiles_bp}
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for q, est in ests.items():
        aggs.append(
            F.sum((F.col(value_col) < F.lit(est)).cast("long"))
            .cast("long")
            .alias(f"_below_{q}")
        )
    # one aggregation row, fanned out by explode(array(struct...)) —
    # the agg subtree appears exactly ONCE in the plan, so no pin is
    # needed (r13; the previous shape localCheckpoint-pinned the agg
    # row and UNIONed four projections of it: one extra materialization
    # job + four plan branches for the same four rows this single
    # Generate emits)
    row = df.agg(*aggs)
    legs = []
    for q, est in ests.items():
        # integer division end to end: a double divide could land an
        # exact multiple a ulp low and floor() off by one cross-engine
        rank_bp = F.expr(f"(_below_{q} * 10000L) div n_rows").cast("long")
        legs.append(
            F.struct(
                F.lit(q).cast("int").alias("q_bp"),
                F.lit(est).alias("est_value"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"_below_{q}").alias("n_below"),
                rank_bp.alias("rank_bp"),
                F.abs(rank_bp - q).cast("long").alias("err_bp"),
            )
        )
    return row.select(F.explode(F.array(*legs)).alias("_r")).select("_r.*")


# --- Bloom filter (decontamination membership) -------------------------------
#
# A Bloom filter over a key stream, held as (word, bits) rows: m bits
# split into 62-bit BIGINT words (bits 0..61 only — both Spark and
# DuckDB refuse or sign-flip `1::BIGINT << 63`, and staying under the
# sign bit keeps every stored value positive and engine-portable).
# Each key sets BLOOM_K bits at double-hashed positions
# p_i = (h1 + i * (2*h2 + 1)) % m  (Kirsch & Mitzenmacher 2006), with
# h1/h2 the first/second 60-bit md5 slices — the same engine-portable
# hash family as the md5-variant CMS, so an ANSI-SQL oracle re-derives
# every stored word bit-exactly.
#
# Words merge by bitwise OR: idempotent, commutative, associative — a
# per-batch facet the signature lake folds at compaction like every
# other registered facet (its reads skip crash-window batches the same
# way, though OR, like the HLL max law, would heal a double read).
# Membership: a key is MAYBE present iff all BLOOM_K probed
# bits are set; absent keys read false except at the documented
# false-positive rate (~ fill^k); present keys NEVER read false — the
# no-false-negative law the decontamination serve relies on.

BLOOM_WORD_BITS = 62
BLOOM_WORDS = 32768  # m = 32768 * 62 = 2,031,616 bits (~254 KiB dense)
BLOOM_M_BITS = BLOOM_WORDS * BLOOM_WORD_BITS
BLOOM_K = 4


def bloom_positions(
    key: Column, k: int = BLOOM_K, m_bits: int = BLOOM_M_BITS
) -> Column:
    """The ``k`` bit positions of ``key`` (array<long>, each < m_bits).
    Both md5 slices reduce mod m BEFORE the double-hash combine so the
    arithmetic stays far from BIGINT overflow at any k."""
    h1 = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % m_bits
    h2 = F.conv(F.substring(F.md5(key), 17, 15), 16, 10).cast("long") % m_bits
    step = h2 * F.lit(2) + F.lit(1)
    return F.array(*[(h1 + F.lit(i) * step) % m_bits for i in range(k)])


def bloom_rows(
    keys: DataFrame,
    key_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Build the filter from a key stream: (w long, bits long) rows,
    only the touched words stored (<= BLOOM_WORDS rows however large
    the stream). One explode + one bounded-key OR aggregation —
    map-side combine collapses each task to <= BLOOM_WORDS partial
    rows before the single exchange, the same shuffle shape as the
    CMS build."""
    return (
        keys.select(
            F.explode(bloom_positions(F.col(key_col), k, m_bits)).alias("p")
        )
        .select(
            (F.col("p") / BLOOM_WORD_BITS).cast("long").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
            ).alias("bv"),
        )
        .groupBy("w")
        .agg(F.bit_or("bv").alias("bits"))
    )


def merge_bloom_rows(rows: DataFrame) -> DataFrame:
    """Merge any union of per-batch Bloom row sets to ONE filter:
    bitwise OR per word. Idempotent (OR of a row with itself is the
    row), so unlike the additive LM/CMS merges a crash-window double
    read changes nothing — merged-then-stored partitions simply merge
    again with fresh batches."""
    return rows.groupBy("w").agg(F.bit_or("bits").alias("bits"))


def bloom_maybe_contains(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Probe candidate keys against a (w, bits) filter: adds
    ``maybe_present`` (true iff ALL probed bits are set). The filter
    is <= BLOOM_WORDS rows and explicitly broadcast, so the candidate
    side — the side that grows with the corpus — never shuffles; the
    only exchange is the k-row-per-key verdict fold, map-side combined.
    An untouched word is simply absent from the stored rows; its bits
    coalesce to 0 and the probe correctly reads false. The verdict
    compares sum(hit) to count(*) rather than the constant k, so a
    caller that passes duplicate candidate keys (each dup contributes
    its own k probe rows, all hits for a present key) still reads
    maybe_present=true — duplicates can never manufacture the false
    negative ADVICE r11 flagged for the sum(hit)==k form."""
    probes = candidates.select(
        F.col(key_col),
        F.explode(bloom_positions(F.col(key_col), k, m_bits)).alias("p"),
    ).select(
        key_col,
        (F.col("p") / BLOOM_WORD_BITS).cast("long").alias("w"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
        ).alias("bv"),
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bv")) == F.col("bv")
    ).cast("int")
    return (
        probes.join(F.broadcast(bloom), "w", "left")
        .select(key_col, hit.alias("hit"))
        .groupBy(key_col)
        .agg((F.sum("hit") == F.count(F.lit(1))).alias("maybe_present"))
    )


def hll_registers_by(df: DataFrame, group_col: str, key: Column) -> DataFrame:
    """Per-group HLL register tables — :func:`hll_registers` with a
    grouping key, the standard OLAP sketch shape ("distinct users per
    segment"): (group, reg, max_rank) rows, <= HLL_M per group, one
    map-side-combinable max aggregation over (group, reg). Mergeable
    per group by max, exactly like the global sketch."""
    h = F.md5(key.cast("string"))
    return (
        df.select(F.col(group_col).alias("grp"), h.alias("h"))
        .filter(F.col("h").isNotNull())
        .selectExpr("grp", "h", _HLL_NZ_SQL)
        .selectExpr("grp", _HLL_REG_SQL, _HLL_RANK_SQL)
        .groupBy("grp", "reg")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_summary_by(regs: DataFrame) -> DataFrame:
    """Per-group :func:`hll_summary_of_registers` over a (grp, reg,
    max_rank) frame: one row per group with the int64-exact register
    sum S, zero-register count V, and the estimate (raw + linear-
    counting branches) in milli-units. Same math as the global
    summary; a group absent from the frame simply has no row (its
    sketch is empty — the caller decides whether absent means 0)."""
    # one-parse SQL forms — hll_summary_of_registers' rationale
    m = HLL_M
    cap = HLL_RANK_CAP
    summ = regs.groupBy("grp").agg(
        F.expr(
            f"CAST(coalesce(sum(CAST(pow(2.0, {cap} - max_rank) AS BIGINT)), "
            f"CAST(0 AS BIGINT)) + ({m} - count(*)) * {2**cap} AS BIGINT)"
        ).alias("s_sum"),
        F.expr(f"CAST({m} - count(*) AS BIGINT)").alias("v_zero"),
    )
    raw = f"({HLL_ALPHA * m * m * float(2**cap)!r}D / s_sum)"
    est = (
        f"(CASE WHEN {raw} <= {2.5 * m!r}D AND v_zero > 0 "
        f"THEN {float(m)!r}D * ln({float(m)!r}D / v_zero) "
        f"ELSE {raw} END)"
    )
    return summ.selectExpr(
        "grp",
        "s_sum",
        "v_zero",
        f"CAST(round({est} * 1000, 0) AS BIGINT) AS est_milli",
    )


def hll_pairwise_overlap(regs: DataFrame) -> DataFrame:
    """All pairwise segment overlaps from STORED-SHAPE grouped HLL
    registers alone (the a12 derivation, shared by the catalog entry
    and the signature lake's hllg facet serve): per-group estimates,
    pairwise UNION sketches by the register-max merge law (max over
    two <= HLL_M-row frames — the union needs no data revisit), and
    the intersection by inclusion-exclusion est(A)+est(B)-est(A|B).

    ``regs``: (grp, reg, max_rank). Returns one row per unordered pair
    (grp_a < grp_b): est_a_milli, est_b_milli, union_est_milli,
    overlap_est_milli. Every input and output is deterministic, so the
    whole derivation hash-checks cross-engine. At 100 TB: k segments
    cost k^2 x HLL_M-row merges — no re-scan of whatever raw data
    built the registers."""
    from ..pinning import pin

    # ONE pin — the register frame, the only subtree that may contain a
    # corpus scan. Everything downstream (group keys, pairs, union
    # merges, estimates) is bounded at <= HLL_M rows per group, so
    # recomputing those branches from the pinned registers costs
    # bounded work at any scale, while each extra lazy-localCheckpoint
    # pin costs ~0.5 s of JVM planning at build time (measured r13 —
    # the a12 family's dominant cost was four pins' plan-time, not
    # execution).
    regs = pin(regs)
    groups = regs.select("grp").distinct()
    pairs = (
        groups.select(F.col("grp").alias("grp_a"))
        .join(groups.select(F.col("grp").alias("grp_b")))
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    # union registers: max per (pair, reg) over BOTH sides' stored
    # rows — the merge law, never the data. The doubled pair-key frame
    # (each pair listed once under grp_a and once under grp_b) is
    # broadcast and equi-joined against the registers in ONE hash join
    # (r13, guide §3): the previous OR-predicate join
    # (grp == grp_a OR grp == grp_b) could only plan as a nested loop
    # over |regs| x |pairs|, and grp_a < grp_b means a register row
    # matches exactly one side of each pair, so this produces the
    # identical multiset.
    pkeys = pairs.select(
        F.col("grp_a").alias("grp"), "grp_a", "grp_b"
    ).unionByName(pairs.select(F.col("grp_b").alias("grp"), "grp_a", "grp_b"))
    uregs = (
        regs.join(F.broadcast(pkeys), "grp")
        .groupBy("grp_a", "grp_b", "reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    est = hll_summary_by(regs).select("grp", "est_milli")
    # the pair key stays a STRUCT through the summary (ADVICE r11: a
    # string-encoded composite key would mis-split on group values
    # containing the separator)
    uest = hll_summary_by(
        uregs.select(
            F.struct("grp_a", "grp_b").alias("grp"), "reg", "max_rank"
        )
    ).select(
        F.col("grp.grp_a").alias("grp_a"),
        F.col("grp.grp_b").alias("grp_b"),
        F.col("est_milli").alias("union_est_milli"),
    )
    ea = est.select(
        F.col("grp").alias("grp_a"), F.col("est_milli").alias("est_a_milli")
    )
    eb = est.select(
        F.col("grp").alias("grp_b"), F.col("est_milli").alias("est_b_milli")
    )
    return (
        pairs.join(ea, "grp_a")
        .join(eb, "grp_b")
        .join(uest, ["grp_a", "grp_b"])
        .select(
            "grp_a",
            "grp_b",
            "est_a_milli",
            "est_b_milli",
            "union_est_milli",
            (
                F.col("est_a_milli")
                + F.col("est_b_milli")
                - F.col("union_est_milli")
            ).alias("overlap_est_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic decimal histogram — the engine's mergeable QUANTILE
# sketch (SURVEY.md §2.11 sketch path, the a5 built-in's lake-ready
# sibling). Spark's approx_percentile / KLL state is opaque and
# engine-specific; a facet that must (a) merge by plain SUM across
# batches and compactions and (b) hash-check against an ANSI-SQL oracle
# needs a bucketing that is a pure integer/string formula. This is the
# HDR-histogram idea with DECIMAL significant digits: a non-negative
# value keeps its exact value while it has <= HIST_SIG_DIGITS digits
# (singleton buckets — exact quantiles for the small range) and above
# that rounds down to its first HIST_SIG_DIGITS digits (bucket width
# 10^(d-3), relative error < 1% since the lead is >= 100). Buckets per
# decade are bounded (900), decades by the value magnitude (~9 for
# anything countable), so the whole histogram is a few-thousand-row
# table whatever the corpus size — broadcastable, SUM-mergeable,
# crash-window-excludable like every additive facet.
# ---------------------------------------------------------------------------

HIST_SIG_DIGITS = 3


def hist_bucket_lo(x: Column) -> Column:
    """Inclusive lower bound of ``x``'s histogram bucket — ``x`` itself
    below 10^HIST_SIG_DIGITS, else the first HIST_SIG_DIGITS digits
    with the rest zeroed. Pure string math (substr + repeat + cast), so
    the exact same expression runs in DuckDB — no float pow whose
    rounding could flip a boundary value into the neighbor bucket."""
    s = x.cast("string")
    d = F.length(s)
    pad = F.repeat(F.lit("0"), d - F.lit(HIST_SIG_DIGITS))
    return (
        F.when(d <= HIST_SIG_DIGITS, x.cast("long"))
        .otherwise(
            F.concat(F.substring(s, 1, HIST_SIG_DIGITS), pad).cast("long")
        )
    )


def hist_bucket_hi(x: Column) -> Column:
    """Inclusive upper bound: lo + 10^(d - HIST_SIG_DIGITS) - 1 for
    bucketed values (the scale rebuilt as the string '1' + zeros — same
    no-float rule as the lower bound), ``x`` itself for singletons."""
    s = x.cast("string")
    d = F.length(s)
    pad = F.repeat(F.lit("0"), d - F.lit(HIST_SIG_DIGITS))
    scale = F.concat(F.lit("1"), pad).cast("long")
    return (
        F.when(d <= HIST_SIG_DIGITS, x.cast("long"))
        .otherwise(hist_bucket_lo(x) + scale - 1)
    )


def hist_rows(df: DataFrame, value_col: str) -> DataFrame:
    """The histogram-sketch rows (lo, hi, cnt) of a non-negative long
    column: one narrow aggregation with map-side partial combine — the
    stream collapses to <= a-few-thousand partial rows per task before
    the single exchange, the same shuffle shape as the CMS build. NULL
    and negative values are excluded (they have no decimal bucket; a
    count can't be negative)."""
    v = F.col(value_col).cast("long")
    return (
        df.filter(v.isNotNull() & (v >= 0))
        .select(hist_bucket_lo(v).alias("lo"), hist_bucket_hi(v).alias("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def merge_hist_rows(rows: DataFrame) -> DataFrame:
    """Merge histogram rows from many batches: plain SUM per bucket.
    Counts are ADDITIVE — merged == from-scratch exactly (the property
    tests pin it), which is what lets compaction fold N per-batch
    partitions into one without touching the corpus. Like the LM/CMS
    facets (and unlike the idempotent max-merge sketches) additive
    counts cannot heal a crash-window double-merge, so readers exclude
    replaced-but-unremoved partitions (_committed_facet_paths)."""
    return rows.groupBy("lo", "hi").agg(F.sum("cnt").cast("long").alias("cnt"))


def hist_quantiles(
    rows: DataFrame,
    qs_ppm: tuple[int, ...] = (250_000, 500_000, 750_000, 900_000, 990_000),
) -> DataFrame:
    """Quantiles served from histogram rows alone: for each requested
    q (parts-per-million — integer, so targets are exact cross-engine)
    the answer is the first bucket whose cumulative count reaches
    ceil(q * n_total / 1e6) — the discrete quantile's bucket, with
    est_lo <= exact_quantile <= est_hi guaranteed by construction.

    Scale shape: the cumulative window and the target join run over
    the MERGED bucket table (a few thousand rows however big the
    corpus — the a12 registers-not-data rule), never the value stream;
    the join is a broadcast of that bounded table. Integer ceiling
    division (`div`) keeps the target exact where q * n overflows
    float precision. Returns (q_ppm, est_lo, est_hi, n_le, n_total)
    ordered by q_ppm; empty when ``rows`` is empty."""
    merged = pin(merge_hist_rows(rows))
    w = Window.orderBy("lo").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.withColumn("n_le", F.sum("cnt").over(w))
    tot = merged.agg(F.sum("cnt").cast("long").alias("n_total"))
    spark = rows.sparkSession
    qs = spark.createDataFrame(
        [(int(q),) for q in qs_ppm], "q_ppm int"
    )
    targets = qs.crossJoin(F.broadcast(tot)).withColumn(
        "target",
        F.expr("(cast(q_ppm as bigint) * n_total + 999999) div 1000000"),
    )
    return (
        targets.join(F.broadcast(cum), F.col("n_le") >= F.col("target"))
        .groupBy("q_ppm", "n_total")
        .agg(F.min_by(F.struct("lo", "hi", "n_le"), "lo").alias("b"))
        .select(
            "q_ppm",
            F.col("b.lo").alias("est_lo"),
            F.col("b.hi").alias("est_hi"),
            F.col("b.n_le").alias("n_le"),
            "n_total",
        )
        .orderBy("q_ppm")
    )
