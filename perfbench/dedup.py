"""corpus_dedup: one-shot curation of a seeded corpus with planted
duplicates (``jobs.curate.curate_corpus``), then incremental admission
of daily drops into a signature corpus seeded with the curated survivors
(``jobs.doc_signature_lake.ingest_signature_batch``) and one
``compact_signature_corpus``. The same LSH layer (operators.dedup) runs
as a batch job and as a read-while-write admission path.

A round is curate + seed registration + daily drops + compaction in
fresh directories; the run repeats whole rounds while another one fits in
its time.
Operations: the curate call, each admission (seed included) and the
compaction. An admission or the compaction fails if it raises; a raising
curate call ends the run.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pokemon_showdown_airflow_etl_spark.jobs.curate import curate_corpus
from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import (
    NUM_HASHES,
    compact_signature_corpus,
    ingest_signature_batch,
)
from pokemon_showdown_airflow_etl_spark.operators import dedup as D
from pokemon_showdown_airflow_etl_spark.operators.text import STOPWORDS, with_quality

from .check import check_admission, check_curate
from .lakefiles import data_files, read_rows, tree_bytes
from .loop import whole_rounds

THRESHOLD = 0.8  # curate_corpus and ingest_signature_batch default
ROWS_PER_BAND = 2  # their LSH geometry: NUM_HASHES hashes, 2 rows per band
SIZES = {"unique": 800, "exact_groups": 80, "near": 100, "short": 60,
         "drops": 3, "drop_size": 100}
# curate and the seed registration only: the first daily drop then pays
# the admission plans' first compile, and the median over three drops
# keeps that out of step_s
WARMUP_SIZES = {"unique": 60, "exact_groups": 6, "near": 6, "short": 4,
                "drops": 0, "drop_size": 0}
LAYER_UNITS = {
    "exact_dedup_s": "s", "lsh_candidates_s": "s", "lsh_candidate_pairs": "count",
    "lsh_verified_pairs": "count", "lsh_verify_yield": "ratio",
    "dup_clusters_s": "s", "quality_s": "s",
    "admit_batch_s": "s", "admit_accepted": "count", "admit_dup_of_corpus": "count",
    "signature_files": "count", "signature_bytes": "bytes",
    "signature_compact_s": "s", "signature_compact_bytes_rewritten": "bytes",
}


class Corpus:
    """Seeded documents: ``docs`` (id -> text) plus the planted structure."""

    def __init__(self, seed, sizes: dict):
        self.rng = rng = random.Random(f"{seed}:corpus")
        syllables = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
        self.vocab = sorted({"".join(rng.choices(syllables, k=rng.randint(2, 4)))
                             for _ in range(4000)})
        n_ids = (sizes["unique"] + 4 * sizes["exact_groups"] + sizes["near"] + sizes["short"]
                 + 2 * sizes["drops"] * sizes["drop_size"])
        self._ids = iter(rng.sample(range(1_000_000, 9_999_999), n_ids))
        self.docs: dict[int, str] = {}
        self.exact_groups: list[list[int]] = []
        self.near_pairs: list[tuple[int, int]] = []
        self.low_quality: set[int] = set()
        base = [self._add(self.text()) for _ in range(sizes["unique"])]
        picked = rng.sample(base, sizes["exact_groups"] + sizes["near"])
        for b in picked[:sizes["exact_groups"]]:
            self.exact_groups.append(
                [b] + [self._add(self.variant(self.docs[b])) for _ in range(rng.randint(1, 3))])
        for b in picked[sizes["exact_groups"]:]:
            self.near_pairs.append((b, self._add(self.edit(self.docs[b]))))
        for _ in range(sizes["short"]):
            self.low_quality.add(self._add(" ".join(rng.choices(self.vocab, k=rng.randint(3, 8)))))

    def _add(self, text: str) -> int:
        i = next(self._ids)
        self.docs[i] = text
        return i

    def text(self) -> str:
        """50-90 words, about a fifth of them stopwords."""
        rng = self.rng
        return " ".join(rng.choice(STOPWORDS) if rng.random() < 0.2 else rng.choice(self.vocab)
                        for _ in range(rng.randint(50, 90)))

    def variant(self, text: str) -> str:
        """Same normalized text: case and whitespace changes only."""
        rng = self.rng
        words = [w.upper() if rng.random() < 0.1 else w.capitalize() if rng.random() < 0.1 else w
                 for w in text.split(" ")]
        return rng.choice(("", " ", "\n")) + "".join(
            w + rng.choice((" ", " ", " ", "  ", "\t", "\n")) for w in words).rstrip() + rng.choice(("", "  "))

    def edit(self, text: str) -> str:
        """One interior word replaced: 3-gram Jaccard (n-5)/(n+1) >= 0.88."""
        words = text.split(" ")
        i = self.rng.randrange(3, len(words) - 3)
        words[i] = self.rng.choice([w for w in self.vocab[:50] if w != words[i]])
        return " ".join(words)

    def drop(self, corpus_ids: list[int], size: int) -> dict[int, str]:
        """A daily drop: fresh docs, exact and near repeats of registered
        corpus docs, near repeats within the drop, and short docs."""
        rng = self.rng
        fresh = [self._add(self.text()) for _ in range(size * 2 // 5)]
        out = list(fresh)
        out += [self._add(self.variant(self.docs[c])) for c in rng.sample(corpus_ids, size // 5)]
        out += [self._add(self.edit(self.docs[c])) for c in rng.sample(corpus_ids, size // 5)]
        out += [self._add(self.edit(self.docs[f])) for f in rng.sample(fresh, size // 10)]
        out += [self._add(" ".join(rng.choices(self.vocab, k=rng.randint(3, 8))))
                for _ in range(size - len(out))]
        return {i: self.docs[i] for i in out}


def _write(path: str, docs: dict[int, str], seed) -> None:
    rng = random.Random(f"{seed}:meta")
    ids = sorted(docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [docs[i] for i in ids],
        "lang": ["en"] * len(ids),
        "source": [rng.choice(("web", "forum", "wiki")) for _ in ids],
    }), path)


def _committed(sig_root: str, table: str) -> set[int]:
    """Doc ids of ``table`` over the batches whose members/ marker landed."""
    mem = os.path.join(sig_root, "members")
    batches = [b for b in (os.listdir(mem) if os.path.isdir(mem) else [])
               if b.startswith("batch=") and os.path.exists(os.path.join(mem, b, "_SUCCESS"))]
    ids: set[int] = set()
    for b in batches:
        ids.update(pq.read_table(os.path.join(sig_root, table, b), columns=["doc"])["doc"].to_pylist())
    return ids


def _round(ctx, seed, r: int, sizes: dict) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    root = ctx.tmp / f"corpus-{seed}-{r}"
    root.mkdir(parents=True)
    corpus = Corpus(seed, sizes)
    _write(str(root / "input.parquet"), corpus.docs, seed)
    out, sig = str(root / "curated"), str(root / "sig")
    res = {"problems": [], "attempted": 0, "failed": 0, "admit_s": [], "drop_docs": 0}

    def attempt(fn):
        res["attempted"] += 1
        try:
            return fn()
        except Exception as exc:  # a raising call is a failed operation
            res["failed"] += 1
            res["problems"].append(f"{type(exc).__name__}: {exc}")
            return None

    # nothing downstream can run without the curated corpus, so a raising
    # curate call ends the run instead of counting as a failed operation
    t0 = time.perf_counter()
    with tr.span("curate", round=r):
        stats = curate_corpus(spark, str(root / "input.parquet"), out)
    res["curate_s"] = time.perf_counter() - t0
    res["attempted"] += 1
    written = [(x["doc_id"], x["text"], x["split"])
               for x in read_rows(out, ("split",), ["doc_id", "text", "split"])]
    res["problems"] += check_curate(corpus.docs, corpus.exact_groups, corpus.near_pairs,
                                    corpus.low_quality, written, stats, THRESHOLD,
                                    NUM_HASHES // ROWS_PER_BAND, ROWS_PER_BAND)
    if tr.enabled:
        _operator_layers(ctx, str(root / "input.parquet"), r)

    corpus_ids = [d for d, _, _ in written]
    drops = [({d: corpus.docs[d] for d in corpus_ids}, "seed")]
    for k in range(sizes["drops"]):
        drops.append((corpus.drop(corpus_ids, sizes["drop_size"]), f"day{k}"))
    registered: dict[int, str] = {}
    for docs, batch in drops:
        path = str(root / f"{batch}.parquet")
        _write(path, docs, f"{seed}:{batch}")
        before = (_committed(sig, "members"), _committed(sig, "signatures"))
        t0 = time.perf_counter()
        with tr.span("admit", round=r, batch=batch) as s:
            st = attempt(lambda: ingest_signature_batch(spark, spark.read.parquet(path), sig, batch))
        secs = time.perf_counter() - t0
        if st is None:
            continue
        s.set(accepted=st["n_accepted"], dup_of_corpus=st["n_dup_of_corpus"])
        if batch != "seed":
            res["admit_s"].append(secs)
            res["drop_docs"] += len(docs)
        decisions = [(x["doc"], x["status"], x["first_corpus_dup"]) for x in
                     pq.read_table(f"{sig}/admissions/batch={batch}",
                                   columns=["doc", "status", "first_corpus_dup"]).to_pylist()]
        after = (_committed(sig, "members"), _committed(sig, "signatures"))
        res["problems"] += check_admission(docs, registered, st, decisions, before[0], after[0],
                                           before[1], after[1], THRESHOLD)
        registered.update((d, docs[d]) for d in after[1] - before[1])
    before = (_committed(sig, "members"), _committed(sig, "signatures"))
    files_before = data_files(f"{sig}/signatures")
    with tr.span("signature_compact", round=r) as s:
        attempt(lambda: compact_signature_corpus(spark, sig, min_batches=2))
    files_after = data_files(f"{sig}/signatures")
    s.set(bytes_rewritten=sum(n for p, n in files_after.items() if p not in files_before),
          files=len(files_before), bytes=sum(files_before.values()))
    after = (_committed(sig, "members"), _committed(sig, "signatures"))
    if after != before:
        res["problems"].append("signature compaction changed the committed member set")
    res["lake_bytes"] = tree_bytes(out) + tree_bytes(sig)
    res["input_bytes"] = sum(len(t.encode()) for t in corpus.docs.values())
    return res


def _operator_layers(ctx, input_path: str, r: int) -> None:
    """Direct calls into operators.dedup and operators.text over the curate
    input, each drained into Spark's no-op sink, so the trace shows what
    each step of curation costs on its own."""
    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(input_path)

    def drain(df):
        df.write.format("noop").mode("overwrite").save()

    with tr.span("exact_dedup", round=r):
        drain(D.drop_exact_dups(docs, "doc_id", "text"))
    exact = D.drop_exact_dups(docs, "doc_id", "text").localCheckpoint(eager=True)
    with tr.span("lsh_candidates", round=r) as s:
        s.set(pairs=D.minhash_lsh_candidates(exact, "doc_id", "text").count())
    with tr.span("lsh_verify", round=r) as s:
        s.set(pairs=D.lsh_verified_dups(exact, "doc_id", "text", threshold=THRESHOLD).count())
    with tr.span("dup_clusters", round=r):
        drain(D.dup_clusters(exact, "doc_id", "text", threshold=THRESHOLD))
    with tr.span("quality", round=r):
        drain(with_quality(exact, "text").filter(F.col("quality") >= 0.5))


def warmup(ctx) -> None:
    _round(ctx, f"warmup-{ctx.seed}", 0, WARMUP_SIZES)


def measure(ctx) -> dict:
    rounds = whole_rounds(ctx.seconds, lambda r: _round(ctx, ctx.seed, r, SIZES))
    admit_s = [s for r in rounds for s in r["admit_s"]]
    e2e = {
        "build_s": statistics.median(r["curate_s"] for r in rounds),
        "step_s": statistics.median(admit_s),
        "docs_per_s": sum(r["drop_docs"] for r in rounds) / sum(admit_s),
        "lake_bytes_per_input_byte": statistics.median(
            r["lake_bytes"] / r["input_bytes"] for r in rounds),
    }
    return {
        "attempted": sum(r["attempted"] for r in rounds),
        "failed": sum(r["failed"] for r in rounds),
        "problems": [p for r in rounds for p in r["problems"]],
        "e2e": e2e,
        "layers": _layers(ctx.tracer) if ctx.tracer.enabled else {},
    }


def _layers(tr) -> dict[str, float]:
    def med(name, attr="seconds"):
        return statistics.median(s.seconds if attr == "seconds" else s.attrs[attr]
                                 for s in tr.find(name))

    cand, verified = med("lsh_candidates", "pairs"), med("lsh_verify", "pairs")
    admits = [s for s in tr.find("admit") if s.attrs["batch"] != "seed"]
    return {
        "exact_dedup_s": med("exact_dedup"),
        "lsh_candidates_s": med("lsh_candidates"),
        "lsh_candidate_pairs": cand,
        "lsh_verified_pairs": verified,
        "lsh_verify_yield": verified / cand if cand else 0.0,
        "dup_clusters_s": med("dup_clusters"),
        "quality_s": med("quality"),
        "admit_batch_s": statistics.median(s.seconds for s in admits),
        "admit_accepted": statistics.median(s.attrs["accepted"] for s in admits),
        "admit_dup_of_corpus": statistics.median(s.attrs["dup_of_corpus"] for s in admits),
        "signature_files": med("signature_compact", "files"),
        "signature_bytes": med("signature_compact", "bytes"),
        "signature_compact_s": med("signature_compact"),
        "signature_compact_bytes_rewritten": med("signature_compact", "bytes_rewritten"),
    }
