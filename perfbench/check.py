"""Independent output checks, in plain Python.

Every expected value here is computed from the generated inputs, never
read from a saved copy of the program's output. Each checker returns a
list of problems (empty when the output is correct), so a run can report
all of them at once.
"""

from __future__ import annotations

import datetime
import math
import re
from collections import Counter

DOC_FIELDS = ("format", "uploadtime", "players", "p1", "p2", "log", "rating")


def utc_date(epoch: int) -> str:
    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime("%Y-%m-%d")


def parse_log(log: str) -> list[tuple[int, str | None, int | None]]:
    """(line_no, command, event_ts) per non-empty protocol line: line_no
    is the 0-based position in the newline split, event_ts the most
    recent ``|t:|<epoch>`` stamp at or before the line."""
    out = []
    ts = None
    for no, line in enumerate(log.split("\n")):
        if not line:
            continue
        parts = line.split("|")
        if line.startswith("|t:|") and re.fullmatch(r"-?\d+", parts[2]):
            ts = int(parts[2])
        out.append((no, parts[1] if len(parts) > 1 else None, ts))
    return out


def _first(problems: list[str], limit: int = 5) -> list[str]:
    return problems[:limit] + ([f"... {len(problems) - limit} more"] if len(problems) > limit else [])


# --- daily_ingest ----------------------------------------------------------


def check_ingest(
    published: dict[str, dict],
    compacted: list[dict],
    metadata: list[dict],
    outage: set[str],
    lines: list[tuple[str, int, str | None, int | None]],
) -> list[str]:
    """``compacted``: rows of the compacted lake (document fields plus
    the ``date`` partition); ``metadata``: replay_status rows;
    ``lines``: (replay_id, line_no, command, event_ts) rows of the
    analysis layer."""
    bad: list[str] = []
    ids = [r["id"] for r in compacted]
    dup = [k for k, n in Counter(ids).items() if n > 1]
    if dup:
        bad.append(f"compacted twice: {sorted(dup)[:5]}")
    for r in compacted:
        doc = published.get(r["id"])
        if doc is None:
            bad.append(f"compacted id never published: {r['id']}")
            continue
        diff = [f for f in DOC_FIELDS if r[f] != doc[f]]
        if diff:
            bad.append(f"{r['id']}: compacted {diff} differ from the published doc")
        if r["date"] != utc_date(doc["uploadtime"]):
            bad.append(f"{r['id']}: date partition {r['date']} != {utc_date(doc['uploadtime'])}")
    meta_ids = [r["replay_id"] for r in metadata]
    dup = [k for k, n in Counter(meta_ids).items() if n > 1]
    if dup:
        bad.append(f"metadata rows repeated: {sorted(dup)[:5]}")
    if set(meta_ids) - set(published):
        bad.append(f"metadata ids never published: {sorted(set(meta_ids) - set(published))[:5]}")
    # no replay fails permanently, so every discovered replay ends compacted
    if set(meta_ids) != set(ids):
        bad.append(
            f"discovered but not compacted: {sorted(set(meta_ids) - set(ids))[:5]}; "
            f"compacted but not in metadata: {sorted(set(ids) - set(meta_ids))[:5]}"
        )
    unflagged = [r["replay_id"] for r in metadata
                 if r["replay_id"] in set(ids) and not (r["is_downloaded"] and r["is_compacted"])]
    if unflagged:
        bad.append(f"compacted without downloaded+compacted flags: {unflagged[:5]}")
    retried = {r["replay_id"] for r in metadata if r["is_retry_attempted"]}
    if retried != outage:
        bad.append(
            f"is_retry_attempted off the outage set: extra {sorted(retried - outage)[:5]}, "
            f"missing {sorted(outage - retried)[:5]}"
        )
    want = {
        (rid, no, cmd, ts)
        for rid in set(ids) if rid in published
        for no, cmd, ts in parse_log(published[rid]["log"])
    }
    got = Counter(lines)
    repeated = [k for k, n in got.items() if n > 1]
    if repeated:
        bad.append(f"analysis lines repeated: {repeated[:3]}")
    got_set = set(got)
    if got_set != want:
        per_cmd_want = Counter(c for _, _, c, _ in want)
        per_cmd_got = Counter(c for _, _, c, _ in got_set)
        bad.append(
            f"analysis lines differ from the parsed logs: {len(want - got_set)} missing, "
            f"{len(got_set - want)} unexpected; per command want {dict(per_cmd_want)} "
            f"got {dict(per_cmd_got)}"
        )
    return _first(bad)


# --- corpus_dedup ----------------------------------------------------------


def normalize(text: str) -> str:
    """operators.dedup.normalize_text: lowercase, collapse whitespace runs."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")


def shingles(text: str, n: int = 3) -> frozenset[str]:
    tk = normalize(text).split(" ")
    return frozenset(" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)) if len(tk) >= n else frozenset()


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def lsh_recall_floor(jaccards: list[float], bands: int, rows: int) -> float:
    """Lowest recall consistent with MinHash-LSH banding: each pair of
    Jaccard J escapes every band with probability (1 - J^rows)^bands;
    allow the expected misses plus four standard deviations plus one."""
    if not jaccards:
        return 1.0
    p = [(1 - j ** rows) ** bands for j in jaccards]
    mu = sum(p)
    sd = math.sqrt(sum(q * (1 - q) for q in p))
    return 1 - (mu + 4 * sd + 1) / len(jaccards)


def check_curate(
    docs: dict[int, str],
    exact_groups: list[list[int]],
    near_pairs: list[tuple[int, int]],
    low_quality: set[int],
    written: list[tuple[int, str, str]],
    stats: dict,
    threshold: float,
    bands: int,
    rows_per_band: int,
) -> list[str]:
    """``docs``: curate input id -> text; ``written``: (doc_id, text,
    split) rows read back from the curated output."""
    bad: list[str] = []
    if len(written) != stats["n_written"]:
        bad.append(f"read back {len(written)} rows, stats say n_written={stats['n_written']}")
    ids = [d for d, _, _ in written]
    if len(set(ids)) != len(ids):
        bad.append("a doc lands in more than one split (or twice in one)")
    splits = Counter(s for _, _, s in written)
    if set(splits) - {"train", "val", "test"} or dict(splits) != stats["splits"]:
        bad.append(f"splits {dict(splits)} vs stats {stats['splits']}")
    norm = Counter(normalize(t) for _, t, _ in written)
    clash = [t[:40] for t, n in norm.items() if n > 1]
    if clash:
        bad.append(f"{len(clash)} survivor texts are equal after normalization: {clash[:2]}")
    kept = set(ids)
    if kept - set(docs):
        bad.append(f"survivors never in the input: {sorted(kept - set(docs))[:5]}")
    for g in exact_groups:
        if kept & set(g) - {min(g)}:
            bad.append(f"exact-duplicate group {sorted(g)[:4]} keeps {sorted(kept & set(g))}")
    if kept & low_quality:
        bad.append(f"low-quality docs survive: {sorted(kept & low_quality)[:5]}")
    first_by_text: dict[str, int] = {}
    for d in sorted(docs):
        first_by_text.setdefault(normalize(docs[d]), d)
    exact_kept = set(first_by_text.values())
    sh = {d: shingles(docs[d]) for d in exact_kept}
    index: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(d)
    for d in sorted(exact_kept - kept - low_quality):
        partners = {p for g in sh[d] for p in index[g] if p != d}
        if not any(jaccard(sh[d], sh[p]) >= threshold for p in partners):
            bad.append(f"doc {d} dropped as a near duplicate without a partner >= {threshold}")
    judged = [(a, b) for a, b in near_pairs
              if {a, b} <= exact_kept and not {a, b} & low_quality]
    resolved = sum(not {a, b} <= kept for a, b in judged)
    floor = lsh_recall_floor([jaccard(sh[a], sh[b]) for a, b in judged], bands, rows_per_band)
    if judged and resolved / len(judged) < floor:
        bad.append(f"near-dup recall {resolved}/{len(judged)} below the banding floor {floor:.3f}")
    return _first(bad)


def check_admission(
    drop_texts: dict[int, str],
    corpus_texts: dict[int, str],
    stats: dict,
    decisions: list[tuple[int, str, int | None]],
    members_before: set[int],
    members_after: set[int],
    signatures_before: set[int],
    signatures_after: set[int],
    threshold: float,
) -> list[str]:
    """One admitted drop. ``decisions``: (doc, status, first_corpus_dup)
    from the batch's admission audit; ``corpus_texts``: text of every
    doc registered before the drop; members/signatures: committed doc
    ids read back from the lake before and after the drop."""
    bad: list[str] = []
    grown_sig = signatures_after - signatures_before
    if len(grown_sig) != stats["n_accepted"] or len(signatures_after) != len(signatures_before) + len(grown_sig):
        bad.append(f"n_accepted={stats['n_accepted']} but committed signatures grew by {len(grown_sig)}")
    accepted = {d for d, s, _ in decisions if s == "accepted"}
    if accepted != grown_sig:
        bad.append("the accepted docs are not the docs whose signatures were committed")
    grown_mem = members_after - members_before
    if len(grown_mem) != stats["n_considered"] or not grown_mem <= set(drop_texts):
        bad.append(f"n_considered={stats['n_considered']} but committed members grew by {len(grown_mem)}")
    for d, status, partner in decisions:
        if status != "dup_of_corpus":
            continue
        if partner not in signatures_before:
            bad.append(f"doc {d} is dup_of_corpus of {partner}, which is not a committed doc")
        elif jaccard(shingles(drop_texts[d]), shingles(corpus_texts[partner])) < threshold:
            bad.append(f"doc {d} is dup_of_corpus of {partner} below Jaccard {threshold}")
    return _first(bad)
