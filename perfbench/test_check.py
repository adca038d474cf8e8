"""The benchmark's own checkers must pass a correct output and fail each
deliberately corrupted one. No Spark session: outputs are built in
Python from the generated inputs.

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import (  # noqa: E402
    check_admission,
    check_curate,
    check_ingest,
    normalize,
    parse_log,
    utc_date,
)
from perfbench.dedup import Corpus  # noqa: E402
from perfbench.sim import (  # noqa: E402
    PAGE_SIZE,
    TIE_LOST,
    ShowdownSim,
    day_replays,
    outage_ids,
)

# --- daily_ingest ----------------------------------------------------------


def _ingest_output():
    pub = day_replays(7, 0, "gen9ou", 60)
    published = {r["id"]: r for r in pub}
    outage = set(outage_ids(7, 0, pub, 0.1))
    compacted = [dict(r, date=utc_date(r["uploadtime"]), extras=None) for r in pub]
    metadata = [{"replay_id": r["id"], "is_downloaded": True, "is_compacted": True,
                 "is_retry_attempted": r["id"] in outage} for r in pub]
    lines = [(r["id"], no, cmd, ts) for r in pub for no, cmd, ts in parse_log(r["log"])]
    return published, compacted, metadata, outage, lines


def test_ingest_checker_passes_correct_output():
    assert check_ingest(*_ingest_output()) == []


def test_ingest_checker_catches_duplicated_compacted_doc():
    published, compacted, metadata, outage, lines = _ingest_output()
    compacted.append(dict(compacted[3]))
    assert any("compacted twice" in p for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_altered_log():
    published, compacted, metadata, outage, lines = _ingest_output()
    compacted[5] = dict(compacted[5], log=compacted[5]["log"].replace("|win|", "|tie|"))
    assert any("differ from the published doc" in p
               for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_wrong_date_partition():
    published, compacted, metadata, outage, lines = _ingest_output()
    compacted[0] = dict(compacted[0], date="1999-01-01")
    assert any("date partition" in p for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_dropped_battle_line():
    published, compacted, metadata, outage, lines = _ingest_output()
    del lines[17]
    assert any("analysis lines differ" in p
               for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_wrong_event_time():
    published, compacted, metadata, outage, lines = _ingest_output()
    rid, no, cmd, ts = lines[9]
    lines[9] = (rid, no, cmd, ts + 1)
    assert any("analysis lines differ" in p
               for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_retry_flag_off_the_outage_set():
    published, compacted, metadata, outage, lines = _ingest_output()
    flipped = next(m for m in metadata if not m["is_retry_attempted"])
    flipped["is_retry_attempted"] = True
    assert any("is_retry_attempted" in p for p in check_ingest(published, compacted, metadata, outage, lines))


def test_ingest_checker_catches_uncompacted_flag_and_repeated_metadata_row():
    published, compacted, metadata, outage, lines = _ingest_output()
    metadata[2]["is_compacted"] = False
    metadata.append(dict(metadata[4]))
    bad = check_ingest(published, compacted, metadata, outage, lines)
    assert any("flags" in p for p in bad) and any("metadata rows repeated" in p for p in bad)


def test_planted_tie_loses_exactly_tie_lost_rows_to_a_strict_before_cursor():
    """The generator's promise: paging the simulator with
    ``before=<last row's time>`` returns every replay of the day except
    ``TIE_LOST`` of the planted tie group, whatever the seed."""
    for seed in range(20):
        pub = day_replays(seed, 3, "gen9ou", 150)
        sim = ShowdownSim.publish(pub)
        seen, before = [], None
        while True:
            url = "https://x/search.json?format=gen9ou" + (f"&before={before}" if before else "")
            page = json.loads(sim(url, 1, 1)[1])
            seen += [r["id"] for r in page]
            if len(page) < PAGE_SIZE:
                break
            before = page[-1]["uploadtime"]
        assert len(seen) == len(set(seen)) == len(pub) - TIE_LOST


def test_outage_replays_fail_until_served_without_the_outage():
    pub = day_replays(1, 0, "gen9ou", 60)
    out = outage_ids(1, 0, pub, 0.1)
    sim = ShowdownSim.publish(pub, out)
    rid = sorted(out)[0]
    assert sim(f"https://x/{rid}.json", 1, 1)[0] == 503
    assert sim.without_outage()(f"https://x/{rid}.json", 1, 1)[0] == 200


# --- corpus_dedup ----------------------------------------------------------

SMALL = {"unique": 120, "exact_groups": 12, "near": 15, "short": 8, "drops": 1, "drop_size": 40}


def _curate_output():
    """The output a correct curation produces for the planted corpus:
    min id per exact group, min id per planted near pair, no short docs,
    each survivor in one split."""
    c = Corpus(3, SMALL)
    drop = {x for g in c.exact_groups for x in g if x != min(g)}
    drop |= {max(a, b) for a, b in c.near_pairs} | c.low_quality
    written = [(d, c.docs[d], ("train", "val", "test")[d % 3]) for d in sorted(c.docs) if d not in drop]
    stats = {"n_written": len(written), "splits": dict(Counter(s for _, _, s in written))}
    return c, written, stats


def _check(c, written, stats):
    return check_curate(c.docs, c.exact_groups, c.near_pairs, c.low_quality, written, stats, 0.8, 4, 2)


def test_curate_checker_passes_correct_output():
    assert _check(*_curate_output()) == []


def test_curate_checker_catches_surviving_exact_duplicate():
    c, written, stats = _curate_output()
    g = c.exact_groups[0]
    extra = max(g)
    written.append((extra, c.docs[extra], "train"))
    stats["n_written"] += 1
    stats["splits"]["train"] += 1
    bad = _check(c, written, stats)
    assert any("exact-duplicate group" in p for p in bad)
    assert any("equal after normalization" in p for p in bad)


def test_curate_checker_catches_near_dup_drop_without_partner():
    c, written, stats = _curate_output()
    planted = {x for g in c.exact_groups for x in g} | {x for p in c.near_pairs for x in p}
    victim = next(w for w in written if w[0] not in planted)
    written.remove(victim)
    stats["n_written"] -= 1
    stats["splits"][victim[2]] -= 1
    assert any("without a partner" in p for p in _check(c, written, stats))


def test_curate_checker_catches_row_count_and_split_overlap():
    c, written, stats = _curate_output()
    written.append((written[0][0], written[0][1], "val"))
    bad = _check(c, written, stats)
    assert any("n_written" in p for p in bad) and any("more than one split" in p for p in bad)


def test_curate_checker_catches_missed_near_duplicates():
    c, written, stats = _curate_output()
    for a, b in c.near_pairs:
        written.append((max(a, b), c.docs[max(a, b)], "train"))
    stats["n_written"] = len(written)
    stats["splits"] = dict(Counter(s for _, _, s in written))
    assert any("recall" in p for p in _check(c, written, stats))


def _admission():
    """A drop admitted correctly against a small registered corpus: its
    case/whitespace repeats of corpus docs are dup_of_corpus, the rest
    accepted."""
    c = Corpus(5, SMALL)
    corpus = {d: c.docs[d] for d in sorted(c.docs)[:30] if d not in c.low_quality}
    drop = c.drop(list(corpus), 10)
    by_text = {normalize(t): k for k, t in corpus.items()}
    dups = {d: by_text[normalize(t)] for d, t in drop.items() if normalize(t) in by_text}
    decisions = [(d, "dup_of_corpus", dups[d]) if d in dups else (d, "accepted", None)
                 for d in drop]
    accepted = set(drop) - set(dups)
    stats = {"n_accepted": len(accepted), "n_considered": len(drop)}
    return (drop, corpus, stats, decisions, set(corpus), set(corpus) | set(drop),
            set(corpus), set(corpus) | accepted)


def test_admission_checker_passes_correct_output():
    assert check_admission(*_admission(), threshold=0.8) == []


def test_admission_checker_catches_false_dup_of_corpus():
    drop, corpus, stats, decisions, mb, ma, sb, sa = _admission()
    fresh, _, _ = next(x for x in decisions if x[1] == "accepted")
    decisions = [(d, "dup_of_corpus", min(corpus)) if d == fresh else (d, s, p) for d, s, p in decisions]
    sa = sa - {fresh}
    stats = dict(stats, n_accepted=stats["n_accepted"] - 1)
    assert any("below Jaccard" in p
               for p in check_admission(drop, corpus, stats, decisions, mb, ma, sb, sa, 0.8))


def test_admission_checker_catches_accept_count_off_the_committed_growth():
    drop, corpus, stats, decisions, mb, ma, sb, sa = _admission()
    stats = copy.deepcopy(stats)
    stats["n_accepted"] += 1
    assert any("n_accepted" in p
               for p in check_admission(drop, corpus, stats, decisions, mb, ma, sb, sa, 0.8))
