#!/usr/bin/env python3
"""Cross-round per-query bench history (SURVEY §8d item 3).

Reads every BENCH_r*.json in the repo root, recovers the per-query second
counts from the JSON object embedded in each artifact's captured stdout
tail, and writes docs/BENCH_HISTORY.md: one row per query, one column per
round, plus a drift flag for queries whose LATEST time exceeds 2x their
best-ever round (min-of-two methodology means every recorded number is
already a calm-ish floor; slow drift across rounds is the signal no single
round shows).

Driver-side tooling only — never imported by library code.
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def per_query(tail: str):
    """Extract per-query seconds from the bench total line. Prefer the
    '"queries":{...}' map; fall back to scanning the whole tail — r1-r3
    artifacts captured a bounded stdout tail that truncates mid-map, so
    those rounds contribute the pairs that survived the cut."""
    m = re.search(r'"queries":\{(.*?)\}', tail)
    src = m.group(1) if m else tail
    out = {}
    for k, v in re.findall(r'"([a-c]\d\d[a-z0-9_]*)":([0-9.]+)', src):
        out[k] = float(v)  # full names; stem matching happens at lookup
    return out


def stem(name: str) -> str:
    """Query id = everything before the first underscore ('b100' from
    'b100_tpch_q14'). NOT the first 3 chars: 'b100'/'b10' and 'c100'/'c10'
    are distinct queries that share a 3-char prefix."""
    return name.split("_", 1)[0]


def lookup(q: dict, name: str):
    """Value for `name` in one round's map: exact full-name hit first, else
    a stem match ONLY if exactly one key in that round shares the id stem
    (r1-r3 tails truncate names mid-map; ambiguous stems stay blank
    rather than silently merging two queries)."""
    if name in q:
        return q[name]
    hits = [v for k, v in q.items() if stem(k) == stem(name) and k != name]
    return hits[0] if len(hits) == 1 else None


def shuffle_drift_section():
    """Shuffle-volume drift from docs/bench/metrics_history.jsonl (appended
    per Bench run from r7 on). Shuffle bytes are a deterministic property of
    plan + data — unlike seconds, they cannot be contaminated by host stall
    windows — so a tight threshold is safe: flag when the newest run's
    read+write exceeds 1.3x the MEDIAN prior run at the same sf by >1 MiB.
    Entries are compared per (sf, query); local dev runs at other sfs are
    simply separate series.

    Baseline = MEDIAN of prior runs, not best (r9 VERDICT #3): the best
    prior run can be an anomaly — c82 once recorded 22/22 KB in a
    memo-warm run while every normal run is 4794/2655, so a best-prior
    baseline flagged bit-identical behavior as a 170x regression. The
    median of all prior runs is the modal plan cost and is robust to a
    single anomalous run in either direction."""
    path = os.path.join(ROOT, "docs", "bench", "metrics_history.jsonl")
    if not os.path.exists(path):
        return []
    # (sf, query) -> {round: [read+write KB per run]} — runs are keyed by
    # the stamped round (r8+; earlier lines were backfilled), not by file
    # position, so a round that appends two runs or re-appends a line
    # cannot shift which run counts as "newest".
    series = {}
    for line in open(path):
        try:
            e = json.loads(line)
        except ValueError:
            continue
        # a line without a round (a dev run, no SPARK_GRAFT_ROUND) belongs
        # to no round's series
        if "round" not in e:
            continue
        rnd = e["round"]
        for q, v in e.get("queries", {}).items():
            # byte rows are [read, write, spill, peak] lists; ignore any
            # other shape (the r18 "unit":"sec" companion lines keep their
            # map under "queries_sec", but stay defensive anyway)
            if not isinstance(v, (list, tuple)) or len(v) < 2:
                continue
            series.setdefault((e.get("sf", "?"), q), {}).setdefault(
                rnd, []).append(v[0] + v[1])
    flagged = []
    for (sf, q), by_round in sorted(series.items()):
        if len(by_round) < 2:
            continue
        newest_round = max(by_round)
        # last run within the newest round is that round's final word;
        # baseline = MEDIAN run of the strictly earlier rounds (see docstring)
        newest = by_round[newest_round][-1]
        prior = sorted(v for r, vs in by_round.items()
                       if r != newest_round for v in vs)
        if not prior:
            continue
        base = prior[len(prior) // 2]
        if newest > 1.3 * base and newest - base > 1024:
            flagged.append(f"{q}@{sf}: median {base} -> {newest} KB (r{newest_round})")
    return [
        "",
        "## Shuffle-volume drift (docs/bench/metrics_history.jsonl)",
        "",
        "Deterministic plan+data signal, immune to host stalls; flagged when",
        "the newest run's shuffle read+write exceeds 1.3x the MEDIAN prior",
        "run at the same sf by >1 MiB (median, not best: a single anomalous",
        "memo-warm run must not become the baseline — r9 VERDICT #3).",
        "",
        f"Flagged: {'; '.join(flagged) if flagged else 'none'}.",
    ]


def main():
    rounds = []
    for path in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))):
        # exactly BENCH_r<N>.json — variants like BENCH_r17_c8.json (the
        # low-core scaling run) are separate series and previously
        # collided with the main round's number (r18: the tie made
        # rounds.sort() compare the per-query dicts and crash)
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        tail = json.load(open(path)).get("tail") or ""
        q = per_query(tail)
        if q:
            rounds.append((int(m.group(1)), q))
    rounds.sort(key=lambda t: t[0])
    # One canonical row per id stem (query numbering makes stems unique by
    # construction); prefer the newest round's spelling of the full name so
    # r1-r3 mid-name tail truncations don't spawn duplicate rows.
    canonical = {}
    for _, q in rounds:  # ascending rounds: later spellings win
        for k in q:
            canonical[stem(k)] = k
    names = sorted(canonical.values())
    lines = [
        "# Per-query bench history (seconds, driver artifacts)",
        "",
        "Regenerated by `tools/bench_history.py` from `BENCH_r*.json`. Each",
        "cell is that round's recorded per-query time (min-of-two from r4 on;",
        "single-pass before). `drift` flags queries whose latest round runs",
        "more than 2x their best-ever round AND more than 0.5 s absolute —",
        "the slow creep no single round's artifact shows. Driver-host stall",
        "windows contaminate whole rounds (r4 famously); read flags against",
        "BASELINE.md's calm-host notes before acting on one. `stale` marks",
        "queries absent from the newest round (no current time to judge).",
        "",
        "| query | " + " | ".join(f"r{r}" for r, _ in rounds) + " | drift |",
        "|---|" + "---|" * (len(rounds) + 1),
    ]
    flagged = []
    for n in names:
        vals = [lookup(q, n) for _, q in rounds]
        present = [v for v in vals if v is not None]
        # drift is only meaningful against the NEWEST round: a query absent
        # there has no "latest" time — judging it against a stale round
        # would contradict the doc's wording. Mark those rows 'stale'.
        newest = vals[-1]
        best = min(present)
        if newest is None:
            flag = "stale"
        elif len(present) >= 2 and newest > 2 * best and newest - best > 0.5:
            flag = "**YES**"
            flagged.append(n)
        else:
            flag = ""
        cells = " | ".join("" if v is None else f"{v:.2f}" for v in vals)
        lines.append(f"| {n} | {cells} | {flag} |")
    lines += [
        "",
        f"Flagged this regeneration: {', '.join(flagged) if flagged else 'none'}.",
    ]
    lines += shuffle_drift_section()
    # Hand-maintained flag dispositions survive regeneration: anything in
    # docs/bench_notes.md is appended verbatim (the r12 VERDICT asked for
    # standalone measurements recorded NEXT TO the flags; the table itself
    # is machine-written, so the notes live in a sibling file).
    notes = os.path.join(ROOT, "docs", "bench_notes.md")
    if os.path.exists(notes):
        lines += ["", open(notes).read().rstrip()]
    out = os.path.join(ROOT, "docs", "BENCH_HISTORY.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(names)} queries x {len(rounds)} rounds; "
          f"drift: {flagged if flagged else 'none'}")


if __name__ == "__main__":
    sys.exit(main())
