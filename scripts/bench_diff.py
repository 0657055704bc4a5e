#!/usr/bin/env python3
"""Per-query diff of two bench records — surfaces regressions in the
round record without a manual A/B.

Accepts either format for each side:
  - a driver BENCH_r{N}.json ({"rc","tail","parsed",...}: per-query
    times are pulled from parsed.queries if present, else regex-mined
    from the captured tail: both the flushed {"query":...,"sec":...}
    lines and the legacy "name":[min,max] map entries)
  - a raw local bench log (one {"query":...} JSON line per query)

Usage: bench_diff.py OLD NEW [--flag 2.0] [--adjudicate [SF_DIR]]
Prints queries slower by more than the flag factor (default 2x),
new/gone queries, and totals. Exit code 1 if anything was flagged —
cron-able as a regression tripwire.

A query that failed in NEW (an {"query":...,"error":...} row, or a
name on the record's "failed" list) is classed REGRESSED and exits 1
whatever the canaries say: a failure is never host noise.

Host-health canary: graft.Bench emits a constant CPU-bound probe's
wall time at record start and end ("canary"/"canary_end" in the total
line and the bench_full sidecar). This sandbox throttles progressively
under sustained load (r12: four same-code full benches read
189->308s with DISJOINT mover sets), so when BOTH records carry a
canary and they differ by more than CANARY_FACTOR (2x), the records
were taken in different host states and a per-query diff is NOT a
regression signal: the flags are printed as advisory and the exit
code is 0 (downgraded) — unless --adjudicate is given, in which case
the fresh k=3 rerun supplies current-host evidence and adjudication
proceeds as usual. A >2x start-vs-end divergence WITHIN one record
marks that record as taken on a degrading host (warning only).

--adjudicate makes the tripwire self-adjudicating: every flagged
query is re-run k=3 times in ONE fresh in-session JVM
(graft.Bench with SPARK_GRAFT_BENCH_REPEAT=3 against SF_DIR,
default /root/testdata/sf0.1) and re-classified on the stable min —
REGRESSED if the re-measured min still exceeds flag x old,
NOISY otherwise (a contended-run artifact, not a code regression).
Exit code 1 only for REGRESSED queries, so a cron invocation no
longer needs a human to adjudicate sandbox contention spikes.

Work counters: graft.Bench rows (and the bench_full sidecar's "jobs",
"stages" and "tasks" maps) carry each query's first-run Spark job,
stage and task counts. They do not move with the host, so when both
records ran over the same data ("sf"), a counter delta is reported as
COUNTERS and is a code change (exit 1 whatever the canaries say), and
a wall-time flag on a query whose counters are unchanged is advisory
only. Records without the fields are compared on wall time alone.
A query declared in INEXACT (its counters differ between two healthy
same-code runs, for the reason given there) prints a counter delta as
an INEXACT advisory line instead, and its wall time is judged like a
query without counters.

--smoke runs a planted-pair self-test of the canary logic (no Spark):
a >2x mover under mismatched canaries must downgrade to exit 0, the
same mover under matching canaries must flag with exit 1, a
degrading-host record must print its warning, and an error row must
class REGRESSED; a counter delta must exit 1 and a wall-only delta
with unchanged counters must stay advisory; a counter delta on an
INEXACT query must stay advisory while its wall-time flag still
exits 1. Exit 0 iff all hold.
"""
import json
import os
import re
import subprocess
import sys
import tempfile

CANARY_FACTOR = 2.0
# Fallback quiet band for records predating r14 (which emit their own
# "canary_band" field — the record's band always wins this default).
DEFAULT_BAND = (0.21, 0.27)

# Queries whose jobs/stages/tasks differ between two healthy records of
# the same code over the same data, each with its reason. Two full
# graft.Bench records at sf0.001 agreed on every other query.
_SEGMENTED_TWICE = ("derives its segmented session base twice (ROADMAP item 9): "
                    "AQE may reuse either of two identical concurrent shuffle stages")
INEXACT = {
    "graph_kcore": "iterative peeling: the number of eager rounds it runs varies",
    "markov_next_event_bucketed": _SEGMENTED_TWICE,
    "session_concurrency_bucketed": _SEGMENTED_TWICE,
    "session_funnel_bucketed": _SEGMENTED_TWICE,
    "session_patterns_bucketed": _SEGMENTED_TWICE,
    "session_surprise_bucketed": _SEGMENTED_TWICE,
    "session_transitions_bucketed": _SEGMENTED_TWICE,
}


def full_record(path):
    """For a driver BENCH_r{N}.json, find the matching complete
    per-query sidecar (bench_full_r{N}.json) written by graft.Bench —
    the driver record keeps only a truncated stdout tail, so without
    the sidecar the diff covers a fraction of the suite."""
    m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path))
    if not m:
        return None
    name = f"bench_full_r{m.group(1)}.json"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for cand in (os.path.join(os.path.dirname(os.path.abspath(path)), name),
                 os.path.join(repo, name)):
        if os.path.exists(cand):
            try:
                doc = json.load(open(cand))
            except ValueError:
                continue
            if isinstance(doc.get("queries"), dict):
                return doc
    return None


def canary_of(doc, blob):
    """(start, end) canary seconds from a parsed doc and/or raw text —
    either may be None (records predating the canary)."""
    start = end = None
    if isinstance(doc, dict):
        if isinstance(doc.get("canary"), (int, float)):
            start = float(doc["canary"])
        if isinstance(doc.get("canary_end"), (int, float)):
            end = float(doc["canary_end"])
    if start is None:
        m = re.search(r'"canary":([0-9.]+)', blob)
        if m:
            start = float(m.group(1))
        else:
            m = re.search(r'"canary_start":([0-9.]+)', blob)
            if m:
                start = float(m.group(1))
    if end is None:
        m = re.search(r'"canary_end":([0-9.]+)', blob)
        if m:
            end = float(m.group(1))
    return start, end


def band_of(doc, blob, field="canary_band"):
    """The record's own quiet band ([lo, hi] seconds), emitted by
    graft.Bench since r14 (cpu probe) / r15 (shuffle probe, field
    "canary_shuffle_band") so nobody re-derives it from prose; None
    for older records (caller falls back to DEFAULT_BAND for the cpu
    probe; the shuffle check is skipped entirely without a band)."""
    if isinstance(doc, dict):
        b = doc.get(field)
        if isinstance(b, list) and len(b) == 2:
            return float(b[0]), float(b[1])
    m = re.search('"' + field + r'":\[([0-9.]+),([0-9.]+)\]', blob)
    if m:
        return float(m.group(1)), float(m.group(2))
    return None


def shuffle_of(doc, blob):
    """(start, end) shuffle-probe seconds — the r14 second probe class
    (the cpu canary is blind to scheduler/shuffle-path throttling)."""
    start = end = None
    if isinstance(doc, dict):
        if isinstance(doc.get("canary_shuffle"), (int, float)):
            start = float(doc["canary_shuffle"])
        if isinstance(doc.get("canary_shuffle_end"), (int, float)):
            end = float(doc["canary_shuffle_end"])
    if start is None:
        m = re.search(r'"canary_shuffle":([0-9.]+)', blob)
        if m:
            start = float(m.group(1))
    if end is None:
        m = re.search(r'"canary_shuffle_end":([0-9.]+)', blob)
        if m:
            end = float(m.group(1))
    return start, end


def errors_of(doc, blob):
    """Names of the queries the record says failed: its "failed" list
    (total line or sidecar) and its {"query":...,"error":...} rows."""
    failed = set()
    if isinstance(doc, dict) and isinstance(doc.get("failed"), list):
        failed.update(doc["failed"])
    for m in re.finditer(r'"failed":\[([^\]]*)\]', blob):
        failed.update(re.findall(r'"([^"]+)"', m.group(1)))
    failed.update(re.findall(r'\{"query":"([a-z0-9_]+)","error":', blob))
    return failed


def parse(path):
    """-> (per-query min seconds, (canary_start, canary_end), band,
    (shuffle_start, shuffle_end), shuffle_band, failed query names)."""
    times = {}
    text = open(path).read()
    try:
        doc = json.loads(text)
    except ValueError:
        doc = None
    if isinstance(doc, dict) and isinstance(doc.get("queries"), dict) \
            and "tail" not in doc:
        # a bare bench_full sidecar passed directly
        return ({k: float(v) for k, v in doc["queries"].items()},
                canary_of(doc, text), band_of(doc, text),
                shuffle_of(doc, text), band_of(doc, text, "canary_shuffle_band"),
                errors_of(doc, ""))
    canary = (None, None)
    shuffle = (None, None)
    band = None
    sband = None
    failed = set()
    if isinstance(doc, dict) and "tail" in doc:
        full = full_record(path)
        if full:
            times.update({k: float(v) for k, v in full["queries"].items()})
            failed |= errors_of(full, "")
            canary = canary_of(full, "")
            band = band_of(full, "")
            shuffle = shuffle_of(full, "")
            sband = band_of(full, "", "canary_shuffle_band")
        parsed = doc.get("parsed") or {}
        if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
            times.update({k: float(v) for k, v in parsed["queries"].items()})
        blob = doc.get("tail") or ""
    else:
        blob = text
    if canary == (None, None):
        canary = canary_of(doc if isinstance(doc, dict) else None, blob)
    if band is None:
        band = band_of(doc if isinstance(doc, dict) else None, blob)
    if shuffle == (None, None):
        shuffle = shuffle_of(doc if isinstance(doc, dict) else None, blob)
    if sband is None:
        sband = band_of(doc if isinstance(doc, dict) else None, blob,
                        "canary_shuffle_band")
    for m in re.finditer(r'\{"query":"([a-z0-9_]+)","sec":([0-9.]+)', blob):
        times[m.group(1)] = float(m.group(2))
    for m in re.finditer(r'"([a-z0-9_]+)":\[([0-9.]+),[0-9.]+\]', blob):
        times.setdefault(m.group(1), float(m.group(2)))
    failed |= errors_of(None, blob)
    for q in failed:
        times.pop(q, None)
    return times, canary, band, shuffle, sband, failed


def counters_of(path):
    """-> ({query: (jobs, stages, tasks)}, sf) from a bench_full
    sidecar, a driver record (its sidecar, then its tail) or a raw
    log; ({}, sf) for records that predate the counters."""
    text = open(path).read()
    try:
        doc = json.loads(text)
    except ValueError:
        doc = None
    counts, sf, lines = {}, None, text.splitlines()
    if isinstance(doc, dict):
        if "tail" in doc:
            full = full_record(path) or {}
            lines = (doc.get("tail") or "").splitlines()
        else:
            full, lines = doc, []
        maps = [full.get(k) for k in ("jobs", "stages", "tasks")]
        if all(isinstance(m, dict) for m in maps):
            counts = {q: tuple(int(m[q]) for m in maps)
                      for q in maps[0] if all(q in m for m in maps)}
        sf = full.get("sf")
    for line in lines:
        try:
            row = json.loads(line)
        except ValueError:
            continue  # a truncated or non-JSON line
        if not isinstance(row, dict):
            continue
        if "sf" in row and row.get("metric") == "total":
            sf = row["sf"]
        if "query" in row and all(isinstance(row.get(k), int)
                                  for k in ("jobs", "stages", "tasks")):
            counts[row["query"]] = (row["jobs"], row["stages"], row["tasks"])
    return counts, sf


def adjudicate(flagged, sf_dir, repeat=3):
    """Re-run the flagged queries in one fresh JVM, k runs each, and
    return {query: stable_min_seconds}. A query missing from the rerun
    output (e.g. renamed away) adjudicates as regressed-by-absence."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = " ".join(q for q, _, _ in flagged)
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_REPEAT=str(repeat))
    proc = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Bench {names}"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=1800)
    remeasured = {}
    for m in re.finditer(r'\{"query":"([a-z0-9_]+)","sec":([0-9.]+)',
                         proc.stdout):
        remeasured[m.group(1)] = float(m.group(2))
    if not remeasured:
        sys.exit("adjudication rerun produced no per-query lines:\n"
                 + proc.stdout[-2000:] + proc.stderr[-500:])
    return remeasured


def compare(old_path, new_path, flag, adj_dir, out=print):
    """The diff-and-classify core; returns the intended exit code."""
    old_parsed, new_parsed = parse(old_path), parse(new_path)
    (old, old_canary, old_band, old_shuffle, old_sband, _) = old_parsed
    (new, new_canary, new_band, new_shuffle, new_sband, new_failed) = new_parsed
    if not old or not new:
        sys.exit(f"no per-query data (old={len(old)}, new={len(new)} queries)")
    # the quiet band is read from the records themselves (r14+) — the
    # newer record's band wins; DEFAULT_BAND only covers pre-r14 pairs
    band = new_band or old_band or DEFAULT_BAND
    # the shuffle probe's band only exists from r15 records on; without
    # one the check is skipped (never guessed). Advisory only: the r14
    # evidence includes one throttled run with a quiet-reading shuffle
    # probe, so the mechanical downgrade stays with uniform-inflation.
    sband = new_sband or old_sband
    for label, (cs, ce), (ss, se) in (("old", old_canary, old_shuffle),
                                      ("new", new_canary, new_shuffle)):
        if cs and ce and max(cs, ce) > CANARY_FACTOR * min(cs, ce):
            out(f"WARNING {label} record's own canaries diverge "
                f"(start {cs:.2f}s, end {ce:.2f}s): host was degrading "
                f"DURING that run; its slow entries are suspect")
        if cs and cs > band[1]:
            out(f"WARNING {label} record started on a throttled host "
                f"(canary {cs:.2f}s above quiet band "
                f"[{band[0]:.2f}, {band[1]:.2f}]): its times are inflated")
        if sband:
            for tag, sv in (("started", ss), ("ended", se)):
                if sv and sv > sband[1]:
                    out(f"WARNING {label} record {tag} with its shuffle "
                        f"probe at {sv:.2f}s, above the quiet band "
                        f"[{sband[0]:.2f}, {sband[1]:.2f}]: the cpu-canary-"
                        "blind throttle class may be inflating it")
    mismatch = (old_canary[0] and new_canary[0] and
                max(old_canary[0], new_canary[0]) >
                CANARY_FACTOR * min(old_canary[0], new_canary[0]))
    if mismatch:
        out(f"CANARY MISMATCH old={old_canary[0]:.2f}s "
            f"new={new_canary[0]:.2f}s (> {CANARY_FACTOR}x): records taken "
            "in different host states — per-query flags are ADVISORY"
            + (", adjudicating with fresh current-host reruns"
               if adj_dir else "; rerun on a quiet host or use --adjudicate"))
    (old_c, old_sf), (new_c, new_sf) = counters_of(old_path), counters_of(new_path)
    counted = set(old_c) & set(new_c) if old_sf == new_sf else set()
    moved = sorted(q for q in counted if old_c[q] != new_c[q])
    changed = [q for q in moved if q not in INEXACT]
    for q in moved:
        delta = (f"jobs/stages/tasks {'/'.join(map(str, old_c[q]))} -> "
                 f"{'/'.join(map(str, new_c[q]))}")
        if q in INEXACT:
            out(f"INEXACT  {q}: {delta}; advisory: {INEXACT[q]}")
        else:
            out(f"COUNTERS {q}: {delta} on the same data: a code change")
    # the queries whose unchanged counters vouch for the code
    exact = counted - set(moved) - set(INEXACT)
    flagged = []
    for q in sorted(set(old) & set(new)):
        o, n = old[q], new[q]
        # ignore sub-100ms noise: a 0.02->0.05s "regression" is jitter
        if n > flag * o and n - o > 0.1:
            if q in exact:
                out(f"SLOWER  {q}: {o:.2f}s -> {n:.2f}s  (x{n / o:.1f}; advisory: "
                    "jobs/stages/tasks unchanged)")
                continue
            flagged.append((q, o, n))
            out(f"SLOWER  {q}: {o:.2f}s -> {n:.2f}s  (x{n / o:.1f})")
    for q in sorted(set(new) - set(old)):
        out(f"NEW     {q}: {new[q]:.2f}s")
    for q in sorted(new_failed):
        out(f"REGRESSED {q}: failed (error row)")
    for q in sorted(set(old) - set(new) - new_failed):
        out(f"GONE    {q} (was {old[q]:.2f}s)")
    both = set(old) & set(new)
    out(f"totals over {len(both)} shared queries: "
        f"{sum(old[q] for q in both):.1f}s -> {sum(new[q] for q in both):.1f}s; "
        f"{len(flagged)} flagged (>{flag}x and >0.1s)")
    # Uniform-inflation downgrade (r14): two same-code runs read 318s
    # and 285s against a 185s record with EVERY cpu-canary in-band —
    # the probe is blind to at least one throttle class. The per-query
    # ratio DISTRIBUTION separates that from a code regression: a real
    # regression concentrates in the touched queries and leaves the
    # median ratio ~1.0, while a host-state shift lifts the whole
    # record. Median >1.3 over a broad, broadly-flagged record is the
    # host, not the code.
    ratios = sorted(new[q] / old[q] for q in both if old[q] > 0.05)
    med_ratio = ratios[len(ratios) // 2] if ratios else 1.0
    uniform = (len(both) >= 20 and med_ratio > 1.3
               and len(flagged) >= 0.15 * len(both))
    if uniform:
        out(f"UNIFORM INFLATION: median per-query ratio x{med_ratio:.2f} "
            f"across {len(both)} shared queries with {len(flagged)} flags — "
            "whole-record host-state shift (the cpu-canary is blind to "
            "this class; see the record's canary_shuffle probe)")
    if new_failed:
        out(f"exit 1: {len(new_failed)} failed queries are REGRESSED "
            "whatever the host state")
    if changed:
        out(f"exit 1: {len(changed)} queries changed their work counters, "
            "whatever the host state")
    if flagged and adj_dir:
        out(f"adjudicating {len(flagged)} flagged queries: "
            f"k=3 fresh-JVM reruns against {adj_dir} ...")
        remeasured = adjudicate(flagged, adj_dir)
        regressed = []
        for q, o, n in flagged:
            r = remeasured.get(q)
            if r is not None and (r <= flag * o or r - o <= 0.1):
                out(f"NOISY     {q}: {o:.2f}s -> {n:.2f}s, "
                    f"stable min {r:.2f}s (within {flag}x)")
            else:
                regressed.append(q)
                shown = "absent from rerun" if r is None else f"{r:.2f}s"
                out(f"REGRESSED {q}: {o:.2f}s -> {n:.2f}s, "
                    f"stable min {shown} (still >{flag}x)")
        out(f"adjudication: {len(regressed)} REGRESSED, "
            f"{len(flagged) - len(regressed)} NOISY")
        return 1 if regressed or new_failed or changed else 0
    if new_failed or changed:
        return 1
    if flagged and mismatch:
        out("exit 0 (downgraded): canary mismatch means these flags are "
            "host-state artifacts until a comparable-canary record or an "
            "--adjudicate rerun says otherwise")
        return 0
    if flagged and uniform:
        out("exit 0 (downgraded): uniform inflation means these flags are "
            "host-state artifacts until a quiet rerun or an --adjudicate "
            "rerun says otherwise")
        return 0
    return 1 if flagged else 0


def smoke():
    """Planted-pair self-test of the canary downgrade (no Spark)."""
    def record(path, q1_sec, canary, canary_end=None, band=None,
               shuffle=None, shuffle_band=None):
        doc = {"queries": {"q1": q1_sec, "q2": 0.5},
               "total": q1_sec + 0.5, "count": 2, "sf": "planted",
               "canary": canary}
        if canary_end is not None:
            doc["canary_end"] = canary_end
        if band is not None:
            doc["canary_band"] = list(band)
        if shuffle is not None:
            doc["canary_shuffle"] = shuffle
        if shuffle_band is not None:
            doc["canary_shuffle_band"] = list(shuffle_band)
        json.dump(doc, open(path, "w"))
    with tempfile.TemporaryDirectory() as d:
        base = os.path.join(d, "old.json")
        hot = os.path.join(d, "new_hot.json")       # mover, canary 4x
        quiet = os.path.join(d, "new_quiet.json")   # mover, canary flat
        record(base, 1.0, 0.5)
        record(hot, 5.0, 2.0)
        record(quiet, 5.0, 0.55, canary_end=1.8)    # also degrades in-run
        lines = []
        rc_hot = compare(base, hot, 2.0, None, out=lines.append)
        assert rc_hot == 0, f"mismatched canary must downgrade, got {rc_hot}"
        assert any(l.startswith("CANARY MISMATCH") for l in lines), lines
        assert any(l.startswith("SLOWER  q1") for l in lines), lines
        assert any("throttled host" in l for l in lines), lines
        lines = []
        rc_quiet = compare(base, quiet, 2.0, None, out=lines.append)
        assert rc_quiet == 1, f"matching canary must flag, got {rc_quiet}"
        assert not any(l.startswith("CANARY MISMATCH") for l in lines), lines
        assert any("degrading DURING" in l for l in lines), lines
        # records predating the canary must keep the legacy contract
        legacy = os.path.join(d, "legacy.json")
        json.dump({"queries": {"q1": 5.0, "q2": 0.5}}, open(legacy, "w"))
        rc_legacy = compare(base, legacy, 2.0, None, out=lambda *_: None)
        assert rc_legacy == 1, f"canary-less record must still flag, got {rc_legacy}"
        # a record carrying its OWN band overrides the default: canary
        # 0.55 is hot under DEFAULT_BAND but in-band under [0.5, 1.0]
        banded_old = os.path.join(d, "banded_old.json")
        banded_new = os.path.join(d, "banded_new.json")
        record(banded_old, 1.0, 0.52, band=(0.5, 1.0))
        record(banded_new, 1.1, 0.55, band=(0.5, 1.0))
        lines = []
        compare(banded_old, banded_new, 2.0, None, out=lines.append)
        assert not any("throttled host" in l for l in lines), lines
        # shuffle probe above its record band warns (advisory); in-band
        # or band-less records stay silent
        sh_old = os.path.join(d, "sh_old.json")
        sh_hot = os.path.join(d, "sh_hot.json")
        record(sh_old, 1.0, 0.22, shuffle=0.40, shuffle_band=(0.30, 0.55))
        record(sh_hot, 1.1, 0.23, shuffle=0.90, shuffle_band=(0.30, 0.55))
        lines = []
        compare(sh_old, sh_hot, 2.0, None, out=lines.append)
        assert any("shuffle probe" in l and "new record" in l
                   for l in lines), lines
        assert not any("shuffle probe" in l and "old record" in l
                       for l in lines), lines
        lines = []
        compare(banded_old, banded_new, 2.0, None, out=lines.append)
        assert not any("shuffle probe" in l for l in lines), lines
        # uniform inflation with matching in-band canaries: the whole
        # record lifted ~1.5x with a noisy >2x tail — downgrade; but a
        # CONCENTRATED regression (median ~1.0) must still flag
        def wide(path, lift, spikes, canary):
            qs = {f"w{i}": 1.0 * lift for i in range(30)}
            for i in range(spikes):
                qs[f"w{i}"] = 3.0
            json.dump({"queries": qs, "total": sum(qs.values()),
                       "count": 30, "sf": "planted", "canary": canary},
                      open(path, "w"))
        wide_old = os.path.join(d, "wide_old.json")
        wide_hot = os.path.join(d, "wide_hot.json")
        wide_conc = os.path.join(d, "wide_conc.json")
        json.dump({"queries": {f"w{i}": 1.0 for i in range(30)},
                   "total": 30.0, "count": 30, "sf": "planted",
                   "canary": 0.5}, open(wide_old, "w"))
        wide(wide_hot, 1.5, 6, 0.52)    # lifted 1.5x, 6 spiked queries
        wide(wide_conc, 1.0, 6, 0.52)   # median flat, 6 spiked queries
        lines = []
        rc_uniform = compare(wide_old, wide_hot, 2.0, None, out=lines.append)
        assert rc_uniform == 0, f"uniform inflation must downgrade, got {rc_uniform}"
        assert any(l.startswith("UNIFORM INFLATION") for l in lines), lines
        lines = []
        rc_conc = compare(wide_old, wide_conc, 2.0, None, out=lines.append)
        assert rc_conc == 1, f"concentrated regression must flag, got {rc_conc}"
        assert not any(l.startswith("UNIFORM INFLATION") for l in lines), lines
        # an error row is REGRESSED even under a canary mismatch that
        # downgrades every timing flag, and its query is not GONE
        err_log = os.path.join(d, "new_error.log")
        open(err_log, "w").write(
            '{"canary_start":2.0000}\n'
            '{"query":"q1","error":"java.lang.IllegalStateException: planted"}\n'
            '{"query":"q2","sec":0.5000,"max":0.5000}\n'
            '{"metric":"total","value":0.5,"unit":"sec","count":1,'
            '"canary":2.0000,"failed":["q1"]}\n')
        lines = []
        rc_err = compare(base, err_log, 2.0, None, out=lines.append)
        assert rc_err == 1, f"error row must fail the diff, got {rc_err}"
        assert any(l.startswith("REGRESSED q1") for l in lines), lines
        assert any(l.startswith("CANARY MISMATCH") for l in lines), lines
        assert not any(l.startswith("GONE") for l in lines), lines
        # work counters: a planted extra job on the same data is a code
        # change from counters alone, and a wall-only delta with
        # unchanged counters stays advisory; counter-less records parse
        def counted(path, q1_sec, q1_counts, sf="planted"):
            json.dump({"queries": {"q1": q1_sec, "q2": 0.5},
                       "jobs": {"q1": q1_counts[0], "q2": 1},
                       "stages": {"q1": q1_counts[1], "q2": 1},
                       "tasks": {"q1": q1_counts[2], "q2": 4},
                       "total": q1_sec + 0.5, "count": 2, "sf": sf,
                       "canary": 0.5}, open(path, "w"))
        c_old = os.path.join(d, "c_old.json")
        c_job = os.path.join(d, "c_job.json")
        c_wall = os.path.join(d, "c_wall.log")
        counted(c_old, 1.0, (3, 4, 16))
        counted(c_job, 1.0, (4, 5, 17))
        open(c_wall, "w").write(
            '{"query":"q1","sec":2.5000,"max":2.6000,'
            '"jobs":3,"stages":4,"tasks":16}\n'
            '{"query":"q2","sec":0.5000,"max":0.5000,'
            '"jobs":1,"stages":1,"tasks":4}\n'
            '{"metric":"total","value":3.0,"unit":"sec","count":2,'
            '"sf":"planted","canary":0.5000,"failed":[]}\n')
        lines = []
        rc_job = compare(c_old, c_job, 2.0, None, out=lines.append)
        assert rc_job == 1, f"a counter delta must fail the diff, got {rc_job}"
        assert any(l.startswith("COUNTERS q1: jobs/stages/tasks 3/4/16 -> 4/5/17")
                   for l in lines), lines
        assert not any(l.startswith("COUNTERS q2") for l in lines), lines
        lines = []
        rc_wall = compare(c_old, c_wall, 2.0, None, out=lines.append)
        assert rc_wall == 0, f"a wall-only delta must stay advisory, got {rc_wall}"
        assert any(l.startswith("SLOWER  q1") and "advisory" in l
                   for l in lines), lines
        assert not any(l.startswith("COUNTERS") for l in lines), lines
        other_sf = os.path.join(d, "c_other_sf.json")
        counted(other_sf, 1.0, (9, 9, 90), sf="elsewhere")
        lines = []
        assert compare(c_old, other_sf, 2.0, None, out=lines.append) == 0, lines
        assert counters_of(base) == ({}, "planted")
        assert counters_of(legacy) == ({}, None)
        # a declared inexact query: its counter delta is advisory, but
        # its wall-time flag counts as for a query without counters
        def kcore(path, sec, jobs):
            json.dump({"queries": {"graph_kcore": sec, "q2": 0.5},
                       "jobs": {"graph_kcore": jobs, "q2": 1},
                       "stages": {"graph_kcore": jobs, "q2": 1},
                       "tasks": {"graph_kcore": jobs + 3, "q2": 4},
                       "total": sec + 0.5, "count": 2, "sf": "planted",
                       "canary": 0.5}, open(path, "w"))
        k_old = os.path.join(d, "k_old.json")
        k_jobs = os.path.join(d, "k_jobs.json")
        k_slow = os.path.join(d, "k_slow.json")
        kcore(k_old, 1.0, 28)
        kcore(k_jobs, 1.0, 26)
        kcore(k_slow, 2.5, 26)
        lines = []
        rc_inexact = compare(k_old, k_jobs, 2.0, None, out=lines.append)
        assert rc_inexact == 0, f"an inexact counter delta must stay advisory, got {rc_inexact}"
        assert any(l.startswith("INEXACT  graph_kcore: jobs/stages/tasks 28/28/31 -> 26/26/29")
                   for l in lines), lines
        assert not any(l.startswith("COUNTERS") for l in lines), lines
        lines = []
        rc_kslow = compare(k_old, k_slow, 2.0, None, out=lines.append)
        assert rc_kslow == 1, f"an inexact query's wall flag must count, got {rc_kslow}"
        assert any(l.startswith("SLOWER  graph_kcore") and "advisory" not in l
                   for l in lines), lines
    print("canary smoke: 11/11 planted cases OK (mismatch downgrades, "
          "quiet flags, legacy flags, record band overrides default, "
          "shuffle probe warns from its record band, "
          "uniform inflation downgrades, concentrated regression flags, "
          "error row regresses, counter delta is a code change, "
          "wall-only delta with unchanged counters is advisory, "
          "inexact counter delta is advisory but its wall flag counts)")
    return 0


def main():
    argv = sys.argv[1:]
    if "--smoke" in argv:
        sys.exit(smoke())
    flag = 2.0
    if "--flag" in argv:
        i = argv.index("--flag")
        flag = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]  # drop the flag AND its value
    adj_dir = None
    if "--adjudicate" in argv:
        i = argv.index("--adjudicate")
        has_val = i + 1 < len(argv) and not argv[i + 1].startswith("--") \
            and os.path.isdir(argv[i + 1])
        adj_dir = argv[i + 1] if has_val else "/root/testdata/sf0.1"
        argv = argv[:i] + argv[i + (2 if has_val else 1):]
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    sys.exit(compare(args[0], args[1], flag, adj_dir))


if __name__ == "__main__":
    main()
