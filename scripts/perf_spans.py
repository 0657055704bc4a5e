#!/usr/bin/env python3
"""Per-module phase timeline of a traced perfbench record.

    python3 scripts/perf_spans.py .bench_build/perfbench/records/daily_run-7-1.json
    python3 scripts/perf_spans.py --smoke      # self-test on a planted record

A traced run (`perfbench/run.py --trace 1`) keeps one span per Spark job
in its record: op, module, start and end millis. For each op this prints,
per module, in order of first start:

  first   when the module's first job started (s after the op's first job)
  last    when its last job ended (same clock)
  span    last - first
  jobs    its job count
  busy    the union of its job intervals
  overlap the part of `busy` during which a job of another module ran too

Modules that run one after another show `overlap` 0 and disjoint
first..last windows; concurrent phases (the pipeline's mart chains, the
report's collects) show windows that interleave and a non-zero overlap.
"""
import json
import os
import sys
import tempfile


def union(intervals):
    """Sorted, disjoint cover of the (start, end) intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(cover):
    return sum(e - s for s, e in cover)


def intersect(a, b):
    """Length of the intersection of two sorted, disjoint covers."""
    i = j = total = 0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        total += max(0, hi - lo)
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def timeline(spans):
    """{op: [(module, first_ms, last_ms, jobs, busy_ms, overlap_ms)]},
    first/last relative to the op's first job; finished jobs only."""
    by_op = {}
    for sp in spans:
        if sp["end_ms"] >= sp["start_ms"]:
            by_op.setdefault(sp["op"], []).append(sp)
    result = {}
    for op, ss in sorted(by_op.items()):
        t0 = min(s["start_ms"] for s in ss)
        mods = {}
        for s in ss:
            mods.setdefault(s["module"], []).append((s["start_ms"], s["end_ms"]))
        rows = []
        for m, iv in mods.items():
            mine = union(iv)
            others = union([x for n, v in mods.items() if n != m for x in v])
            rows.append((m, min(s for s, _ in iv) - t0, max(e for _, e in iv) - t0, len(iv),
                         length(mine), intersect(mine, others)))
        result[op] = sorted(rows, key=lambda r: (r[1], r[0]))
    return result


def load_spans(path):
    with open(path) as f:
        rec = json.load(f)
    rec = rec.get("record", rec)  # run.py wraps the harness record
    spans = rec.get("spans")
    if not spans:
        sys.exit(f"perf_spans: {path} has no job spans (was it a --trace 1 run?)")
    return spans


def render(result):
    lines = []
    for op, rows in result.items():
        end = max(r[2] for r in rows)
        lines.append(f"op {op}: {sum(r[3] for r in rows)} jobs, first job to last end {end / 1000:.3f} s")
        lines.append(f"  {'module':30s} {'first':>8s} {'last':>8s} {'span':>8s} {'jobs':>5s} "
                     f"{'busy':>8s} {'overlap':>8s}")
        for m, first, last, jobs, busy, ov in rows:
            lines.append(f"  {m:30s} {first / 1000:8.3f} {last / 1000:8.3f} {(last - first) / 1000:8.3f} "
                         f"{jobs:5d} {busy / 1000:8.3f} {ov / 1000:8.3f}")
    return "\n".join(lines)


def smoke():
    """Planted spans with hand-computed windows and overlaps."""
    def span(op, module, s, e):
        return {"op": op, "job": 0, "exec": -1, "module": module, "start_ms": s, "end_ms": e,
                "stages": 1, "tasks": 1}
    spans = [
        span(0, "Pipeline", 1000, 1500),
        # two concurrent chains: writes and merges interleave
        span(0, "sources.MartSink.write", 2000, 2600),
        span(0, "sources.MartSink.write", 2100, 2400),
        span(0, "sources.MartSink.merge_jdbc", 2500, 3000),
        span(0, "report", 4000, 4200),
        span(0, "report", 4100, 4300),
        span(0, "other", 5000, 4999),  # never finished: left out
        span(1, "Pipeline", 7000, 7100),
    ]
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"record": {"spans": spans}}, f)
    try:
        got = timeline(load_spans(f.name))
    finally:
        os.unlink(f.name)
    checks = [
        ("two ops", sorted(got) == [0, 1]),
        ("unfinished job left out", all(r[0] != "other" for r in got[0])),
        ("order by first start", [r[0] for r in got[0]] ==
         ["Pipeline", "sources.MartSink.write", "sources.MartSink.merge_jdbc", "report"]),
        ("write window, jobs, busy, overlap", got[0][1] == ("sources.MartSink.write", 1000, 1600, 2, 600, 100)),
        ("merge overlaps the write", got[0][2] == ("sources.MartSink.merge_jdbc", 1500, 2000, 1, 500, 100)),
        ("a module never overlaps itself", got[0][3] == ("report", 3000, 3300, 2, 300, 0)),
        ("sequential module", got[0][0] == ("Pipeline", 0, 500, 1, 500, 0)),
        ("per-op clock", got[1] == [("Pipeline", 0, 100, 1, 100, 0)]),
        ("renders", "sources.MartSink.merge_jdbc" in render(got)),
    ]
    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    passed = sum(ok for _, ok in checks)
    print(f"smoke: {passed}/{len(checks)} passed")
    return passed == len(checks)


def main(argv):
    if argv == ["--smoke"]:
        return 0 if smoke() else 1
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    print(render(timeline(load_spans(argv[0]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
