#!/usr/bin/env python3
"""Query-by-query diff of two graft.Explain dumps.

Usage: plan_diff.py OLD NEW
       plan_diff.py --smoke

OLD and NEW are the stdout of `sbt 'runMain graft.Explain SF_DIR'`
(sbt's "[info] " prefixes and the forked JVM's log lines are dropped)
or of the same main run directly. Each dump is split into one plan per
"===== name =====" header, and the plans are compared after masking
what differs between two runs of the same code:

  - expression ids                  ts#12L          -> ts#N
  - plan ids                        [plan_id=69]    -> [plan_id=N]
  - RDD ids                         MapPartitionsRDD[1439] -> ...RDD[N]
  - JVM identity hashes             F@1428d63       -> F@H
  - lambda class addresses          Lambda$6415/0x00007f18a17a7790
                                                    -> Lambda$N/0xA
  - source line numbers in call-site names (a localCheckpoint RDD is
    named "... at localCheckpoint at Graph.scala:92", so moving code
    above the call moves the name)  Graph.scala:92  -> Graph.scala:N

Prints every query whose masked plan differs (with a unified diff),
is only in OLD (GONE) or only in NEW (ADDED), then a summary line.
Exit status 1 if anything was reported, else 0.

--smoke runs planted cases (no Spark): a dump that differs only in
masked ids must pass, a real operator change and a dropped query must
each be flagged with exit 1. Exit 0 iff all hold.
"""
import difflib
import os
import re
import sys
import tempfile

HEADER = re.compile(r"^=+ (\S+) =+$")
SBT_PREFIX = re.compile(r"^\[(info|warn|error|success|debug)\] ?")

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Lambda(\$\d+)?/0x[0-9a-f]+"), "Lambda$N/0xA"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@H"),
    (re.compile(r"\b([\w$]+\.(?:scala|java)):\d+"), r"\1:N"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def parse(path):
    """name -> list of masked plan lines, in dump order."""
    plans, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as fh:
        for raw in fh:
            raw = raw.rstrip("\n")
            m = SBT_PREFIX.match(raw)
            if m and m.group(1) != "info":
                continue  # sbt status and the forked JVM's stderr
            line = raw[m.end():] if m else raw
            h = HEADER.match(line.strip())
            if h:
                cur = h.group(1)
                plans[cur] = []
            elif cur is not None:
                plans[cur].append(mask(line.rstrip()))
    for lines in plans.values():
        while lines and not lines[-1]:
            lines.pop()
    return plans


def diff(old_path, new_path, out=sys.stdout):
    old, new = parse(old_path), parse(new_path)
    reported = 0
    for name in sorted(set(old) | set(new)):
        if name not in new:
            print(f"GONE    {name}", file=out)
        elif name not in old:
            print(f"ADDED   {name}", file=out)
        elif old[name] != new[name]:
            print(f"CHANGED {name}", file=out)
            for d in difflib.unified_diff(old[name], new[name], "old", "new",
                                          lineterm=""):
                print("    " + d, file=out)
        else:
            continue
        reported += 1
    same = len(set(old) & set(new)) - sum(
        1 for n in set(old) & set(new) if old[n] != new[n])
    print(f"plan_diff: {len(old)} old, {len(new)} new, {same} identical "
          f"after masking, {reported} reported", file=out)
    return 1 if reported else 0


def smoke():
    base = """[info] welcome to sbt
[error] 26/10/17 16:30:16 INFO SparkContext: Running Spark version 4.1.2
[info] ===================== q_join =====================
[info] == Physical Plan ==
[info] AdaptiveSparkPlan (5)
[info] +- {join} (4)
[info]    :- Scan parquet  (1)
[info]    +- Scan ExistingRDD (3)
[info] (1) Scan parquet
[info] Output [2]: [user_id#{a}L, ts#{b}]
[info] (3) Scan ExistingRDD
[info] Arguments: [src#{a}L], MapPartitionsRDD[{rdd}] at localCheckpoint at Graph.scala:{line}, ExistingRDD
[info] (4) Exchange
[info] Arguments: hashpartitioning(user_id#{a}L, 8), ENSURE_REQUIREMENTS, [plan_id={pid}]
[info] Arguments: F@{hash}, graft.operators.Dedup$$$Lambda${lam}/0x{addr}@{hash}
[info]
[info] ===================== q_other =====================
[info] == Physical Plan ==
[info] LocalTableScan [n#{b}L]
[success] Total time: 172 s
"""
    a = dict(join="SortMergeJoin Inner", a=1, b=2, rdd=1439, line=92,
             pid=69, hash="5ce92b99", lam=6415, addr="00007f18a17a7790")
    masked_only = dict(a, a=811, b=907, rdd=2012, line=75, pid=304,
                       hash="1c541176", lam=6429, addr="00007f18a17ac0c0")
    operator = dict(a, join="BroadcastHashJoin Inner BuildRight")
    cases = [
        ("masked-only difference passes", base.format(**masked_only), 0),
        ("operator change is flagged", base.format(**operator), 1),
        ("dropped query is flagged",
         base.format(**a).split("[info] ===================== q_other")[0], 1),
    ]
    ok = 0
    with tempfile.TemporaryDirectory() as d:
        old = os.path.join(d, "old.txt")
        with open(old, "w") as fh:
            fh.write(base.format(**a))
        for label, text, want in cases:
            new = os.path.join(d, "new.txt")
            with open(new, "w") as fh:
                fh.write(text)
            with open(os.devnull, "w") as sink:
                got = diff(old, new, out=sink)
            status = "OK" if got == want else "FAIL"
            ok += got == want
            print(f"smoke {status}: {label} (exit {got}, want {want})")
    print(f"plan_diff smoke: {ok}/{len(cases)} planted cases OK")
    return 0 if ok == len(cases) else 1


def main(argv):
    if "--smoke" in argv:
        return smoke()
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    return diff(argv[0], argv[1])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
