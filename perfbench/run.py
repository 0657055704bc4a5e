#!/usr/bin/env python3
"""graft's benchmark: build the harness, run one workload, print metrics.

    python3 perfbench/run.py --workload daily_run --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test      # tiny inputs, every workload
    python3 perfbench/run.py --pin [--workload w]   # re-pin expected outputs

Run from the root of a graft checkout. The first run builds graft and
the harness (perfbench/build.sbt, sbt offline); later runs rebuild only
when a source is newer than the build. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}, where the
metrics are the end-to-end ones with --trace 0 and the per-layer ones
with --trace 1, by the names and units in BENCHMARK.json. When an op
throws or fails its output check the line still prints, with
"correct": false and without that op's time, and the exit code is 1.

Seeds map onto PIN_VARIANTS input variants (seed mod PIN_VARIANTS), so
every op's output can be checked against the digests in pins.json.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
PINS = os.path.join(HERE, "pins.json")
PIN_VARIANTS = 4
DEV_SEED = 7  # seed 6 (another variant) is the holdout; see README.md
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def manifest():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(p)]
    return files


def build():
    """Compile graft and the harness unless the classpath file is newer
    than every source."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/ (build.sbt, src/main/scala/graft)")
    if os.path.isfile(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= max(os.path.getmtime(p) for p in sources()):
        return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        # own process group: a timeout or SIGTERM takes down sbt's JVM too
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                              "perfbench/writeClasspath"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=700)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (rc={rc}); see {log}")


def run_harness(workload, seed, seconds, trace, extra=()):
    """One JVM run; returns the harness record."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(WORK, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, *extra]
    log = os.path.join(WORK, f"{workload}-{seed}-{trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in {RUN_TIMEOUT_S} s; see {log}")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"{workload} exited {p.returncode}; see {log}")
    return json.loads(lines[-1])


def pins_for(workload, variant, tiny):
    if not os.path.isfile(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f).get(workload, {}).get(("tiny-" if tiny else "") + str(variant), {})


def evaluate(rec, variant, tiny, pin=True):
    """Pin-checks the ops and reduces the record to metrics."""
    pins = pins_for(rec["workload"], variant, tiny) if pin else None
    ops = rec["phase"]["ops"]
    for op in ops:
        if op["error"] is None and op["observed"] is not None and pins is not None:
            want = pins.get(op["key"])
            if want is None:
                op["error"] = f"no pin for {op['key']} (variant {variant})"
            elif want != op["observed"]:
                op["error"] = f"{op['key']} output differs from its pin"
    ok = [op["seconds"] for op in ops if op["error"] is None]
    failed = len(ops) - len(ok)
    errors = [op["error"] for op in ops if op["error"]]
    metrics = {"setup_s": rec["setup_s"], "retained_mb": rec["phase"]["retained_mb"]}
    if ok:  # failed ops are left out of the timings, never timed as zero
        metrics.update(wall_s=sum(ok), op_p50_s=statistics.median(ok))
    info = {"error_rate": failed / len(ops), "ops_timed": len(ok)}
    return metrics, rec.get("layers") or {}, info, failed, errors


def result(args, bench):
    variant = args.seed % PIN_VARIANTS
    rec = run_harness(args.workload, variant, args.seconds, args.trace)
    e2e, layers, extra, failed, errors = evaluate(rec, variant, False)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    have = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing and not failed:
        fail(f"harness did not emit {missing}")
    wanted = [m for m in wanted if m["name"] in have]
    attempted = len(rec["phase"]["ops"])
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"record": rec, "metrics": e2e, "layers": layers, **extra}, f, indent=1)
    for msg in errors:
        print(f"failed op: {msg}")
    print(f"inputs: {json.dumps(rec['inputs'], sort_keys=True)}")
    print(f"ops: {extra['ops_timed']} timed of {attempted}, error_rate {extra['error_rate']:.3f}")
    for m in wanted:
        print(f"{m['name']:40s} {have[m['name']]:14.6f} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": have[m["name"]], "unit": m["unit"]} for m in wanted}}


def self_test(bench):
    """Tiny inputs, every workload: each manifest name is emitted
    with its unit, and a planted failing op is counted, not timed."""
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, plant in ((0, True), (1, False)):
            extra = ["--tiny"] + (["--plant-failure"] if plant else [])
            rec = run_harness(w, 0, 2, trace, extra)
            e2e, layers, info, failed, errors = evaluate(rec, 0, True)
            have, wanted = (layers, bench["per_layer"]) if trace else (e2e, bench["end_to_end"])
            problems += [f"{w}: {m['name']} missing" for m in wanted if m["name"] not in have]
            ops = rec["phase"]["ops"]
            if plant:
                planted = [op for op in ops if op["error"] and "planted" in op["error"]]
                if not planted or info["error_rate"] <= 0 or info["ops_timed"] != len(ops) - len(planted):
                    problems.append(f"{w}: planted failure not counted ({errors})")
            elif failed:
                problems.append(f"{w}: clean tiny run failed: {errors}")
            print(f"self-test {w} trace={trace} plant={plant}: failed={failed} "
                  f"error_rate={info['error_rate']:.2f}", flush=True)
    for p in problems:
        print(f"self-test problem: {p}")
    print("self-test " + ("FAILED" if problems else "passed"))
    return not problems


def pin(bench, workloads):
    """Records every op's observed outputs for each input variant."""
    pins = {}
    if os.path.isfile(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    for w in workloads:
        pins[w] = {}
        for tiny, variants in ((False, range(PIN_VARIANTS)), (True, [0])):
            for v in variants:
                rec = run_harness(w, v, 2 if tiny else bench["run_seconds"], 0, ["--tiny"] if tiny else [])
                _, _, _, failed, errors = evaluate(rec, v, tiny, pin=False)
                if failed:
                    fail(f"cannot pin {w} variant {v}: {errors}")
                pins[w][("tiny-" if tiny else "") + str(v)] = {
                    op["key"]: op["observed"] for op in rec["phase"]["ops"]}
                print(f"pinned {w} {'tiny-' if tiny else ''}{v}", flush=True)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=DEV_SEED)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    bench = manifest()
    build()
    if args.self_test:
        sys.exit(0 if self_test(bench) else 1)
    names = [w["name"] for w in bench["workloads"]]
    if args.pin:
        pin(bench, [args.workload] if args.workload else names)
        return
    if args.workload not in names:
        fail(f"--workload must be one of {names}")
    args.seconds = args.seconds or bench["run_seconds"]
    out = result(args, bench)
    sys.stdout.flush()
    print(json.dumps(out))
    if out["failed"]:  # an output check failed or an op threw
        sys.exit(1)


if __name__ == "__main__":
    main()
