#!/usr/bin/env python3
"""The repository's benchmark: one cold run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the inputs
from the seed, then starts a fresh JVM (perfbench.Main) with an empty
scratch root and reads back its results. It checks the outputs, counts
failed operations against those attempted, and prints the metrics
named in BENCHMARK.json: with --trace 0 the end-to-end ones, with
--trace 1 the per-layer ones from a traced run. The last line of
standard output is one JSON object.

Workloads:
  curation_cold  four Dedup + Spectral queries (zones and loops) on the
                 sf0.01 tables, in seed-permuted order
  elt_taxi       CsvIngest x5 -> Pipeline.run -> Upsert.merge over
                 seeded taxi CSVs (perfbench/gen_taxi.py)
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_taxi  # noqa: E402

TABLES = "/root/testdata/sf0.01"
TAXI_ROWS = 100000
SETUP_SAMPLES = 3          # setup_s is the median of this many JVM starts
HEAP = "-Xmx4g"
DEADLINE_S = 170           # a run ends within this, build excluded
# the module opens build.sbt passes to every forked JVM
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
WORKLOADS = ("curation_cold", "elt_taxi")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def java(cp, work, args, deadline):
    """Run perfbench.Main in a fresh JVM; return (start epoch, result)."""
    out = os.path.join(work, f"result-{time.monotonic_ns()}.json")
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        HEAP, "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/local", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main", "--out", out] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "a") as err:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=err, stderr=err,
                                timeout=max(1.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            fail("JVM ran past the run deadline")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {rc}")
    with open(out) as f:
        return t0, json.load(f)


def taxi_inputs(root, seed):
    """Generated once per seed and cached; the JVM never generates."""
    if not gen_taxi.self_check(root):
        fail("taxi generator self-check failed")
    d = os.path.join(root, "taxi", str(seed))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_taxi.generate(tmp, seed, TAXI_ROWS)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, json.load(f)


def query_checks(workload, res):
    """(query, expected, got) for each query's fingerprint. An expected
    entry holding only `rows` checks the row count alone."""
    with open(os.path.join(HERE, "expected", f"{workload}.json")) as f:
        expected = json.load(f)
    got = res["fingerprints"]
    return [(n, expected.get(n), got.get(n)) for n in sorted(set(expected) | set(got))]


def taxi_checks(res, m):
    """(what, expected, got) for the counts the generator knows: on the
    cold pass's tables, and in each pass's step reports."""
    c = res["checks"]
    checks = [(k, v, c.get(k)) for k, v in {
        "rows_ingested": m["rows"], "total_trips": m["valid_rows"],
        "cleaned_rows": m["valid_rows"], "corrections": m["corrections"],
        "corrected_rows": m["corrections"],
        "corrected_fare_cents": m["corrected_fare_cents"]}.items()]
    per_op = {"pipeline.run": {"validate_raw": m["rows"],
                               "transform_materialize": m["valid_rows"]},
              "sinks.upsert": {"rows_after": m["valid_rows"]}}
    for i, p in enumerate([res["cold"]] + res["reruns"]):
        for op in p["ops"]:
            if op["error"] is None:
                checks += [(f"pass{i}.{op['name']}.{k}", v, op["counts"].get(k))
                           for k, v in per_op.get(op["name"], {}).items()]
    return checks


def matches(want, got):
    if isinstance(want, dict):
        return isinstance(got, dict) and all(got.get(k) == v for k, v in want.items())
    return want is not None and got == want


def end_to_end(res, setups):
    """setup_s is the median over the set-up samples, rerun_s over the
    rerun passes."""
    return {
        "setup_s": statistics.median(setups),
        "batch_s": res["cold"]["seconds"],
        "rerun_s": statistics.median(p["seconds"] for p in res["reruns"]),
        "disk_mb": res["disk_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    root = build.build_dir()
    cp = build.build()
    deadline = time.monotonic() + DEADLINE_S
    cpus = len(os.sched_getaffinity(0))
    if a.workload == "elt_taxi":
        data, manifest = taxi_inputs(root, a.seed)
    else:
        data, manifest = TABLES, None
        if not os.path.isdir(data):
            fail(f"missing tables {data}")

    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--cpus", str(cpus), "--data", data]

    def run(trace, setup_samples=1):
        """Set-up samples, then one full run; each JVM fresh, each run in
        a fresh work directory with an empty scratch root."""
        work = os.path.join(root, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        for d in ("scratch", "local", "tmp"):
            os.makedirs(os.path.join(work, d))
        args = common + ["--work", work]
        try:
            setups = []
            for _ in range(setup_samples - 1):
                t0, r = java(cp, work, args + ["--trace", "0", "--setup-only"], deadline)
                setups.append(r["built_epoch"] - t0)
            t0, res = java(cp, work, args + ["--trace", str(trace)], deadline)
            setups.append(res["built_epoch"] - t0)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return res, setups

    # untraced cold-pass times recorded in this checkout, the base of the
    # tracing overhead
    state = os.path.join(root, "untraced", f"{a.workload}.json")
    past = []
    if os.path.exists(state):
        with open(state) as f:
            past = json.load(f)

    def remember(batch_s):
        past.append(batch_s)
        os.makedirs(os.path.dirname(state), exist_ok=True)
        with open(state, "w") as f:
            json.dump(past, f)

    if a.trace == 0:
        res, setups = run(0, SETUP_SAMPLES)
        values = end_to_end(res, setups)
        remember(values["batch_s"])
        metrics = spec["end_to_end"]
    else:
        if not past:
            remember(run(0)[0]["cold"]["seconds"])
        res, _ = run(1)
        values = {k: v for k, v in res.items() if isinstance(v, (int, float))}
        values["query.p50_s"] = statistics.median(o["seconds"] for o in res["cold"]["ops"])
        # the cold-warm gap, to set beside scratch.build_s
        values["trace.cold_gap_s"] = values["trace.batch_s"] - statistics.median(
            p["seconds"] for p in res["reruns"])
        values["trace.overhead_s"] = values["trace.batch_s"] - statistics.median(past)
        metrics = spec["per_layer"]
    # the run's raw results (per-operation times, fingerprints; traced,
    # every span and job) stay in the build directory for inspection
    os.makedirs(os.path.join(root, "results"), exist_ok=True)
    with open(os.path.join(root, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f)

    ops = [o for p in [res["cold"]] + res["reruns"] for o in p["ops"]]
    errors = [f"{o['name']}: {o['error']}" for o in ops if o["error"] is not None]
    checks = taxi_checks(res, manifest) if manifest else query_checks(a.workload, res)
    mismatches = [f"{what}: expected {want}, got {got}"
                  for what, want, got in checks if not matches(want, got)]
    for line in errors + mismatches:
        print(f"[perfbench] FAILED {line}", file=sys.stderr)

    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")
    for m in metrics:
        print(f"{m['name']:28s} {values[m['name']]:14.6f} {m['unit']}")
    print(json.dumps({
        "correct": not errors and not mismatches,
        "attempted": len(ops) + len(checks),
        "failed": len(errors) + len(mismatches),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
