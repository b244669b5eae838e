#!/usr/bin/env python3
"""CDC pipeline benchmark: pipeline YAML -> StreamingPipeline over a seeded
file topic -> ParquetUpsertSink, each run a fresh JVM, outputs checked
against the generator's expected state.

    python3 perfbench/run.py --workload backlog-catchup --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result JSON
(`correct`, `attempted`, `failed`, `metrics`); the line before it records
the run environment. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones (plus the tracing overhead and the
local[1] scaling probe). Everything the run writes stays under
.bench_build/ (compiled classes, cached feeds, per-run scratch, side
files with per-batch rows and spans).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import feeds  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("backlog-catchup", "sharded-evolve", "live-tail")
# Fixed, pre-touched heap: with a growing heap, GC time swung by up to 40 %
# between runs of the same feed. Memory is reported as the heap in use
# after GC (heap_peak_mb), which the heap size does not set.
HEAP = "2g"
SETUP_SAMPLES = 3  # JVM launches whose set-up time is measured per run
# what spark-submit adds on JDK 17 (the same list build.sbt passes to forks)
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def live_rate(spec):
    """The live-tail publish rate is part of the benchmark definition: it is
    read from the workload's `why` line in BENCHMARK.json."""
    why = next(w["why"] for w in spec["workloads"] if w["name"] == "live-tail")
    m = re.search(r"(\d+) events/s", why)
    if not m:
        sys.exit("BENCHMARK.json: live-tail why must state the rate as '<n> events/s'")
    return int(m.group(1))


def run_jvm(cp, feed_dir, meta, tag, mode, trace, cores):
    """One fresh JVM over the feed; returns the harness result dict."""
    run_dir = os.path.join(BUILD, "runs", "%s-%s-%d" % (meta["workload"], tag, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if mode == "setup" or meta["workload"] == "live-tail":
        topic = os.path.join(run_dir, "topic")  # empty; live-tail's publisher fills it
        os.makedirs(topic)
    else:
        topic = os.path.join(feed_dir, "topic")
    yaml_path = os.path.join(run_dir, "pipeline.yaml")
    with open(yaml_path, "w") as f:
        f.write(feeds.pipeline_yaml(meta, topic, os.path.join(run_dir, "sink"),
                                    os.path.join(run_dir, "checkpoint")))
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "mode=" + mode, "trace=%d" % trace,
            "cores=%d" % cores, "yaml=" + yaml_path, "feed=" + feed_dir, "out=" + out,
            "workdir=" + run_dir, "events=%d" % meta["events"],
            "segments=%d" % meta["segments"]]
    spec = meta["spec"]
    for k in ("max_files_per_trigger", "trigger_ms", "publish_interval_ms", "warmup_segments"):
        cmd.append("%s=%d" % (k, spec.get(k, 0)))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        launch_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["launch_ms=%d" % launch_ms], cwd=run_dir,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit("harness %s/%s failed (%s)" % (meta["workload"], tag, rc))
    with open(out) as f:
        res = json.load(f)
    res["_run_dir"] = run_dir
    res["_tag"] = tag
    return res


def events_per_s(res, meta):
    """Generated events of the committed segments over the run's wall time
    (query active to last commit, terminal compaction included; a dead
    run's wall ends when its death was seen)."""
    events = sum(meta["segment_events"][:res["committed_segments"]])
    return events / res["wall_s"] if res["wall_s"] > 0 else 0.0


def canonical(v):
    return repr(float(v)) if isinstance(v, float) else json.dumps(v)


def row_hash(row, cols):
    s = "|".join(c + "=" + canonical(row.get(c)) for c in cols)
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "little")


def check(feed_dir, res):
    """Compare the sink's final state with the generator's expected state:
    row count and an order-independent hash per table, and per primary key
    the rows missing, extra or wrong. Returns (expected rows, failed rows,
    per-table detail)."""
    with open(os.path.join(feed_dir, "expected.json")) as f:
        expected = json.load(f)
    actual = {t: {} for t in expected}
    with open(os.path.join(res["_run_dir"], "result.json.rows")) as f:
        for line in f:
            t, js = line.rstrip("\n").split("\t", 1)
            r = json.loads(js)
            actual.setdefault(t, {})[r["id"]] = r
    attempted = failed = 0
    detail = {}
    for t, rows in expected.items():
        exp = {r["id"]: r for r in rows}
        act = actual.get(t, {})
        cols = sorted({c for r in rows for c in r} | {c for r in act.values() for c in r})
        missing = sum(1 for k in exp if k not in act)
        extra = sum(1 for k in act if k not in exp)
        wrong = sum(1 for k, r in exp.items()
                    if k in act and any(r.get(c) != act[k].get(c) for c in cols))
        he = sum(row_hash(r, cols) for r in exp.values()) % (1 << 64)
        ha = sum(row_hash(r, cols) for r in act.values()) % (1 << 64)
        detail[t] = {"expected": len(exp), "actual": len(act), "missing": missing,
                     "extra": extra, "wrong": wrong, "hash_equal": he == ha}
        attempted += len(exp)
        failed += missing + extra + wrong
    if "dead" in res:  # a dead query fails every expected row
        failed = attempted
        detail["dead"] = res["dead"]
    return attempted, failed, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_spec()
    cp = build.build()
    rate = live_rate(spec)
    feed_dir, meta = feeds.ensure(os.path.join(BUILD, "feeds"), a.workload, a.seed,
                                  a.seconds, rate)
    nproc = os.cpu_count()
    env = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "gen_version": meta["gen_version"], "events": meta["events"],
           "segments": meta["segments"], "nproc": nproc, "master": "local[%d]" % nproc,
           "shuffle_partitions": nproc, "xmx": HEAP, "trace": a.trace,
           "live_rate_events_per_s": rate if a.workload == "live-tail" else None}

    runs = []
    if a.trace == 0:
        main_run = run_jvm(cp, feed_dir, meta, "main", "run", 0, nproc)
        runs.append(main_run)
        setups = [main_run["setup_s"]]
        for i in range(1, SETUP_SAMPLES):
            r = run_jvm(cp, feed_dir, meta, "setup%d" % i, "setup", 0, nproc)
            setups.append(r["setup_s"])
            shutil.rmtree(r["_run_dir"], ignore_errors=True)
        metrics = dict(main_run, setup_s=statistics.median(setups),
                       events_per_s=events_per_s(main_run, meta))
        side = {"setup_samples": setups, "run": main_run}
    else:
        plain = run_jvm(cp, feed_dir, meta, "untraced", "run", 0, nproc)
        traced = run_jvm(cp, feed_dir, meta, "traced", "run", 1, nproc)
        single = run_jvm(cp, feed_dir, meta, "traced-local1", "run", 1, 1)
        runs += [plain, traced, single]
        metrics = dict(traced)
        metrics["loadgen.gen_s"] = meta["gen_s"]
        eps_plain, eps_traced, eps_single = (events_per_s(r, meta) for r in (plain, traced, single))
        metrics["trace.events_per_s_untraced"] = eps_plain
        metrics["trace.events_per_s_traced"] = eps_traced
        metrics["trace.overhead_pct"] = (eps_plain / eps_traced - 1) * 100 if eps_traced else 0.0
        metrics["engine.speedup_1_to_n"] = eps_traced / eps_single if eps_single else 0.0
        metrics["engine.parallelism_local1"] = single.get("engine.parallelism", 0.0)
        side = {"untraced": plain, "traced": traced, "local1": single}

    attempted = failed = 0
    checks = []
    for r in runs:
        at, fa, detail = check(feed_dir, r)
        attempted += at
        failed += fa
        checks.append(detail)
    side.update({"env": env, "checks": checks})
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    with open(stem + ".json", "w") as f:
        json.dump(side, f, indent=1)
    for r in runs:
        # per-segment times, and per-batch rows and spans of traced runs,
        # go beside the result
        for src in ("segments.jsonl", "batches.jsonl", "spans.jsonl"):
            if os.path.exists(os.path.join(r["_run_dir"], src)):
                shutil.copy(os.path.join(r["_run_dir"], src),
                            "%s.%s.%s" % (stem, r["_tag"], src))
        shutil.rmtree(r["_run_dir"], ignore_errors=True)
    listed = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing and failed == 0:
        sys.exit("metrics not measured: " + ", ".join(missing))
    for name in missing:  # a dead query's layers were not traced
        metrics[name] = 0.0
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in listed}}))


if __name__ == "__main__":
    main()
