#!/usr/bin/env python3
"""Catch-up capacity of the live-tail pipeline, the measurement the
live-tail publish rate in BENCHMARK.json is set under.

    python3 perfbench/catchup.py [--seconds 30] [--files 25] [--seeds 1,2,3]

Run from the repository root. The live-tail feed of each seed is written
to the topic up front and drained with an AvailableNow trigger in batches
of `--files` segments (25 segments of 80 ms = one 2 s live-tail trigger),
into the same single-table copy-on-write sink. Prints, per seed, the
generated events over the wall time from query start to the last commit,
and the output check; then the median. Everything stays under .bench_build/.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import copy  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import feeds  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--files", type=int, default=25)
    ap.add_argument("--seeds", default="1,2,3")
    a = ap.parse_args()
    cp = build.build()
    rate = run.live_rate(run.load_spec())
    root = os.path.join(run.BUILD, "catchup")
    rates = []
    for seed in map(int, a.seeds.split(",")):
        feed, meta = feeds.ensure(os.path.join(root, "feeds"), "live-tail", seed, a.seconds, rate)
        topic_feed = os.path.join(root, "topic-%s" % os.path.basename(feed))
        if not os.path.isdir(topic_feed):
            shutil.copytree(os.path.join(feed, "staging"), os.path.join(topic_feed, "topic"))
            shutil.copy(os.path.join(feed, "expected.json"), topic_feed)
        m = copy.deepcopy(meta)
        m["workload"] = "catchup"
        m["spec"].update(trigger_ms=0, publish_interval_ms=0, warmup_segments=0,
                         max_files_per_trigger=a.files)
        res = run.run_jvm(cp, topic_feed, m, "catchup", "run", 0, os.cpu_count())
        attempted, failed, _ = run.check(topic_feed, res)
        shutil.rmtree(res["_run_dir"], ignore_errors=True)
        eps = m["events"] / res["wall_s"]
        rates.append(eps)
        print("seed %d: %d events in %.2f s = %.0f events/s, failed %d of %d rows"
              % (seed, m["events"], res["wall_s"], eps, failed, attempted), flush=True)
    print("median catch-up %.0f events/s (live-tail publishes %d events/s)"
          % (statistics.median(rates), rate))


if __name__ == "__main__":
    main()
