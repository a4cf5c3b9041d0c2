#!/usr/bin/env python3
"""Rate sweep for the live_tail workload.

    python3 perfbench/sweep.py [--rates 1000,2000,4000,8000] [--seconds 10] [--seed 1]

Runs the live tail once per generator rate and prints, per rate, the
latency median and p99, the median trigger duration, and whether the
backlog stayed flat: the median latency of the window's last third is at
most 1.25 times that of its first third. The benchmark's fixed rate
(graftbench/metrics.py LIVE_RATE) is set at about half the highest flat
rate; README.md records the sweep.
"""
import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from graftbench import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rates", default="1000,2000,4000,8000")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    classpath = run.build()
    print("rate_rec_per_s latency_ms_p50 latency_ms_p99 trigger_ms_p50 "
          "first_third_p50 last_third_p50 flat correct")
    for rate in map(float, a.rates.split(",")):
        work = os.path.join(run.BENCH, ".work", "sweep")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        gen = run.Generator(work, a.seed, rate)
        try:
            res = run.run_jvm(classpath, work, [
                "--workload", "live_tail", "--out", work, "--seconds", a.seconds,
                "--seed", a.seed, "--trace", 0, "--live", gen.url])
        finally:
            gen.stop()
        failures, _ = run.check_live(res, gen.args)
        lat = res["latencies_ms"]
        third = len(lat) // 3
        first, last = stats.percentile(lat[:third], 50), stats.percentile(lat[-third:], 50)
        trig = stats.percentile([t["durations_ms"]["triggerExecution"]
                                 for t in res["triggers"]], 50)
        print(f"{rate:g} {stats.percentile(lat, 50):.1f} {stats.percentile(lat, 99):.1f} "
              f"{trig} {first:.1f} {last:.1f} {last <= 1.25 * first} {not failures}",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
