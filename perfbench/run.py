#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, runs the workload in one JVM (perfbench/src), checks the
answers, prints every metric with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see perfbench/README.md). The exit code is 0 only when
every answer was correct.
"""
import argparse
import bisect
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from graftbench import metrics, stats  # noqa: E402

JVM_TIMEOUT_S = 160
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[graftbench] {msg}", flush=True)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def source_stamp() -> str:
    """Hash of every input to the build."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project",
                                                           "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> list:
    """Compile the engine and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: engine sources (src/main/scala/graft) "
                         "not found; run from the repository root")
    target = os.path.join(BENCH, "target")
    cp_file, stamp_file = (os.path.join(target, "classpath.txt"),
                           os.path.join(target, "source-stamp"))
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().split(os.pathsep)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "printClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().split(os.pathsep)


class Generator:
    """The live stream generator process (graftbench/livegen.py)."""

    def __init__(self, work: str, seed: int, rate: float):
        self.port_file = os.path.join(work, "generator.port")
        self.log_file = os.path.join(work, "generator.json")
        self.t0_us = int(time.time() * 1e6)
        self.args = (seed, 4, rate, self.t0_us)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "graftbench", "livegen.py"),
             *map(str, self.args), self.port_file, self.log_file],
            stdout=subprocess.DEVNULL, stderr=open(os.path.join(work, "generator.err"), "w"))
        deadline = time.time() + 30
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                raise SystemExit("graftbench: live generator did not start")
            time.sleep(0.02)
        with open(self.port_file) as f:
            self.url = f"http://127.0.0.1:{f.read().strip()}"

    def stop(self) -> dict:
        try:
            urllib.request.urlopen(self.url + "/stop", timeout=5).read()
            self.proc.wait(timeout=20)
        except Exception:
            self.proc.kill()
            self.proc.wait()
            return {"pages": [], "polls": []}
        with open(self.log_file) as f:
            return json.load(f)


def run_jvm(classpath, work, args) -> dict:
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}/derby",
              "-cp", os.pathsep.join(classpath), "graftbench.Harness"]
           + [str(a) for a in args])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("graftbench: workload timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: workload JVM exited {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_mix(res, fixtures, work):
    """Per-query verdicts against the DuckDB oracle: (failures, rows)."""
    from graftbench import fixtures as fx, oracle
    con = oracle.connect(fixtures, fx.TABLES)
    failures, rows = {}, {}
    for q in res["workload_queries"]:
        if q in res["errors"]:
            failures[q] = res["errors"][q]
            continue
        ok, n = oracle.check(con, res["oracle"][q], f"{work}/results/{q}")
        rows[q] = n
        if not ok:
            failures[q] = "result digest differs from the DuckDB oracle"
    return failures, rows


def check_live(res, gen_args):
    from graftbench.livegen import Schedule
    sched = Schedule(*gen_args)
    want_ids, want_dups = sched.expected(res["frontier"])
    got = res["emitted_ids"]
    failures = {}
    if len(got) != len(set(got)):
        failures["duplicates_emitted"] = f"{len(got) - len(set(got))} ids emitted twice"
    if set(got) != want_ids:
        failures["ids"] = (f"emitted {len(set(got))} distinct ids, generated "
                           f"{len(want_ids)} up to the committed frontier")
    if res["dedup_dropped_rows"] != want_dups:
        failures["dedup"] = (f"dropped {res['dedup_dropped_rows']} duplicates, "
                             f"planted {want_dups}")
    if res["rows_dropped_by_watermark"]:
        failures["watermark"] = f"{res['rows_dropped_by_watermark']} rows dropped as late"
    return failures, want_dups


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return stats.percentile(xs, 50) if xs else default


def mix_layers(res, rows):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    m = {}
    per_pass = lambda key: med([sum(q[key] for q in p["queries"].values())
                                for p in traced])
    m["spark.plan_s"] = per_pass("plan_s")
    m["spark.task_idle_s"] = per_pass("idle_s")
    m["spark.jobs"] = per_pass("jobs")
    m["spark.stages"] = per_pass("stages")
    m["spark.task_s"] = per_pass("task_s")
    m["spark.shuffle_write_bytes"] = per_pass("shuffle_write_bytes")
    m["spark.spill_bytes"] = per_pass("spill_bytes")
    m["spark.gc_s"] = med([p["gc_s"] for p in traced])
    for q in res["workload_queries"]:
        for k in metrics.QUERY_METRICS:
            m[f"operators.{q}.{k}"] = med([p["queries"][q][k] for p in traced])
        if q in metrics.JOIN_YIELD:
            cand = res["setup_max_join_rows"][q]
            m[f"operators.{q}.join_yield"] = rows.get(q, 0) / cand if cand else 0.0
    if "q19_asof_join" in res["workload_queries"]:
        m["plans.asof_matched_rows"] = med(
            [p["queries"]["q19_asof_join"]["asof_matched_rows"] for p in traced])
    for k, v in res["kernels"].items():
        m[f"functions.{k}"] = v
    m["tracing.overhead_ms"] = 1000 * (med([p["wall_s"] for p in traced])
                                       - med([p["wall_s"] for p in plain]))
    return m


def live_layers(res, gen):
    trig = [t for t in res["triggers"] if t["traced"]]
    dur = lambda k: med([t["durations_ms"].get(k) for t in trig])
    m = {
        "replay.latest_offset_ms": dur("latestOffset"),
        "replay.get_batch_ms": dur("getBatch"),
        "replay.add_batch_ms": dur("addBatch"),
        "spark.stream.wal_commit_ms": dur("walCommit"),
        "spark.stream.commit_offsets_ms": dur("commitOffsets"),
        "spark.stream.query_planning_ms": dur("queryPlanning"),
        "streaming.state_rows_total": med([t["state_rows_total"] for t in trig]),
        "streaming.state_commit_ms": med([t["state_commit_ms"] for t in trig]),
        "streaming.state_memory_bytes": med([t["state_memory_bytes"] for t in trig]),
        "streaming.dedup_dropped_rows": res["dedup_dropped_rows"],
        "streaming.rows_dropped_by_watermark": res["rows_dropped_by_watermark"],
        "streaming.lag_records_max": max([t["lag_records"] or 0 for t in trig] or [0]),
        "streaming.lag_records_p50": med([t["lag_records"] for t in trig]),
        "spark.gc_s": res["gc_s"],
    }
    rows = sum(t["rows"] for t in trig)
    m["replay.task_s_per_mrec"] = (res["traced_task_s"] / rows * 1e6) if rows else 0.0
    lo, hi = res["traced_from_us"], res["window_end_us"]
    pages = [(a, b) for a, b in gen["pages"] if lo <= a < hi]
    m["replay.dataplane_pages"] = len(pages)
    m["replay.dataplane_page_ms_p50"] = med([(b - a) / 1000 for a, b in pages])
    m["replay.controlplane_polls"] = len([a for a, _ in gen["polls"] if lo <= a < hi])
    serve = [(b - a) / 1000 for a, b in gen["pages"] + gen["polls"] if lo <= a < hi]
    m["live.generator_serve_ms_p99"] = stats.percentile(serve, 99) if serve else 0.0
    m["tracing.overhead_ms"] = (med(res["traced_latencies_ms"])
                                - med(res["latencies_ms"]))
    return m


def nest_in_triggers(spans, pages):
    """Live-tail spans under the trigger that caused them: the generator's
    page spans and the job spans (the stream's one job group covers every
    trigger) go under the trigger phase, or else the trigger, whose
    interval contains their start, and every span takes its parent's
    trace."""
    spans = spans + [{"id": -(n + 1), "parent": 0, "trace": "generator",
                      "layer": "generator", "name": "page",
                      "start_us": a, "end_us": b}
                     for n, (a, b) in enumerate(pages)]
    def containing(layer):
        hosts = sorted((s for s in spans if s["layer"] == layer),
                       key=lambda s: s["start_us"])
        starts = [h["start_us"] for h in hosts]

        def find(t):
            i = bisect.bisect_right(starts, t) - 1
            return hosts[i] if i >= 0 and t <= hosts[i]["end_us"] else None
        return find
    phase, trigger = containing("stream.phase"), containing("stream.trigger")
    for s in spans:
        if s["layer"] in ("spark.job", "generator"):
            host = phase(s["start_us"]) or trigger(s["start_us"])
            if host:
                s["parent"] = host["id"]
    by_id = {s["id"]: s for s in spans}
    for s in sorted(spans, key=lambda s: s["start_us"]):
        if s["parent"] in by_id:
            s["trace"] = by_id[s["parent"]]["trace"]
    return [s for s in spans if s["layer"] != "generator" or s["parent"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_before, cpu_before = loadavg(), cpu_times()
    classpath = build()
    t_start = time.time()  # set-up time starts once the build is in place

    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ["--workload", a.workload, "--out", work, "--seconds", a.seconds,
                "--seed", a.seed, "--trace", a.trace]
    gen = None
    try:
        if a.workload == "live_tail":
            gen = Generator(work, a.seed, metrics.LIVE_RATE)
            jvm_args += ["--live", gen.url]
        else:
            from graftbench import fixtures
            data = os.path.join(work, "fixtures")
            fixtures.write(a.seed, metrics.SCALE, data)
            jvm_args += ["--data", data]
        res = run_jvm(classpath, work, jvm_args)
    finally:
        gen_log = gen.stop() if gen else None

    if a.workload == "live_tail":
        failures, planted = check_live(res, gen.args)
        attempted = len(res["triggers"]) or 1
        samples = res["latencies_ms"]
        rows = {}
    else:
        failures, rows = check_mix(res, data, work)
        plain = [p for p in res["passes"] if not p["traced"]]
        attempted = len(res["workload_queries"]) * (1 + len(res["passes"]))
        samples = [1000 * p["wall_s"] for p in plain]
    failed = len(failures)
    setup_s = res["warm_end_us"] / 1e6 - t_start
    load_after, cpu_after = loadavg(), cpu_times()
    busy = cpu_after[0] - cpu_before[0]
    steal = (cpu_after[1] - cpu_before[1]) / busy if busy else 0.0

    log(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"nproc={res['nproc']} spark={res['spark_version']} jdk={res['jdk_version']} "
        f"loadavg_before={load_before} loadavg_after={load_after} "
        f"cpu_steal={steal:.3f}")
    for name, why in failures.items():
        log(f"WRONG {name}: {why}")
    tail = stats.tail_percentile(len(samples))
    log(f"operations attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted:.4f}")
    log(f"latency samples={len(samples)}; highest percentile with >=10 samples "
        f"beyond it: {'p%g' % tail if tail else 'none'}")
    e2e = {
        "setup_s": setup_s,
        "latency_ms_p50": stats.percentile(samples, 50),
        "latency_ms_p99": stats.percentile(samples, 99),
        "heap_live_mb": res["heap_live_mb"],
    }
    if a.workload == "live_tail":
        log(f"rate={metrics.LIVE_RATE:g} rec/s, trigger={res['trigger_ms']} ms, "
            f"committed frontier={res['frontier']}, planted duplicates={planted}")
    else:
        log(f"mix_s={e2e['latency_ms_p50'] / 1000:.4f} s (median of {len(samples)} passes)")

    if a.trace:
        spans = []
        sp = os.path.join(work, "spans.jsonl")
        if os.path.exists(sp):
            with open(sp) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            # the set-up pass is traced only for its join counts
            spans = [s for s in spans if not s["trace"].startswith("setup:")]
        layers = {k: 0.0 for k in metrics.per_layer()}
        if a.workload == "live_tail":
            layers.update(live_layers(res, gen_log))
            spans = nest_in_triggers(spans, gen_log["pages"])
        else:
            layers.update(mix_layers(res, rows))
        for layer, s in stats.self_times(spans).items():
            layers[f"self_s.{layer}"] = s
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        for layer in metrics.SPAN_LAYERS:
            log(f"self time {layer:15s} {layers['self_s.' + layer]:.6f} s per trace")
        log(f"tracing overhead {layers['tracing.overhead_ms']:.3f} ms "
            "(traced minus untraced median)")
        units = metrics.per_layer()
        shown = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        shown = {k: {"value": float(v), "unit": metrics.END_TO_END[k]}
                 for k, v in e2e.items()}
    for k, v in shown.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
