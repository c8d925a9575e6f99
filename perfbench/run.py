"""fastlink_spark benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload dedupe_pages --seed 1 --seconds 5 --trace 0

Phases:

1. set-up: start a ``local[nproc]`` Spark session sized for the box,
   generate the seeded inputs (three times; the median counts), and
   run the workload's full-size warm-up calls (two or three), which
   are checked and discarded;
2. measure: repeat the timed linkage call until ``--seconds`` have
   passed (at least once, three times when traced), checking every
   output;
3. report: the last stdout line is ``{"correct", "attempted", "failed",
   "metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
   of BENCHMARK.json; with ``--trace 1`` timed calls alternate between
   untraced and traced, the metrics are the per-layer ones, and the
   spans go to ``perfbench/out/``.

The line before the result holds the run's details (session settings,
each call's wall time and F1, any check failures). Everything the run
writes stays under ``perfbench/`` in the checkout, and every process it
starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
GEN_REPEATS = 3
# One timed call per untraced run, after the workload's warm-up calls.
# Calls in one run agree within a few per cent; across runs the spread
# is set by the machine's speed drifting over minutes, which a second
# call in the same run does not average out, and the run budget (about
# 60 s a run) has no room for it.
# Traced runs bracket the traced call with untraced ones (U T U), so
# that the warm-up still fading out of the first call does not bias
# the tracing overhead.
MIN_CALLS = {0: 1, 1: 3}

END_TO_END_UNITS = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "f1": "ratio",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "normalize.s": "s",
    "normalize.block_keys": "count",
    "pairs.s": "s",
    "pairs.candidates": "count",
    "pairs.part_skew": "ratio",
    "pairs.match_ratio": "ratio",
    "gammas.s": "s",
    "gammas.pairs_per_s": "pairs/s",
    "gammas.patterns": "count",
    "em.s": "s",
    "em.iterations": "count",
    "match.s": "s",
    "match.pairs": "count",
    "cluster.s": "s",
    "cluster.rounds": "count",
    "cluster.components": "count",
    "dedupe_matches.s": "s",
    "dedupe_matches.kept": "count",
    **{
        f"checkpoint.{st}.{k}": u
        for st in ("records", "candidate_pairs", "pairs_gamma", "matched_pairs", "clusters")
        for k, u in (("rows", "count"), ("bytes", "bytes"))
    },
    "pipeline.self_s": "s",
    "trace.overhead_s": "s",
}


def session_settings(workdir: str) -> dict:
    """local[nproc] from this one process, shuffle partitions 2 x nproc,
    and a driver heap of a quarter of RAM capped at 2 GB (the session
    default of 24g exceeds small boxes). The heap is committed at start
    (-Xms = -Xmx), so its resident size does not hinge on when the
    collector decides to grow it."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = int(max(1, min(2, ram_gb // 4)))
    tmp = os.path.join(workdir, "tmp")
    return {
        "master": f"local[{nproc}]",
        "shuffle_partitions": 2 * nproc,
        "conf": {
            "spark.driver.memory": f"{heap_gb}g",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
        "nproc": nproc,
        "ram_gb": round(ram_gb, 1),
    }


def start_session(settings: dict, workdir: str):
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # the JVM, its Python workers and tempfile all inherit these
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = settings["conf"]["spark.local.dir"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from fastlink_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=settings["conf"],
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in: the gateway JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_call(work, spark, workdir: str, i: int):
    """One linkage call plus its checks -> (wall_s or None, f1, problems, out)."""
    t0 = time.perf_counter()
    try:
        out = work.call(spark, workdir, i)
    except Exception:
        traceback.print_exc()
        return None, None, ["call raised: see stderr"], None
    wall = time.perf_counter() - t0
    try:
        f1, problems = work.check(out)
    except Exception:
        traceback.print_exc()
        f1, problems = None, ["check raised: see stderr"]
    return wall, f1, problems, out


def layer_metrics(work, spark, tracer, trace_id: int, out: dict) -> dict:
    spans = tracer.trace_spans(trace_id)
    self_s = tracer.self_times(trace_id)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for layer in ("normalize", "pairs", "gammas", "em", "match", "cluster", "dedupe_matches"):
        m[f"{layer}.s"] = self_s[layer]
    m["pipeline.self_s"] = self_s["pipeline"]
    m["cluster.rounds"] = sum(
        s["attrs"].get("rounds", 0) for s in spans if s["name"] == "connected_components"
    )
    m.update(work.layer_counts(spark, out, spans))
    if m["gammas.s"] > 0:
        m["gammas.pairs_per_s"] = m["pairs.candidates"] / m["gammas.s"]
    if m["pairs.candidates"] > 0:
        m["pairs.match_ratio"] = m["match.pairs"] / m["pairs.candidates"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fastlink_spark", "__init__.py")):
        print(f"perfbench: no fastlink_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procs, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = workloads.WORKLOADS[args.workload](args.seed, args.scale)

    # on SIGTERM unwind through the finally below, which stops the JVM,
    # reaps the workers and removes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    os.makedirs(workdir)
    rss = procs.PeakRss().start()
    steal0, total0 = procs.cpu_jiffies()
    settings = session_settings(workdir)
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(settings, workdir)
        start_s = time.perf_counter() - t_setup
        gen_s = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            work.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        work.load(spark)
        warm_problems = []
        for w in range(work.warmup_calls):
            _, _, problems, warm_out = timed_call(work, spark, workdir, -w)
            warm_problems += problems
            if warm_out is not None:
                work.cleanup(warm_out)
        setup_s = start_s + statistics.median(gen_s) + (time.perf_counter() - t0)

        tracer = trace.Tracer()
        calls: list[dict] = []
        layer_runs: list[dict] = []
        t_run = time.perf_counter()
        while len(calls) < MIN_CALLS[args.trace] or time.perf_counter() - t_run < args.seconds:
            i = len(calls) + 1
            traced = args.trace == 1 and i % 2 == 0
            if traced:
                tracer.trace_id = i
                with tracer.installed():
                    wall, f1, problems, out = timed_call(work, spark, workdir, i)
            else:
                wall, f1, problems, out = timed_call(work, spark, workdir, i)
            calls.append({"i": i, "traced": traced, "wall_s": wall, "f1": f1, "problems": problems})
            if out is not None:
                if traced:
                    layer_runs.append(layer_metrics(work, spark, tracer, i, out))
                work.cleanup(out)
    finally:
        if spark is not None:
            stop_session(spark)
        procs.reap()
        peak_rss_mb = rss.stop()
        steal1, total1 = procs.cpu_jiffies()
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = len(calls)
    failed = sum(1 for c in calls if c["problems"])
    walls = [c["wall_s"] for c in calls if c["wall_s"] is not None and not c["traced"]]
    f1s = [c["f1"] for c in calls if c["f1"] is not None]
    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "records_per_s": work.records / statistics.median(walls) if walls else 0.0,
            "f1": statistics.median(f1s) if f1s else 0.0,
            "ok_frac": (attempted - failed) / attempted,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END_UNITS
    else:
        values = {
            k: statistics.median(r[k] for r in layer_runs) if layer_runs else 0.0
            for k in PER_LAYER_UNITS
        }
        values["session.start_s"] = start_s
        # the first call still carries warm-up, so it is left out of the
        # untraced side: with U T U the overhead is T minus the last U
        traced_walls = [c["wall_s"] for c in calls if c["traced"] and c["wall_s"] is not None]
        if walls[1:] and traced_walls:
            values["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls[1:])
        units = PER_LAYER_UNITS
        out_dir = os.path.join(BENCH_DIR, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "calls": calls, "metrics": values},
        )

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "records": work.records,
        "settings": {k: v for k, v in settings.items() if k != "conf"}
        | {"driver_memory": settings["conf"]["spark.driver.memory"]},
        "setup": {"start_s": start_s, "gen_s": gen_s, "warmup_problems": warm_problems},
        "calls": calls,
        "peak_rss_mb_by_command": rss.by_command(),
        # hypervisor steal over the run: a slow run with high steal was
        # starved by other guests, not slowed by the program
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
    }
    print(json.dumps({"detail": detail}))
    correct = failed == 0 and not warm_problems and bool(walls)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
