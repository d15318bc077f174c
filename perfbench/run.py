"""mvt_wrangler_spark benchmark: two workloads, end-to-end and per-layer.

  python3 perfbench/run.py --workload tile_job --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke

One run is one process: one JVM at local[4], a closed loop with one client.
It generates the workload's inputs from --seed SETUP_REPEATS times
(reporting the median set-up time), computes the reference outputs once,
runs the workload's warm-up iterations, then iterates for --seconds (and at
least twice), checking every iteration's output against the reference. The
last line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}, where metrics holds every end-to-end metric (--trace 0) or every
per-layer metric (--trace 1).
The traced run adds one traced iteration after the untraced loop; its spans
go to .perfbench_work/results/. --smoke runs every workload at a tiny size
through the same code, traced and untraced, and checks that every metric
named in BENCHMARK.json was emitted and that the spans were written.
See perfbench/README.md for the workloads, metrics and layer mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench_work", "results")
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "rows/cpu_s",
    "followup_cpu_ms": "ms",
}

# <layer>.<function>.<suffix>; a layer a workload does not call reports 0
PER_LAYER = {
    "pipeline.run_pipeline.call_s": "s",
    "pipeline.run_pipeline.jobs": "count",
    "pipeline.run_pipeline.input_bytes": "B",
    "catalog.read_current.exec_s": "s",
    "catalog.read_current.input_bytes": "B",
    "catalog.write_snapshot.call_s": "s",
    "catalog.write_snapshot.jobs": "count",
    "catalog.write_snapshot.task_s": "s",
    "catalog.write_snapshot.input_bytes": "B",
    "catalog.write_snapshot.shuffle_bytes": "B",
    "catalog.write_snapshot.spill_bytes": "B",
    "catalog.write_snapshot.out_bytes": "B",
    "catalog.write_snapshot.stored_ratio": "ratio",
    "tiling.assign_tiles.call_s": "s",
    "tiling.assign_tiles.exec_s": "s",
    "cells.with_cells.exec_s": "s",
    "cells.with_cells.task_s": "s",
    "filters.filter_mask_native.exec_s": "s",
    "filters.apply_feature_filter.exec_s": "s",
    "filters.apply_feature_filter.rows_out": "rows",
    "filters.apply_tag_filter.exec_s": "s",
    "filters.apply_tag_filter.task_s": "s",
    "filters.yield": "ratio",
    "dedup.phash_dedup.exec_s": "s",
    "dedup.phash_dedup.task_s": "s",
    "dedup.phash_dedup.shuffle_bytes": "B",
    "dedup.phash_dedup.spill_bytes": "B",
    "dedup.phash_dedup.rows_out": "rows",
    "dedup.yield": "ratio",
    "rollup.tile_stats.exec_s": "s",
    "rollup.tile_stats.shuffle_bytes": "B",
    "rollup.tile_stats.rows_out": "rows",
    "rollup.pyramid_rollup.call_s": "s",
    "rollup.pyramid_rollup.jobs": "count",
    "rollup.pyramid_rollup.exec_s": "s",
    "tile_encode.decode_tiles.exec_s": "s",
    "tile_encode.decode_tiles.task_s": "s",
    "tile_encode.decode_tiles.rows_out": "rows",
    "tile_encode.encode_tiles.exec_s": "s",
    "tile_encode.encode_tiles.task_s": "s",
    "tile_encode.encode_tiles.shuffle_bytes": "B",
    "tile_encode.encode_tiles.rows_out": "rows",
    "pmtiles.read_pmtiles.call_s": "s",
    "pmtiles.read_pmtiles.exec_s": "s",
    "pmtiles.read_pmtiles.rows_out": "rows",
    "pmtiles.write_pmtiles.call_s": "s",
    "pmtiles.write_pmtiles.jobs": "count",
    "pmtiles.write_pmtiles.task_s": "s",
    "pmtiles.write_pmtiles.input_bytes": "B",
    "pmtiles.write_pmtiles.out_bytes": "B",
    "pmtiles.write_pmtiles.stored_ratio": "ratio",
    "pmtiles.get_tile.p50_us": "us",
    "pmtiles.get_tile.p99_us": "us",
    "joins.broadcast_pip_join.call_s": "s",
    "joins.broadcast_pip_join.exec_s": "s",
    "joins.broadcast_pip_join.task_s": "s",
    "joins.broadcast_pip_join.rows_out": "rows",
    "joins.partitioned_pip_join.call_s": "s",
    "joins.partitioned_pip_join.jobs": "count",
    "joins.partitioned_pip_join.exec_s": "s",
    "joins.partitioned_pip_join.task_s": "s",
    "joins.partitioned_pip_join.shuffle_bytes": "B",
    "joins.partitioned_pip_join.spill_bytes": "B",
    "joins.partitioned_pip_join.rows_out": "rows",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "pyworkers.peak_rss_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def e2e_metrics(wl, loop, setup_times) -> dict:
    from harness import describe, log

    def timing(key):
        return describe([r["timings"][key] for r in loop.samples])

    main, main_cpu = timing("main_s"), timing("main_cpu_s")
    follow, follow_cpu = timing("followup_s"), timing("followup_cpu_s")
    rows = wl.p["rows"]
    values = {
        "setup_s": statistics.median(setup_times),
        "rows_per_cpu_s": rows / main_cpu["median"],
        "followup_cpu_ms": 1000.0 * follow_cpu["median"],
    }
    notes = {
        "setup_s": f"median of {len(setup_times)} input generations",
        "rows_per_cpu_s": f"{rows} input rows / median CPU time of the main step "
                          f"over {main_cpu['n']} iterations",
        "followup_cpu_ms": f"median CPU time of the {wl.followup} over "
                           f"{follow_cpu['n']} iterations",
    }
    for d, name in ((main, "main step"), (main_cpu, "main step CPU"),
                    (follow, "follow-up step"), (follow_cpu, "follow-up step CPU")):
        if d["tail"]:
            log(f"{wl.name} {name} p{d['tail'][0]:g}: {d['tail'][1]:.4f} s")
    # wall-clock figures: printed and recorded, not gated (see README.md)
    print(f"{wl.name} wall rows_per_s = {rows / main['median']:.6g} rows/s "
          f"(median main step of {main['n']} iterations)", flush=True)
    print(f"{wl.name} wall followup_ms = {1000.0 * follow['median']:.6g} ms "
          f"(median {wl.followup} of {follow['n']} iterations)", flush=True)
    if "lookup_s" in loop.samples[0]:
        lk = describe([x for r in loop.samples for x in r["lookup_s"]])
        tail = f", p{lk['tail'][0]:g} {lk['tail'][1] * 1e6:.2f} us" if lk["tail"] else ""
        print(f"{wl.name} lookup latency over all lookups: p50 "
              f"{lk['median'] * 1e6:.2f} us{tail} (n={lk['n']})", flush=True)
    for name, unit in END_TO_END.items():
        print(f"{wl.name} {name} = {values[name]:.6g} {unit} ({notes[name]})", flush=True)
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def layer_metrics(wl, tracer, rec, gc_s, overhead_s, rss_parts) -> dict:
    from harness import describe, quantile

    tot = tracer.totals()

    def get(span, key):
        return float(tot.get(span, {}).get(key, 0.0))

    def ratio(span):
        rows_in = get(span, "rows_in")
        return get(span, "rows_out") / rows_in if rows_in else 0.0

    lookups = tot.get("pmtiles.get_tile", {}).get("durations", [])
    lk = describe(lookups) if lookups else None
    special = {
        "filters.yield": ratio("filters.apply_feature_filter"),
        "dedup.yield": ratio("dedup.phash_dedup"),
        "pmtiles.get_tile.p50_us": lk["median"] * 1e6 if lk else 0.0,
        "pmtiles.get_tile.p99_us": quantile(sorted(lookups), 99.0) * 1e6 if lk else 0.0,
        "jvm.gc_s": gc_s,
        "jvm.peak_rss_mb": rss_parts["jvm"] / 1e6,
        "pyworkers.peak_rss_mb": rss_parts["workers"] / 1e6,
        "driver.peak_rss_mb": rss_parts["driver"] / 1e6,
        "trace.overhead_s": overhead_s,
        "catalog.write_snapshot.stored_ratio": 0.0,
        "pmtiles.write_pmtiles.stored_ratio": 0.0,
    }
    special[wl.stored_ratio] = rec["stored_ratio"]
    out = {}
    for name, unit in PER_LAYER.items():
        if name in special:
            v = special[name]
        else:
            span, key = name.rsplit(".", 1)
            v = get(span, key)
        out[name] = {"value": v, "unit": unit}
        print(f"{wl.name} {name} = {v:.6g} {unit}", flush=True)
    return out


def run(spark, name: str, seed: int, seconds: float, trace: bool, size: str,
        work: str, warmup: int | None = None) -> dict:
    """One workload run on an open session; returns the result object."""
    from harness import Loop, RssSampler, aging, gc_seconds, log, timed_setups
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[name](spark, work, seed, size)
    setup_times = timed_setups(wl, 1 if trace else SETUP_REPEATS)
    t0 = time.perf_counter()
    wl.reference()
    log(f"{name} reference outputs: {time.perf_counter() - t0:.2f} s")
    loop = Loop(wl)
    loop.warm_up(wl.warmup if warmup is None else warmup)
    with RssSampler() as rss:
        loop.run_for(seconds)
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "size": size, "setup_s": setup_times,
              "iterations": [r["timings"] for r in loop.samples],
              "peak_rss_mb": {k: v / 1e6 for k, v in rss.parts.items()}}
    walls = [r["timings"]["main_s"] for r in loop.samples]
    record["aging"] = aging(walls)
    if record["aging"]:
        log(f"{name} WARNING: iteration times rise steadily within one JVM: {walls}")
    log(f"{name} main step per iteration, in order: "
        + ", ".join(f"{t:.3f}" for t in walls))

    if not loop.samples:
        metrics = {}
    elif not trace:
        metrics = e2e_metrics(wl, loop, setup_times)
    else:
        tracer = Tracer(spark, name)
        tracer.instrument(wl.trace_targets())
        gc0 = gc_seconds(spark)
        try:
            rec = loop.one(keep=False, tracer=tracer)
        finally:
            tracer.restore()
        gc_s = gc_seconds(spark) - gc0
        if rec is None:
            metrics = {}
        else:
            def steps(r):
                return r["timings"]["main_s"] + r["timings"]["followup_s"]

            untraced = statistics.median(steps(r) for r in loop.samples)
            overhead = steps(rec) - untraced
            log(f"{name} tracing overhead: traced {steps(rec):.3f} s - "
                f"untraced {untraced:.3f} s = {overhead:.3f} s (timed steps)")
            metrics = layer_metrics(wl, tracer, rec, gc_s, overhead, rss.parts)
            os.makedirs(RESULTS, exist_ok=True)
            spans_path = os.path.join(RESULTS, f"spans-{name}-seed{seed}.jsonl")
            with open(spans_path, "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.record()) + "\n")
            record["spans"] = spans_path
    result = {"correct": loop.failed == 0 and bool(metrics),
              "attempted": loop.attempted, "failed": loop.failed, "metrics": metrics}
    record["result"] = result
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return result


def smoke(spark, work_root: str) -> int:
    """Every workload at the tiny size, untraced then traced; checks metric
    names against BENCHMARK.json and the span records."""
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for name in WORKLOADS:
        walls = {}
        for trace in (False, True):
            work = os.path.join(work_root, f"{name}-trace{int(trace)}")
            t0 = time.perf_counter()
            res = run(spark, name, 1, 1.0, trace, "tiny", work, warmup=1)
            walls[trace] = time.perf_counter() - t0
            overhead = res["metrics"].get("trace.overhead_s", {}).get("value")
            shutil.rmtree(work, ignore_errors=True)
            kind = "per_layer" if trace else "end_to_end"
            want = {m["name"] for m in bench[kind]}
            missing = want - set(res["metrics"])
            if missing:
                problems.append(f"{name} trace={int(trace)} missing {sorted(missing)}")
            if not res["correct"]:
                problems.append(f"{name} trace={int(trace)} incorrect: {res}")
        spans_path = os.path.join(RESULTS, f"spans-{name}-seed1.jsonl")
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f]
        fields = {"name", "start", "end", "parent", "workload", "iteration"}
        if not spans or any(not fields <= s.keys() for s in spans):
            problems.append(f"{name}: spans missing or lacking {sorted(fields)}")
        print(f"smoke {name}: {len(spans)} spans; tracing overhead (traced minus "
              f"untraced timed steps) {overhead:.3f} s; run wall untraced "
              f"{walls[False]:.2f} s, traced {walls[True]:.2f} s", flush=True)
    for p in problems:
        print(f"smoke FAILED: {p}", flush=True)
    print("smoke OK" if not problems else "smoke FAILED", flush=True)
    return 1 if problems else 0


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    for need in ("mvt_wrangler_spark/__init__.py", "tests/oracle/pipeline_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from harness import configure_env, log, start_spark, stop_spark

    tag = "smoke" if args.smoke else f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    configure_env(ROOT, work)
    t0 = time.perf_counter()
    spark = start_spark(work)
    log(f"JVM + session start: {time.perf_counter() - t0:.2f} s")
    try:
        if args.smoke:
            return smoke(spark, work)
        result = run(spark, args.workload, args.seed, args.seconds,
                     bool(args.trace), "full", work)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"shutdown: {time.perf_counter() - t0:.2f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
