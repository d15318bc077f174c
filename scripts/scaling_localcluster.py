"""N vs 4N scaling with executor-PER-JVM isolation (round-5 experiment).

Round 4 measured the single-JVM local[32] blocker quantitatively: GC was
65-100% of wall-clock at 24g (old-gen fragmentation from the ~80M-group
hash agg + 32 Arrow streams sharing ONE heap), vs 8-14% at local[8] — an
artifact a real cluster does not have, because each executor owns its own
heap. Spark's `local-cluster[N, cores, mem]` test master reproduces the
real cluster's per-executor memory regime on this box: N separate executor
JVMs, each with its own heap, GC, and Python worker pool, scheduled over
the same physical cores.

Protocol (same as scripts/scaling_bench.py otherwise):
  - local-cluster[1,8,<mem>] vs local-cluster[4,8,<mem>]: same per-executor
    shape (8 cores, one heap), 1 vs 4 executors == 8 vs 32 total cores.
  - taskset-pins the whole process tree to the matching core count (the
    1-executor run must not borrow the other 24 cores via Python workers).
  - noop-sink timing (materializes every output column), fresh JVMs per
    master, adaptive warmup dropping, median of the settled runs.
  - tiny twin (1% rows) solves per-master fixed overhead o from
    t = o + W; corrected efficiency = (W_8 / W_32) / 4 is quoted ALONGSIDE
    raw, never instead of it.

Interpretation rule stated up front: if the per-executor-JVM efficiency
reads materially above the single-JVM pooled figure, the single-JVM GC
coupling owns the gap (environmental); if it does not, the plan owns it.

Usage: python scripts/scaling_localcluster.py [n_rows] [exec_mem_mb]
Writes BENCH/scaling_localcluster.json; BENCH/BASELINE.md gets the prose.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scaling_bench import generate, measure  # noqa: E402  (same protocol)


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000_000
    exec_mem_mb = int(sys.argv[2]) if len(sys.argv) > 2 else 16384
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    t0 = time.time()
    path = generate(n_rows)
    n_tiny = max(n_rows // 100, 100_000)
    tiny_path = generate(n_tiny)
    print(f"data ready in {time.time()-t0:.0f}s: {path}", file=sys.stderr)

    # per-executor knobs ride SPARK_GRAFT_EXTRA_CONF into scaling_run.py's
    # get_spark: executor heap below the worker grant; the driver holds no
    # task state in this mode, so it stays at the default 8g (override via
    # SPARK_GRAFT_DRIVER_MEM); 64k-row Arrow batches (round-4 tuned value
    # for the fused numpy encoders).
    extra = {
        "spark.executor.memory": f"{exec_mem_mb - 2048}m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # executors are separate JVMs spawning their own Python workers,
        # which do not see the driver's sys.path — the cluster-mode analog
        # of spark-submit --py-files (the e2e test ships a zip; a fixed
        # path is enough for the bench)
        "spark.executorEnv.PYTHONPATH": REPO,
    }
    extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    env_extra = json.dumps(extra)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = env_extra
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

    masters = [
        (f"local-cluster[1,8,{exec_mem_mb}]", 8),
        (f"local-cluster[4,8,{exec_mem_mb}]", 32),
    ]
    payload = {"n_rows": n_rows, "n_tiny": n_tiny, "scenarios": {},
               "timing_protocol": "noop-sink",
               "isolation": "executor-per-JVM (local-cluster)",
               "exec_mem_mb": exec_mem_mb,
               "extra_conf": env_extra,
               "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}
    only = set(filter(None, os.environ.get("SPARK_GRAFT_MODES", "").split(",")))
    for mode, desc in (
        ("full_packed", "FLAGSHIP: assign + PIP mask + filters + fused "
                        "H3/S2 encode + packed phash dedup"),
        ("compute", "same minus high-cardinality dedup (per-tile stats agg)"),
    ):
        if only and mode not in only:
            continue
        results = {}
        for master, ncpus in masters:
            # n_runs=8 with the adaptive >=2-run warmup drop keeps >=6
            # settled measurements per point (round-6 evidence bar)
            r = measure(master, ncpus, path, mode=mode, n_runs=8)
            med = statistics.median(x["sec"] for x in r["runs"])
            # 6 tiny runs: the round-5 compute twin kept only 2 readings and
            # recorded a 30.2 s warmup outlier as 'fixed overhead' — the
            # documented tiny-twin model failure; more runs let the adaptive
            # drop actually settle
            rt = measure(master, ncpus, tiny_path, n_runs=6, mode=mode)
            med_t = statistics.median(x["sec"] for x in rt["runs"])
            frac = n_tiny / n_rows
            work = max((med - med_t) / (1.0 - frac), 1e-9)
            results[master] = {
                "median_sec": med,
                "tiny_median_sec": med_t,
                "fixed_overhead_sec": round(max(med - work, 0.0), 3),
                "work_sec": round(work, 3),
                "rows_per_sec": round(n_rows / med, 1),
                "runs": r["runs"],
            }
            print(mode, master, results[master], file=sys.stderr, flush=True)
        m8, m32 = masters[0][0], masters[1][0]
        eff = results[m32]["rows_per_sec"] / results[m8]["rows_per_sec"] / 4.0
        eff_corr = (results[m8]["work_sec"] / results[m32]["work_sec"]) / 4.0
        payload["scenarios"][mode] = {
            "pipeline": desc,
            "results": results,
            "scaling_efficiency_8_to_32": round(eff, 3),
            "scaling_efficiency_overhead_corrected": round(eff_corr, 3),
        }
        with open(os.path.join(REPO, "BENCH", "scaling_localcluster.json"), "w") as f:
            json.dump(payload, f, indent=2)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
