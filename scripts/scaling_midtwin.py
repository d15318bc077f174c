"""Mid-twin top-up for the overhead model (VERDICT r5 #8).

The tiny-twin model assumes t(1%) ~= o (fixed overhead), which broke for
the compute scenario at [4,8]: a 4-executor session's 1%-input reading is
dominated by spin-up + scheduling noise of the same magnitude as its mean
(r5 recorded a 30.2 s outlier as 'overhead'; r6a read 10.9 s vs 3.1 s at
[1,8]). This script adds a 10% twin per (mode, master) so the fixed
overhead can be solved by least squares over THREE input fractions
  t(f) = o + f * W       for f in {0.01, 0.10, 1.00}
instead of assumed from the noisiest point alone. scripts/fit_overhead.py
does the fit over the pooled medians and reports the residual, so the
corrected efficiency is quotable with its model error.

Usage: python scripts/scaling_midtwin.py [n_rows] [exec_mem_mb]
Writes BENCH/scaling_midtwin.json (same shape as the main artifact's
results blocks, input = n_rows/10).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scaling_bench import generate, measure  # noqa: E402


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000_000
    exec_mem_mb = int(sys.argv[2]) if len(sys.argv) > 2 else 16384
    n_mid = n_rows // 10
    t0 = time.time()
    mid_path = generate(n_mid)
    print(f"mid twin ready in {time.time()-t0:.0f}s: {mid_path}",
          file=sys.stderr)

    extra = {
        "spark.executor.memory": f"{exec_mem_mb - 2048}m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.executorEnv.PYTHONPATH": REPO,
    }
    extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(extra)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

    masters = [
        (f"local-cluster[1,8,{exec_mem_mb}]", 8),
        (f"local-cluster[4,8,{exec_mem_mb}]", 32),
    ]
    payload = {"n_rows_full": n_rows, "n_rows_mid": n_mid,
               "fraction": n_mid / n_rows, "exec_mem_mb": exec_mem_mb,
               "timing_protocol": "noop-sink",
               "isolation": "executor-per-JVM (local-cluster)",
               "scenarios": {}}
    for mode in ("full_packed", "compute"):
        results = {}
        for master, ncpus in masters:
            r = measure(master, ncpus, mid_path, mode=mode, n_runs=8)
            med = statistics.median(x["sec"] for x in r["runs"])
            results[master] = {"median_sec": med, "runs": r["runs"]}
            print(mode, master, "mid median", med, file=sys.stderr, flush=True)
        payload["scenarios"][mode] = {"results": results}
        with open(os.path.join(REPO, "BENCH", "scaling_midtwin.json"), "w") as f:
            json.dump(payload, f, indent=2)
    print(json.dumps({m: {k: v["median_sec"] for k, v in
                          s["results"].items()}
                      for m, s in payload["scenarios"].items()}))


if __name__ == "__main__":
    main()
