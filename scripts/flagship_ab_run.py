"""One flagship session for the r4-vs-r6 same-day A/B (VERDICT r5 #4).

Runs ONE fresh JVM: imports the flagship from the repo checkout given in
argv[1] (either this repository at HEAD or a git worktree pinned at the round-4
boundary commit), overrides the Arrow batch size to argv[2], and times the
checkout's own q_pipeline_e2e with the bench protocol both rounds share
(warm scan, 1 discarded JIT warmup, noop-sink runs). Prints one JSON line
with the median and ALL raw run times.

Driven interleaved (ABBA) by scripts/flagship_ab.py so box drift hits every
cell equally — the property the round-5 sweep lacked.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    repo, batch = sys.argv[1], sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, repo)

    from mvt_wrangler_spark.session import get_spark  # noqa: E402

    import bench  # noqa: E402  (the checkout's own _force / entry)
    import __spark_entry__ as e  # noqa: E402

    from mvt_wrangler_spark.sources.points import synth_points  # noqa: E402

    for mod in (bench, e):
        assert mod.__file__.startswith(repo), mod.__file__
    spark = get_spark(
        app_name=f"flagship-ab-{os.path.basename(repo)}-{batch}",
        extra={"spark.sql.execution.arrow.maxRecordsPerBatch": batch},
    )
    spark.sparkContext.setLogLevel("ERROR")
    got = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == batch, got

    n_in = synth_points(spark, sf_dir).count()  # warm scan, not measured
    bench._force(e.q_pipeline_e2e(spark, sf_dir))  # JIT warmup, discarded
    times = []
    for _ in range(n_runs):
        t0 = time.time()
        bench._force(e.q_pipeline_e2e(spark, sf_dir))
        times.append(round(time.time() - t0, 3))
    dt = sorted(times)[len(times) // 2]
    spark.stop()
    print(json.dumps({
        "repo": repo,
        "arrow_batch": int(batch),
        "median_sec": dt,
        "runs_sec": times,
        "rows_per_sec": round(n_in / dt, 1),
        "n_in": n_in,
    }))


if __name__ == "__main__":
    main()
