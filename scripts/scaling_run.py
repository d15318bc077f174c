"""One scaling measurement in a fresh JVM: flagship pipeline at a given master.

Usage: python scripts/scaling_run.py <master> <points_parquet> [n_runs]
Prints one JSON line {"master":..., "runs":[{"sec":..., "rows_in":..., "rows_out":...,
"shuffle_write_mb":..., "gc_ms":...}]}.

Env knobs:
  SPARK_GRAFT_EXTRA_CONF  JSON dict of extra Spark confs (tuning experiments)
  SPARK_GRAFT_METRICS=0   disable the UI/REST metrics collection
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _metrics(ui_url: str | None) -> tuple[int, int]:
    """(total shuffle write bytes, total GC ms) from the live-UI REST API."""
    if not ui_url:
        return 0, 0
    try:
        with urllib.request.urlopen(f"{ui_url}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(
                f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=5) as r:
            stages = json.load(r)
        sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        gc = sum(s.get("jvmGcTime", 0) for s in stages)
        return sw, gc
    except Exception:
        return 0, 0


def main():
    master, path = sys.argv[1], sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    mode = sys.argv[4] if len(sys.argv) > 4 else "full"

    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import dedup as D
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.session import get_spark
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    extra = dict(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    with_metrics = os.environ.get("SPARK_GRAFT_METRICS", "1") != "0"
    if with_metrics:
        extra.setdefault("spark.ui.enabled", "true")
        extra.setdefault("spark.ui.port", "4050")
    spark = get_spark(master=master, app_name=f"scaling-{master}", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl if with_metrics else None

    pts = spark.read.parquet(path)
    rows_in = pts.count()  # warm the page cache; not measured

    program = FL.FilterProgram.from_geojson(default_filter_geojson())
    runs = []
    for _ in range(n_runs):
        sw0, gc0 = _metrics(ui_url)
        t0 = time.time()
        # best-throughput mix (measured, BENCH/BASELINE.md): native codegen
        # PIP mask with the materialize barrier (stops Catalyst inlining the
        # polygon math into every filter/lambda reference — 4x) + the fused
        # pandas-UDF cell encoder.
        masked = pts.withColumn(
            "filter_mask", FL.filter_mask_native(program, F.col("lon"), F.col("lat")))
        surv = FL.apply_feature_filter(masked, program)
        surv = FL.apply_tag_filter(surv, program)
        assigned = tiling.assign_tiles(surv, z=10, with_local=False)
        # north-star operator set: batched H3 + S2 cell encoding per row,
        # via ONE fused UDF — one shared lon/lat->xyz pass, one Arrow round
        # trip for both cells (the measured winner, BENCH/BASELINE.md)
        from mvt_wrangler_spark.functions import cells as C

        assigned = C.with_cells(assigned, level=12, res=7,
                                lat="lat", lng="lon")
        # Materialize ALL output columns (noop sink): a count() action lets
        # Catalyst prune the keeper/payload aggregates AND the H3/S2 encodes
        # feeding them (verified: the optimized count plan is a bare distinct
        # on the packed key) — rounds 1-3 under-measured; see BASELINE.md
        # "timing protocol v2".
        if mode == "full_packed":
            # FLAGSHIP dedup shape (adopted round 3 — the library operator,
            # not inline code): same work as "full" but with the shuffle rows
            # packed narrow — 4-col group key folded into ONE long, numeric
            # keeper (image_id's fixed-width suffix: numeric min == string
            # min), consume-everything aggregates folded into one bounded
            # payload sum. High-cardinality agg cost is memory-bus-bound
            # (BENCH/BASELINE.md), so bytes-per-shuffle-row is the lever.
            payload = (F.size("tags") + F.pmod(F.col("h3_cell"), F.lit(65536))
                       + F.pmod(F.col("s2_cell"), F.lit(65536)))
            out = D.phash_dedup_packed(
                assigned, z=10,
                order_num=F.substring("image_id", 4, 12).cast("long"),
                extra_aggs={"pl": F.sum(payload)})
            out.write.format("noop").mode("overwrite").save()
        elif mode == "full":
            # agg-based dedup: map-side combine, narrow shuffle rows; the
            # sum(size(tags)) agg consumes the tag filter's output so Catalyst
            # can't prune the map_filter away (same for the cell columns).
            out = D.phash_dedup_agg(
                assigned, keys=("z", "x", "y", "phash"), order_col="image_id",
                extra_aggs={"tag_n": F.sum(F.size("tags")),
                            "h3_n": F.max("h3_cell"), "s2_n": F.max("s2_cell")},
            )
            out.write.format("noop").mode("overwrite").save()
        else:
            # compute scenario: same scan/UDF/filter/encode work, but the
            # final agg is low-cardinality (per-tile stats) — isolates engine
            # scaling from the single-VM memory-bus ceiling that a
            # high-cardinality (~1 group/row) dedup agg hits locally.
            out = assigned.groupBy("x", "y").agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.size("tags")).alias("tag_n"),
                F.max("h3_cell").alias("h3_n"), F.max("s2_cell").alias("s2_n"))
            out.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        sw1, gc1 = _metrics(ui_url)
        runs.append({"sec": round(dt, 3), "rows_in": rows_in,
                     "shuffle_write_mb": round((sw1 - sw0) / 1e6, 1),
                     "gc_ms": gc1 - gc0})
    rows_out = out.count()  # untimed sanity count, once
    for r in runs:
        r["rows_out"] = rows_out

    print(json.dumps({"master": master, "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
