"""Which pipeline stage fails to scale? Piecewise timing at a given master.

Usage: taskset -c 0-N python scripts/scaling_profile.py local[N] <points_parquet>
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    master, path = sys.argv[1], sys.argv[2]
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import tiling
    from mvt_wrangler_spark.operators import dedup as D
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.session import get_spark
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    spark = get_spark(master=master, app_name=f"profile-{master}")
    spark.sparkContext.setLogLevel("ERROR")
    pts = spark.read.parquet(path)
    pts.count()  # warm cache

    program = FL.FilterProgram.from_geojson(default_filter_geojson())
    out = {}

    def timed(name, df, warm=1):
        for _ in range(warm):
            df.count()
        t0 = time.time()
        df.count()
        out[name] = round(time.time() - t0, 2)

    timed("scan_only", pts.select(F.sum(F.length("image_id"))).groupBy().count().sparkSession.range(1))
    t0 = time.time(); pts.count(); out["scan_count"] = round(time.time() - t0, 2)

    masked = pts.withColumn("filter_mask",
                            FL.filter_mask_column(spark, program, F.col("lon"), F.col("lat")))
    timed("mask_udf", masked.select(F.sum("filter_mask")))

    ff = FL.apply_feature_filter(masked, program)
    timed("plus_feature_filter", ff.select(F.sum("filter_mask")))

    tf = FL.apply_tag_filter(ff, program)
    timed("plus_tag_filter", tf.select(F.sum(F.size("tags"))))

    assigned = tiling.assign_tiles(tf, z=10, with_local=False)
    timed("plus_assign", assigned.select(F.sum("x")))

    ded = D.phash_dedup_agg(assigned, extra_aggs={"tag_n": F.sum(F.size("tags"))})
    timed("plus_dedup_agg", ded, warm=1)

    print(json.dumps({"master": master, "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
