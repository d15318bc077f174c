"""Micro-bench: MVT feature DECODE throughput at 1M features (VERDICT r2
item 2: target >=5x over the round-2 read path). Three contenders:

  r2-perrow     the actual round-2 decode_tiles body (per-byte varint walk +
                per-feature Python dict/list building into pandas)
  scalar-flat   today's scalar twin (per-byte walk, flat-column output)
  vectorized    flatten_np (numpy varint parse + pointer-jumped walks +
                flat columns for Arrow-native assembly)
"""

from __future__ import annotations

import gzip
import json
import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mvt_wrangler_spark.functions import mvt, mvt_np  # noqa: E402
from mvt_wrangler_spark.operators.tile_encode import decode_tile_blob  # noqa: E402


def r2_perrow(blobs) -> pd.DataFrame:
    """The round-2 decode_tiles inner loop, verbatim (commit 729cd7a)."""
    cols = ("layer", "feature_id", "tags", "geom_type", "pxs", "pys")
    rows: dict = {k: [] for k in cols}
    for data in blobs:
        doc = decode_tile_blob(bytes(data))
        for ly in doc["layers"]:
            keys, vals = ly["keys"], ly["values"]
            for f in ly["features"]:
                tg = f["tags"]
                rows["layer"].append(ly["name"])
                rows["feature_id"].append(f["id"])
                rows["tags"].append({keys[tg[i]]: str(vals[tg[i + 1]])
                                     for i in range(0, len(tg), 2)})
                rows["geom_type"].append(f["type"])
                rows["pxs"].append([float(v) for v in f["geom"][0::2]])
                rows["pys"].append([float(v) for v in f["geom"][1::2]])
    return pd.DataFrame(rows)


def synth_blobs(n_tiles: int, feats_per_tile: int) -> list[bytes]:
    keys = ["kind", "name", "rank"]
    vals = ["poi", "casa", 1, 2, 3, "x"]
    blobs = []
    for _ in range(n_tiles):
        feats = [
            mvt.encode_feature(i, [0, i % 2, 1, 2 + i % 4, 2, i % 3],
                               mvt.point_geometry(i * 7 % 4096, i * 13 % 4096), 1)
            for i in range(feats_per_tile)
        ]
        blobs.append(gzip.compress(
            mvt.encode_tile([mvt.encode_layer("pois", keys, vals, feats)]),
            6, mtime=0))
    return blobs


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    per_tile = 500
    blobs = synth_blobs(n // per_tile, per_tile)
    # warm the allocator (this box's first-touch page faults are pathological)
    for _ in range(3):
        x = np.ones(50_000_000, np.int64)
        x.sum()
        del x
    out = {"features": n}
    best = float("inf")
    for _ in range(4):
        t0 = time.time()
        flat = mvt_np.flatten_np(blobs)
        best = min(best, time.time() - t0)
    out["vectorized_sec"] = best
    # slow sides measured on 10% and extrapolated
    frac = max(1, len(blobs) // 10)
    mvt_np.flatten_scalar(blobs[:2])
    t0 = time.time()
    mvt_np.flatten_scalar(blobs[:frac])
    out["scalar_flat_sec"] = (time.time() - t0) * (len(blobs) / frac)
    r2_perrow(blobs[:2])
    t0 = time.time()
    r2_perrow(blobs[:frac])
    out["r2_perrow_sec"] = (time.time() - t0) * (len(blobs) / frac)
    out["speedup_vs_r2"] = out["r2_perrow_sec"] / out["vectorized_sec"]
    out["us_per_feature"] = out["vectorized_sec"] / n * 1e6
    print(json.dumps({k: round(v, 3) if isinstance(v, float) else v
                      for k, v in out.items()}))
