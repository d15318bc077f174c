"""Micro-bench: per-tile blob encode throughput, round-1 per-row JSON loop vs
the factorize+MVT encoder (VERDICT r1 item 7: target >=5x at 1M features)."""

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

from mvt_wrangler_spark.operators.tile_encode import _encode_tile_blob  # noqa: E402


def old_encode(pdf: pd.DataFrame) -> bytes:
    """Round-1 implementation (per-row itertuples + dict position lookups)."""
    layers: dict[str, dict] = {}
    for row in pdf.itertuples(index=False):
        layer = layers.setdefault(row.layer, {"keys": [], "values": [], "kidx": {}, "vidx": {}, "features": []})
        tag_pairs = []
        tags = row.tags if isinstance(row.tags, dict) else {}
        for k in sorted(tags):
            v = tags[k]
            if k not in layer["kidx"]:
                layer["kidx"][k] = len(layer["keys"])
                layer["keys"].append(k)
            vv = ("s", v)
            if vv not in layer["vidx"]:
                layer["vidx"][vv] = len(layer["values"])
                layer["values"].append(v)
            tag_pairs += [layer["kidx"][k], layer["vidx"][vv]]
        layer["features"].append({"id": row.image_id, "tags": tag_pairs,
                                  "geom": [round(float(row.px), 3), round(float(row.py), 3)],
                                  "type": "Point"})
    doc = {"layers": [{"name": n, "extent": 4096, "keys": L["keys"], "values": L["values"],
                       "features": L["features"]} for n, L in layers.items()]}
    return gzip.compress(json.dumps(doc, separators=(",", ":")).encode(), 6)


def synth(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(5)
    kinds = np.array(["park", "school", "building", "hospital", "shop", "road"])
    return pd.DataFrame({
        "image_id": np.arange(n).astype(str),
        "layer": np.where(np.arange(n) % 3 == 0, "pois", "roads"),
        "tags": [{"kind": kinds[i % 6], "name": f"n{i % 997}"} for i in range(n)],
        "px": rng.uniform(0, 4096, n), "py": rng.uniform(0, 4096, n),
    })


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    pdf = synth(n)
    for name, fn in [("old-json-perrow", old_encode), ("new-mvt-factorize", _encode_tile_blob)]:
        fn(pdf.head(1000))  # warm
        t0 = time.time()
        blob = fn(pdf)
        dt = time.time() - t0
        print(f"{name}: {n} features in {dt:.2f}s = {n/dt/1e6:.2f}M feat/s, blob {len(blob)/1e6:.1f}MB")
