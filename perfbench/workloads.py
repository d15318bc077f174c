"""The benchmark workloads.

Each workload generates its inputs from the seed into files under its work
directory (the engine only ever sees those files), computes the expected
outputs once with an independent reference, and then runs one iteration per
call of `iterate`. `check` compares an iteration's outputs with the
reference and returns a list of problems (empty when correct).

Every iteration times two steps, `main_s` and `followup_s`, once each:
  tile_job         the CLI job with a fresh job id / the same job re-run
                   (the resume path: staged data and bucket markers exist)
  archive_rewrite  PMTiles -> decode -> filter -> admin tag (broadcast PIP
                   join) -> encode -> PMTiles / the output read back through
                   read_pmtiles + decode_tiles
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import io
import json
import math
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import MASTER, Stopwatch

# reference tag rules of the filter program fixture (the reference's
# integration test asserts these keys are gone from every output feature)
KEEP_TAGS = {"name", "name:ja", "name:en", "kind"}


def banned_tag(key: str) -> bool:
    return key == "name:fr" or key.startswith("pgf:name:")


def digest(items) -> str:
    h = hashlib.sha256()
    for it in sorted(items):
        h.update(repr(it).encode())
    return h.hexdigest()


def step_timings(main: Stopwatch, follow: Stopwatch) -> dict[str, float]:
    return {"main_s": main.wall, "main_cpu_s": main.cpu,
            "followup_s": follow.wall, "followup_cpu_s": follow.cpu}


def input_rows(table: pa.Table) -> list[dict]:
    """Arrow rows -> oracle rows (tags as a dict)."""
    rows = table.to_pylist()
    for r in rows:
        r["tags"] = dict(r["tags"])
    return rows


class Workload:
    name = ""
    followup = ""  # what the follow-up step is
    stored_ratio = ""  # the per-layer metric of the writer's stored/input bytes
    # unkept iterations before the timed loop; iteration CPU time falls
    # until about the third iteration of a session (JIT, Python workers)
    warmup = 1
    sizes: dict[str, dict] = {}

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.p = self.sizes[size]
        self.dir = None

    def setup(self, k: int) -> None:
        """Generate the inputs into a fresh directory."""
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = os.path.join(self.work, f"input-{k}")
        os.makedirs(self.dir)
        self.generate()

    def generate(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        """Expected outputs for the current inputs (computed once)."""
        raise NotImplementedError

    def iterate(self, i: int, traced: bool = False) -> dict:
        """One iteration; a traced one may add untimed cross-checks."""
        raise NotImplementedError

    def check(self, rec: dict) -> list[str]:
        raise NotImplementedError

    def trace_targets(self) -> list:
        """(owner, attribute, span name, spark-side) for the layers this
        workload calls — every workload instruments every layer, so a layer
        it does not call reports zeros."""
        from mvt_wrangler_spark.functions import cells, tiling
        from mvt_wrangler_spark.operators import dedup, filters, joins, rollup, tile_encode
        from mvt_wrangler_spark.plans import pipeline
        from mvt_wrangler_spark.sources import catalog, pmtiles

        return [
            (pipeline, "run_pipeline", "pipeline.run_pipeline", True),
            (catalog.SnapshotTable, "read_current", "catalog.read_current", True),
            (catalog.SnapshotTable, "write_snapshot", "catalog.write_snapshot", True),
            (tiling, "assign_tiles", "tiling.assign_tiles", True),
            (cells, "with_cells", "cells.with_cells", True),
            (filters, "filter_mask_native", "filters.filter_mask_native", True),
            (filters, "apply_feature_filter", "filters.apply_feature_filter", True),
            (filters, "apply_tag_filter", "filters.apply_tag_filter", True),
            (dedup, "phash_dedup", "dedup.phash_dedup", True),
            (rollup, "tile_stats", "rollup.tile_stats", True),
            (rollup, "pyramid_rollup", "rollup.pyramid_rollup", True),
            (tile_encode, "decode_tiles", "tile_encode.decode_tiles", True),
            (tile_encode, "encode_tiles", "tile_encode.encode_tiles", True),
            (pmtiles, "read_pmtiles", "pmtiles.read_pmtiles", True),
            (pmtiles, "write_pmtiles", "pmtiles.write_pmtiles", True),
            (pmtiles.PMTilesReader, "get_tile", "pmtiles.get_tile", False),
            (joins, "broadcast_pip_join", "joins.broadcast_pip_join", True),
            (joins, "partitioned_pip_join", "joins.partitioned_pip_join", True),
        ]


# ---------------------------------------------------------------------------
# tile_job: the CLI's main job and its resume path
# ---------------------------------------------------------------------------

class TileJob(Workload):
    name = "tile_job"
    followup = "resume run"
    warmup = 2
    stored_ratio = "catalog.write_snapshot.stored_ratio"
    sizes = {"full": {"rows": 3000, "z": 10}, "tiny": {"rows": 400, "z": 10}}

    def generate(self) -> None:
        from mvt_wrangler_spark.sources import images as I
        from mvt_wrangler_spark.sources.catalog import SnapshotTable
        from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

        images = I.synthetic_images(self.spark, self.p["rows"], seed=self.seed,
                                    partitions=4)
        self.in_root = os.path.join(self.dir, "images")
        snap = SnapshotTable(self.in_root, n_buckets=4, bucket_col="phash") \
            .write_snapshot(images, job_id=f"seed{self.seed}", sort_col="image_id")
        self.in_bytes = snap["total_bytes"]
        self.in_files = [os.path.join(b["path"], f)
                         for b in snap["buckets"] for f in b["files"]]
        self.filter_path = os.path.join(self.dir, "filter.geojson")
        with open(self.filter_path, "w") as f:
            json.dump(default_filter_geojson(), f)

    def reference(self) -> None:
        """Pure-numpy oracle (tests/oracle/pipeline_oracle.py) over the
        stored input rows."""
        from mvt_wrangler_spark.operators.filters import FilterProgram
        from tests.oracle import pipeline_oracle as PO

        cols = ["image_id", "lon", "lat", "tags", "layer", "phash"]
        rows = input_rows(pa.concat_tables(
            [pq.read_table(f, columns=cols) for f in self.in_files]))
        prog = FilterProgram.load(self.filter_path)
        assign = PO.assignments(rows, self.p["z"])
        surv = PO.survivors(rows, prog, PO.filter_masks(rows, prog))
        kept = [r for r in rows if surv[r["image_id"]]["kept"]]
        keepers = PO.dedup_keepers(kept, assign)
        self.expect = {
            "rows": len(keepers),
            "ids": digest(keepers),
            "tags": digest((k, surv[k]["kept_tags"]) for k in keepers),
        }

    def _cli(self, argv: list[str]) -> tuple[int, dict]:
        """cli.main in this process. The CLI stops its session on exit; the
        benchmark keeps one session (and JVM) for the whole run, so stop is
        a no-op for the duration of the call."""
        from mvt_wrangler_spark import cli

        buf = io.StringIO()
        self.spark.stop = lambda: None
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(argv)
        finally:
            del self.spark.stop
        lines = buf.getvalue().strip().splitlines()
        return rc, (json.loads(lines[-1]) if lines else {})

    def iterate(self, i: int, traced: bool = False) -> dict:
        """Main step: the job with a fresh job id. Follow-up: the same
        command again, a resume of the committed job."""
        out = os.path.join(self.work, "out", f"it{i}")
        argv = [self.in_root, out, "--filter", self.filter_path, "--cells",
                "--zoom", str(self.p["z"]), "--buckets", "16",
                "--job-id", f"it{i}", "--master", MASTER]
        with Stopwatch() as main:
            runs = [self._cli(argv)]
        with Stopwatch() as follow:
            runs.append(self._cli(argv))
        return {"timings": step_timings(main, follow), "out": out, "runs": runs}

    def check(self, rec: dict) -> list[str]:
        """Both runs: exit code and row count, and the resume commits one
        more snapshot. The output: the oracle's kept ids and tag sets, no
        banned tag, stats sum = pyramid z0 total = kept rows."""
        from mvt_wrangler_spark.sources.catalog import SnapshotTable

        out, want = rec["out"], self.expect
        problems = []
        for k, (rc, res) in enumerate(rec["runs"]):
            if rc != 0 or res.get("rows_out") != want["rows"]:
                problems.append(f"run {k}: exit code {rc}, rows_out "
                                f"{res.get('rows_out')} (want {want['rows']})")
            elif res.get("snapshot") != rec["runs"][0][1]["snapshot"] + k:
                problems.append(f"run {k} committed snapshot {res.get('snapshot')}")
        snap = SnapshotTable(out).current_snapshot()
        files = [os.path.join(b["path"], f) for b in snap["buckets"] for f in b["files"]]
        t = pa.concat_tables([pq.read_table(f, columns=["image_id", "tags"]) for f in files])
        ids = t.column("image_id").to_pylist()
        tags = [tuple(sorted(k for k, _ in m)) for m in t.column("tags").to_pylist()]
        if len(ids) != want["rows"] or digest(ids) != want["ids"]:
            problems.append("kept image ids differ from the oracle")
        if digest(zip(ids, tags)) != want["tags"]:
            problems.append("kept tag sets differ from the oracle")
        if any(banned_tag(k) for ks in tags for k in ks):
            problems.append("a name:fr or pgf:name:* tag survived")
        n_stats = sum(pq.read_table(os.path.join(out, "stats"), columns=["n_rows"])
                      .column("n_rows").to_pylist())
        pyr = pq.read_table(os.path.join(out, "pyramid"), columns=["z", "n_rows"]).to_pylist()
        z0 = sum(r["n_rows"] for r in pyr if r["z"] == 0)
        if not n_stats == z0 == want["rows"]:
            problems.append(f"stats sum {n_stats} / pyramid z0 {z0} != {want['rows']}")
        rec["stored_ratio"] = snap["total_bytes"] / self.in_bytes
        shutil.rmtree(out, ignore_errors=True)
        return problems


# ---------------------------------------------------------------------------
# archive_rewrite: the reference's own PMTiles -> filter -> PMTiles workflow,
# with the surviving features tagged by admin region on the way
# ---------------------------------------------------------------------------

def tile_lon(x: np.ndarray, z: int) -> np.ndarray:
    """functions/tiling.tile_lon, same double arithmetic."""
    return x / float(1 << z) * 360.0 - 180.0


def tile_lat(y: np.ndarray, z: int) -> np.ndarray:
    """functions/tiling.tile_lat, same double arithmetic."""
    t = math.pi * (1.0 - 2.0 * y / float(1 << z))
    return np.degrees(np.arctan((np.exp(t) - np.exp(-t)) / 2.0))


def admin_hexagons(seed: int) -> list[tuple[str, list[tuple[float, float]]]]:
    """About 1,800 disjoint hexagons: a coarse global grid plus fine grids
    over the three metros (where 80% of the points cluster). Centres are
    jittered by the seed; jitter and radius keep every hexagon inside its
    own grid cell, so a point lies in at most one."""
    from mvt_wrangler_spark.sources.images import METROS
    from mvt_wrangler_spark.sources.points import hexagon

    rng = random.Random(seed)
    out = []
    for gx in range(36):
        for gy in range(12):
            cx = -175.0 + 10.0 * gx + rng.uniform(-1.0, 1.0)
            cy = -55.0 + 10.0 * gy + rng.uniform(-1.0, 1.0)
            out.append((f"g{gx}_{gy}", hexagon(cx, cy, 2.0)))
    for m, (mx, my) in enumerate(METROS):
        for gx in range(21):
            for gy in range(21):
                cx = mx - 0.2 + 0.02 * gx + rng.uniform(-0.001, 0.001)
                cy = my - 0.2 + 0.02 * gy + rng.uniform(-0.001, 0.001)
                out.append((f"m{m}_{gx}_{gy}", hexagon(cx, cy, 0.008)))
    return out


# cover zoom of the partitioned join: z=12 tiles (~0.09 deg) are a few fine
# metro hexagons wide, while a coarse hexagon still covers < 4096 of them
JOIN_ZOOM = 12


def feature_key(tile_id, px, py, layer) -> str:
    """The rewrite's surrogate feature id (MVT ids are omitted for
    non-numeric image ids); the Spark side builds the same string."""
    return f"{tile_id}_{int(px)}_{int(py)}_{layer}"


class ArchiveRewrite(Workload):
    name = "archive_rewrite"
    followup = "read-back"
    stored_ratio = "pmtiles.write_pmtiles.stored_ratio"
    sizes = {"full": {"rows": 3000, "z": 6, "lookups": 2000},
             "tiny": {"rows": 400, "z": 6, "lookups": 200}}

    def generate(self) -> None:
        from mvt_wrangler_spark.functions import tiling
        from mvt_wrangler_spark.operators import tile_encode as TE
        from mvt_wrangler_spark.sources import images as I
        from mvt_wrangler_spark.sources import pmtiles as P

        self.rows = I.synthetic_images(
            self.spark, self.p["rows"], seed=self.seed, with_pixels=False,
            partitions=4).select("image_id", "lon", "lat", "tags", "layer").toArrow()
        self.in_path = os.path.join(self.dir, "in.pmtiles")
        df = self.spark.createDataFrame(self.rows)
        P.write_pmtiles(TE.encode_tiles(tiling.assign_tiles(df, z=self.p["z"])),
                        self.in_path, metadata={"name": "in"})
        self.hexes = admin_hexagons(self.seed)
        self.admin_path = os.path.join(self.dir, "admin.parquet")
        pq.write_table(pa.table({
            "poly_id": [pid for pid, _ in self.hexes],
            "xs": [[[x for x, _ in ring]] for _, ring in self.hexes],
            "ys": [[[y for _, y in ring]] for _, ring in self.hexes],
        }), self.admin_path)

    def reference(self) -> None:
        """Pure-numpy oracle on the coordinates the archive carries (MVT
        geometry is integer tile-local, so lon/lat reconstruct to the pixel
        grid): the filter program's survivors, and the (feature, hexagon)
        pairs of those survivors."""
        from mvt_wrangler_spark.functions import geometry as G
        from mvt_wrangler_spark.operators.filters import FilterProgram
        from mvt_wrangler_spark.sources.fixtures import default_filter_geojson
        from tests.oracle import pipeline_oracle as PO

        z = self.p["z"]
        rows = input_rows(self.rows)
        for r, (_, x, y, tid, px, py) in zip(rows, PO.assignments(rows, z).values()):
            qx, qy = np.rint(px), np.rint(py)
            r["lon"] = float(tile_lon(x + qx / 4096.0, z))
            r["lat"] = float(tile_lat(y + qy / 4096.0, z))
            r["key"] = feature_key(tid, qx, qy, r["layer"])
        self.prog = FilterProgram.from_geojson(default_filter_geojson())
        surv = PO.survivors(rows, self.prog, PO.filter_masks(rows, self.prog))
        kept = [r for r in rows if surv[r["image_id"]]["kept"]]
        self.expect_rows = len(kept)
        self.polys = [(pid, G.Polygon(np.array(ring))) for pid, ring in self.hexes]
        lon = np.array([r["lon"] for r in kept])
        lat = np.array([r["lat"] for r in kept])
        self.expect_pairs = collections.Counter(
            (kept[j]["key"], pid) for pid, poly in self.polys
            for j in np.nonzero(G.points_in_polygon(lon, lat, poly))[0])
        self.in_bytes = os.path.getsize(self.in_path)

    def rewrite(self, out_path: str):
        """The main step: the rewrite, tagging each surviving feature with
        its admin hexagon (broadcast join). Returns the survivors."""
        from pyspark.sql import functions as F

        from mvt_wrangler_spark.functions import tiling
        from mvt_wrangler_spark.operators import filters as FL
        from mvt_wrangler_spark.operators import joins as J
        from mvt_wrangler_spark.operators import tile_encode as TE
        from mvt_wrangler_spark.sources import pmtiles as P

        spark, z, prog = self.spark, self.p["z"], self.prog
        feats = TE.decode_tiles(P.read_pmtiles(spark, self.in_path))
        px, py = F.element_at("pxs", 1), F.element_at("pys", 1)
        feats = feats.withColumn("lon", tiling.tile_lon(F.col("x") + px / 4096.0, z)) \
            .withColumn("lat", tiling.tile_lat(F.col("y") + py / 4096.0, z))
        masked = feats.withColumn(
            "filter_mask", FL.filter_mask_native(prog, F.col("lon"), F.col("lat")))
        surv = FL.apply_tag_filter(FL.apply_feature_filter(masked, prog), prog)
        surv = surv.withColumn("image_id", F.concat_ws(
            "_", "tile_id", px.cast("int"), py.cast("int"), F.col("layer")))
        tagged = J.broadcast_pip_join(spark, surv, self.polys, how="left")
        tagged = tagged.withColumn("tags", F.when(
            F.col("admin_id").isNull(), F.col("tags")).otherwise(
            F.map_concat("tags", F.create_map(F.lit("admin"), F.col("admin_id")))))
        tagged = tagged.withColumn("px", px).withColumn("py", py)
        P.write_pmtiles(TE.encode_tiles(tagged.drop("geom_type", "pxs", "pys", "admin_id")),
                        out_path, metadata={"name": "out"})
        return surv

    def iterate(self, i: int, traced: bool = False) -> dict:
        """Main step: the rewrite. Follow-up: reading the written archive
        back through the engine (scan + decode of every tile). Then,
        untimed, seeded random lookups on it, and in a traced iteration the
        partitioned join on the same survivors, which the check compares
        with the broadcast result."""
        from mvt_wrangler_spark.operators import joins as J
        from mvt_wrangler_spark.operators import tile_encode as TE
        from mvt_wrangler_spark.sources import pmtiles as P

        spark = self.spark
        out_path = os.path.join(self.work, f"out-{i}.pmtiles")
        with Stopwatch() as main:
            surv = self.rewrite(out_path)
        with Stopwatch() as follow:
            read_back = TE.decode_tiles(P.read_pmtiles(spark, out_path)).count()

        reader = P.PMTilesReader(out_path)
        ids = reader.tile_ids()
        rng = random.Random(self.seed * 100_003 + i)
        wanted = [ids[rng.randrange(len(ids))] for _ in range(self.p["lookups"])]
        blobs, lat = [], []
        for tid in wanted:
            a = time.perf_counter()
            blobs.append(reader.get_tile(tid))
            lat.append(time.perf_counter() - a)
        rec = {"timings": step_timings(main, follow),
               "lookup_s": lat, "out": out_path, "reader": reader, "wanted": wanted,
               "blobs": blobs, "read_back": read_back}
        if traced:
            admin = spark.read.parquet(self.admin_path)
            part = J.partitioned_pip_join(surv, admin, z=JOIN_ZOOM, id_col="image_id",
                                          poly_id_col="poly_id").toArrow()
            rec["partitioned"] = collections.Counter(
                zip(part.column(0).to_pylist(), part.column(1).to_pylist()))
        return rec

    def check(self, rec: dict) -> list[str]:
        from mvt_wrangler_spark.operators import tile_encode as TE

        problems = []
        reader = rec["reader"]
        n_feats, keys, broadcast = 0, set(), collections.Counter()
        for tid in reader.tile_ids():
            for layer in TE.decode_tile_blob(reader.get_tile(tid))["layers"]:
                keys.update(layer["keys"])
                for f in layer["features"]:
                    n_feats += 1
                    t = f["tags"]
                    tags = {layer["keys"][k]: layer["values"][v]
                            for k, v in zip(t[::2], t[1::2])}
                    if "admin" in tags:
                        key = feature_key(tid, f["geom"][0], f["geom"][1], layer["name"])
                        broadcast[(key, tags["admin"])] += 1
        if not n_feats == rec["read_back"] == self.expect_rows:
            problems.append(f"decoded {n_feats} features (engine read-back "
                            f"{rec['read_back']}) != {self.expect_rows} filtered")
        if any(banned_tag(k) for k in keys):
            problems.append("a name:fr or pgf:name:* tag survived")
        if not keys <= KEEP_TAGS | {"admin"}:
            problems.append(f"unexpected tag keys {sorted(keys - KEEP_TAGS)}")
        joined = [("broadcast", broadcast)]
        if "partitioned" in rec:
            joined.append(("partitioned", rec["partitioned"]))
        for name, pairs in joined:
            if pairs != self.expect_pairs:
                problems.append(f"{name} join: {sum(pairs.values())} pairs differ from "
                                f"the numpy oracle's {sum(self.expect_pairs.values())}")
        for tid, blob in zip(rec["wanted"], rec["blobs"]):
            if blob is None:
                problems.append(f"lookup of tile {tid} found nothing")
                break
            TE.decode_tile_blob(blob)  # raises when the blob does not decode
        rec["stored_ratio"] = os.path.getsize(rec["out"]) / self.in_bytes
        os.remove(rec["out"])
        return problems


WORKLOADS = {w.name: w for w in (TileJob, ArchiveRewrite)}
