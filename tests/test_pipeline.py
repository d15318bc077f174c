"""Golden E2E: full pipeline vs pure-numpy oracle (reference integration-test analog)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvt_wrangler_spark.operators import joins as J
from mvt_wrangler_spark.operators.filters import FilterProgram
from mvt_wrangler_spark.functions import geometry as G
from mvt_wrangler_spark.plans import pipeline as P
from mvt_wrangler_spark.sources import images as I
from mvt_wrangler_spark.sources.fixtures import default_filter_geojson
from tests.oracle import pipeline_oracle as PO

N = 1500
Z = 10


@pytest.fixture(scope="module")
def images_rows(spark):
    df = I.synthetic_images(spark, N, with_pixels=False, partitions=4)
    rows = [r.asDict() for r in df.collect()]
    return df, rows


def test_filter_program_parses():
    prog = FilterProgram.from_geojson(default_filter_geojson())
    assert len(prog.features) == 3
    assert prog.features[0].layers["pois"]["feature"] == ["boolean", True]
    with pytest.raises(ValueError):
        FilterProgram.from_geojson({"type": "Nope"})


@pytest.mark.spark
def test_pipeline_matches_oracle(spark, images_rows):
    df, rows = images_rows
    prog = FilterProgram.from_geojson(default_filter_geojson())

    res = P.run_pipeline(spark, df, prog, z=Z, dedup=True)

    # --- assignments ---
    got_assign = {r.image_id: (r.z, r.x, r.y, r.tile_id, r.px, r.py)
                  for r in res.assignments.select("image_id", "z", "x", "y", "tile_id", "px", "py").collect()}
    want_assign = PO.assignments(rows, Z)
    assert got_assign.keys() == want_assign.keys()
    for k, (z, x, y, tid, px, py) in want_assign.items():
        gz, gx, gy, gtid, gpx, gpy = got_assign[k]
        assert (gz, gx, gy, gtid) == (z, x, y, tid), k
        # JVM Math.log/tan vs glibc differ by ~1 ulp; x 2^z x extent -> ~1e-8
        assert abs(gpx - px) < 1e-6 and abs(gpy - py) < 1e-6

    # --- filter masks + survivors + kept tags ---
    masks = PO.filter_masks(rows, prog)
    want_surv = PO.survivors(rows, prog, masks)
    got = {r.image_id: r for r in res.survivors.select("image_id", "filter_mask", "tags").collect()}
    n_masked = sum(1 for m in masks.values() if m & 0b11)
    assert n_masked > 10, "fixture should cover metro hot spots"
    for k, want in want_surv.items():
        if not want["kept"]:
            assert k not in got, k
        else:
            assert k in got, k
            assert got[k].filter_mask == masks[k], k
            assert tuple(sorted(got[k].tags.keys())) == want["kept_tags"], (k, got[k].tags)
    # global tag rule: no pgf:* or name:fr anywhere (reference E2E assertion)
    for r in got.values():
        assert all(not t.startswith("pgf:") and t != "name:fr" for t in r.tags)
        assert any(t in ("name", "name:ja", "name:en") for t in r.tags)

    # --- dedup ---
    kept_ids = {r.image_id for r in res.deduped.select("image_id").collect()}
    surv_rows = [r for r in rows if want_surv[r["image_id"]]["kept"]]
    want_keep = PO.dedup_keepers(surv_rows, want_assign)
    assert kept_ids == want_keep

    # --- stats + pyramid consistency ---
    stats, pyramid = P.rollup(res.deduped, Z, n_salt=4)
    stats = stats.collect()
    assert sum(r.n_rows for r in stats) == len(kept_ids)
    assert {r.z for r in stats} == {Z}
    pyr = pyramid.filter(F.col("z") == 0).collect()
    assert len(pyr) == 1 and pyr[0].n_rows == len(kept_ids)
    levels = {r.z for r in pyramid.select("z").distinct().collect()}
    assert levels == set(range(0, Z + 1))


@pytest.mark.spark
def test_pip_join_matches_oracle(spark, images_rows):
    df, rows = images_rows
    prog = FilterProgram.from_geojson(default_filter_geojson())
    polys = [(f"adm{i}", p) for i, feat in enumerate(prog.features[:2]) for p in feat.polygons]
    joined = J.broadcast_pip_join(spark, df.select("image_id", "lon", "lat"), polys)
    got = {(r.image_id, r.admin_id) for r in joined.collect()}
    want = set()
    for r in rows:
        for pid, poly in polys:
            if bool(G.points_in_polygon(np.array([r["lon"]]), np.array([r["lat"]]), poly)[0]):
                want.add((r["image_id"], pid))
    assert got == want and len(want) > 10


@pytest.mark.spark
def test_knn_join_cells_matches_bruteforce(spark, images_rows):
    """Salted cell-bucketed kNN: exact for queries whose k-neighborhood fits
    the 3x3 tile ring (metro queries at z=6: tile ~5.6 deg >> cluster sigma)."""
    df, rows = images_rows
    queries = spark.createDataFrame(
        [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 2.35, 48.86)],
        "query_id string, lon double, lat double")
    got = J.knn_join_cells(df, queries, k=5, z=6, n_salt=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, qlon, qlat in [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 2.35, 48.86)]:
        want = [iid for _, iid in sorted(
            ((r["lon"] - qlon) ** 2 + (r["lat"] - qlat) ** 2, r["image_id"]) for r in rows)[:5]]
        gotq = [nid for _, nid in sorted(by_q[qid])]
        assert gotq == want, qid


@pytest.mark.spark
def test_knn_join_matches_bruteforce(spark, images_rows):
    df, rows = images_rows
    queries = spark.createDataFrame(
        [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 0.0, 0.0)],
        "query_id string, lon double, lat double")
    got = J.knn_join(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist2))
    for qid, qlon, qlat in [("q0", 139.76, 35.68), ("q1", -74.0, 40.71), ("q2", 0.0, 0.0)]:
        want = sorted(
            ((r["lon"] - qlon) ** 2 + (r["lat"] - qlat) ** 2, r["image_id"]) for r in rows
        )[:5]
        gotq = sorted(by_q[qid])
        assert [w[1] for w in want] == [g[1] for g in gotq], qid
        for (wd, _), (_, _, gd) in zip(want, gotq):
            assert abs(wd - gd) < 1e-12


@pytest.mark.spark
def test_knn_join_cells_exact_beyond_3x3(spark):
    """Expanding-ring exactness: sparse global data at high zoom (tiny cells)
    puts true neighbors far outside the initial 3x3 ring; queries in empty
    regions and near world edges must still return the global top-k."""
    import numpy as np

    rng = np.random.default_rng(9)
    pts = [(f"d{i:03d}", float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-170, 170, 120), rng.uniform(-80, 80, 120)))]
    df = spark.createDataFrame(pts, "image_id string, lon double, lat double")
    queries = [("qa", 0.0, 0.0), ("qb", -179.5, 0.0), ("qc", 10.0, 84.9),
               ("qd", 100.0, -60.0)]
    qdf = spark.createDataFrame(queries, "query_id string, lon double, lat double")
    # z=10: cell ~0.35 deg, nearest neighbors are typically tens of cells away
    got = J.knn_join_cells(df, qdf, k=5, z=10, n_salt=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist2))
    for qid, qlon, qlat in queries:
        want = sorted(((lo - qlon) ** 2 + (la - qlat) ** 2, iid)
                      for iid, lo, la in pts)[:5]
        gotq = sorted(by_q[qid])
        assert [n for _, n, _ in gotq] == [i for _, i in want], qid
        for (_, _, d2), (wd2, _) in zip(gotq, want):
            assert abs(d2 - wd2) < 1e-9


def _rings_df(spark, polys):
    """(poly_id, Polygon) list -> (poly_id, xs, ys) DataFrame, ring 0 = exterior."""
    rows = []
    for pid, p in polys:
        rings = [p.exterior] + list(p.holes)
        rows.append((pid, [r[:, 0].tolist() for r in rings],
                          [r[:, 1].tolist() for r in rings]))
    return spark.createDataFrame(
        rows, "poly_id string, xs array<array<double>>, ys array<array<double>>")


@pytest.mark.spark
def test_partitioned_pip_join_matches_broadcast(spark, images_rows):
    """Non-broadcast PIP join (tile-cover equi-join + cogrouped refine) must
    reproduce broadcast_pip_join's row set exactly on the same input."""
    df, rows = images_rows
    prog = FilterProgram.from_geojson(default_filter_geojson())
    polys = [(f"adm{i}", p) for i, feat in enumerate(prog.features[:2]) for p in feat.polygons]
    got_df = J.partitioned_pip_join(
        df.select("image_id", "lon", "lat"), _rings_df(spark, polys), z=7,
        id_col="image_id", n_salt=4)
    got = {(r.image_id, r.poly_id) for r in got_df.collect()}
    want_df = J.broadcast_pip_join(spark, df.select("image_id", "lon", "lat"), polys)
    want = {(r.image_id, r.admin_id) for r in want_df.collect()}
    assert got == want and len(want) > 10


@pytest.mark.spark
def test_partitioned_pip_join_holes(spark):
    """Points inside a hole ring are NOT matched; grid straddles the hole."""
    sq = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])
    poly = G.Polygon(sq, [hole])
    pts = [(f"p{i}_{j}", 0.5 + i, 0.5 + j) for i in range(12) for j in range(12)]
    pdf = spark.createDataFrame(pts, "id string, lon double, lat double")
    got = {r.id for r in J.partitioned_pip_join(
        pdf, _rings_df(spark, [("h", poly)]), z=5, n_salt=2).collect()}
    want = {pid for pid, lo, la in pts
            if bool(G.points_in_polygon(np.array([lo]), np.array([la]), poly)[0])}
    inside_hole = {f"p{i}_{j}" for i in range(4, 6) for j in range(4, 6)}
    assert inside_hole and not (got & inside_hole)
    assert got == want and len(want) > 50


@pytest.mark.spark
def test_partitioned_pip_join_tile_cap_guard(spark):
    """A polygon whose cover exceeds max_tiles_per_poly raises at runtime."""
    big = G.Polygon(np.array([[-170.0, -80.0], [170.0, -80.0],
                              [170.0, 80.0], [-170.0, 80.0]]))
    pdf = spark.createDataFrame([("p0", 0.0, 0.0)], "id string, lon double, lat double")
    out = J.partitioned_pip_join(pdf, _rings_df(spark, [("w", big)]), z=9,
                                 max_tiles_per_poly=16)
    with pytest.raises(Exception, match="covers > 16 tiles"):
        out.collect()


@pytest.mark.spark
def test_partitioned_intersects_join_matches_broadcast(spark):
    """Distributed intersects join == broadcast intersects join on the same
    mixed Point/LineString/Polygon features and holed polygons."""
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS, synth_geoms

    feats = synth_geoms(spark, "/root/testdata/sf0.001")
    polys = [(pid, G.Polygon(np.array(v))) for pid, v in PIP_POLYGONS]
    # add a holed polygon to exercise ring handling in the partitioned path
    sq = np.array([[100.0, -20.0], [140.0, -20.0], [140.0, 20.0], [100.0, 20.0]])
    hole = np.array([[115.0, -5.0], [125.0, -5.0], [125.0, 5.0], [115.0, 5.0]])
    polys = polys + [("holed", G.Polygon(sq, [hole]))]

    got_df = J.partitioned_intersects_join(
        feats, _rings_df(spark, polys), z=5, n_salt=4)
    got = {(r.id, r.geom_type, r.poly_id) for r in got_df.collect()}
    want_df = J.broadcast_intersects_join(spark, feats, polys)
    want = {(r.id, r.geom_type, r.admin_id) for r in want_df.collect()}
    assert got == want and len(want) > 20
    assert any(pid == "holed" for _, _, pid in want)


@pytest.mark.spark
def test_partitioned_joins_high_salt_cogroup_colocation(spark):
    """Regression: round 6 found cogroup partitions each side by ITS OWN
    grouping-key types — an int replica salt vs the long pmod(xxhash64)
    candidate salt silently split keys across partitions and dropped whole
    candidate slices. At 8 shuffle partitions / 4 salts the keys co-located
    by luck, which is exactly how it slipped the oracle gate. This test
    uses 64 salts so a type mismatch cannot hide: ANY split key loses rows
    vs the broadcast twin."""
    from mvt_wrangler_spark.sources.points import PIP_POLYGONS, synth_geoms

    feats = synth_geoms(spark, "/root/testdata/sf0.001")
    polys = [(pid, G.Polygon(np.array(v))) for pid, v in PIP_POLYGONS]
    got = {(r.id, r.geom_type, r.poly_id) for r in J.partitioned_intersects_join(
        feats, _rings_df(spark, polys), z=5, n_salt=64).collect()}
    want = {(r.id, r.geom_type, r.admin_id) for r in
            J.broadcast_intersects_join(spark, feats, polys).collect()}
    assert got == want and len(want) > 20

    pts = feats.filter(F.col("geom_type") == "Point").select(
        "id", F.element_at("xs", 1).alias("lon"),
        F.element_at("ys", 1).alias("lat"))
    gotp = {(r.id, r.poly_id) for r in J.partitioned_pip_join(
        pts, _rings_df(spark, polys), z=6, n_salt=64).collect()}
    wantp = {(r.id, r.admin_id) for r in
             J.broadcast_pip_join(spark, pts, polys).collect()}
    assert gotp == wantp and len(wantp) > 5


@pytest.mark.spark
def test_partitioned_intersects_join_duplicate_ids(spark):
    """Duplicate feature ids (same geometry) preserve output multiplicity,
    matching the broadcast path's one-row-per-input-row behavior."""
    sq = np.array([[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0]])
    polys = [("p0", G.Polygon(sq))]
    rows = [(1, "Point", [5.0], [5.0]),
            (1, "Point", [5.0], [5.0]),          # duplicate id x2
            (2, "LineString", [-5.0, 25.0], [10.0, 10.0]),
            (3, "Point", [50.0], [50.0])]        # no match
    feats = spark.createDataFrame(
        rows, "id long, geom_type string, xs array<double>, ys array<double>")
    got = sorted((r.id, r.geom_type, r.poly_id) for r in
                 J.partitioned_intersects_join(
                     feats, _rings_df(spark, polys), z=4, n_salt=2).collect())
    want = sorted((r.id, r.geom_type, r.admin_id) for r in
                  J.broadcast_intersects_join(spark, feats, polys).collect())
    assert got == want
    assert got.count((1, "Point", "p0")) == 2
