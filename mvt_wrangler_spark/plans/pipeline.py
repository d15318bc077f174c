"""End-to-end job: assign -> spatial join -> filter -> dedup -> write -> rollup.

This is the Spark re-expression of the reference's whole dataflow
(/root/reference/src/lib.rs:39-101 + src/processing.rs:18-129):
  scan (S1/S2)            -> parquet scan of the images table
  spatial prefilter (J1)  -> broadcast PIP bitmask (one Arrow UDF column)
  feature filter (P4)     -> df.filter(~compiled_expr)
  tag filter (P5)         -> F.map_filter
  dict re-encode (A1)     -> parquet dictionary encoding at the sink
  ordered write (S5/W1)   -> the caller's catalog.SnapshotTable.write_snapshot
                             (range buckets on tile_id, sorted within)
  metrics (A3)            -> df.observe named metrics + `rollup` stats table

`run_pipeline` only builds the row path — scan -> tiles (+ cells UDF) ->
filters -> dedup window — and launches no Spark job. One narrow UDF stage +
exactly two shuffles (the dedup window here; write_snapshot's range
partition for the ordered sink), the same stage shape at sf0.001 and
100 TB, and the sink is the only consumer, so the rows run once.

`rollup` builds the per-tile stats and the pyramid from any row table. The
CLI applies it to the committed snapshot (SnapshotTable.read_current) after
the write commits: the rollup reads the stored rows instead of re-running
the row path, a resume (which stages nothing new) runs no row work at all,
and the stats describe exactly the rows the snapshot holds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import tiling
from ..operators import dedup as D
from ..operators import filters as FL
from ..operators import rollup as R


@dataclass
class PipelineResult:
    assignments: DataFrame
    survivors: DataFrame
    deduped: DataFrame
    observation: Observation | None = None


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    program: FL.FilterProgram | None,
    z: int = 10,
    dedup: bool = True,
    with_cells: bool = False,
) -> PipelineResult:
    """The flagship query (SURVEY §7.2 step 2), generalized. Lazy: the
    caller's sink runs it."""
    assigned = tiling.assign_tiles(images, z=z)
    if with_cells:
        from ..functions import cells as C

        # fused pandas-UDF encoder: one Arrow round trip + one shared
        # lon/lat->xyz pass for both cells (the measured winner, see cells.py)
        assigned = C.with_cells(assigned, lat="lat", lng="lon")

    obs = Observation("pipeline")
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("rows_in"))

    if program is not None and program.features:
        # native codegen mask with the materialize barrier (see
        # filters.filter_mask_native docstring: inlining would multiply the
        # polygon math by features x map-entries)
        masked = assigned.withColumn(
            "filter_mask",
            FL.filter_mask_native(program, F.col("lon"), F.col("lat")),
        )
        survivors = FL.apply_feature_filter(masked, program)
        survivors = FL.apply_tag_filter(survivors, program)
    else:
        survivors = assigned.withColumn("filter_mask", F.lit(0).cast("long"))

    # the window dedup keeps the full surviving rows (tile_id included),
    # which the ordered sink needs
    deduped = D.phash_dedup(survivors) if dedup else survivors

    return PipelineResult(
        assignments=assigned,
        survivors=survivors,
        deduped=deduped,
        observation=obs,
    )


def rollup(rows: DataFrame, z: int, min_z: int = 0,
           n_salt: int = 8) -> tuple[DataFrame, DataFrame]:
    """(stats, pyramid) of tile-assigned rows at zoom z: the salted per-tile
    stats are the pyramid's base level, materialized once by
    pyramid_rollup (one job over `rows`, at call time), and stats read that
    level back (z == base zoom)."""
    base = R.tile_stats(rows, n_salt=n_salt).select("z", "x", "y", "n_rows", "bytes_in")
    pyramid = R.pyramid_rollup(base, base_z=z, min_z=min_z)
    return pyramid.filter(F.col("z") == z), pyramid
