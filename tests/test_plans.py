"""Plan-shape regression gate: the scripts/plan_audit.py red-flag scan as a
pytest, so an accidental cartesian stage, single-partition funnel, or
unpruned scan in an audited contract query fails CI instead of waiting for
a judge. The PLANS.md artifact itself is still generated by the script
(with AQE off, to show codegen spans); this gate checks the same plans
through the shared session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from plan_audit import AUDIT, formatted_plan, plan_red_flags  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.spark
@pytest.mark.parametrize("name", [n for n, _ in AUDIT])
def test_audited_plan_is_clean(spark, name):
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    flags = plan_red_flags(name, formatted_plan(df))
    assert not flags, f"{name}: {flags}"


@pytest.mark.spark
def test_red_flag_scan_catches_broken_plans(spark):
    """Negative control: deliberately-bad plans must be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))

    # cartesian product
    flags = plan_red_flags("some_query", formatted_plan(df.crossJoin(
        df.select(F.col("id").alias("id2")))))
    assert any("cartesian" in f for f in flags)

    # global window -> single-partition exchange
    ranked = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    flags = plan_red_flags("some_query", formatted_plan(ranked))
    assert any("single-partition" in f for f in flags)

    # unpruned scan: read a wide parquet table and keep every column
    wide = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    flags = plan_red_flags("some_query", formatted_plan(
        wide.filter(F.col("l_orderkey") > 0)))
    assert any("unpruned" in f for f in flags)


def test_read_schema_ncols_counts_top_level_only():
    """Nested types must not overcount; truncated schemas must trip the
    width gate instead of undercounting."""
    from plan_audit import MAX_SCAN_COLS, read_schema_ncols

    # map/struct/array commas are NOT column separators
    plan = ("Scan parquet [..] ReadSchema: "
            "struct<id:bigint,tags:map<string,string>,"
            "geom:struct<x:double,y:double>,e:array<struct<a:int,b:int>>>")
    assert read_schema_ncols(plan) == [4]

    # plain schemas, empty schema, multiple scans
    plan = ("ReadSchema: struct<a:int,b:int>\nfoo\n"
            "ReadSchema: struct<>\n"
            "ReadSchema: struct<only:string>")
    assert read_schema_ncols(plan) == [2, 0, 1]

    # Spark's truncation ('... N more fields') must exceed MAX_SCAN_COLS
    plan = ("ReadSchema: struct<a:int,b:int,c:int,d:int,"
            "... 12 more fields>")
    assert read_schema_ncols(plan)[0] > MAX_SCAN_COLS


# (query, max ArrowEvalPython nodes): the round-7 single-Python-pass wins.
# Un-pinned / un-marked versions of these plans carried 2-6 copies of the
# same expensive Python pass (minhash banding 6x, sign-LSH 4x, the PIP /
# exact-intersects match UDF 2x via the filter inferred from explode, the
# cell-encode chain 4x). Unlike duplicated JVM subtrees — which AQE stage
# reuse dedups at runtime — duplicated ArrowEvalPython nodes all execute,
# so a regression here is a real 2-6x cost multiplier that pytest results
# and the noisy shared-box bench would both miss.
PYTHON_PASS_BUDGET = [
    ("minhash_lsh", 1),
    ("embed_neardup_lsh", 1),
    ("pip_join", 1),
    ("intersects_join", 1),
    ("cell_cover_join", 0),  # encode runs once inside the pinned proxy
]


@pytest.mark.spark
@pytest.mark.parametrize("name,budget", PYTHON_PASS_BUDGET)
def test_single_python_pass_shape(spark, name, budget):
    import re

    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_DIR)
    plan = formatted_plan(df)
    # count the details-section headers ("(N) ArrowEvalPython") so each
    # physical node is counted exactly once
    n = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    assert n <= budget, (
        f"{name}: {n} ArrowEvalPython nodes (budget {budget}) — a pinned "
        f"input lost its localCheckpoint or a match UDF lost its "
        f"asNondeterministic marker; every extra node re-executes the "
        f"whole Python pass")


def _filter_input(spark):
    from mvt_wrangler_spark.sources import images as I
    from pyspark.sql import functions as F

    return (I.synthetic_images(spark, 200, with_pixels=False, partitions=2)
            .withColumn("filter_mask", F.lit(7).cast("long")))


@pytest.mark.spark
def test_tag_filter_plan_is_small(spark):
    """The fixture program's compiled filters carry only the branches their
    value kinds can reach: over string tags the analyzed plan after
    apply_tag_filter stays under 4 KB (a cascade over every value kind, which
    Catalyst then folds away again in every query, made it ~15 KB)."""
    from mvt_wrangler_spark.operators import filters as FL
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog = FL.FilterProgram.from_geojson(default_filter_geojson())
    df = _filter_input(spark)
    base = len(df._jdf.queryExecution().analyzed().toString())
    out = FL.apply_tag_filter(FL.apply_feature_filter(df, prog), prog)
    grown = len(out._jdf.queryExecution().analyzed().toString()) - base
    assert grown < 4096, f"filters add {grown} B to the analyzed plan"


@pytest.mark.spark
def test_run_pipeline_launches_no_job(spark):
    """run_pipeline only builds the row path; its one consumer (the sink)
    runs it. An eager pin or action inside it would run the rows again."""
    from mvt_wrangler_spark.operators.filters import FilterProgram
    from mvt_wrangler_spark.plans.pipeline import run_pipeline
    from mvt_wrangler_spark.sources.fixtures import default_filter_geojson

    prog = FilterProgram.from_geojson(default_filter_geojson())
    df = _filter_input(spark).drop("filter_mask")
    sc = spark.sparkContext
    sc.setJobGroup("run-pipeline-probe", "run_pipeline construction")
    try:
        res = run_pipeline(spark, df, prog, z=10, with_cells=True)
        assert sc.statusTracker().getJobIdsForGroup("run-pipeline-probe") == []
        # the probe sees jobs: running the result lands in the group
        res.deduped.count()
        assert sc.statusTracker().getJobIdsForGroup("run-pipeline-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
