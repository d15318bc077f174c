"""Oracle parity for the contract queries built on the synthetic image
fixtures (images.synth_images + the entry file's decoded-stats check): each
query's Spark result must match its DuckDB oracle_sql() twin on row count,
column names and value hash, the same comparison scripts/check_contract.py
runs over all queries."""

from __future__ import annotations

import os
import sys

import pytest

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from check_contract import compare, oracle_connection  # noqa: E402

IMAGE_QUERIES = [
    "zonal_stats", "thumb_stats", "patch_stats", "recon_error", "contour",
    "augment_stats", "hillshade", "equalize", "image_ahash_neardup",
    "caption_conflicts", "neardup_clusters", "image_curate_e2e",
    "bytes_dedup", "overzoom", "mosaic",
]


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.spark
@pytest.mark.parametrize("name", IMAGE_QUERIES)
def test_image_query_matches_oracle(spark, oracle, name):
    import __spark_entry__ as e

    ok, report = compare(spark, oracle, SF_DIR, name, e.queries()[name],
                         e.oracle_sql()[name])
    assert ok, report
