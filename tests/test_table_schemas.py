"""The declared read schemas of ``sources/testdata.SCHEMAS``.

A parquet read with a declared schema starts no inference job, but a
declared column that a file lacks (or names differently) reads as NULL
without an error. So the declared schema must equal the inferred one,
on the shipped test data and on the benchmark's generated inputs.
"""

from __future__ import annotations

import os
import uuid

import pytest

from dataframeutils_spark.sources.testdata import SCHEMAS, TABLES, load_table
from perfbench import inputs
from tests.conftest import SF_DIR

TESTDATA_ROOT = os.path.dirname(SF_DIR)
SF_NAMES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    """The benchmark's generated tables (facts replicated as in tpch_10x)."""
    out = tmp_path_factory.mktemp("generated_tables")
    inputs.write_tables(inputs.build_tables(tuple(SCHEMAS), 0.001, seed=0, replica=2), str(out))
    return str(out)


def _assert_declared_equals_inferred(spark, sf_dir):
    for name, ddl in SCHEMAS.items():
        path = f"{sf_dir}/{name}.parquet"
        declared = spark.read.schema(ddl).parquet(path).schema
        inferred = spark.read.parquet(path).schema
        assert declared == inferred, (name, declared.simpleString(), inferred.simpleString())


def test_every_table_but_events_is_declared():
    assert sorted(SCHEMAS) == sorted(t for t in TABLES if t != "events")


@pytest.mark.parametrize("sf_name", SF_NAMES)
def test_declared_schema_equals_inferred_testdata(spark, sf_name):
    sf_dir = os.path.join(TESTDATA_ROOT, sf_name)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"test data {sf_dir} not present")
    _assert_declared_equals_inferred(spark, sf_dir)


def test_declared_schema_equals_inferred_generated(spark, generated_dir):
    _assert_declared_equals_inferred(spark, generated_dir)


def test_load_table_starts_no_job(spark, generated_dir):
    sc = spark.sparkContext
    group = f"load_table:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        for name in SCHEMAS:
            assert load_table(spark, generated_dir, name).schema.simpleString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
