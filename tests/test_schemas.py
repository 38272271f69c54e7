"""Declared table schemas: they match the files, and reads that use them
start no Spark job.

Spark infers a parquet schema with a one-task job that reads a footer,
even for a single file. The engine declares every fixture table's schema
(``schemas.FIXTURE_SCHEMAS``) and reads ingest targets with the schema of
the batch it writes, so those reads start no job at all. The canaries
below count jobs through a ``statusTracker`` job group; if inference
comes back, they fail instead of the engine silently slowing down.
"""

from __future__ import annotations

import glob
import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.types import StructType

from nytimes_batch_processor_spark.schemas import FIXTURE_SCHEMAS
from nytimes_batch_processor_spark.sources import load_table

# Spark lists more partition paths than this with a parallel job
# (spark.sql.sources.parallelPartitionDiscovery.threshold), which a
# declared schema does not avoid.
SERIAL_LISTING_MAX_PATHS = 32


@contextmanager
def _jobs_started(spark):
    """Yields a list that holds, on exit, the number of Spark jobs the
    block started."""
    sc = spark.sparkContext
    group = f"schema-canary-{uuid.uuid4().hex}"
    counted: list[int] = []
    sc.setJobGroup(group, "declared-schema canary")
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _sf_dirs(sf_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf*")))


def test_fixture_schemas_equal_inferred_schemas(spark, sf_dir):
    """A fixture type change must fail here, not as a failed read deep in
    some catalog entry."""
    dirs = _sf_dirs(sf_dir)
    assert sf_dir.rstrip("/") in dirs
    for d in dirs:
        for name, ddl in FIXTURE_SCHEMAS.items():
            inferred = spark.read.parquet(f"{d}/{name}.parquet").schema
            assert StructType.fromDDL(ddl) == inferred, (d, name, inferred.simpleString())
            assert load_table(spark, d, name).schema == inferred, (d, name)


def test_load_table_declared_starts_no_job(spark, sf_dir, tmp_path):
    for name in FIXTURE_SCHEMAS:
        with _jobs_started(spark) as jobs:
            load_table(spark, sf_dir, name)
        assert jobs == [0], f"load_table({name!r}) started {jobs[0]} Spark job(s)"

    # control: an undeclared name keeps the inferred read, whose footer
    # job the same counter sees
    spark.range(3).write.parquet(str(tmp_path / "undeclared.parquet"))
    with _jobs_started(spark) as jobs:
        df = load_table(spark, str(tmp_path), "undeclared")
    assert df.columns == ["id"]
    assert jobs[0] >= 1, "the job counter missed schema inference"


def test_ingest_target_read_starts_no_job(spark, tmp_path, monkeypatch):
    """Re-ingest into a target with at most SERIAL_LISTING_MAX_PATHS date
    partitions: the anti-join's read of the existing keys and the
    returned read-back start no job. The append itself is stubbed out,
    so the count covers the reads and plan construction only."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    days = SERIAL_LISTING_MAX_PATHS - 2
    src = tmp_path / "states.csv"
    src.write_text(
        "date,state,fips,cases,deaths\n"
        + "".join(f"2020-03-{d + 1:02d},S{d % 3},{d % 7 or ''},{d},0\n" for d in range(days))
    )
    target = str(tmp_path / "covid_states")
    ingest_covid_csv(spark, str(src), target, has_county=False)
    assert len(glob.glob(os.path.join(target, "date=*"))) == days

    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, path, **kw: None)
    with _jobs_started(spark) as jobs:
        out = ingest_covid_csv(spark, str(src), target, has_county=False)
    assert jobs == [0], f"re-ingest reads started {jobs[0]} Spark job(s)"
    monkeypatch.undo()

    assert out.schema == spark.read.parquet(target).schema
    assert out.count() == days
    assert out.filter(F.col("fips") == -1).count() == sum(1 for d in range(days) if d % 7 == 0)


@pytest.mark.parametrize("has_county", [False, True])
def test_ingest_read_back_equals_inferred_read(spark, tmp_path, has_county):
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv_audited

    county = "King," if has_county else ""
    header = "date,county,state,fips,cases,deaths" if has_county else "date,state,fips,cases,deaths"
    src = tmp_path / "drop"
    src.mkdir()
    (src / "b1.csv").write_text(f"{header}\n2020-03-01,{county}WA,53,1,0\n2020-03-02,{county}WA,,2,0\n")
    target = str(tmp_path / "audited")
    out = ingest_covid_csv_audited(spark, str(src), target, batch_id=1, has_county=has_county)
    inferred = spark.read.parquet(target)
    assert out.schema == inferred.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, inferred.collect()))
