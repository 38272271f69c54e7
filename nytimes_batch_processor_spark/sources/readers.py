"""Sources: explicit-schema scans for the engine.

Reference parity: the reference streams a remote CSV line-by-line with a
skipped header and comma tokenization
(``NytimesBatchProcessorApplication.kt:98-117``, S1-S3 in SURVEY.md §2.1).
Spark's CSV datasource covers all three in one declarative scan; there is
no HTTP source in Spark, so remote inputs are staged to a filesystem path
first (see ``staging.py``) — deliberately out of the query path.

Scale notes: every reader takes an explicit schema, so no read starts
an inference job (``load_table`` infers only for a table name that
``schemas.FIXTURE_SCHEMAS`` does not declare); parquet scans get column
pruning + predicate pushdown from Catalyst for free because downstream
operators are declarative. Fixture loads register
temp views so DataFrame- and SQL-expressed operators share one catalog.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schemas import FIXTURE_SCHEMAS
from ..session import ensure_runtime_confs


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with the reference's semantics: header skip
    (…kt:114), comma tokenization (…kt:101-105), fail-fast on malformed
    rows (no .faultTolerant() in the reference, E1 in SURVEY.md §2.1).

    At scale prefer mode="PERMISSIVE" with a _corrupt_record quarantine
    column — one bad row should not kill a 100 TB ingest.
    """
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", ",")
        .option("mode", mode)
        .csv(path)
    )


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The at-scale alternative to FAILFAST (E1 scale note): PERMISSIVE
    parse with a _corrupt_record quarantine — one malformed row must not
    kill a 100 TB ingest; it lands in the quarantine frame for triage.

    Returns (good_rows, quarantined_raw_lines). The frame is cached
    because Spark forbids filtering on the corrupt-record column of the
    live parse (SPARK-21610) — the cache materializes the parse first.
    """
    corrupt_col = "_corrupt_record"
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType())])
    df = (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("sep", ",")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    ).cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``sf_dir``. A fixture table is read with its
    declared schema (``schemas.FIXTURE_SCHEMAS``), so the read starts no
    footer-inference job; any other name keeps Spark's inferred read."""
    ensure_runtime_confs(spark)
    reader = spark.read
    if name in FIXTURE_SCHEMAS:
        reader = reader.schema(FIXTURE_SCHEMAS[name])
    return reader.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> SimpleNamespace:
    """Load fixture tables and register each as a temp view of the same
    name (so `spark.sql` and DataFrame operators share one catalog)."""
    out: dict[str, DataFrame] = {}
    for name in names or FIXTURE_SCHEMAS:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return SimpleNamespace(**out)
