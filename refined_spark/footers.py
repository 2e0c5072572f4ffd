"""Parquet footers read on the driver: a table's Spark schema and its
per-file row counts from metadata alone, with no Spark job.

``spark.read.parquet(p)`` without a schema runs a job to infer one, and a
per-file ``input_file_name`` census scans every row; both answers are
already in the footers. Paths are local (the checkpoint runner and the
fixture loader already assume ``os.path`` access).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

# the key Spark's parquet writer stores its own schema under
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(path: str) -> list[str]:
    """The data files of a parquet table: the path itself when it is a
    file, else its entries sorted by name, skipping ``_``/``.`` names
    (``_SUCCESS``, checksums) as Spark's file index does."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(path, n) for n in sorted(os.listdir(path))
            if not n.startswith(("_", "."))]


def footer_schema(path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the first data
    file's footer: Spark's stored schema when the file has one, else the
    Arrow schema mapped as Spark maps it (timezone-less timestamps are
    ``timestamp_ntz``). Fields are nullable, as on any file-source read.
    """
    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    pf = pq.ParquetFile(files[0])
    stored = (pf.metadata.metadata or {}).get(SPARK_ROW_METADATA)
    schema = (StructType.fromJson(json.loads(stored)) if stored
              else from_arrow_schema(pf.schema_arrow,
                                     prefer_timestamp_ntz=True))
    return _as_nullable(schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer schema: no job."""
    return spark.read.schema(footer_schema(path)).parquet(path)


def footer_row_counts(path: str) -> list[tuple[str, int]]:
    """``(file name, rows)`` for each data file, in name order."""
    return [(os.path.basename(f), pq.read_metadata(f).num_rows)
            for f in data_files(path)]


def _as_nullable(t):
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType),
                       True)
    return t
