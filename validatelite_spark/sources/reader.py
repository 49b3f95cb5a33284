"""Source dispatch — the Spark replacement for the reference's
source-parsing + file-materialization stage.

The reference classifies a source string into DB URLs vs file paths
(reference: cli/core/source_parser.py:21-198) and then *materializes
files into a temp SQLite database* through pandas batch inserts
(reference: cli/core/data_validator.py:553-740). On Spark that whole
materialization stage disappears: every format is read natively and
lazily, with predicate pushdown and column pruning to the scan.

Supported: parquet (default), csv/tsv, json/jsonl, orc, a directory of
any of those, a JDBC url (mysql:// / postgresql:// → spark.read.jdbc,
needs the driver jar on the classpath), and Iceberg tables behind an
import-try (catalog jars not shipped in this environment)."""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
}


class SourceError(ValueError):
    pass


def read_source(
    spark: SparkSession,
    source: str,
    schema: Optional[str] = None,
    **options: str,
) -> DataFrame:
    """Read any supported source string into a DataFrame."""
    low = source.lower()
    if low.startswith(("mysql://", "postgresql://", "postgres://",
                       "sqlite://", "jdbc:")):
        return _read_jdbc(spark, source, **options)
    if low.startswith("iceberg://") or options.get("format") == "iceberg":
        return read_iceberg(spark, source.removeprefix("iceberg://"))
    if low.endswith(".xlsx") or options.get("format") == "excel":
        res = read_excel(spark, source, options.get("sheet_name"))
        if isinstance(res, dict):  # no sheet given → first sheet
            return next(iter(res.values()))
        return res

    path = source
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    fmt = options.pop("format", None) or _EXT_FORMAT.get(ext)
    if fmt is None:
        # directory: sniff the first data file
        if os.path.isdir(path):
            for entry in sorted(os.listdir(path)):
                e = os.path.splitext(entry)[1].lower()
                if e in _EXT_FORMAT:
                    fmt = _EXT_FORMAT[e]
                    break
    if fmt is None:
        raise SourceError(f"cannot infer format of source: {source!r}")

    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        sep = options.pop("sep", "\t" if ext == ".tsv" else ",")
        return reader.options(header="true", sep=sep,
                              **options).csv(path)
    if fmt == "json":
        if ext == ".json" and not options.pop("multiline_lines", None):
            # .json = one object per line unless told otherwise, matching
            # the reference's suffix dispatch (data_validator.py:351-352)
            pass
        return reader.options(**options).json(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    return reader.options(**options).parquet(path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session's task slots when its scan
    is under-parallel (fewer partitions than half the slots); otherwise
    ``df`` unchanged.

    A single-row-group parquet loads as ONE split that no
    maxPartitionBytes setting divides, so every projection and partial
    aggregate above it runs on one core. The always-true
    nondeterministic filter after the exchange is a PUSHDOWN FENCE:
    Catalyst cannot move a predicate across it, so a downstream filter
    on a derived signal evaluates above the spread, in parallel,
    instead of re-expanding its whole expression tree on the one-task
    scan (measured 16.1 s → 1.4 s on calibration_curve at sf1.0). The
    target count derives from the session, and at production scale
    (many row groups per file) this is a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par // 2:
        df = (df.repartition(par)
              .filter(F.monotonically_increasing_id() >= 0))
    return df


def _read_jdbc(spark: SparkSession, url: str, **options: str) -> DataFrame:
    table = options.pop("table", None)
    if not table:
        raise SourceError("JDBC source needs table=<name>")
    jdbc_url = url if url.startswith("jdbc:") else "jdbc:" + url
    try:
        return spark.read.jdbc(jdbc_url, table, properties=dict(options))
    except Exception as e:  # driver jar missing in this environment
        raise SourceError(
            f"JDBC read failed (driver jar on classpath?): {e}") from e


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg table read — requires iceberg-spark-runtime on the
    classpath + a configured catalog; import-try gated per environment."""
    try:
        return spark.read.format("iceberg").load(table)
    except Exception as e:
        raise SourceError(
            "Iceberg runtime not on the classpath in this environment; "
            f"read parquet instead ({e})") from e


def _sheet_to_df(spark: SparkSession, header: list[str],
                 rows: list[list]) -> DataFrame:
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(rows, columns=header))


def read_excel(spark: SparkSession, path: str,
               sheet_name: Optional[str] = None):
    """Excel scan — the reference loads each sheet into its own table
    (reference: cli/core/data_validator.py:339-350, 482-551). Each
    sheet becomes a DataFrame via the pure-stdlib xlsx parser
    (sources/xlsx.py: zipfile + xml.etree — no openpyxl needed) →
    pandas → Arrow → Spark. Driver-side read by design: Excel files are
    small by construction; a 100 TB pipeline never feeds from xlsx.
    Legacy binary .xls is not supported."""
    if path.lower().endswith(".xls"):
        raise SourceError("legacy .xls not supported; convert to .xlsx")
    from validatelite_spark.sources.xlsx import read_xlsx
    try:
        sheets = read_xlsx(path, sheet_name=sheet_name)
    except KeyError as e:
        raise SourceError(str(e)) from e
    except Exception as e:
        raise SourceError(f"cannot parse xlsx {path!r}: {e}") from e
    if sheet_name is not None:
        header, rows = sheets[sheet_name]
        return _sheet_to_df(spark, header, rows)
    return {name: _sheet_to_df(spark, header, rows)
            for name, (header, rows) in sheets.items()}
