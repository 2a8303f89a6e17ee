"""File sources — all-string CSV, JSON, fixed-width, SQL-dump (SURVEY §2.1/2.2).

- read_csv_raw: the reference's `dtype=str, keep_default_na=False` posture
  (utils/tasks.py:666, data_transformations.py:69-75) -> inferSchema off,
  explicit string schema, empty strings preserved (F1).
- read_fixed_width: the OpenBase dictionary-driven record parser
  (prontuario_gcs/tasks.py:231-323, utils.py:113-318 — S24) as
  spark.read.text + substring slicing, the classic distributed recipe.
- read_sql_dump: the pg_dump INSERT-statement decoder
  (prontuario_gcs/tasks.py:95-228 — S25) as text scan + regex extraction;
  rows route per table by a groupBy-free filter per target.
"""

from __future__ import annotations

import csv as _csv
import glob
import io
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def read_csv_raw(spark: SparkSession, path: str, sep: str = ",",
                 encoding: str = "UTF-8", header: bool = True) -> DataFrame:
    """All-string CSV read; no NA coercion (empty stays '')."""
    df = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("inferSchema", False)
        .option("nullValue", "\u0000")  # sentinel: nothing maps to null
        .option("emptyValue", "")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    # univocity still yields null for unquoted empty fields regardless of
    # emptyValue; the reference's keep_default_na=False means NO nulls ever
    # in a raw read, so coalesce each column to '' (folds into the scan
    # projection — no extra stage)
    df = df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in df.columns])
    return df


def read_json_quarantine(spark: SparkSession, path: str,
                         schema: StructType) -> tuple[DataFrame, DataFrame]:
    """Schema-checked JSON read with corrupt-record routing: returns
    (good, quarantine). Malformed lines land — whole — in the
    quarantine frame instead of aborting the load or silently nulling
    (the reference's posture for messy API dumps: load what parses,
    keep the rest for inspection; FAILFAST would lose the batch,
    DROPMALFORMED would lose the evidence).

    One scan serves both frames (same cached source relation); the
    split is a pair of codegen'd filters on the corrupt column.
    """
    with_corrupt = schema.add("_corrupt_record", StringType())
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark forbids filtering on the corrupt column straight off the
        # scan (SPARK-38523: referencing only internal columns); cache
        # materializes the parse once and lifts the restriction.
        .cache()
    )
    good = (df.filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record"))
    bad = (df.filter(F.col("_corrupt_record").isNotNull())
           .select(F.col("_corrupt_record").alias("raw")))
    return good, bad


def first_local_file(path: str) -> str:
    """The first data file (sorted by name) behind a local file path,
    glob or directory — the sample the driver-side sniffers read.
    Directories, whether given or matched by the glob, yield their own
    first data file; names starting with ``_`` or ``.`` (``_SUCCESS``,
    ``.crc`` side files) are never data, as in Spark's file listing.
    """
    if os.path.isfile(path):
        return path
    pattern = os.path.join(path, "*") if os.path.isdir(path) else path
    for match in sorted(glob.glob(pattern)):
        if os.path.basename(match).startswith(("_", ".")):
            continue
        if os.path.isfile(match):
            return match
        if os.path.isdir(match):
            try:
                return first_local_file(match)
            except FileNotFoundError:
                continue
    raise FileNotFoundError(path)


def sniff_separator(spark: SparkSession, path: str,
                    candidates: tuple[str, ...] = (",", ";")) -> str:
    """F8: pick the separator with most hits on the first line.

    A local path (file, glob or directory) is sniffed on the driver from
    the first line of ``first_local_file(path)``, read as bytes: the
    candidates are ASCII, so the count is the same in UTF-8, cp1252 and
    cp850 drops alike. URIs with a scheme, and paths not on the local
    disk (a cluster's default file system), take one line through Spark.
    """
    if not urlparse(path).scheme:
        try:
            with open(first_local_file(path), "rb") as f:
                head = f.readline()
            return max(candidates, key=lambda c: head.count(c.encode()))
        except FileNotFoundError:
            pass
    first = spark.read.text(path).limit(1).collect()
    if not first:
        return candidates[0]
    line = first[0][0]
    return max(candidates, key=line.count)


def read_fixed_width(spark: SparkSession, path: str,
                     fields: list[tuple[str, int, int]],
                     encoding: str = "UTF-8") -> DataFrame:
    """S24: fixed-width text -> columns via substring slicing.

    ``fields`` = [(name, start_1_based, length), ...]. One narrow
    projection per file split — scales linearly, no Python parsing.
    """
    text = spark.read.option("encoding", encoding).text(path)
    return text.select(*[
        F.trim(F.substring(F.col("value"), start, length)).alias(name)
        for name, start, length in fields
    ])


_INSERT_RE = r"(?i)^INSERT\s+INTO\s+([\w\.\"]+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.*);?\s*$"


def read_sql_dump(spark: SparkSession, path: str) -> DataFrame:
    """S25: parse single-line `INSERT INTO t (...) VALUES (...);` statements
    into (table_name, columns array, values-tuple text) rows.

    Multi-line statements are joined upstream (the reference accumulates
    until ';'); here each complete statement is one text line. The heavy
    per-tuple split runs distributed via regexp on executors.
    """
    text = spark.read.text(path)
    parsed = text.select(
        F.regexp_extract("value", _INSERT_RE, 1).alias("table_name"),
        F.split(F.regexp_replace(F.regexp_extract("value", _INSERT_RE, 2), r"\s", ""), ",").alias("columns"),
        F.regexp_extract("value", _INSERT_RE, 3).alias("values_raw"),
    ).filter(F.col("table_name") != "")
    # split multi-tuple VALUES (a,b),(c,d) into one row per tuple
    tuples = parsed.select(
        "table_name", "columns",
        F.explode(
            F.regexp_extract_all(F.col("values_raw"), F.lit(r"\(([^()]*)\)"), F.lit(1))
        ).alias("tuple_raw"),
    )
    return tuples


def dump_rows_for_table(dump: DataFrame, table: str,
                        ncols: int | None = None) -> DataFrame:
    """Route parsed dump tuples for one table; CSV-split the tuple body.

    The split is JVM-side `from_csv` with a single-quote quote char —
    values with quoted commas (`'y,z'`) parse correctly and the whole
    projection stays inside whole-stage codegen (no BatchEvalPython; the
    round-1 row-at-a-time Python UDF here was the repo's one per-row
    Python hot path). ``ncols`` sizes the CSV schema; when omitted it is
    derived from one sample tuple (bounded 1-row driver fetch — tuples of
    one table share an arity by construction of the INSERT statement).
    """
    routed = dump.filter(F.col("table_name") == table)
    if ncols is None:
        first = routed.select("tuple_raw").first()
        if first is None:
            return routed.withColumn(
                "fields", F.lit(None).cast("array<string>"))
        reader = _csv.reader(io.StringIO(first["tuple_raw"]),
                             quotechar="'", skipinitialspace=True)
        ncols = len(next(reader, []))
    field_names = [f"_c{i}" for i in range(ncols)]
    schema = ", ".join(f"`{n}` string" for n in field_names)
    opts = {"quote": "'", "ignoreLeadingWhiteSpace": "true"}
    parsed = routed.withColumn(
        "_p", F.from_csv(F.col("tuple_raw"), F.lit(schema), opts))
    return (
        parsed.withColumn(
            "fields", F.array(*[F.col(f"_p.{n}") for n in field_names]))
        .drop("_p")
    )


def all_string_schema(names: list[str]) -> StructType:
    return StructType([StructField(n, StringType()) for n in names])
