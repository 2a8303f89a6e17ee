"""Config-driven ingestion jobs — the engine's top-level entry point.

The reference drives ~34 extract-load flows from parameter tables
(pipelines/datalake/extract_load/subpav_mysql/schedules.py:33-80
TABELAS_CONFIG: table, schema, frequency, dump_mode, relative date
filter) through a fixed shape: acquire -> conform -> partition -> load,
with quality gates (SURVEY §3.1 entry point A). ``run_ingestion`` is
that shape as one function over a declarative ``IngestionConfig``: a
user of the reference moves a row of TABELAS_CONFIG here 1:1.

Everything stays lazy until the write, the only pass over the source:
the write job itself observes the rows it writes and the date
partitions they land in (``lakehouse.write_table``), which give
``rows_read`` and the non-empty gate. One more job verifies: a count of
the files on disk, read back with the written frame's schema (no footer
inference) and pruned to the touched partitions and this run's
``_run_id``. That count is both the loaded side of the count
reconciliation and ``rows_written``, and the k-anonymity gate reads the
same pruned frame — the reference's alert-then-fail posture (a failed
check flags the report; nothing raises). An empty source writes nothing,
creates no sink and fails ``non_empty``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pipelines_rj_sms_spark.operators.conform import (
    conform,
    ensure_columns,
    safe_cast_columns,
)
from pipelines_rj_sms_spark.quality.checks import CheckResult, reconcile_counts
from pipelines_rj_sms_spark.sinks import lakehouse
from pipelines_rj_sms_spark.sources.files import (
    first_local_file,
    read_csv_raw,
    sniff_separator,
)
from pipelines_rj_sms_spark.sources.formats import detect_encoding, read_dbf


@dataclass
class IngestionConfig:
    """One TABELAS_CONFIG row, Spark-side."""

    name: str                                  # logical table name
    source_format: str                         # csv | parquet | json | dbf | xlsx
    source_path: str
    sink_path: str
    dump_mode: str = "append"                  # append | overwrite
    ts_col: str | None = None                  # drives ano/mes/data_particao
    csv_sep: str | None = None                 # None -> sniff (F8)
    csv_encoding: str | None = None            # None -> detect (F7)
    expected_columns: dict[str, str] = field(default_factory=dict)
    casts: dict[str, str] = field(default_factory=dict)
    run_id: str | None = None
    reconcile_tolerance: float = 0.05
    # escape hatch for fetch-stage sources (sliced/scroll scans, API
    # fan-out): a callable (spark, cfg) -> DataFrame used instead of
    # source_format when set — the acquire stage stays pluggable the
    # way the reference's per-flow extract tasks are
    reader: object | None = None
    # privacy release gate: (quasi-identifier columns, k) — the load is
    # flagged (report.ok False) when any quasi combination identifies
    # fewer than k rows; column names are the POST-conform cleaned ones
    k_anon: tuple[list[str], int] | None = None


@dataclass
class IngestionReport:
    name: str
    rows_read: int
    rows_written: int
    checks: list[CheckResult]

    @property
    def ok(self) -> bool:
        return all(c.passed for c in self.checks)


def _read_source(spark: SparkSession, cfg: IngestionConfig) -> DataFrame:
    if cfg.reader is not None:
        return cfg.reader(spark, cfg)
    fmt = cfg.source_format.lower()
    if fmt == "csv":
        sep = cfg.csv_sep or sniff_separator(spark, cfg.source_path)
        enc = cfg.csv_encoding or detect_encoding(first_local_file(cfg.source_path))
        return read_csv_raw(spark, cfg.source_path, sep=sep, encoding=enc)
    if fmt == "parquet":
        return spark.read.parquet(cfg.source_path)
    if fmt == "json":
        return spark.read.json(cfg.source_path)
    if fmt == "dbf":
        sample = first_local_file(cfg.source_path)
        return read_dbf(spark, cfg.source_path, sample)
    if fmt == "xlsx":
        from pipelines_rj_sms_spark.sources.formats import read_xlsx
        return read_xlsx(spark, first_local_file(cfg.source_path))
    raise ValueError(f"unknown source_format: {cfg.source_format!r}")


def run_ingestion(spark: SparkSession, cfg: IngestionConfig) -> IngestionReport:
    """acquire -> conform -> (casts/contract) -> partitioned write -> verify."""
    df = conform(_read_source(spark, cfg), source=cfg.name)
    if cfg.run_id is not None:
        from pyspark.sql import functions as F

        df = df.withColumn("_run_id", F.lit(cfg.run_id))
    if cfg.expected_columns:
        df = ensure_columns(df, cfg.expected_columns)
    if cfg.casts:
        df = safe_cast_columns(df, cfg.casts)

    # cfg.ts_col refers to the post-conform (cleaned) column name
    write = lakehouse.write_table(df, cfg.sink_path, mode=cfg.dump_mode,
                                  ts_col=cfg.ts_col)
    rows_read = write["rows"]
    checks = [CheckResult("non_empty", rows_read > 0, {})]
    if rows_read == 0:
        return IngestionReport(cfg.name, 0, 0, checks)

    written = lakehouse.read_written(spark, cfg.sink_path, df.schema,
                                     write["partitions"])
    if cfg.run_id is not None:
        written = written.filter(written["_run_id"] == cfg.run_id)
    reconciled = reconcile_counts(rows_read, written, cfg.reconcile_tolerance)
    checks.append(reconciled)
    if cfg.k_anon is not None:
        from pipelines_rj_sms_spark.quality.checks import (
            k_anonymity_violations)

        quasi, k = cfg.k_anon
        n_bad = k_anonymity_violations(written, quasi, k).count()
        checks.append(CheckResult(
            "k_anonymity", n_bad == 0,
            {"quasi": quasi, "k": k, "violating_groups": n_bad}))
    return IngestionReport(cfg.name, rows_read,
                           reconciled.details["loaded"], checks)


def run_many(spark: SparkSession, configs: list[IngestionConfig],
             parallelism: int = 1) -> list[IngestionReport]:
    """The manager fan-out (O1/O2): one report per config row, in config
    order. ``parallelism`` mirrors the reference's intra-flow
    LocalDaskExecutor(num_workers=2) (relational_db/flows.py:104):
    driver threads submit concurrent Spark jobs and the scheduler
    interleaves their stages — useful when single tables underfill the
    cluster (small files, skinny JDBC slices). Each job is already
    internally parallel, so keep this small (the reference uses 2).
    Use the progress table (operators/progress.py) for resumability.
    """
    if parallelism <= 1:
        return [run_ingestion(spark, cfg) for cfg in configs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(parallelism, len(configs))) as pool:
        return list(pool.map(lambda c: run_ingestion(spark, c), configs))
