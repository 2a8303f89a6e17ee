"""Lakehouse sink — the reference's create/append/overwrite semantics
(K1/K2, utils/tasks.py:812-1001) over partitioned Parquet.

Partition layout is the reference's exact Hive scheme
ano_particao=YYYY/mes_particao=M/data_particao=YYYY-MM-DD
(utils/tasks.py:773, 1276-1309), so partition pruning on any of the three
levels is free. ``overwrite`` relies on dynamic partitionOverwriteMode
(session default) so a daily re-run replaces only its own date partitions
— the behavior the reference implements by deleting per-date folders.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pipelines_rj_sms_spark.operators.conform import with_date_partitions

PARTITION_COLS = ["ano_particao", "mes_particao", "data_particao"]


def write_table(df: DataFrame, path: str, mode: str = "append",
                ts_col: str | None = None,
                partition: bool = True,
                file_format: str = "parquet") -> dict:
    """K1/K2: write a batch to the lakehouse.

    mode='append'  -> add files to existing partitions
    mode='overwrite' -> replace only the partitions present in ``df``
    ``file_format``: any Spark batch sink built in to the distribution
    ("parquet" default; "orc" / "json" / "csv" verified) — the same
    dynamic-partition-overwrite semantics apply to all of them.

    Returns metrics observed on the rows as they stream into the write
    job (a ``pyspark.sql.Observation``, so no extra pass over ``df``):
    ``{"rows": <rows written>, "partitions": <data_particao values
    written>}``. ``partitions`` is ``None`` when the table is not
    date-partitioned and holds ``None`` for rows whose ``ts_col`` is
    null; ``read_written`` reads back exactly these partitions.

    Empty input (Q9, utils/tasks.py:950-951) leaves an existing table's
    data unchanged in every mode and creates no table: an empty
    partitioned write adds no data file (append and dynamic overwrite
    touch no partition), and what an empty write leaves at a path that
    did not exist before (the directory and ``_SUCCESS``) is removed.
    An unpartitioned overwrite would replace the table with an empty
    file, so it alone probes ``isEmpty()`` before writing.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if partition and ts_col is not None:
        df = with_date_partitions(df, ts_col)
    present = [c for c in PARTITION_COLS if c in df.columns] if partition else []
    if mode == "overwrite" and not present and df.isEmpty():
        return {"rows": 0, "partitions": None}
    metrics = [F.count(F.lit(1)).alias("rows")]
    if "data_particao" in present:
        # collect_set skips nulls; a struct is never null, so the null
        # date of rows with a null ts_col stays in the set
        metrics.append(
            F.collect_set(F.struct("data_particao")).alias("partitions"))
    observation = Observation()
    existed = table_exists(path)
    # per-write dynamic overwrite (Spark 3.0+): self-contained even on a
    # session whose default is static — where mode('overwrite') to the
    # base path would silently delete every partition not in this batch
    writer = (df.observe(observation, *metrics).write.mode(mode)
              .option("partitionOverwriteMode", "dynamic"))
    if present:
        writer = writer.partitionBy(*present)
    writer.format(file_format).save(path)
    observed = observation.get
    if observed["rows"] == 0 and not existed:
        shutil.rmtree(path, ignore_errors=True)
    partitions = observed.get("partitions")
    return {"rows": observed["rows"],
            "partitions": None if partitions is None
            else [p["data_particao"] for p in partitions]}


def read_table(spark: SparkSession, path: str,
               file_format: str = "parquet") -> DataFrame:
    """Partition-discovering read of a lakehouse table."""
    return (spark.read.option("basePath", path)
            .format(file_format).load(path))


def read_written(spark: SparkSession, path: str, schema: StructType,
                 partitions: list | None) -> DataFrame:
    """Read back the partitions one ``write_table`` call landed in a
    parquet table, leaving the rest of it unopened: ``schema`` (the
    written frame's) replaces footer inference (a Spark job), partition
    columns missing from it are typed from the directory names, and
    ``partitions`` (the write's observed ``data_particao`` values;
    ``None`` = not date-partitioned, read everything) prunes the scan.
    """
    from pyspark.sql import functions as F

    back = spark.read.schema(schema).option("basePath", path).parquet(path)
    if partitions is None:
        return back
    pred = F.col("data_particao").isin([p for p in partitions if p is not None])
    if None in partitions:
        pred = pred | F.col("data_particao").isNull()
    return back.filter(pred)


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 keys: list[str], order_col: str,
                 ts_col: str | None = None) -> None:
    """Keyed upsert into a partitioned lakehouse table, touching ONLY the
    date partitions present in the updates (MERGE-like semantics without
    a table format: the reference's keep-last reverse-ETL upsert —
    bq_to_subpav/utils.py:299-350 — applied to the lakehouse).

    Plan: derive the updates' partition values -> read just those
    partitions from the target (partition pruning, not a full scan) ->
    union -> deterministic keep-last per key (W3 window, largest
    ``order_col`` wins; incoming rows beat existing on ties) -> dynamic
    overwrite rewrites only those partitions. Cost scales with the
    touched partitions, never the table — a daily upsert against a
    10-year table reads and rewrites one day.

    Scope caveat (inherent to partition-scoped merges): a key whose rows
    live in an UNtouched partition is not deduplicated against incoming
    rows — if keys can move across dates, dedup at read time (W3) or
    merge with the full partition span of the key.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if ts_col is not None:
        updates = with_date_partitions(updates, ts_col)
    part_cols = [c for c in PARTITION_COLS if c in updates.columns]
    if not part_cols:
        raise ValueError("merge_upsert needs date-partition columns "
                         f"({PARTITION_COLS}); pass ts_col to derive them")
    updates = updates.withColumn("_is_update", F.lit(1))

    if table_exists(path):
        # partition-prune the target read to the updates' partitions;
        # collect() here is bounded by the number of touched dates, not
        # data size; no touched date means the updates are empty
        touched = [tuple(r) for r in
                   updates.select(*part_cols).distinct().collect()]
        if not touched:
            return
        existing = read_table(spark, path).withColumn("_is_update", F.lit(0))
        pred = F.lit(False)
        for vals in touched:
            row_match = F.lit(True)
            for c, v in zip(part_cols, vals):
                row_match = row_match & (F.col(c) == F.lit(v))
            pred = pred | row_match
        merged = existing.filter(pred).unionByName(updates)
    elif updates.isEmpty():
        return
    else:
        merged = updates

    # keep-last: largest order_col wins; an update beats an existing row
    # with the same order value (the reference's replace semantics).
    # Remaining columns are appended as tiebreaks so two updates sharing
    # (key, order) pick a deterministic winner across shuffles — same
    # discipline as dedup_keep_last.
    tiebreaks = [F.col(c).desc() for c in merged.columns
                 if c not in set(keys) | {order_col, "_is_update"}]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col("_is_update").desc(), *tiebreaks)
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_update")
    )
    (result.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*part_cols).parquet(path))


def table_exists(path: str) -> bool:
    return os.path.exists(path)


def partition_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition file census: (partition, n_files, total_bytes,
    avg_file_bytes). Drives the compaction loop — a daily-append table
    accretes one small file per run per partition; this surfaces the
    partitions worth rewriting. Metadata-only (directory listing), no
    data scan.
    """
    rows = []
    for dirpath, _dirs, files in os.walk(path):
        parquet = [f for f in files if f.endswith(".parquet")]
        if not parquet:
            continue
        sizes = [os.path.getsize(os.path.join(dirpath, f)) for f in parquet]
        rel = os.path.relpath(dirpath, path)
        rows.append((rel if rel != "." else "", len(sizes), sum(sizes),
                     float(sum(sizes)) / len(sizes)))
    return spark.createDataFrame(
        rows, "partition string, n_files int, total_bytes long, avg_file_bytes double")


def compact_partitions(spark: SparkSession, path: str,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       sort_cols: list[str] | None = None,
                       small_file_bytes: int | None = None,
                       zorder: bool = False) -> int:
    """Rewrite fragmented partitions into ~``target_file_bytes`` files
    (the OPTIMIZE/compaction maintenance pass every append-heavy
    lakehouse needs; with ``sort_cols`` it is OPTIMIZE ... ZORDER's
    single-dimension analog: sorted files carry tight min/max footer
    stats, so scans with predicates on ``sort_cols`` skip whole files).

    Only partitions whose average file size is below ``small_file_bytes``
    (default: target/2) are rewritten — dynamic partition overwrite
    leaves the healthy ones untouched, so the pass costs O(fragmented
    data), not O(table). Parallelism inside a partition is preserved by
    salting the shuffle with ceil(bytes/target) buckets per partition —
    one giant date never serializes into one task.

    Returns the number of partitions rewritten.
    """
    from pyspark.sql import functions as F

    small_file_bytes = small_file_bytes or target_file_bytes // 2
    stats = [(r["partition"], r["total_bytes"]) for r in
             partition_stats(spark, path)
             .filter((F.col("avg_file_bytes") < small_file_bytes)
                     & (F.col("n_files") > 1))
             .collect()]
    if not stats:
        return 0

    part_cols: list[str] = []
    if stats and "=" in stats[0][0]:
        part_cols = [seg.split("=")[0] for seg in stats[0][0].split(os.sep)]

    df = read_table(spark, path)
    if part_cols:
        # restrict the rewrite to the fragmented partitions
        pred = F.lit(False)
        for rel, _bytes in stats:
            row_match = F.lit(True)
            for seg in rel.split(os.sep):
                c, v = seg.split("=", 1)
                row_match = row_match & (F.col(c).cast("string") == v)
            pred = pred | row_match
        frag = df.filter(pred)
    else:
        frag = df  # unpartitioned: the whole table is the rewrite unit

    total_buckets = max(1, sum(-(-b // target_file_bytes) for _rel, b in stats))
    if sort_cols and zorder and len(sort_cols) > 1:
        # multi-column skipping: Morton-interleave the sort cols so
        # every one of them gets partially tight footer stats
        # (operators/zorder.py; Delta OPTIMIZE ZORDER semantics)
        from pipelines_rj_sms_spark.operators.zorder import zorder_key

        frag = frag.withColumn("_zkey", zorder_key(frag, sort_cols))
        cluster = [F.col(c) for c in part_cols] + [F.col("_zkey")]
        frag = (frag.repartitionByRange(total_buckets, *cluster)
                .sortWithinPartitions(*part_cols, "_zkey").drop("_zkey"))
        writer = (frag.write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic"))
    elif sort_cols:
        # range-partition on (partition cols, sort cols): files come out
        # with non-overlapping sort-key ranges — footer min/max stats
        # then let scans skip whole files (ZORDER's 1-D analog)
        cluster = [F.col(c) for c in part_cols + sort_cols]
        frag = frag.repartitionByRange(total_buckets, *cluster)
        # pre-sort on the partition cols first: the dynamic-partition
        # writer requires that ordering and would otherwise inject its
        # own (non-stable) sort, destroying the sort-key clustering
        frag = frag.sortWithinPartitions(*part_cols, *sort_cols)
        writer = (frag.write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic"))
    else:
        # plain bin-packing: hash-salt so one giant partition still
        # compacts in parallel
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in frag.columns]),
                      F.lit(total_buckets))
        frag = frag.withColumn("_salt", salt)
        frag = frag.repartition(*(part_cols + ["_salt"])) if part_cols \
            else frag.repartition("_salt")
        writer = (frag.drop("_salt").write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic"))
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(path)
    return len(stats)


def expire_partitions(path: str, keep_days: int,
                      today: "date | None" = None,
                      dry_run: bool = False) -> list[str]:
    """Retention sweep: delete date partitions older than ``keep_days``
    (the reference's per-date folder cleanup, made explicit and
    guarded). Returns the partition-relative paths it removed — or
    WOULD remove with ``dry_run=True``; run that first in anything
    scheduled.

    Driver-side directory walk only (cost is O(partition count), never
    data); deletion is per data_particao leaf, so ano/mes levels shrink
    naturally as their children empty.
    """
    from datetime import date, timedelta

    if keep_days < 1:
        raise ValueError("keep_days must be >= 1 (refusing a full wipe)")
    cutoff = (today or date.today()) - timedelta(days=keep_days)
    removed: list[str] = []
    for ano in sorted(os.listdir(path)):
        if not ano.startswith("ano_particao="):
            continue
        ano_dir = os.path.join(path, ano)
        for mes in sorted(os.listdir(ano_dir)):
            mes_dir = os.path.join(ano_dir, mes)
            for dp in sorted(os.listdir(mes_dir)):
                if not dp.startswith("data_particao="):
                    continue
                try:
                    d = date.fromisoformat(dp.split("=", 1)[1])
                except ValueError:
                    continue          # never delete what we can't parse
                if d < cutoff:
                    removed.append(os.path.join(ano, mes, dp))
                    if not dry_run:
                        shutil.rmtree(os.path.join(mes_dir, dp))
            if not dry_run and not os.listdir(mes_dir):
                os.rmdir(mes_dir)
        if not dry_run and not os.listdir(ano_dir):
            os.rmdir(ano_dir)
    return removed


def scd2_merge(spark: SparkSession, path: str, updates: DataFrame,
               keys: list[str], ts_col: str,
               valid_from: str = "valid_from",
               valid_to: str = "valid_to") -> None:
    """Type-2 history merge: instead of overwriting a changed row
    (merge_upsert's type-1 semantics), close the current version
    (``valid_to`` = the update's timestamp) and append the new one —
    the full-history dimension the reference approximates with daily
    snapshot partitions, at one row per actual change instead of one
    row per key per day.

    Change detection = md5 over the JSON of all non-key, non-validity
    columns, so a re-delivered identical row is a no-op (idempotent
    replays). Updates collapse to keep-last per key first; intra-batch
    intermediate versions are not historized (same as running the
    merges sequentially per batch).

    Storage is an unpartitioned parquet snapshot rewritten via staging
    swap (local-FS rename; use a table format on object stores).
    History tables grow by changed rows only, and the rewrite cost is
    the CURRENT row set + closed history — acceptable for dimensions,
    wrong for facts (use append + dedup-at-read there).
    """
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.operators.dedup import dedup_keep_last

    latest = dedup_keep_last(updates, keys=keys, order_col=ts_col)
    # change detection looks only at business payload: the delivery
    # timestamp and validity columns vary per batch by construction and
    # would turn every re-delivery into a phantom change
    payload_cols = [c for c in latest.columns
                    if c not in keys and c not in (ts_col, valid_from,
                                                   valid_to)]
    incoming = (
        latest.withColumn(valid_from, F.col(ts_col).cast("timestamp"))
        .withColumn(valid_to, F.lit(None).cast("timestamp"))
    )

    def fingerprint(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_fp", F.md5(F.to_json(F.struct(*sorted(payload_cols)))))

    if not table_exists(path):
        incoming.write.mode("overwrite").parquet(path)
        return

    cur = spark.read.parquet(path)
    closed = cur.filter(F.col(valid_to).isNotNull())
    open_rows = cur.filter(F.col(valid_to).isNull())

    inc = fingerprint(incoming).alias("u")
    opn = fingerprint(open_rows).alias("o")
    j = opn.join(inc, keys, "full_outer")

    key_cols = [F.col(k) for k in keys]
    o_cols = [F.col(f"o.{c}") for c in cur.columns if c not in keys]
    u_cols = [F.col(f"u.{c}") for c in cur.columns if c not in keys]

    unchanged = (j.filter(F.col("o._fp").isNotNull()
                          & (F.col("u._fp").isNull()
                             | (F.col("u._fp") == F.col("o._fp"))))
                 .select(*key_cols, *o_cols))
    closed_now = (j.filter(F.col("o._fp").isNotNull()
                           & F.col("u._fp").isNotNull()
                           & (F.col("u._fp") != F.col("o._fp")))
                  .select(*key_cols,
                          *[F.col(f"u.{valid_from}").alias(valid_to)
                            if c == valid_to else F.col(f"o.{c}")
                            for c in cur.columns if c not in keys]))
    new_open = (j.filter(F.col("u._fp").isNotNull()
                         & (F.col("o._fp").isNull()
                            | (F.col("u._fp") != F.col("o._fp"))))
                .select(*key_cols, *u_cols))

    result = closed.unionByName(
        unchanged.unionByName(closed_now).unionByName(new_open))
    staging = f"{path}__staging"
    result.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
