"""End-to-end config-driven ingestion (SURVEY §3.1 entry point A)."""

from pathlib import Path

from pyspark.sql import functions as F

from pipelines_rj_sms_spark.jobs import IngestionConfig, run_ingestion, run_many
from pipelines_rj_sms_spark.sinks import lakehouse


def test_csv_ingestion_end_to_end(spark, tmp_path):
    src = tmp_path / "src.csv"
    # cp1252 encoding + ';' separator + accented headers: the full conform
    # path (sniff F8, detect F7, clean names C1, audit cols, partitions)
    src.write_bytes(
        "Código;Situação;Data Atualização\n"
        "1;ativo;2024-01-01 10:00:00\n"
        "2;inativo;2024-02-15 11:30:00\n"
        "3;;2024-02-15 12:00:00\n".encode("cp1252")
    )
    sink = str(tmp_path / "lake" / "tbl")
    cfg = IngestionConfig(
        name="estabelecimentos",
        source_format="csv",
        source_path=str(src),
        sink_path=sink,
        ts_col="data_atualizacao",
        casts={"data_atualizacao": "timestamp"},
        run_id="r1",
    )
    rep = run_ingestion(spark, cfg)
    assert rep.ok and rep.rows_read == 3 and rep.rows_written == 3

    out = spark.read.option("basePath", sink).parquet(sink)
    assert set(["codigo", "situacao", "data_atualizacao", "_loaded_at",
                "_source", "_run_id", "ano_particao", "mes_particao",
                "data_particao"]) <= set(out.columns)
    # Hive partition dirs on disk (the reference's exact layout)
    parts = {p.name for p in Path(sink).glob("ano_particao=*/mes_particao=*/data_particao=*")}
    assert "data_particao=2024-02-15" in parts
    # empty CSV field stayed '' through conform, not null
    assert out.filter("codigo = '3'").first()["situacao"] == ""


def test_ingestion_append_then_overwrite_partition(spark, tmp_path):
    sink = str(tmp_path / "lake2")
    d1 = tmp_path / "d1.csv"
    d1.write_text("id,ts\n1,2024-01-01 00:00:00\n2,2024-01-02 00:00:00\n")
    cfg1 = IngestionConfig(name="t", source_format="csv", source_path=str(d1),
                           sink_path=sink, ts_col="ts", csv_sep=",",
                           csv_encoding="utf-8", run_id="r1")
    assert run_ingestion(spark, cfg1).ok

    # day-2 re-run overwrites ONLY its own partition (dynamic overwrite)
    d2 = tmp_path / "d2.csv"
    d2.write_text("id,ts\n9,2024-01-02 00:00:00\n")
    cfg2 = IngestionConfig(name="t", source_format="csv", source_path=str(d2),
                           sink_path=sink, ts_col="ts", csv_sep=",",
                           csv_encoding="utf-8", dump_mode="overwrite", run_id="r2")
    run_ingestion(spark, cfg2)

    out = spark.read.option("basePath", sink).parquet(sink)
    ids = sorted(r["id"] for r in out.select("id").collect())
    assert ids == ["1", "9"]  # day-1 row kept, day-2 row replaced


def test_run_many(spark, tmp_path):
    a = tmp_path / "a.csv"
    a.write_text("x,ts\n1,2024-01-01 00:00:00\n")
    cfgs = [
        IngestionConfig(name=f"t{i}", source_format="csv", source_path=str(a),
                        sink_path=str(tmp_path / f"lake_{i}"), ts_col="ts",
                        csv_sep=",", csv_encoding="utf-8")
        for i in range(2)
    ]
    reps = run_many(spark, cfgs)
    assert all(r.ok for r in reps) and len(reps) == 2


def test_xlsx_ingestion_and_custom_reader(spark, tmp_path):
    from test_xlsx import _make_xlsx

    wb = tmp_path / "wb.xlsx"
    _make_xlsx(wb)
    cfg = IngestionConfig(name="x", source_format="xlsx",
                          source_path=str(wb),
                          sink_path=str(tmp_path / "lake_x"))
    rep = run_ingestion(spark, cfg)
    assert rep.ok and rep.rows_written == 2

    # injectable acquire stage (the sliced/scroll/API sources plug here)
    def fake_reader(spark_, cfg_):
        return spark_.createDataFrame([("7", "2024-01-01 00:00:00")],
                                      ["id", "ts"])

    cfg2 = IngestionConfig(name="r", source_format="custom",
                           source_path="", reader=fake_reader,
                           sink_path=str(tmp_path / "lake_r"), ts_col="ts")
    rep2 = run_ingestion(spark, cfg2)
    assert rep2.ok and rep2.rows_written == 1


def test_run_many_parallel_threads(spark, tmp_path):
    a = tmp_path / "p.csv"
    a.write_text("x,ts\n1,2024-01-01 00:00:00\n2,2024-01-02 00:00:00\n")
    cfgs = [
        IngestionConfig(name=f"p{i}", source_format="csv", source_path=str(a),
                        sink_path=str(tmp_path / f"plake_{i}"), ts_col="ts",
                        csv_sep=",", csv_encoding="utf-8")
        for i in range(3)
    ]
    reps = run_many(spark, cfgs, parallelism=2)
    assert [r.name for r in reps] == ["p0", "p1", "p2"]  # order preserved
    assert all(r.ok and r.rows_written == 2 for r in reps)


def test_k_anonymity_gate_flags_release(spark, tmp_path):
    a = tmp_path / "k.csv"
    # bairro B identifies a single person -> k=2 must flag
    a.write_text("bairro,idade,ts\nA,30,2024-01-01 00:00:00\n"
                 "A,30,2024-01-01 00:00:00\nB,44,2024-01-01 00:00:00\n")
    cfg = IngestionConfig(name="k", source_format="csv", source_path=str(a),
                          sink_path=str(tmp_path / "klake"), ts_col="ts",
                          csv_sep=",", csv_encoding="utf-8",
                          k_anon=(["bairro", "idade"], 2))
    rep = run_ingestion(spark, cfg)
    kcheck = [c for c in rep.checks if c.name == "k_anonymity"][0]
    assert not kcheck.passed and kcheck.details["violating_groups"] == 1
    assert not rep.ok


def _drop(path, day, ids):
    path.write_text("id,ts\n" + "".join(
        f"{i},2024-01-0{day} 0{i % 10}:00:00\n" for i in ids))
    return str(path)


def _cfg(source_path, sink, run_id, **kw):
    return IngestionConfig(name="t", source_format="csv",
                           source_path=source_path, sink_path=sink,
                           ts_col="ts", run_id=run_id, **kw)


def test_directory_source_path_loads(spark, tmp_path):
    # a bare directory with csv_sep/csv_encoding unset: separator and
    # encoding are sniffed from its first data file, Spark's side files
    # skipped
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "_SUCCESS").write_text("")
    (drop / "part-0.csv").write_bytes(
        "Código;ts\n1;2024-01-01 00:00:00\n2;2024-01-02 00:00:00\n"
        .encode("cp1252"))
    rep = run_ingestion(spark, _cfg(str(drop), str(tmp_path / "lake"), "r1"))
    assert rep.ok and rep.rows_read == 2 and rep.rows_written == 2


def test_ingestion_empty_source_new_sink(spark, tmp_path):
    src = tmp_path / "empty.csv"
    src.write_text("id,ts\n")
    sink = tmp_path / "lake"
    rep = run_ingestion(spark, _cfg(str(src), str(sink), "r1"))
    assert not rep.ok and rep.rows_read == 0 and rep.rows_written == 0
    assert [c.name for c in rep.checks if not c.passed] == ["non_empty"]
    assert not sink.exists()


def test_ingestion_null_ts_rows_reconcile(spark, tmp_path):
    # rows whose ts does not cast land in the default (null) partition;
    # the pruned read-back must still find them
    src = tmp_path / "n.csv"
    src.write_text("id,ts\n1,2024-01-01 00:00:00\n2,not a date\n")
    rep = run_ingestion(spark, _cfg(str(src), str(tmp_path / "lake"), "r1",
                                    casts={"ts": "timestamp"}))
    assert rep.ok and rep.rows_read == 2 and rep.rows_written == 2


def test_reconciliation_reads_files_not_the_observed_count(
        spark, tmp_path, monkeypatch):
    # a write that lands only half its rows must fail the reconciliation:
    # the loaded side is a read of the files, not the write's own count
    frame_cls = type(spark.range(0))
    write = frame_cls.write

    def half_write(self):
        return write.fget(self.filter(F.col("id").cast("int") % 2 == 0))

    monkeypatch.setattr(frame_cls, "write", property(half_write))
    src = _drop(tmp_path / "d.csv", 1, range(10))
    rep = run_ingestion(spark, _cfg(src, str(tmp_path / "lake"), "r1",
                                    csv_sep=",", csv_encoding="utf-8"))
    recon = [c for c in rep.checks if c.name == "count_reconciliation"][0]
    assert not rep.ok and not recon.passed
    assert recon.details["source"] == 10 and recon.details["loaded"] == 5


def test_ingestion_never_opens_untouched_partitions(spark, tmp_path):
    sink = str(tmp_path / "lake")
    assert run_ingestion(spark, _cfg(_drop(tmp_path / "d1.csv", 1, [1, 2]),
                                     sink, "r1")).ok
    (Path(sink) / "ano_particao=2024" / "mes_particao=1"
     / "data_particao=2024-01-01" / "stray.parquet").write_text("not parquet")
    rep = run_ingestion(spark, _cfg(_drop(tmp_path / "d2.csv", 2, [3, 4, 5]),
                                    sink, "r2"))
    assert rep.ok and rep.rows_read == 3 and rep.rows_written == 3


def test_ingestion_and_merge_job_counts(spark, tmp_path, count_jobs):
    # a load into an existing 2-partition table: CSV header, write,
    # read-back count (2 jobs under adaptive execution) — no count,
    # emptiness, separator or footer-inference jobs
    sink = str(tmp_path / "lake")
    assert run_ingestion(spark, _cfg(_drop(tmp_path / "d1.csv", 1, [1, 2]),
                                     sink, "r1")).ok
    assert run_ingestion(spark, _cfg(_drop(tmp_path / "d2.csv", 2, [3]),
                                     sink, "r2")).ok
    day3 = _cfg(_drop(tmp_path / "d3.csv", 3, [4, 5]), sink, "r3")
    reps = []
    assert count_jobs(lambda: reps.append(run_ingestion(spark, day3))) <= 4
    assert reps[0].ok and reps[0].rows_written == 2

    # merge into an existing table: touched-partition collect, footer
    # inference, windowed rewrite — no separate emptiness probe
    updates = (lakehouse.read_table(spark, sink)
               .filter(F.col("_run_id") == "r1")
               .withColumn("version", F.lit(2))
               .drop("ano_particao", "mes_particao", "data_particao"))
    updates = spark.createDataFrame(updates.collect(), updates.schema)
    target = str(tmp_path / "merged")
    lakehouse.merge_upsert(spark, target, updates.limit(1), keys=["id"],
                           order_col="version", ts_col="ts")
    assert count_jobs(lambda: lakehouse.merge_upsert(
        spark, target, updates, keys=["id"], order_col="version",
        ts_col="ts")) <= 5
    assert lakehouse.read_table(spark, target).count() == 2
