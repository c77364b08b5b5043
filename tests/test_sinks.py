"""Sink semantics: the JDBC executor, ledger anti-join dedup,
quarantine capture, end-to-end reference ETL. The keyed txtable MERGE
the ETL commits through (idempotency + update-wins, FIXTURES.md §B) is
tested in test_txlog.py."""

import glob
import json
import os
import uuid

from data_pipeline_demo_spark.plans.reference_etl import PipelineConfig, run_ingest
from data_pipeline_demo_spark.sinks.txlog import read_txtable, txtable_history
from data_pipeline_demo_spark.sinks.upsert import (
    append_ledger,
    new_files,
    upsert_jdbc,
    upsert_sql,
)
from data_pipeline_demo_spark.sources.csv_ingest import (
    DEALER_TRANSACTIONS_SCHEMA,
    read_csv_with_quarantine,
)

CSV_HEADER = (
    "id,TransactionDatetime,Amount,TotalAmount,Surcharge,MSF,Tip,Cashout,"
    "Extras,Levy,ServiceFee,TxnFee,Rebate"
)


class RecordingConnectionFactory:
    """Picklable DB-API stand-in: each connection journals executemany
    calls to a unique JSONL file under `dir_path` (executor-side), so the
    driver-side test can read back exactly what would hit Postgres."""

    def __init__(self, dir_path):
        self.dir_path = dir_path

    def __call__(self):
        return _RecordingConnection(self.dir_path)


class _RecordingConnection:
    def __init__(self, dir_path):
        self.path = os.path.join(dir_path, f"conn_{uuid.uuid4().hex}.jsonl")
        self.calls = []
        self.committed = False

    def cursor(self):
        return _RecordingCursor(self)

    def commit(self):
        self.committed = True
        with open(self.path, "w") as f:
            for sql, params in self.calls:
                f.write(json.dumps({"sql": sql, "params": params}) + "\n")

    def rollback(self):
        self.calls.clear()

    def close(self):
        pass


class _RecordingCursor:
    def __init__(self, conn):
        self.conn = conn

    def executemany(self, sql, seq):
        self.conn.calls.append((sql, [list(p) for p in seq]))


def test_upsert_jdbc_executes_batched_statements(spark, tmp_path):
    # the factory unpickles inside executor Python workers, which don't
    # have pytest's rootdir on sys.path — ship this module to them
    spark.sparkContext.addPyFile(os.path.abspath(__file__))
    rec_dir = str(tmp_path / "rec")
    os.makedirs(rec_dir)
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(10)], "id long, amount double"
    ).repartition(2)
    upsert_jdbc(df, "transactions", RecordingConnectionFactory(rec_dir), batch_size=3)

    files = glob.glob(os.path.join(rec_dir, "*.jsonl"))
    assert len(files) == 2  # one connection per non-empty partition
    all_params, sqls, batch_sizes = [], set(), []
    for p in files:
        for line in open(p):
            call = json.loads(line)
            sqls.add(call["sql"])
            batch_sizes.append(len(call["params"]))
            all_params.extend(call["params"])
    assert sqls == {upsert_sql("transactions", ["id", "amount"])}
    assert sorted(all_params) == [[i, i * 1.5] for i in range(10)]
    assert max(batch_sizes) <= 3  # chunking honored


def test_upsert_sql_render():
    sql = upsert_sql("transactions", ["id", "amount", "msf"])
    assert "ON CONFLICT (id) DO UPDATE" in sql
    assert "amount = EXCLUDED.amount" in sql
    assert "id = EXCLUDED.id" not in sql


def test_ledger_dedup_guard(spark, tmp_path):
    ledger_path = str(tmp_path / "ledger")
    append_ledger(spark, ledger_path, "a.csv", "2025/04/30", 10, "subj")
    ledger = spark.read.parquet(ledger_path)
    cands = spark.createDataFrame(
        [("a.csv", "2025/04/30"), ("b.csv", "2025/05/01")],
        "filename string, filedate string",
    )
    fresh = new_files(cands, ledger).collect()
    assert [r["filename"] for r in fresh] == ["b.csv"]


def test_csv_quarantine(spark, tmp_path):
    p = tmp_path / "in.csv"
    good = "10001,30/04/2025 19:36," + ",".join(["$1.00"] * 11)
    # 30 comma-separated fields: cannot fit the 13-column schema
    bad = ",".join(["x"] * 30)
    p.write_text(f"{CSV_HEADER}\n{good}\n{bad}\n")
    good_df, quarantine = read_csv_with_quarantine(
        spark, str(p), DEALER_TRANSACTIONS_SCHEMA
    )
    assert good_df.count() == 1
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["raw_record"].startswith("x,x,")


def test_json_scan_explicit_schema(spark, sf_dir, tmp_path):
    """S5: JSON-lines scan with explicit schema round-trips the same rows
    the parquet source holds (no inference drift)."""
    from data_pipeline_demo_spark.sources.csv_ingest import read_json
    from data_pipeline_demo_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents").limit(100)
    p = str(tmp_path / "docs_json")
    docs.write.mode("overwrite").json(p)
    back = read_json(spark, p, docs.schema)
    assert back.schema == docs.schema
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_json_quarantine(spark, tmp_path):
    from pyspark.sql import types as T

    from data_pipeline_demo_spark.sources.csv_ingest import (
        read_json_with_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "{broken json!!\n"
        '{"id": 2, "v": "b"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good, quarantine = read_json_with_quarantine(spark, str(p), schema)
    assert {r["id"] for r in good.collect()} == {1, 2}
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["raw_record"].startswith("{broken")


def test_reference_etl_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    row1 = "1,30/04/2025 19:36,$10.00,$100.00,$1.00,-$5.00,,,,,,,"
    row2 = "2,12/4/25 20:46,$20.00,$200.00,$2.00,$6.00,,,,,,,"
    (landing / "dealer_2025-04-30.csv").write_text(f"{CSV_HEADER}\n{row1}\n{row2}\n")

    events = []
    cfg = PipelineConfig(
        landing_dir=str(landing),
        target_path=str(tmp_path / "target"),
        ledger_path=str(tmp_path / "ledger"),
        quarantine_path=str(tmp_path / "quarantine"),
        notify_start=lambda f, n: events.append(("start", f, n)),
        notify_complete=lambda f, n: events.append(("done", f, n)),
    )
    report = run_ingest(spark, cfg)
    assert len(report["processed"]) == 1
    assert report["processed"][0]["rows"] == 2
    assert report["processed"][0]["qa"]["checksum_total"] == 300.0
    # EP2 step-5 ordering: notify-start before notify-complete
    assert [e[0] for e in events] == ["start", "done"]
    target = {r["id"]: r for r in read_txtable(spark, cfg.target_path).collect()}
    assert target[1]["MSF"] == 5.0  # abs-normalized

    # second run: ledger guard skips the already-ingested file (O1/P4)
    report2 = run_ingest(spark, cfg)
    assert report2["processed"] == [] and report2["skipped"] == 1


def test_reference_etl_multifile_batch(spark, tmp_path):
    """N landing files are ONE Spark read; per-file rows/QA/ledger and
    notification ordering survive the batching."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "dealer_2025-05-01.csv").write_text(
        f"{CSV_HEADER}\n1,30/04/2025 19:36,$10.00,$100.00,,,,,,,,,\n"
        f"2,30/04/2025 19:37,$20.00,$200.00,,,,,,,,,\n"
    )
    (landing / "dealer_2025-05-02.csv").write_text(
        f"{CSV_HEADER}\n3,01/05/2025 08:00,$30.00,$300.00,,,,,,,,,\n"
    )
    events = []
    cfg = PipelineConfig(
        landing_dir=str(landing),
        target_path=str(tmp_path / "target"),
        ledger_path=str(tmp_path / "ledger"),
        quarantine_path=str(tmp_path / "quarantine"),
        notify_start=lambda f, n: events.append(("start", f, n)),
        notify_complete=lambda f, n: events.append(("done", f, n)),
    )
    report = run_ingest(spark, cfg)
    by_file = {p["file"]: p for p in report["processed"]}
    assert by_file["dealer_2025-05-01.csv"]["rows"] == 2
    assert by_file["dealer_2025-05-02.csv"]["rows"] == 1
    assert by_file["dealer_2025-05-01.csv"]["qa"]["checksum_total"] == 300.0
    assert by_file["dealer_2025-05-02.csv"]["qa"]["checksum_total"] == 300.0
    # every start precedes every complete (write happens between)
    starts = [i for i, e in enumerate(events) if e[0] == "start"]
    dones = [i for i, e in enumerate(events) if e[0] == "done"]
    assert max(starts) < min(dones)
    assert {r["id"] for r in read_txtable(spark, cfg.target_path).collect()} == {1, 2, 3}
    ledger = {r["filename"]: r["num_rows"] for r in spark.read.parquet(cfg.ledger_path).collect()}
    assert ledger == {"dealer_2025-05-01.csv": 2, "dealer_2025-05-02.csv": 1}
    # rerun: everything skipped
    report2 = run_ingest(spark, cfg)
    assert report2["processed"] == [] and report2["skipped"] == 2


REFERENCE_XML = """<config>
  <supabase><bucketName>dealer-data</bucketName><tableName>transactions</tableName></supabase>
  <mail><sender>ops@example.com</sender><to>finance@example.com</to>
        <subject>Daily ingest</subject><message_text>done</message_text></mail>
</config>"""


def test_xml_config_parse_and_dispatch(spark, tmp_path):
    """S6/O2: the reference's XML config shape parses strictly, loads
    through the Hadoop FS API (file:// URI), and dispatches the ETL."""
    import pytest

    from data_pipeline_demo_spark.sources.xml_config import (
        load_reference_config,
        parse_reference_config,
        to_pipeline_config,
    )

    cfg = parse_reference_config(REFERENCE_XML)
    assert cfg.bucket_name == "dealer-data"
    assert cfg.table_name == "transactions"
    assert cfg.to == "finance@example.com"

    # missing element raises with the path named (no silent None)
    with pytest.raises(ValueError, match="supabase/tableName"):
        parse_reference_config("<config><supabase><bucketName>x</bucketName></supabase></config>")
    with pytest.raises(ValueError, match="not well-formed"):
        parse_reference_config("<config><broken")

    p = tmp_path / "config.xml"
    p.write_text(REFERENCE_XML)
    loaded = load_reference_config(spark, "file://" + str(p))
    assert loaded == cfg

    # config-driven dispatch: end-to-end run over the mapped layout
    landing = tmp_path / "dealer-data" / "Data"
    landing.mkdir(parents=True)
    (landing / "dealer_2025-04-30.csv").write_text(
        f"{CSV_HEADER}\n1,30/04/2025 19:36,$10.00,$100.00,,,,,,,,,\n"
    )
    pcfg = to_pipeline_config(loaded, str(tmp_path))
    assert pcfg.landing_dir.endswith("dealer-data/Data")
    report = run_ingest(spark, pcfg)
    assert report["processed"][0]["rows"] == 1
    assert read_txtable(spark, str(tmp_path / "transactions")).count() == 1


def test_run_ingest_batch_qa_observation(spark, tmp_path):
    """Whole-batch QA metrics ride the upsert scan via df.observe: the
    report's batch_qa matches the per-file QA rows summed."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "dealer_2025-06-01.csv").write_text(
        f"{CSV_HEADER}\n1,30/04/2025 19:36,$10.00,$100.00,,,,,,,,,\n"
        f"2,30/04/2025 19:37,$20.00,$200.00,,,,,,,,,\n"
    )
    (landing / "dealer_2025-06-02.csv").write_text(
        f"{CSV_HEADER}\n3,01/05/2025 08:00,$30.00,$300.00,,,,,,,,,\n"
    )
    cfg = PipelineConfig(
        landing_dir=str(landing),
        target_path=str(tmp_path / "target"),
        ledger_path=str(tmp_path / "ledger"),
        quarantine_path=str(tmp_path / "quarantine"),
    )
    report = run_ingest(spark, cfg)
    qa = report["batch_qa"]
    per_file = [p["qa"] for p in report["processed"]]
    assert qa["n_rows"] == sum(p["n_rows"] for p in per_file) == 3
    assert qa["checksum_total"] == sum(p["checksum_total"] for p in per_file)
    assert qa["n_dates_parsed"] == 3 and qa["n_dates_null"] == 0
    assert qa["date_min"] == min(p["date_min"] for p in per_file)
    assert qa["date_max"] == max(p["date_max"] for p in per_file)


def test_run_ingest_supersedes_across_runs(spark, tmp_path):
    """A later landing file carrying an already-ingested id updates
    that row: the target is a txtable, so the superseded row is gone
    from the snapshot and each run is one version in its history."""
    landing = tmp_path / "landing"
    landing.mkdir()
    cfg = PipelineConfig(
        landing_dir=str(landing),
        target_path=str(tmp_path / "target"),
        ledger_path=str(tmp_path / "ledger"),
        quarantine_path=str(tmp_path / "quarantine"),
    )
    (landing / "dealer_2025-06-01.csv").write_text(
        f"{CSV_HEADER}\n1,30/04/2025 19:36,$10.00,$100.00,,,,,,,,,\n"
        f"2,30/04/2025 19:37,$20.00,$200.00,,,,,,,,,\n"
    )
    run_ingest(spark, cfg)
    (landing / "dealer_2025-06-02.csv").write_text(
        f"{CSV_HEADER}\n1,01/05/2025 08:00,$15.00,$150.00,,,,,,,,,\n"
    )
    report = run_ingest(spark, cfg)
    assert report["skipped"] == 1
    assert report["processed"][0]["target_total"] == 2
    got = {r["id"]: r["Amount"] for r in read_txtable(spark, cfg.target_path).collect()}
    assert got == {1: 15.0, 2: 20.0}
    assert len(txtable_history(spark, cfg.target_path)) == 2
