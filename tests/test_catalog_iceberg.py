"""IcebergCatalog interface-level tests through fakes (SURVEY.md M6):
the Iceberg runtime jar does not exist in this sandbox, so the
catalog's writeTo/append/create/snapshot logic is exercised against
recording stand-ins for the Spark surfaces it touches. What these
tests pin: the exact DataFrameWriterV2 call sequences, the
namespace-qualified identifiers, the create-vs-append branch, the
bucket-transform translation of bucket_by, and the snapshot query.
"""

from miekki.catalog import IcebergCatalog


class FakeWriter:
    def __init__(self, log, tbl):
        self.log = log
        self.tbl = tbl

    def tableProperty(self, k, v):
        self.log.append(("prop", self.tbl, k, v))
        return self

    def using(self, fmt):
        self.log.append(("using", self.tbl, fmt))
        return self

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", self.tbl, len(cols),
                         [str(c) for c in cols]))
        return self

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.tbl))

    def create(self):
        self.log.append(("create", self.tbl))

    def append(self):
        self.log.append(("append", self.tbl))


class FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, tbl):
        self.log.append(("writeTo", tbl))
        return FakeWriter(self.log, tbl)


class FakeRow(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class FakeSQLResult:
    def __init__(self, row, rows):
        self.row = row
        self.rows = rows

    def first(self):
        return self.row

    def collect(self):
        return self.rows


class FakeCatalogAPI:
    def __init__(self, existing):
        self.existing = existing

    def tableExists(self, ident):
        return ident in self.existing


class FakeSpark:
    def __init__(self, existing=(), snapshot_row=None, rows=()):
        self.catalog = FakeCatalogAPI(set(existing))
        self.snapshot_row = snapshot_row
        self.rows = list(rows)
        self.sql_log = []

    def sql(self, q):
        self.sql_log.append(q)
        return FakeSQLResult(self.snapshot_row, self.rows)


def test_overwrite_call_sequence():
    spark = FakeSpark()
    cat = IcebergCatalog(spark, "lake.dedup")
    log = []
    cat.overwrite("signatures", FakeDF(log), "r42")
    assert log[0] == ("writeTo", "lake.dedup.signatures")
    assert ("prop", "lake.dedup.signatures", "write.run-id", "r42") in log
    assert ("using", "lake.dedup.signatures", "iceberg") in log
    assert log[-1] == ("createOrReplace", "lake.dedup.signatures")
    assert not any(e[0] == "partitionedBy" for e in log)


def test_overwrite_bucket_by_translates_to_bucket_transform(spark):
    # needs a live JVM only to build the Column transform objects
    fake = FakeSpark()
    cat = IcebergCatalog(fake, "lake.dedup")
    log = []
    cat.overwrite("signatures", FakeDF(log), "r1",
                  bucket_by=(64, ["doc_id"]))
    pb = [e for e in log if e[0] == "partitionedBy"]
    assert len(pb) == 1 and pb[0][2] == 1
    assert "bucket(64, doc_id" in pb[0][3][0]
    assert log[-1][0] == "createOrReplace"


def test_append_creates_when_missing_appends_when_present():
    log = []
    cat = IcebergCatalog(FakeSpark(existing=()), "lake.dedup")
    cat.append("lineage", FakeDF(log))
    assert log[-1] == ("create", "lake.dedup.lineage")

    log2 = []
    cat2 = IcebergCatalog(FakeSpark(existing={"lake.dedup.lineage"}),
                          "lake.dedup")
    cat2.append("lineage", FakeDF(log2))
    assert log2 == [("writeTo", "lake.dedup.lineage"),
                    ("append", "lake.dedup.lineage")]


def test_snapshot_id_queries_latest_snapshot():
    spark = FakeSpark(existing={"lake.dedup.signatures"},
                      snapshot_row=FakeRow(snapshot_id=123456789))
    cat = IcebergCatalog(spark, "lake.dedup")
    assert cat.snapshot_id("signatures") == "123456789"
    q = spark.sql_log[-1]
    assert "lake.dedup.signatures.snapshots" in q
    assert "ORDER BY committed_at DESC" in q
    assert cat.snapshot_id("nope") is None


def test_data_files_lists_rows_and_bytes():
    spark = FakeSpark(existing={"lake.dedup.signatures"},
                      rows=[FakeRow(record_count=10,
                                    file_size_in_bytes=4096),
                            FakeRow(record_count=3,
                                    file_size_in_bytes=900)])
    cat = IcebergCatalog(spark, "lake.dedup")
    assert cat.data_files("signatures") == [(10, 4096), (3, 900)]
    q = spark.sql_log[-1]
    assert "record_count" in q and "file_size_in_bytes" in q
    assert "lake.dedup.signatures.files" in q


def test_corpus_ddl_hidden_partitioning():
    """r4 (ROADMAP r1 #4 string surface): the corpus DDL carries the
    hidden-partitioning spec (lang + days(warc_ts)), the input_hint
    schema, and sane write properties — validated at SQL-text level
    because partition transforms exist only in DDL and the runtime
    jar is absent here."""
    from miekki.catalog import iceberg_corpus_ddl

    ddl = iceberg_corpus_ddl("lake.dedup")
    assert "CREATE TABLE IF NOT EXISTS lake.dedup.corpus" in ddl
    assert "PARTITIONED BY (lang, days(warc_ts))" in ddl
    assert "USING iceberg" in ddl
    for col in ("url string", "warc_ts timestamp", "html binary",
                "text string", "lang string"):
        assert col in ddl, col
    assert "write.distribution-mode" in ddl


def test_maintenance_sql_covers_expiry_orphans_compaction():
    from miekki.catalog import iceberg_maintenance_sql

    calls = iceberg_maintenance_sql("lake.dedup", "stream_signatures",
                                    older_than_days=3)
    joined = "\n".join(calls)
    assert "expire_snapshots" in joined and "interval 3 days" in joined
    assert "remove_orphan_files" in joined
    assert "rewrite_data_files" in joined
    assert all("lake.dedup.stream_signatures" in c for c in calls)
