"""io/iceberg: the Iceberg materialization path.  The runtime jar is
absent in this sandbox, so the jar-free parts (session conf, DDL and
MERGE generation, fallback routing) are what is tested — on a cluster
with the jar these exact strings drive the production tables."""

from pyspark.sql import types as T

from mmore_spark.io import iceberg as I


def test_ddl_from_schema_with_nested_types():
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]))),
        T.StructField("weight", T.DoubleType()),
        T.StructField("n_docs", T.LongType()),
    ])
    ddl = I.create_table_ddl("kg.triples", schema,
                             partition_by=["bucket(32, doc_id)"])
    assert ddl == (
        "CREATE TABLE IF NOT EXISTS mmore.kg.triples ("
        "doc_id string, "
        "spans array<struct<kind: string, text: string, "
        "media_ref: string, offset: int>>, "
        "weight double, n_docs bigint) USING iceberg "
        "PARTITIONED BY (bucket(32, doc_id))"
    )


def test_merge_upsert_latest_wins_shape():
    sql = I.merge_upsert_sql("kg.results", "updates", key="file_path",
                             version_col="processed_at")
    assert "MERGE INTO mmore.kg.results t USING updates s" in sql
    assert "ON t.file_path = s.file_path" in sql
    assert ("WHEN MATCHED AND (s.processed_at >= t.processed_at "
            "OR t.processed_at IS NULL) THEN UPDATE SET *") in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # versionless: source always wins
    assert "WHEN MATCHED THEN UPDATE SET *" in I.merge_upsert_sql("x", "s")


def test_session_conf_and_incremental_read():
    conf = I.session_conf("s3://bucket/warehouse")
    assert conf["spark.sql.catalog.mmore"] == \
        "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.mmore.warehouse"] == "s3://bucket/warehouse"
    sql = I.incremental_read_sql("kg.triples", 100, 200)
    assert "_commit_snapshot_id > 100" in sql
    assert "_commit_snapshot_id <= 200" in sql
    assert "'insert', 'update_after'" in sql


def test_write_falls_back_without_runtime(spark, tmp_path, monkeypatch):
    """No jar in this sandbox: iceberg_available is False and write_table
    routes to the parquet fallback with the same content."""
    assert I.iceberg_available(spark) is False
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "subj string, weight double")
    import mmore_spark.io.tables as TBL

    captured = {}
    real = TBL.write_table

    def spy(d, path, stage):
        captured["stage"] = stage
        return real(d, str(tmp_path / "tbl"), stage)

    monkeypatch.setattr(TBL, "write_table", spy)
    summary = I.write_table(df, "kg.triples_global")
    assert captured["stage"] == "kg.triples_global"
    assert summary["rows"] == 2


def test_upsert_emits_ddl_then_merge_when_runtime_present(spark, monkeypatch):
    """VERDICT r04 #7: with the runtime present, the upsert path is
    CREATE-if-absent followed by one MERGE INTO with latest-wins — the
    statements the parquet two-rename swap emulates.  The jar is absent
    here, so the session is a recording stub."""

    class RecordingSession:
        def __init__(self):
            self.stmts = []

        def sql(self, s):
            self.stmts.append(s)

        def table(self, name):
            class _T:
                def count(self):
                    return 0
            return _T()

    monkeypatch.setattr(I, "iceberg_available", lambda s: True)
    updates = spark.createDataFrame(
        [("d1", "2024-01-01")], "doc_id string, processed_at string")
    monkeypatch.setattr(
        updates, "createOrReplaceTempView", lambda name: None)
    rec = RecordingSession()
    I.upsert_table(rec, "kg.docs", updates, key="doc_id",
                   version_col="processed_at")
    assert len(rec.stmts) == 2
    ddl, merge = rec.stmts
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS mmore.kg.docs")
    assert "USING iceberg" in ddl and "doc_id string" in ddl
    assert merge.startswith("MERGE INTO mmore.kg.docs t USING")
    assert "t.doc_id = s.doc_id" in merge
    assert "s.processed_at >= t.processed_at" in merge  # latest-wins
    assert "WHEN MATCHED" in merge and "WHEN NOT MATCHED THEN INSERT *" in merge


def test_upsert_falls_back_without_runtime(spark, tmp_path, monkeypatch):
    """In-sandbox the same call routes to io/tables.upsert_table and the
    merged result has identical latest-wins content."""
    import mmore_spark.io.tables as TBL

    assert I.iceberg_available(spark) is False
    path = {}
    real = TBL.upsert_table

    def spy(sp, p, updates, key="doc_id", version_col=None):
        path["p"] = p
        return real(sp, str(tmp_path / "t"), updates, key=key,
                    version_col=version_col)

    monkeypatch.setattr(TBL, "upsert_table", spy)
    v1 = spark.createDataFrame([("d1", 1), ("d2", 1)], "doc_id string, v int")
    I.upsert_table(spark, "kg.docs", v1, version_col="v")
    v2 = spark.createDataFrame([("d2", 2), ("d3", 1)], "doc_id string, v int")
    I.upsert_table(spark, "kg.docs", v2, version_col="v")
    got = {r["doc_id"]: r["v"]
           for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    assert got == {"d1": 1, "d2": 2, "d3": 1}
    assert "mmore_iceberg_fallback" in path["p"]
