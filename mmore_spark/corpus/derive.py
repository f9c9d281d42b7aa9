"""Deterministic interleaved-document derivation from the driver's
``documents`` test table (doc_id, text, …).

The sandbox test tables are TPC-H-ish word salad — no entities.  To make
the KG pipeline oracle-checkable AND scale with the driver's sf, we derive
the input corpus deterministically FROM that table:

  * plant exactly one relation sentence per document, chosen by the 60-bit
    md5 hash of doc_id (template = h % 12, subject/object aliases indexed
    by further hash digits) — computable identically in Spark SQL, DuckDB
    SQL and plain Python (mmore_spark.sqlgen primitives);
  * wrap the augmented text into the spans form (one text span + hash-
    derived media spans) for the pipeline path.

Planted sentences use the closed vocabulary (corpus/vocab.py), so the rule
extractor and the DuckDB regex oracle (``entryqueries._kg_triples_sql``)
both recover them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import hashing
from ..sqlgen import SPARK, Dialect, rx_escape, sql_quote
from . import vocab

# Flattened alias pool per entity type (deterministic order).
POOLS: dict[str, list[str]] = {
    etype: [a for cluster in clusters for a in cluster]
    for etype, clusters in vocab.ALIAS_CLUSTERS.items()
}

N_TEMPLATES = len(vocab.RELATION_TEMPLATES)


def _parts(tmpl: str) -> tuple[str, str, str]:
    head, rest = tmpl.split("{s}")
    mid, tail = rest.split("{o}")
    return head, mid, tail


def plant_py(doc_id) -> tuple[str, str, str, str, str, str]:
    """Python twin: (sentence, subj, stype, pred, obj, otype)."""
    h = hashing.h60_py(str(doc_id))
    tmpl, stype, otype, pred, _w = vocab.RELATION_TEMPLATES[h % N_TEMPLATES]
    ps, po = POOLS[stype], POOLS[otype]
    subj = ps[(h // N_TEMPLATES) % len(ps)]
    obj = po[(h // (N_TEMPLATES * 100)) % len(po)]
    return tmpl.format(s=subj, o=obj), subj, stype, pred, obj, otype


def sentence_sql(d: Dialect, doc_id_expr: str = "doc_id") -> str:
    """Dialect SQL computing the planted sentence for a doc id."""
    h = d.h60(f"cast({doc_id_expr} as string)")
    branches = []
    for k, (tmpl, stype, otype, _pred, _w) in enumerate(vocab.RELATION_TEMPLATES):
        head, mid, tail = _parts(tmpl)
        ps, po = POOLS[stype], POOLS[otype]
        sidx = f"cast({d.intdiv(h, N_TEMPLATES)} % {len(ps)} as int) + 1"
        oidx = f"cast({d.intdiv(h, N_TEMPLATES * 100)} % {len(po)} as int) + 1"
        subj = d.elem(d.arr(ps), sidx)
        obj = d.elem(d.arr(po), oidx)
        sent = " || ".join(
            x for x in [sql_quote(head) if head else "", subj, sql_quote(mid), obj,
                        sql_quote(tail)] if x
        )
        branches.append(f"WHEN {k} THEN {sent}")
    return f"CASE cast({h} % {N_TEMPLATES} as int) " + " ".join(branches) + " END"


def text2_sql(d: Dialect, text_expr: str = "text", doc_id_expr: str = "doc_id") -> str:
    """Augmented text: base word-salad + '. ' + planted sentence."""
    return f"({text_expr} || '. ' || {sentence_sql(d, doc_id_expr)})"


def extraction_patterns() -> list[tuple[str, str, str, str]]:
    """(pattern, pred, subj_type, obj_type) per template — backslash-free
    regexes with type-specific alias alternations (precise + fast)."""
    out = []
    for tmpl, stype, otype, pred, _w in vocab.RELATION_TEMPLATES:
        head, mid, tail = _parts(tmpl)
        alt_s = "|".join(rx_escape(a) for a in POOLS[stype])
        alt_o = "|".join(rx_escape(a) for a in POOLS[otype])
        pattern = (
            rx_escape(head) + f"({alt_s})" + rx_escape(mid) + f"({alt_o})" + rx_escape(tail)
        )
        out.append((pattern, pred, stype, otype))
    return out


def template_dim(spark: SparkSession) -> DataFrame:
    """12-row template dimension (broadcast side; Arrow local relation —
    no PythonRDD stage in any consumer plan, functions/localrel.py)."""
    from ..functions.localrel import local_df

    rows = []
    for k, (tmpl, stype, otype, pred, _w) in enumerate(vocab.RELATION_TEMPLATES):
        head, mid, tail = _parts(tmpl)
        rows.append((k, head, mid, tail, pred, stype, otype,
                     len(POOLS[stype]), len(POOLS[otype])))
    return local_df(
        spark, rows,
        "k int, head string, mid string, tail string, pred string, "
        "stype string, otype string, slen int, olen int")


def pool_dim(spark: SparkSession) -> DataFrame:
    """~300-row alias-pool dimension (broadcast side; Arrow local relation)."""
    from ..functions.localrel import local_df

    rows = [
        (etype, i, alias)
        for etype, pool in POOLS.items()
        for i, alias in enumerate(pool)
    ]
    return local_df(spark, rows, "etype string, idx int, alias string")


def augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text, t2) via broadcast dimension joins — the Spark-native
    twin of text2_sql.  Keeps the ~70-element alias literals OUT of
    whole-stage codegen (a giant CASE of array literals overflows janino's
    64KB method limit and silently falls back to interpreted eval)."""
    from ..hashing import h60

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", h60(F.col("doc_id").cast("string")).alias("h"))
    t = F.broadcast(template_dim(spark))
    p = pool_dim(spark)
    joined = (
        base.withColumn("k", F.pmod("h", F.lit(N_TEMPLATES)).cast("int"))
        .join(t, "k")
        .withColumn("sidx",
                    F.pmod(F.expr(f"h div {N_TEMPLATES}"), F.col("slen")).cast("int"))
        .withColumn("oidx",
                    F.pmod(F.expr(f"h div {N_TEMPLATES * 100}"), F.col("olen")).cast("int"))
        .join(F.broadcast(p.withColumnRenamed("alias", "subj_alias")),
              (F.col("stype") == F.col("etype")) & (F.col("sidx") == F.col("idx")))
        .drop("etype", "idx")
        .join(F.broadcast(p.withColumnRenamed("alias", "obj_alias")),
              (F.col("otype") == F.col("etype")) & (F.col("oidx") == F.col("idx")))
    )
    return joined.select(
        "doc_id",
        "text",
        F.concat(F.col("text"), F.lit(". "), F.col("head"), F.col("subj_alias"),
                 F.col("mid"), F.col("obj_alias"), F.col("tail")).alias("t2"),
    )


def derived_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, spans) interleaved table derived from sf_dir/documents:
    one text span holding the augmented text, plus 0-2 hash-derived media
    spans — the pipeline-shaped input at driver scale."""
    augmented(spark, sf_dir).withColumn(
        "t2p", F.concat(F.col("t2"), F.lit(" "))
    ).createOrReplaceTempView("__derive_base")
    h = SPARK.h60("cast(doc_id as string)")
    return spark.sql(
        f"""
        SELECT cast(doc_id as string) AS doc_id,
               CASE cast({h} % 4 as int)
                 WHEN 0 THEN array(
                   named_struct('kind', 'text', 'text', t2p,
                                'media_ref', cast(null as string), 'offset', 0))
                 WHEN 1 THEN array(
                   named_struct('kind', 'image', 'text', cast(null as string),
                                'media_ref', concat('media/', doc_id, '/m-0.bin'), 'offset', 0),
                   named_struct('kind', 'text', 'text', t2p,
                                'media_ref', cast(null as string), 'offset', 1))
                 WHEN 2 THEN array(
                   named_struct('kind', 'text', 'text', t2p,
                                'media_ref', cast(null as string), 'offset', 0),
                   named_struct('kind', 'audio', 'text', cast(null as string),
                                'media_ref', concat('media/', doc_id, '/m-0.bin'), 'offset', 1))
                 ELSE array(
                   named_struct('kind', 'video', 'text', cast(null as string),
                                'media_ref', concat('media/', doc_id, '/m-0.bin'), 'offset', 0),
                   named_struct('kind', 'text', 'text', t2p,
                                'media_ref', cast(null as string), 'offset', 1),
                   named_struct('kind', 'image', 'text', cast(null as string),
                                'media_ref', concat('media/', doc_id, '/m-1.bin'), 'offset', 2))
               END AS spans
        FROM __derive_base
        """
    )
