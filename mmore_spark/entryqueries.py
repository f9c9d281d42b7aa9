"""Driver-facing query registry: each entry runs an mmore_spark operator
(a ``sources/registry`` parser, an ``operators/*`` stage, ``linking``,
``plans.pipeline`` or the derived spans table) on the Spark side and is
value-checked against an independent DuckDB oracle.

Conventions (driver contract):
  * each Spark callable takes (spark, sf_dir) and reads
    ``{sf_dir}/{table}.parquet``;
  * the DuckDB oracle references bare table names (the driver pre-registers
    the views of ``TABLES``);
  * every computed column is aliased IDENTICALLY on both sides;
  * floats that undergo engine-specific arithmetic are rounded and cast to
    double on both sides.

Operator ↔ reference map (SURVEY.md §2): see each query's docstring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import derive
from .sqlgen import DUCK, SPARK, Dialect, sql_quote

# the tables the oracles read
TABLES = ["events", "documents", "embeddings"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _register_views(spark: SparkSession, sf_dir: str, only: list[str]) -> None:
    """Register the named sf tables as temp views (each registration is a
    driver-side parquet schema read, ~100 ms)."""
    for t in only:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _df_query(name: str, fn: Callable[[SparkSession, str], DataFrame],
              oracle_sql: str) -> None:
    QUERIES[name] = fn
    ORACLE[name] = oracle_sql


# ===========================================================================
# KG extraction over the deterministically-derived corpus (SURVEY.md §2.6)
# ===========================================================================

def _kg_triples_sql() -> str:
    """Per-doc triple extraction: 12 template regexes over the augmented
    text (planted-sentence derivation, corpus/derive.py).  Reference
    semantics: names UPPERCASED (output_parser.py:55), one record per
    matched relationship."""
    t2 = derive.text2_sql(DUCK)
    arms = []
    for pattern, pred, _st, _ot in derive.extraction_patterns():
        p = sql_quote(pattern)
        arms.append(
            f"SELECT doc_id, upper(regexp_extract(t2, {p}, 1)) AS subj, "
            f"{sql_quote(pred)} AS pred, upper(regexp_extract(t2, {p}, 2)) AS obj "
            f"FROM base WHERE regexp_extract(t2, {p}, 1) <> ''"
        )
    return f"WITH base AS (SELECT doc_id, {t2} AS t2 FROM documents)\n" + "\nUNION ALL\n".join(arms)


def _kg_mentions_sql() -> str:
    """Entity mentions with types (subject and object slots of each
    matched template; distinct per doc — output_parser.py:59-70 node dedup)."""
    t2 = derive.text2_sql(DUCK)
    arms = []
    for pattern, _pred, stype, otype in derive.extraction_patterns():
        p = sql_quote(pattern)
        arms.append(
            f"SELECT doc_id, upper(regexp_extract(t2, {p}, 1)) AS entity_name, "
            f"{sql_quote(stype)} AS entity_type FROM base "
            f"WHERE regexp_extract(t2, {p}, 1) <> ''"
        )
        arms.append(
            f"SELECT doc_id, upper(regexp_extract(t2, {p}, 2)) AS entity_name, "
            f"{sql_quote(otype)} AS entity_type FROM base "
            f"WHERE regexp_extract(t2, {p}, 2) <> ''"
        )
    union = "\nUNION ALL\n".join(arms)
    return (
        f"WITH base AS (SELECT doc_id, {t2} AS t2 FROM documents)\n"
        f"SELECT DISTINCT doc_id, entity_name, entity_type FROM (\n{union}\n) m"
    )


# ===========================================================================
# Deduplication (training-data ops; minhash-LSH + jaccard verify)
# ===========================================================================

_DEDUP_NPERM = 8
_DEDUP_BAND_R = 2  # rows per band → 4 bands; P(collide) = 1-(1-J^2)^4


def _shingles_sql() -> str:
    words = "string_split(text, ' ')"
    n = f"len({words})"
    return (
        f"list_transform(range(1, greatest({n} - 2, 1) + 1), __i -> "
        f"concat(list_element({words}, __i), ' ', "
        f"coalesce(list_element({words}, __i + 1), ''), ' ', "
        f"coalesce(list_element({words}, __i + 2), '')))"
    )


def _minv_sql(shingles: str, perm: int) -> str:
    seeded = DUCK.h60(f"concat(__s, '#mh{perm}')")
    return f"list_min(list_transform({shingles}, __s -> {seeded}))"


def _band_arms_sql(src: str = "documents") -> str:
    """Per-doc BANDED signature rows (doc_id, band, bh): band hash = h60 of
    the concatenated r=2 min-hashes.  Banding is what keeps LSH sub-
    quadratic on corpora where everything shares common shingles: per-band
    collision probability is J^r, so weakly-similar pairs (J≈0.05) almost
    never collide while true near-dups (J≥0.8) hit ≥1 of 4 bands w.p. .98."""
    sh = _shingles_sql()
    arms = []
    n_bands = _DEDUP_NPERM // _DEDUP_BAND_R
    for b in range(n_bands):
        m0 = _minv_sql(sh, 2 * b)
        m1 = _minv_sql(sh, 2 * b + 1)
        bh = DUCK.h60(f"concat(cast({m0} as string), ':', cast({m1} as string))")
        arms.append(f"SELECT doc_id, {b} AS band, {bh} AS bh FROM {src}")
    return "\nUNION ALL\n".join(arms)


def _dedup_minhash_pairs_sql() -> str:
    """MinHash-LSH near-dup candidate pairs: docs sharing ≥1 banded key
    (shingle→minhash→band→bucket-join — the 100 TB dedup path)."""
    sig = _band_arms_sql()
    return (
        f"WITH sig AS (\n{sig}\n)\n"
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(*) AS BIGINT) AS n_shared FROM sig a JOIN sig b "
        "ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id"
    )


def _dedup_minhash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan: banded MinHash signatures computed in ONE Arrow-batched
    stage (operators/dedup.minhash_band_signatures — mapInPandas +
    hashlib, ~10× faster than Catalyst's interpreted nested higher-order
    functions for this many tiny md5 calls), then a native band
    self-join.  Values are identical to the SQL oracle twin (same
    md5-based h60 family, hashing.py).  This is the UNCAPPED baseline;
    the duplicate-family-safe production path is
    operators/dedup.candidate_edges (oracle: dedup_minhash_capped)."""
    from .operators.dedup import minhash_band_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sig = minhash_band_signatures(
        docs, n_perm=_DEDUP_NPERM, r=_DEDUP_BAND_R).persist()
    sig.count()  # fill the cache once; the self-join reads it twice
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        # materialize the (small) result so the signature cache can be freed
        .localCheckpoint()
    )
    sig.unpersist()
    return pairs


_df_query("dedup_minhash_pairs", _dedup_minhash_spark, _dedup_minhash_pairs_sql())


def _dedup_jaccard_sql() -> str:
    """Near-dup verification: exact word-set Jaccard ≥ 0.8 on the LSH
    candidate pairs (n-gram Jaccard family) — blocking keeps the pair
    space linear-ish; the exact check runs only on candidates."""
    pairs = _dedup_minhash_pairs_sql()
    inter = "len(list_intersect(wa, wb))"
    union = "len(list_distinct(list_concat(wa, wb)))"
    wd = "list_distinct(string_split(text, ' '))"
    return (
        f"WITH cand AS (\n{pairs}\n),\n"
        f"w AS (SELECT doc_id, {wd} AS ws FROM documents),\n"
        f"joined AS (SELECT cand.doc_a, cand.doc_b, wa.ws AS wa, wb.ws AS wb "
        f"FROM cand JOIN w wa ON cand.doc_a = wa.doc_id "
        f"JOIN w wb ON cand.doc_b = wb.doc_id)\n"
        f"SELECT doc_a, doc_b, "
        f"CAST(round({inter} * 1000000.0 / {union}, 0) AS BIGINT) AS jaccard_e6 "
        f"FROM joined WHERE round({inter} * 1.0 / {union}, 6) >= 0.8"
    )


def _dedup_jaccard_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact word-set Jaccard — the candidate
    set is tiny relative to the corpus, so the exact check is a broadcast-
    sized join, not a quadratic pass."""
    cand = _dedup_minhash_spark(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )
    wa = docs.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    wb = docs.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    j = (
        cand.join(wa, "doc_a").join(wb, "doc_b")
        .withColumn(
            "_jac",
            F.round(
                F.size(F.array_intersect("wa", "wb"))
                / F.size(F.array_union("wa", "wb")),
                6,
            ),
        )
        .filter(F.col("_jac") >= 0.8)
        .withColumn(
            "jaccard_e6",
            F.round(
                F.size(F.array_intersect("wa", "wb")) * 1000000.0
                / F.size(F.array_union("wa", "wb")),
                0,
            ).cast("long"),
        )
    )
    return j.select("doc_a", "doc_b", "jaccard_e6")


_df_query("dedup_jaccard_pairs", _dedup_jaccard_spark, _dedup_jaccard_sql())


# ===========================================================================
# Embedding near-dup groups (embeddings table)
# ===========================================================================

_ANN_DIM = 64
_EMB_TABLES = 4   # OR-amplification: L independent hash tables …
_EMB_PLANES = 3   # … of k hyperplanes each; P(candidate) = 1-(1-c^k)^L


def _emb_planes() -> list[list[int]]:
    from .hashing import h60_py

    return [
        [1 if h60_py(f"edp{p}:{i}") % 2 == 0 else -1 for i in range(_ANN_DIM)]
        for p in range(_EMB_TABLES * _EMB_PLANES)
    ]


def _emb_bucket_expr(d: Dialect, table: int) -> str:
    """Bucket id for one hash table: sign bits of its k projections."""
    planes = _emb_planes()
    bits = []
    for j in range(_EMB_PLANES):
        p = table * _EMB_PLANES + j
        lits = ", ".join(str(v) for v in planes[p])
        if d.is_spark:
            dot = (
                f"aggregate(zip_with(embedding, array({lits}), "
                f"(__ee{p}, __ew{p}) -> cast(__ee{p} as double) * __ew{p}), "
                f"cast(0.0 as double), (__ea{p}, __eb{p}) -> __ea{p} + __eb{p})"
            )
        else:
            dot = (
                f"list_dot_product(list_transform(embedding, __ee{p} -> "
                f"CAST(__ee{p} AS DOUBLE)), [{lits}])"
            )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _emb_buckets_sql(d: Dialect) -> str:
    """All hash-table bucket assignments.  Spark: ONE scan + explode of a
    4-struct array; DuckDB: UNION arms (oracle side only)."""
    if d.is_spark:
        structs = ", ".join(
            f"named_struct('tbl', {t}, 'bh', {_emb_bucket_expr(d, t)})"
            for t in range(_EMB_TABLES)
        )
        return (
            f"SELECT vec_id, tb.tbl AS tbl, tb.bh AS bh FROM embeddings "
            f"LATERAL VIEW explode(array({structs})) x AS tb"
        )
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, {_emb_bucket_expr(d, t)} AS bh "
        f"FROM embeddings"
        for t in range(_EMB_TABLES)
    )


def _dedup_embedding_pairs_sql(d: Dialect, threshold: float = 0.45,
                               buckets: str | None = None) -> str:
    """Embedding-cosine near-dup candidate pairs: OR-amplified hyperplane
    LSH — L=4 tables of k=3 planes; a pair is a candidate if it collides
    in ANY table (join key = (table, bucket), the 100 TB shuffle key) —
    verified by exact cosine ≥ threshold, rounded to 4dp so both engines
    agree.  ``buckets`` lets the Spark caller substitute a persisted
    bucket view so the self-join does not recompute the projections."""
    if buckets is None:
        buckets = _emb_buckets_sql(d)
    if d.is_spark:
        dcast = "transform(%s, __dc -> cast(__dc as double))"
        dot = ("aggregate(zip_with(ea, eb, (__dx, __dy) -> __dx * __dy), "
               "cast(0.0 as double), (__da, __db) -> __da + __db)")
        norm = lambda side: (  # noqa: E731
            f"sqrt(aggregate({side}, cast(0.0 as double), "
            f"(__dn{side[-1]}, __dv{side[-1]}) -> "
            f"__dn{side[-1]} + __dv{side[-1]} * __dv{side[-1]}))")
    else:
        dcast = "list_transform(%s, __dc -> CAST(__dc AS DOUBLE))"
        dot = "list_dot_product(ea, eb)"
        norm = lambda side: f"sqrt(list_dot_product({side}, {side}))"  # noqa: E731
    ea = dcast % "a.embedding"
    eb = dcast % "b.embedding"
    sim = f"round({dot} / ({norm('ea')} * {norm('eb')}), 4)"
    return (
        f"WITH bk AS ({buckets}),\n"
        f"pairs AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb "
        f"FROM bk x JOIN bk y "
        f"ON x.tbl = y.tbl AND x.bh = y.bh AND x.vec_id < y.vec_id),\n"
        f"j AS (SELECT va, vb, {ea} AS ea, {eb} AS eb FROM pairs "
        f"JOIN embeddings a ON pairs.va = a.vec_id "
        f"JOIN embeddings b ON pairs.vb = b.vec_id)\n"
        f"SELECT va, vb FROM j WHERE {sim} >= {threshold}"
    )


def _dedup_embedding_groups_duck() -> str:
    """Oracle: transitive closure of the near-dup pairs via a recursive
    CTE → groups with an elected keeper (min vec_id)."""
    pairs = _dedup_embedding_pairs_sql(DUCK)
    return f"""
WITH RECURSIVE
p AS ({pairs}),
nodes AS (SELECT va AS v FROM p UNION SELECT vb FROM p),
sym AS (SELECT va AS a, vb AS b FROM p UNION ALL SELECT vb, va FROM p),
reach(src, dst) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
)
SELECT CAST(min(dst) AS BIGINT) AS keeper_vec_id,
       string_agg(DISTINCT CAST(src AS VARCHAR), ',' ORDER BY CAST(src AS VARCHAR))
         AS members,
       CAST(count(DISTINCT src) AS BIGINT) AS group_size
FROM (SELECT src, min(dst) OVER (PARTITION BY src) AS comp, dst FROM reach) t
GROUP BY comp
"""


def _dedup_embedding_groups_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side: the REAL operators — hyperplane-LSH bucket self-join +
    exact-cosine verify + connected components (operators/linking.py).
    The bucket frame is persisted before the self-join (dedup_minhash
    pattern): one embeddings scan for bucketing instead of two."""
    from .operators import linking

    _register_views(spark, sf_dir, only=["embeddings"])
    bk = spark.sql(_emb_buckets_sql(SPARK)).persist()
    bk.count()
    bk.createOrReplaceTempView("__emb_bk")
    pairs = spark.sql(
        _dedup_embedding_pairs_sql(SPARK, buckets="SELECT * FROM __emb_bk")
    ).localCheckpoint()  # small result; frees the bucket cache below
    bk.unpersist()
    edges = pairs.select(
        F.col("va").cast("string").alias("name_a"),
        F.col("vb").cast("string").alias("name_b"),
    )
    nodes = edges.select(F.col("name_a").alias("name")).unionByName(
        edges.select(F.col("name_b").alias("name"))).distinct()
    comps = linking.connected_components(nodes, edges)
    return (
        comps.groupBy("component")
        .agg(
            F.min(F.col("name").cast("long")).alias("keeper_vec_id"),
            F.concat_ws(",", F.sort_array(F.collect_set("name"))).alias("members"),
            F.count_distinct("name").cast("long").alias("group_size"),
        )
        .drop("component")
    )


_df_query("dedup_embedding_groups", _dedup_embedding_groups_spark,
          _dedup_embedding_groups_duck())


def _dedup_groups_duck() -> str:
    """Oracle: transitive closure of jaccard-verified near-dup pairs via a
    recursive CTE → dedup groups with an elected keeper (min doc_id)."""
    pairs = _dedup_jaccard_sql()
    return f"""
WITH RECURSIVE
p AS ({pairs}),
nodes AS (SELECT doc_a AS d FROM p UNION SELECT doc_b FROM p),
sym AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
reach(src, dst) AS (
  SELECT d, d FROM nodes
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
)
SELECT CAST(min(dst) AS BIGINT) AS keeper_doc_id,
       string_agg(DISTINCT CAST(src AS VARCHAR), ',' ORDER BY CAST(src AS VARCHAR)) AS members,
       CAST(count(DISTINCT src) AS BIGINT) AS group_size
FROM (SELECT src, min(dst) OVER (PARTITION BY src) AS comp, dst FROM reach) t
GROUP BY comp
"""


def _dedup_groups_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side: the REAL operators — banded-LSH candidates + jaccard
    verify + connected components → dedup groups (keeper = min doc id)."""
    from .operators import linking

    pairs = _dedup_jaccard_spark(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").cast("string").alias("name_a"),
        F.col("doc_b").cast("string").alias("name_b"),
    )
    nodes = edges.select(F.col("name_a").alias("name")).unionByName(
        edges.select(F.col("name_b").alias("name"))).distinct()
    comps = linking.connected_components(nodes, edges)
    return (
        comps.groupBy("component")
        .agg(
            F.min(F.col("name").cast("long")).alias("keeper_doc_id"),
            F.concat_ws(",", F.sort_array(F.collect_set("name"))).alias("members"),
            F.count_distinct("name").cast("long").alias("group_size"),
        )
        .drop("component")
    )


_df_query("dedup_groups", _dedup_groups_spark, _dedup_groups_duck())


# ===========================================================================
# Tagger / chunker / incremental / pagination operators, driver-gated
# (VERDICT r01 next-round #6/#7: oracle-check the pytest-only operators)
# ===========================================================================

def _tag_modalities_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """modalities_counter (tagger/modalities.py:4-11) over the REAL derived
    spans table — counts non-text spans natively."""
    from .operators import taggers

    docs = derive.derived_documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        taggers.modalities_counter("spans").cast("long").alias("modalities_count"),
    )


def _tag_modalities_duck() -> str:
    """Oracle: the derivation rule's media-span count (h%4 → 0/1/1/2)."""
    h = DUCK.h60("cast(doc_id as string)")
    return (
        f"SELECT doc_id, CAST(CASE cast({h} % 4 as int) "
        f"WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END AS BIGINT) "
        f"AS modalities_count FROM documents"
    )


_df_query("tag_modalities", _tag_modalities_spark, _tag_modalities_duck())


def _file_path_expr(d: Dialect) -> str:
    """Deterministic synthetic file path per doc (empty for h%7 == 0 to
    exercise the 'unknown' branch)."""
    h = d.h60("cast(doc_id as string)")
    ext = f"CASE cast({h} % 3 as int) WHEN 0 THEN 'txt' WHEN 1 THEN 'md' ELSE 'html' END"
    return (
        f"CASE WHEN {h} % 7 = 0 THEN '' ELSE "
        f"source || '/docs/doc-' || cast(doc_id as string) || '.' || {ext} END"
    )


def _tag_file_name_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file_namer tagger (tagger/file_namer.py:6-33) — the REAL operator
    over a synthesized file_path column."""
    from .operators import taggers

    _register_views(spark, sf_dir, only=["documents"])
    docs = spark.sql(
        f"SELECT doc_id, {_file_path_expr(SPARK)} AS file_path FROM documents"
    )
    return docs.select("doc_id", taggers.file_namer("file_path"))


def _tag_file_name_duck() -> str:
    h = DUCK.h60("cast(doc_id as string)")
    ext = f"CASE cast({h} % 3 as int) WHEN 0 THEN 'txt' WHEN 1 THEN 'md' ELSE 'html' END"
    return (
        f"SELECT doc_id, CASE WHEN {h} % 7 = 0 THEN 'unknown' ELSE "
        f"'doc-' || cast(doc_id as string) || '.' || {ext} END AS file_name "
        f"FROM documents"
    )


_df_query("tag_file_name", _tag_file_name_spark, _tag_file_name_duck())


def _tag_metafuse_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metafuse (metafuse/base.py:42-59): template-formatted metadata
    prepended to the text; output md5 so the gate hashes compactly."""
    from .operators import taggers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fused = docs.select(
        "doc_id", taggers.metafuse("[%s|%s]", lang="lang", src="source")
    )
    return fused.select("doc_id", F.md5("text").alias("fused_md5"))


def _tag_metafuse_duck() -> str:
    return (
        "SELECT doc_id, md5('[' || lang || '|' || source || ']' || chr(10) || text) "
        "AS fused_md5 FROM documents"
    )


_df_query("tag_metafuse", _tag_metafuse_spark, _tag_metafuse_duck())


_CHUNK_INTRO = "Alpha beta gamma delta."
_CHUNK_HEADER = "| name | qty |\n| --- | --- |"


def _chunk_table_mode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-aware chunker, single_row mode (chunker/utils.py:289-341
    semantics) — the REAL Arrow-stage operator (operators/chunker.py) over
    a planted sentence + markdown table (1-3 body rows by doc hash)."""
    from .hashing import h60
    from .operators.chunker import chunk_stage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.pmod(h60(F.col("doc_id").cast("string")), F.lit(3)) + 1).cast("int").alias("k"),
    )
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit(_CHUNK_INTRO + "\n" + _CHUNK_HEADER),
            F.expr(
                "concat_ws('', transform(sequence(0, k - 1), __tri -> "
                "concat('\\n| item', cast(__tri as string), ' | ', doc_id, ' |')))"
            ),
        ).alias("text"),
        F.expr(
            "CAST(array() AS array<struct<kind:string,media_ref:string>>)"
        ).alias("modalities"),
    )
    chunks = chunk_stage(planted, chunk_size=64, table_mode="single_row")
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "is_table_chunk",
        "table_header",
    )


def _chunk_table_mode_duck() -> str:
    """Oracle: the expected chunk rows in closed form — one sentence chunk
    (the intro slice incl. the trailing newline) + one table chunk per body
    row with the normalized header prepended."""
    h = DUCK.h60("cast(doc_id as string)")
    hdr = "'| name | qty |' || chr(10) || '| --- | --- |'"
    return f"""
WITH base AS (SELECT doc_id, cast({h} % 3 as int) + 1 AS k FROM documents),
rows_ AS (SELECT doc_id, unnest(range(0, k)) AS i FROM base)
SELECT doc_id, CAST(0 AS BIGINT) AS chunk_index,
       '{_CHUNK_INTRO}' || chr(10) AS text,
       CAST(4 AS BIGINT) AS n_tokens, false AS is_table_chunk,
       CAST(NULL AS VARCHAR) AS table_header
FROM base
UNION ALL
SELECT doc_id, CAST(i + 1 AS BIGINT),
       {hdr} || chr(10) || '| item' || cast(i as varchar) || ' | '
             || cast(doc_id as varchar) || ' |',
       CAST(15 AS BIGINT), true, {hdr}
FROM rows_
"""


_df_query("chunk_table_mode", _chunk_table_mode_spark, _chunk_table_mode_duck())


def _chunk_multi_rows_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_rows table mode (chunker/utils.py:171-286 semantics): greedy
    row packing under max_tokens with the header re-prepended per chunk —
    the REAL Arrow-stage operator over a planted table of 8-12 body rows
    at chunk_size 20 (header 10 tokens + 5/row ⇒ 2 rows per chunk, odd
    row counts leave a 1-row tail chunk)."""
    from .hashing import h60
    from .operators.chunker import chunk_stage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.pmod(h60(F.col("doc_id").cast("string")), F.lit(5)) + 8).cast("int").alias("k"),
    )
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit(_CHUNK_INTRO + "\n" + _CHUNK_HEADER),
            F.expr(
                "concat_ws('', transform(sequence(0, k - 1), __mri -> "
                "concat('\\n| item', cast(__mri as string), ' | 42 |')))"
            ),
        ).alias("text"),
        F.expr(
            "CAST(array() AS array<struct<kind:string,media_ref:string>>)"
        ).alias("modalities"),
    )
    chunks = chunk_stage(planted, chunk_size=20, table_mode="multi_rows")
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "is_table_chunk",
    )


def _chunk_multi_rows_duck() -> str:
    """Oracle in closed form: intro chunk (4 tokens) + floor(k/2) packed
    chunks of 20 tokens + a 15-token single-row tail when k is odd."""
    h = DUCK.h60("cast(doc_id as string)")
    return f"""
WITH base AS (SELECT doc_id, cast({h} % 5 as int) + 8 AS k FROM documents),
tc AS (SELECT doc_id, k, unnest(range(0, (k + 1) // 2)) AS i FROM base)
SELECT doc_id, CAST(0 AS BIGINT) AS chunk_index, CAST(4 AS BIGINT) AS n_tokens,
       false AS is_table_chunk
FROM base
UNION ALL
SELECT doc_id, CAST(i + 1 AS BIGINT),
       CAST(CASE WHEN 2 * i + 2 <= k THEN 20 ELSE 15 END AS BIGINT), true
FROM tc
"""


_df_query("chunk_multi_rows", _chunk_multi_rows_spark, _chunk_multi_rows_duck())


def _rel_postprocess_reuse_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postprocess-stage reuse decision (incremental.py:84-107): reusable
    iff the cache has rows, none lacks a timestamp, and input ts <=
    min(cached ts) — the REAL operator (operators/incremental.py) over
    frames derived from events (every 37th cache row loses its ts; every
    5th user's input is stamped at max(ts))."""
    from .operators.incremental import split_reusable_postprocess

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    prev = ev.select(
        F.concat(F.lit("f"), F.col("user_id").cast("string")).alias("file_path"),
        F.when(F.col("event_id") % 37 == 0, F.lit(None)).otherwise(F.col("ts"))
        .alias("processed_at"),
    )
    inp = ev.groupBy("user_id").agg(
        F.when(F.col("user_id") % 5 == 0, F.max("ts")).otherwise(F.min("ts"))
        .alias("processed_at")
    ).select(
        F.concat(F.lit("f"), F.col("user_id").cast("string")).alias("file_path"),
        "processed_at",
    )
    reusable, to_process = split_reusable_postprocess(inp, prev)
    return reusable.select("file_path", F.lit(True).alias("reusable")).unionByName(
        to_process.select("file_path", F.lit(False).alias("reusable"))
    )


def _rel_postprocess_reuse_duck() -> str:
    return """
WITH prev AS (SELECT 'f' || cast(user_id as varchar) AS file_path,
              CASE WHEN event_id % 37 = 0 THEN NULL ELSE ts END AS processed_at
              FROM events),
inp AS (SELECT 'f' || cast(user_id as varchar) AS file_path,
        CASE WHEN user_id % 5 = 0 THEN max(ts) ELSE min(ts) END AS processed_at
        FROM events GROUP BY user_id),
agg AS (SELECT file_path, min(processed_at) AS mts,
        max(CASE WHEN processed_at IS NULL THEN 1 ELSE 0 END) AS hn
        FROM prev GROUP BY 1)
SELECT i.file_path,
       coalesce(a.mts IS NOT NULL AND a.hn = 0 AND i.processed_at <= a.mts, false)
       AS reusable
FROM inp i LEFT JOIN agg a ON i.file_path = a.file_path
"""


_df_query("rel_postprocess_reuse", _rel_postprocess_reuse_spark,
          _rel_postprocess_reuse_duck())


def _rel_deleted_keys_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deleted-file detection (run_process.py:173: previous − current →
    left_anti) — the REAL operator (operators/incremental.deleted_keys)
    over snapshot frames derived from events (previous = every 3rd id,
    current = every 2nd)."""
    from .operators.incremental import deleted_keys

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    prev = ev.filter(F.col("event_id") % 3 == 0).select(
        F.concat(F.lit("f"), F.col("event_id").cast("string")).alias("file_path"))
    cur = ev.filter(F.col("event_id") % 2 == 0).select(
        F.concat(F.lit("f"), F.col("event_id").cast("string")).alias("file_path"))
    return deleted_keys(prev, cur, key="file_path")


def _rel_deleted_keys_duck() -> str:
    return """
SELECT DISTINCT 'f' || cast(event_id as varchar) AS file_path
FROM events e WHERE event_id % 3 = 0
AND NOT EXISTS (SELECT 1 FROM events c
                WHERE c.event_id % 2 = 0 AND c.event_id = e.event_id)
"""


_df_query("rel_deleted_keys", _rel_deleted_keys_spark, _rel_deleted_keys_duck())


def _paragraph_template(n_pages: int) -> str:
    """Deterministic paged text: n pages, 2 paragraphs each, marker
    separators between pages (pdf_processor.py:211-256 format)."""
    parts = []
    for i in range(n_pages):
        if i:
            parts.append("\n\n{" + str(i) + "}----\n\n")
        parts.append(f"Intro {i}.\n\nBody {i} text.")
    return "".join(parts)


def _kg_paragraphs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination parse (operators/pagination.py, reference-exact per
    tests/test_pagination.py) run in the per-format Arrow parse seam over
    hash-derived paged text; emits the paragraph_starts tuples as csv."""
    from pyspark.sql import types as T

    def run(batches):
        import pandas as pd

        from mmore_spark.hashing import h60_py
        from mmore_spark.operators.pagination import parse_pagination

        for pdf in batches:
            out_d, out_s, out_l = [], [], []
            for doc_id in pdf["doc_id"]:
                n = h60_py(str(doc_id)) % 3 + 1
                starts, clean = parse_pagination(_paragraph_template(n))
                out_d.append(doc_id)
                out_s.append(",".join(f"{o}:{pg}:{pa}" for o, pg, pa in starts))
                out_l.append(len(clean))
            yield pd.DataFrame({
                "doc_id": out_d, "paragraph_starts": out_s, "clean_len": out_l,
            })

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("paragraph_starts", T.StringType()),
        T.StructField("clean_len", T.LongType()),
    ])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(run, schema=schema)


def _kg_paragraphs_duck() -> str:
    """Oracle: the three possible layouts evaluated at SQL-generation time
    by the reference-exact Python twin, embedded as literals."""
    from .operators.pagination import parse_pagination

    h = DUCK.h60("cast(doc_id as string)")
    arms_s, arms_l = [], []
    for n in (1, 2, 3):
        starts, clean = parse_pagination(_paragraph_template(n))
        csv = ",".join(f"{o}:{pg}:{pa}" for o, pg, pa in starts)
        arms_s.append(f"WHEN {n - 1} THEN {sql_quote(csv)}")
        arms_l.append(f"WHEN {n - 1} THEN {len(clean)}")
    return (
        f"SELECT doc_id, "
        f"CASE cast({h} % 3 as int) {' '.join(arms_s)} END AS paragraph_starts, "
        f"CAST(CASE cast({h} % 3 as int) {' '.join(arms_l)} END AS BIGINT) AS clean_len "
        f"FROM documents"
    )


_df_query("kg_paragraphs", _kg_paragraphs_spark, _kg_paragraphs_duck())


def _filter_unigram_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL unigram-logprob operator (operators/filters.py) with a kept
    verdict at -3.2 (corpus-derived model; scaled-integer score so both
    engines hash-agree)."""
    from .operators.filters import unigram_logprob_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = unigram_logprob_scores(docs)
    return s.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(F.col("avg_logprob") * 1000000, 0).cast("long").alias("avg_logprob_e6"),
        (F.round(F.col("avg_logprob"), 6) >= -1.49).alias("kept"),
    )


def _filter_unigram_duck() -> str:
    return """
WITH w AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
           FROM documents),
ww AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
freq AS (SELECT w, count(*) AS n FROM ww GROUP BY w),
tot AS (SELECT sum(n) AS tot FROM freq)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(round(avg(log10(n * 1.0 / tot)) * 1000000, 0) AS BIGINT)
         AS avg_logprob_e6,
       (round(avg(log10(n * 1.0 / tot)), 6) >= -1.49) AS kept
FROM ww JOIN freq USING (w) CROSS JOIN tot
GROUP BY doc_id
"""


_df_query("filter_unigram_logprob", _filter_unigram_spark, _filter_unigram_duck())


def _kg_spans_explode_sql() -> str:
    """Full span-contract check at driver scale: the exploded
    (doc_id, offset, kind, text, media_ref) rows of the derived
    interleaved table, recomputed independently in each engine."""
    t2 = derive.text2_sql(DUCK)
    h = DUCK.h60("cast(doc_id as string)")
    media = lambda k, i: (  # noqa: E731
        f"SELECT doc_id, {i} AS offset, '{k}' AS kind, CAST(NULL AS VARCHAR) AS text, "
        f"('media/' || cast(doc_id as string) || '/m-{0 if i == 0 else i - 1}.bin') AS media_ref "
    )
    text_row = lambda i: (  # noqa: E731
        f"SELECT doc_id, {i} AS offset, 'text' AS kind, ({t2} || ' ') AS text, "
        f"CAST(NULL AS VARCHAR) AS media_ref "
    )
    arms = [
        f"{text_row(0)} FROM base WHERE hm = 0",
        f"{media('image', 0)} FROM base WHERE hm = 1",
        f"{text_row(1)} FROM base WHERE hm = 1",
        f"{text_row(0)} FROM base WHERE hm = 2",
        f"{media('audio', 1)} FROM base WHERE hm = 2",
        f"{media('video', 0)} FROM base WHERE hm = 3",
        f"{text_row(1)} FROM base WHERE hm = 3",
        f"SELECT doc_id, 2 AS offset, 'image' AS kind, CAST(NULL AS VARCHAR) AS text, "
        f"('media/' || cast(doc_id as string) || '/m-1.bin') AS media_ref FROM base WHERE hm = 3",
    ]
    return (
        f"WITH base AS (SELECT doc_id, text, cast({h} % 4 as int) AS hm FROM documents)\n"
        + "\nUNION ALL\n".join(arms)
    )


def _kg_spans_explode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side: the actual derived spans table, exploded natively."""
    docs = derive.derived_documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").cast("int").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


_df_query("kg_spans_explode", _kg_spans_explode_spark, _kg_spans_explode_sql())


def _er_match_duck(a: str, b: str) -> str:
    """DuckDB twin of linking.names_match_py over name expressions
    (oracle side only — the Spark side runs the real operators)."""
    toks = lambda e: (  # noqa: E731
        f"list_filter(string_split(regexp_replace(upper({e}), '[^A-Z0-9 ]', '', 'g'), ' '), "
        f"__t -> __t <> '')"
    )
    digits = lambda t: f"list_sort(list_filter({t}, __t -> regexp_matches(__t, '^[0-9]+$')))"  # noqa: E731
    words = lambda t: f"list_filter({t}, __t -> NOT regexp_matches(__t, '^[0-9]+$'))"  # noqa: E731
    lw = lambda t: f"list_filter({t}, __t -> len(__t) >= 3)"  # noqa: E731
    covered = lambda s, g: (  # noqa: E731
        f"len(list_filter({s}, __t -> len(list_filter({g}, "
        f"__u -> starts_with(__u, __t) OR starts_with(__t, __u))) > 0)) = len({s})"
    )
    ta, tb = toks(a), toks(b)
    wa, wb = words(ta), words(tb)
    return (
        f"({digits(ta)} = {digits(tb)}"
        f" AND len(list_intersect({lw(wa)}, {lw(wb)})) > 0"
        f" AND (CASE WHEN len({wa}) <= len({wb}) THEN {covered(wa, wb)} "
        f"ELSE {covered(wb, wa)} END))"
    )


def _canon_ctes() -> str:
    """Shared oracle CTE prefix: mentions → all-pairs ER edges → recursive-
    CTE connected components → canonical election → name→canonical map.

    DuckDB twin of linking.canonicalize (names are vocabulary-bounded, so
    all-pairs ER is fine for the oracle; the Spark side runs LSH blocking).
    ``counts`` is the mention rollup linking reads (agg.merge_entities_global:
    mention count, ``max`` type).  Election mirrors canonicalize exactly:
    canonical name = most-mentioned then lex-min (rn); component type =
    most-mentioned name's type, ties → lexicographically greatest type
    (rt — linking.entities_table).

    ``m`` is MATERIALIZED: DuckDB otherwise inlines the mentions subquery
    at each of its references and re-runs it (kg_pipeline_triples took
    162.6 s at sf0.001 that way, 4.8 s materialized)."""
    mentions = _kg_mentions_sql()
    match = _er_match_duck("a.name", "b.name")
    return f"""
m AS MATERIALIZED ({mentions}),
counts AS (SELECT entity_name AS name, count(*) AS nm, max(entity_type) AS etype
           FROM m GROUP BY 1),
nodes AS (SELECT name FROM counts),
edges AS (SELECT a.name AS na, b.name AS nb FROM nodes a JOIN nodes b
          ON a.name < b.name AND {match}),
sym AS (SELECT na, nb FROM edges UNION ALL SELECT nb, na FROM edges),
reach(src, dst) AS (
  SELECT name, name FROM nodes
  UNION
  SELECT r.src, s.nb FROM reach r JOIN sym s ON r.dst = s.na
),
comp AS (SELECT src AS name, min(dst) AS comp FROM reach GROUP BY src),
elect AS (
  SELECT c.comp, c.name, k.nm, k.etype,
         row_number() OVER (PARTITION BY c.comp ORDER BY k.nm DESC, c.name) AS rn,
         row_number() OVER (PARTITION BY c.comp ORDER BY k.nm DESC, k.etype DESC) AS rt
  FROM comp c JOIN counts k ON c.name = k.name
),
canon AS (SELECT comp, name AS canonical_name FROM elect WHERE rn = 1),
cmap AS (SELECT e.name, c.canonical_name FROM comp e JOIN canon c ON e.comp = c.comp)
"""


def _kg_linking_clusters_duck() -> str:
    """Oracle: ER predicate over ALL name pairs + transitive closure via
    a recursive CTE; canonical election = most-mentioned then lex-min."""
    return f"""
WITH RECURSIVE
{_canon_ctes()}
SELECT
  max(CASE WHEN rn = 1 THEN name END) AS canonical_name,
  string_agg(name, ',' ORDER BY name) AS members,
  CAST(count(*) AS BIGINT) AS n_names,
  CAST(sum(nm) AS BIGINT) AS n_mentions
FROM elect GROUP BY comp
"""


def _kg_linking_clusters_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side: the REAL linking path — LSH blocking + ER verification
    + connected components + election (operators/linking.py) over the
    mentions of the real extractor (plans/pipeline.graph) — value-checked
    against the all-pairs oracle."""
    from .plans.pipeline import graph

    cmap = graph(derive.derived_documents(spark, sf_dir))["canonical_map"]
    return cmap.groupBy("component").agg(
        F.max_by("canonical_name", F.lit(1)).alias("canonical_name"),
        F.concat_ws(",", F.sort_array(F.collect_set("name"))).alias("members"),
        F.count("*").cast("long").alias("n_names"),
        F.sum("n_mentions").cast("long").alias("n_mentions"),
    ).drop("component")


_df_query("kg_linking_clusters", _kg_linking_clusters_spark, _kg_linking_clusters_duck())


# ===========================================================================
# Full pipeline end-to-end (render → extract → link → rewrite → global
# merge) — the flagship outputs, value-checked against the same
# recursive-CTE canonicalization oracle extended through the rewrite +
# merge (VERDICT r01 #1: these were the only rows-only entries).
# ===========================================================================

def _kg_pipeline_triples_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline → globally merged canonical triples.  Spark side runs
    the REAL operators: spans render, one-Arrow-stage extraction
    (operators/extract.py), LSH+ER+CC canonicalization (operators/
    linking.py), broadcast rewrite, one-groupBy global merge (operators/
    agg.py)."""
    from .plans.pipeline import graph

    docs = derive.derived_documents(spark, sf_dir)
    return graph(docs)["triples_global"].select(
        "subj", "obj", F.concat_ws(",", "pred").alias("preds"), "weight", "n_docs"
    )


def _kg_pipeline_triples_duck() -> str:
    """Oracle: per-doc extracted triples (_kg_triples_sql) rewritten through
    the all-pairs canonical map, unordered-pair orientation, then the
    global merge semantics of agg.merge_triples_global (weight = summed
    per-record 1.0 quirk ⇒ row count; n_docs = supporting row count;
    preds = sorted distinct union)."""
    triples = _kg_triples_sql()
    return f"""
WITH RECURSIVE
{_canon_ctes()},
t AS (SELECT * FROM (\n{triples}\n) __t),
rw AS (SELECT coalesce(cs.canonical_name, t.subj) AS s,
              coalesce(co.canonical_name, t.obj) AS o,
              t.pred
       FROM t LEFT JOIN cmap cs ON t.subj = cs.name
              LEFT JOIN cmap co ON t.obj = co.name)
SELECT least(s, o) AS subj, greatest(s, o) AS obj,
       string_agg(DISTINCT pred, ',' ORDER BY pred) AS preds,
       CAST(count(*) AS DOUBLE) AS weight,
       CAST(count(*) AS BIGINT) AS n_docs
FROM rw GROUP BY 1, 2
"""


_df_query("kg_pipeline_triples", _kg_pipeline_triples_spark, _kg_pipeline_triples_duck())


def _kg_pipeline_entities_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity table with alias members (linking.entities_table
    over the real pipeline's canonical map)."""
    from .plans.pipeline import build_graph

    docs = derive.derived_documents(spark, sf_dir)
    _, _, entities, _ = build_graph(docs)
    return entities.select(
        "canonical_id",
        "canonical_name",
        "entity_type",
        F.concat_ws(",", "members").alias("members"),
        "n_mentions",
    )


def _kg_pipeline_entities_duck() -> str:
    """Oracle: canonical election + per-component rollup mirroring
    linking.entities_table (members = sorted alias csv, n_mentions = sum,
    entity_type = rt-elected; canonical_id = h60 of the canonical name)."""
    h = DUCK.h60("canonical_name")
    return f"""
WITH RECURSIVE
{_canon_ctes()},
grouped AS (
  SELECT max(CASE WHEN rn = 1 THEN name END) AS canonical_name,
         max(CASE WHEN rt = 1 THEN etype END) AS entity_type,
         string_agg(name, ',' ORDER BY name) AS members,
         CAST(sum(nm) AS BIGINT) AS n_mentions
  FROM elect GROUP BY comp
)
SELECT {h} AS canonical_id, canonical_name, entity_type, members, n_mentions
FROM grouped
"""


_df_query("kg_pipeline_entities", _kg_pipeline_entities_spark, _kg_pipeline_entities_duck())


def _kg_triples_chunked_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunker + extractor COMPOSITION under the driver gate (VERDICT r02
    #9): sentence-chunk every document (64-word packing), run the one-
    Arrow-stage extraction per chunk, merge per doc relationally.  The
    sentence chunker never splits inside a sentence and the parser merge
    is associative, so this must equal doc-level extraction exactly — the
    oracle is the doc-level SQL grouped to the merged per-doc shape."""
    from .operators.extract import extract_mentions_triples_chunked

    docs = derive.derived_documents(spark, sf_dir)
    _, triples = extract_mentions_triples_chunked(docs, chunk_size=64)
    return triples.select(
        # the Arrow extraction schema strings doc_id; restore the table's
        # native BIGINT so the oracle compare is type-exact
        F.col("doc_id").cast("long").alias("doc_id"),
        "subj", "obj",
        F.concat_ws(",", "pred").alias("preds"),
        "weight",
    )


def _kg_triples_chunked_duck() -> str:
    """Oracle: doc-level flat extraction (_kg_triples_sql) merged per doc
    with the parser's within-doc edge semantics: unordered pair, preds =
    sorted distinct union, weight = per-record 1.0 accumulation."""
    triples = _kg_triples_sql()
    return f"""
WITH t AS (SELECT * FROM (\n{triples}\n) __t)
SELECT doc_id, least(subj, obj) AS subj, greatest(subj, obj) AS obj,
       string_agg(DISTINCT pred, ',' ORDER BY pred) AS preds,
       CAST(count(*) AS DOUBLE) AS weight
FROM t GROUP BY 1, 2, 3
"""


_df_query("kg_triples_chunked", _kg_triples_chunked_spark, _kg_triples_chunked_duck())


def _media_wav_features_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode under the oracle gate: synthesize a deterministic
    square-wave PCM file per document (rate/frames/amplitude are pure
    functions of doc_id), run it through the REAL stdlib decoder
    (operators/multimodal.extract_audio_features — wave + numpy over one
    Arrow stage), and report integer invariants the decode must recover
    exactly: frame count = round(duration·rate), amplitude =
    round(rms·32768) (square wave ⇒ |sample| constant), peak likewise.
    The oracle is closed-form SQL arithmetic over doc_id."""
    from .operators.multimodal import extract_audio_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def synth(batches):
        import io
        import struct
        import wave as wavelib

        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate = 8000 + (d % 5) * 1000
                n = 800 + (d % 100) * 8  # always even
                amp = 1000 + (d % 50) * 100
                buf = io.BytesIO()
                with wavelib.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    frame = struct.pack("<h", amp) + struct.pack("<h", -amp)
                    w.writeframes(frame * (n // 2))
                rows.append({"doc_id": str(d), "media_ref": f"mem://{d}.wav",
                             "payload": buf.getvalue()})
            yield pd.DataFrame(rows, columns=["doc_id", "media_ref", "payload"])

    wavs = docs.mapInPandas(
        synth, "doc_id string, media_ref string, payload binary")
    feats = extract_audio_features(wavs)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        F.round(F.col("duration_s") * F.col("sample_rate"), 0).cast("long")
        .alias("n_frames"),
        F.round(F.col("rms") * 32768, 0).cast("long").alias("amp"),
        F.round(F.col("peak") * 32768, 0).cast("long").alias("peak_amp"),
    )


def _media_wav_features_duck() -> str:
    return """
SELECT doc_id,
       CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(800 + (doc_id % 100) * 8 AS BIGINT) AS n_frames,
       CAST(1000 + (doc_id % 50) * 100 AS BIGINT) AS amp,
       CAST(1000 + (doc_id % 50) * 100 AS BIGINT) AS peak_amp
FROM documents
"""


_df_query("media_wav_features", _media_wav_features_spark, _media_wav_features_duck())


def _pdf_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF parsing under the oracle gate: write every document's text
    into a synthesized FlateDecode PDF (literal string with the \\( \\) \\\\
    escapes, one content stream) and extract it back with the REAL stdlib
    parser (sources/registry.parse_pdf: stream scan → zlib → text-show
    replay → escape decode).  The corpus text is space-normalized ASCII,
    so round-trip must be byte-identity — the oracle is the text column
    itself.  One Arrow stage; exercises the full PDF path on 500 real
    payloads instead of two fixtures."""
    from .sources.registry import parse_pdf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                esc = (txt.replace("\\", "\\\\").replace("(", "\\(")
                       .replace(")", "\\)"))
                content = b"BT 72 720 Td (" + esc.encode("latin-1") + b") Tj ET"
                comp = zlib.compress(content)
                body = (
                    b"%PDF-1.4\n1 0 obj << /Length " + str(len(comp)).encode()
                    + b" /Filter /FlateDecode >>\nstream\n" + comp
                    + b"\nendstream\nendobj\n%%EOF\n"
                )
                text2, _refs = parse_pdf(f"mem://{d}.pdf", body)
                out.append({"doc_id": str(d), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


_df_query("pdf_roundtrip_text", _pdf_roundtrip_spark,
          "SELECT doc_id, text FROM documents")


def _pdf_image_only_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graceful degradation under the oracle gate (VERDICT r04 #1): PDFs
    with NO extractable text must yield media spans, not error rows.  Even
    doc_ids synthesize a bare page tree (1 + d%3 pages, no content) →
    one page-image span per page with pagination markers; odd doc_ids
    synthesize 1 + d%3 undrawn /Subtype /Image XObjects (DCTDecode) → one
    span per image.  Both shapes verified against closed-form SQL."""
    from .sources.registry import parse_pdf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 1 + d % 3
                if d % 2 == 0:
                    kids = " ".join(f"{3 + i} 0 R" for i in range(n))
                    body = (
                        b"%PDF-1.4\n"
                        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                        + f"2 0 obj << /Type /Pages /Kids [{kids}] "
                          f"/Count {n} >> endobj\n".encode()
                        + b"".join(
                            f"{3 + i} 0 obj << /Type /Page /Parent 2 0 R "
                            f">> endobj\n".encode() for i in range(n))
                        + b"%%EOF\n"
                    )
                else:
                    jpeg = b"\xff\xd8\xff\xe0" + bytes([d % 251]) * 32
                    body = b"%PDF-1.4\n" + b"".join(
                        b"%d 0 obj << /Length %d /Subtype /Image "
                        b"/Filter /DCTDecode >>\nstream\n%b\nendstream\nendobj\n"
                        % (1 + i, len(jpeg), jpeg) for i in range(n)
                    ) + b"%%EOF\n"
                text, refs = parse_pdf(f"mem://{d}.pdf", body)
                out.append({"doc_id": str(d), "n_spans": len(refs),
                            "first_ref": refs[0][1] if refs else None,
                            "text": text})
            yield pd.DataFrame(
                out, columns=["doc_id", "n_spans", "first_ref", "text"])

    return docs.mapInPandas(
        run, "doc_id string, n_spans long, first_ref string, text string"
    ).select(F.col("doc_id").cast("long").alias("doc_id"),
             "n_spans", "first_ref", "text")


_PDF_IOS_ATT = "<attachment>"


def _pdf_image_only_spans_duck() -> str:
    nl = "chr(10)"
    marker = lambda i: f"{nl} || {nl} || '{{{i}}}----' || {nl} || {nl}"  # noqa: E731
    att = f"'{_PDF_IOS_ATT}'"
    page_txt = (
        f"CASE 1 + doc_id % 3 WHEN 1 THEN {att} "
        f"WHEN 2 THEN {att} || {marker(0)} || {att} "
        f"ELSE {att} || {marker(0)} || {att} || {marker(1)} || {att} END"
    )
    img_txt = (
        f"CASE 1 + doc_id % 3 WHEN 1 THEN {att} "
        f"WHEN 2 THEN {att} || {nl} || {att} "
        f"ELSE {att} || {nl} || {att} || {nl} || {att} END"
    )
    return f"""
SELECT doc_id,
       CAST(1 + doc_id % 3 AS BIGINT) AS n_spans,
       CASE WHEN doc_id % 2 = 0
            THEN 'mem://' || doc_id || '.pdf#page0'
            ELSE 'mem://' || doc_id || '.pdf#image0' END AS first_ref,
       CASE WHEN doc_id % 2 = 0 THEN {page_txt} ELSE {img_txt} END AS text
FROM documents
"""


_df_query("pdf_image_only_spans", _pdf_image_only_spans_spark,
          _pdf_image_only_spans_duck())


def _pdf_cid_ttf_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CID-without-ToUnicode recovery under the oracle gate (round 5):
    every document's text is written as 2-byte Identity-H CID codes in a
    PDF whose Type0 font ships NO ToUnicode — only an embedded TrueType
    (/FontFile2) whose format-4 cmap maps unicode→GID identically
    (GID = code point over one 0x09..0x7E segment).  parse_pdf must
    recover the text by inverting that cmap (sources/registry.
    _pdf_type0_font_cmap); the oracle is the text column itself."""
    import struct

    from .sources.registry import parse_pdf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    # constant minimal TrueType: one 'cmap' table, one (3,1) format-4
    # subtable, one segment 0x09..0x7E with delta 0 (GID == code point)
    segs = [(0x09, 0x7E, 0), (0xFFFF, 0xFFFF, 0)]
    segc = len(segs)
    sub = struct.pack(">HHHHHHH", 4, 16 + 8 * segc, 0, segc * 2, 0, 0, 0)
    sub += b"".join(struct.pack(">H", e) for _s, e, _d in segs)
    sub += struct.pack(">H", 0)
    sub += b"".join(struct.pack(">H", s) for s, _e, _d in segs)
    sub += b"".join(struct.pack(">H", d) for _s, _e, d in segs)
    sub += struct.pack(f">{segc}H", *([0] * segc))
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + sub
    ttf = (struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
           + struct.pack(">4sIII", b"cmap", 0, 28, len(cmap)) + cmap)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                codes = "".join(f"{ord(c):04x}" for c in txt).encode()
                content = b"BT /F1 12 Tf <" + codes + b"> Tj ET"
                body = (
                    b"%PDF-1.5\n"
                    b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                    b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                    b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
                    b"/Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
                    b"4 0 obj << /Length " + str(len(content)).encode()
                    + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
                    b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Emb "
                    b"/Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj\n"
                    b"6 0 obj << /Type /Font /Subtype /CIDFontType2 "
                    b"/FontDescriptor 7 0 R /CIDToGIDMap /Identity >> endobj\n"
                    b"7 0 obj << /Type /FontDescriptor /FontName /Emb "
                    b"/FontFile2 8 0 R >> endobj\n"
                    b"8 0 obj << /Length " + str(len(ttf)).encode()
                    + b" >>\nstream\n" + ttf + b"\nendstream\nendobj\n"
                    b"%%EOF\n"
                )
                text2, _refs = parse_pdf(f"mem://{d}.pdf", body)
                out.append({"doc_id": str(d), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


_df_query("pdf_cid_ttf_roundtrip", _pdf_cid_ttf_roundtrip_spark,
          "SELECT doc_id, text FROM documents")


def _eml_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EML parsing under the oracle gate: wrap every document's text
    in an RFC-822 message with doc_id-derived headers, parse with the REAL
    stdlib-email processor (sources/registry.parse_eml), and compare the
    full header+body rendering against closed-form SQL.  (Header values
    avoid address syntax on purpose — clean_text masks emails.)"""
    from .sources.registry import parse_eml

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                # single-token From/To: the email policy re-renders address
                # headers (quoting multi-word display names)
                raw = (
                    f"From: Sender{d % 97}\n"
                    f"To: Recipient{d % 89}\n"
                    f"Subject: Doc {d}\n"
                    f"Date: 2024-01-{d % 28 + 1:02d}\n"
                    f"\n{txt}\n"
                ).encode("utf-8")
                text2, _refs = parse_eml(f"mem://{d}.eml", raw)
                out.append({"doc_id": str(d), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


def _eml_roundtrip_duck() -> str:
    return """
SELECT doc_id,
       'From: Sender' || (doc_id % 97) || chr(10) ||
       'To: Recipient' || (doc_id % 89) || chr(10) ||
       'Subject: Doc ' || doc_id || chr(10) ||
       'Date: 2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
       chr(10) || text AS text
FROM documents
"""


_df_query("eml_roundtrip_text", _eml_roundtrip_spark, _eml_roundtrip_duck())


def _docx_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DOCX parsing under the oracle gate: write every document's
    text into a minimal OOXML package (one w:p/w:r/w:t, XML-escaped) and
    extract it back with the REAL zipfile+ElementTree processor
    (sources/registry.parse_docx).  Identity against the text column."""
    from .sources.registry import parse_docx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def run(batches):
        import io
        import zipfile
        from xml.sax.saxutils import escape

        import pandas as pd

        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                xml = (
                    '<?xml version="1.0" encoding="UTF-8"?>'
                    '<w:document xmlns:w="http://schemas.openxmlformats.org/'
                    'wordprocessingml/2006/main"><w:body><w:p><w:r><w:t>'
                    + escape(txt) + "</w:t></w:r></w:p></w:body></w:document>"
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("word/document.xml", xml)
                text2, _refs = parse_docx(f"mem://{d}.docx", buf.getvalue())
                out.append({"doc_id": str(d), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


_df_query("docx_roundtrip_text", _docx_roundtrip_spark,
          "SELECT doc_id, text FROM documents")


def _pptx_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PPTX parsing under the oracle gate: one slide, one positioned
    shape carrying the document text, resolved through presentation.xml →
    rels → slide (the full routing the real processor walks).  Identity
    against the text column."""
    from .sources.registry import parse_pptx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    P = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
    A = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    R = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships"')
    REL = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.'
           'openxmlformats.org/package/2006/relationships">')

    def run(batches):
        import io
        import zipfile
        from xml.sax.saxutils import escape

        import pandas as pd

        pres = (f'<?xml version="1.0"?><p:presentation {P} {R}><p:sldIdLst>'
                '<p:sldId id="256" r:id="rId1"/></p:sldIdLst></p:presentation>')
        pres_rels = (REL + '<Relationship Id="rId1" Type="x" '
                     'Target="slides/slide1.xml"/></Relationships>')
        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                slide = (
                    f'<?xml version="1.0"?><p:sld {P} {A} {R}><p:cSld>'
                    '<p:spTree><p:sp><p:spPr><a:xfrm><a:off x="0" y="100"/>'
                    "</a:xfrm></p:spPr><p:txBody><a:p><a:r><a:t>"
                    + escape(txt)
                    + "</a:t></a:r></a:p></p:txBody></p:sp></p:spTree>"
                    "</p:cSld></p:sld>"
                )
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("ppt/presentation.xml", pres)
                    zf.writestr("ppt/_rels/presentation.xml.rels", pres_rels)
                    zf.writestr("ppt/slides/slide1.xml", slide)
                text2, _refs = parse_pptx(f"mem://{d}.pptx", buf.getvalue())
                out.append({"doc_id": str(int(d)), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


_df_query("pptx_roundtrip_text", _pptx_roundtrip_spark,
          "SELECT doc_id, text FROM documents")


def _xlsx_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL XLSX parsing under the oracle gate: a one-column numeric sheet
    (inlineStr header + three doc_id-derived number cells) through the
    REAL OOXML grid parser and the reference's exact
    ``"Sheet: {name}\\n" + to_string(index=False)`` rendering — which for
    a single integer column is deterministic lpad-to-width-7 the oracle
    reproduces in SQL."""
    from .sources.registry import parse_xlsx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    XM = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    XR = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
          'relationships"')
    REL = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.'
           'openxmlformats.org/package/2006/relationships">')

    def run(batches):
        import io
        import zipfile

        import pandas as pd

        wb = (f'<?xml version="1.0"?><workbook {XM} {XR}><sheets>'
              '<sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>')
        wb_rels = (REL + '<Relationship Id="rId1" Type="x" '
                   'Target="worksheets/sheet1.xml"/></Relationships>')
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                vals = (d, d * 7 % 1000, d % 97)
                rows_xml = "".join(
                    f"<row><c><v>{v}</v></c></row>" for v in vals)
                ws = (f'<?xml version="1.0"?><worksheet {XM}><sheetData>'
                      '<row><c t="inlineStr"><is><t>values</t></is></c></row>'
                      + rows_xml + "</sheetData></worksheet>")
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr("xl/workbook.xml", wb)
                    zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
                    zf.writestr("xl/worksheets/sheet1.xml", ws)
                text2, _refs = parse_xlsx(f"mem://{d}.xlsx", buf.getvalue())
                out.append({"doc_id": str(d), "text": text2})
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    return docs.mapInPandas(run, "doc_id string, text string").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


def _xlsx_roundtrip_duck() -> str:
    v = lambda e: f"lpad(CAST({e} AS VARCHAR), 7, ' ')"  # noqa: E731
    return f"""
SELECT doc_id,
       'Sheet: Data' || chr(10) || lpad('values', 7, ' ') || chr(10) ||
       {v('doc_id')} || chr(10) ||
       {v('doc_id * 7 % 1000')} || chr(10) ||
       {v('doc_id % 97')} AS text
FROM documents
"""


_df_query("xlsx_roundtrip_text", _xlsx_roundtrip_spark, _xlsx_roundtrip_duck())


def _md_html_roundtrip(parser_name: str, make_doc, oracle_suffix: str):
    """Shared builder for the markdown/html processor round-trips: plant
    an image next to the document text, parse with the REAL processor,
    and check the attachment placeholder + collected ref in SQL."""
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .sources import registry as reg
        parser = getattr(reg, parser_name)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text")

        def run(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for d, txt in zip(pdf["doc_id"], pdf["text"]):
                    text2, refs = parser(f"mem://{d}", make_doc(txt).encode())
                    out.append({"doc_id": str(int(d)), "text": text2,
                                "n_refs": len(refs),
                                "ref0": refs[0][1] if refs else None})
                yield pd.DataFrame(out, columns=["doc_id", "text", "n_refs",
                                                 "ref0"])

        return docs.mapInPandas(
            run, "doc_id string, text string, n_refs long, ref0 string"
        ).select(F.col("doc_id").cast("long").alias("doc_id"), "text",
                 "n_refs", "ref0")

    oracle = f"""
SELECT doc_id, text || '{oracle_suffix}' AS text,
       CAST(1 AS BIGINT) AS n_refs, 'img/pic.png' AS ref0
FROM documents
"""
    return spark_fn, oracle


_md_spark, _md_oracle = _md_html_roundtrip(
    "parse_md",
    lambda txt: txt + " ![fig](img/pic.png) tail",
    " <attachment> tail",
)
_df_query("md_roundtrip_text", _md_spark, _md_oracle)

_html_spark, _html_oracle = _md_html_roundtrip(
    "parse_html",
    lambda txt: "<p>" + txt + ' <img src="img/pic.png"> end</p>',
    " <attachment> end",
)
_df_query("html_roundtrip_text", _html_spark, _html_oracle)


def _csv_txt_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TXT + CSV parsing under one oracle gate: the txt processor
    must be identity on the (already-normalized) corpus text, and the csv
    processor (pandas read_csv + to_string) renders a doc_id-derived
    numeric column with the same deterministic lpad shape as the xlsx
    twin."""
    from .sources.registry import parse_csv, parse_txt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t_txt, _ = parse_txt(f"mem://{d}.txt", txt.encode())
                csv = f"values\n{d}\n{d * 7 % 1000}\n{d % 97}\n".encode()
                t_csv, _ = parse_csv(f"mem://{d}.csv", csv)
                out.append({"doc_id": str(d), "txt_text": t_txt,
                            "csv_text": t_csv})
            yield pd.DataFrame(out, columns=["doc_id", "txt_text", "csv_text"])

    return docs.mapInPandas(
        run, "doc_id string, txt_text string, csv_text string"
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "txt_text", "csv_text")


def _csv_txt_roundtrip_duck() -> str:
    v = lambda e: f"lpad(CAST({e} AS VARCHAR), 7, ' ')"  # noqa: E731
    return f"""
SELECT doc_id, text AS txt_text,
       lpad('values', 7, ' ') || chr(10) ||
       {v('doc_id')} || chr(10) ||
       {v('doc_id * 7 % 1000')} || chr(10) ||
       {v('doc_id % 97')} AS csv_text
FROM documents
"""


_df_query("csv_txt_roundtrip_text", _csv_txt_roundtrip_spark,
          _csv_txt_roundtrip_duck())


def _media_container_meta_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 + MP4 container parsing under the oracle gate: synthesize
    a CBR MPEG-1 Layer III stream (doc_id-derived frame count, behind an
    ID3v2 tag) and an ISO-BMFF file (doc_id-derived mvhd duration), parse
    both with the REAL stdlib container walkers
    (operators/multimodal.decode_mp3_meta / decode_mp4_meta), and report
    the integers the oracle computes from doc_id in closed form."""
    from .operators.multimodal import decode_mp3_meta, decode_mp4_meta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def run(batches):
        import struct

        import pandas as pd

        frame = b"\xff\xfb\xa4\xc0" + b"\x00" * 476  # 160kbps 48kHz mono

        def mp4_bytes(timescale, duration):
            def box(t, body):
                return struct.pack(">I", 8 + len(body)) + t + body

            mvhd = box(b"mvhd", bytes(4) + bytes(8)
                       + struct.pack(">I", timescale)
                       + struct.pack(">I", duration) + bytes(80))
            return box(b"ftyp", b"isom\x00\x00\x02\x00isom") + box(b"moov", mvhd)

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 3 + d % 40
                id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 24]) + b"\x00" * 24
                mp3 = decode_mp3_meta(id3 + frame * n)
                mp4 = decode_mp4_meta(mp4_bytes(600, 1000 + d % 997))
                out.append({
                    "doc_id": str(d),
                    "mp3_frames": mp3["n_frames"],
                    "mp3_rate": mp3["sample_rate"],
                    "mp3_bitrate": mp3["bitrate"],
                    "mp4_timescale": mp4["timescale"],
                    "mp4_duration_units": mp4["duration_units"],
                })
            yield pd.DataFrame(out, columns=[
                "doc_id", "mp3_frames", "mp3_rate", "mp3_bitrate",
                "mp4_timescale", "mp4_duration_units"])

    return docs.mapInPandas(
        run, "doc_id string, mp3_frames long, mp3_rate long, "
             "mp3_bitrate long, mp4_timescale long, mp4_duration_units long"
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "mp3_frames",
             "mp3_rate", "mp3_bitrate", "mp4_timescale", "mp4_duration_units")


def _media_container_meta_duck() -> str:
    return """
SELECT doc_id,
       CAST(3 + doc_id % 40 AS BIGINT) AS mp3_frames,
       CAST(48000 AS BIGINT) AS mp3_rate,
       CAST(160000 AS BIGINT) AS mp3_bitrate,
       CAST(600 AS BIGINT) AS mp4_timescale,
       CAST(1000 + doc_id % 997 AS BIGINT) AS mp4_duration_units
FROM documents
"""


_df_query("media_container_meta", _media_container_meta_spark,
          _media_container_meta_duck())


def _image_container_meta_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG + JPEG header parsing under the oracle gate (the width/
    height feeding the reference's 512×512 size gate), doc_id-derived
    dimensions recovered exactly."""
    from .operators.multimodal import decode_image_meta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def run(batches):
        import struct
        import zlib

        import pandas as pd

        def png(w, h):
            ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
            chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            return (b"\x89PNG\r\n\x1a\n" + chunk
                    + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))

        def jpeg(w, h):
            sof0 = (struct.pack(">H", 11) + b"\x08"
                    + struct.pack(">HH", h, w) + b"\x01")
            return b"\xff\xd8\xff\xc0" + sof0

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                p = decode_image_meta(png(16 + d % 1000, 16 + d % 777))
                j = decode_image_meta(jpeg(32 + d % 2000, 32 + d % 1111))
                out.append({"doc_id": str(d),
                            "png_w": p["width"], "png_h": p["height"],
                            "jpg_w": j["width"], "jpg_h": j["height"]})
            yield pd.DataFrame(out, columns=["doc_id", "png_w", "png_h",
                                             "jpg_w", "jpg_h"])

    return docs.mapInPandas(
        run, "doc_id string, png_w long, png_h long, jpg_w long, jpg_h long"
    ).select(F.col("doc_id").cast("long").alias("doc_id"),
             "png_w", "png_h", "jpg_w", "jpg_h")


_df_query("image_container_meta", _image_container_meta_spark, """
SELECT doc_id,
       CAST(16 + doc_id % 1000 AS BIGINT) AS png_w,
       CAST(16 + doc_id % 777 AS BIGINT) AS png_h,
       CAST(32 + doc_id % 2000 AS BIGINT) AS jpg_w,
       CAST(32 + doc_id % 1111 AS BIGINT) AS jpg_h
FROM documents
""")


def _translate_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL translator stage under the oracle gate (translator/base.py:
    87-125 semantics): inject an ``<attachment>`` tag mid-document, gate
    half the corpus as already-English (doc_id parity — the reference's
    language gate), and run operators/translator.translate_stage with the
    deterministic fake model (word-reverse per inter-tag segment).  The
    oracle re-derives the expected output in closed-form SQL: list_
    transform over str_split segments — tag count, segment boundaries and
    the original_text stash must all survive."""
    from .operators.translator import translate_stage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    staged = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" <attachment> "), F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("en")).otherwise(F.lit("xx"))
        .alias("lang"),
    )
    out = translate_stage(staged)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("text_tr"),
        "original_text",
        F.col("translated").cast("long").alias("translated"),
    )


_df_query("translate_roundtrip", _translate_roundtrip_spark, """
WITH base AS (
    SELECT doc_id, text || ' <attachment> ' || text AS t FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN t
            ELSE array_to_string(
                list_transform(str_split(t, '<attachment>'),
                    s -> array_to_string(list_reverse(str_split(s, ' ')), ' ')),
                '<attachment>')
       END AS text_tr,
       t AS original_text,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS BIGINT) AS translated
FROM base
""")


def _clean_text_norm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_text tagger under the oracle gate (process/utils.py:28-57
    approximation, operators/taggers.clean_text): dirty every document's
    text deterministically — control bytes, tab runs, an email address and
    a URL — and normalize with the REAL native column.  The oracle is an
    independent DuckDB regexp chain applying the same contract (strip
    control chars, collapse blanks, emails -> the reference's literal
    email@email.com replacement, URLs untouched, trim)."""
    from .operators.taggers import clean_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.concat(F.lit("\x01  "), F.col("text"),
                 F.lit("\tmail doc"), F.col("doc_id").cast("string"),
                 F.lit("@corpus.example.com \t see "),
                 F.lit("https://corpus.example/d?id="),
                 F.col("doc_id").cast("string"),
                 F.lit(" end\x02")).alias("text"),
    )
    return dirty.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_text("text").alias("text_clean"),
    )


_df_query("clean_text_norm", _clean_text_norm_spark, r"""
WITH dirty AS (
    SELECT doc_id,
           chr(1) || '  ' || text || chr(9) || 'mail doc' || doc_id ||
           '@corpus.example.com ' || chr(9) || ' see ' ||
           'https://corpus.example/d?id=' || doc_id || ' end' || chr(2) AS t
    FROM documents
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(regexp_replace(
           t, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
           '[ \t]+', ' ', 'g'),
           '\S+@\S+\.\S+', 'email@email.com', 'g')) AS text_clean
FROM dirty
""")


_CAP_FAMILY = 40      # planted duplicate family size (ids above the corpus)
_CAP_BUCKET = 8       # low cap so sf0.01 exercises BOTH branches


def _dedup_minhash_capped_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family-safe candidate generation (operators/dedup.
    candidate_edges, VERDICT r03 #3): buckets over the cap emit STAR edges
    to the bucket min (linear, component-exact for grouping) instead of
    all k(k-1)/2 pairs.  A 40-member family is PLANTED above the corpus id
    range and the cap set to 8 so the oracle exercises both branches: the
    family collapses to 39 star rows (n_shared = 4 bands), the organic
    corpus buckets stay full-pair and match dedup_minhash_pairs exactly."""
    from .operators.dedup import candidate_edges, minhash_band_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    fam = spark.range(_CAP_FAMILY).select(
        (F.lit(10_000_000) + F.col("id")).alias("doc_id"),
        F.lit("duplicate family boilerplate notice").alias("text"),
    )
    sig = minhash_band_signatures(docs.unionByName(fam),
                                  n_perm=_DEDUP_NPERM, r=_DEDUP_BAND_R)
    return candidate_edges(sig, max_bucket=_CAP_BUCKET)


def _dedup_minhash_capped_duck() -> str:
    arms = _band_arms_sql(src="docs2")
    return f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT CAST(10000000 + range AS BIGINT) AS doc_id,
           'duplicate family boilerplate notice' AS text
    FROM range({_CAP_FAMILY})
),
sig AS (SELECT * FROM (\n{arms}\n) t),
sz AS (SELECT band, bh, count(*) AS k FROM sig GROUP BY 1, 2),
big AS (SELECT band, bh FROM sz WHERE k > {_CAP_BUCKET}),
norm AS (SELECT s.* FROM sig s
         WHERE NOT EXISTS (SELECT 1 FROM big g
                           WHERE g.band = s.band AND g.bh = s.bh)),
fam AS (SELECT s.* FROM sig s
        WHERE EXISTS (SELECT 1 FROM big g
                      WHERE g.band = s.band AND g.bh = s.bh)),
mins AS (SELECT band, bh, min(doc_id) AS m FROM fam GROUP BY 1, 2),
uni AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM norm a JOIN norm b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    UNION ALL
    SELECT m.m AS doc_a, f.doc_id AS doc_b FROM fam f
    JOIN mins m ON f.band = m.band AND f.bh = m.bh
    WHERE f.doc_id <> m.m
)
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM uni GROUP BY 1, 2
"""


_df_query("dedup_minhash_capped", _dedup_minhash_capped_spark,
          _dedup_minhash_capped_duck())


def _chunk_word_stage_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chonkie WordChunker strategy under the oracle gate: the REAL
    Arrow-stage chunker (operators/chunker.chunk_stage, strategy='word',
    16-word packing; reference chunker/utils.py:344-354 loads the
    strategy by this name) over the corpus text.  Chunks are exact
    slices, so every non-last chunk carries its trailing separator space
    — the oracle reproduces that in closed form."""
    from .operators.chunker import chunk_stage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.expr("CAST(array() AS array<struct<kind:string,media_ref:string>>)")
        .alias("modalities"),
    )
    chunks = chunk_stage(docs, chunk_size=16, table_mode="none",
                         strategy="word")
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("text").alias("text_chunk"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_df_query("chunk_word_stage", _chunk_word_stage_spark, """
WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
k AS (SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 16.0) AS BIGINT))) AS ci
      FROM b)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_index,
       array_to_string(list_slice(ws, 16 * ci + 1,
                                  least(16 * ci + 16, len(ws))), ' ')
         || CASE WHEN 16 * ci + 16 >= len(ws) THEN '' ELSE ' ' END
         AS text_chunk,
       CAST(least(16, len(ws) - 16 * ci) AS BIGINT) AS n_tokens
FROM k
""")


def _chunk_token_overlap_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chonkie TokenChunker strategy under the oracle gate: the REAL
    token_chunks windows (size 16, overlap 4 → step 12; whitespace-token
    stand-in) over the corpus text.  Overlapping windows duplicate text
    by design; the run stops at the first window that reaches the end —
    the oracle encodes the same early-stop (k = 0 OR step·k + overlap <
    n) in closed form."""
    from pyspark.sql import types as T

    from .operators.chunker import token_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, txt in zip(pdf["doc_id"], pdf["text"]):
                for i, c in enumerate(token_chunks(txt or "", 16, overlap=4)):
                    rows.append({"doc_id": d, "chunk_index": i,
                                 "text_chunk": c.text, "n_tokens": c.n_tokens})
            yield pd.DataFrame(rows, columns=["doc_id", "chunk_index",
                                              "text_chunk", "n_tokens"])

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("text_chunk", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
    ])
    return docs.mapInPandas(run, schema).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "text_chunk",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_df_query("chunk_token_overlap", _chunk_token_overlap_spark, """
WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
k AS (SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS ci
      FROM b)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_index,
       array_to_string(list_slice(ws, 12 * ci + 1,
                                  least(12 * ci + 16, len(ws))), ' ')
         AS text_chunk,
       CAST(least(16, len(ws) - 12 * ci) AS BIGINT) AS n_tokens
FROM k WHERE ci = 0 OR 12 * ci + 4 < len(ws)
""")


def _media_id3_tags_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text-frame parsing under the oracle gate (reference media
    path sample metadata): synthesize per-doc MP3s with REAL ID3v2.3 and
    v2.4 tags (title/artist, latin-1 and utf-16 encodings by parity) and
    recover them with operators/multimodal.decode_id3_tags +
    decode_mp3_meta.  The oracle is closed-form string SQL."""
    from .operators.multimodal import decode_mp3_meta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def synth(batches):
        import pandas as pd

        frame = b"\xff\xfb\xa4\xc0" + b"\x00" * 476  # MPEG-1 L3 160k/48k

        def text_frame(fid, txt, v4):
            if v4:
                data = b"\x03" + txt.encode("utf-8")
            else:
                data = b"\x01" + txt.encode("utf-16")
            sz = ((len(data) >> 21 & 0x7F, len(data) >> 14 & 0x7F,
                   len(data) >> 7 & 0x7F, len(data) & 0x7F) if v4
                  else tuple(len(data).to_bytes(4, "big")))
            return fid + bytes(sz) + b"\x00\x00" + data

        out = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                d = int(d)
                v4 = d % 2 == 0
                frames = (text_frame(b"TIT2", f"Track {d}", v4)
                          + text_frame(b"TPE1", f"Artist {d % 50}", v4))
                sz = len(frames)
                hdr = (b"ID3" + (b"\x04" if v4 else b"\x03") + b"\x00\x00"
                       + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                                (sz >> 7) & 0x7F, sz & 0x7F]))
                meta = decode_mp3_meta(hdr + frames + frame * 3)
                out.append({"doc_id": str(d), "title": meta.get("title"),
                            "artist": meta.get("artist"),
                            "n_frames": meta["n_frames"]})
            yield pd.DataFrame(out, columns=["doc_id", "title", "artist",
                                             "n_frames"])
            out = []

    return docs.mapInPandas(
        synth, "doc_id string, title string, artist string, n_frames long"
    ).select(F.col("doc_id").cast("long").alias("doc_id"),
             "title", "artist", "n_frames")


_df_query("media_id3_tags", _media_id3_tags_spark, """
SELECT doc_id,
       'Track ' || doc_id AS title,
       'Artist ' || (doc_id % 50) AS artist,
       CAST(3 AS BIGINT) AS n_frames
FROM documents
""")


def _tag_langid_nb_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable char-trigram Naive Bayes language ID under the oracle
    gate (operators/langid — the langdetect seam): train profiles on the
    even-doc_id half of the corpus using its lang labels, classify the
    odd half, and value-match prediction AND rounded log-likelihood
    against a full SQL re-derivation of the same estimator (counts →
    Laplace log-probs → per-(doc, lang) likelihood with unseen-trigram
    floor → deterministic argmax).  The corpus lang label is independent
    of the text, so predictions are semantically arbitrary — but both
    engines must agree on every value, which is exactly the dual-engine
    contract."""
    from .operators.langid import classify_lang, train_langid

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    profiles = train_langid(train, top_k=1 << 30)
    out = classify_lang(test, profiles)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang_pred",
        F.round(F.col("lang_score"), 6).alias("lang_score"),
    )


def _tag_langid_nb_duck() -> str:
    return """
WITH tri_train AS (
    SELECT lang, unnest(list_transform(range(1, length(text) - 1),
           __i -> substring(lower(text), CAST(__i AS INT), 3))) AS tri
    FROM documents WHERE doc_id % 2 = 0
),
counts AS (SELECT lang, tri, count(*) AS c FROM tri_train GROUP BY 1, 2),
vocab AS (SELECT count(DISTINCT tri) AS v FROM counts),
totals AS (SELECT lang, sum(c) AS n FROM counts GROUP BY 1),
profiles AS (
    SELECT counts.lang, tri,
           ln((c + 1.0) / (n + (SELECT v FROM vocab))) AS logp
    FROM counts JOIN totals ON counts.lang = totals.lang
),
floors AS (
    SELECT lang, ln(1.0 / (n + (SELECT v FROM vocab))) AS floor_logp
    FROM totals
),
doc_tri AS (
    SELECT doc_id, tri, count(*) AS c FROM (
        SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
               __i -> substring(lower(text), CAST(__i AS INT), 3))) AS tri
        FROM documents WHERE doc_id % 2 = 1
    ) t GROUP BY 1, 2
),
ntri AS (SELECT doc_id, sum(c) AS n FROM doc_tri GROUP BY 1),
matched AS (
    SELECT d.doc_id, p.lang, sum(d.c * p.logp) AS m, sum(d.c) AS mc
    FROM doc_tri d JOIN profiles p ON d.tri = p.tri
    GROUP BY 1, 2
),
scored AS (
    SELECT m.doc_id, m.lang,
           m.m + (n.n - m.mc) * f.floor_logp AS score
    FROM matched m JOIN floors f ON m.lang = f.lang
    JOIN ntri n ON n.doc_id = m.doc_id
),
ranked AS (
    SELECT doc_id, lang, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang DESC) AS rk
    FROM scored
)
SELECT doc_id, lang AS lang_pred, round(score, 6) AS lang_score
FROM ranked WHERE rk = 1
"""


_df_query("tag_langid_nb", _tag_langid_nb_spark, _tag_langid_nb_duck())
