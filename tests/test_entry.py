"""Driver-contract tests: entry() smoke, queries()/oracle_sql() coverage,
and a fast Spark-vs-DuckDB comparison on a subset at sf0.001 (the full
sweep lives in tools/check_oracle.py)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# one row per operator family, plus the end-to-end pipeline rows (their
# recursive-CTE oracle runs in seconds in DuckDB since it materializes the
# mentions once)
FAST_SUBSET = [
    "kg_triples_chunked",      # extract (the real extractor's per-doc triples)
    "kg_linking_clusters",     # linking over the real extractor's mentions
    "kg_pipeline_triples",     # the whole pipeline: globally merged triples
    "kg_pipeline_entities",    # the whole pipeline: canonical entities
    "kg_spans_explode",        # derived spans table
    "dedup_minhash_pairs",     # dedup signatures
    "dedup_embedding_groups",  # embedding near-dups + connected components
    "tag_metafuse",            # taggers
    "filter_unigram_logprob",  # filters
    "chunk_word_stage",        # chunker
    "rel_deleted_keys",        # incremental
    "docx_roundtrip_text",     # source parsers
]


@pytest.fixture(scope="module")
def duck():
    from mmore_spark.entryqueries import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64").round(6)
        else:
            df[c] = pd.to_numeric(df[c]).astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5000).collect()
    assert len(rows) > 0
    assert {"subj", "obj", "pred", "weight"} <= set(df.columns)


def test_every_oracle_key_has_query():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    # every query is value-checked — including the end-to-end pipeline
    # entries (recursive-CTE canonicalization oracle)
    assert set(qs) == set(os_)


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, SF_DIR).toPandas()
    odf = duck.sql(os_[name]).df()
    assert len(sdf) == len(odf), (len(sdf), len(odf))
    a, b = _normalize(sdf), _normalize(odf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_pipeline_queries_run(spark):
    qs = entrymod.queries()
    t = qs["kg_pipeline_triples"](spark, SF_DIR)
    e = qs["kg_pipeline_entities"](spark, SF_DIR)
    assert t.count() > 0 and e.count() > 0
