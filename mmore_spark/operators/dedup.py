"""Document-level near-dup candidate generation at corpus scale
(SURVEY.md §2.7 minhash-blocking family, lifted from entity names to
documents — the 100 TB training-data dedup path).

Shape: shingle → MinHash → banded keys → bucket self-join.  Band keys are
md5-uniform for DISTINCT texts, so the join does not skew on token
distribution — but a DUPLICATED corpus is the worst case the hash cannot
fix: k documents with the same text share every band key, so one bucket
carries k rows and the self-join emits k(k-1)/2 pairs inside ONE task
(quadratic work AND a straggler).  Boilerplate families of 10^4+ are
routine in web corpora.

``candidate_edges`` therefore caps bucket fan-out: buckets at or below
``max_bucket`` emit all pairs (exact n_shared counts); larger buckets
emit STAR edges to the bucket's min doc_id — k-1 rows instead of
k(k-1)/2.  For grouping (the production consumer: connected components →
dedup groups) the star is semantics-EXACT: every member stays reachable
from the keeper, so the component set is identical.  What is lost is only
the per-pair ``n_shared`` count between two non-keeper members of a giant
bucket — pairs whose texts are near-identical by construction.

Measured (scripts/lsh_band_skew.py, 100k docs + one 8k-duplicate family,
local[32]): uncapped join stage max-task 15x median and 1.3e8 joined
rows; capped (max_bucket=64) returns to ~1x with linear bucket output.
Numbers recorded in BENCH/BASELINE.md round 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

N_PERMUTATIONS = 8
BAND_ROWS = 2          # rows per band -> 4 bands; P(collide) = 1-(1-J^2)^4
MAX_BUCKET = 4096      # full-pair cutover; star edges above this


def minhash_band_signatures(df: DataFrame, text_col: str = "text",
                            n_perm: int = N_PERMUTATIONS,
                            r: int = BAND_ROWS) -> DataFrame:
    """(doc_id, text) → (doc_id, band, bh): banded MinHash signatures in
    ONE Arrow-batched stage (hashlib md5 — byte-identical to
    hashing.h60_py and the SQL oracle twin; ~10× faster than Catalyst's
    interpreted nested higher-order functions for this many tiny calls).
    Runs on the input's partitions; the signatures do not depend on them."""
    n_bands = n_perm // r

    def sig_batches(batches):
        from hashlib import md5

        import pandas as pd

        # 60-bit md5 family, byte-identical to hashing.h60_py: the first 15
        # hex digits of the digest ARE its first 8 bytes shifted right 4
        # bits (pytest-pinned) — digest-slice arithmetic skips the hex
        # string round-trip.  Shingle bytes are encoded ONCE and the per-
        # permutation suffixes precomputed, instead of rebuilding and
        # re-encoding `s + f"#mh{p}"` for every (shingle, permutation)
        # pair (~40M f-string+encode calls per 50k docs — guide §4
        # per-task work; was the dominant cost of both dedup bench rows).
        sufs = [f"#mh{p}".encode("utf-8") for p in range(n_perm)]
        fb = int.from_bytes

        for pdf in batches:
            out_doc, out_band, out_bh = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                words = (text or "").split(" ")
                n = len(words)
                upper = max(n - 2, 1)
                shingles = [
                    (words[i] + " "
                     + (words[i + 1] if i + 1 < n else "") + " "
                     + (words[i + 2] if i + 2 < n else "")).encode("utf-8")
                    for i in range(upper)
                ]
                mins = [
                    min(fb(md5(s + suf).digest()[:8], "big") >> 4 for s in shingles)
                    for suf in sufs
                ]
                for b in range(n_bands):
                    out_doc.append(doc_id)
                    out_band.append(b)
                    bh = f"{mins[r * b]}:{mins[r * b + 1]}".encode("utf-8")
                    out_bh.append(fb(md5(bh).digest()[:8], "big") >> 4)
            yield pd.DataFrame({"doc_id": out_doc, "band": out_band, "bh": out_bh})

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bh", T.LongType()),
    ])
    return df.select("doc_id", text_col).mapInPandas(sig_batches, schema=schema)


def candidate_edges(sig: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_id, band, bh) → (doc_a, doc_b, n_shared) candidate edges.

    Buckets with ≤ ``max_bucket`` rows: full self-join (exact pair counts,
    identical to the uncapped plan).  Larger buckets: star edges to the
    bucket min — linear output, no quadratic straggler task, component-
    exact for downstream grouping (module docstring).  The oversized-key
    set is tiny by construction (duplicate FAMILIES, not the corpus), so
    it broadcasts; the normal path pays one extra map-side aggregate."""
    sig = sig.persist()
    sig.count()  # one fill; read by sizes + both join branches
    sizes = sig.groupBy("band", "bh").agg(F.count("*").alias("_k"))
    big_keys = sizes.filter(F.col("_k") > max_bucket).select("band", "bh")

    normal = sig.join(F.broadcast(big_keys), ["band", "bh"], "left_anti")
    a, b = normal.alias("a"), normal.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )

    fam = sig.join(F.broadcast(big_keys), ["band", "bh"], "left_semi")
    mins = fam.groupBy("band", "bh").agg(F.min("doc_id").alias("_m"))
    stars = (
        fam.join(F.broadcast(mins), ["band", "bh"])
        .filter(F.col("doc_id") != F.col("_m"))
        .select(F.col("_m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )

    edges = (
        pairs.unionByName(stars)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .localCheckpoint()  # materialize so the signature cache can be freed
    )
    sig.unpersist()
    return edges
