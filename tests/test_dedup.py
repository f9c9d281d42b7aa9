"""operators/dedup: banded MinHash candidate generation with the
duplicate-family bucket cap (VERDICT r03 #3)."""

from mmore_spark.operators.dedup import candidate_edges, minhash_band_signatures


def _docs(spark):
    rows = []
    for i in range(12):  # duplicate family: one bucket of 12 per band
        rows.append((i, "identical boilerplate disclaimer text"))
    rows.append((100, "the quick brown fox jumps over the lazy dog"))
    rows.append((101, "the quick brown fox jumps over the lazy dog"))  # near-dup pair
    for i in range(102, 112):
        rows.append((i, f"w{i}a w{i}b w{i}c w{i}d w{i}e"))  # unique
    return spark.createDataFrame(rows, "doc_id long, text string")


def _groups(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        a, b = find(r["doc_a"]), find(r["doc_b"])
        if a != b:
            parent[a] = b
    return frozenset(
        frozenset(k for k in parent if find(k) == root)
        for root in {find(k) for k in parent}
    )


def test_cap_untriggered_is_identical(spark):
    sig = minhash_band_signatures(_docs(spark))
    unc = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in candidate_edges(sig, max_bucket=1 << 40).collect()}
    cap = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in candidate_edges(sig, max_bucket=4096).collect()}
    assert unc == cap
    assert unc[(100, 101)] == 4  # identical texts share all 4 bands


def test_cap_linearizes_family_but_groups_identically(spark):
    """Over-cap buckets emit k-1 star rows instead of k(k-1)/2 pairs, and
    the connected-component partition of the edge set is UNCHANGED."""
    sig = minhash_band_signatures(_docs(spark))
    unc = candidate_edges(sig, max_bucket=1 << 40).collect()
    cap = candidate_edges(sig, max_bucket=4).collect()
    fam_unc = [r for r in unc if r["doc_a"] < 12 and r["doc_b"] < 12]
    fam_cap = [r for r in cap if r["doc_a"] < 12 and r["doc_b"] < 12]
    assert len(fam_unc) == 12 * 11 // 2
    assert len(fam_cap) == 11  # star to the bucket min
    assert all(r["doc_a"] == 0 for r in fam_cap)
    # non-family edges byte-identical
    other_unc = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in unc
                 if not (r["doc_a"] < 12 and r["doc_b"] < 12)}
    other_cap = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in cap
                 if not (r["doc_a"] < 12 and r["doc_b"] < 12)}
    assert other_unc == other_cap
    # grouping semantics exact
    assert _groups(unc) == _groups(cap)
