"""Entity-linking tests: LSH blocking recall, match-predicate precision,
connected components, canonical clusters vs the golden alias clusters."""

import itertools

import pytest
from pyspark.sql import functions as F

from mmore_spark.corpus import oracle, vocab
from mmore_spark.operators import agg, linking


def _surfaced_names(docs):
    names = set()
    for d in docs:
        for p in d.plants:
            names.add(p.subj.upper())
            names.add(p.obj.upper())
    return names


def test_match_predicate_separates_alias_families(spark):
    """Every within-cluster alias pair must match; cross-cluster pairs must
    not (vocabulary-wide exhaustive check of the ER predicate)."""
    pairs = []
    clusters = []
    for etype, cs in vocab.ALIAS_CLUSTERS.items():
        for ci, c in enumerate(cs):
            clusters.append((f"{etype}:{ci}", [a.upper() for a in c]))
    for cid, members in clusters:
        for a, b in itertools.combinations(members, 2):
            pairs.append((a, b, True))
    flat = [(cid, m) for cid, ms in clusters for m in ms]
    import random

    rng = random.Random(7)
    for _ in range(4000):
        (c1, a), (c2, b) = rng.sample(flat, 2)
        if c1 != c2:
            pairs.append((a, b, False))

    # pure-Python predicate (exhaustive, fast)
    for a, b, expected in pairs:
        assert linking.names_match_py(a, b) == expected, (a, b, expected)
    # and through the Spark pandas_udf path
    df = spark.createDataFrame(pairs, ["a", "b", "expected"]).withColumn(
        "got", linking.names_match_udf()(F.col("a"), F.col("b"))
    )
    wrong = df.filter(F.col("got") != F.col("expected"))
    rows = wrong.limit(10).collect()
    assert not rows, [(r["a"], r["b"], r["expected"]) for r in rows]


def test_lsh_blocking_recall(spark, small_docs):
    """Candidate generation must surface (almost) every true alias pair
    among surfaced names; the verification step handles precision."""
    names = sorted(_surfaced_names(small_docs))
    canon = vocab.canonical_of()
    truth = {
        tuple(sorted((a, b)))
        for a, b in itertools.combinations(names, 2)
        if canon.get(a, (a,))[0] == canon.get(b, (b,))[0]
    }
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    cands = {
        (r["name_a"], r["name_b"]) for r in linking.candidate_pairs(df).collect()
    }
    missed = truth - cands
    assert len(missed) <= max(1, int(0.02 * len(truth))), sorted(missed)[:10]


def test_lsh_candidates_superset_of_er_matches_full_vocab(spark):
    """ADVICE r01: oracle parity depends on LSH candidates covering every
    ER-matching pair.  Assert it over the FULL vocabulary (every alias of
    every cluster), not just surfaced names — so adding alias families
    cannot silently break the driver gate."""
    all_names = sorted({
        alias.upper()
        for clusters in vocab.ALIAS_CLUSTERS.values()
        for cluster in clusters
        for alias in cluster
    })
    truth = {
        (a, b)
        for a, b in itertools.combinations(all_names, 2)
        if linking.names_match_py(a, b)
    }
    assert truth, "vocabulary must contain alias families"
    df = spark.createDataFrame([(n,) for n in all_names], ["name"])
    cands = {
        (r["name_a"], r["name_b"]) for r in linking.candidate_pairs(df).collect()
    }
    missed = truth - cands
    assert not missed, sorted(missed)[:10]


def test_candidate_pairs_bucket_cap_star_grouping(spark, monkeypatch):
    """VERDICT r03 #3, name path: a same-token-set name family (permuted
    word orders) shares every (perm, minv) bucket; over the cap the join
    emits k-1 star rows instead of k(k-1)/2 pairs, and because
    names_match verifies every same-token-set pair, the connected
    components are IDENTICAL to the uncapped plan — and to the driver
    path's under the same cap."""
    import itertools

    fam = [" ".join(p) for p in itertools.permutations(
        ["ACME", "GLOBAL", "CORP"])]  # 6 names, one token set
    others = ["ZEBRA HOLDINGS", "YONDER TRUST"]
    nodes = spark.createDataFrame([(n,) for n in fam + others], ["name"])

    unc = {tuple(r) for r in linking.candidate_pairs(nodes).collect()}
    monkeypatch.setattr(linking, "MAX_NAME_BUCKET", 4)
    cap = {tuple(r) for r in linking.candidate_pairs(nodes).collect()}
    assert len(unc) >= 15                      # full family pairs
    assert len(cap) < len(unc)                 # linearized
    m = min(fam)
    assert all(a == m for a, b in cap if a in fam and b in fam)
    # grouping semantics: identical components either way
    for pairs in (unc, cap):
        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs], ["name_a", "name_b"])
        verified = edges.filter(
            linking.names_match_udf()(F.col("name_a"), F.col("name_b")))
        comps = {r["name"]: r["component"] for r in
                 linking.connected_components(nodes, verified).collect()}
        assert len({comps[n] for n in fam}) == 1
        assert comps[others[0]] != comps[fam[0]]
        assert comps[others[0]] != comps[others[1]]
    # the driver path's star branch (every family bucket holds 6 > 4
    # names) labels the same components as the capped Spark path
    driver = linking._canonicalize_driver(spark, {n: (1, "") for n in fam + others})
    assert {r["name"]: r["component"] for r in driver.collect()} == comps


def test_connected_components_chain(spark):
    nodes = spark.createDataFrame([(n,) for n in "ABCDEFG"], ["name"])
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "E")], ["name_a", "name_b"]
    )
    results = {}
    for strategy, labels in (
            ("driver", linking._connected_components_driver(nodes, edges.collect())),
            ("twophase", linking._connected_components_twophase(nodes, edges))):
        comps = {r["name"]: r["component"] for r in labels.collect()}
        assert comps["A"] == comps["B"] == comps["C"]
        assert comps["D"] == comps["E"]
        assert comps["A"] != comps["D"]
        assert len({comps["F"], comps["G"], comps["A"], comps["D"]}) == 4
        results[strategy] = comps
    # both strategies produce IDENTICAL labels
    assert results["driver"] == results["twophase"]


def test_twophase_cc_long_chain(spark):
    """A 60-node path graph (diameter 59): the large-star/small-star
    strategy must label it in O(log n) rounds — far under the iteration
    cap that would starve min-label propagation — and agree with the
    driver union-find exactly."""
    names = [f"N{i:03d}" for i in range(60)]
    nodes = spark.createDataFrame([(n,) for n in names], ["name"])
    edges = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(59)], ["name_a", "name_b"])
    metrics: dict = {}
    two = {r["name"]: r["component"] for r in
           linking._connected_components_twophase(nodes, edges,
                                                  metrics=metrics).collect()}
    drv = {r["name"]: r["component"] for r in
           linking._connected_components_driver(nodes, edges.collect()).collect()}
    assert two == drv
    assert len(set(two.values())) == 1  # one component
    # O(log n) claim, observable: 60 nodes → rounds ≤ log2(60)+2 = 7
    # (scripts/cc_scale.py asserts the same bound at 2.2M edges)
    import math

    assert 1 <= metrics["rounds"] <= int(math.log2(60)) + 2


def test_twophase_cc_zero_iterations_no_crash(spark, monkeypatch):
    """ADVICE r03: an iteration cap < 1 on a non-empty edge set used to
    hit an unbound `rounds` (NameError).  It must now degrade gracefully —
    labels from the un-contracted star graph, rounds recorded as 0."""
    monkeypatch.setattr(linking, "MAX_CC_ITERATIONS", 0)
    nodes = spark.createDataFrame([("A",), ("B,",)], ["name"])
    edges = spark.createDataFrame([("A", "B,")], ["name_a", "name_b"])
    metrics: dict = {}
    labels = linking._connected_components_twophase(nodes, edges, metrics=metrics)
    assert labels.count() == 2
    assert metrics["rounds"] == 0


def test_canonical_clusters_match_golden(spark, small_docs, small_docs_df):
    from mmore_spark.functions.spans import render_text
    from mmore_spark.operators import extract

    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    mentions = extract.explode(extract.extract_combined(rendered), "entities")
    cmap = linking.canonicalize(agg.merge_entities_global(mentions))
    got_clusters = {}
    for r in cmap.collect():
        got_clusters.setdefault(r["component"], set()).add(r["name"])
    got = {frozenset(v) for v in got_clusters.values()}
    golden = {frozenset(v) for v in oracle.golden_clusters(small_docs).values()}
    # cluster sets must be identical (exact recovery of alias families)
    assert got == golden, (
        sorted(map(sorted, got - golden))[:5],
        sorted(map(sorted, golden - got))[:5],
    )


@pytest.mark.parametrize("strategy", ["driver", "twophase"])
def test_spark_path_canonicalize_leaves_no_persisted_frames(
        spark, small_docs, small_docs_df, monkeypatch, strategy):
    """The distributed path checkpoints its candidate pairs and, past the
    CC edge cap, every twophase round.  The map it returns is a local
    relation, so ``canonicalize`` leaves no RDD persisted that was not
    before, and the map still reads the golden clusters.  (Ids, not a
    count: the context cleaner may drop RDDs earlier tests left
    unreferenced while this one runs.)"""
    from mmore_spark.functions.spans import render_text
    from mmore_spark.operators import extract

    if strategy == "twophase":
        monkeypatch.setattr(linking, "DRIVER_CC_MAX_EDGES", 0)
    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    mentions = extract.explode(extract.extract_combined(rendered), "entities")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent())
    metrics: dict = {}
    monkeypatch.setattr(linking, "DRIVER_LINK_MAX_NAMES", 0)
    cmap = linking.canonicalize(agg.merge_entities_global(mentions), metrics=metrics)
    assert metrics["path"] == "spark" and metrics["strategy"] == strategy
    assert set(persistent()) <= before
    got = {}
    for r in cmap.collect():
        got.setdefault(r["component"], set()).add(r["name"])
    golden = {frozenset(v) for v in oracle.golden_clusters(small_docs).values()}
    assert {frozenset(v) for v in got.values()} == golden


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_canonicalize_reads_a_lazy_rollup_once(spark, monkeypatch, path):
    """Over a lazy rollup — ``graph``'s mentions, never written — the
    extraction under it runs once per document on either linking path:
    ``canonicalize`` collects the rollup once and links what it
    collected."""
    from mmore_spark.corpus.generator import generate_documents
    from mmore_spark.operators.extract import rule_extract
    from mmore_spark.plans.pipeline import graph

    calls = spark.sparkContext.accumulator(0)

    def counting(text):
        calls.add(1)
        return rule_extract(text)

    g = graph(generate_documents(spark, 120, seed=42), extractor=counting)
    rollup = agg.merge_entities_global(g["mentions"])
    if path == "spark":
        monkeypatch.setattr(linking, "DRIVER_LINK_MAX_NAMES", 0)
    before = calls.value
    metrics: dict = {}
    linking.canonicalize(rollup, metrics=metrics)
    assert metrics["path"] == path
    assert calls.value - before == 120
