"""FIXTURES.md skew_probe: the global merges must equal an independent
Python fold of their input, including under a hot key present in a large
fraction of rows (the Zipf head).  The merges were once salted two-phase
plans; they are one groupBy each now, and the hot-key values stay pinned."""

from collections import defaultdict

from mmore_spark.operators.agg import merge_entities_global, merge_triples_global

TRIPLES_SCHEMA = "doc_id string, subj string, obj string, pred array<string>, weight double"


def _skewed_triples(n=4000):
    # ~25% of rows hit one hot pair (the skew probe)
    rows = []
    for i in range(n):
        if i % 4 == 0:
            s, o = "HOT ENTITY", "PARTNER"
        else:
            s, o = f"E{i % 97}", f"F{i % 89}"
        rows.append((f"doc-{i}", min(s, o), max(s, o), [f"pred{i % 5}"], 1.0))
    return rows


def _fold_triples(rows) -> dict:
    """(subj, obj) → (summed weight, sorted predicate union, row count)."""
    acc = defaultdict(lambda: [0.0, set(), 0])
    for _doc, s, o, preds, w in rows:
        a = acc[(s, o)]
        a[0] += w
        a[1].update(preds)
        a[2] += 1
    return {k: (w, tuple(sorted(p)), n) for k, (w, p, n) in acc.items()}


def _merged_triples(spark, rows) -> dict:
    df = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    merged = merge_triples_global(df)
    assert merged.columns == ["subj", "obj", "pred", "weight", "n_docs"]
    return {(r["subj"], r["obj"]): (r["weight"], tuple(r["pred"]), r["n_docs"])
            for r in merged.collect()}


def test_salted_merge_equals_plain(spark):
    rows = _skewed_triples()
    got = _merged_triples(spark, rows)
    assert got == _fold_triples(rows)
    hot = got[("HOT ENTITY", "PARTNER")]
    assert hot[0] == 1000.0 and hot[2] == 1000


def test_salted_distinct_doc_count_exact_with_repeats(spark):
    """Repeats: one doc hitting the same pair through several rows, and
    the same predicate arriving from several docs.  ``n_docs`` counts
    per-doc triple rows (the golden ``triples_global`` contract), the
    weights sum, and the predicate union keeps each predicate once."""
    rows = [("doc-1", "A", "B", ["p", "q"], 1.0),
            ("doc-1", "A", "B", ["p"], 2.0),  # repeat within doc
            ("doc-2", "A", "B", ["q"], 1.0),
            ("doc-3", "A", "B", ["p", "r"], 1.0),
            ("doc-2", "C", "D", [], 3.0)]
    got = _merged_triples(spark, rows)
    assert got == _fold_triples(rows)
    assert got == {("A", "B"): (5.0, ("p", "q", "r"), 4), ("C", "D"): (3.0, (), 1)}


def test_salted_entities_equals_plain(spark):
    rows = [(f"doc-{i}", "HOT" if i % 3 == 0 else f"N{i % 50}",
             "PERSON" if i % 7 else "ORG", [f"d{i % 4}"]) for i in range(3000)]
    m = spark.createDataFrame(
        rows, "doc_id string, entity_name string, entity_type string, descriptions array<string>")
    merged = merge_entities_global(m)
    assert merged.columns == ["entity_name", "n_mentions", "entity_type", "descriptions"]
    got = {r["entity_name"]: (r["n_mentions"], r["entity_type"], tuple(r["descriptions"]))
           for r in merged.collect()}
    acc = defaultdict(lambda: [0, "", set()])
    for _doc, name, etype, descs in rows:
        a = acc[name]
        a[0] += 1
        a[1] = max(a[1], etype)
        a[2].update(descs)
    assert got == {k: (n, t, tuple(sorted(d))) for k, (n, t, d) in acc.items()}
    assert got["HOT"][0] == 1000
