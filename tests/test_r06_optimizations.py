"""Round-6 optimization parity tests.

Every optimization this round must leave query results identical; these
tests pin the two changes that replaced an implementation rather than a
plan shape:

  * ``rule_extract`` (one scan for every template's candidate starts,
    then matches taken left to right) must be byte-identical to the
    combined-regex baseline ``rule_extract_re``, on generated, random and
    hand-built texts, and when two templates can match at one start;
  * ``linking.canonicalize`` driver path (count-gated LSH+ER+CC+election
    in driver Python) must equal the Spark path row-for-row.
"""

from __future__ import annotations

import random

from mmore_spark.corpus import vocab
from mmore_spark.operators import extract


def _aliases() -> list[str]:
    return [a for clusters in vocab.ALIAS_CLUSTERS.values()
            for cluster in clusters for a in cluster]


def _mids() -> list[str]:
    return [t[0].split("{s}")[1].split("{o}")[0] for t in vocab.RELATION_TEMPLATES]


def test_rule_extract_matches_re_baseline_on_planted_corpus():
    from mmore_spark.corpus.generator import generate_local

    n_nonempty = 0
    for doc in generate_local(200, seed=7):
        text = " ".join(s["text"] for s in doc.spans if s.get("text"))
        out = extract.rule_extract(text)
        assert out == extract.rule_extract_re(text)
        n_nonempty += bool(out)
    assert n_nonempty > 100  # most docs carry planted relations


def test_rule_extract_matches_re_baseline_adversarial():
    """Overlapping aliases, adjacent sentences, truncated aliases, multiple
    relation sentences per doc, mids without aliases — the cases where the
    single scan (ordered alternation, non-overlapping matches) could
    diverge if it were wrong."""
    hand_built = [
        # the first candidate fails; the next starts inside its text
        "A met B met C to discuss the merger.",
        "Alice Keller met Bruno Moreau met Carla Santos to discuss the merger.",
        # "N. Eriksen" starts at the N that ends the first match, so its
        # candidate falls inside that match
        "Alice Keller is the chair of ACME CORPORATION. Eriksen met "
        "Bruno Moreau to discuss the merger.",
        # "Zurich" is a prefix of "Zurich City", as subject and as object
        "Zurich City was held in Zurich City.",
        "Zurich City visited Zurich during the tour.",
        "Alpine Summit 2020 was held in Zurich City. Zurich visited Bern.",
        # sentences joined with no separator
        "Alice Keller spoke at Alpine Summit 2020.Bruno Moreau visited Zurich "
        "during the tour.Acme Corp. acquired Globex Corp. last quarter.",
        "Acme Corp. acquired Globex Corp. last quarter.Globex Corp. acquired "
        "Acme Corp. last quarter.",
        # a later template's candidate comes first and fails; an earlier
        # template then matches at a later start
        "Alpine Expo 2021 took place on March 1, 2020 was held in Bern.",
    ]
    for text in hand_built:
        assert extract.rule_extract(text) == extract.rule_extract_re(text), text
    rng = random.Random(13)
    aliases, mids = _aliases(), _mids()
    for _ in range(1500):
        parts = []
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.35:
                tmpl = rng.choice(vocab.RELATION_TEMPLATES)[0]
                parts.append(tmpl.format(s=rng.choice(aliases), o=rng.choice(aliases)))
            elif r < 0.6:
                parts.append(rng.choice(aliases) + rng.choice(mids) + rng.choice(aliases))
            elif r < 0.8:
                a = rng.choice(aliases)
                parts.append(a[:rng.randint(1, len(a))] + rng.choice(mids).strip()
                             + rng.choice(aliases))
            else:
                parts.append(rng.choice(vocab.FILLER_SENTENCES))
        text = rng.choice(["", " ", "x"]).join(parts)
        assert extract.rule_extract(text) == extract.rule_extract_re(text), text


def test_rule_extract_tie_goes_to_earlier_template(monkeypatch):
    """No two of the corpus templates can match at one start, so this
    swaps in two that share a ``mid`` and both match at 0: the regex's
    alternation takes the earlier template, and so must the scan.  The
    empty tail lets "Zurich" and "Zurich City" both end a match, where
    the longer object must win."""
    templates = [
        ("{s} met {o}", "PERSON", "PERSON", "met", 2.0),
        ("{s} met {o} to discuss the merger.", "PERSON", "PERSON", "met to merge", 4.0),
    ]
    text = "Alice Keller met Bruno Moreau to discuss the merger."
    try:
        for order in (templates, templates[::-1]):
            monkeypatch.setattr(vocab, "RELATION_TEMPLATES", order)
            extract._scan_tables.cache_clear()
            extract._compiled_templates.cache_clear()
            out = extract.rule_extract(text)
            assert out == extract.rule_extract_re(text)
            _tmpl, _st, _ot, pred, weight = order[0]
            assert out.endswith(f"{pred}{extract.TUPLE_DELIM}{weight})##<|COMPLETE|>")
            out = extract.rule_extract("Alice Keller met Zurich City")
            assert out == extract.rule_extract_re("Alice Keller met Zurich City")
            assert "Zurich City<|>met" in out
    finally:
        monkeypatch.undo()
        extract._scan_tables.cache_clear()
        extract._compiled_templates.cache_clear()


def test_rule_extract_empty_and_no_match():
    assert extract.rule_extract("") == extract.rule_extract_re("") == ""
    assert extract.rule_extract("no entities here") == ""


def test_canonicalize_driver_equals_spark_path(spark, small_docs_df, monkeypatch):
    import pandas as pd

    from mmore_spark.functions.spans import render_text
    from mmore_spark.operators import agg, linking

    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    mentions = extract.explode(extract.extract_combined(rendered), "entities")
    rollup = agg.merge_entities_global(mentions).cache()
    driver_metrics, spark_metrics = {}, {}
    driver = linking.canonicalize(rollup, metrics=driver_metrics).toPandas()
    monkeypatch.setattr(linking, "DRIVER_LINK_MAX_NAMES", 0)
    spark_side = linking.canonicalize(rollup, metrics=spark_metrics).toPandas()
    # lineage tells the two paths apart; CC's strategy is the Spark path's
    assert driver_metrics == {"path": "driver"}
    assert spark_metrics["path"] == "spark"
    assert spark_metrics["strategy"] == "driver"
    key = ["name"]
    a = driver.sort_values(key).reset_index(drop=True)
    b = spark_side.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_canonicalize_driver_pair_cap_falls_back_to_spark_path(spark, small_docs_df,
                                                               monkeypatch):
    """When the driver path would enumerate more candidate pairs than its
    budget it must bail (return None) and canonicalize must fall through
    to the Spark path with identical results."""
    import pandas as pd

    from mmore_spark.functions.spans import render_text
    from mmore_spark.operators import agg, linking

    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    mentions = extract.explode(extract.extract_combined(rendered), "entities")
    mentions = mentions.cache()
    counts = mentions.groupBy("entity_name").count().collect()
    stats = {r["entity_name"]: (r["count"], "") for r in counts}
    monkeypatch.setattr(linking, "DRIVER_LINK_MAX_PAIRS", 0)
    assert linking._canonicalize_driver(spark, stats) is None
    # under the name cap, so only the pair budget sends it to the Spark path
    assert len(stats) <= linking.DRIVER_LINK_MAX_NAMES
    fallback_metrics = {}
    fallback = linking.canonicalize(agg.merge_entities_global(mentions),
                                    metrics=fallback_metrics).toPandas()
    assert fallback_metrics["path"] == "spark"
    monkeypatch.undo()
    # and the full operator still produces the driver-path result when the
    # cap is generous
    driver_metrics = {}
    normal = linking.canonicalize(agg.merge_entities_global(mentions),
                                  metrics=driver_metrics).toPandas()
    assert len(normal) == len(stats)
    assert driver_metrics == {"path": "driver"}
    key = ["name"]
    pd.testing.assert_frame_equal(
        fallback.sort_values(key).reset_index(drop=True),
        normal.sort_values(key).reset_index(drop=True))


def test_minhash_digest_slice_equals_hex_h60():
    """The dedup signature stage's digest-slice arithmetic
    (int.from_bytes(md5(b).digest()[:8]) >> 4) must equal the oracle's
    h60 definition (first 15 hex digits of the md5) for arbitrary bytes."""
    from hashlib import md5

    from mmore_spark.hashing import h60_py

    rng = random.Random(13)
    for _ in range(500):
        s = "".join(chr(rng.randrange(32, 0x2FF)) for _ in range(rng.randrange(0, 40)))
        for seed in ("", "#mh3", "#perm7"):
            b = (s + seed).encode("utf-8")
            assert int.from_bytes(md5(b).digest()[:8], "big") >> 4 == h60_py(s, seed)


def test_minhash_signatures_unchanged(spark):
    """Pin the optimized signature stage to the h60_py reference values."""
    from mmore_spark.operators import dedup
    from mmore_spark.hashing import h60_py

    rows = [(1, "alpha beta gamma delta epsilon"), (2, "one"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["band"]): r["bh"]
           for r in dedup.minhash_band_signatures(df).collect()}
    for doc_id, text in rows:
        words = (text or "").split(" ")
        n = len(words)
        shingles = [
            words[i] + " " + (words[i + 1] if i + 1 < n else "") + " "
            + (words[i + 2] if i + 2 < n else "")
            for i in range(max(n - 2, 1))
        ]
        mins = [min(h60_py(s, f"#mh{p}") for s in shingles)
                for p in range(dedup.N_PERMUTATIONS)]
        for b in range(dedup.N_PERMUTATIONS // dedup.BAND_ROWS):
            expect = h60_py(f"{mins[2 * b]}:{mins[2 * b + 1]}")
            assert got[(doc_id, b)] == expect


def test_minhash_signatures_equal_on_wide_scan(spark, tmp_path):
    """The dedup signature stage runs on its input's partitions, so a
    one-file scan and a many-file scan must produce identical
    signatures."""
    from mmore_spark.operators import dedup

    n_files = 2 * spark.sparkContext.defaultParallelism
    n_docs = 3 * n_files
    rows = [(i, f"alpha beta gamma doc {i} delta epsilon zeta")
            for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    single = str(tmp_path / "s.parquet")
    multi = str(tmp_path / "m.parquet")
    df.coalesce(1).write.parquet(single)
    df.repartition(n_files).write.parquet(multi)

    a = sorted(map(tuple, dedup.minhash_band_signatures(
        spark.read.parquet(single)).collect()))
    b = sorted(map(tuple, dedup.minhash_band_signatures(
        spark.read.parquet(multi)).collect()))
    assert a == b and len(a) == n_docs * (dedup.N_PERMUTATIONS // dedup.BAND_ROWS)
