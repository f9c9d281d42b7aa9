"""operators/langid: trainable char-trigram Naive Bayes language ID
(the langdetect seam).  Synthetic 'languages' with distinct character
distributions — the corpus lang column is label-only, so training data
is built here."""

import random

from mmore_spark.operators.langid import classify_lang, train_langid


def _sentence(rng, words, n=12):
    return " ".join(rng.choice(words) for _ in range(n))

_VOCABS = {
    "aa": ["haus", "baum", "straße", "über", "schön", "zwölf", "grün"],
    "bb": ["maison", "arbre", "été", "façon", "coeur", "très", "où"],
    "cc": ["house", "tree", "summer", "heart", "very", "where", "green"],
}


def _corpus(seed, per_lang):
    rng = random.Random(seed)
    rows = []
    for lang, words in _VOCABS.items():
        for _ in range(per_lang):
            rows.append((_sentence(rng, words), lang))
    return rows


def test_langid_train_and_classify(spark):
    train = spark.createDataFrame(_corpus(1, 40), "text string, lang string")
    profiles = train_langid(train, top_k=500)
    assert {r["lang"] for r in profiles.select("lang").distinct().collect()} \
        == set(_VOCABS)
    test_rows = [(i, t, lg) for i, (t, lg) in enumerate(_corpus(2, 15))]
    test = spark.createDataFrame(test_rows, "doc_id long, text string, lang string")
    pred = classify_lang(test, profiles).join(test, "doc_id")
    rows = pred.collect()
    acc = sum(r["lang_pred"] == r["lang"] for r in rows) / len(rows)
    assert acc >= 0.95, acc
    assert all(r["lang_score"] < 0 for r in rows)  # log-likelihoods


def test_trigrams_linear_on_long_doc(spark):
    """O(chars²) regression guard: lower() inside the lambda or substring
    seeks made ONE 340k-char doc take 272 s; the char-array shape must
    stay in seconds."""
    import time

    from pyspark.sql import functions as F

    from mmore_spark.operators.langid import char_trigrams

    big = " ".join(f"w{i}" for i in range(50000))
    df = spark.createDataFrame([(big,)], ["text"])
    df.count()
    t0 = time.time()
    n = df.select(F.size(char_trigrams("text")).alias("n")).collect()[0]["n"]
    assert n == len(big) - 2
    assert time.time() - t0 < 30


def test_langid_unseen_floor_prevents_small_profile_bias(spark):
    """A language whose profile misses most of a doc's trigrams must pay
    the floor per miss — a doc of pure 'cc' text scores higher under cc
    than under aa even though both profiles contain SOME shared trigrams
    (spaces)."""
    train = spark.createDataFrame(_corpus(3, 40), "text string, lang string")
    profiles = train_langid(train, top_k=500)
    doc = spark.createDataFrame(
        [(0, "house tree summer house green where very tree")],
        "doc_id long, text string")
    out = classify_lang(doc, profiles).collect()[0]
    assert out["lang_pred"] == "cc"


def test_langid_no_profile_hits_and_short_docs_survive(spark):
    """ADVICE r04: a doc whose trigrams hit NO profile (unseen script)
    must not vanish from the output — it gets the max-floor language at
    n·floor; a doc too short for any trigram gets a null prediction."""
    train = spark.createDataFrame(_corpus(4, 40), "text string, lang string")
    profiles = train_langid(train, top_k=500)
    docs = spark.createDataFrame(
        [(0, "house tree summer"),      # normal: classified
         (1, "0123456789" * 4),         # digits: zero profile hits
         (2, "ab")],                    # < 3 chars: no trigrams at all
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in classify_lang(docs, profiles).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["lang_pred"] == "cc"
    assert rows[1]["lang_pred"] in set(_VOCABS) and rows[1]["lang_score"] < 0
    assert rows[2]["lang_pred"] is None and rows[2]["lang_score"] is None
