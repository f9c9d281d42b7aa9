"""Extraction-stage tests: parser parity with the reference semantics and
Spark-stage equality with the golden oracle."""

from mmore_spark.corpus import oracle
from mmore_spark.operators import extract
from mmore_spark.operators.extract import parse_records


def test_parser_reference_shape():
    """Reference unit-test shape (tests/test_postprocessors.py:147-227):
    a single entity record parses to exact name/type/description."""
    raw = '("entity"<|>Hello World<|>organization<|>A sample organization)'
    entities, triples = parse_records(raw)
    assert entities == [
        {
            "entity_name": "HELLO WORLD",
            "entity_type": "ORGANIZATION",
            "descriptions": ["A sample organization"],
        }
    ]
    assert triples == []


def test_parser_relationship_weight_quirk():
    """Weight is ALWAYS 1.0 per record (output_parser.py:94-98 isinstance
    quirk) and accumulates over duplicate unordered pairs."""
    raw = "##".join(
        [
            '("relationship"<|>A<|>B<|>likes<|>9.0)',
            '("relationship"<|>B<|>A<|>admires<|>2.5)',
            "<|COMPLETE|>",
        ]
    )
    entities, triples = parse_records(raw)
    assert len(triples) == 1
    t = triples[0]
    assert (t["subj"], t["obj"]) == ("A", "B")
    assert t["weight"] == 2.0
    assert t["pred"] == ["admires", "likes"]
    # endpoints auto-created with empty type and empty description
    assert {e["entity_name"]: e for e in entities}["A"]["entity_type"] == ""


def test_parser_entity_merge_semantics():
    raw = "##".join(
        [
            '("entity"<|>Acme<|> <|>first words)',
            '("entity"<|>Acme<|>ORGANIZATION<|>second words)',
        ]
    )
    entities, _ = parse_records(raw)
    assert entities == [
        {
            "entity_name": "ACME",
            "entity_type": "ORGANIZATION",
            "descriptions": ["first words", "second words"],
        }
    ]


def test_parser_cleaning():
    """Order quirk: names are uppercased BEFORE unescaping
    (output_parser.py:55 — ``_clean_str(attrs[1].upper())``), so
    ``&eacute;`` → ``&EACUTE;`` which html.unescape no longer recognizes;
    descriptions are unescaped (no upper)."""
    raw = '("entity"<|> Caf&eacute;\x01 <|>LOCATION<|>desc&amp;more)'
    entities, _ = parse_records(raw)
    assert entities[0]["entity_name"] == "CAF&EACUTE;"
    assert entities[0]["descriptions"] == ["desc&more"]
    raw2 = '("entity"<|> Caf&amp;co\x01 <|>LOCATION<|>d)'
    entities2, _ = parse_records(raw2)
    assert entities2[0]["entity_name"] == "CAF&CO"  # &AMP; IS case-insensitively known


def test_malformed_records_ignored():
    raw = "##".join(
        [
            "",
            "garbage",
            '("entity"<|>OnlyName)',
            '("relationship"<|>A<|>B<|>too few)',
            '(entity<|>NoQuotes<|>T<|>D)',
        ]
    )
    entities, triples = parse_records(raw)
    assert entities == [] and triples == []


def test_spark_extraction_matches_golden(spark, small_docs, small_docs_df):
    from mmore_spark.functions.spans import render_text

    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    combined = extract.extract_combined(rendered)
    mentions_df = extract.explode(combined, "entities")
    triples_df = extract.explode(combined, "triples")

    pred_t = [r.asDict() for r in triples_df.collect()]
    golden_t = oracle.golden_triples(small_docs)
    p, r = oracle.precision_recall(pred_t, golden_t)
    assert p == 1.0 and r == 1.0

    # exact weights + predicate sets, not just pair matches
    gk = {(t["doc_id"], t["subj"], t["obj"]): (t["weight"], tuple(t["pred"]))
          for t in golden_t}
    pk = {(t["doc_id"], t["subj"], t["obj"]): (t["weight"], tuple(t["pred"]))
          for t in pred_t}
    assert pk == gk

    golden_m = oracle.golden_mentions(small_docs)
    gm = {(m["doc_id"], m["entity_name"]): (m["entity_type"], tuple(m["descriptions"]))
          for m in golden_m}
    pm = {(m["doc_id"], m["entity_name"]): (m["entity_type"], tuple(m["descriptions"]))
          for m in [r.asDict() for r in mentions_df.collect()]}
    assert pm == gm
