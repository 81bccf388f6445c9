"""Text-analysis operators."""

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from jesse_spark.operators.dedup import normalized
from jesse_spark.operators.text import _LANG_TRIGRAMS, quality_features


# ---------------------------------------------------------------------------
# reference lang-id: distinct padded trigrams ∩ each language's grams — the
# formulation with_lang_id's contains probes replaced, kept as its oracle
# ---------------------------------------------------------------------------
def _char_trigrams(text: Column) -> Column:
    """Distinct trigrams of the padded, normalized text via substr —
    an O(n²) seek per row, fine for test-sized strings."""
    t = F.concat(F.lit(" "), normalized(text), F.lit(" "))
    n = F.greatest(F.length(t) - 2, F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(3))))


def _lang_scores(tri: Column) -> Column:
    """array<struct<score,lang>> of per-language trigram overlaps."""
    return F.array(*[
        F.struct(
            F.size(F.array_intersect(
                tri, F.array(*[F.lit(g) for g in grams]))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, grams in _LANG_TRIGRAMS.items()
    ])


def lang_id(text: Column) -> Column:
    """Highest trigram overlap wins; ``"und"`` when no gram occurs."""
    best = F.array_max(_lang_scores(_char_trigrams(text)))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(F.lit("und"))


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and the cat."),
        (1, "Der Hund und die Katze spielen in einem der Gärten nicht."),
        (2, "le chien et le chat jouent dans le jardin de la maison"),
        (3, "el perro y el gato juegan en el jardín de la casa que"),
        (4, "!!! ??? ### $$$ %%%"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_features(texts):
    q = quality_features(texts, "text").collect()
    by = {x["doc_id"]: x for x in q}
    assert by[0]["quality_score"] > 0.5          # clean English
    assert by[4]["quality_score"] < 0.3          # punctuation soup
    assert by[5]["quality_score"] == 0.0         # empty
    assert 0 <= by[0]["stopword_ratio"] <= 1


def test_lang_id(texts):
    r = {x["doc_id"]: x["l"] for x in
         texts.select("doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert r[0] == "en"
    assert r[1] == "de"
    assert r[2] == "fr"
    assert r[3] == "es"


def test_with_lang_id_matches_trigram_formulation(spark):
    """The contains-probe rewrite of with_lang_id must agree with the
    trigram-intersect column formulation on every row, including ties,
    empty/short strings, unicode (Cyrillic, multi-byte) and texts where
    a gram spans a collapsed-whitespace boundary."""
    from jesse_spark.operators.text import with_lang_id

    rows = [
        (0, "The quick brown fox jumps over the lazy dog and the cat."),
        (1, "Der Hund und die Katze spielen in einem der Gärten nicht."),
        (2, "le chien et le chat jouent dans le jardin de la maison"),
        (3, "el perro y el gato juegan en el jardín de la casa que"),
        (4, "При этом не было ого на тест"),
        (5, ""),
        (6, "ab"),
        (7, "x"),
        (8, "de"),                       # gram "de " only via padding
        (9, "word\t\nthe   end"),        # \s+ collapse then ' th'/'he '
        (10, "что-то ничего кого"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["pred_lang"]
           for r in with_lang_id(df, "text").collect()}
    ref = {r["doc_id"]: r["l"]
           for r in df.select("doc_id",
                              lang_id(F.col("text")).alias("l")).collect()}
    assert got == ref
