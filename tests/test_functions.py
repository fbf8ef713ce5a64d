"""Unit tests for expression-level helpers (durations, text, vectors,
json fallback)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.functions import (
    cosine_similarity,
    dot_product,
    iso8601_duration_seconds,
    l2_norm,
    language_id,
    parse_json_with_fallback,
    quality_score,
    token_count_bpe,
    word_count,
)


def _eval(spark, col, rows, colname="x"):
    df = spark.createDataFrame([(r,) for r in rows], [colname])
    return [r["out"] for r in df.select(col.alias("out")).collect()]


def test_iso_duration_cases(spark):
    cases = {
        "PT51S": 51,
        "PT2H47M24S": 2 * 3600 + 47 * 60 + 24,
        "PT1M": 60,
        "PT3H": 10800,
        "P1DT2H": 86400 + 7200,
        "P2W": 2 * 604800,
        "PT0S": 0,
        "garbage": None,
        "": None,
        None: None,
        "PT": None,  # matches grammar but carries no components
        "1H30M": None,  # missing P prefix
        "PT5S\n": None,  # Java's $ would accept a trailing newline
        "P99999999999999999999W": None,  # past the long range
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            out = _eval(
                spark, iso8601_duration_seconds(F.col("x")), list(cases.keys())
            )
            assert out == list(cases.values()), ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_word_and_token_counts(spark):
    out = _eval(spark, word_count(F.col("x")), ["a b  c", "", "  ", "one"])
    assert out == [3, 0, 0, 1]
    # "don't stop!" -> don / ' / t / stop / ! = 5 BPE-ish tokens
    out = _eval(spark, token_count_bpe(F.col("x")), ["don't stop!", "a1b"])
    assert out == [5, 3]


def test_language_id(spark):
    out = _eval(
        spark,
        language_id(F.col("x")),
        [
            "the cat and the dog is in to of with",
            "der hund und die katze ist nicht mit",
            "le chat est dans la maison pour les",
            "xyzzy qwerty",
        ],
    )
    assert out == ["en", "de", "fr", "und"]


def test_quality_score_bounds(spark):
    out = _eval(
        spark,
        quality_score(F.col("x")),
        ["the quick brown fox jumps over the lazy dog and runs on", "!!!", "x"],
    )
    assert all(0.0 <= v <= 1.0 for v in out)
    assert out[0] > out[1]  # prose beats punctuation noise


def test_vector_ops(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 3.0, 6.0])], ["a", "b"]
    )
    row = df.select(
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()[0]
    assert row["dot"] == 20.0
    assert row["na"] == 3.0
    assert math.isclose(row["cos"], 20.0 / (3.0 * 7.0))


def test_cosine_zero_vector_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"] is None


def test_parse_json_with_fallback(spark):
    df = spark.createDataFrame(
        [('{"sentiment": "positive", "score": 0.5}',), ("```not json```",)],
        ["raw"],
    )
    parsed = df.select(
        parse_json_with_fallback(
            "raw",
            "sentiment string, score double, summary string",
            defaults={"sentiment": "neutral", "score": 0.0},
            raw_field="summary",
        ).alias("p")
    ).select("p.*")
    rows = parsed.collect()
    assert rows[0]["sentiment"] == "positive" and rows[0]["score"] == 0.5
    assert rows[1]["sentiment"] == "neutral" and rows[1]["score"] == 0.0
    assert rows[1]["summary"] == "```not json```"  # raw preserved, truncated


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """HLL++ sketch must land within ~3x the configured rsd of exact."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.06 * n)


def test_sentence_split_udtf_lateral(spark):
    from youtube_podcast_data_pipeline_azure_spark.functions.text import sentence_split_udtf

    spark.udtf.register("split_sentences_t", sentence_split_udtf())
    spark.createDataFrame(
        [(1, "Hello there. How are you?  Fine!"), (2, None), (3, "...")],
        "doc_id long, text string",
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence "
        "FROM udtf_docs d, LATERAL split_sentences_t(d.text) s"
    ).collect()
    got = {(r.doc_id, r.sent_idx, r.sentence) for r in rows}
    assert got == {
        (1, 0, "Hello there"),
        (1, 1, "How are you"),
        (1, 2, "Fine"),
    }  # null text and punctuation-only text expand to zero rows


def test_variant_parse_and_typed_get(spark):
    """Spark 4 VARIANT surface: try_parse_json tolerates malformed
    blobs (null variant, like the reference's parse-with-fallback), and
    try_variant_get coerces the same field to int or string views."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 87}'), (2, '{"k": "x"}'), (3, "not json"), (4, None)],
        "event_id long, props string",
    )
    v = F.try_parse_json(F.col("props"))
    out = {
        r.event_id: r
        for r in df.select(
            "event_id",
            F.try_variant_get(v, "$.k", "int").cast("long").alias("k_int"),
            F.try_variant_get(v, "$.k", "string").alias("k_str"),
            v.isNotNull().alias("parsed"),
        ).collect()
    }
    assert (out[1].k_int, out[1].k_str, out[1].parsed) == (87, "87", True)
    assert (out[2].k_int, out[2].k_str, out[2].parsed) == (None, "x", True)
    assert (out[3].k_int, out[3].k_str, out[3].parsed) == (None, None, False)
    assert (out[4].k_int, out[4].k_str, out[4].parsed) == (None, None, False)


def test_strip_markup_extraction(spark):
    from youtube_podcast_data_pipeline_azure_spark.functions.text import strip_markup

    rows = [
        (1, '<html><body onload="x()">Hello <b>world</b> &amp; more</body></html>'),
        (2, 'keep <script type="text/js">var x = "<div>";\nalert(1)</script> this'),
        (3, 'a <!-- multi\nline comment --> b'),
        (4, '&lt;tag&gt; stays literal &quot;q&quot; &#39;s&#39; &nbsp;sp'),
        (5, 'plain text untouched'),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {r.id: r.c for r in df.select("id", strip_markup("s").alias("c")).collect()}
    assert out[1] == "Hello world & more"
    assert out[2] == "keep this"
    assert out[3] == "a b"
    assert out[4] == '<tag> stays literal "q" \'s\' sp'
    assert out[5] == "plain text untouched"
