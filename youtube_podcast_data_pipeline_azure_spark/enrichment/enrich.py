"""LLM-enrichment operators (A11/A12/A13) as batched pandas UDFs.

The reference calls the LLM synchronously once per row inside a Python
loop (reference gold_sentiment_comments.py:69-74) — throughput ≈ 1 row
per request-latency.  Here the classifier runs inside an Arrow-batched
``pandas_udf``: executors each process whole record batches, so at 100
TB the concurrency is (executors × cores), and batch size is tunable
via ``spark.sql.execution.arrow.maxRecordsPerBatch``.

Fallback parity: malformed model output yields the reference's exact
neutral record with ``summary = raw[:200]``
(gold_sentiment_comments.py:46-50) — implemented once, Python-side, in
``parse_llm_json`` next to the batch loop (the raw string is needed for
the fallback, which is why parsing isn't deferred to ``from_json``).

The UDFs are marked non-deterministic so Catalyst will not re-order
them below the cheap text filters, preserving the reference's
filter-before-expensive-call shape (gold_sentiment_comments.py:70-72,
SURVEY.md §4).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.enrichment.classifier import Classifier, DeterministicClassifier
from youtube_podcast_data_pipeline_azure_spark.schemas import COMMENT_ENRICHMENT, VIDEO_ENRICHMENT


def parse_llm_json(raw: str, mode: str) -> dict:
    """Strict-JSON parse with the reference's neutral fallback
    (gold_sentiment_comments.py:46-50; videos variant
    gold_sentiment_videos.py:46-50-equivalent)."""
    try:
        d = json.loads(raw)
        if not isinstance(d, dict):
            raise ValueError("not an object")
    except (ValueError, TypeError):
        if mode == "video":
            return {"sentiment": "neutral", "emotions": [], "topics": []}
        return {
            "sentiment": "neutral",
            "sentiment_score": 0.0,
            "emotion": "neutral",
            "summary": (raw or "")[:200],
        }
    if mode == "video":
        return {
            "sentiment": d.get("sentiment", "neutral"),
            # enforce the contract caps (<=5 emotions, <=8 topics,
            # reference gold_sentiment_videos.py:41-42)
            "emotions": list(d.get("emotions") or [])[:5],
            "topics": list(d.get("topics") or [])[:8],
        }
    score = d.get("sentiment_score", 0.0)
    return {
        "sentiment": d.get("sentiment", "neutral"),
        "sentiment_score": float(score) if isinstance(score, (int, float)) else 0.0,
        "emotion": d.get("emotion", "neutral"),
        "summary": d.get("summary", ""),
    }


def _make_udf(classifier: Classifier, mode: str):
    schema = VIDEO_ENRICHMENT if mode == "video" else COMMENT_ENRICHMENT

    @F.pandas_udf(schema)
    def enrich(texts: pd.Series) -> pd.DataFrame:
        raw = classifier.classify_batch(texts.fillna("").tolist(), mode)
        return pd.DataFrame([parse_llm_json(r, mode) for r in raw])

    # Expensive + externally-effectful: forbid Catalyst from duplicating
    # or reordering it ahead of the cheap filters.
    return enrich.asNondeterministic()


def enrich_comments(
    silver_comments: DataFrame,
    classifier: Classifier | None = None,
    text_col: str = "text",
) -> DataFrame:
    """A11 + A13 — append (sentiment, sentiment_score, emotion, summary)
    to each comment row (reference gold_sentiment_comments.py:52-99).
    Empty text never reaches the classifier (:70-72)."""
    # No repartition in either enrich_*: the UDF runs as wide as its
    # input.  Video silver is spread at the silver edge
    # (medallion.bronze_videos_to_silver), so gold videos read as many
    # files as there are cores.  Comment silver stays single-split: a
    # pandas_udf pays a Python-worker startup per partition, which
    # swamps a few thousand rows (spreading them measured slower).
    udf = _make_udf(classifier or DeterministicClassifier(), "comment")
    enriched = silver_comments.where(
        F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0
    ).withColumn("_enrichment", udf(F.col(text_col)))
    return enriched.select("*", "_enrichment.*").drop("_enrichment")


def enrich_videos(
    silver_videos: DataFrame,
    classifier: Classifier | None = None,
    text_col: str = "title",
) -> DataFrame:
    """A12 + A13 — append (sentiment, emotions[<=5], topics[<=8]) to each
    video row (reference gold_sentiment_videos.py:62-74)."""
    udf = _make_udf(classifier or DeterministicClassifier(), "video")
    enriched = silver_videos.withColumn("_enrichment", udf(F.col(text_col)))
    return enriched.select("*", "_enrichment.*").drop("_enrichment")
