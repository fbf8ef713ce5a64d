"""The three benchmark workloads.

A workload is a list of operations per pass.  An operation does its
work and returns what the checks need; everything it calls sits inside
a span named after the engine layer it enters.  Checks run after the
pass, outside the timed region, against the DuckDB oracle.
"""

from __future__ import annotations

import functools
import os
import random
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import __spark_entry__ as entry
from youtube_podcast_data_pipeline_azure_spark import enrichment
from youtube_podcast_data_pipeline_azure_spark.io import writers
from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
from youtube_podcast_data_pipeline_azure_spark.operators import (
    curation,
    medallion,
    similarity,
    text_mining,
)

from perfbench import oracle
from perfbench.probe import make_classifier

#: 21 of the 32 queries of ``bench.py:HEADLINE`` as it stood when this
#: benchmark was defined, pinned here so an edit to bench.py cannot
#: change the workload.  They keep the TPC-H joins and aggregates, the
#: event windows, as-of join, text dedup, vector search, the one
#: enrichment query, BM25 and the sketches.  Left out so that a run
#: fits the time budget on a loaded four-core machine: the costliest
#: queries whose operator family another query here or in
#: dedup_index_build already runs (ngram_jaccard_pairs, ivfpq_recall,
#: knn_sq8_rerank, image_near_dup, dsir_importance_weights,
#: knn_bruteforce, local_supplier_volume, product_type_profit,
#: token_set_dedup, text_stats), and minhash_near_dup, whose DuckDB
#: oracle alone takes over three seconds a run.
ANALYTICS_QUERIES = (
    "pricing_summary", "shipping_priority", "market_share", "waiting_suppliers",
    "kpi_event_type_counts", "per_group_limit", "window_running", "asof_join",
    "tumbling_windows", "session_windows", "exact_dedup", "knn_ivf",
    "enrich_documents", "exact_substring_spans", "bm25_search", "hll_shard_union",
    "pq_codes", "pq_ann", "quality_signals", "paragraph_dedup", "cap_per_source",
)
#: Registered queries without an oracle: their result must instead
#: repeat exactly across the passes of a run.
NO_ORACLE = frozenset({"knn_ivf"})
#: Connected-components dedup: label propagation and
#: large-star/small-star over the same pair graph.  Left out so that a
#: run fits the time budget: dedup_keep_best, a third label-propagation
#: run over that graph.
CC_QUERIES = ("duplicate_clusters", "duplicate_clusters_star")
#: Build-once artifacts: each is the registered ``q_<name>`` body with
#: the index write and the load + query as separate steps.  Left out so
#: that a run fits the time budget: exact_substring_spans_persisted and
#: lm_perplexity_persisted, the costliest (the suffix array is built in
#: analytics_mix too).
PERSISTED = (
    "bm25_search_persisted", "knn_ivf_persisted", "pq_ann_persisted",
    "nb_quality_persisted",
)
INGEST_DATE = "2024-01-01"
MEDALLION_LAYERS = ("silver_videos", "silver_comments", "gold_videos", "gold_comments")
#: Oracle columns that a written layer holds in another form, computed
#: from the written columns: the gold video arrays as the
#: ``enrich_video_titles`` oracle gives them.
ORACLE_COLUMNS = {
    "emotions_csv": "array_to_string(emotions, '|')",
    "n_emotions": "cast(len(emotions) AS bigint)",
    "n_topics": "cast(len(topics) AS bigint)",
}

Op = tuple[str, Callable[[], object]]


class Ctx:
    """What a pass needs: the session, the inputs, the seed, the
    tracer, the pass's scratch directory and what traced passes record."""

    def __init__(self, spark, data_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.tr = tracer
        self.pass_dir = ""
        self.pass_index = -1
        self.observations: dict[str, Observation] = {}
        self.classifier = None

    def table(self, name: str) -> DataFrame:
        with self.tr.span("io.readers", f"load_table.{name}"):
            return load_table(self.spark, self.data_dir, name)

    def collect(self, name: str, df: DataFrame) -> tuple[list[str], list[tuple]]:
        with self.tr.span("spark.action", f"{name}.collect"):
            return list(df.columns), [tuple(r) for r in df.collect()]

    def observe(self, key: str, df: DataFrame) -> DataFrame:
        """Row count via ``Observation`` (no extra scan); traced passes only."""
        if not self.tr.enabled:
            return df
        obs = Observation(key)
        self.observations[key] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))


class Workload:
    name = ""
    #: Seconds of ``--seconds`` one warm pass counts for: a run makes
    #: round(--seconds / seconds_per_pass) warm passes, at least one, so
    #: the pass count does not depend on the machine's speed.  Set to the
    #: workload's warm-pass time on four cores when the benchmark was
    #: defined.
    seconds_per_pass = 1.0

    def prepare(self, ctx: Ctx, duck) -> None:
        """Untimed, once per run: fix the op order, fetch expectations."""

    def ops(self, ctx: Ctx) -> list[Op]:
        raise NotImplementedError

    def check(self, ctx: Ctx, name: str, result) -> str | None:
        """None when ``result`` is right, else what is wrong."""
        raise NotImplementedError


class _QueryMix(Workload):
    """Shared by the workloads made of registered queries: the order
    within a pass comes from the seed, each result is checked against
    its oracle, or, without one, against the first pass."""

    def prepare(self, ctx: Ctx, duck) -> None:
        self.order = list(self.names)
        random.Random(ctx.seed).shuffle(self.order)
        sql = entry.oracle_sql()
        self.expected = {
            n: oracle.expected_rows(duck, sql[n]) for n in self.names if n not in NO_ORACLE
        }
        self.first: dict[str, list[tuple]] = {}

    def query_op(self, ctx: Ctx, name: str) -> Op:
        fn = entry.queries()[name]

        def run():
            with ctx.tr.span("entry.queries", f"{name}.construct"):
                df = fn(ctx.spark, ctx.data_dir)
            return ctx.collect(name, df)

        return name, run

    def check(self, ctx: Ctx, name: str, result) -> str | None:
        cols, rows = result
        if name in self.expected:
            return oracle.compare(cols, rows, *self.expected[name])
        norm = oracle.normalize(cols, rows)
        first = self.first.setdefault(name, norm)
        return None if norm == first else "result differs from the first pass"


class AnalyticsMix(_QueryMix):
    name = "analytics_mix"
    seconds_per_pass = 7.4
    names = ANALYTICS_QUERIES

    def ops(self, ctx: Ctx) -> list[Op]:
        return [self.query_op(ctx, n) for n in self.order]


class DedupIndexBuild(_QueryMix):
    """Connected-components dedup, then build-once index write -> load
    -> query for each persisted artifact."""

    name = "dedup_index_build"
    seconds_per_pass = 9.3
    names = CC_QUERIES + PERSISTED

    def ops(self, ctx: Ctx) -> list[Op]:
        return [
            (n, functools.partial(self.persisted, ctx, n)) if n in PERSISTED
            else self.query_op(ctx, n)
            for n in self.order
        ]

    def persisted(self, ctx: Ctx, name: str):
        path = os.path.join(ctx.pass_dir, name)
        write, load = getattr(self, name)(ctx, path)
        with ctx.tr.span("io.writers", f"{name}.write"):
            write()
        with ctx.tr.span("io.artifacts", f"{name}.load"):
            df = load()
        return ctx.collect(name, df)

    # Each returns (write, load + query) with the arguments of the
    # registered ``q_<name>``.

    def bm25_search_persisted(self, ctx: Ctx, path: str):
        docs = ctx.table("documents")
        qs = docs.where(F.col("doc_id") % 101 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        return (lambda: text_mining.bm25_index_write(docs, path),
                lambda: text_mining.bm25_topk_from_index(ctx.spark, path, qs, k=10))

    def _embeddings(self, ctx: Ctx):
        emb = ctx.table("embeddings")
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return emb.where(F.col("vec_id") >= 5), queries

    def knn_ivf_persisted(self, ctx: Ctx, path: str):
        corpus, queries = self._embeddings(ctx)

        def load():
            inv, cents = similarity.ivf_index_load(ctx.spark, path)
            return similarity.knn_ivf_from_index(inv, cents, queries, k=10, nprobe=8)

        return (lambda: similarity.ivf_index_write(corpus, path, n_centroids=8,
                                                   train_sample=1024),
                load)

    def pq_ann_persisted(self, ctx: Ctx, path: str):
        corpus, queries = self._embeddings(ctx)
        return (lambda: similarity.pq_index_write(corpus, path, train_sample=None),
                lambda: similarity.pq_ann_from_index(ctx.spark, path, queries, k=10))

    def nb_quality_persisted(self, ctx: Ctx, path: str):
        docs = ctx.table("documents")
        labeled = docs.where(F.col("doc_id") % 3 != 0).withColumn(
            "label", F.col("lang") == "en"
        )
        to_score = docs.where(F.col("doc_id") % 3 == 0)
        return (lambda: curation.nb_model_write(labeled, path),
                lambda: curation.nb_scores_from_model(ctx.spark, path, to_score))


def _map_csv(col: str):
    """A count map as a sorted ``k=v,...`` string (q_medallion_kpis's
    output form, which its oracle reproduces)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(col)),
            lambda e: F.concat_ws("=", e["key"], e["value"]),
        ),
        ",",
    ).alias(col)


class MedallionDaily(Workload):
    """Bronze -> silver (written) -> gold with enrichment (written) ->
    KPI row, each layer materialized under the pass directory."""

    name = "medallion_daily"
    seconds_per_pass = 4.3

    def prepare(self, ctx: Ctx, duck) -> None:
        """The KPI row, and each layer's rows with the columns the
        oracle can derive: silver whole; gold as silver plus the
        ``DeterministicClassifier`` output, re-expressed by the
        ``enrich_documents`` and ``enrich_video_titles`` oracles (the
        latter with the run's classifier seed)."""
        sql = entry.oracle_sql()
        self.duck = duck
        self.kpis = oracle.expected_rows(duck, sql["medallion_kpis"])
        silver_v, silver_c = sql["videos_bronze_to_silver"], sql["comments_bronze_to_silver"]
        comments = oracle.substitute(
            sql["enrich_documents"], "FROM documents",
            f"FROM (SELECT commentId AS doc_id, text FROM ({silver_c}))",
        )
        videos = oracle.substitute(
            sql["enrich_video_titles"], "md5_number_upper('42:'",
            f"md5_number_upper('{ctx.seed}:'",
        )
        self.expected = {
            "silver_videos": silver_v,
            "silver_comments": silver_c,
            "gold_videos": f"""
                SELECT s.*, e.sentiment, e.emotions_csv, e.n_emotions, e.n_topics
                FROM ({silver_v}) s JOIN ({videos}) e USING (video_id)""",
            "gold_comments": f"""
                SELECT s.*, e.sentiment, e.sentiment_score, e.emotion, e.summary
                FROM ({silver_c}) s JOIN ({comments}) e ON e.doc_id = s.commentId""",
        }
        self.rows = {k: oracle.count(duck, v) for k, v in self.expected.items()}

    def path(self, ctx: Ctx, layer: str) -> str:
        return os.path.join(ctx.pass_dir, layer)

    def ops(self, ctx: Ctx) -> list[Op]:
        ctx.classifier = make_classifier(ctx.spark, ctx.seed, ctx.tr.enabled)
        bronze = {
            "silver_videos": (entry._bronze_videos_from_orders, medallion.bronze_videos_to_silver),
            "silver_comments": (
                entry._bronze_comments_from_documents, medallion.bronze_comments_to_silver,
            ),
        }
        enrich = {
            "gold_videos": ("silver_videos", enrichment.enrich_videos, "title"),
            "gold_comments": ("silver_comments", enrichment.enrich_comments, "text"),
        }

        def silver(layer):
            make_bronze, to_silver = bronze[layer]
            with ctx.tr.span("entry.bronze", f"{layer}.bronze"):
                df = ctx.observe(f"{layer}.in", make_bronze(ctx.spark, ctx.data_dir))
            with ctx.tr.span("operators.medallion", to_silver.__name__):
                df = to_silver(df).withColumn("ingest_date", F.lit(INGEST_DATE))
            self._write(ctx, layer, ctx.observe(f"{layer}.out", df))

        def gold(layer):
            source, enrich_fn, text_col = enrich[layer]
            df = ctx.observe(f"{layer}.in", self._read(ctx, source))
            with ctx.tr.span("enrichment", enrich_fn.__name__):
                df = enrich_fn(df, ctx.classifier, text_col=text_col)
            self._write(ctx, layer, ctx.observe(f"{layer}.out", df))

        def kpis():
            videos = self._read(ctx, "gold_videos")
            comments = self._read(ctx, "gold_comments")
            with ctx.tr.span("operators.medallion", "kpis"):
                kpi = medallion.kpis(videos, comments).select(
                    "total_videos", "total_comments",
                    _map_csv("video_sentiment_counts"), _map_csv("comment_sentiment_counts"),
                )
            return ctx.collect("kpis", kpi)

        return [
            ("silver_videos", lambda: silver("silver_videos")),
            ("silver_comments", lambda: silver("silver_comments")),
            ("gold_videos", lambda: gold("gold_videos")),
            ("gold_comments", lambda: gold("gold_comments")),
            ("kpis", kpis),
        ]

    def _write(self, ctx: Ctx, layer: str, df: DataFrame) -> None:
        with ctx.tr.span("io.writers", f"write_partitioned.{layer}"):
            writers.write_partitioned(df, self.path(ctx, layer), "ingest_date")

    def _read(self, ctx: Ctx, layer: str) -> DataFrame:
        with ctx.tr.span("spark.read", f"read.{layer}"):
            return ctx.spark.read.parquet(self.path(ctx, layer))

    def check(self, ctx: Ctx, name: str, result) -> str | None:
        """The KPI row against its oracle on every pass.  Each written
        layer against its oracle row for row on the first pass, and by
        row count on the others."""
        if name == "kpis":
            return oracle.compare(*result, *self.kpis)
        path = self.path(ctx, name)
        if ctx.pass_index == 0:
            return oracle.compare_written(self.duck, self.expected[name], path, ORACLE_COLUMNS)
        got = oracle.count(self.duck, oracle.written(path))
        want = self.rows[name]
        return None if got == want else f"{got} rows written, oracle has {want}"


WORKLOADS = {w.name: w for w in (MedallionDaily, AnalyticsMix, DedupIndexBuild)}
