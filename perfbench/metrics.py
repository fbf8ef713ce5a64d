"""Per-layer metrics of the traced run, named ``<module>.<metric>``.

Each comes from one traced warm pass (spans, plan counters, job-group
counts, ``Observation`` row counts, classifier accumulators); a run
reports the median over its traced warm passes.  ``PER_LAYER`` is the
list ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import statistics

from perfbench.probe import PLAN_METRICS
from perfbench.workloads import CC_QUERIES, MEDALLION_LAYERS, PERSISTED

#: Layers that get a self-time metric: span layers of the benchmark.
LAYERS = (
    "bench.pass", "bench.op", "entry.queries", "entry.bronze", "io.readers",
    "spark.read", "io.writers", "io.artifacts", "operators.medallion",
    "enrichment", "spark.action",
)

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "io.readers.load_table_s": "s",
    "io.writers.write_s": "s",
    "io.writers.bytes_written": "bytes",
    "io.writers.files_written": "count",
    "io.artifacts.load_s": "s",
    "operators.medallion.silver_s": "s",
    "operators.medallion.gold_s": "s",
    "operators.medallion.kpis_s": "s",
    **{
        f"operators.medallion.{layer}.{k}": "rows"
        for layer in MEDALLION_LAYERS for k in ("rows_in", "rows_out", "rows_dropped")
    },
    "enrichment.classify_calls": "count",
    "enrichment.rows_classified": "rows",
    "enrichment.classify_s": "s",
    "enrichment.fallback_rows": "rows",
    "enrichment.rows_classified_per_gold_row": "ratio",
    "query.construct_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.tasks": "count",
    **{f"{q}.{k}": u for q in CC_QUERIES + PERSISTED for k, u in (("s", "s"), ("jobs", "count"))},
    **PLAN_METRICS,
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}


def one_pass(p: dict, setup: dict) -> dict[str, float]:
    """Every per-layer value of one traced pass, except the overhead."""
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["session.get_spark_s"] = setup["session.get_spark_s"]
    v["io.readers.load_table_s"] = setup["io.readers.load_table_s"]
    layer_s = p["layer_s"]
    v["io.writers.write_s"] = layer_s.get("io.writers", 0.0)
    v["io.artifacts.load_s"] = layer_s.get("io.artifacts", 0.0)
    v["query.construct_s"] = layer_s.get("entry.queries", 0.0)
    v["query.exec_s"] = layer_s.get("spark.action", 0.0)
    v["io.writers.bytes_written"] = p["bytes_written"]
    v["io.writers.files_written"] = p["files_written"]
    ops = p["op_stats"]
    for name, st in ops.items():
        v["query.jobs"] += st["jobs"]
        v["query.tasks"] += st["tasks"]
        for key, value in st["plan"].items():
            v[key] += value
        if f"{name}.jobs" in v:
            v[f"{name}.s"] = st["s"]
            v[f"{name}.jobs"] = st["jobs"]

    def op_s(*names):
        return sum(ops[n]["s"] for n in names if n in ops)

    v["operators.medallion.silver_s"] = op_s("silver_videos", "silver_comments")
    v["operators.medallion.gold_s"] = op_s("gold_videos", "gold_comments")
    v["operators.medallion.kpis_s"] = op_s("kpis")
    rows = p["rows"]
    for layer in MEDALLION_LAYERS:
        if f"{layer}.in" in rows:
            r_in, r_out = rows[f"{layer}.in"], rows[f"{layer}.out"]
            prefix = f"operators.medallion.{layer}"
            v[f"{prefix}.rows_in"], v[f"{prefix}.rows_out"] = r_in, r_out
            v[f"{prefix}.rows_dropped"] = r_in - r_out
    v.update(p["enrichment"])
    gold_rows = sum(rows.get(f"{g}.out", 0) for g in ("gold_videos", "gold_comments"))
    if gold_rows:
        v["enrichment.rows_classified_per_gold_row"] = v["enrichment.rows_classified"] / gold_rows
    for layer in LAYERS:
        v[f"{layer}.self_s"] = p["self_s"].get(layer, 0.0)
    v["trace.pass_s"] = p["wall_s"]
    return v


def per_layer(traced: list[dict], setup: dict, untraced_walls: list[float]) -> dict:
    """Median over the traced warm passes, plus the tracing overhead
    against the untraced warm passes of the same run."""
    each = [one_pass(p, setup) for p in traced]
    v = {k: statistics.median(x[k] for x in each) for k in PER_LAYER}
    v["trace.untraced_pass_s"] = statistics.median(untraced_walls)
    v["trace.overhead_s"] = v["trace.pass_s"] - v["trace.untraced_pass_s"]
    return {k: {"value": v[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
