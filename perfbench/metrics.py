"""Metric names and units printed by perfbench, and the per-layer
metrics derived from a traced unit's spans.

Every workload prints every metric: the end-to-end set with tracing off
and the per-layer set with tracing on. A layer a workload does not call
reads 0 there, so no per-layer metric in seconds names a single layer:
a layer's time is its ``wall_share`` of the traced unit's in-layer
time, and the unit's time in seconds is ``tracing.traced_unit_s``.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "items_per_s": "items/s",
    "recall": "ratio",
    "precision": "ratio",
    "bytes_written_per_item": "B/item",
    "peak_rss_mb": "MB",
}

# spans that carry per-span Spark stage metrics
SPANS = (
    "tables.scan",
    "functions.text",
    "operators.features",
    "operators.similarity",
    "operators.boosting",
    "operators.lsh",
    "serving.score",
    "operators.merge",
    "operators.versioned.read",
    "operators.versioned.write",
    "operators.dedup.minhash",
)

# (metric, unit, span, field): the sum of ``field`` over the unit's spans
# named ``span``
SPAN_FIELDS = [
    ("tables.rows_read", "count", "tables.scan", "rows_read"),
    ("functions.text.terms_out", "count", "functions.text", "terms_out"),
    ("operators.features.rows_out", "count", "operators.features", "rows_out"),
    ("operators.features.shuffle_bytes", "B", "operators.features", "shuffle_write_bytes"),
    ("operators.similarity.partials", "count", "operators.similarity", "partials"),
    ("operators.similarity.pairs_out", "count", "operators.similarity", "pairs_out"),
    ("operators.similarity.shuffle_bytes", "B", "operators.similarity", "shuffle_write_bytes"),
    ("operators.similarity.spill_bytes", "B", "operators.similarity", "spill_bytes"),
    ("operators.lsh.index_rows_hashed", "count", "operators.lsh", "index_rows_hashed"),
    ("operators.lsh.candidates", "count", "operators.lsh", "candidates"),
    ("operators.lsh.pairs_out", "count", "operators.lsh", "pairs_out"),
    ("operators.lsh.shuffle_bytes", "B", "operators.lsh", "shuffle_write_bytes"),
    ("serving.score.rows", "count", "serving.score", "rows"),
    ("operators.merge.rows_rewritten_per_item", "count", "operators.merge", "rows_rewritten_per_item"),
    ("operators.versioned.bytes_written", "B", "operators.versioned.write", "bytes_written"),
    ("operators.dedup.candidates", "count", "operators.dedup.minhash", "candidates"),
    ("operators.dedup.verified_pairs", "count", "operators.dedup.minhash", "verified_pairs"),
] + [
    (f"{span}.{name}", "count", span, name) for span in SPANS for name in ("jobs", "tasks")
]

# (metric, span): the summed self time of the unit's spans named ``span``.
# Every workload reads a table, so this time is never a constant 0.
SPAN_SECONDS = [("tables.scan_s", "tables.scan")]

# (metric, numerator, denominator) over metrics above
RATIOS = [
    ("operators.similarity.useful_ratio", "operators.similarity.pairs_out", "operators.similarity.partials"),
    ("operators.lsh.useful_ratio", "operators.lsh.pairs_out", "operators.lsh.candidates"),
    ("operators.dedup.useful_ratio", "operators.dedup.verified_pairs", "operators.dedup.candidates"),
]

# measured outside the traced units (setup and the traced/untraced pairs)
RUN_LEVEL = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "tracing.traced_unit_s": "s",
    "tracing.untraced_unit_s": "s",
    "tracing.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {m: u for m, u, _, _ in SPAN_FIELDS}
    units.update({m: "s" for m, _ in SPAN_SECONDS})
    units.update({m: "ratio" for m, _, _ in RATIOS})
    units.update({f"{s}.{k}": "ratio" for s in SPANS for k in ("wall_share", "busy_share")})
    units.update(RUN_LEVEL)
    return units


PER_LAYER = per_layer_units()


def unit_layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced unit from its finished spans.

    ``wall_share`` is the span's self time / the time the unit spends
    inside layer spans (its wall time minus the root span's self time,
    which is the harness's own counting); ``busy_share`` is the span's
    executor run time / (its wall time × cores)."""
    out: dict[str, float] = {}
    for metric, _, span, field in SPAN_FIELDS:
        out[metric] = float(sum(s.get(field, 0) for s in spans if s["name"] == span))
    for metric, num, den in RATIOS:
        out[metric] = out[num] / out[den] if out[den] else 0.0
    [unit] = [s for s in spans if s["parent"] is None]
    in_layers = unit["wall_s"] - unit["self_s"]
    for span in SPANS:
        mine = [s for s in spans if s["name"] == span]
        wall = sum(s["wall_s"] for s in mine)
        out[f"{span}.wall_share"] = sum(s["self_s"] for s in mine) / in_layers
        out[f"{span}.busy_share"] = (
            sum(s["executor_run_s"] for s in mine) / (wall * cores) if wall else 0.0
        )
    for metric, span in SPAN_SECONDS:
        out[metric] = sum(s["self_s"] for s in spans if s["name"] == span)
    return out
