"""Per-layer metrics of a traced run.

Figures are per benchmark job (median over the measured jobs in which
the layer ran) unless the name says otherwise; ``streaming.*`` totals
(``compactions``, ``delta_batches``, ``store_bytes``, ``index_rows``,
``pairs_out``) are per run. A layer a workload never calls reports 0.

Times are inclusive: a layer's span covers its call and the checkpoint
write that executes its lazy plan, so ``runtime.checkpoint.s`` overlaps
the layer that wrote the checkpoint. Spark figures (``jobs``, ``tasks``,
``plan_s`` = span wall minus the union of its Spark jobs' intervals)
come from the UI REST API, attributed through per-span job groups.
"""

from __future__ import annotations

from collections import defaultdict

from spans import layer_spark_metrics, median

#: span name -> the layer its Spark jobs are reported under
SPAN_LAYER = {
    "tabmap": "tabmap",
    "runtime.checkpoint": "runtime.checkpoint",
    "pg.build": "pg.build",
    "pg.jsonl": "pg.jsonl",
    "io.neo4j": "io.neo4j",
    "operators.text": "operators.text",
    "operators.dedup.exact": "operators.dedup",
    "operators.dedup.near": "operators.dedup",
    "operators.sampling": "operators.sampling",
    "operators.contamination": "operators.contamination",
    "queries.corpus": "queries.corpus",
    "streaming.kg": "streaming.kg",
    "streaming.kg.read": "streaming.kg",
    "streaming.dedupe": "streaming.dedupe",
}

#: reported metric -> span name whose per-job wall time it is
SPAN_TIMES = {
    "tabmap.s": "tabmap",
    "runtime.checkpoint.s": "runtime.checkpoint",
    "pg.build.s": "pg.build",
    "pg.jsonl.s": "pg.jsonl",
    "io.neo4j.s": "io.neo4j",
    "operators.text.s": "operators.text",
    "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.near_s": "operators.dedup.near",
    "operators.sampling.s": "operators.sampling",
    "operators.contamination.s": "operators.contamination",
    "queries.corpus.s": "queries.corpus",
}

#: reported metric -> per-job counter (median over jobs that set it)
COUNTERS = {
    "tabmap.rows_in": "tabmap.rows_in",
    "tabmap.triples_out": "tabmap.triples_out",
    "runtime.checkpoint.bytes": "runtime.checkpoint.bytes",
    "runtime.checkpoint.files": "runtime.checkpoint.files",
    "pg.build.elements_out": "pg.build.elements_out",
    "pg.jsonl.bytes_out": "pg.jsonl.bytes_out",
    "io.neo4j.tx": "io.neo4j.tx",
    "io.neo4j.rows_per_tx": "io.neo4j.rows_per_tx",
    "io.neo4j.db_wait_s": "io.neo4j.db_wait_s",
    "operators.text.docs_in": "operators.text.docs_in",
    "operators.text.docs_out": "operators.text.docs_out",
    "operators.dedup.candidates": "operators.dedup.candidates",
    "operators.dedup.verified_pairs": "operators.dedup.verified_pairs",
    "operators.contamination.flagged": "operators.contamination.flagged",
    "streaming.kg.merge_s_p50": "streaming.kg.merge_s",
    "streaming.kg.compact_epoch_s_p50": "streaming.kg.compact_epoch_s",
    "streaming.kg.read_s": "streaming.kg.read_s",
    "streaming.dedupe.batch_s": "streaming.dedupe.batch_s",
}

#: reported metric -> counter summed over the whole run
TOTALS = {
    "streaming.kg.compactions": "streaming.kg.compactions",
    "streaming.kg.delta_batches": "streaming.kg.delta_batches",
    "streaming.kg.store_bytes": "streaming.kg.store_bytes",
    "streaming.dedupe.index_rows": "streaming.dedupe.index_rows",
    "streaming.dedupe.pairs_out": "streaming.dedupe.pairs_out",
}

SPARK_FIGURES = ("jobs", "tasks", "plan_s")
LAYERS = sorted(set(SPAN_LAYER.values()))


def per_layer_metrics(spans: list[dict], jobs: list, stages: dict, counters: dict):
    """(values by metric name, extra figures for the log)."""
    values: dict[str, float] = {}
    per_job_span = defaultdict(lambda: defaultdict(float))
    for s in spans:
        per_job_span[s["name"]][s["job"]] += s["end"] - s["start"]
    for metric, span_name in SPAN_TIMES.items():
        values[metric] = median(list(per_job_span[span_name].values()))

    measured = {j: c for j, c in counters.items() if j.startswith("m")}
    for metric, key in COUNTERS.items():
        values[metric] = median([c[key] for c in measured.values() if key in c])
    for metric, key in TOTALS.items():
        values[metric] = sum(c.get(key, 0) for j, c in counters.items() if j in measured or j == "finish")
    cand = values["operators.dedup.candidates"]
    values["operators.dedup.useful_ratio"] = (
        values["operators.dedup.verified_pairs"] / cand if cand else 0.0
    )

    spark = layer_spark_metrics(spans, jobs, stages, SPAN_LAYER)
    extra = {}
    for layer in LAYERS:
        figs = spark.get(layer, {})
        for fig in SPARK_FIGURES:
            values[f"{layer}.{fig}"] = median(figs.get(fig, []))
        extra[f"{layer}.failed_tasks"] = sum(figs.get("failed_tasks", []))
    pg = spark.get("pg.build", {})
    values["pg.build.shuffle_bytes"] = median(pg.get("shuffle_bytes", []))
    values["pg.build.spill_bytes"] = median(pg.get("spill_bytes", []))
    extra["spans"] = len(spans)
    extra["spark_jobs"] = len(jobs)
    return values, extra
