"""Per-layer metrics from one traced run.

Every name below is printed on every workload; a layer the workload
never calls reads 0, which is the prediction for the workloads that
bypass it. Span metrics are summed over all spans of a name:
``self_s`` is span time minus child spans, ``jobs``/``tasks`` are what
Spark ran under the span's own job group (children excluded),
``rows_out`` is the row count of the span's forced output.
"""

from __future__ import annotations

import os

from perfbench.checks import parquet_stats
from perfbench.spans import self_times
from perfbench.workloads import SAVED_TABLES, WarehouseQuery

#: span name -> metrics reported for it
SPAN_METRICS = {
    "training_data._featured_survivors": ("self_s", "tasks"),
    "dedup.shingle_arrays": ("self_s", "jobs", "tasks"),
    "dedup.minhash_signatures_from_arrays": ("self_s", "jobs", "tasks"),
    "dedup.lsh_candidate_pairs": ("self_s", "jobs", "tasks", "rows_out"),
    "dedup.minhash_dedup_pairs": ("self_s", "jobs", "tasks", "rows_out"),
    "dedup.connected_components_star": ("self_s", "jobs", "tasks"),
    "dedup.remove_duplicate_spans": ("self_s", "jobs", "tasks"),
    "sampling.train_val_test_split": ("self_s", "jobs", "tasks"),
    "rag_index.hash_embed_chunks": ("self_s", "jobs", "tasks"),
    "similarity.ivf_train_sampled": ("self_s", "jobs", "tasks"),
    "similarity.ivf_group_centroids": ("self_s", "jobs", "tasks"),
    "similarity.ivf_assign_two_level": ("self_s", "jobs", "tasks"),
    "similarity.ivf_topk_assigned": ("self_s", "jobs", "tasks"),
    "star_schema.build_warehouse": ("self_s", "jobs"),
    "keys.surrogate_key_rownum": ("self_s", "jobs"),
    "keys.surrogate_key_scalable": ("self_s", "jobs"),
    "readers.register_star_views": ("self_s",),
}
UNITS = {"self_s": "s", "jobs": "count", "tasks": "count", "rows_out": "rows"}
#: spans whose forced output is counted: the rows_out metrics, plus
#: the front kernel's survivors and the RAG chunks, which the detail
#: file records as input properties
ROWS_OUT_SPANS = {
    *(name for name, fields in SPAN_METRICS.items() if "rows_out" in fields),
    "training_data._featured_survivors",
    "rag_index.hash_embed_chunks",
}

PASS_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "session.gc_ms": "ms",
    "session.peak_heap_mb": "MB",
    "session.warm_pass_s": "s",
    "trace_overhead_s": "s",
    "trace.top_level_share": "ratio",
}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    names = {}
    for span, fields in SPAN_METRICS.items():
        for f in fields:
            names[f"{span}.{f}"] = UNITS[f]
    names["dedup.pair_yield"] = "ratio"
    for t in SAVED_TABLES:
        names[f"writers.save_table.{t}.self_s"] = "s"
    for f, unit in (("jobs", "count"), ("tasks", "count"), ("files", "count"), ("mb", "MB")):
        names[f"writers.save_table.{f}"] = unit
    names["query.build_s"] = "s"
    for key in WarehouseQuery.query_keys():
        names[f"query.{key}.exec_s"] = "s"
    names["query.jobs"] = "count"
    names.update(PASS_METRICS)
    return names


def layer_metrics(rec: dict) -> dict[str, tuple[float, str]]:
    """(value, unit) of every per-layer metric, from a traced run
    record of ``run.measure``."""
    tr = rec["tracer"]
    spans = tr.records()
    selfs = self_times(spans)
    units = metric_names()
    vals = dict.fromkeys(units, 0)

    def add(name, v):
        if name in vals:
            vals[name] += v

    for s in spans:
        name = s["name"]
        for f in SPAN_METRICS.get(name, ()):
            add(f"{name}.{f}", selfs[s["id"]] if f == "self_s" else s.get(f, 0))
        if name == "writers.save_table":
            add(f"writers.save_table.{s['table']}.self_s", selfs[s["id"]])
            add("writers.save_table.jobs", s["jobs"])
            add("writers.save_table.tasks", s["tasks"])
            if os.path.isdir(s["path"]):
                files, size = parquet_stats(s["path"])
                add("writers.save_table.files", files)
                add("writers.save_table.mb", size / 1e6)
        elif name == "query.build":
            add("query.build_s", selfs[s["id"]])
        elif name.startswith("query."):
            add(f"{name}.exec_s", selfs[s["id"]])
            add("query.jobs", s["jobs"])
    cand = vals["dedup.lsh_candidate_pairs.rows_out"]
    vals["dedup.pair_yield"] = vals["dedup.minhash_dedup_pairs.rows_out"] / cand if cand else 0

    # the warm untraced pass describes the program as it runs, and is
    # the base the traced pass is compared with
    warm = rec["warm"]
    vals["spark.jobs"] = warm["jobs"]
    vals["spark.stages"] = warm["stages"]
    vals["spark.tasks"] = warm["tasks"]
    vals["spark.failed_tasks"] = warm["failed_tasks"]
    vals["session.gc_ms"] = warm["gc_ms"]
    vals["session.peak_heap_mb"] = warm["peak_heap_mb"]
    vals["session.warm_pass_s"] = warm["wall_s"]
    vals["trace_overhead_s"] = tr.pass_wall - warm["wall_s"]
    top = sum(s["end"] - s["start"] for s in spans if s["phase"] == "pass" and s["parent"] is None)
    vals["trace.top_level_share"] = top / tr.pass_wall
    return {k: (vals[k], units[k]) for k in units}
