"""Per-layer metrics of a traced run, folded from its spans and Spark's
event log. Every time and count is per pass of the workload, so it reads
against ``wall_s``; ratios are over the whole traced section.

Layer -> the end-to-end figure it should move (README.md has the full map;
``wall_s`` moves ``wall_unstolen_s`` with it): session -> setup_s;
registry, operators, Spark planning -> wall_s and the query median on
queries_headline; Spark execution -> wall_s on llm_curation and the
backfill; sources.connector, meta, etl -> the three ETL operations.
"""

from __future__ import annotations

import statistics

from .trace import self_time_by_name, spark_counters, sum_attr
from .workloads import META_KEY


def pass_time(sec, unstolen: bool = False) -> float:
    """One pass of the workload: the sum over its operations of their
    median latency (``bench.py``'s total, for the workload's operations),
    as measured or with the host's stolen CPU time taken out."""
    return sum(per_op_medians(sec, unstolen).values())


def per_op_medians(sec, unstolen: bool = False) -> dict[str, float]:
    passes = sec.unstolen if unstolen else sec.passes
    return {op: statistics.median(p[op] for p in passes) for op in passes[0]}


def _durations(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def _count(spans: list[dict], name: str) -> int:
    return sum(1 for s in spans if s["name"] == name)


def per_layer(wl, spans, events, traced, plain, session_build_s, cores, etl_counts):
    """Return ``(metrics, detail)``: ``metrics`` maps a declared per-layer
    metric to ``(value, unit)``; ``detail`` holds the workload-specific
    layer times for the record."""
    n = len(traced.passes)
    selft = self_time_by_name(spans)
    total = _durations(spans)
    spark_c = spark_counters(events, traced.groups, cores)
    build = "operators.build" if wl.kind == "queries" else "etl.transform"
    writes = [s for s in spans if s["name"] == "connector.write_single_object"]
    report_bytes = sum(s["attrs"].get("bytes", 0) for s in writes if s["attrs"]["key"] != META_KEY)
    written = sum(s["attrs"].get("bytes", 0) for s in writes)
    prefixes = _count(spans, "connector.list")
    etl_jobs = sum(sum_attr(spans, f"etl.{p}", "jobs") for p in ("init", "extract", "transform", "load"))
    overhead = pass_time(traced) - pass_time(plain)

    m = {
        "session.build_s": (session_build_s, "s"),
        "operators.build_s": (selft.get(build, 0.0) / n, "s"),
        "operators.build_jobs": (sum_attr(spans, build, "jobs") / n, "count"),
        "registry.load_calls": (_count(spans, "registry.load") / n, "count"),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.{phase}_s"] = (sum_attr(spans, "spark.plan", phase) / n, "s")
    m["spark.exec_s"] = (spark_c["exec_s"] / n, "s")
    for k, unit in (
        ("jobs", "count"),
        ("tasks", "count"),
        ("tasks_failed", "count"),
        ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
        ("executor_run_s", "s"),
        ("executor_cpu_s", "s"),
        ("jvm_gc_s", "s"),
    ):
        m[f"spark.{k}"] = (spark_c[k] / n, unit)
    m["spark.core_busy_ratio"] = (spark_c["core_busy_ratio"], "ratio")
    m["spark.task_skew_max"] = (spark_c["task_skew_max"], "ratio")
    m["connector.prefixes_listed"] = (prefixes / n, "count")
    m["connector.files_found_ratio"] = (
        sum_attr(spans, "connector.list", "files") / prefixes if prefixes else 0.0,
        "ratio",
    )
    m["connector.write_jobs"] = (sum_attr(spans, "connector.write_single_object", "jobs") / n, "count")
    m["connector.bytes_written"] = (written / n, "bytes")
    m["meta.bytes_rewritten"] = (
        sum(s["attrs"].get("bytes", 0) for s in writes if s["attrs"]["key"] == META_KEY) / n,
        "bytes",
    )
    m["etl.spark_jobs"] = (etl_jobs / n, "count")
    m["etl.rows_in"] = (etl_counts.get("rows_in", 0) / n, "count")
    m["etl.report_rows"] = (etl_counts.get("report_rows", 0) / n, "count")
    m["etl.write_amplification"] = (written / report_bytes if report_bytes else 0.0, "ratio")
    m["bench.tracing_overhead_s"] = (overhead, "s")
    m["bench.unaccounted_s"] = (selft.get("op", 0.0) / n, "s")

    layer_s = sum(v for k, v in selft.items() if k != "op") / n
    by_op: dict[str, set[str]] = {}
    for g in traced.groups:
        by_op.setdefault(g.rsplit(":", 1)[1], set()).add(g)
    detail = {
        "traced_passes": n,
        "self_s_per_pass": {k: v / n for k, v in sorted(selft.items())},
        "total_s_per_pass": {k: v / n for k, v in sorted(total.items())},
        "registry.load_s": total.get("registry.load", 0.0) / n,
        "etl.extract_s": total.get("etl.extract", 0.0) / n,
        "etl.transform_s": total.get("etl.transform", 0.0) / n,
        "etl.load_s": total.get("etl.load", 0.0) / n,
        "connector.list_s": total.get("connector.list", 0.0) / n,
        "connector.write_single_object_s": total.get("connector.write_single_object", 0.0) / n,
        "meta.resolve_s": total.get("meta.resolve", 0.0) / n,
        "meta.update_s": total.get("meta.update", 0.0) / n,
        "spark_by_op": {
            op: {k: v / n if k not in ("core_busy_ratio", "task_skew_max") else v
                 for k, v in spark_counters(events, groups, cores).items()}
            for op, groups in sorted(by_op.items())
        },
        "accounting": {
            "wall_s": pass_time(plain),
            "traced_wall_s": pass_time(traced),
            "layers_self_s": layer_s,
            "tracing_overhead_s": overhead,
            "within_overhead": abs(pass_time(plain) - layer_s) <= abs(overhead),
        },
    }
    return m, detail
