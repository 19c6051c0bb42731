"""Metric names, units and how each is computed from a finished run.

End-to-end metrics come from an untraced run and are reported by every
workload (what each one means per workload is in README.md). Per-layer
metrics come from a traced run; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from tracing import Tracer, spark_window, union_len
from workloads import batch_windows

UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    "items_per_s": "1/s",
    "ivf_search_p50_ms": "ms",
    "bm25_search_p50_ms": "ms",
    "ivf_recall_at_10": "ratio",
}

#: the package modules a span can belong to, plus the session start and
#: the benchmark's own work ("bench": checks, staging, loop control)
LAYERS = ("session", "embedding", "textstats", "dedup", "dedupidx", "ivf", "inverted",
          "knn", "multi_strategy", "crawl", "fsio", "bench")

#: per-layer metric -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "embedding.rows": ("count", "higher"),
    "embedding.busy_s": ("s", "lower"),
    "embedding.query_embed_ms": ("ms", "lower"),
    "textstats.rows": ("count", "higher"),
    "textstats.busy_s": ("s", "lower"),
    "dedup.busy_s": ("s", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "dedupidx.build_s": ("s", "lower"),
    "dedupidx.filter_s": ("s", "lower"),
    "dedupidx.append_s": ("s", "lower"),
    "dedupidx.files_written": ("count", "lower"),
    "dedupidx.corpus_dup": ("count", "higher"),
    "dedupidx.within_dup": ("count", "higher"),
    "dedupidx.contaminated": ("count", "higher"),
    "dedupidx.accepted": ("count", "higher"),
    "ivf.build_s": ("s", "lower"),
    "ivf.search_s": ("s", "lower"),
    "ivf.search_p90_ms": ("ms", "lower"),
    "ivf.batch_qps": ("1/s", "higher"),
    "ivf.cells_probed": ("count", "lower"),
    "ivf.rows_scanned_per_result": ("ratio", "lower"),
    "ivf.files_read": ("count", "lower"),
    "ivf.files_written": ("count", "lower"),
    "inverted.build_s": ("s", "lower"),
    "inverted.search_s": ("s", "lower"),
    "inverted.buckets_read": ("count", "lower"),
    "inverted.files_read": ("count", "lower"),
    "inverted.append_s": ("s", "lower"),
    "inverted.files_written": ("count", "lower"),
    "knn.exact_s": ("s", "lower"),
    "knn.batch_s": ("s", "lower"),
    "multi_strategy.search_s": ("s", "lower"),
    "multi_strategy.search_p50_ms": ("ms", "lower"),
    "multi_strategy.strategy_queries": ("count", "higher"),
    "crawl.batches": ("count", "higher"),
    "crawl.batch_s": ("s", "lower"),
    "crawl.jobs_per_batch": ("count", "lower"),
    "crawl.driver_gap_s": ("s", "lower"),
    "crawl.other_s": ("s", "lower"),
    "fsio.calls": ("count", "lower"),
    "fsio.s": ("s", "lower"),
    **{f"{layer}.self_s": ("s", "lower") for layer in LAYERS},
    **{f"{layer}.{m}": (u, "lower") for layer in LAYERS if layer != "bench"
       for m, u in (("spark_jobs", "count"), ("spark_gap_s", "s"))},
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.accounted_frac": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
}

FSIO_CALLS = ("exists", "is_dir", "read_text", "write_text", "atomic_write_text", "touch",
              "mkdirs", "delete", "list_names")


def install_patches(tracer: Tracer) -> None:
    """Spans around engine functions the benchmark does not call itself:
    the ones the crawl intake, IVF search and multi-strategy search call
    internally, and every Hadoop-FS helper."""
    import vector_db_example_spark.fsio as fsio
    import vector_db_example_spark.index.inverted as inverted
    import vector_db_example_spark.index.ivf as ivf
    import vector_db_example_spark.operators.multi_strategy as multi_strategy
    import vector_db_example_spark.streaming.crawl as crawl

    for name in FSIO_CALLS:
        tracer.patch(fsio, name, "fsio")
    tracer.patch(ivf, "knn_exact", "knn", "exact")
    tracer.patch(multi_strategy, "knn_batch", "knn", "batch")
    tracer.patch(crawl, "dedup_index_filter_verified_with_rows", "dedupidx", "filter")
    tracer.patch(crawl, "dedup_index_append_rows", "dedupidx", "append")
    tracer.patch(inverted, "append_to_inverted_index", "inverted", "append")


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def end_to_end(ctx, session_s: float, rss_mb: float) -> dict[str, float]:
    """A metric with no sample (its operations all raised) reads 0; such a
    run has failed operations and is not correct."""
    s = ctx.samples
    return {
        "setup_s": session_s + _median(ctx.setup_walls),
        "peak_rss_mb": rss_mb,
        "stored_bytes_per_input_byte": ctx.stored_bytes / ctx.input_bytes,
        "items_per_s": _median(s.get("items_per_s")),
        "ivf_search_p50_ms": 1000 * _median(s.get("ivf_search")),
        "bm25_search_p50_ms": 1000 * _median(s.get("bm25_search")),
        "ivf_recall_at_10": statistics.fmean(s.get("ivf_recall") or [0.0]),
    }


def per_layer(ctx, tracer: Tracer, jobs, session_s: float):
    """(per-layer metrics, full layer table) of a traced run."""
    spans = tracer.spans
    s, c = ctx.samples, ctx.counts

    def wall(layer, *names):
        return sum(sp.wall for sp in tracer.outermost(layer) if not names or sp.name in names)

    def p(key, q=50):
        xs = sorted(s.get(key, []))
        if not xs:
            return 0.0
        return xs[min(len(xs) - 1, int(round(q / 100 * (len(xs) - 1))))]

    table = tracer.layer_table(jobs)
    out = {
        "session.start_s": session_s,
        "embedding.rows": c.get("embedding.rows", 0),
        "embedding.busy_s": wall("embedding", "collection"),
        "embedding.query_embed_ms": 1000 * _median(
            [sp.wall for sp in spans if (sp.layer, sp.name) == ("embedding", "query")]),
        "textstats.rows": c.get("textstats.rows", 0),
        "textstats.busy_s": wall("textstats"),
        "dedup.busy_s": wall("dedup"),
        "dedup.candidate_pairs": _median(s.get("dedup.candidate_pairs", [])),
        "dedup.verified_pairs": _median(s.get("dedup.verified_pairs", [])),
        "dedupidx.build_s": wall("dedupidx", "build"),
        "dedupidx.filter_s": wall("dedupidx", "filter"),
        "dedupidx.append_s": wall("dedupidx", "append"),
        "ivf.build_s": wall("ivf", "build"),
        "ivf.search_s": wall("ivf", "search", "search_batch"),
        "ivf.search_p90_ms": 1000 * p("ivf_search", 90),
        "ivf.batch_qps": _median(s.get("batch_qps", [])),
        "ivf.cells_probed": _median(s.get("ivf.cells_probed", [])),
        "ivf.rows_scanned_per_result": _median(s.get("ivf.rows_scanned_per_result", [])),
        "ivf.files_read": _median(s.get("ivf.files_read", [])),
        "inverted.build_s": wall("inverted", "build"),
        "inverted.search_s": wall("inverted", "search"),
        "inverted.buckets_read": _median(s.get("inverted.buckets_read", [])),
        "inverted.files_read": _median(s.get("inverted.files_read", [])),
        "inverted.append_s": wall("inverted", "append"),
        "knn.exact_s": wall("knn", "exact"),
        "knn.batch_s": wall("knn", "batch"),
        "multi_strategy.search_s": wall("multi_strategy"),
        "multi_strategy.search_p50_ms": 1000 * _median(s.get("hybrid_search")),
        "multi_strategy.strategy_queries": c.get("multi_strategy.strategy_queries", 0),
        "fsio.calls": sum(1 for sp in spans if sp.layer == "fsio"),
        "fsio.s": wall("fsio"),
    }
    cand = out["dedup.candidate_pairs"]
    out["dedup.verify_yield"] = out["dedup.verified_pairs"] / cand if cand else 0.0
    for key in ("dedupidx.files_written", "dedupidx.corpus_dup", "dedupidx.within_dup",
                "dedupidx.contaminated", "dedupidx.accepted", "ivf.files_written",
                "inverted.files_written"):
        out[key] = c.get(key, 0)
    out.update(_crawl(ctx, tracer, jobs))
    for layer in LAYERS:
        row = table.get(layer, {})
        out[f"{layer}.self_s"] = row.get("self_s", 0.0)
        if layer != "bench":  # bench spans enclose every job
            out[f"{layer}.spark_jobs"] = row.get("spark.jobs", 0)
            out[f"{layer}.spark_gap_s"] = row.get("spark.driver_gap_s", 0.0)
    top = [(sp.t0, sp.t1) for sp in spans if sp.parent is None]
    out.update(spark_window(jobs, top))
    out["trace.wall_s"] = sum(b - a for a, b in top)
    out["trace.accounted_frac"] = sum(tracer.self_time(sp) for sp in spans) / out["trace.wall_s"]
    traced = [w for on, w in ctx.mix_walls if on]
    untraced = [w for on, w in ctx.mix_walls if not on]
    out["trace.overhead_s"] = _median(traced) - _median(untraced) if untraced else 0.0
    return out, table


def _crawl(ctx, tracer: Tracer, jobs) -> dict[str, float]:
    """Micro-batch figures for the traced intake rounds: batch windows come
    from the stream's checkpoint logs, jobs from the status store."""
    ingests = [sp for sp in tracer.spans if (sp.layer, sp.name) == ("crawl", "ingest")]
    wins = [w for w in (batch_windows(ctx.ckpt) if ctx.ckpt else [])
            if any(sp.t0 <= w[0] <= sp.t1 for sp in ingests)]
    other = 0.0
    for sp in ingests:
        kids = [tracer.spans[k] for k in sp.children]
        loose = [(j.t0, j.t1) for j in jobs if sp.t0 <= j.t0 <= sp.t1
                 and not any(k.t0 <= j.t0 <= k.t1 for k in kids)]
        other += union_len(loose, sp.t0, sp.t1)
    in_batch = [j for j in jobs if any(a <= j.t0 <= b for a, b in wins)]
    gaps = [(b - a) - union_len([(j.t0, j.t1) for j in jobs if a <= j.t0 <= b], a, b)
            for a, b in wins]
    return {
        "crawl.batches": len(wins),
        "crawl.batch_s": _median([b - a for a, b in wins]),
        "crawl.jobs_per_batch": len(in_batch) / len(wins) if wins else 0.0,
        "crawl.driver_gap_s": _median(gaps),
        "crawl.other_s": other,
    }
