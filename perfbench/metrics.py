"""Metric definitions: the single source of the names in BENCHMARK.json.

End-to-end metrics are reported by every workload, measured with tracing
off. What "operation" and "item" mean depends on the workload:

============  ==========================  =============================
workload      operation (``op_p50_s``)    item (``throughput_per_s``)
============  ==========================  =============================
build         one ``run_pipeline`` call   a page materialized into the
              over 1000 pages             five graph tables
query         one query execution: built  one query execution
              on the driver, run into
              ``noop``
============  ==========================  =============================

``throughput_per_s`` is items over the summed latency of the timed
operations. A run repeats its step for ``--seconds`` and at least
``min_steps`` times: a build step is one operation and a run makes at least
two; a query step is a pass over the 16 headline queries in
``bench.HEADLINE`` order, so ``op_p50_s`` is the median of 16 or more
executions of the same mix.

``setup_s`` is session start, plus the median of three preparations of the
inputs (made beforehand, untimed, then read), plus one untimed warm-up: a
pipeline run over the build corpus (build), or one collected and
oracle-checked execution of every query (query). ``peak_rss_nonheap_mb``
is the peak summed RSS of the driver Python process, the JVM and the Python
workers, sampled from ``/proc`` every 0.25 s, minus the JVM heap: the heap
is fixed at ``run.HEAP_MB`` and touched at start, so it is resident in full
all along. The figure moves with the Python processes' memory and the
JVM's memory outside its heap (metaspace, code cache, thread stacks,
direct buffers), not with GC heap sizing; without the fixed heap the peak
RSS spread 6-23% between runs on a shared 4-core, 15 GB host, almost all of
it in the JVM's heap. Memory
pressure inside the heap shows as ``pipeline.run.spill_bytes`` and
``pipeline.run.gc_s`` in the traced run.

Per-layer metrics come from a separate traced run (``--trace 1``). A layer
that a workload does not call reports 0 there; ``per_layer()`` names, for
each per-layer metric, the end-to-end metric and workload it should move.

The ``#`` summary line before the result carries the workload-specific
figures with their sample counts: ``pages_per_s``, ``triples_per_s``, P/R
and the number of runs (build); ``query_pass_s``, ``query_p50_s`` (the
same figure as ``op_p50_s``) and the numbers of passes and executions
(query); the parts of ``setup_s``; the time of the untimed checks after
the timed loop (``finish_s``); and the share of CPU time stolen by
co-tenants while timing. ``query_p90_s`` would need 100 executions in a run
(seven passes), which does not fit the benchmark's time.

``bench.py``'s ``headline_queries_total`` is succeeded by ``query_pass_s``.
The 1->4-core scaling gate stays in ``bench.py``: on a 4-core shared host
its two legs contend with each other, so it cannot be measured within this
benchmark's bounds.
"""

from __future__ import annotations

END_TO_END = {
    # name: (unit, better, bound)
    "setup_s": ("s", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "peak_rss_nonheap_mb": ("MB", "lower", 0.1),
}

PIPELINE_STAGES = (
    "extract", "mentions", "canonical", "triples",
    "graph_nodes", "graph_identifiers", "graph_facts", "graph_sources", "graph_edges",
)
SPAN_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_skew")


def _unit(name: str) -> str:
    if name.startswith("trace.overhead.") or name.endswith("task_skew"):
        return "ratio"
    if name.endswith("_per_page"):
        return "bytes/page"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", "_s_per_batch")):
        return "s"
    return "count"


def per_layer(headline: list[str]) -> dict[str, str]:
    """Per-layer metric name -> what it should move (metric on workload)."""
    extract_moves = "throughput_per_s, op_p50_s on build; nothing on query"
    m: dict[str, str] = {}
    for k in ("html_s", "mentions_s", "triples_s", "mentions_out", "triples_out"):
        m[f"extraction.{k}"] = extract_moves
    for st in PIPELINE_STAGES:
        moves = "throughput_per_s, op_p50_s on build"
        if st == "canonical" or st.startswith("graph_"):
            moves += "; also streaming.assimilate_batch_s (shared canonical_mapping / build_graph_tables)"
        m[f"pipeline.{st}_s"] = moves
        m[f"pipeline.{st}_rows"] = moves
    for k in SPAN_COUNTERS:
        m[f"pipeline.run.{k}"] = "throughput_per_s, op_p50_s on build"
    m["pipeline.bytes_written_per_page"] = "throughput_per_s on build"
    m["pipeline.wall_s"] = "op_p50_s on build (the timed wall next to the stage union)"
    m["pipeline.stage_union_s"] = "op_p50_s on build (wall minus union = time no stage covers)"
    for q in headline:
        for k in ("build_s", "exec_s", "jobs", "shuffle_write_bytes"):
            m[f"entry.{q}.{k}"] = "op_p50_s, throughput_per_s on query"
    for k in (
        "assimilate_batch_s", "jobs_per_batch", "executor_cpu_s_per_batch",
        "shuffle_write_bytes_per_batch", "rows_appended_per_batch",
        "replay_rows_appended", "bytes_written_per_page",
    ):
        m[f"streaming.{k}"] = "no end-to-end metric: measured in build's traced run only"
    for k in ("s", "jobs", "rows"):
        m[f"graph.lookup_{k}"] = "no end-to-end metric (recall runs outside the timed operation); compare entry.kg_recall_lookup.* on query"
    m["trace.spans"] = "none: spans recorded by the traced run"
    for k in ("throughput_per_s", "op_p50_s"):
        m[f"trace.overhead.{k}"] = f"none: traced {k} over the kept untraced result (run.py), minus 1"
    return m


def per_layer_units(headline: list[str]) -> dict[str, tuple[str, str]]:
    """Per-layer metric name -> (unit, better)."""
    out = {}
    for name in per_layer(headline):
        unit = _unit(name)
        better = "higher" if name.endswith(("_out", "_rows")) else "lower"
        out[name] = (unit, better)
    return out
