"""Per-layer metrics of the traced pass.

``install`` wraps the package's layer entry points for one pass;
``metrics`` folds the recorded spans, the event log and the store's files
on disk into the per-layer metrics named in BENCHMARK.json. Every metric
is reported for every workload; a layer the workload does not exercise
reads 0.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import workloads as W

MB = 1 << 20


class Probe:
    """What the wrappers learn during the traced pass, beyond spans."""

    def __init__(self):
        self.parse_s: dict[int, float] = {}   # id(frame) -> forced parse
        self.rows = 0
        self.input_bytes = 0
        self.write_spans: list[tuple[object, int]] = []  # (span, id(df))
        self.merges: list[tuple[object, list[int], dict]] = []


def install(tracer, probe: Probe, spark) -> None:
    from tally_database_loader_spark.operators import incremental
    from tally_database_loader_spark.sources import tally_xml

    def parse(orig):
        def wrapper(spark, path, spec):
            with tracer.span("sources.parse", table=spec.name) as s:
                df = orig(spark, path, spec)
                df.write.format("noop").mode("overwrite").save()
            probe.parse_s[id(df)] = s.seconds
            probe.input_bytes += os.path.getsize(path)
            with tracer.span("trace.count"):
                probe.rows += df.count()
            return df
        return wrapper

    def write(orig):
        def wrapper(self, df, table):
            with tracer.span("store.write", table=table) as s:
                orig(self, df, table)
            probe.write_spans.append((s, id(df)))
        return wrapper

    def read(orig):
        def wrapper(self, spark, table, version=None):
            df = orig(self, spark, table, version)
            df._perfbench_store_read = True
            return df
        return wrapper

    def count(orig):
        def wrapper(self):
            if getattr(self, "_perfbench_store_read", False):
                with tracer.span("load.count"):
                    return orig(self)
            return orig(self)
        return wrapper

    def merge(orig):
        def wrapper(self, frames, *args, **kwargs):
            with tracer.span("incremental.merge") as s:
                stats = orig(self, frames, *args, **kwargs)
            probe.merges.append((s, [id(f) for f in frames.values()], stats))
            return stats
        return wrapper

    tracer.patch(tally_xml, "read_tdl_response", parse)
    tracer.patch(incremental.ParquetStore, "write", write)
    tracer.patch(incremental.ParquetStore, "read", read)
    # the session's concrete DataFrame class, which defines count itself
    tracer.patch(type(spark.range(0)), "count", count)
    tracer.patch(incremental.IncrementalSync, "incremental_sync_frames",
                 merge)


def _named(tracer, prefix: str):
    return [s for s in tracer.spans if s.name.startswith(prefix)]


def _under(tracer, spans) -> set[int]:
    out: set[int] = set()
    for s in spans:
        out |= tracer.descendants(s)
    return out


def metrics(tracer, probe: Probe, log, ctx, new_files: set[str],
            session: dict) -> dict[str, tuple[float, str]]:
    """``log`` is the parsed ``spans.EventLog``; ``new_files`` the files
    the traced pass added to the store."""
    from tally_database_loader_spark.plans.tally_reports import ALL_REPORTS
    m: dict[str, tuple[float, str]] = {}
    parse = _named(tracer, "sources.parse")
    forced = _under(tracer, parse + _named(tracer, "trace.count"))
    m["sources.parse_s"] = (sum(s.seconds for s in parse), "s")
    m["sources.rows"] = (probe.rows, "count")
    m["sources.input_mb"] = (probe.input_bytes / MB, "MB")
    m["sources.scan_tasks"] = (log.sum_tasks(_under(tracer, parse)), "count")

    m["store.write_s"] = (sum(s.seconds - probe.parse_s.get(df, 0.0)
                              for s, df in probe.write_spans), "s")
    data = [f for f in new_files if f.endswith(".parquet")]
    m["store.files_written"] = (len(data), "count")
    m["store.written_mb"] = (sum(os.path.getsize(f) for f in new_files) / MB,
                             "MB")
    counts = _named(tracer, "load.count")
    reports = _named(tracer, "reports.")
    m["store.read_mb"] = (log.sum_bytes(_under(tracer, counts + reports),
                                        "input") / MB, "MB")

    syncs = _named(tracer, "sync")
    m["load.count_s"] = (sum(s.seconds for s in counts), "s")
    m["load.jobs"] = (log.sum_jobs(_under(tracer, syncs) - forced)
                      / max(len(syncs), 1), "count")

    merge_s, merge_ids = 0.0, set()
    deleted = appended = 0
    for s, frame_ids, stats in probe.merges:
        merge_s += s.seconds - sum(probe.parse_s.get(f, 0.0)
                                   for f in frame_ids)
        merge_ids |= tracer.descendants(s)
        deleted += sum(stats.get("deleted", {}).values())
        appended += sum(stats.get("appended", {}).values())
    m["incremental.merge_s"] = (merge_s, "s")
    m["incremental.jobs"] = (log.sum_jobs(merge_ids - forced), "count")
    m["incremental.rows_deleted"] = (deleted, "count")
    m["incremental.rows_appended"] = (appended, "count")
    buckets = {os.path.dirname(f) for f in data if probe.merges}
    m["incremental.buckets_rewritten"] = (len(buckets), "count")
    rewritten_rows = sum(pq.read_metadata(f).num_rows for f in data
                         if os.path.dirname(f) in buckets)
    batch = ctx.notes.get("batch")
    useful = batch.rows(ctx.notes["mutated"]) if probe.merges and batch else 0
    m["incremental.useful_ratio"] = (
        useful / rewritten_rows if rewritten_rows else 0.0, "ratio")

    for name in ALL_REPORTS:
        span = [s for s in reports if s.name == f"reports.{name}"]
        m[f"reports.{name}_s"] = (sum(s.seconds for s in span), "s")
    m["reports.jobs"] = (log.sum_jobs(_under(tracer, reports)), "count")
    m["reports.shuffle_mb"] = (log.sum_bytes(_under(tracer, reports),
                                             "shuffle_write") / MB, "MB")

    def plan(name):
        span = [s for s in tracer.spans if s.name == f"plan.{name}"]
        kids = [c for c in tracer.spans if span and c.parent == span[0].id]
        build = [c for c in kids if c.name == "build"]
        run = [c for c in kids if c.name == "exec"]
        return span, build, run

    build_ids = set()
    for name, short in W.HIERARCHY_PLANS.items():
        span, build, _ = plan(name)
        m[f"hierarchy.{short}_s"] = (sum(s.seconds for s in span), "s")
        build_ids |= _under(tracer, build)
    m["hierarchy.build_jobs"] = (log.sum_jobs(build_ids), "count")
    build_ids = set()
    for name in W.LLM_PLANS:
        _, build, run = plan(name)
        m[f"llm.{name}_build_s"] = (sum(s.seconds for s in build), "s")
        m[f"llm.{name}_exec_s"] = (sum(s.seconds for s in run), "s")
        build_ids |= _under(tracer, build)
    m["llm.build_jobs"] = (log.sum_jobs(build_ids), "count")

    m["session.peak_rss_mb"] = (session["peak_rss_mb"], "MB")
    m["session.gc_s"] = (session["gc_s"], "s")
    m["session.spill_mb"] = (log.total_bytes("spill") / MB, "MB")
    return m
