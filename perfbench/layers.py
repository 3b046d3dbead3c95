"""Per-layer metrics (layer = module) from a traced run, the host
description, and the wrappers that time each module's public calls.

Every per-layer metric is reported on every workload; a layer the
workload never calls reports 0. ``PER_LAYER`` names, for each metric,
the end-to-end metric and the workload it should move (segment_scan and
segment_ingest are run by hand; the traced broker_serve run measures
their layers too: its requests decode segments and it probes one ingest).
"""

from __future__ import annotations

import os
import platform
import statistics
import sys

from bench import HEADLINE

from tracing import Tracer, median_or_zero

# name -> (unit, better, end-to-end metric it should move, on which workload)
PER_LAYER = {
    "catalog.table_ms": ("ms", "lower", "latency_p50_ms", "tpch_headline"),
    "catalog.build_scan_mirrors_s": ("s", "lower", "setup_s", "tpch_headline"),
    "queries.build_ms": ("ms", "lower", "latency_p50_ms", "tpch_headline"),
    "queries.plan_ms": ("ms", "lower", "latency_p50_ms", "tpch_headline"),
    "queries.exec_ms": ("ms", "lower", "requests_per_s", "tpch_headline"),
    **{
        f"queries.{q}_ms": ("ms", "lower", "requests_per_s", "tpch_headline")
        for q in HEADLINE
    },
    "spark.jobs_per_request": ("count", "lower", "latency_p50_ms", "all"),
    "spark.tasks_per_request": ("count", "lower", "latency_p50_ms", "all"),
    "druid_format.lz4_decode_mb_per_s": ("MB/s", "higher", "rows_per_s",
                                         "segment_scan"),
    "druid_format.blocks_decoded": ("count", "lower", "rows_per_s", "segment_scan"),
    "druid_format.bytes_decompressed": ("bytes", "lower", "rows_per_s",
                                        "segment_scan"),
    "druid_format.string_decode_ms": ("ms", "lower", "latency_p50_ms",
                                      "segment_scan"),
    "druid_format.lz4_encode_mb_per_s": ("MB/s", "higher", "rows_per_s",
                                         "segment_ingest"),
    "segment.open_ms": ("ms", "lower", "latency_p50_ms", "broker_serve"),
    "segment.read_batch_ms": ("ms", "lower", "rows_per_s", "segment_scan"),
    "segment.write_segment_ms": ("ms", "lower", "rows_per_s", "segment_ingest"),
    "datasource.schema_ms": ("ms", "lower", "latency_p50_ms", "broker_serve"),
    "datasource.partitions_ms": ("ms", "lower", "latency_p50_ms", "broker_serve"),
    "datasource.read_ms_per_partition": ("ms", "lower", "rows_per_s",
                                         "segment_scan"),
    "datasource.partitions_per_request": ("count", "lower", "latency_p50_ms",
                                          "broker_serve"),
    "datasource.useful_partition_ratio": ("ratio", "higher", "latency_p50_ms",
                                          "broker_serve"),
    "datasource.spark_overhead_ms_per_partition": (
        "ms", "lower", "latency_p50_ms", "broker_serve and segment_scan"),
    "native_query.compile_ms": ("ms", "lower", "latency_p50_ms", "broker_serve"),
    "broker.http_overhead_ms": ("ms", "lower", "latency_p50_ms", "broker_serve"),
    "broker.result_cache_hits": ("count", "lower", "none (a check: 0)",
                                 "broker_serve"),
    "ingest.write_s": ("s", "lower", "rows_per_s", "segment_ingest"),
    "ingest.segments_written": ("count", "lower", "bytes_per_user_byte",
                                "segment_ingest"),
    "ingest.bytes_written": ("bytes", "lower", "bytes_per_user_byte",
                             "segment_ingest"),
    "trace.overhead_ms": ("ms", "lower", "none (traced minus untraced p50)", "all"),
}


def install_wrappers(tracer: Tracer) -> None:
    """Time the public entry points of catalog and the segment modules
    for the traced loop (``tracer.unwrap_all`` restores them)."""
    from druid_datafusion_bridge_spark import catalog
    from druid_datafusion_bridge_spark.sources import datasource, segment
    from druid_datafusion_bridge_spark.sources import druid_format as fmt

    # query modules bind catalog.table at import: wrap every binding
    table = catalog.table
    for name, mod in list(sys.modules.items()):
        if name.startswith("druid_datafusion_bridge_spark") and (
            getattr(mod, "table", None) is table
        ):
            tracer.wrap(mod, "table", "catalog.table")

    def lz4_bytes(args):
        # (strategy, data, out_size) for decode, (strategy, raw) for encode
        if args[0] != fmt.LZ4:
            return 0
        return args[2] if len(args) > 2 else len(args[1])

    tracer.wrap(fmt, "decompress_block", "druid_format.decompress_block", lz4_bytes)
    tracer.wrap(fmt, "compress_block", "druid_format.compress_block", lz4_bytes)
    tracer.wrap(fmt, "read_string_column", "druid_format.read_string_column")
    tracer.wrap(datasource, "DruidSegment", "segment.open")
    tracer.wrap(segment.DruidSegment, "read_batch", "segment.read_batch")
    tracer.wrap(segment, "write_segment", "segment.write_segment")


def _mb_per_s(tracer: Tracer, name: str) -> float:
    spans = [s for s in tracer.spans if s["name"] == name and s.get("bytes")]
    secs = sum(s["end"] - s["start"] for s in spans)
    return sum(s["bytes"] for s in spans) / secs / 1e6 if secs else 0.0


def per_layer(wl, tracer: Tracer, records, traced_records, traced_wall):
    """The per-layer metrics of a traced run, plus details for the line
    that precedes the result."""
    ms = lambda name: median_or_zero(tracer.durations(name)) * 1e3  # noqa: E731
    done = [r for r in traced_records if r["latency"] is not None]
    m: dict[str, float] = {
        "catalog.table_ms": ms("catalog.table"),
        "catalog.build_scan_mirrors_s": median_or_zero(
            tracer.durations("catalog.build_scan_mirrors")),
        "queries.build_ms": ms("queries.build"),
        "queries.plan_ms": ms("queries.plan"),
        "queries.exec_ms": ms("queries.exec"),
    }
    for q in HEADLINE:
        m[f"queries.{q}_ms"] = median_or_zero(
            r["latency"] for r in done if r["req"] == q) * 1e3
    m["spark.jobs_per_request"] = statistics.fmean(
        r["jobs"] for r in done) if done else 0.0
    m["spark.tasks_per_request"] = statistics.fmean(
        r["tasks"] for r in done) if done else 0.0
    m["druid_format.lz4_decode_mb_per_s"] = _mb_per_s(
        tracer, "druid_format.decompress_block")
    m["druid_format.blocks_decoded"] = median_or_zero(
        tracer.per_request("druid_format.decompress_block", lambda s: 1))
    m["druid_format.bytes_decompressed"] = median_or_zero(
        tracer.per_request("druid_format.decompress_block", lambda s: s["bytes"]))
    m["druid_format.string_decode_ms"] = median_or_zero(
        tracer.per_request("druid_format.read_string_column")) * 1e3
    m["druid_format.lz4_encode_mb_per_s"] = _mb_per_s(
        tracer, "druid_format.compress_block")
    m["segment.open_ms"] = ms("segment.open")
    m["segment.read_batch_ms"] = ms("segment.read_batch")
    m["segment.write_segment_ms"] = ms("segment.write_segment")
    m["datasource.schema_ms"] = ms("datasource.schema")
    m["datasource.partitions_ms"] = ms("datasource.partitions")
    m["datasource.read_ms_per_partition"] = ms("datasource.read")
    parts = getattr(wl, "partition_stats", [])
    m["datasource.partitions_per_request"] = median_or_zero(
        p["partitions"] for p in parts)
    m["datasource.useful_partition_ratio"] = median_or_zero(
        p["useful"] for p in parts)
    m["datasource.spark_overhead_ms_per_partition"] = median_or_zero(
        p["overhead_ms"] for p in parts)
    m["native_query.compile_ms"] = ms("native_query.compile")
    # HTTP latency minus the same body compiled and collected in-process
    in_process: dict[str, float] = {}
    for s in tracer.spans:
        if s["name"] in ("native_query.compile", "native_query.collect"):
            in_process[s["request"]] = (
                in_process.get(s["request"], 0.0) + s["end"] - s["start"])
    http = [s for s in tracer.spans if s["name"] == "broker.http"]
    m["broker.http_overhead_ms"] = median_or_zero(
        (s["end"] - s["start"] - in_process[s["request"]]) * 1e3
        for s in http if s["request"] in in_process)
    m["broker.result_cache_hits"] = float(getattr(wl, "cache_hits", 0))
    m["ingest.write_s"] = median_or_zero(tracer.durations("ingest.write"))
    m["ingest.segments_written"] = median_or_zero(
        getattr(wl, "segments_written", []))
    m["ingest.bytes_written"] = median_or_zero(getattr(wl, "bytes_written", []))
    untraced = [r["latency"] for r in records if r["latency"] is not None]
    overhead = (
        (statistics.median(r["latency"] for r in done)
         - statistics.median(untraced)) * 1e3
        if done and untraced else 0.0
    )
    m["trace.overhead_ms"] = overhead
    metrics = {
        name: {"value": round(float(m[name]), 6), "unit": PER_LAYER[name][0]}
        for name in PER_LAYER
    }
    details = {
        "layer_tags": {
            name: {"should_move": moves, "on": where}
            for name, (_, _, moves, where) in PER_LAYER.items()
        },
        "self_ms_per_request": tracer.self_times(),
        "tracing_overhead": {
            "latency_p50_ms": round(overhead, 3),
            "requests_per_s_traced": round(len(done) / traced_wall, 6),
        },
    }
    return metrics, details


def host(spark, root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(root),
    }


def git_commit(root: str) -> str:
    """The checked-out commit, read from .git without running git."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="ascii") as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref), encoding="ascii") as f:
                return f.read().strip()
        except OSError:
            with open(os.path.join(git, "packed-refs"), encoding="ascii") as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return "unknown (not a git checkout)"


def anchors(spark, ctx) -> dict:
    """bench.py's two host anchors: a fixed CPU workload and a fixed raw
    parquet scan, both independent of this repository's code."""
    from bench import _calibration_anchor, _io_anchor

    return {
        "anchor_seconds": _calibration_anchor(spark),
        "io_anchor_seconds": _io_anchor(spark, ctx.segment_sf),
    }
