"""Read and ingest fixtures: source parquet tables stored as Druid v9
segments whose LZ4 blocks look like Druid's own output.

The program's segment writer emits literal-only LZ4 blocks (ratio 1),
while segments written by Druid carry real LZ4 matches. Decoding real
LZ4 is the expensive path of the ``druidsegment`` source, so the read
fixtures are built with ``sources.segment.write_segment`` while
``druid_format.compress_block`` is temporarily replaced by pyarrow's
raw-LZ4 block codec. The substitution is in-process only (the Spark
ingest path writes inside Python workers, which it cannot reach) and is
undone before the build returns.

Fixtures are benchmark input, not program work: they are cached under
the work directory, keyed by the source parquet's size and mtime, and
built before any timed or set-up step.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from druid_datafusion_bridge_spark.sources import druid_format as fmt
from druid_datafusion_bridge_spark.sources.datasource import (
    find_segment_dirs,
    load_plan_meta,
)
from druid_datafusion_bridge_spark.sources.segment import DruidSegment, write_segment

TIME = "__time"

# name -> (source table, its time column, segment granularity)
FIXTURES = {
    "lineitem_yearly": ("lineitem", "l_shipdate", "year"),
    "events_daily": ("events", "ts", "day"),
}

_DESCRIPTION = "_FIXTURE.json"


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Size and mtime of the source parquet: a regenerated data
    directory shows up as a rebuilt fixture, never as a speed change."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{table}.parquet:{st.st_size}:{st.st_mtime_ns}"


def source_table(sf_dir: str, name: str) -> pa.Table:
    """The rows a fixture stores: the source table with its time column
    renamed to ``__time`` (epoch-millis precision, as Druid stores it),
    ordered by time the way each segment stores its rows."""
    table, time_col, _ = FIXTURES[name]
    t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    millis = t[time_col].cast(pa.timestamp("ms"), safe=False)
    t = t.drop_columns([time_col]).append_column(TIME, millis)
    return t.sort_by([(TIME, "ascending")])


def buckets(t: pa.Table, unit: str) -> list[tuple[int, pa.Table]]:
    """The table's rows split by time bucket: [(bucket start ms, rows)]."""
    keys = pc.floor_temporal(t[TIME], unit=unit)
    out = []
    for k in pc.unique(keys).to_pylist():
        k_ms = int(pa.scalar(k, pa.timestamp("ms")).cast(pa.int64()).as_py())
        out.append((k_ms, t.filter(pc.equal(keys, pa.scalar(k, keys.type)))))
    return sorted(out, key=lambda kv: kv[0])


class _RealLz4:
    """Swap ``compress_block`` for a real-LZ4 encoder for the duration of
    a ``with`` block, counting raw and compressed LZ4 bytes."""

    def __init__(self) -> None:
        self.codec = pa.Codec("lz4_raw")
        self.raw_bytes = 0
        self.lz4_bytes = 0
        self._orig = fmt.compress_block

    def _compress(self, strategy: int, raw: bytes) -> bytes:
        if strategy != fmt.LZ4:
            return self._orig(strategy, raw)
        out = self.codec.compress(raw, asbytes=True)
        self.raw_bytes += len(raw)
        self.lz4_bytes += len(out)
        return out

    def __enter__(self) -> "_RealLz4":
        fmt.compress_block = self._compress
        return self

    def __exit__(self, *exc) -> None:
        fmt.compress_block = self._orig


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


def _verify(root: str, t: pa.Table, parts: list[tuple[int, pa.Table]]) -> None:
    """Every column of every segment decodes back equal to its source."""
    for (k_ms, part), seg_dir in zip(parts, find_segment_dirs(root)):
        if not seg_dir.endswith(f"segment_{k_ms}_0000"):
            raise RuntimeError(f"fixture layout mismatch at {seg_dir}")
        seg = DruidSegment(seg_dir)
        try:
            got = seg.read_batch(t.column_names)
            for name in t.column_names:
                col = got.column(got.schema.get_field_index(name))
                if pa.types.is_dictionary(col.type):
                    col = col.cast(pa.string())
                want = part[name].combine_chunks().cast(col.type)
                if not col.equals(want):
                    raise RuntimeError(
                        f"fixture {root}: column {name} of {seg_dir} does not "
                        "decode back to its source"
                    )
        finally:
            seg.close()


def ensure_fixture(work_dir: str, sf_dir: str, name: str) -> dict:
    """Build (or reuse) one fixture; returns its description."""
    table, _, unit = FIXTURES[name]
    scale = os.path.basename(os.path.normpath(sf_dir))
    root = fixture_root(work_dir, sf_dir, name)
    fingerprint = source_fingerprint(sf_dir, table)
    try:
        with open(os.path.join(root, _DESCRIPTION), encoding="utf-8") as f:
            desc = json.load(f)
        if desc["source_fingerprint"] == fingerprint:
            return desc
    except (OSError, ValueError, KeyError):
        pass

    t = source_table(sf_dir, name)
    parts = buckets(t, unit)
    tmp = root + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with _RealLz4() as lz4:
        for k_ms, part in parts:
            write_segment(part, os.path.join(tmp, f"segment_{k_ms}_0000"))
    _verify(tmp, t, parts)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    # the planning manifest is written on first use; write it now so it
    # is part of the cached fixture rather than of the first request
    load_plan_meta(root, find_segment_dirs(root))
    desc = {
        "name": name,
        "source": f"{scale}/{table}.parquet",
        "source_fingerprint": fingerprint,
        "granularity": unit,
        "segments": len(parts),
        "rows": t.num_rows,
        "rows_per_segment": [p.num_rows for _, p in parts],
        "bytes_on_disk": dir_bytes(root),
        "arrow_bytes": t.nbytes,
        "lz4_block_ratio": round(lz4.raw_bytes / max(lz4.lz4_bytes, 1), 4),
    }
    # the description doubles as the completion marker: written last
    with open(os.path.join(root, _DESCRIPTION), "w", encoding="utf-8") as f:
        json.dump(desc, f)
    return desc


def fixture_root(work_dir: str, sf_dir: str, name: str) -> str:
    scale = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(work_dir, "fixtures", f"{name}-{scale}")
