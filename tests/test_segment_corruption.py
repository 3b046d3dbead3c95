"""Corruption fuzz over a whole written segment: a truncated or
bit-flipped smoosh file must fail as DruidFormatError or still read back
with the source's schema and row count — never any other exception.

Pure Python (no Spark session).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from druid_datafusion_bridge_spark.sources import druid_format as fmt
from druid_datafusion_bridge_spark.sources.segment import DruidSegment, write_segment

ROWS = 400


@pytest.fixture(scope="module")
def segment(tmp_path_factory):
    """One small segment with every column layout write_segment emits."""
    rng = np.random.default_rng(7)
    channels = ["#en", "#fr", "#de", None, ""]
    tags = [["a", "b"], [], None, ["c"], ["b", "b", "d"]]
    t = pa.table(
        {
            "__time": pa.array(
                1_442_016_000_000 + np.sort(rng.integers(0, 86_400_000, ROWS)),
                pa.timestamp("ms"),
            ),
            "channel": pa.array([channels[i % 5] for i in range(ROWS)]),
            "tags": pa.array(
                [tags[i % 5] for i in range(ROWS)], pa.list_(pa.string())
            ),
            "added": pa.array(rng.integers(0, 50, ROWS), pa.int64()),
            "score": pa.array(rng.normal(size=ROWS), pa.float64()),
            "ratio": pa.array(rng.random(ROWS), pa.float32()),
            "sketch": pa.array(
                [bytes([i % 7]) * (i % 5) for i in range(ROWS)], pa.binary()
            ),
        }
    )
    path = str(tmp_path_factory.mktemp("corrupt") / "seg")
    write_segment(t, path)
    source = _read(path)
    return path, source.schema, source.num_rows


def _read(path: str) -> pa.RecordBatch:
    seg = DruidSegment(path)
    try:
        return seg.read_batch()
    finally:
        seg.close()


def _corrupt(path: str, data: st.DataObject) -> None:
    name = data.draw(st.sampled_from(["00000.smoosh", "meta.smoosh"]), "file")
    target = os.path.join(path, name)
    with open(target, "rb") as f:
        raw = bytearray(f.read())
    if data.draw(st.booleans(), "truncate"):
        del raw[data.draw(st.integers(0, len(raw) - 1), "keep") :]
    else:
        for _ in range(data.draw(st.integers(1, 4), "flips")):
            pos = data.draw(st.integers(0, len(raw) - 1), "pos")
            raw[pos] ^= 1 << data.draw(st.integers(0, 7), "bit")
    with open(target, "wb") as f:
        f.write(raw)


@given(data=st.data())
@settings(max_examples=100, deadline=None)
def test_corrupt_segment_raises_druid_format_error(segment, data):
    source_dir, schema, num_rows = segment
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "seg")
        shutil.copytree(source_dir, path)
        _corrupt(path, data)
        try:
            batch = _read(path)
        except fmt.DruidFormatError:
            return
    assert batch.schema == schema
    assert batch.num_rows == num_rows


def _copy(segment, tmp_path) -> str:
    path = str(tmp_path / "seg")
    shutil.copytree(segment[0], path)
    return path


@pytest.mark.parametrize(
    "meta",
    [b"v1,100,\xff\n", b"v1,100,one\n", b"v1,100,1\nindex.drd,0,0,x\n"],
    ids=["not-utf8", "bad-header-int", "bad-entry-int"],
)
def test_bad_meta_smoosh_raises(segment, tmp_path, meta):
    path = _copy(segment, tmp_path)
    with open(os.path.join(path, "meta.smoosh"), "wb") as f:
        f.write(meta)
    with pytest.raises(fmt.DruidFormatError):
        _read(path)


def test_truncated_column_raises(segment, tmp_path):
    # every column file cut just past its JSON header
    path = _copy(segment, tmp_path)
    rd = fmt.SmooshReader(path)
    try:
        cut = {
            name: start + fmt.parse_column_header(rd.map_file(name))[1] + 2
            for name, (_, start, _) in rd.entries.items()
            if name in segment[1].names
        }
        lines = [f"v1,{fmt.MAX_CHUNK_SIZE},{rd.num_chunks}"] + [
            f"{name},{chunk},{start},{cut.get(name, end)}"
            for name, (chunk, start, end) in rd.entries.items()
        ]
    finally:
        rd.close()
    with open(os.path.join(path, "meta.smoosh"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    seg = DruidSegment(path)
    try:
        for name in cut:
            with pytest.raises(fmt.DruidFormatError):
                seg.read_column(name)
    finally:
        seg.close()


def test_column_header_not_json_raises():
    with pytest.raises(fmt.DruidFormatError):
        fmt.parse_column_header(b"\x00\x00\x00\x03{x}")


def test_string_id_outside_dictionary_raises(tmp_path):
    path = str(tmp_path / "seg")
    long_desc = {"valueType": "LONG", "hasMultipleValues": False,
                 "parts": [{"type": "longV2"}]}
    str_desc = {"valueType": "STRING", "hasMultipleValues": False,
                "parts": [{"type": "stringDictionary"}]}
    ids = np.array([0, 1, 5], np.uint32)
    fmt.write_smoosh(path, {
        "index.drd": fmt.SegmentMetadata(
            ["__time", "channel"], ["channel"], 0, 1).to_bytes(),
        "__time": fmt.build_column(long_desc, fmt.write_compressed_longs([0, 0, 0])),
        "channel": fmt.build_column(
            str_desc, fmt.write_string_column_v2(["a", "b"], ids)),
    })
    with open(os.path.join(path, "version.bin"), "wb") as f:
        f.write(fmt.write_version())
    with pytest.raises(fmt.DruidFormatError):
        _read(path)
