"""Structured Streaming surface: file-source → windowed tile counts →
memory sink, deterministic via availableNow trigger."""

import os

import pyspark.sql.functions as F

from osm_pbf2json_spark.operators.spatial import pip_join_broadcast
from osm_pbf2json_spark.streaming.tiles_stream import streaming_tile_counts


def test_streaming_tile_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [
            ("2024-01-01 00:00:10", 13.40, 52.50),
            ("2024-01-01 00:00:20", 13.40, 52.50),
            ("2024-01-01 00:01:30", 13.40, 52.50),
            ("2024-01-01 00:00:40", -73.9, 40.7),
        ],
        "ts_s string, lon double, lat double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "lon", "lat")
    batch.write.parquet(src, mode="overwrite")

    stream = spark.readStream.schema("ts timestamp, lon double, lat double").parquet(src)
    counts = streaming_tile_counts(stream, res=9, window="1 minute")
    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("append" if False else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from tile_counts").collect()
    # berlin tile: 2 events in minute 0, 1 in minute 1; nyc tile: 1 event
    by_key = {(r["window_start"].minute, r["tile"]): r["n_events"] for r in rows}
    tiles = {r["tile"] for r in rows}
    assert len(tiles) == 2
    counts_sorted = sorted(by_key.values())
    assert counts_sorted == [1, 1, 2]


def test_streaming_pip_flags(spark, tmp_path):
    """The batch broadcast PIP kernel annotates a streaming frame as is."""
    src = str(tmp_path / "pipsrc")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 50.0, 50.0)], "id long, lon double, lat double"
    ).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema("id long, lon double, lat double").parquet(src)
    square = {"key": "A", "polygons": [[[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]]]}
    flagged = pip_join_broadcast(stream, [square], out_col="polygon_key")
    q = (
        flagged.writeStream.format("memory")
        .queryName("pip_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r["polygon_key"] for r in spark.sql("select * from pip_flags").collect()}
    assert got == {1: "A", 2: None}


def test_pbf_unsupported_compression_raises(tmp_path):
    """A Blob carrying an lzma/lz4/zstd payload raises instead of being
    silently skipped (silent entity loss on files from other writers)."""
    import struct

    import pytest

    from osm_pbf2json_spark.sources.pbf import decode_pbf, scan_blob_index

    def field(fnum, wire, payload):
        key = (fnum << 3) | wire
        if wire == 2:
            out = bytes([key])
            n = len(payload)
            while True:
                b = n & 0x7F
                n >>= 7
                out += bytes([b | (0x80 if n else 0)])
                if not n:
                    break
            return out + payload
        raise AssertionError

    # Blob with field 7 (zstd_data) — decoder must refuse loudly
    blob = field(7, 2, b"\x28\xb5\x2f\xfd not-really-zstd")
    header = field(1, 2, b"OSMData") + field(3, 2, b"")[:0]
    # BlobHeader: type=OSMData (field 1), datasize (field 3, varint)
    hdr = field(1, 2, b"OSMData") + bytes([0x18]) + bytes([len(blob)])
    p = tmp_path / "zstd.pbf"
    p.write_bytes(struct.pack(">i", len(hdr)) + hdr + blob)
    assert scan_blob_index(str(p)) == [(4 + len(hdr), len(blob))]
    with pytest.raises(NotImplementedError, match="zstd"):
        decode_pbf(str(p))


def test_pbf_index_truncation_raises_at_index_time(tmp_path, osm_pbf):
    """A file truncated mid-payload fails in scan_blob_index with the
    offending offset — not later as an opaque decode error in a task."""
    import pytest

    from osm_pbf2json_spark.sources.pbf import scan_blob_index

    path = osm_pbf("alexanderplatz")
    data = open(path, "rb").read()
    full = scan_blob_index(path)
    assert full, "fixture should contain OSMData blobs"
    # cut inside the LAST blob's payload: header still parses, payload short
    off, size = full[-1]
    cut = off + size // 2
    p = tmp_path / "trunc.pbf"
    p.write_bytes(data[:cut])
    with pytest.raises(EOFError, match="truncated"):
        scan_blob_index(str(p))


def test_decode_pbf_truncated_payload_raises_eof(tmp_path):
    """The driver-side decode fails on a file cut inside a zlib blob's
    payload with the same EOFError as the blob index, not a zlib error."""
    import struct
    import zlib

    import pytest

    from osm_pbf2json_spark.sources.pbf import decode_pbf

    def ld(fnum, payload):  # length-delimited field, payload < 128 bytes
        return bytes([(fnum << 3) | 2, len(payload)]) + payload

    # PrimitiveBlock holding only an empty stringtable, zlib-compressed
    blob = ld(3, zlib.compress(ld(1, ld(1, b""))))
    hdr = ld(1, b"OSMData") + bytes([0x18, len(blob)])  # datasize varint
    data = struct.pack(">i", len(hdr)) + hdr + blob
    p = tmp_path / "one_blob.pbf"
    p.write_bytes(data)
    out = decode_pbf(str(p))
    assert (out.nodes, out.ways, out.relations) == ([], [], [])
    p.write_bytes(data[: len(data) - len(blob) // 2])
    with pytest.raises(EOFError, match="truncated"):
        decode_pbf(str(p))


def test_cli_pbf_driver_ship_fallback(spark, osm_pbf):
    """load_pbf_tables(distributed=False) — the remote-master fallback —
    produces the same objects output as the blob-parallel path."""
    from osm_pbf2json_spark.cli import load_pbf_tables
    from osm_pbf2json_spark.operators.objects import objects
    from osm_pbf2json_spark.sinks import objects_json_lines

    path = osm_pbf("alexanderplatz")
    t_dist = load_pbf_tables(spark, path)  # local master → distributed
    t_ship = load_pbf_tables(spark, path, distributed=False)
    a = sorted(r["value"] for r in objects_json_lines(objects(t_dist, "amenity")).collect())
    b = sorted(r["value"] for r in objects_json_lines(objects(t_ship, "amenity")).collect())
    assert a == b and len(a) > 0
