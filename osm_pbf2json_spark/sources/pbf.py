"""Pure-stdlib OpenStreetMap PBF decoder (fixture-ingest tool).

The reference delegates `.osm.pbf` decoding to the `osmpbfreader` crate
(call sites `/root/reference/src/lib/mod.rs:131,164,211`). At cluster scale
our engine reads geometries from table columns (see BASELINE.json
``input_hint``); this module exists only to turn the two committed test
fixtures (`/root/reference/tests/data/*.pbf`) into Parquet entity tables
with the engine's canonical schemas:

    nodes:     id BIGINT, lat DOUBLE, lon DOUBLE, tags MAP<STRING,STRING>
    ways:      id BIGINT, refs ARRAY<BIGINT>, tags MAP<STRING,STRING>
    relations: id BIGINT, members ARRAY<STRUCT<mtype,mid,role>>,
               tags MAP<STRING,STRING>

Coordinates reproduce osmpbfreader's fixed-point semantics bit-exactly:
``decimicro = (offset + granularity * raw) / 100`` (nanodegrees / 100,
integer division), then ``degrees = decimicro * 1e-7`` as float64 —
NOTE: a MULTIPLY by the inexact 1e-7, not a divide by 1e7; the two differ
in the last bit and the reference's printed goldens (Readme.md:61-62)
show the multiply — matching ``Node::lon()/lat()`` used at
`/root/reference/src/lib/mod.rs:43`.

Wire format (public spec, https://wiki.openstreetmap.org/wiki/PBF_Format):
repeated [int32-BE len][BlobHeader][Blob]; Blob payloads are raw or
zlib-compressed PrimitiveBlocks with a string table, DenseNodes
(delta-coded ids/coords, 0-delimited key/val pairs), Ways (delta-coded
refs) and Relations (delta-coded member ids).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _iter_fields(buf: bytes):
    """Yield (field_number, wire_type, value) for a protobuf message.

    wire 0 -> varint value, wire 2 -> bytes, wire 5 -> 4 bytes, wire 1 -> 8.
    """
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        fnum, wtype = key >> 3, key & 7
        if wtype == 0:
            val, pos = _read_varint(buf, pos)
        elif wtype == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wtype == 5:
            val = buf[pos : pos + 4]
            pos += 4
        elif wtype == 1:
            val = buf[pos : pos + 8]
            pos += 8
        else:  # pragma: no cover - groups unused in PBF
            raise ValueError(f"unsupported wire type {wtype}")
        yield fnum, wtype, val


def _packed_varints(buf: bytes) -> list[int]:
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        v, pos = _read_varint(buf, pos)
        out.append(v)
    return out


def _packed_sints(buf: bytes) -> list[int]:
    return [_zigzag(v) for v in _packed_varints(buf)]


@dataclass
class PbfData:
    """Decoded entity rows (plain Python, ready for Arrow conversion)."""

    nodes: list[tuple[int, float, float, dict]] = field(default_factory=list)
    ways: list[tuple[int, list[int], dict]] = field(default_factory=list)
    relations: list[tuple[int, list[tuple[str, int, str]], dict]] = field(
        default_factory=list
    )


_MEMBER_TYPES = ("node", "way", "relation")


def _trunc_div100(v: int) -> int:
    """Nanodegrees → decimicro with Rust i64 semantics: division TRUNCATES
    toward zero (osmpbfreader `/ 100`), while Python `//` floors — they
    differ by 1 for negative values not divisible by 100."""
    return v // 100 if v >= 0 else -((-v) // 100)


def _decode_dense(group_buf: bytes, strings: list[str], block: dict, out: PbfData):
    ids = lats = lons = keys_vals = None
    for fnum, _, val in _iter_fields(group_buf):
        if fnum == 1:
            ids = _packed_sints(val)
        elif fnum == 8:
            lats = _packed_sints(val)
        elif fnum == 9:
            lons = _packed_sints(val)
        elif fnum == 10:
            keys_vals = _packed_varints(val)
    if not ids:
        return
    gran = block["granularity"]
    lat_off = block["lat_offset"]
    lon_off = block["lon_offset"]
    cur_id = cur_lat = cur_lon = 0
    kv_pos = 0
    kv = keys_vals or []
    kv_len = len(kv)
    for i in range(len(ids)):
        cur_id += ids[i]
        cur_lat += lats[i]
        cur_lon += lons[i]
        tags: dict = {}
        while kv_pos < kv_len:
            k = kv[kv_pos]
            kv_pos += 1
            if k == 0:
                break
            v = kv[kv_pos]
            kv_pos += 1
            tags[strings[k]] = strings[v]
        # osmpbfreader stores decimicro (1e-7 deg) as i32: nanodegrees / 100.
        # Rust i64 division truncates toward zero; Python // floors, which
        # differs for negative nanodegree values not divisible by 100
        # (southern/western hemisphere with non-default granularity/offset).
        dmlat = _trunc_div100(lat_off + gran * cur_lat)
        dmlon = _trunc_div100(lon_off + gran * cur_lon)
        out.nodes.append((cur_id, dmlat * 1e-7, dmlon * 1e-7, tags))


def _decode_way(way_buf: bytes, strings: list[str], out: PbfData):
    wid = 0
    keys: list[int] = []
    vals: list[int] = []
    refs: list[int] = []
    for fnum, wtype, val in _iter_fields(way_buf):
        if fnum == 1:
            wid = val
        elif fnum == 2:
            keys = _packed_varints(val)
        elif fnum == 3:
            vals = _packed_varints(val)
        elif fnum == 8:
            deltas = _packed_sints(val)
            cur = 0
            for d in deltas:
                cur += d
                refs.append(cur)
    tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
    out.ways.append((wid, refs, tags))


def _decode_relation(rel_buf: bytes, strings: list[str], out: PbfData):
    rid = 0
    keys: list[int] = []
    vals: list[int] = []
    roles: list[int] = []
    memids: list[int] = []
    types: list[int] = []
    for fnum, wtype, val in _iter_fields(rel_buf):
        if fnum == 1:
            rid = val
        elif fnum == 2:
            keys = _packed_varints(val)
        elif fnum == 3:
            vals = _packed_varints(val)
        elif fnum == 8:
            roles = _packed_varints(val)
        elif fnum == 9:
            deltas = _packed_sints(val)
            cur = 0
            for d in deltas:
                cur += d
                memids.append(cur)
        elif fnum == 10:
            types = _packed_varints(val)
    tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
    members = [
        (_MEMBER_TYPES[t], m, strings[r]) for r, m, t in zip(roles, memids, types)
    ]
    out.relations.append((rid, members, tags))


def _decode_primitive_block(buf: bytes, out: PbfData):
    strings: list[str] = []
    groups: list[bytes] = []
    block = {"granularity": 100, "lat_offset": 0, "lon_offset": 0}
    for fnum, _, val in _iter_fields(buf):
        if fnum == 1:  # stringtable
            for sf, _, sval in _iter_fields(val):
                if sf == 1:
                    strings.append(sval.decode("utf-8"))
        elif fnum == 2:
            groups.append(val)
        elif fnum == 17:
            block["granularity"] = val
        elif fnum == 19:
            block["lat_offset"] = val
        elif fnum == 20:
            block["lon_offset"] = val
    for group_buf in groups:
        for fnum, _, val in _iter_fields(group_buf):
            if fnum == 2:  # DenseNodes
                _decode_dense(val, strings, block, out)
            elif fnum == 3:  # Way
                _decode_way(val, strings, out)
            elif fnum == 4:  # Relation
                _decode_relation(val, strings, out)
            # fnum == 1 (plain Nodes) unused by modern encoders / fixtures


#: Blob compression fields beyond raw(1)/zlib(3) that the OSM
#: fileformat.proto defines but this decoder does not implement
#: (fileformat.proto: lzma_data=4, OBSOLETE_bzip2_data=5, lz4_data=6,
#: zstd_data=7). Encountering one raises instead of silently dropping
#: the blob's entities.
_UNSUPPORTED_BLOB_FIELDS = {4: "lzma", 5: "bzip2", 6: "lz4", 7: "zstd"}


def _blob_payload(blob: bytes) -> bytes | None:
    """Decompressed OSMData payload of a Blob message, or None for an
    empty blob. Raises NotImplementedError on lzma/bzip2/lz4/zstd
    payloads — loud failure beats silent entity loss on files produced
    by writers using those codecs."""
    raw = None
    for fnum, _, val in _iter_fields(blob):
        if fnum == 1:
            raw = val
        elif fnum == 3:
            raw = zlib.decompress(val)
        elif fnum in _UNSUPPORTED_BLOB_FIELDS:
            raise NotImplementedError(
                f"OSM PBF blob uses {_UNSUPPORTED_BLOB_FIELDS[fnum]} "
                "compression (Blob field "
                f"{fnum}); only raw and zlib payloads are supported"
            )
    return raw


def decode_blobs(path: str, blobs) -> PbfData:
    """Decode the OSMData blobs at the (offset, size) pairs `blobs` of
    `path` (entries of `scan_blob_index`) into entity rows."""
    out = PbfData()
    with open(path, "rb") as f:
        for off, size in blobs:
            f.seek(int(off))
            raw = _blob_payload(f.read(int(size)))
            if raw is not None:
                _decode_primitive_block(raw, out)
    return out


def decode_pbf(path: str) -> PbfData:
    """Decode a .osm.pbf file into entity rows."""
    return decode_blobs(path, scan_blob_index(path))


def to_arrow(data: PbfData):
    """Convert decoded rows to three pyarrow Tables (nodes, ways, relations)."""
    import pyarrow as pa

    tags_t = pa.map_(pa.string(), pa.string())
    nodes = pa.table(
        {
            "id": pa.array([r[0] for r in data.nodes], pa.int64()),
            "lat": pa.array([r[1] for r in data.nodes], pa.float64()),
            "lon": pa.array([r[2] for r in data.nodes], pa.float64()),
            "tags": pa.array([list(r[3].items()) for r in data.nodes], tags_t),
        }
    )
    ways = pa.table(
        {
            "id": pa.array([r[0] for r in data.ways], pa.int64()),
            "refs": pa.array([r[1] for r in data.ways], pa.list_(pa.int64())),
            "tags": pa.array([list(r[2].items()) for r in data.ways], tags_t),
        }
    )
    member_t = pa.struct(
        [("mtype", pa.string()), ("mid", pa.int64()), ("role", pa.string())]
    )
    relations = pa.table(
        {
            "id": pa.array([r[0] for r in data.relations], pa.int64()),
            "members": pa.array(
                [
                    [{"mtype": m[0], "mid": m[1], "role": m[2]} for m in r[1]]
                    for r in data.relations
                ],
                pa.list_(member_t),
            ),
            "tags": pa.array([list(r[2].items()) for r in data.relations], tags_t),
        }
    )
    return nodes, ways, relations


def scan_blob_index(path: str) -> list[tuple[int, int]]:
    """(offset, size) of every OSMData blob — the cheap sequential pass
    that enables blob-PARALLEL decode (the reference decodes blobs on a
    rayon pool, mod.rs:211-215; we decode them on executors).

    Reads only the 4-byte length + BlobHeader per blob and SEEKS over
    the payload: O(#blobs) tiny reads, no decompression — a planet file
    (~100k blobs) indexes in well under a second."""
    idx = []
    with open(path, "rb") as f:
        fsize = os.fstat(f.fileno()).st_size
        while True:
            b = f.read(4)
            if len(b) < 4:
                break
            (hdr_len,) = struct.unpack(">i", b)
            header = f.read(hdr_len)
            btype, datasize = b"", 0
            for fnum, _, val in _iter_fields(header):
                if fnum == 1:
                    btype = val
                elif fnum == 3:
                    datasize = val
            # verify the payload actually exists BEFORE indexing it:
            # a file truncated mid-payload (or a BlobHeader missing its
            # datasize) must fail here with the offset, not later as an
            # opaque zlib/varint error inside an executor task
            if datasize <= 0 or f.tell() + datasize > fsize:
                raise EOFError(
                    f"{path}: blob at offset {f.tell()} declares "
                    f"{datasize} payload bytes but file ends at {fsize} "
                    "— truncated or corrupt PBF"
                )
            if btype == b"OSMData":
                idx.append((f.tell(), datasize))
            f.seek(datasize, 1)
    return idx


ENTITY_UNION_SCHEMA = (
    "kind string, id long, lat double, lon double, refs array<long>, "
    "members array<struct<mtype:string,mid:bigint,role:string>>, "
    "tags map<string,string>"
)


def pbf_entities_distributed(spark, path: str, parallelism: int | None = None):
    """Blob-parallel PBF decode: driver scans the blob index (seek-only),
    executors decode disjoint blob ranges via mapInPandas — the Spark
    analog of the reference's rayon blob pool. Returns one union
    DataFrame (ENTITY_UNION_SCHEMA); `path` must be reachable from every
    executor (shared FS / local mode)."""
    import os

    import pandas as pd

    apath = os.path.abspath(path)
    idx = scan_blob_index(apath)
    par = parallelism or spark.sparkContext.defaultParallelism
    bdf = spark.createDataFrame(idx, "offset long, size long").repartition(
        max(1, min(par, len(idx)))
    )

    def kernel(batches):
        for pdf in batches:
            out = decode_blobs(apath, zip(pdf["offset"], pdf["size"]))
            yield pd.DataFrame(
                {
                    "kind": ["node"] * len(out.nodes)
                    + ["way"] * len(out.ways)
                    + ["relation"] * len(out.relations),
                    "id": [r[0] for r in out.nodes]
                    + [r[0] for r in out.ways]
                    + [r[0] for r in out.relations],
                    "lat": [r[1] for r in out.nodes]
                    + [None] * (len(out.ways) + len(out.relations)),
                    "lon": [r[2] for r in out.nodes]
                    + [None] * (len(out.ways) + len(out.relations)),
                    "refs": [None] * len(out.nodes)
                    + [r[1] for r in out.ways]
                    + [None] * len(out.relations),
                    "members": [None] * (len(out.nodes) + len(out.ways))
                    + [
                        [
                            {"mtype": m[0], "mid": m[1], "role": m[2]}
                            for m in r[1]
                        ]
                        for r in out.relations
                    ],
                    # mapInPandas MapType conversion wants dicts
                    "tags": [r[3] for r in out.nodes]
                    + [r[2] for r in out.ways]
                    + [r[2] for r in out.relations],
                }
            )

    return bdf.mapInPandas(kernel, ENTITY_UNION_SCHEMA)


def load_pbf_distributed(spark, path: str, parallelism: int | None = None):
    """Blob-parallel decode → EntityTables (nodes/ways/relations DFs with
    the engine's canonical schemas), ready for objects()/streets()/
    boundaries(). The union DF is cached so the three per-kind filters
    share one decode pass."""
    import pyspark.sql.functions as F

    from ..operators.closure import EntityTables

    u = pbf_entities_distributed(spark, path, parallelism).cache()
    nodes = u.filter(F.col("kind") == "node").select("id", "lat", "lon", "tags")
    ways = u.filter(F.col("kind") == "way").select("id", "refs", "tags")
    relations = u.filter(F.col("kind") == "relation").select("id", "members", "tags")
    return EntityTables(nodes, ways, relations)


def pbf_to_parquet(pbf_path: str, out_dir: str) -> None:
    """Decode one PBF and write nodes/ways/relations parquet under out_dir."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    nodes, ways, relations = to_arrow(decode_pbf(pbf_path))
    pq.write_table(nodes, os.path.join(out_dir, "nodes.parquet"))
    pq.write_table(ways, os.path.join(out_dir, "ways.parquet"))
    pq.write_table(relations, os.path.join(out_dir, "relations.parquet"))
